package tdbench

import java.nio.file.{Files, Paths}

/** Benchmark entry point, normally started by `tdbench/run.py` from the
  * repository root, whose BENCHMARK.json defines each metric's unit:
  *
  *   --workload dag_refresh|small_commits|history_reads --seed N
  *   --seconds S --trace 0|1 --work DIR [--traces DIR]
  *
  * Prints human-readable lines, then as its last line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics` — the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`. */
object Main {
  val Workloads: Seq[Workload] = Seq(DagRefresh, SmallCommits, HistoryReads)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val wl = Workloads.find(_.name == need("workload")).getOrElse(
      usage(s"unknown workload '${need("workload")}' (one of ${Workloads.map(_.name).mkString(", ")})"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val defs =
      try Metrics.load(Paths.get("BENCHMARK.json"))
      catch { case e: Exception => usage(s"cannot read the metric definitions: $e") }
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.td.session(s"local[$cores]", cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val probe = if (trace) Some(new SparkProbe) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    val result =
      try new Runner(new Env(spark, seed, cores), work, seconds, trace, probe).run(wl)
      finally spark.stop()
    val stopS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    if (trace) opts.get("traces").foreach(d =>
      Trace.dump(Paths.get(d).resolve(s"${wl.name}-seed$seed.spans.jsonl")))
    report(wl.name, seed, trace, defs, result.copy(notes = result.notes :+
      f"jvm: Spark session ready ${sessionS}%.1f s after start, stopped at ${stopS}%.1f s"))
    sys.exit(0)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"tdbench: $msg")
    sys.exit(2)
  }

  private def report(name: String, seed: Long, trace: Boolean, defs: Metrics.Defs, r: Result): Unit = {
    println(s"workload $name seed $seed trace ${if (trace) 1 else 0}: " +
      s"${r.attempted} operations, ${r.failed} failed")
    r.errors.take(5).foreach(e => println(s"  error: $e"))
    (defs.endToEnd.map(d => (d, r.endToEnd(d.name))) ++
      (if (trace) defs.perLayer.map(d => (d, r.perLayer(d.name))) else Nil)).foreach { case (d, v) =>
      println(f"  ${d.name}%-34s $v%14.4f ${d.unit}")
    }
    r.notes.foreach(n => println(s"  $n"))
    val shown = if (trace) defs.perLayer.map(d => (d, r.perLayer(d.name)))
                else defs.endToEnd.map(d => (d, r.endToEnd(d.name)))
    val metrics = shown.map { case (d, v) =>
      s""""${d.name}":{"value":${json(v)},"unit":"${d.unit}"}"""
    }.mkString(",")
    println(s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":{$metrics}}""")
  }

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
