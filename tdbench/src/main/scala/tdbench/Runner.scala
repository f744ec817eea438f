package tdbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload needs from the run. */
final class Env(val spark: SparkSession, val seed: Long, val cores: Int)

/** Result of one operation's untimed finish: rows committed or returned,
  * and the first output mismatch, if any. */
final case class Outcome(rows: Long, error: Option[String])

/** One operation: `run` is timed; `finish` (output checks, bookkeeping,
  * the next input) is not. */
trait Op {
  def kind: String
  def run(): Unit
  def finish(): Outcome
}

/** A workload's state after one set-up. */
trait Instance extends AutoCloseable {
  def clients: Int
  def warmupOps: Int
  /** Untimed preparation of operation `index` for `client`. */
  def next(index: Long, client: Int, traced: Boolean): Op
  def storeRoot: Path
  /** Bytes of the generated rows written to the store so far, written as
    * plain parquet under `scratch`. */
  def userBytes(scratch: Path): Long
  /** Workload-specific per-layer metrics of the traced operations. */
  def layerMetrics(traced: Seq[OpRecord], spans: Seq[Span], counts: Seq[Count]): Map[String, Double]
}

trait Workload {
  def name: String
  def setup(env: Env, dir: Path): Instance
}

final case class OpRecord(index: Long, kind: String, startNs: Long,
    endNs: Long, startMs: Long, endMs: Long, traced: Boolean, rows: Long,
    error: Option[String]) {
  def ms: Double = (endNs - startNs) / 1e6
  def failed: Boolean = error.isDefined
}

final case class Result(attempted: Int, failed: Int, errors: Seq[String],
    endToEnd: Map[String, Double], perLayer: Map[String, Double], notes: Seq[String])

/** Runs one workload: set-up (several times, median reported), warm-up,
  * the timed closed loop, then the reports. */
final class Runner(env: Env, work: Path, seconds: Int, trace: Boolean,
    probe: Option[SparkProbe]) {
  val Setups = 3
  private val phases = ArrayBuffer.empty[(String, Double)]
  private var phaseStart = System.nanoTime()
  private def phase(name: String): Unit = {
    val now = System.nanoTime()
    phases += name -> (now - phaseStart) / 1e9
    phaseStart = now
  }

  def run(wl: Workload): Result = {
    var inst: Instance = null
    val setupS = (1 to Setups).map { i =>
      if (inst != null) inst.close()
      val t0 = System.nanoTime()
      inst = wl.setup(env, work.resolve(s"setup$i"))
      (System.nanoTime() - t0) / 1e9
    }
    (1 until Setups).foreach(i => FileSizes.deleteTree(work.resolve(s"setup$i")))
    phase("set-up")
    try measure(inst, setupS) finally inst.close()
  }

  private def measure(inst: Instance, setups: Seq[Double]): Result = {
    val counter = new AtomicLong(0)
    val warmErrors = ArrayBuffer.empty[String]
    for (_ <- 0 until inst.warmupOps; c <- 0 until inst.clients) {
      val op = inst.next(counter.getAndIncrement(), c, traced = false)
      try { op.run(); op.finish().error.foreach(warmErrors += _) }
      catch { case e: Exception => warmErrors += s"warm-up: $e" }
    }
    phase("warm-up")
    Trace.reset()
    probe.foreach(_.jobStarts.clear())
    probe.foreach(_.tasks.clear())
    val heap = if (trace) Some(new HeapPoller()) else None
    heap.foreach(_.start())

    val records = java.util.Collections.synchronizedList(new java.util.ArrayList[OpRecord]())
    val steal0 = CpuSteal.sample()
    val deadline = System.nanoTime() + seconds * 1000000000L
    val threads = (0 until inst.clients).map { c =>
      new Thread(() => {
        while (System.nanoTime() < deadline) {
          val i = counter.getAndIncrement()
          val traced = trace && i % 2 == 1
          val op = inst.next(i, c, traced)
          val ms0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val err =
            try { Trace.op(i, traced)(op.run()); None }
            catch { case e: Exception => Some(s"${op.kind} #$i failed: $e") }
          val t1 = System.nanoTime()
          val ms1 = System.currentTimeMillis()
          val out =
            if (err.isDefined) Outcome(0, err)
            else try op.finish() catch { case e: Exception => Outcome(0, Some(s"${op.kind} #$i check: $e")) }
          records.add(OpRecord(i, op.kind, t0, t1, ms0, ms1, traced, out.rows, out.error))
        }
      }, s"tdbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val steal = CpuSteal.share(steal0, CpuSteal.sample())
    heap.foreach(_.finish())
    probe.foreach(_.drain(env.spark.sparkContext))
    phase("measure")

    val recs = records.toArray(Array.empty[OpRecord]).toSeq.sortBy(_.index)
    val ok = recs.filterNot(_.failed)
    val lat = ok.map(_.ms)
    val busyS = recs.map(_.ms).sum / 1000 / inst.clients
    val tail = if (lat.isEmpty) Stats.Tail(0, 0, 0, 0) else Stats.tail(lat)
    val userBytes = inst.userBytes(work.resolve("plain"))
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "op_p50_ms" -> Stats.medianOr(lat, 0),
      "op_tail_ms" -> tail.value,
      "ops_per_s" -> ok.length / busyS,
      "rows_per_s" -> ok.map(_.rows).sum / busyS,
      "ok_rate" -> ok.length.toDouble / recs.length,
      "store_bytes_per_user_byte" -> FileSizes.under(inst.storeRoot).toDouble / userBytes)
    val notes = Seq(
      f"op_tail_ms is p${tail.percentile}%.1f of n=${tail.n} with ${tail.beyond} samples beyond" +
        (if (tail.supported(10)) "" else " (fewer than 20 samples: the maximum is reported)"),
      f"error_rate ${1 - e2e("ok_rate")}%.4f (${recs.count(_.failed)} of ${recs.length})",
      setups.map(s => f"$s%.2f").mkString("set-ups (s, in order): ", " ", ""),
      steal.fold("cpu steal during the timed loop: unknown")(x =>
        f"cpu steal during the timed loop: ${100 * x}%.1f%% of all CPU time")) ++
      recs.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
        val ms = rs.filterNot(_.failed).map(_.ms)
        f"kind $k: n=${rs.length} p50=${Stats.medianOr(ms, 0)}%.2f ms" +
          (if (ms.isEmpty) "" else f" min=${ms.min}%.2f max=${ms.max}%.2f") +
          (if (rs.length > 20) "" else ms.map(m => f"$m%.0f").mkString(" (in order: ", " ", ")"))
      }
    val heapSamples = heap.map(_.samples.asScala.toSeq).getOrElse(Nil)
    val layer = if (trace) perLayer(inst, recs, heapSamples) else Map.empty[String, Double]
    val errors = warmErrors.toSeq ++ recs.flatMap(_.error)
    phase("report")
    val timing = phases.map { case (n, s) => f"$n $s%.1f s" }.mkString("phases: ", ", ", "")
    Result(recs.length, recs.count(_.failed) + warmErrors.length, errors, e2e, layer, notes :+ timing)
  }

  private def perLayer(inst: Instance, recs: Seq[OpRecord],
      heapSamples: Seq[(Long, Long)]): Map[String, Double] = {
    val traced = recs.filter(_.traced)
    val tracedIds = traced.map(_.index).toSet
    val spans = Trace.allSpans.filter(s => tracedIds(s.op))
    val counts = Trace.allCounts.filter(c => tracedIds(c.op))
    val n = math.max(1, traced.length).toDouble

    val spanMetrics = Metrics.spanMedians.flatMap { case (metric, name) =>
      val ds = spans.filter(_.name == name).map(_.durNs / 1e6)
      if (ds.isEmpty) None else Some(metric -> Stats.median(ds))
    }
    val self = Trace.layerSelf(spans)
    val selfMetrics = Metrics.Layers.map(l => s"self_ms.$l" -> self.getOrElse(l, 0L) / 1e6 / n)

    val intervals = recs.map(r => (r.startMs, r.endMs)).toIndexedSeq
    val sparkMetrics = probe.toSeq.flatMap { p =>
      def perOp(evs: Seq[(Long, Double)]) = Attribution.spread(intervals, evs).sum / recs.length
      val taskMs = Attribution.spread(intervals, Attribution.tasks(p)(_.runMs.toDouble)).sum
      Seq(
        "spark.jobs_per_op" -> perOp(Attribution.jobs(p)),
        "spark.tasks_per_op" -> perOp(Attribution.tasks(p)(_ => 1.0)),
        "spark.shuffle_bytes_per_op" -> perOp(Attribution.tasks(p)(_.shuffleBytes.toDouble)),
        "spark.gc_ms_per_op" -> perOp(Attribution.tasks(p)(_.gcMs.toDouble)),
        "spark.task_busy_ratio" -> taskMs / (Stats.unionLength(intervals) * env.cores).max(1))
    }
    // the heap poller ran for the whole timed loop; take the highest sample
    // that fell inside an operation
    val heapPeak = "jvm.heap_peak_mb" ->
      Attribution.peak(intervals, heapSamples).foldLeft(0L)(math.max) / 1048576.0
    val overhead = "trace.overhead_ms" -> {
      val (t, u) = recs.filterNot(_.failed).partition(_.traced)
      if (t.isEmpty || u.isEmpty) 0.0 else Stats.median(t.map(_.ms)) - Stats.median(u.map(_.ms))
    }
    val all = (spanMetrics ++ selfMetrics ++ sparkMetrics :+ heapPeak :+ overhead).toMap ++
      inst.layerMetrics(traced, spans, counts)
    Metrics.perLayer.map(n => n -> all.getOrElse(n, 0.0)).toMap
  }
}
