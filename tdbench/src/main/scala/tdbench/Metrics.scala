package tdbench

import scala.jdk.CollectionConverters._

/** The names of every metric the benchmark computes. Units and directions
  * live only in BENCHMARK.json, which [[Metrics.load]] reads. */
object Metrics {
  /** A metric as BENCHMARK.json defines it. */
  final case class Def(name: String, unit: String)
  final case class Defs(endToEnd: Seq[Def], perLayer: Seq[Def])

  val Functions: Seq[String] = Seq("ingest", "enrich", "curate", "trend", "export")
  val Endpoints: Seq[String] =
    Seq("schema", "data_versions", "sample_head", "sample_back", "sample_range", "download")
  val Layers: Seq[String] = Seq("bench", "server", "flow", "sources", "core", "pipeline", "store")

  val endToEnd: Seq[String] = Seq("setup_s", "op_p50_ms", "op_tail_ms", "ops_per_s", "rows_per_s",
    "ok_rate", "store_bytes_per_user_byte")

  /** Per-layer metrics that are the median duration of one span name. */
  val spanMedians: Seq[(String, String)] =
    Functions.map(f => s"flow.body_ms.$f" -> s"flow.body.$f") ++ Seq(
      "store.stage_write_ms" -> "store.stage_write",
      "store.commit_ms" -> "store.commit",
      "store.resolve_ms" -> "store.resolve",
      "store.scan_plan_ms.single" -> "store.scan_plan.single",
      "store.scan_plan_ms.range" -> "store.scan_plan.range",
      "store.scan_exec_ms.single" -> "store.scan_exec.single",
      "store.scan_exec_ms.range" -> "store.scan_exec.range",
      "store.vacuum_ms" -> "store.vacuum",
      "sources.load_ms" -> "sources.load",
      "sources.sink_write_ms" -> "sources.sink_write") ++
      Endpoints.map(e => s"server.request_ms.$e" -> s"server.$e")

  val perLayer: Seq[String] =
    Functions.map(f => s"flow.run_ms.$f") ++ Functions.map(f => s"flow.body_ms.$f") ++
      Seq("flow.orchestration_ms", "flow.critical_path_ms", "flow.functions_per_trigger") ++
      Functions.map(f => s"store.publish_ms.$f") ++
      Seq("store.stage_write_ms", "store.commit_ms", "store.files_per_version", "store.resolve_ms",
        "store.log_entries", "store.scan_plan_ms.single", "store.scan_plan_ms.range",
        "store.scan_exec_ms.single", "store.scan_exec_ms.range", "store.vacuum_ms",
        "store.versions_pruned", "store.bytes_per_row") ++
      Endpoints.map(e => s"server.request_ms.$e") ++
      Endpoints.map(e => s"server.response_bytes.$e") ++
      Endpoints.map(e => s"server.overhead_ms.$e") ++
      Seq("sources.load_ms", "sources.files_listed", "sources.files_read",
        "sources.watermark_useful_ratio", "sources.sink_write_ms",
        "spark.jobs_per_op", "spark.tasks_per_op", "spark.shuffle_bytes_per_op", "spark.gc_ms_per_op",
        "spark.task_busy_ratio", "jvm.heap_peak_mb", "trace.overhead_ms") ++
      Layers.map(l => s"self_ms.$l")

  /** The metric definitions of `benchmarkJson`; fails unless they name
    * exactly the metrics computed here, in any order. */
  def load(benchmarkJson: java.nio.file.Path): Defs = {
    val json = Json.mapper.readTree(java.nio.file.Files.readString(benchmarkJson))
    def defs(key: String, computed: Seq[String]): Seq[Def] = {
      val ds = json.get(key).elements().asScala.map(n => Def(n.get("name").asText(), n.get("unit").asText())).toSeq
      val names = ds.map(_.name)
      require(names.sorted == computed.sorted,
        s"$benchmarkJson $key: unknown ${names.diff(computed).mkString(",")}; " +
          s"missing ${computed.diff(names).mkString(",")}")
      ds
    }
    Defs(defs("end_to_end", endToEnd), defs("per_layer", perLayer))
  }
}
