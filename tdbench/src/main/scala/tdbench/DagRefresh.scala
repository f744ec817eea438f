package tdbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.core.TableFrame
import graft.flow.{ExecutionLog, FlowContext, FlowEngine}
import graft.pipeline.{Dedup, QualityFilters}
import graft.server.StoreApi
import graft.sources.{FileSink, FileSource}
import graft.store.TableStore
import graft.td

/** `dag_refresh`: one client triggers `ingest` over HTTP; the flow engine
  * runs the 5-function DAG ingest → {enrich, curate} → trend, export. The
  * unit operation is one trigger until `export` has committed. Between
  * triggers (untimed) the next seeded batch lands in the landing directory
  * and the batch before the one just consumed is removed, so every trigger
  * lists the same files: one new batch and one the watermark must skip.
  */
object DagRefresh extends Workload {
  val name = "dag_refresh"
  val Coll = "shop"

  def setup(env: Env, dir: Path): Instance = new DagInstance(env, dir)
}

private final class DagInstance(env: Env, dir: Path) extends Instance {
  import DagRefresh.Coll
  private val spark = env.spark
  private val root = dir.resolve("store")
  private val landing = dir.resolve("landing")
  private val exportDir = dir.resolve("export")
  Files.createDirectories(landing)

  val storeRoot: Path = root
  val clients = 1
  val warmupOps = 3

  private val store = new TableStore(root.toString, spark)
  private val engine = new FlowEngine(store, spark)
  private val customers = DagGen.customers(env.seed)
  private val customersDf = spark.createDataFrame(
    customers.map(c => Row(c.id, c.region, c.segment)).asJava,
    StructType(Seq(StructField("customer_id", IntegerType), StructField("region", StringType),
      StructField("segment", StringType))))
  store.write(Coll, "customers", customersDf)
  register()
  private val api = new StoreApi(store, Some(engine))
  api.start()
  private val http = new Http(api.boundPort)

  private val landed = ArrayBuffer.empty[DagBatch] // every batch dropped so far
  private var journalSeen = 0
  private val runMs = scala.collection.concurrent.TrieMap.empty[Long, Map[String, Double]]
  private val filesPerVersion = ArrayBuffer.empty[Double]
  land(0)

  private def ordersFile(k: Int) = landing.resolve(f"orders_$k%05d.csv")
  private def docsFile(k: Int) = landing.resolve(f"docs_$k%05d.jsonl")

  private def land(k: Int): Unit = {
    val b = DagGen.batch(env.seed, k)
    Files.write(ordersFile(k), b.ordersCsv)
    Files.write(docsFile(k), b.docsJsonl)
    landed += b
    Files.deleteIfExists(ordersFile(k - 2))
    Files.deleteIfExists(docsFile(k - 2))
  }

  private def body(fn: String)(f: => Seq[TableFrame]): Seq[TableFrame] =
    Trace.span(s"flow.body.$fn")(f)

  /** Incremental file load; the watermark of each source rides the flow's
    * offsets under its own key. */
  private def load(ctx: FlowContext, key: String, prefix: String, format: String): TableFrame = {
    val src = FileSource(s"$landing/$prefix*", format)
    val offsets = ctx.offsets.get(key).map(v => Map("last_modified" -> v)).getOrElse(Map.empty)
    val listed = Using.resource(Files.list(landing))(_.iterator().asScala
      .count(_.getFileName.toString.startsWith(prefix)))
    val dfs = Trace.span("sources.load")(src.load(spark, offsets))
    Trace.span("sources.offsets")(src.nextOffsets(dfs)).get("last_modified")
      .foreach(ctx.setOffset(key, _))
    Trace.count("sources.files_listed", listed)
    Trace.count("sources.files_read", dfs.map(_.inputFiles.length).sum)
    if (dfs.isEmpty) throw new IllegalStateException(s"no new $prefix files")
    Trace.span("core.concat")(td.concat(dfs.map(TableFrame.fromRaw(_))))
  }

  private def register(): Unit = {
    engine.publisher("ingest", Coll, Seq("orders", "docs")) { ctx =>
      body("ingest")(Seq(load(ctx, "orders", "orders_", "csv"), load(ctx, "docs", "docs_", "json")))
    }
    engine.transformer("enrich", Coll, Seq("orders", "customers"), Seq("revenue"),
      triggerBy = Some(Seq("orders"))) { ctx =>
      body("enrich")(Seq(Trace.span("core.plan") {
        ctx.input(0).join(ctx.input(1), on = Seq("customer_id"))
          .group_by("region", "segment")
          .agg(td.col("amount_cents").sum.alias("revenue_cents"), td.col("order_id").count.alias("n_orders"))
      }))
    }
    engine.transformer("curate", Coll, Seq("docs"), Seq("corpus")) { ctx =>
      body("curate") {
        val scored = Trace.span("pipeline.quality")(
          QualityFilters.withQualityScore(ctx.input(0).df, "text", Seq("doc_id", "text")))
        val kept = Trace.span("core.filter")(TableFrame.fromDF(scored).filter(td.col("passes_quality")))
        Seq(TableFrame.fromDF(Trace.span("pipeline.dedup")(Dedup.exact(kept.df, "text", "doc_id"))))
      }
    }
    engine.transformer("trend", Coll, Seq("revenue@HEAD~4..HEAD"), Seq("revenue_trend"),
      triggerBy = Some(Seq("revenue"))) { ctx =>
      body("trend")(Seq(Trace.span("core.plan") {
        ctx.input(0).group_by("region")
          .agg(td.col("revenue_cents").sum.alias("revenue_cents"), td.col("n_orders").sum.alias("n_orders"))
      }))
    }
    engine.subscriber("export", Coll, Seq("revenue", "corpus")) { ctx =>
      body("export") {
        Trace.span("sources.sink_write")(FileSink(exportDir.resolve("revenue").toString).write(ctx.input(0).toExport))
        Trace.span("sources.sink_write")(FileSink(exportDir.resolve("corpus").toString).write(ctx.input(1).toExport))
        Nil
      }
    }
  }

  def next(index: Long, client: Int, traced: Boolean): Op = new Op {
    private val batch = landed.last
    private var resp: (Int, Array[Byte]) = _
    val kind = "trigger"
    def run(): Unit = resp = Trace.span("server.execute")(Trace.adoptHere(
      http.post(s"/collections/$Coll/functions/ingest/execute")))
    def finish(): Outcome = {
      val out = check(index, batch, resp, traced)
      land(batch.k + 1)
      out
    }
  }

  private def check(index: Long, b: DagBatch, resp: (Int, Array[Byte]), traced: Boolean): Outcome = {
    val errs = ArrayBuffer.empty[String]
    if (resp._1 != 200) errs += s"execute returned HTTP ${resp._1}: ${new String(resp._2, "UTF-8")}"
    else {
      val ran = Json.mapper.readTree(resp._2).get("data").elements().asScala.map(_.asText()).toSeq
      errs ++= Checks.ranFunctions(Metrics.Functions.toSet, ran)
    }
    val recs = ExecutionLog.read(root.toString).drop(journalSeen)
    journalSeen += recs.length
    recs.filter(_.status != "done").foreach(r => errs += s"${r.function} ${r.status}: ${r.error.getOrElse("")}")
    if (traced) runMs(index) = recs.map(r => r.function -> r.durationMs.toDouble).toMap

    val revenue = DagGen.expectedRevenue(customers, b)
    val corpus = DagGen.expectedCorpus(b)
    // each trigger's revenue version holds one batch, so the trend over
    // revenue@HEAD~4..HEAD covers the last five batches landed
    val trend = DagGen.expectedTrend(customers, landed.takeRight(5).toSeq)
    val heads = Seq("orders" -> b.orders.length.toLong, "docs" -> b.docs.length.toLong,
      "revenue" -> revenue.size.toLong, "corpus" -> corpus.size.toLong,
      "revenue_trend" -> trend.size.toLong).map { case (t, want) =>
      val head = store.versions(Coll, t).last
      errs ++= Checks.versionRows(t, want, head.rows)
      if (traced) filesPerVersion += FileSizes.dataFiles(Path.of(store.pathOf(Coll, t, head)))
      t -> head
    }.toMap
    errs ++= Checks.trend(trend, ParquetRows.read(Path.of(store.pathOf(Coll, "revenue_trend",
      heads("revenue_trend"))), Seq("region", "revenue_cents", "n_orders")).map(r =>
      (r(0).asInstanceOf[String], r(1).asInstanceOf[Long], r(2).asInstanceOf[Long])))
    errs ++= Checks.revenue(revenue, ParquetRows.read(exportDir.resolve("revenue"),
      Seq("region", "segment", "revenue_cents", "n_orders")).map(r =>
      (r(0).asInstanceOf[String], r(1).asInstanceOf[String], r(2).asInstanceOf[Long], r(3).asInstanceOf[Long])))
    errs ++= Checks.corpus(corpus, ParquetRows.read(exportDir.resolve("corpus"),
      Seq("text_hash", "keep_id", "n_copies")).map(r =>
      (r(0).asInstanceOf[String], r(1).asInstanceOf[Long], r(2).asInstanceOf[Long])))
    Outcome(heads.values.map(_.rows).sum, errs.headOption)
  }

  def layerMetrics(traced: Seq[OpRecord], spans: Seq[Span], counts: Seq[Count]): Map[String, Double] = {
    val ok = traced.filterNot(_.failed).filter(r => runMs.contains(r.index))
    def med(f: OpRecord => Double) = Stats.medianOr(ok.map(f), 0)
    def run(r: OpRecord, fn: String) = runMs(r.index).getOrElse(fn, 0.0)
    def bodyMs(r: OpRecord, fn: String) =
      spans.filter(s => s.op == r.index && s.name == s"flow.body.$fn").map(_.durNs / 1e6).sum
    def total(name: String) = counts.filter(_.name == name).map(_.value).sum
    Metrics.Functions.flatMap(fn => Seq(
      s"flow.run_ms.$fn" -> med(run(_, fn)),
      s"store.publish_ms.$fn" -> med(r => run(r, fn) - bodyMs(r, fn)))).toMap ++ Map(
      "flow.orchestration_ms" -> med(r => r.ms - runMs(r.index).values.sum),
      "flow.critical_path_ms" -> med(r => Seq("ingest", "enrich", "trend").map(run(r, _)).sum),
      "flow.functions_per_trigger" -> Stats.mean(ok.map(r => runMs(r.index).size.toDouble)),
      "store.files_per_version" -> Stats.mean(filesPerVersion.toSeq),
      "store.bytes_per_row" -> StoreStats.bytesPerRow(store),
      "sources.files_listed" -> total("sources.files_listed") / math.max(1, ok.length),
      "sources.files_read" -> total("sources.files_read") / math.max(1, ok.length),
      "sources.watermark_useful_ratio" ->
        total("sources.files_read") / math.max(1.0, total("sources.files_listed")))
  }

  /** Orders, docs and customers actually ingested, as plain parquet. */
  def userBytes(scratch: Path): Long = {
    val ingested = landed.init // the last batch is landed but not triggered yet
    def write(name: String, df: DataFrame): Long = {
      val p = scratch.resolve(name)
      df.coalesce(1).write.mode("overwrite").parquet(p.toString)
      FileSizes.under(p)
    }
    import spark.implicits._
    write("customers", customersDf) +
      write("orders", ingested.flatMap(_.orders).toSeq.toDF()) +
      write("docs", ingested.flatMap(_.docs.map(d => (d.docId, d.text))).toSeq.toDF("doc_id", "text"))
  }

  def close(): Unit = api.stop()
}
