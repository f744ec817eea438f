package tdbench

import java.nio.file.Path
import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, functions => F}
import org.apache.spark.sql.types._

import graft.core.{SysCtx, SystemColumns}
import graft.store.{TableRef, TableStore, Version, Versions}

/** `small_commits`: one client commits ~1k seeded rows at a time,
  * round-robin over 8 tables, reads each write back and asks for its schema;
  * every 10th operation is one transaction over 3 tables, and every 8th
  * operation ends with `vacuum(keepLast = 20)` on its first table, rotating
  * so that each table is vacuumed once every 64 operations. Vacuum and
  * 3-table operations together stay near a fifth of all operations, well
  * clear of both the median and the tail percentile a 10 s run reports. */
object SmallCommits extends Workload {
  val name = "small_commits"
  val Coll = "micro"
  val Tables = 8
  /** Log entries each table starts with (2 written versions, the rest
    * metadata-only restores). */
  val History = 60
  val KeepLast = 20

  val schema: StructType = StructType(Seq(StructField("id", LongType), StructField("key", StringType),
    StructField("value", DoubleType), StructField("op", LongType)))

  def table(i: Int): String = s"t$i"

  def setup(env: Env, dir: Path): Instance = new MicroInstance(env, dir)
}

private final class MicroInstance(env: Env, dir: Path) extends Instance {
  import SmallCommits._
  private val spark = env.spark
  private val root = dir.resolve("store")
  private val store = new TableStore(root.toString, spark)
  val storeRoot: Path = root
  val clients = 1
  val warmupOps = 4

  private val written = ArrayBuffer.empty[MicroRow] // every row committed
  private val logEntries = Array.fill(Tables)(0)
  private val files = ArrayBuffer.empty[Double]
  private val pruned = ArrayBuffer.empty[Double]
  private val entriesSeen = ArrayBuffer.empty[Double]

  private def frame(rows: Seq[MicroRow]): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r.id, r.key, r.value, r.op)).asJava, schema)

  // history: two written versions per table, then restores alternating
  // between them — each restore appends one log entry and one transaction
  // marker, the metadata the resolver reads, without a data write
  locally {
    val pool = Executors.newFixedThreadPool(env.cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val built = (0 until Tables).map { t =>
        Future {
          val rows = Seq(-2L, -1L).map(op => MicroGen.rows(env.seed, op, t))
          rows.foreach(rs => store.write(Coll, table(t), frame(rs)))
          (2 until History).foreach(_ => store.restore(Coll, table(t), "HEAD~1"))
          rows.flatten
        }
      }
      built.foreach(f => written ++= Await.result(f, Duration.Inf))
    } finally pool.shutdown()
    logEntries.indices.foreach(logEntries(_) = History)
  }

  def next(index: Long, client: Int, traced: Boolean): Op = new Op {
    private val first = (index % Tables).toInt
    private val ts = if (index % 10 == 9) Seq(first, (first + 1) % Tables, (first + 2) % Tables) else Seq(first)
    private val rows = ts.map(t => MicroGen.rows(env.seed, index, t))
    private val dfs = rows.map(frame)
    private var entries: Seq[graft.store.VersionEntry] = Nil
    private var readBack: Seq[Seq[(String, Long)]] = Nil
    private var schemas: Seq[Option[StructType]] = Nil
    private var vacuumed: Seq[Int] = Nil
    val kind: String = if (ts.length > 1) "commit3" else "commit"

    def run(): Unit = {
      val base = SysCtx.fresh()
      entries = ts.zip(dfs).map { case (t, df) =>
        Trace.span("store.stage_write")(
          store.stageWrite(Coll, table(t), df, base.copy(version = store.newId())))
      }
      Trace.span("store.commit")(store.commitTransaction(base.transaction))
      readBack = ts.map { t =>
        val tf = Trace.span("store.scan_plan.single")(store.scan(head(t)))
        Trace.span("store.scan_exec.single")(tf.toSeq.flatMap(_.df
          .groupBy(F.col(s"`${SystemColumns.Version}`")).count().collect()
          .map(r => (r.getString(0), r.getLong(1)))))
      }
      schemas = ts.map(t => Trace.span("store.resolve")(store.schema(head(t))))
      vacuumed =
        if (index % Tables != (index / Tables) % Tables) Nil
        else Seq(Trace.span("store.vacuum")(store.vacuum(Coll, table(first), KeepLast)).length)
    }

    def finish(): Outcome = {
      val errs = ArrayBuffer.empty[String]
      ts.indices.foreach { i =>
        val t = ts(i)
        logEntries(t) += 1
        errs ++= Checks.versionRows(table(t), rows(i).length, entries(i).rows)
        errs ++= Checks.readBack(table(t), entries(i).id, rows(i).length, readBack(i))
        val fields = schemas(i).map(_.fieldNames.toSeq.filterNot(SystemColumns.isSystem))
        if (!fields.contains(schema.fieldNames.toSeq))
          errs += s"${table(t)} schema(HEAD) user columns $fields"
        if (traced) {
          files += FileSizes.dataFiles(Path.of(store.pathOf(Coll, table(t), entries(i))))
          entriesSeen += logEntries(t)
        }
      }
      if (traced) pruned ++= vacuumed.map(_.toDouble)
      written ++= rows.flatten
      Outcome(rows.map(_.length.toLong).sum, errs.headOption)
    }
  }

  private def head(t: Int) = TableRef(Coll, table(t), Versions.Single(Version.Head(0)))

  def layerMetrics(traced: Seq[OpRecord], spans: Seq[Span], counts: Seq[Count]): Map[String, Double] = Map(
    "store.files_per_version" -> Stats.mean(files.toSeq),
    "store.log_entries" -> Stats.mean(entriesSeen.toSeq),
    "store.versions_pruned" -> Stats.mean(pruned.toSeq),
    "store.bytes_per_row" -> StoreStats.bytesPerRow(store))

  def userBytes(scratch: Path): Long = {
    val p = scratch.resolve("rows")
    frame(written.toSeq).coalesce(1).write.mode("overwrite").parquet(p.toString)
    FileSizes.under(p)
  }

  def close(): Unit = ()
}
