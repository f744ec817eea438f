package tdbench

import java.nio.file.Path
import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.server.StoreApi
import graft.store.{TableRef, TableStore}

/** `history_reads`: four clients read a store built during set-up over the
  * store's HTTP API, in a seeded request mix; nothing is written. Each table
  * holds a long version log whose newest [[HistoryReads.Top]] versions are
  * written data, each row carrying its version's sequence number.
  *
  * Four clients and k ≤ 10: with two clients and k up to 20 a 10 s run got
  * ~55 requests, which put the tail percentile (10 samples beyond, 18%)
  * right on the edge of the 15% of `HEAD~k..HEAD` requests, so the tail
  * jumped between request classes from run to run. Four clients (the
  * server's pool size) and cheaper ranges get ~100 and land it inside that
  * class. */
object HistoryReads extends Workload {
  val name = "history_reads"
  val Coll = "hist"
  val Tables: Seq[String] = Seq("events", "metrics")
  /** Written versions at the top of each log: HEAD~0 .. HEAD~(Top-1). */
  val Top = 11
  /** Metadata-only restores below them, between two written base versions. */
  val Restores = 200
  val MaxBack = 10
  val SampleLen = 2000
  /** Traced requests per endpoint replayed alone after the timed loop. */
  val Replays = 3

  /** Request mix: (endpoint, share in %). */
  val Mix: Seq[(String, Int)] = Seq("schema" -> 20, "data_versions" -> 10, "sample_head" -> 25,
    "sample_back" -> 20, "sample_range" -> 15, "download" -> 10)

  /** Request `index` of the seeded mix: (endpoint, table, k). Requests come
    * in decks of 20 holding the mix shares exactly, shuffled per deck, and
    * each endpoint's k walks a shuffled 1..MaxBack in turn — so any run of
    * consecutive requests has nearly the same composition, and the median
    * and tail do not hinge on how many slow requests one run happened to
    * draw. */
  def plan(seed: Long, index: Long): (String, String, Int) = {
    val deckSize = Mix.map(_._2).sum / 5
    val deck = index / deckSize
    val r = Gen.rng(seed, 5, deck)
    val cards = Mix.flatMap { case (k, share) => Seq.fill(share / 5)(k) }
      .map(c => (r.nextInt(), c)).sortBy(_._1).map(_._2)
    val kind = cards((index % deckSize).toInt)
    // how many requests of this kind came before, across decks
    val before = deck * cards.count(_ == kind) + cards.take((index % deckSize).toInt).count(_ == kind)
    // k pairs up as (j, MaxBack + 1 - j), so every stretch of requests
    // averages the same k and returns about the same rows
    val cycle = before / MaxBack
    val pr = Gen.rng(seed, 6, cycle * 8 + Mix.indexWhere(_._1 == kind))
    val perm = (1 to MaxBack / 2).map(j => (pr.nextInt(), j)).sortBy(_._1).flatMap { case (_, j) =>
      if (pr.nextBoolean()) Seq(j, MaxBack + 1 - j) else Seq(MaxBack + 1 - j, j)
    }
    val k = perm((before % MaxBack).toInt)
    (kind, Tables((before % Tables.length).toInt), k)
  }

  val schema: StructType = StructType(Seq(StructField("seq", LongType), StructField("row", IntegerType),
    StructField("value", DoubleType), StructField("label", StringType)))

  def setup(env: Env, dir: Path): Instance = new HistInstance(env, dir)
}

private final class HistInstance(env: Env, dir: Path) extends Instance {
  import HistoryReads._
  private val spark = env.spark
  private val root = dir.resolve("store")
  private val store = new TableStore(root.toString, spark)
  val storeRoot: Path = root
  val clients = 4
  val warmupOps = 1

  private def frame(t: Int, seq: Long): DataFrame = spark.createDataFrame(
    HistGen.rows(env.seed, t, seq).map(r => Row(r.seq, r.row, r.value, r.label)).asJava, schema)

  /** Per table, in log order: (version id, sequence number its data carries). */
  private val logs: Map[String, IndexedSeq[(String, Long)]] = {
    val pool = Executors.newFixedThreadPool(Tables.length)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Tables.zipWithIndex.map { case (name, t) =>
      Future {
        val log = ArrayBuffer.empty[(String, Long)]
        def write(seq: Long): Unit = log += (store.write(Coll, name, frame(t, seq)).id -> seq)
        write(1); write(2)
        (0 until Restores).foreach { _ =>
          val e = store.restore(Coll, name, "HEAD~1").get
          log += (e.id -> log(log.length - 2)._2)
        }
        (3L until 3L + Top).foreach(write)
        name -> log.toIndexedSeq
      }
    }.map(Await.result(_, Duration.Inf)).toMap
    finally pool.shutdown()
  }
  /** The version `download` fetches by id. */
  private val fixed: Map[String, (String, Long)] = logs.map { case (t, l) => t -> l(l.length - 8) }
  /** Traced requests that passed their checks: (request, response bytes). */
  private val served = new java.util.concurrent.ConcurrentLinkedQueue[(RequestOp, Int)]()

  private val api = new StoreApi(store)
  api.start()
  private val http = new Http(api.boundPort)

  private def seqAt(t: String, back: Int): Long = { val l = logs(t); l(l.length - 1 - back)._2 }

  def next(index: Long, client: Int, traced: Boolean): Op = {
    val (kind, t, k) = HistoryReads.plan(env.seed, index)
    val (selector, seqs) = kind match {
      case "sample_head" => ("HEAD", Seq(seqAt(t, 0)))
      case "sample_back" => (s"HEAD~$k", Seq(seqAt(t, k)))
      case "sample_range" => (s"HEAD~$k..HEAD", (0 to k).map(seqAt(t, _)))
      case "download" => (fixed(t)._1, Seq(fixed(t)._2))
      case _ => ("HEAD", Nil)
    }
    val base = s"/collections/$Coll/tables/$t"
    val path = kind match {
      case "schema" => s"$base/schema"
      case "data_versions" => s"$base/data-versions"
      case "download" => s"/collections/$Coll/tables/$t@$selector/download"
      case _ => s"/collections/$Coll/tables/$t@$selector/sample?offset=0&len=$SampleLen"
    }
    new RequestOp(kind, t, selector, seqs, path, client, traced)
  }

  private final class RequestOp(val kind: String, val table: String, selector: String,
      seqs: Seq[Long], val path: String, client: Int, traced: Boolean) extends Op {
    private var resp: (Int, Array[Byte]) = _
    def run(): Unit = resp = Trace.span(s"server.$kind")(http.get(path))

    def finish(): Outcome = {
      val (code, body) = resp
      val (rows, err) =
        if (code != 200) (0L, Some(s"$kind $path: HTTP $code ${new String(body, "UTF-8")}"))
        else kind match {
          case "schema" =>
            val names = Json.mapper.readTree(body).get("data").get("fields").elements()
              .asScala.map(_.get("name").asText()).toSeq
            (0L, if (schema.fieldNames.forall(names.contains)) None else Some(s"schema fields $names"))
          case "data_versions" =>
            val ids = Json.mapper.readTree(body).get("data").elements().asScala
              .map(_.get("id").asText()).toSeq
            (0L, if (ids == logs(table).map(_._1)) None
              else Some(s"data-versions of $table: ${ids.length} ids, expected ${logs(table).length}"))
          case _ =>
            val got = ParquetRows.readBytes(body, dir.resolve(s"resp-$client.parquet"), Seq("seq"))
              .map(_.head.asInstanceOf[Long])
            (got.length.toLong, Checks.seqs(s"$kind $table@$selector", seqs, HistGen.RowsPerVersion, got))
        }
      if (traced && err.isEmpty) served.add((this, body.length))
      Outcome(rows, err)
    }

    def ref: TableRef = TableRef.parse(s"$table@$selector", Coll)
  }

  /** The same read as a direct store call, for the server's share of the
    * request time. */
  private def direct(op: RequestOp): Unit = {
    val scanKind = if (op.kind == "sample_range") "range" else "single"
    op.kind match {
      case "schema" => timed("store.resolve")(store.schema(op.ref))
      case "data_versions" => store.versions(Coll, op.table)
      case "download" =>
        val tf = timed(s"store.scan_plan.$scanKind")(store.scan(op.ref))
        timed(s"store.scan_exec.$scanKind")(tf.get.df.collect())
      case _ =>
        val df = timed(s"store.scan_plan.$scanKind")(store.sample(op.ref, 0, SampleLen))
        timed(s"store.scan_exec.$scanKind")(df.get.collect())
    }
  }

  private val twin = ArrayBuffer.empty[(String, Double)]
  private def timed[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally twin += ((name, (System.nanoTime() - t0) / 1e6))
  }
  private def ms(f: => Any): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }

  /** Runs after the timed loop, so the replays below compete with nothing:
    * the first [[HistoryReads.Replays]] traced requests of each endpoint are
    * sent again one at a time, each followed by the same read as a direct
    * store call, and `server.overhead_ms` is the difference of the two
    * medians. */
  def layerMetrics(traced: Seq[OpRecord], spans: Seq[Span], counts: Seq[Count]): Map[String, Double] = {
    val s = served.asScala.toSeq
    Metrics.Endpoints.flatMap { e =>
      val mine = s.filter(_._1.kind == e)
      val solo = mine.take(Replays).map { case (op, _) =>
        val request = ms {
          val (code, body) = http.get(op.path)
          if (code != 200)
            throw new IllegalStateException(s"replay of ${op.path}: HTTP $code ${new String(body, "UTF-8")}")
        }
        (request, ms(direct(op)))
      }
      Seq(
        s"server.response_bytes.$e" -> Stats.mean(mine.map(_._2.toDouble)),
        s"server.overhead_ms.$e" -> (Stats.medianOr(solo.map(_._1), 0) - Stats.medianOr(solo.map(_._2), 0)))
    }.toMap ++ Seq("single", "range").flatMap { k =>
      Seq(s"store.scan_plan_ms.$k" -> Stats.medianOr(twin.toSeq.filter(_._1 == s"store.scan_plan.$k").map(_._2), 0),
        s"store.scan_exec_ms.$k" -> Stats.medianOr(twin.toSeq.filter(_._1 == s"store.scan_exec.$k").map(_._2), 0))
    } ++ Map(
      "store.resolve_ms" -> Stats.medianOr(twin.toSeq.filter(_._1 == "store.resolve").map(_._2), 0),
      "store.log_entries" -> Stats.mean(logs.values.map(_.length.toDouble).toSeq),
      "store.bytes_per_row" -> StoreStats.bytesPerRow(store))
  }

  def userBytes(scratch: Path): Long = {
    val seqs = logs.values.flatMap(_.map(_._2)).toSet // data each version holds
    Tables.indices.map { t =>
      val p = scratch.resolve(Tables(t))
      seqs.toSeq.sorted.map(frame(t, _)).reduce(_ union _).coalesce(1)
        .write.mode("overwrite").parquet(p.toString)
      FileSizes.under(p)
    }.sum
  }

  def close(): Unit = api.stop()
}
