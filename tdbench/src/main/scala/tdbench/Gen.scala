package tdbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded input generators. Every input is a pure function of the
  * workload seed and a position, so the same seed yields byte-identical
  * inputs whatever order or thread they are generated on. */
object Gen {
  /** An independent stream for (seed, stream, index). */
  def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) ^ stream) ^ index))

  private def mix(x0: Long): Long = { // splitmix64 finalizer
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
}

final case class Customer(id: Int, region: String, segment: String)
final case class Order(orderId: Int, customerId: Int, amountCents: Int, qty: Int)
final case class Doc(docId: Long, text: String, good: Boolean)

/** One landing batch of the `dag_refresh` workload. */
final case class DagBatch(k: Int, orders: IndexedSeq[Order], docs: IndexedSeq[Doc]) {
  def ordersCsv: Array[Byte] = {
    val sb = new StringBuilder("order_id,customer_id,amount_cents,qty\n")
    orders.foreach(o => sb.append(s"${o.orderId},${o.customerId},${o.amountCents},${o.qty}\n"))
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }
  /** Texts hold only [a-z0-9# ], so no JSON escaping is needed. */
  def docsJsonl: Array[Byte] = {
    val sb = new StringBuilder
    docs.foreach(d => sb.append(s"""{"doc_id":${d.docId},"text":"${d.text}"}""").append('\n'))
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }
}

object DagGen {
  val Regions: IndexedSeq[String] = (0 until 8).map(i => s"region_$i")
  val Segments: IndexedSeq[String] = IndexedSeq("consumer", "smb", "enterprise")
  val NumCustomers = 500
  val OrdersPerBatch = 20000
  val DocsPerBatch = 2000

  // quality-filter stopwords (at least four distinct ones per good doc) and
  // plain alphabetic words; bad docs carry no letters at all
  private val Stop = IndexedSeq("the", "to", "of", "and", "with", "that", "have", "be")
  private val Words = IndexedSeq("table", "stream", "version", "commit", "river",
    "market", "signal", "garden", "planet", "engine", "window", "harbor", "forest",
    "number", "letter", "silver", "winter", "summer", "orange", "rocket", "pocket",
    "castle", "bridge", "candle", "marble", "meadow", "puzzle", "ticket", "violin")

  def customers(seed: Long): IndexedSeq[Customer] = {
    val r = Gen.rng(seed, 1, 0)
    (1 to NumCustomers).map(id => Customer(id, Regions(r.nextInt(Regions.length)),
      Segments(r.nextInt(Segments.length))))
  }

  def batch(seed: Long, k: Int, nOrders: Int = OrdersPerBatch,
      nDocs: Int = DocsPerBatch): DagBatch = {
    val r = Gen.rng(seed, 2, k)
    val orders = (0 until nOrders).map { j =>
      Order(k * 1000000 + j, 1 + r.nextInt(NumCustomers), 100 + r.nextInt(100000), 1 + r.nextInt(10))
    }
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    (0 until nDocs).foreach { j =>
      val id = k * 1000000L + j
      val roll = r.nextInt(100)
      docs += (if (roll < 20 && docs.nonEmpty) {
        val src = docs(r.nextInt(docs.length)) // an exact duplicate
        Doc(id, src.text, src.good)
      } else if (roll < 45) Doc(id, badText(r), good = false)
      else Doc(id, goodText(r), good = true))
    }
    DagBatch(k, orders, docs.toIndexedSeq)
  }

  private def goodText(r: SplittableRandom): String = {
    val n = 12 + r.nextInt(19)
    val stops = Stop.map(w => (r.nextInt(), w)).sortBy(_._1).take(4).map(_._2)
    val ws = (0 until n).map(_ => Words(r.nextInt(Words.length))) ++ stops
    ws.map(w => (r.nextInt(), w)).sortBy(_._1).map(_._2).mkString(" ")
  }

  private def badText(r: SplittableRandom): String =
    (0 until 3 + r.nextInt(6)).map { _ =>
      if (r.nextInt(3) == 0) "###" else (1000 + r.nextInt(9000)).toString
    }.mkString(" ")

  /** Expected `revenue`: (region, segment) → (revenue_cents, n_orders). */
  def expectedRevenue(cs: IndexedSeq[Customer], b: DagBatch): Map[(String, String), (Long, Long)] = {
    val byId = cs.map(c => c.id -> c).toMap
    b.orders.groupBy(o => { val c = byId(o.customerId); (c.region, c.segment) })
      .map { case (k, os) => k -> ((os.map(_.amountCents.toLong).sum, os.length.toLong)) }
  }

  /** Expected `revenue_trend` over `bs`, one revenue version each:
    * region → (revenue_cents, n_orders). */
  def expectedTrend(cs: IndexedSeq[Customer], bs: Seq[DagBatch]): Map[String, (Long, Long)] =
    bs.flatMap(expectedRevenue(cs, _)).groupBy(_._1._1).map { case (region, rs) =>
      region -> ((rs.map(_._2._1).sum, rs.map(_._2._2).sum))
    }

  /** Expected `corpus`: md5(text) → (smallest doc id, copies), over the
    * docs that pass the quality filter. */
  def expectedCorpus(b: DagBatch): Map[String, (Long, Long)] =
    b.docs.filter(_.good).groupBy(_.text).map { case (t, ds) =>
      Gen.md5Hex(t) -> ((ds.map(_.docId).min, ds.length.toLong))
    }
}

/** One small commit of the `small_commits` workload. */
final case class MicroRow(id: Long, key: String, value: Double, op: Long)

object MicroGen {
  def rows(seed: Long, op: Long, table: Int): IndexedSeq[MicroRow] = {
    val r = Gen.rng(seed, 3, op * 64 + table)
    val n = 900 + r.nextInt(201)
    (0 until n).map(i => MicroRow(op * 10000 + i, s"k${r.nextInt(5000)}",
      math.floor(r.nextDouble() * 1e6) / 100, op))
  }
}

/** One version's rows of the `history_reads` workload: every row carries
  * the sequence number of the version it was written as. */
final case class HistRow(seq: Long, row: Int, value: Double, label: String)

object HistGen {
  val RowsPerVersion = 50
  def rows(seed: Long, table: Int, seq: Long): IndexedSeq[HistRow] = {
    val r = Gen.rng(seed, 4, seq * 8 + table)
    (0 until RowsPerVersion).map(i => HistRow(seq, i, r.nextDouble(), s"l${r.nextInt(100)}"))
  }
}
