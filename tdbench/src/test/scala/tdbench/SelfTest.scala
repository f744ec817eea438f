package tdbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Tests of the benchmark's own helpers (no Spark needed):
  * `python3 tdbench/build.py test`. Argument: the repository root. */
object SelfTest {
  private var passed = 0
  private var failed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failed += 1; println(s"FAIL $name: $e") }

  private def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  private def rejects(what: String, r: Option[String]): Unit =
    check(r.isDefined, s"$what: planted wrong answer was accepted")

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args.headOption.getOrElse("."))

    test("tail percentile keeps at least 10 samples beyond it") {
      val xs = (1 to 100).map(_.toDouble)
      check(Stats.tail(xs) == Stats.Tail(90.0, 90.0, 10, 100), s"n=100: ${Stats.tail(xs)}")
      val t20 = Stats.tail((1 to 20).map(_.toDouble).reverse)
      check(t20.value == 10.0 && t20.beyond == 10 && t20.percentile == 50.0, s"n=20: $t20")
      for (n <- 20 to 300) {
        val t = Stats.tail((1 to n).map(_.toDouble))
        check(t.beyond == 10 && t.supported(10), s"n=$n: ${t.beyond} beyond")
        check((1 to n).count(_ > t.value) >= 10, s"n=$n: fewer than 10 larger samples")
        check((1 to n).count(_ > t.value + 1) < 10, s"n=$n: not the highest such percentile")
        check(t.value >= Stats.median((1 to n).map(_.toDouble)) - 0.5, s"n=$n: tail below the median")
      }
    }

    test("with fewer than 20 samples the tail is the maximum, never a low sample") {
      for (n <- 1 to 19) {
        val t = Stats.tail((1 to n).map(_.toDouble).reverse)
        check(t == Stats.Tail(n.toDouble, 100.0, 0, n) && !t.supported(10), s"n=$n: $t")
      }
      val t5 = Stats.tail(Seq(5.0, 1.0, 3.0, 2.0, 4.0))
      check(t5.value == 5.0 && t5.value >= Stats.median(Seq(5.0, 1.0, 3.0, 2.0, 4.0)), s"n=5: $t5")
    }

    test("median") {
      check(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "odd")
      check(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "even")
    }

    test("self time subtracts the union of child intervals") {
      val spans = Seq(
        Span(1, "bench.op", 0, 100, 0, 7),
        Span(2, "store.commit", 10, 30, 1, 7),
        Span(3, "store.scan", 20, 50, 1, 7), // overlaps span 2: union 10..50
        Span(4, "server.get", 60, 70, 1, 7),
        Span(5, "core.plan", 90, 120, 1, 7), // runs past its parent: clipped to 90..100
        Span(6, "pipeline.x", 22, 26, 3, 7))
      val self = Trace.selfTimes(spans)
      check(self(1) == 100 - (40 + 10 + 10), s"root self ${self(1)}")
      check(self(3) == 30 - 4, s"scan self ${self(3)}")
      check(self(2) == 20 && self(4) == 10 && self(6) == 4, s"leaf self $self")
      val layers = Trace.layerSelf(spans)
      check(layers == Map("bench" -> 40L, "store" -> 46L, "server" -> 10L, "core" -> 30L, "pipeline" -> 4L),
        s"layers $layers")
    }

    test("union length merges overlapping intervals") {
      check(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20, "union")
    }

    test("events are spread over the operations in flight") {
      val got = Attribution.spread(IndexedSeq((0L, 10L), (5L, 20L), (30L, 40L)),
        Seq((2L, 1.0), (7L, 1.0), (25L, 1.0), (35L, 4.0)))
      check(got == IndexedSeq(1.5, 0.5, 4.0), s"spread $got")
      check(Attribution.peak(IndexedSeq((0L, 10L), (11L, 12L)), Seq((1L, 5L), (9L, 7L), (20L, 9L)))
        == IndexedSeq(7L, 0L), "peak")
    }

    test("the same seed generates byte-identical inputs") {
      val a = DagGen.batch(42, 3)
      val b = DagGen.batch(42, 3)
      check(java.util.Arrays.equals(a.ordersCsv, b.ordersCsv), "orders csv differs")
      check(java.util.Arrays.equals(a.docsJsonl, b.docsJsonl), "docs jsonl differs")
      check(!java.util.Arrays.equals(a.ordersCsv, DagGen.batch(43, 3).ordersCsv), "seed ignored")
      check(!java.util.Arrays.equals(a.ordersCsv, DagGen.batch(42, 4).ordersCsv), "batch index ignored")
      check(DagGen.customers(42) == DagGen.customers(42), "customers differ")
      check(MicroGen.rows(42, 17, 3) == MicroGen.rows(42, 17, 3), "small-commit rows differ")
      check(MicroGen.rows(42, 17, 3) != MicroGen.rows(42, 18, 3), "op index ignored")
      check(HistGen.rows(42, 1, 9) == HistGen.rows(42, 1, 9), "history rows differ")
      check(a.orders.length == DagGen.OrdersPerBatch && a.docs.length == DagGen.DocsPerBatch, "batch size")
      check(a.docs.exists(!_.good) && a.docs.count(_.good) > a.docs.map(_.text).distinct.count(t =>
        a.docs.exists(d => d.good && d.text == t)), "docs need bad ones and duplicated good ones")
    }

    val batch = DagGen.batch(5, 0, nOrders = 300, nDocs = 200)
    val customers = DagGen.customers(5)

    test("revenue checker rejects planted wrong answers") {
      val want = DagGen.expectedRevenue(customers, batch)
      val rows = want.toSeq.map { case ((r, s), (c, n)) => (r, s, c, n) }
      check(Checks.revenue(want, rows).isEmpty, "correct answer rejected")
      rejects("off-by-one cents", Checks.revenue(want, rows.updated(0, rows(0).copy(_3 = rows(0)._3 + 1))))
      rejects("missing group", Checks.revenue(want, rows.tail))
      rejects("duplicated group", Checks.revenue(want, rows :+ rows.head))
      rejects("wrong order count", Checks.revenue(want, rows.updated(1, rows(1).copy(_4 = 0L))))
    }

    test("trend checker rejects planted wrong answers") {
      val batches = (0 until 6).map(k => DagGen.batch(5, k, nOrders = 300, nDocs = 10))
      val want = DagGen.expectedTrend(customers, batches.takeRight(5))
      val rows = want.toSeq.map { case (r, (c, n)) => (r, c, n) }
      check(Checks.trend(want, rows).isEmpty, "correct answer rejected")
      val headOnly = DagGen.expectedTrend(customers, batches.takeRight(1)).toSeq.map { case (r, (c, n)) => (r, c, n) }
      rejects("HEAD only", Checks.trend(want, headOnly))
      val sixBack = DagGen.expectedTrend(customers, batches).toSeq.map { case (r, (c, n)) => (r, c, n) }
      rejects("one version too many", Checks.trend(want, sixBack))
      rejects("missing region", Checks.trend(want, rows.tail))
      rejects("duplicated region", Checks.trend(want, rows :+ rows.head))
    }

    test("corpus checker rejects planted wrong answers") {
      val want = DagGen.expectedCorpus(batch)
      val rows = want.toSeq.map { case (h, (id, n)) => (h, id, n) }
      check(Checks.corpus(want, rows).isEmpty, "correct answer rejected")
      rejects("kept a duplicate", Checks.corpus(want, rows.updated(0, rows(0).copy(_2 = rows(0)._2 + 1))))
      rejects("lost copies", Checks.corpus(want, rows.updated(0, rows(0).copy(_3 = 0L))))
      val bad = batch.docs.find(!_.good).get
      rejects("let a bad doc through", Checks.corpus(want, rows :+ ((Gen.md5Hex(bad.text), bad.docId, 1L))))
    }

    test("version-row and trigger checkers reject planted wrong answers") {
      check(Checks.versionRows("orders", 5, 5).isEmpty, "equal rows rejected")
      rejects("row count", Checks.versionRows("orders", 5, 4))
      check(Checks.ranFunctions(Metrics.Functions.toSet, Metrics.Functions.reverse).isEmpty, "order matters")
      rejects("missing function", Checks.ranFunctions(Metrics.Functions.toSet, Metrics.Functions.tail))
      rejects("function twice", Checks.ranFunctions(Metrics.Functions.toSet, Metrics.Functions :+ "trend"))
    }

    test("read-back checker rejects planted wrong answers") {
      check(Checks.readBack("t0", "v1", 10, Seq("v1" -> 10L)).isEmpty, "correct answer rejected")
      rejects("stale HEAD", Checks.readBack("t0", "v1", 10, Seq("v0" -> 10L)))
      rejects("short read", Checks.readBack("t0", "v1", 10, Seq("v1" -> 9L)))
      rejects("two versions", Checks.readBack("t0", "v1", 10, Seq("v1" -> 10L, "v0" -> 3L)))
      rejects("nothing", Checks.readBack("t0", "v1", 10, Nil))
    }

    test("sequence-number checker rejects planted wrong answers") {
      val good = Seq(7L, 8L, 9L).flatMap(s => Seq.fill(3)(s))
      check(Checks.seqs("range", Seq(7L, 8L, 9L), 3, good).isEmpty, "correct answer rejected")
      rejects("missing version", Checks.seqs("range", Seq(7L, 8L, 9L), 3, good.filterNot(_ == 8L)))
      rejects("extra version", Checks.seqs("range", Seq(8L, 9L), 3, good))
      rejects("short version", Checks.seqs("range", Seq(7L, 8L, 9L), 3, good.drop(1)))
      rejects("off by one", Checks.seqs("head", Seq(9L), 3, Seq(8L, 8L, 8L)))
    }

    test("BENCHMARK.json loads and names every metric the benchmark computes") {
      val defs = Metrics.load(root.resolve("BENCHMARK.json"))
      check(defs.endToEnd.nonEmpty && defs.perLayer.nonEmpty, "no metrics")
      val json = Json.mapper.readTree(Files.readString(root.resolve("BENCHMARK.json")))
      val names = json.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq
      check(names == Main.Workloads.map(_.name), s"workloads $names")
    }

    println(s"$passed passed, $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
