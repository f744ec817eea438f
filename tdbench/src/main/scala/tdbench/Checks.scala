package tdbench

/** Output checkers. Each returns None when the program's output is right,
  * else a one-line description of the first mismatch. */
object Checks {
  private def diff[K, V](what: String, expected: Map[K, V], actual: Map[K, V]): Option[String] =
    if (expected == actual) None
    else {
      val missing = expected.keySet -- actual.keySet
      val extra = actual.keySet -- expected.keySet
      val wrong = (expected.keySet & actual.keySet).filter(k => expected(k) != actual(k))
      Some(s"$what: ${missing.size} missing, ${extra.size} extra, ${wrong.size} wrong" +
        wrong.headOption.map(k => s" (e.g. $k: expected ${expected(k)}, got ${actual(k)})").getOrElse(""))
    }

  /** `revenue` rows exported: (region, segment, revenue_cents, n_orders). */
  def revenue(expected: Map[(String, String), (Long, Long)],
      actual: Seq[(String, String, Long, Long)]): Option[String] =
    if (actual.map(r => (r._1, r._2)).distinct.length != actual.length)
      Some("revenue: duplicate (region, segment) rows")
    else diff("revenue", expected, actual.map(r => (r._1, r._2) -> ((r._3, r._4))).toMap)

  /** `revenue_trend` rows: (region, revenue_cents, n_orders). */
  def trend(expected: Map[String, (Long, Long)], actual: Seq[(String, Long, Long)]): Option[String] =
    if (actual.map(_._1).distinct.length != actual.length) Some("revenue_trend: duplicate region rows")
    else diff("revenue_trend", expected, actual.map(r => r._1 -> ((r._2, r._3))).toMap)

  /** `corpus` rows exported: (text_hash, keep_id, n_copies). */
  def corpus(expected: Map[String, (Long, Long)], actual: Seq[(String, Long, Long)]): Option[String] =
    if (actual.map(_._1).distinct.length != actual.length) Some("corpus: duplicate text_hash rows")
    else diff("corpus", expected, actual.map(r => r._1 -> ((r._2, r._3))).toMap)

  /** A committed version's row count against the generated row count. */
  def versionRows(table: String, expected: Long, actual: Long): Option[String] =
    if (expected == actual) None else Some(s"$table: committed $actual rows, generated $expected")

  /** The functions one trigger ran. */
  def ranFunctions(expected: Set[String], actual: Seq[String]): Option[String] =
    if (actual.toSet == expected && actual.length == expected.size) None
    else Some(s"trigger ran [${actual.mkString(",")}], expected [${expected.toSeq.sorted.mkString(",")}]")

  /** A `scan(HEAD)` read-back grouped by version id: exactly one version,
    * the committed one, holding every row written. */
  def readBack(table: String, committedId: String, rows: Long,
      actual: Seq[(String, Long)]): Option[String] = actual match {
    case Seq((id, n)) if id == committedId && n == rows => None
    case _ => Some(s"$table read-back ${actual.mkString(",")}: expected ($committedId,$rows)")
  }

  /** A sample must carry exactly the sequence numbers its selector names,
    * `rowsPerVersion` rows each. */
  def seqs(what: String, expected: Seq[Long], rowsPerVersion: Int,
      actual: Seq[Long]): Option[String] = {
    val want = expected.map(_ -> rowsPerVersion.toLong).toMap
    val got = actual.groupBy(identity).map { case (s, xs) => s -> xs.length.toLong }
    diff(s"$what sequence numbers", want, got)
  }
}
