package tdbench

/** Order statistics used by every report. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def medianOr(xs: Seq[Double], empty: Double): Double =
    if (xs.isEmpty) empty else median(xs)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** A tail sample: `value` sits at `percentile` (share of samples at or
    * below it, in %) with `beyond` samples ranked above it, out of `n`. */
  final case class Tail(value: Double, percentile: Double, beyond: Int, n: Int) {
    def supported(minBeyond: Int): Boolean = beyond >= minBeyond
  }

  /** The highest percentile that still has at least `minBeyond` samples
    * beyond it. Below `2 * minBeyond` samples that percentile would sit
    * under the median, so no tail can be told apart from the body: the
    * maximum is returned instead, with `beyond` = 0. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of nothing")
    val s = xs.sorted
    val n = s.length
    if (n < 2 * minBeyond) Tail(s.last, 100.0, 0, n)
    else {
      val i = n - 1 - minBeyond
      Tail(s(i), 100.0 * (i + 1) / n, minBeyond, n)
    }
  }

  /** Total length covered by possibly overlapping [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
