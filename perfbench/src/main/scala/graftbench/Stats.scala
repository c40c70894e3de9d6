package graftbench

/** Order statistics and interval arithmetic behind the benchmark's metrics. */
object Stats {

  /** Percentile `p` (0..100) of `xs` by linear interpolation between the
    * closest ranks (numpy's default method).
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.toArray.sorted
    val pos = p / 100.0 * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Candidate percentiles, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest percentile on [[Ladder]] that leaves at least `minBeyond`
    * samples strictly above its value, with that value; None when not even
    * the median does. A tail figure backed by fewer samples than that is
    * one or two outliers, not a percentile.
    */
  def tailPercentile(xs: Seq[Double], minBeyond: Int = 10): Option[(Double, Double)] =
    if (xs.isEmpty) None
    else Ladder.reverseIterator.map(p => p -> percentile(xs, p))
      .find { case (_, v) => xs.count(_ > v) >= minBeyond }

  /** Length of the union of `intervals` (half-open [a, b)) clipped to
    * [lo, hi).
    */
  def coveredLength(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var curA = 0L
    var curB = 0L
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open || a > curB) {
        if (open) covered += curB - curA
        curA = a; curB = b; open = true
      } else curB = math.max(curB, b)
    }
    if (open) covered += curB - curA
    covered
  }

  /** Self time of a span: its duration minus the part of [start, end) that
    * its children cover (overlapping children count once).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - coveredLength(start, end, children)

  /** max / median of `xs`; 0 for an empty sample or a zero median. */
  def skew(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val m = median(xs)
      if (m <= 0) 0.0 else xs.max / m
    }
}
