package graft.perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Linear-interpolation quantile (the "type 7" definition, as numpy's
    * default): position q·(n−1) in the sorted sample, interpolated between
    * its two neighbours. NaN for an empty sample.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Length of the union of half-open intervals [a, b), each clipped to
    * [lo, hi): the part of an op's span that its child spans cover.
    */
  def coveredLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}
