package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Median; an even-length sample averages the two middle values. */
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentile by linear interpolation between closest ranks (the
    * "inclusive" method: p0 is the minimum, p100 the maximum).
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    val rank = (s.length - 1) * p / 100.0
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  /** Total length of the union of closed intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a
        curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
