package graft.cdcbench

/** Order statistics used by every reported timing. */
object Stats {

  /** Percentile `p` in [0, 100] by linear interpolation between the two
    * nearest ranks (numpy's default): the 0th is the minimum, the 100th the
    * maximum, the 50th the median.
    */
  def percentile(values: Seq[Double], p: Double): Double = {
    require(values.nonEmpty, "percentile of no values")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = values.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(values: Seq[Double]): Double = percentile(values, 50)

  /** Seconds from nanoseconds. */
  def s(nanos: Long): Double = nanos / 1e9

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
