package perfbench

/** Order statistics and interval arithmetic used by the reports. */
object Stats {

  /** Linear-interpolated quantile, `q` in [0, 1] — the same rule as
    * numpy's default and Python's `statistics.quantiles(method="inclusive")`.
    * Failed operations enter as +Infinity, so they count as missing any
    * latency limit instead of vanishing from the sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi || s(lo) == s(hi)) s(lo) else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples needed beyond a tail percentile before it is reported. */
  val MinBeyondTail = 10

  /** The `q` quantile, only when at least [[MinBeyondTail]] samples lie
    * strictly above it — a p90 needs about 100 samples. */
  def tail(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.isEmpty) None
    else {
      val p = quantile(xs, q)
      if (xs.count(_ > p) >= MinBeyondTail) Some(p) else None
    }

  /** Total length covered by the union of closed-open intervals
    * `[start, end)`; overlapping and nested intervals count once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Length of `[start, end)` covered by the union of `intervals`. */
  def coveredWithin(intervals: Seq[(Long, Long)], start: Long, end: Long): Long =
    unionLength(intervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) })
}
