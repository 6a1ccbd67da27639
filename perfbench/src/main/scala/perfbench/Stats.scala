package perfbench

/** Order statistics shared by the end-to-end and per-layer reports. */
object Stats {
  private val TailCap = 0.90
  private val TailBeyond = 10

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default);
    * 0.0 for an empty sample, which the per-layer report uses for
    * "this layer did no work in this workload".
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0, 1], got $q")
    if (xs.isEmpty) return 0.0
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail percentile a sample can support: the highest percentile,
    * capped at p90, that still has at least 10 samples strictly above its
    * rank. With n samples that is (n - 10) / n. None when that is not
    * above the median: the sample is too small for a tail.
    */
  def supportedTail(n: Int): Option[Double] =
    Some(math.min(TailCap, (n - TailBeyond).toDouble / math.max(1, n))).filter(_ > 0.5)

  /** (percentile, value) of the tail under [[supportedTail]]. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    supportedTail(xs.length).map(q => (q, quantile(xs, q)))

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Length of `span` that none of `children` covers (a span's self
    * time); children are clipped to the span first.
    */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (s, e) = span
    val clipped = children.map { case (cs, ce) => (math.max(cs, s), math.min(ce, e)) }
    (e - s) - unionLength(clipped)
  }
}
