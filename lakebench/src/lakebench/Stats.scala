package lakebench

/** Pure statistics over latency samples and time intervals. */
object Stats {

  /** Fewest samples that must lie strictly above a reported percentile. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean of positive values; 0 for none. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated quantile `q` in [0, 1] of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Samples strictly above the nearest-rank `p`-th percentile of `n`. */
  def beyond(n: Int, p: Double): Int =
    n - math.ceil(p / 100.0 * n).toInt

  /** The highest of `candidates` that leaves at least [[MinBeyond]]
    * samples beyond it, or None when even the lowest does not. A p99
    * needs 1,000 samples, a p90 100 and a p50 20.
    */
  def supportedPercentile(n: Int,
      candidates: Seq[Double] = Seq(99.0, 95.0, 90.0, 75.0, 50.0)): Option[Double] =
    candidates.sorted.reverse.find(p => beyond(n, p) >= MinBeyond)

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the sample at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  /** Total length covered by the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curLo = Long.MinValue
    var curHi = Long.MinValue
    intervals.filter { case (lo, hi) => hi > lo }.sortBy(_._1).foreach {
      case (lo, hi) =>
        if (lo > curHi) {
          covered += curHi - curLo
          curLo = lo
          curHi = hi
        } else curHi = math.max(curHi, hi)
    }
    covered + (curHi - curLo)
  }

  /** Clip intervals to the window [lo, hi). */
  def clip(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }

  /** Time an op spends outside every Spark job it launched: its wall time
    * minus the union of its job intervals clipped to the op.
    */
  def driverGap(opStart: Long, opEnd: Long, jobs: Seq[(Long, Long)]): Long =
    (opEnd - opStart) - unionLength(clip(jobs, opStart, opEnd))
}
