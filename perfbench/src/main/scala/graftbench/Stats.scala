package graftbench

/** The arithmetic every reported figure goes through, kept in one place
  * so the tests can pin it.
  */
object Stats {

  /** Median of `xs` (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 100]: the smallest value with at
    * least p% of the sample at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.max(rank, 1) - 1)
  }

  /** Items per second; 0 for an empty or zero-length interval. */
  def rate(items: Long, seconds: Double): Double =
    if (seconds <= 0) 0.0 else items / seconds

  /** `num / den`, 0 when the denominator is 0 (a layer absent from a
    * workload reads 0, never NaN).
    */
  def ratio(num: Double, den: Double): Double =
    if (den == 0) 0.0 else num / den

  /** N→1 scaling efficiency: throughput at `n` cores over `n` times the
    * single-core throughput.
    */
  def scalingEff(ratePerSecN: Double, ratePerSec1: Double, n: Int): Double =
    ratio(ratePerSecN, n * ratePerSec1)

  /** Total length of the union of `[start, end)` intervals, clipped to
    * `[lo, hi)`.
    */
  def coveredLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
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
