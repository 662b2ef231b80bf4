package perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Linear-interpolated percentile `p` in [0, 1] of `xs` (non-empty). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The tail percentile for `n` samples: the highest of p50, p75, p90,
    * p95, p99 and p99.9 that still has at least ten samples above it.
    * Below 40 samples no percentile above the median qualifies, and the
    * median is reported as the tail.
    */
  def tailPercentile(n: Int): Double = {
    // per mille, so the "ten above" test is exact integer arithmetic
    val ladder = Seq(999, 990, 950, 900, 750)
    ladder.find(pm => n.toLong * (1000 - pm) >= 10000).map(_ / 1000.0).getOrElse(0.5)
  }

  /** (tail value, percentile used) for `xs`. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.size)
    (percentile(xs, p), p)
  }
}
