package perfbench

/** Order statistics used by every reported timing. */
object Stats {
  /** Median of a non-empty sample (mean of the two middle values when
    * the size is even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail percentile a sample of `n` supports: the highest of 99.9,
    * 99, 95, 90, 75 and 50 that leaves at least ten samples above it. A
    * p99 read off 200 samples rests on two values; this rule reports p95
    * there instead. Returns None below 20 samples, where not even the
    * median has ten samples beyond it. */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => n - rank(p, n) >= 10)

  /** Nearest rank of percentile `p` in a sample of `n`, immune to the
    * binary rounding of `p / 100 * n`. */
  private def rank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p * n / 100 - 1e-9).toInt)

  /** Nearest-rank percentile `p` (0 < p ≤ 100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(rank(p, s.size) - 1)
  }
}
