package perfbench

/** Order statistics for the benchmark's reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of all samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples that lie beyond the nearest-rank `p` percentile. */
  private def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** A tail percentile is only reported when at least ten samples lie
    * beyond it; with fewer, it would be set by a handful of outliers.
    */
  val MinBeyond = 10

  def tail(xs: Seq[Double], p: Double): Either[String, Double] =
    if (beyond(xs.size, p) < MinBeyond)
      Left(f"p$p%.1f of ${xs.size} samples leaves ${beyond(xs.size, p)} beyond it (need $MinBeyond)")
    else Right(percentile(xs, p))
}
