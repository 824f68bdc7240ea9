package perfbench

/** Order statistics over one run's samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val v = xs.sorted
      val pos = q * (v.size - 1)
      val i = pos.toInt
      if (i + 1 >= v.size) v.last else v(i) + (pos - i) * (v(i + 1) - v(i))
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p50, p90, p99 and p99.9 that has at least `beyond`
    * of `n` samples above it, if any does. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Seq(99.9, 99.0, 90.0, 50.0).find(p => n * (1 - p / 100) >= beyond - 1e-9)

  /** Metric and unit names the result may carry. */
  def validName(s: String): Boolean =
    s.nonEmpty && s.length <= 64 && s.head.isLetterOrDigit &&
      s.forall(c => c.isLetterOrDigit && c < 128 || c == '_' || c == '.' || c == '-')
}
