package perfbench

/** Order statistics over operation and pass times. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that has at least ten samples beyond it, as a
    * percent, or None when there are ten samples or fewer.
    */
  def supportedPercentile(n: Int): Option[Double] =
    if (n < 11) None else Some(100.0 * (n - 10) / n)
}
