package perfbench

/** Order statistics for timing samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile `p` (0 < p < 100), or None unless at least
    * `minBeyond` samples lie beyond it: with fewer, the tail is a handful
    * of points and the figure says nothing stable about it. */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] = {
    require(p > 0 && p < 100, s"percentile $p outside (0, 100)")
    val n = xs.size
    val rank = math.ceil(p / 100.0 * n).toInt
    if (n == 0 || n - rank < minBeyond) None else Some(xs.sorted.apply(rank - 1))
  }
}
