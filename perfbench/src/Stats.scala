package perfbench

/** Order statistics for timing samples.
  *
  * A percentile is only reported when at least [[MinBeyond]] samples lie
  * beyond it, so a short run names the highest percentile its sample
  * supports instead of printing an unsupported p90.
  */
object Stats {
  val MinBeyond = 10
  val Ladder: Seq[Int] = Seq(50, 75, 90, 95, 99)

  /** Linear-interpolated percentile (p in 0..100) of an unsorted sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Number of samples strictly above the p-th percentile's rank. */
  def beyond(n: Int, p: Int): Int = n - math.ceil(n * p / 100.0).toInt

  /** Highest percentile of [[Ladder]] with at least [[MinBeyond]] samples
    * beyond it, or None when even the median is unsupported. */
  def supportedPercentile(n: Int): Option[Int] =
    Ladder.filter(p => beyond(n, p) >= MinBeyond).lastOption

  /** A timing summary: the median, the highest supported tail percentile
    * and the sample count behind both. */
  final case class Summary(n: Int, p50: Double, tailP: Option[Int], tail: Option[Double])

  def summary(xs: Seq[Double]): Summary = {
    val tp = supportedPercentile(xs.size)
    Summary(xs.size, if (xs.isEmpty) Double.NaN else median(xs), tp,
      tp.map(p => percentile(xs, p)))
  }
}
