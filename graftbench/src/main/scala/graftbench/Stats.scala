package graftbench

/** Order statistics for the report. Percentiles interpolate linearly
  * between closest ranks (numpy's default), so a percentile of one
  * sample is that sample. */
object Stats {
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The percentiles a tail latency is reported at, lowest first. */
  val ladder: Seq[Double] = Seq(50, 90, 99, 99.9)

  /** The highest percentile on [[ladder]] that has at least
    * `beyond` samples above it among `n`, or None when even the median
    * has fewer. A tail read off fewer samples is one outlier's value. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    ladder.filter(p => n * (100 - p) / 100.0 >= beyond - 1e-9).lastOption
}
