package cdcbench

/** Order statistics for latency samples. */
object Stats {

  /** Linear-interpolated percentile `p` (0..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Candidate tail percentiles, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest candidate percentile with at least `beyond` samples above
    * it, or None when even the median has fewer. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    TailCandidates.find(p => n * (100.0 - p) / 100.0 + 1e-9 >= beyond) // 1e-9: 100 - 99.9 < 0.1

  /** (percentile, value) of the tail as [[tailPercentile]] picks it. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    tailPercentile(xs.size).map(p => p -> percentile(xs, p))
}
