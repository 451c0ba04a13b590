package perfbench

/** Order statistics for the benchmark's reported timings. */
object Stats {

  /** Linear interpolation between the closest ranks (the "R-7" rule
    * numpy and Python's `statistics.quantiles(method="inclusive")` use).
    */
  def percentile(xs: Iterable[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.toArray.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Iterable[Double]): Double = percentile(xs, 50)

  /** Samples a percentile needs so that at least ten samples lie beyond
    * it: a tail percentile is reported only when it rests on that many.
    */
  def samplesFor(p: Double): Int =
    math.ceil(10.0 * 100.0 / (100.0 - p) - 1e-9).toInt
}
