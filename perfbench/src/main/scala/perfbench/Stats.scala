package perfbench

/** Order statistics over op latencies. Tail percentiles are nearest-rank
  * (the value reported is one of the measured samples); the median of an
  * even count is the mean of the two middle samples.
  */
object Stats {

  /** Nearest-rank percentile of `xs` (0 < p <= 1). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile $p out of (0, 1]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Geometric mean: a summary of per-kind latencies in which every kind
    * weighs the same and a change of x% in one kind moves it the same
    * whatever that kind's absolute latency (the TPC-H power metric's form).
    */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Samples strictly beyond the nearest-rank p-percentile of n samples. */
  def samplesBeyond(n: Int, p: Double): Int = n - math.ceil(p * n).toInt

  /** The tail percentiles a report may use, highest last. */
  val tailCandidates: Seq[Double] = Seq(0.5, 0.75, 0.9, 0.95, 0.99, 0.999)

  /** Highest candidate percentile with at least `minBeyond` samples beyond
    * it, or None when even the median has fewer.
    */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    tailCandidates.filter(p => samplesBeyond(n, p) >= minBeyond).lastOption
}
