package cdcbench

/** Order statistics for the benchmark's latency samples. */
object Stats {

  /** Percentile candidates for a tail, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples strictly beyond the `p`-th percentile of `n` samples under
    * the nearest-rank definition: the value sits at rank ceil(p/100 * n),
    * so n minus that rank samples lie above it.
    */
  def beyond(n: Int, p: Double): Int =
    n - math.ceil(p / 100.0 * n - 1e-9).toInt

  /** The highest candidate percentile that still has at least `minBeyond`
    * samples beyond it, or None when `n` is too small for any.
    */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    TailCandidates.find(p => beyond(n, p) >= minBeyond)

  /** Nearest-rank percentile of `xs` (not required to be sorted). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.size - 1e-9).toInt)
    s(rank - 1)
  }

  /** Median as the mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** Latency summary: median, tail (percentile and value, when the sample
    * count allows one), sample count, and the first sample beside the
    * median of the rest (first-execution cost kept visible).
    */
  final case class Summary(n: Int, p50: Double, tailP: Option[Double],
                           tail: Option[Double], first: Double,
                           steadyP50: Double)

  def summary(xs: Seq[Double]): Option[Summary] =
    if (xs.isEmpty) None
    else {
      val tp = tailPercentile(xs.size)
      Some(Summary(xs.size, median(xs), tp, tp.map(percentile(xs, _)),
        xs.head, if (xs.size > 1) median(xs.tail) else xs.head))
    }
}
