package graft.perfbench

/** Order statistics for the benchmark's timings.
  *
  * Percentiles use the nearest-rank rule: the p-th percentile of n sorted
  * samples is the sample at rank ceil(p/100 * n), so exactly
  * n - ceil(p/100 * n) samples lie beyond it. A tail percentile is only
  * reported when at least [[MinBeyond]] samples lie beyond it.
  */
object Stats {
  val MinBeyond = 10
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  private def rank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples strictly beyond the p-th percentile of n samples. */
  def beyond(p: Double, n: Int): Int = n - rank(p, n)

  /** Nearest-rank percentile of `xs` (unsorted). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(p, s.size) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** The highest ladder percentile with at least [[MinBeyond]] samples
    * beyond it, or None when even the median lacks them. */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.filter(p => beyond(p, n) >= MinBeyond).lastOption
}
