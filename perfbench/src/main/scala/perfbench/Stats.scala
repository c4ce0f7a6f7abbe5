package perfbench

/** Order statistics for latency samples. */
object Stats {

  /** Nearest-rank percentile: the smallest sample such that at least `p`
    * percent of the samples are at or below it. Always an observed value. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val sorted = xs.sorted
    sorted(math.max(0, math.ceil(p / 100 * sorted.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** How many samples lie above the nearest-rank `p` percentile: the run
    * record gives it beside the percentile, which rests on those few. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100 * n).toInt

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
