package graft.perfbench

/** Order statistics for the benchmark's latency metrics. */
object Stats {

  /** Nearest-rank percentile (`p` in 0..100) of unsorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Candidate tail percentiles, highest first. */
  val TailLadder: Seq[Int] = Seq(99, 95, 90, 75, 50)

  /** The tail percentile a sample of `n` supports: the highest ladder
    * percentile that leaves at least 10 samples beyond it, so the tail
    * is never decided by a handful of outliers. 150 samples give p90
    * (15 beyond; p95 would leave 7.5), 250 give p95, and anything
    * under 20 falls back to the median.
    */
  def tailPercentile(n: Int): Int =
    TailLadder.find(p => n * (100 - p) / 100.0 >= 10.0).getOrElse(50)

  def tail(xs: Seq[Double]): Double = percentile(xs, tailPercentile(xs.size))

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}
