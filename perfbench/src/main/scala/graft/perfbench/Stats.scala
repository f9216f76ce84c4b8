package graft.perfbench

/** Latency statistics shared by every workload. Percentiles use the
  * nearest-rank definition on the sorted samples, so each reported value
  * is one measured sample. */
object Stats {

  /** Samples needed beyond the tail percentile. */
  val TailBeyond = 10

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(p, xs.size) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** The tail rule: the highest percentile with at least [[TailBeyond]]
    * samples above it, i.e. the (TailBeyond+1)-th largest sample, at
    * percentile 100 * (n - TailBeyond) / n. Below 2 * TailBeyond samples
    * no percentile from the median up qualifies, and the tail is the
    * maximum (percentile 100). */
  def tailPercentile(n: Int): Double =
    if (n < 2 * TailBeyond) 100.0 else 100.0 * (n - TailBeyond) / n

  /** (percentile, value) of the tail. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val n = xs.size
    (tailPercentile(n), xs.sorted.apply(if (n < 2 * TailBeyond) n - 1 else n - TailBeyond - 1))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
