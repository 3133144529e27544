package perfbench

/** Order statistics the benchmark reports. Percentiles use the
  * nearest-rank definition: the p-th percentile of n sorted samples is
  * the sample at rank ceil(p/100 * n). */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** 1-based nearest rank of the p-th percentile among n samples. */
  def rank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(p, xs.size) - 1)
  }

  /** Samples strictly above the p-th percentile's rank. */
  def beyond(p: Double, n: Int): Int = n - rank(p, n)

  /** A tail percentile is reported only when at least this many samples
    * lie beyond it; with fewer, it is one or two unlucky samples. */
  val MinBeyond = 10

  def valid(p: Double, n: Int): Boolean = beyond(p, n) >= MinBeyond

  /** The highest of `candidates` that is valid for these samples, with
    * its value. None when even the lowest candidate lacks the tail. */
  def highestValid(xs: Seq[Double],
      candidates: Seq[Double] = Seq(99.0, 95.0, 90.0, 75.0, 50.0))
      : Option[(Double, Double)] =
    candidates.sorted.reverse.find(valid(_, xs.size))
      .map(p => p -> percentile(xs, p))
}
