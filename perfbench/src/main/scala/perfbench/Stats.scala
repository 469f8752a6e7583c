package perfbench

/** Order statistics used by every metric the benchmark reports. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.max(1, rank) - 1)
  }

  /** Samples strictly above the nearest-rank `p`-th percentile. */
  def samplesAbove(xs: Seq[Double], p: Double): Int = {
    val cut = percentile(xs, p)
    xs.count(_ > cut)
  }

  /** Quartiles exactly as Python's `statistics.quantiles(xs, n=4)`
    * (the default "exclusive" method). Needs at least two samples. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.size >= 2, "quartiles need at least two samples")
    val d = xs.sorted.toIndexedSeq
    val ld = d.size
    val m = ld + 1
    def q(i: Int): Double = {
      val j = math.min(ld - 1, math.max(1, i * m / 4))
      val delta = i * m - j * 4
      (d(j - 1) * (4 - delta) + d(j) * delta) / 4
    }
    (q(1), q(2), q(3))
  }
}
