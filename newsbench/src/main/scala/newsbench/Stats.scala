package newsbench

/** Order statistics for the benchmark's timings. */
object Stats {
  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 1-based nearest rank of quantile `q` among `n` samples (tolerant of
    * `q * n` landing a rounding error above a whole number). */
  private def rank(q: Double, n: Int): Int = math.max(1, math.ceil(q * n - 1e-9).toInt)

  /** Median of weighted samples: the smallest value whose cumulative
    * weight reaches half the total. */
  def weightedMedian(xs: Seq[(Double, Double)]): Double = {
    require(xs.nonEmpty && xs.forall(_._2 > 0), "weighted median needs positive weights")
    val sorted = xs.sortBy(_._1)
    val half = sorted.map(_._2).sum / 2
    sorted.iterator.scanLeft((0.0, Double.NaN)) { case ((acc, _), (v, w)) => (acc + w, v) }
      .drop(1).find(_._1 >= half - 1e-12).get._2
  }

  /** Nearest-rank percentile, `q` in (0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty && q > 0 && q <= 1, s"percentile $q of ${xs.size} samples")
    xs.sorted.apply(rank(q, xs.size) - 1)
  }

  /** The highest of the usual reporting percentiles that leaves at least
    * `beyond` samples above it, if any does. */
  def highestSupported(n: Int, beyond: Int = 10): Option[Double] =
    Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)
      .find(q => n - rank(q, n) >= beyond)

  /** Least-squares slope of `(x, y)` points; 0 under two distinct x. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    val n = pts.size.toDouble
    val mx = pts.map(_._1).sum / n; val my = pts.map(_._2).sum / n
    val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (pts.isEmpty || sxx == 0) 0.0 else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }
}
