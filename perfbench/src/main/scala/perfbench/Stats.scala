package perfbench

/** Order statistics for the benchmark's reported timings. */
object Stats {

  /** Linear-interpolated quantile (`q` in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Candidate tail percentiles, highest first. */
  val TailGrid: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest grid percentile with at least ten samples beyond it; the
    * median when the sample is too small for any of them.
    */
  def tailLevel(n: Int): Double =
    TailGrid.find(q => n * (1.0 - q) >= 10.0 - 1e-9).getOrElse(0.5)

  /** (percentile level, value) of the reported tail. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q = tailLevel(xs.length)
    (q, quantile(xs, q))
  }

  /** Least-squares slope of `ys` against their positions 0, 1, 2, ... */
  def slope(ys: Seq[Double]): Double =
    if (ys.length < 2) 0.0
    else {
      val n = ys.length
      val mx = (n - 1) / 2.0
      val my = ys.sum / n
      val num = ys.indices.map(i => (i - mx) * (ys(i) - my)).sum
      val den = ys.indices.map(i => (i - mx) * (i - mx)).sum
      num / den
    }
}
