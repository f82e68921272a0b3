package perfbench

/** Order statistics for the benchmark's timings. */
object Stats {
  /** Linear-interpolated percentile `p` (0-100) of `xs`; NaN if empty. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = (p / 100.0) * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of the standard tail percentiles (99.9, 99, 95, 90,
    * 75, 50) that still has at least `beyond` samples above it, so a
    * tail figure is never read off a handful of samples. Returns the
    * percentile rank and its value; (50, median) when no tail rank is
    * supported. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    val ranks = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
    // samples above rank r, in exact tenths of a percent (1 - 0.9 is
    // not 0.1 in floating point)
    def above(r: Double): Double = xs.size * (1000 - math.round(r * 10)) / 1000.0
    ranks.find(r => above(r) >= beyond) match {
      case Some(r) => (r, percentile(xs, r))
      case None => (50.0, median(xs))
    }
  }
}
