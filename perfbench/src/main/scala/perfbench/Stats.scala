package perfbench

/** Order statistics used for every reported timing. */
object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of the usual percentiles that still has at least ten
    * samples beyond it, for a sample count fixed before the run. */
  def tailPercentile(n: Int): Double =
    Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5).find(p => n * (1 - p) >= 10).getOrElse(0.5)

  def sum(xs: Iterable[Double]): Double = xs.foldLeft(0.0)(_ + _)

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Length of [s, e) covered by the union of `iv`. */
  def covered(s: Double, e: Double, iv: Seq[(Double, Double)]): Double =
    unionLength(iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) })
}
