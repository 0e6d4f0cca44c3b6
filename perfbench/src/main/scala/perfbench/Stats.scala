package perfbench

object Stats {
  /** Linear-interpolation percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val r = (p / 100.0) * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Mean of the slowest third (at least one) of the samples: the tail
    * measured over several samples, so no single slow op sets it. */
  def tailMean(xs: Seq[Double]): Double = {
    val k = math.max(1, (xs.size + 2) / 3)
    mean(xs.sorted(Ordering[Double].reverse).take(k))
  }
}
