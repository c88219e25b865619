package perfbench

/** The benchmark's arithmetic, kept in one place so it can be tested. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Nearest-rank percentile: the ceil(p/100 · n)-th smallest value, so
    * p89 of 97 samples is the 87th value (10 lie beyond it).
    */
  def nearestRank(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100)
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length - 1e-9).toInt
    s(math.max(1, rank) - 1)
  }

  /** max ÷ median, the skew of a set of task times (1 = even). */
  def skew(xs: Seq[Double]): Double = {
    val m = median(xs)
    if (xs.isEmpty || m <= 0) 1.0 else xs.max / m
  }
}
