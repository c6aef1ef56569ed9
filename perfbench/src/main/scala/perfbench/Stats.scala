package perfbench

/** Order statistics used by the report. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean: each value weighs the same however large it is. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Nearest-rank `p`-th percentile of `n` samples: the sample at this
    * 1-based rank. */
  def rank(p: Int, n: Int): Int = math.max(1, (p * n + 99) / 100)

  /** The op-latency tail: the highest whole percentile that still has
    * at least `minBeyond` samples above it, its value, and the sample
    * count it was taken from. */
  final case class Tail(percentile: Int, value: Double, samples: Int, beyond: Int)

  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    (99 to 50 by -1).find(p => n - rank(p, n) >= minBeyond) match {
      case Some(p) => Tail(p, s(rank(p, n) - 1), n, n - rank(p, n))
      // too few samples for a percentile at or above the median to have
      // `minBeyond` beyond it: the maximum, stamped as such
      case None => Tail(100, s(n - 1), n, 0)
    }
  }

  /** Length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
