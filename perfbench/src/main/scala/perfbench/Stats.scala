package perfbench

/** Summary statistics of one run's samples. */
object Stats {

  /** Samples a tail percentile must leave beyond it. */
  val TailSamplesBeyond = 10

  /** The highest percentile reported as a tail. */
  val TailCap = 0.90

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Sorted index of the tail sample: the p90 sample when at least ten
    * samples lie beyond it, otherwise the highest sample that still has
    * ten beyond it. With ten or fewer samples no such sample exists and
    * the maximum stands in. */
  def tailIndex(n: Int): Int = {
    require(n > 0, "tail of no samples")
    val p90 = math.ceil(TailCap * n).toInt - 1
    val lastWithTenBeyond = n - 1 - TailSamplesBeyond
    if (lastWithTenBeyond < 0) n - 1 else math.min(p90, lastWithTenBeyond)
  }

  /** (value, percentile) of the tail sample per [[tailIndex]]. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val i = tailIndex(s.size)
    (s(i), (i + 1).toDouble / s.size)
  }
}
