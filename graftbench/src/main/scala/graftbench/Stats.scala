package graftbench

/** The summary arithmetic the report relies on, kept pure so the
  * benchmark's own tests can pin it on synthetic inputs.
  */
object Stats {

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail figure and where it sits: `percentile` of `n` samples. */
  final case class Tail(percentile: Double, value: Double, n: Int)

  /** The highest percentile that still has at least ten samples above
    * it: the sample of rank n-10 (1-based) of n sorted samples. With
    * ten or fewer samples no percentile qualifies, and the maximum is
    * reported as p100 so the sample count is never hidden.
    */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    val rank = if (n > 10) n - 10 else n
    Tail(100.0 * rank / n, s(rank - 1), n)
  }

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Wall time in [lo, hi] during which none of `busy` was running. */
  def gap(busy: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    math.max(0L, hi - lo) - covered(busy, lo, hi)
}
