package perfbench

/** Order statistics the benchmark reports. Pure functions, so the
  * self-checks can pin their behaviour. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency with the percentile it stands for and the sample
    * size, so a reader can see how far into the tail it reaches. */
  final case class Tail(value: Double, pct: Double, n: Int)

  /** The highest percentile that still has at least `beyond` samples
    * above it: the order statistic at 0-based index `n - 1 - beyond`,
    * which is percentile `(n - beyond) / n`. A tail below the median
    * says nothing the median does not, so when the sample is too small
    * for that (`n < 2 * beyond`) the maximum is reported instead, as
    * p100, and the caller prints the percentile next to the value. */
  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n < 2 * beyond) Tail(s.last, 100.0, n)
    else Tail(s(n - 1 - beyond), 100.0 * (n - beyond) / n, n)
  }

  /** Open-loop latency: from the time an input was DUE to the commit
    * that made it visible, never from the time the generator actually
    * sent it, so a generator held up by a stall still bills the stall
    * to every input due during it. `committedThrough(b)` is the
    * highest input index covered by batch `b`; batches are in commit
    * order. Inputs no batch covers get no latency (the caller counts
    * them as failed). */
  def openLoopLatencies(dueNs: IndexedSeq[Long],
      batches: Seq[(Long, Long)]): IndexedSeq[Option[Double]] = {
    // batches: (committedThroughIndex, commitNs), ascending by commit
    dueNs.indices.map { i =>
      batches.find(_._1 >= i).map { case (_, commitNs) =>
        (commitNs - dueNs(i)) / 1e9
      }
    }
  }
}
