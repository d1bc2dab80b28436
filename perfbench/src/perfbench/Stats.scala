package perfbench

/** The benchmark's own arithmetic, kept free of Spark so that
  * [[SelfCheck]] can pin it down on hand-made inputs.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency: the highest order statistic with at least ten samples
    * above it. Returns (value, percentile label, sample count); the label
    * is the share of samples at or below the value, in percent. With ten
    * samples or fewer no such statistic exists, and the maximum is
    * returned with label 100.
    */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n <= 10) (s.last, 100, n)
    else {
      val i = n - 11
      (s(i), (100L * (i + 1) / n).toInt, n)
    }
  }

  /** Total length covered by a set of closed intervals [start, end],
    * counting overlapping stretches once. Intervals are first clipped to
    * [lo, hi]; an interval with end < start is ignored.
    */
  def unionLength(iv: Seq[(Long, Long)], lo: Long = Long.MinValue,
      hi: Long = Long.MaxValue): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b >= a }
      .sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = 0L
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open) { curA = a; curB = b; open = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (open) total += curB - curA
    total
  }

  /** Driver-only time of a step: its wall time minus the part of the step
    * interval [startMs, endMs] that some Spark job covers. Never negative.
    */
  def driverSelfMs(startMs: Long, endMs: Long,
      jobs: Seq[(Long, Long)]): Long =
    math.max(0L, (endMs - startMs) - unionLength(jobs, startMs, endMs))

  /** Outcome tally of the run's operations (steps, ad-hoc reads, view
    * checks). An operation is attempted once and either succeeds or fails.
    */
  final class Tally {
    private var attempted0 = 0L
    private var failed0 = 0L
    def attempted: Long = attempted0
    def failed: Long = failed0
    def record(ok: Boolean): Unit = {
      attempted0 += 1
      if (!ok) failed0 += 1
    }
    def failedFrac: Double =
      if (attempted0 == 0) 0.0 else failed0.toDouble / attempted0
  }
}
