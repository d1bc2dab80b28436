package perfbench

/** Checks of the benchmark's own arithmetic ([[Stats]]). Every benchmark
  * run calls [[run]] before it measures anything, and
  * `python3 perfbench/run.py --self-check` runs it alone.
  */
object SelfCheck {

  private def expect[T](what: String, got: T, want: T): Unit =
    if (got != want)
      throw new AssertionError(s"self-check $what: got $got, want $want")

  def run(): Unit = {
    // median
    expect("median odd", Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
    expect("median even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)

    // tail: the highest order statistic with at least ten samples above it
    val twenty = (1 to 20).map(_.toDouble)
    expect("tail n=20", Stats.tail(twenty), (10.0, 50, 20))
    val forty = (1 to 40).reverse.map(_.toDouble)
    expect("tail n=40", Stats.tail(forty), (30.0, 75, 40))
    expect("tail n=11", Stats.tail((1 to 11).map(_.toDouble)), (1.0, 9, 11))
    expect("tail n=10 falls back to max",
      Stats.tail((1 to 10).map(_.toDouble)), (10.0, 100, 10))
    val (v, _, n) = Stats.tail(forty)
    expect("tail has ten beyond", forty.count(_ > v), 10)
    expect("tail sample count", n, 40)

    // union of job intervals: overlaps count once, gaps not at all
    expect("union empty", Stats.unionLength(Nil), 0L)
    expect("union disjoint", Stats.unionLength(Seq((0L, 10L), (20L, 25L))), 15L)
    expect("union overlap",
      Stats.unionLength(Seq((0L, 10L), (5L, 15L), (15L, 20L))), 20L)
    expect("union nested", Stats.unionLength(Seq((0L, 100L), (10L, 20L))), 100L)
    expect("union unsorted",
      Stats.unionLength(Seq((30L, 40L), (0L, 10L), (5L, 12L))), 22L)
    expect("union clipped",
      Stats.unionLength(Seq((0L, 10L), (90L, 120L)), 5L, 100L), 15L)
    expect("union drops inverted", Stats.unionLength(Seq((10L, 5L))), 0L)

    // driver self time: wall minus the covered part of the step
    expect("self no jobs", Stats.driverSelfMs(100L, 200L, Nil), 100L)
    expect("self overlapping jobs",
      Stats.driverSelfMs(100L, 200L, Seq((110L, 150L), (140L, 160L))), 50L)
    expect("self job outside step",
      Stats.driverSelfMs(100L, 200L, Seq((50L, 120L), (190L, 260L))), 70L)
    expect("self never negative",
      Stats.driverSelfMs(100L, 200L, Seq((0L, 300L))), 0L)

    // failed_frac counting
    val t = new Stats.Tally
    Seq(true, true, false, true).foreach(t.record)
    expect("tally attempted", t.attempted, 4L)
    expect("tally failed", t.failed, 1L)
    expect("tally frac", t.failedFrac, 0.25)
  }

  def main(args: Array[String]): Unit = {
    run()
    println("self-check passed")
  }
}
