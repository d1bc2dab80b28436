package graft.queries

import org.apache.spark.sql.SparkSession

/** Bounded driver-side parallelism for INDEPENDENT corpus units.
  *
  * The conformance/replay harnesses evaluate hundreds of fixture-sized
  * units whose cost is the per-job driver floor (analysis + scheduling
  * + task-launch round-trips), not executor compute. Spark's scheduler
  * runs concurrent jobs happily (guide §2.6 "overlap independent
  * jobs"); submitting units from a small pool overlaps one unit's
  * driver-side latency with another's task execution. Results are
  * graded as MULTISETS (the driver sorts before hashing), so evaluation
  * order is free.
  *
  * Width scales with the session's core count instead of a local[32]
  * constant: at the bench's 32 cores 8 units run in flight; at the
  * driver's low-core scaling run the width drops with it.
  */
private[graft] object Par {

  /** Pool width for a session: cores/4 clamped to [2, 8]. */
  def width(spark: SparkSession): Int =
    math.max(2, math.min(8, spark.sparkContext.defaultParallelism / 4))

  /** Map `f` over `items` on a bounded pool, preserving input order of
    * results; the first failure propagates (pool torn down either way).
    */
  def map[A, B](items: Seq[A], par: Int)(f: A => B): Seq[B] = {
    if (items.size <= 1 || par <= 1) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(par, items.size))
    try {
      val futs = items.map { a =>
        pool.submit(new java.util.concurrent.Callable[B] {
          def call(): B = f(a)
        })
      }
      futs.map { fu =>
        try fu.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } finally {
      pool.shutdownNow()
      ()
    }
  }

  /** A child session for an isolated unit: fresh temp-view catalog and
    * function registry over the shared SparkContext, with the scoped
    * fixture-sized confs the corpus harnesses pin (a new session starts
    * from the BUILDER conf, not the parent's runtime conf).
    */
  def childSession(parent: SparkSession,
      confs: (String, String)*): SparkSession = {
    val s = parent.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}
