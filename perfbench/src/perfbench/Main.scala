package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, sum}

import graft.runtime.Pipeline

/** Stepped-pipeline benchmark driver: one client drives a standing
  * `Pipeline` in a closed loop (the next step starts only after the
  * previous step's output deltas are materialized, and after the ad-hoc
  * read that follows each step), then checks every view against a batch
  * recompute. Uses only `Pipeline.apply`, `step`, `adHoc` and `runBatch`.
  *
  * A run sets up once (apply, preload step, warm-up steps), then times at
  * least [[MinSteps]] steps and goes on while the next step is expected
  * to end within `--seconds`.
  *
  * Usage: perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *   --tmp-dir DIR --spans FILE [--commit C] [--source SHA]
  *
  * With `--trace 0` the last stdout line carries the end-to-end metrics;
  * with `--trace 1` it carries the per-layer metrics, taken from a Spark
  * listener over the traced steps (every other timed step; the untraced
  * ones give `trace.overhead_frac`), and the span log is written to the
  * `--spans` file.
  */
object Main {

  /** Timed steps per run at least, whatever `--seconds` says. */
  private val MinSteps = 3
  /** Every run must end well inside the caller's 180 s limit. */
  private val HardLimitS = 150.0

  private final case class StepSample(n: Long, latS: Double, rows: Long,
      emitRows: Long, startMs: Long, endMs: Long, traced: Boolean,
      gcS: Double, adhoc: Option[(Double, Double)])

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** (steal, total) CPU ticks from /proc/stat, where the host exposes
    * them: time a hypervisor gave the host's CPUs to other guests
    * slows every step and explains run-to-run drift.
    */
  private def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1)
      .map(_.toLong) finally src.close()
    (f(7), f.take(8).sum)
  }.toOption

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val w = Workload.all.find(_.name == opt.getOrElse("workload", ""))
      .getOrElse(sys.error(s"unknown workload; one of " +
        Workload.all.map(_.name).mkString(", ")))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val tmpDir = java.nio.file.Paths.get(opt("tmp-dir")).toAbsolutePath
    val runStart = now()
    SelfCheck.run()

    val cpus = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
      .getOrElse(Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmpDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmpDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"perfbench: session ready after ${secs(runStart, now())}%.2f s")
    val env = mutable.LinkedHashMap[String, String](
      "commit" -> Json.str(opt.getOrElse("commit", "unknown")),
      "source_sha256" -> Json.str(opt.getOrElse("source", "unknown")))
    val spansFile = java.nio.file.Paths.get(opt("spans")).toAbsolutePath
    val code = try run(spark, w, seed, seconds, trace, spansFile, runStart,
      cpus.toInt, env)
    finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, w: Workload, seed: Long,
      seconds: Double, trace: Boolean, spanFile: java.nio.file.Path,
      runStart: Long, cpus: Int,
      env: mutable.LinkedHashMap[String, String]): Int = {
    val sc = spark.sparkContext
    val tally = new Stats.Tally
    val spans = new Spans(trace)
    def wallMs(): Long = System.currentTimeMillis()
    def overLimit(): Boolean = secs(runStart, now()) > HardLimitS

    /** Steps the pipeline and forces every returned delta (the emit).
      * Returns (latency s, rows in the output deltas, start ms, end ms).
      */
    def stepAndEmit(pipe: Pipeline, deltas: Map[String, DataFrame])
        : (Double, Long, Long, Long) = {
      val n = pipe.stepCount
      val m0 = wallMs(); val t0 = now()
      val out = pipe.step(deltas)
      val m1 = wallMs()
      sc.setJobDescription(s"step#$n emit")
      val rows = try out.values.map(_.count()).sum
        finally sc.setJobDescription(null)
      val t1 = now(); val m2 = wallMs()
      spans.add(Span("step", s"step#$n", null, m0, m2))
      spans.add(Span("step.call", s"step#$n", "step", m0, m1))
      spans.add(Span("emit", s"step#$n", "step", m1, m2))
      (secs(t0, t1), rows, m0, m2)
    }

    // --- set-up: apply + preload + warm-up, once, in the fresh JVM (a run
    // cannot afford repeated set-ups: one step costs seconds here)
    val t0 = now(); val m0 = wallMs()
    val pipe = Pipeline(spark, Workload.program)
    val applyS = secs(t0, now())
    spans.add(Span("apply", "setup", null, m0, wallMs()))
    val gen = new Gen(spark, w, seed)
    val (preloadS, _, _, _) = stepAndEmit(pipe, gen.preload())
    tally.record(true)
    (1 to w.warmupSteps).foreach { _ =>
      stepAndEmit(pipe, gen.next()._1)
      tally.record(true)
    }
    val setupS = secs(t0, now())
    System.err.println(f"perfbench: set-up $setupS%.2f s (apply $applyS%.2f s, " +
      f"preload $preloadS%.2f s)")

    // --- timed closed loop
    val rec = new Recorder
    def adhocQueries = Seq(
      s"SELECT * FROM j WHERE k = ${gen.liveKey()}", "SELECT * FROM agg")
    val samples = mutable.ArrayBuffer[StepSample]()
    val loopStart = now()
    val ticks0 = cpuTicks()
    var stepFailed = false
    var i = 0
    // after MinSteps, a step starts only if it is expected to end inside
    // the window
    def expectedS: Double = if (samples.isEmpty) 0.0 else Stats.median(
      samples.toSeq.map(s => s.latS + s.adhoc.map(a => a._1 + a._2).getOrElse(0.0)))
    while (!stepFailed && (samples.size < MinSteps ||
        secs(loopStart, now()) + expectedS <= seconds) && !overLimit()) {
      val (deltas, rows) = gen.next()
      val traced = trace && i % 2 == 0
      if (traced) sc.addSparkListener(rec)
      val n = pipe.stepCount
      try {
        val g0 = gcMs()
        val (lat, emitRows, m0, m1) = stepAndEmit(pipe, deltas)
        val g1 = gcMs()
        tally.record(true)
        val adhoc = {
          val qs = adhocQueries
          sc.setJobDescription(s"adhoc#$n")
          val a0 = now(); val am0 = wallMs()
          val ok = try {
            val dfs = qs.map(pipe.adHoc)
            val a1 = now()
            dfs.foreach(_.collect())
            val a2 = now()
            Some((secs(a0, a1), secs(a1, a2)))
          } catch { case e: Exception =>
            System.err.println(s"perfbench: ad-hoc read after step#$n failed: $e")
            None
          } finally sc.setJobDescription(null)
          spans.add(Span("adhoc", s"step#$n", null, am0, wallMs()))
          tally.record(ok.isDefined)
          ok
        }
        samples += StepSample(n, lat, rows, emitRows, m0, m1, traced,
          (g1 - g0) / 1000.0, adhoc)
        System.err.println(f"perfbench: step#$n $lat%.3f s" +
          adhoc.map { case (a, b) => f", ad-hoc ${a + b}%.3f s" }.getOrElse(""))
      } catch { case e: Exception =>
        System.err.println(s"perfbench: step#$n failed: $e")
        tally.record(false)
        stepFailed = true
      }
      if (traced) {
        rec.drain(sc, n)
        sc.removeSparkListener(rec)
      }
      i += 1
    }

    val stealFrac = for ((s0, t0) <- ticks0; (s1, t1) <- cpuTicks()
      if t1 > t0) yield (s1 - s0).toDouble / (t1 - t0)

    // --- correctness: every view against a batch recompute
    val c0 = now()
    val views = if (stepFailed) Map.empty[String, DataFrame] else {
      val fresh = spark.newSession()
      Pipeline(fresh, Workload.program).runBatch(gen.netInputs(fresh))
    }
    // frames are built serially (adHoc rebinds session views); the
    // comparisons then run as concurrent Spark jobs
    val diffs = Workload.views.map { v =>
      v -> scala.util.Try {
        val got = pipe.adHoc(s"SELECT * FROM $v")
        val want = views(v).toDF(got.columns.toIndexedSeq: _*)
        // multiset difference in one pass: per distinct row, copies in
        // the view minus copies in the recompute (grouping keeps NULLs)
        got.withColumn("_side", lit(1L))
          .unionAll(want.withColumn("_side", lit(-1L)))
          .groupBy(got.columns.toIndexedSeq.map(col): _*)
          .agg(sum("_side").as("_diff"))
          .where(col("_diff") =!= 0L)
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(diffs.size)
    try {
      diffs.map { case (v, d) =>
        v -> pool.submit(() => d.map(_.count()))
      }.foreach { case (v, f) =>
        val ok = f.get() match {
          case scala.util.Success(0L) => true
          case scala.util.Success(n) =>
            System.err.println(s"perfbench: view $v differs from its batch " +
              s"recompute in $n distinct rows")
            false
          case scala.util.Failure(e) =>
            System.err.println(s"perfbench: view $v check failed: $e")
            false
        }
        tally.record(ok)
      }
    } finally pool.shutdown()

    System.err.println(f"perfbench: loop ${secs(loopStart, c0)}%.2f s, check ${secs(c0, now())}%.2f s")
    // --- report
    val timed = samples.toSeq
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    env ++= Seq(
      "workload" -> Json.str(w.name), "seed" -> seed.toString,
      "seconds" -> Json.num(seconds), "trace" -> trace.toString,
      "cores" -> cpus.toString,
      "view_parallelism" -> viewParallelism(spark).toString,
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "timed_steps" -> timed.size.toString,
      "host_steal_frac" -> stealFrac.map(Json.num).getOrElse("null"))
    if (timed.isEmpty) {
      System.err.println("perfbench: no timed step completed")
      return 1
    }
    if (!trace) {
      val lat = timed.map(_.latS)
      val (tailV, tailP, tailN) = Stats.tail(lat)
      metrics("events_per_s") = (timed.map(_.rows).sum / lat.sum, "1/s")
      metrics("step_p50_s") = (Stats.median(lat), "s")
      metrics("step_tail_s") = (tailV, "s")
      val adhoc = timed.flatMap(_.adhoc).map { case (a, b) => a + b }
      if (adhoc.nonEmpty) metrics("adhoc_p50_s") = (Stats.median(adhoc), "s")
      metrics("setup_s") = (setupS, "s")
      env("step_tail") = s"""{"percentile":$tailP,"samples":$tailN}"""
    } else {
      layerMetrics(rec, timed, applyS, preloadS, metrics)
      // end-of-run state: memory held by checkpoints, rows, heap after GC
      metrics("state.cached_mb") = (sc.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1048576.0, "MB")
      metrics("state.rows") = ((Workload.tables ++ Workload.views).map(r =>
        pipe.adHoc(s"SELECT COUNT(*) FROM $r").collect()(0).getLong(0))
        .sum.toDouble, "count")
      System.gc()
      val old = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
          p.getName.contains("Old"))
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
      metrics("jvm.heap_after_gc_mb") = (old / 1048576.0, "MB")
      rec.jobs.values.filter(j => j.kind == "step" &&
          timed.exists(s => s.traced && s.n == j.n))
        .foreach(j => spans.add(Span(s"job ${j.id} ${j.tag}",
          s"step#${j.n}", "step", j.startMs, j.endMs)))
      spans.write(spanFile)
      env("spans") = Json.str(spanFile.toString)
    }
    metrics("failed_frac") = (tally.failedFrac, "fraction")

    println("perfbench env " + env.map { case (k, v) =>
      s"${Json.str(k)}:$v" }.mkString("{", ",", "}"))
    metrics.foreach { case (k, (v, u)) => println(f"perfbench $k%-26s $v%.6f $u") }
    val reported = metrics.filter { case (k, _) =>
      (trace && k.contains('.')) || (!trace && !k.contains('.') &&
        k != "failed_frac") }
    val body = reported.map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
    println(s"""{"correct":${tally.failed == 0},"attempted":${tally.attempted},""" +
      s""""failed":${tally.failed},"metrics":${body.mkString("{", ",", "}")}}""")
    0
  }

  /** `viewParallelism` as `Pipeline` resolves it: SPARK_GRAFT_VIEWPAR,
    * else `spark.graft.pipeline.viewParallelism`, else cores/4 in [1, 8].
    */
  private def viewParallelism(spark: SparkSession): Int =
    sys.env.get("SPARK_GRAFT_VIEWPAR").map(_.toInt).getOrElse(
      spark.conf.getOption("spark.graft.pipeline.viewParallelism")
        .map(_.toInt).getOrElse(math.max(1,
          math.min(8, spark.sparkContext.defaultParallelism / 4))))

  /** Per-layer medians over the traced timed steps. */
  private def layerMetrics(rec: Recorder, timed: Seq[StepSample],
      applyS: Double, preloadS: Double,
      m: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    val traced = timed.filter(_.traced)
    val untraced = timed.filterNot(_.traced)
    val byStep = rec.jobs.values.filter(_.kind == "step").groupBy(_.n)
    val byAdhoc = rec.jobs.values.filter(_.kind == "adhoc").groupBy(_.n)
    def med(f: StepSample => Double): Double =
      Stats.median(traced.map(f))
    def jobsOf(s: StepSample): Seq[JobRec] =
      byStep.getOrElse(s.n, Nil).toSeq
    def busy(js: Seq[JobRec]): Double =
      Stats.unionLength(js.map(j => (j.startMs, j.endMs))) / 1000.0
    def phase(p: String)(s: StepSample): Seq[JobRec] =
      jobsOf(s).filter(_.phase == p)

    m("pipeline.apply_s") = (applyS, "s")
    m("pipeline.preload_s") = (preloadS, "s")
    Seq("integrate" -> "integrate", "sign_probe" -> "sign-probe",
        "restore_views" -> "restore-views", "warm_shared" -> "warm-shared",
        "view" -> "view", "emit" -> "emit").foreach { case (name, p) =>
      m(s"step.$name.jobs") = (med(s => phase(p)(s).size.toDouble), "count")
      m(s"step.$name.busy_s") = (med(s => busy(phase(p)(s))), "s")
      if (name == "integrate" || name == "view")
        m(s"step.$name.task_s") =
          (med(s => phase(p)(s).map(_.taskRunMs).sum / 1000.0), "s")
    }
    Workload.views.foreach { v =>
      def of(s: StepSample) = phase("view")(s).filter(_.arg == v)
      m(s"view.$v.jobs") = (med(s => of(s).size.toDouble), "count")
      m(s"view.$v.busy_s") = (med(s => busy(of(s))), "s")
    }
    m("emit.rows") = (med(_.emitRows.toDouble), "count")
    m("step.driver_self_s") = (med(s => Stats.driverSelfMs(s.startMs,
      s.endMs, jobsOf(s).map(j => (j.startMs, j.endMs))) / 1000.0), "s")
    def sum(f: JobRec => Double)(s: StepSample) = jobsOf(s).map(f).sum
    m("spark.jobs_per_step") = (med(s => jobsOf(s).size.toDouble), "count")
    m("spark.stages_per_step") = (med(sum(_.stages)), "count")
    m("spark.tasks_per_step") = (med(sum(_.tasks)), "count")
    m("spark.task_run_s") = (med(sum(_.taskRunMs / 1000.0)), "s")
    m("spark.task_cpu_s") = (med(sum(_.taskCpuNs / 1e9)), "s")
    m("spark.task_gc_s") = (med(sum(_.taskGcMs / 1000.0)), "s")
    m("spark.task_wait_s") = (med(sum(_.taskWaitMs / 1000.0)), "s")
    m("spark.shuffle_read_mb") = (med(sum(_.shuffleReadB / 1048576.0)), "MB")
    m("spark.shuffle_write_mb") = (med(sum(_.shuffleWriteB / 1048576.0)), "MB")
    // failed tasks: total over the traced steps, not a median
    m("spark.failed_tasks") =
      (traced.map(sum(_.failedTasks.toDouble)).sum, "count")
    val reads = traced.flatMap(s => s.adhoc.map(a => (s, a)))
    if (reads.nonEmpty) {
      m("adhoc.analyze_s") = (Stats.median(reads.map(_._2._1)), "s")
      m("adhoc.exec_s") = (Stats.median(reads.map(_._2._2)), "s")
      m("adhoc.jobs") = (Stats.median(reads.map { case (s, _) =>
        byAdhoc.getOrElse(s.n, Nil).size.toDouble }), "count")
    }
    // JVM GC: mean per timed step (most steps collect nothing)
    m("jvm.gc_s") = (timed.map(_.gcS).sum / timed.size, "s")
    m("trace.overhead_frac") =
      if (untraced.isEmpty) (0.0, "fraction")
      else {
        val u = Stats.median(untraced.map(_.latS))
        ((med(_.latS) - u) / u, "fraction")
      }
  }
}
