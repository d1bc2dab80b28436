package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job as the listener saw it. `tag` is the job description
  * with its `step#N ` / `adhoc#N ` prefix removed (e.g. `view agg`).
  */
final case class JobRec(id: Int, kind: String, n: Long, tag: String,
    startMs: Long, var endMs: Long = -1L, var stages: Int = 0,
    var tasks: Int = 0, var failedTasks: Int = 0, var taskRunMs: Long = 0L,
    var taskCpuNs: Long = 0L, var taskGcMs: Long = 0L,
    var taskWaitMs: Long = 0L, var shuffleReadB: Long = 0L,
    var shuffleWriteB: Long = 0L) {
  def phase: String = tag.takeWhile(_ != ' ')
  def arg: String = tag.dropWhile(_ != ' ').trim
}

/** Groups Spark jobs by the `step#N <phase>` descriptions that
  * `Pipeline.step` sets (and the `step#N emit` / `adhoc#N` descriptions
  * this benchmark sets around its own calls), with their stage and task
  * metrics. Events arrive on Spark's listener-bus thread; the main thread
  * reads [[jobs]] only after [[drain]] has seen its marker job end, which
  * orders every earlier event before the read.
  */
final class Recorder extends SparkListener {
  private val Desc = """^(step|adhoc)#(\d+)\s*(.*)$""".r
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()
  private val stageSubmit = mutable.HashMap[(Int, Int), Long]()
  private var markJob = -1
  @volatile private var mark: String = null
  @volatile private var drained: String = null

  private def description(p: java.util.Properties): String =
    Option(p).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    description(e.properties) match {
      case Desc(kind, n, tag) =>
        val r = JobRec(e.jobId, kind, n.toLong, tag, e.time)
        jobs(e.jobId) = r
        e.stageIds.foreach(stageJob(_) = r)
      case d if d == mark => markJob = e.jobId
      case _ =>
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    if (e.jobId == markJob) drained = mark
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    si.submissionTime.foreach(t =>
      stageSubmit((si.stageId, si.attemptNumber())) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).foreach { r =>
      r.tasks += 1
      if (e.reason != org.apache.spark.Success) r.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.taskRunMs += m.executorRunTime
        r.taskCpuNs += m.executorCpuTime
        r.taskGcMs += m.jvmGCTime
        r.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      }
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach(s =>
        r.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
    }

  /** Blocks until every listener event posted before this call has been
    * delivered: runs a one-task marker job and waits for its end event.
    */
  def drain(sc: SparkContext, id: Long): Unit = {
    val m = s"perfbench-drain-$id"
    mark = m
    sc.setJobDescription(m)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (drained != m && System.nanoTime() < deadline) Thread.sleep(1)
    if (drained != m)
      throw new IllegalStateException("listener bus did not drain in 30 s")
  }
}

/** A timed region of the run. Spans of one step share `trace`
  * (`step#N`); `parent` names the span in the same trace that contains
  * this one (job spans hang under their step's `step` span).
  */
final case class Span(name: String, trace: String, parent: String,
    startMs: Long, endMs: Long) {
  def json: String =
    s"""{"trace":${Json.str(trace)},"name":${Json.str(name)},""" +
      s""""parent":${Option(parent).map(Json.str).getOrElse("null")},""" +
      s""""start_ms":$startMs,"end_ms":$endMs}"""
}

/** In-memory span log, written out once when the run ends. */
final class Spans(enabled: Boolean) {
  private val buf = mutable.ArrayBuffer[Span]()
  def add(s: => Span): Unit = if (enabled) buf += s
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      buf.map(_.json).mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
