package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** One span of the traced run. Times are epoch microseconds, so spans the
  * runner opens and the job/stage times the listener reports share a clock. */
final case class Span(id: Long, parent: Long, name: String, t0: Long, t1: Long,
    attrs: Map[String, Any])

/** Spans around the runner's calls into each layer: op → build / exec /
  * dml → plan phase, and (from [[JobRecorder]]) job → stage. Kept in memory
  * and written out when the run ends. When disabled every call is a plain
  * pass-through, so untraced passes run exactly the untraced code path. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()
  private var nextId = 1L
  private var stack: List[Long] = Nil
  val spans = ArrayBuffer.empty[Span]

  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(JobRecorder.spanKey, id.toString)
      val t0 = nowUs
      try body
      finally {
        spans += Span(id, parent, name, t0, nowUs, attrs)
        stack = stack.tail
        sc.setLocalProperty(JobRecorder.spanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Analysis, optimization and physical planning of `df`, as spans under
    * the innermost open span (analysis runs when the DataFrame is built,
    * the other two when it is first executed). */
  def planPhases(df: DataFrame, parentOf: Long => Long): Unit = if (enabled) {
    df.queryExecution.tracker.phases.foreach { case (phase, s) =>
      val t0 = s.startTimeMs * 1000L
      spans += Span(nextId, parentOf(t0), s"plan.$phase", t0, s.endTimeMs * 1000L, Map.empty)
      nextId += 1
    }
  }

  /** The id of the most recent span with `name` that covers `t`, else `dflt`. */
  def covering(name: String, t: Long, dflt: Long): Long =
    spans.reverseIterator.find(s => s.name == name && s.t0 <= t && t <= s.t1)
      .map(_.id).getOrElse(dflt)

  def lastId: Long = nextId - 1
}

object JobRecorder { val spanKey = "perfbench.span" }

/** Records every job started under a runner span, its stages and their
  * task metrics, plus storage blocks dropped while an operation ran. */
final class JobRecorder extends SparkListener {
  final class Job(val id: Int, val parent: Long, val t0: Long) { var t1 = t0; var ok = true }
  final class Stage(val id: Int, val attempt: Int, val job: Int) {
    var t0 = 0L; var t1 = 0L; var numTasks = 0
    val m = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  @volatile var countEvictions = false
  @volatile var evicted = 0L

  private def stage(id: Int, attempt: Int): Option[Stage] =
    Option(stageJob.get(id)).map(j => stages.computeIfAbsent((id, attempt), _ => new Stage(id, attempt, j)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(JobRecorder.spanKey))).foreach { p =>
      jobs.put(e.jobId, new Job(e.jobId, p.toLong, e.time * 1000L))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach { j =>
    j.t1 = e.time * 1000L
    j.ok = e.jobResult == JobSucceeded
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stage(i.stageId, i.attemptNumber()).foreach { s =>
      s.t0 = i.submissionTime.getOrElse(0L) * 1000L
      s.t1 = i.completionTime.getOrElse(0L) * 1000L
      s.numTasks = i.numTasks
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stage(e.stageId, e.stageAttemptId).foreach { s =>
    val m = s.m
    m("tasks") += 1
    if (e.reason != Success) m("failed_tasks") += 1
    if (e.taskInfo.attemptNumber > 0) m("retried_tasks") += 1
    Option(e.taskMetrics).foreach { t =>
      m("task_run_s") += t.executorRunTime / 1e3
      m("gc_s") += t.jvmGCTime / 1e3
      m("shuffle_read_bytes") += t.shuffleReadMetrics.totalBytesRead
      m("shuffle_fetch_wait_s") += t.shuffleReadMetrics.fetchWaitTime / 1e3
      m("shuffle_write_bytes") += t.shuffleWriteMetrics.bytesWritten
      m("spill_bytes") += t.memoryBytesSpilled + t.diskBytesSpilled
      m("peak_exec_bytes") = math.max(m("peak_exec_bytes"), t.peakExecutionMemory.toDouble)
      m("input_bytes") += t.inputMetrics.bytesRead
      m("input_rows") += t.inputMetrics.recordsRead
      m("output_bytes") += t.outputMetrics.bytesWritten
      m("output_rows") += t.outputMetrics.recordsWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    if (countEvictions && !e.blockUpdatedInfo.storageLevel.isValid) evicted += 1

  /** Job and stage spans, parented on the runner span each job ran under. */
  def spans(firstId: Long): Seq[Span] = {
    val js = jobs.values.asScala.toSeq.sortBy(_.id)
    val jobSpanId = js.zipWithIndex.map { case (j, i) => j.id -> (firstId + i) }.toMap
    val jobSpans = js.map(j => Span(jobSpanId(j.id), j.parent, "job", j.t0, j.t1,
      Map("job_id" -> j.id, "ok" -> j.ok)))
    val stageSpans = stages.values.asScala.toSeq.filter(_.t1 > 0).sortBy(s => (s.id, s.attempt))
      .zipWithIndex.map { case (s, i) =>
        Span(firstId + js.size + i, jobSpanId(s.job), "stage", s.t0, s.t1,
          s.m.toMap ++ Map("stage_id" -> s.id, "attempt" -> s.attempt, "num_tasks" -> s.numTasks))
      }
    jobSpans ++ stageSpans
  }
}
