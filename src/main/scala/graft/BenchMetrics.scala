package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query task-level telemetry for the bench (VERDICT r7 #1): wall-clock
  * alone cannot distinguish "the plan did more work" from "the machine was
  * busy elsewhere" from "the JVM was collecting garbage" from "the hash
  * agg/join spilled". The discriminators, all from `TaskMetrics`:
  *
  *  - `runMs` (sum of executorRunTime): CPU-time actually spent in tasks.
  *    wall ≫ run/cores ⇒ executors sat idle (external contention,
  *    scheduler stall, driver-side planning); run ≈ wall×cores ⇒ the
  *    query really computed that long.
  *  - `gcMs`: JVM GC time attributed to tasks — the heap-pressure signal.
  *  - `memSpill`/`diskSpill` bytes: hash-agg/join/sort spill — the
  *    execution-memory-pressure signal.
  *  - `peakExecMem`: max single-task execution memory — how close the
  *    heaviest operator runs to its memory budget.
  *  - shuffle read/write bytes + task count: plan-shape sanity.
  *
  * Round-10 additions (VERDICT r9 #1 — the driver's r9 run showed task
  * counts ballooning 3–7× on identical plans, concentrated in
  * localCheckpoint-heavy queries, with run core-seconds inflating in
  * step; wall/run/gc alone cannot separate the candidate mechanisms):
  *
  *  - `failed` / `retried`: task attempts that did not succeed, and
  *    re-attempts (attemptNumber > 0) — nonzero ⇒ the scheduler re-ran
  *    work (OOM-killed/errored tasks, speculative or retry attempts).
  *  - `stageRetries`: stage re-submissions (attemptNumber > 0) — the
  *    fetch-failure / stage-re-execution signal.
  *  - `evicted`: storage blocks REMOVED within the query window (block
  *    update to StorageLevel.NONE). The bench unpersists only BETWEEN
  *    query windows (after snapshot), so an in-window removal means the
  *    store dropped a cached/localCheckpoint block under memory
  *    pressure — forcing recomputation of everything downstream, which
  *    is exactly a "tasks re-executed on identical code" signature.
  *
  * Dispatch and scheduling (r22 profiling, now part of the record): a
  * slow small query usually computes little; its wall is chains of tiny
  * jobs and the scheduling work between them. So the listener also keeps
  *
  *  - `jobs` / `busyMs`: jobs completed in the window and the union of
  *    their [start, end] intervals — the time at least one job ran; the
  *    rest of the wall is dead gap (planning, codegen, DAG submission,
  *    broadcast collects between jobs).
  *  - `planMs`: analysis + optimization + planning of the last query
  *    execution in the window (the bench's noop write), read from that
  *    execution's own `QueryExecution.tracker` — nothing is planned twice.
  *  - `top`: the window's longest stages (id, duration, task count).
  *
  * Accumulation is atomic because task-end events arrive on the listener
  * bus thread while reset/snapshot run on the main thread; snapshots are
  * taken only after [[ListenerBridge.flush]] drains the bus, so a query's
  * tail tasks cannot leak into the next query's window.
  */
final class BenchMetrics extends SparkListener with QueryExecutionListener {
  private val runMs = new AtomicLong
  private val gcMs = new AtomicLong
  private val memSpill = new AtomicLong
  private val diskSpill = new AtomicLong
  private val peakExec = new AtomicLong
  private val shufRead = new AtomicLong
  private val shufWrite = new AtomicLong
  private val tasks = new AtomicLong
  private val failed = new AtomicLong
  private val retried = new AtomicLong
  private val stageRetries = new AtomicLong
  private val evicted = new AtomicLong
  private val planMs = new AtomicLong
  private val jobSpans = new ConcurrentHashMap[Int, (Long, Long)]
  private val stages = new ConcurrentLinkedQueue[(Int, Long, Int)]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    if (info != null) {
      if (!info.successful) failed.incrementAndGet()
      if (info.attemptNumber > 0) retried.incrementAndGet()
    }
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
      peakExec.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      tasks.incrementAndGet()
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (e.stageInfo.attemptNumber() > 0) stageRetries.incrementAndGet()

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    // !isValid == StorageLevel.NONE == the block was REMOVED from the
    // store; within a query window (bench unpersists between windows,
    // BLOCKING, so those removals land before reset) that is an
    // eviction, and downstream stages must recompute. RDD blocks only:
    // broadcast-block removals are routine GC-driven ContextCleaner
    // hygiene (measured 20–60/query on healthy runs) and would make the
    // counter cry wolf.
    if (!e.blockUpdatedInfo.storageLevel.isValid
        && e.blockUpdatedInfo.blockId.isRDD) evicted.incrementAndGet()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobSpans.put(e.jobId, (e.time, -1L))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpans.computeIfPresent(e.jobId, (_, s) => (s._1, e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val dur = (for (a <- i.submissionTime; b <- i.completionTime)
      yield b - a).getOrElse(0L)
    stages.add((i.stageId, dur, i.numTasks))
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    planMs.set(qe.tracker.phases.values
      .map(p => p.endTimeMs - p.startTimeMs).sum)

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  def reset(sc: SparkContext): Unit = {
    ListenerBridge.flush(sc)
    Seq(runMs, gcMs, memSpill, diskSpill, peakExec, shufRead, shufWrite,
      tasks, failed, retried, stageRetries, evicted, planMs).foreach(_.set(0L))
    jobSpans.clear()
    stages.clear()
  }

  def snapshot(sc: SparkContext): BenchMetrics.Snap = {
    ListenerBridge.flush(sc)
    val done = jobSpans.values.asScala.toSeq.filter(_._2 >= 0)
    BenchMetrics.Snap(runMs.get, gcMs.get, memSpill.get, diskSpill.get,
      peakExec.get, shufRead.get, shufWrite.get, tasks.get, failed.get,
      retried.get, stageRetries.get, evicted.get, done.size,
      BenchMetrics.unionMs(done), planMs.get,
      top = stages.asScala.toSeq.sortBy(s => (-s._2, s._1)).take(3))
  }
}

object BenchMetrics {
  /** Length of the union of [start, end] intervals: the time at least one
    * of them was open. */
  def unionMs(spans: Seq[(Long, Long)]): Long =
    spans.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((busy, end), (s, e)) =>
      (busy + math.max(0L, e - math.max(s, end)), math.max(end, e)) }._1

  def r3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** JSON string literal: backslash, quote and ALL control chars (< 0x20)
    * escaped — a tab or CR in an exception message or in query SQL
    * would otherwise make a reader's json.load fail. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The drift record: query → (run seconds, tasks) parsed from a metrics
    * file's text. A record taken at another core count is absent (None),
    * never compared; a record without `"cpus"` predates per-core files and
    * is keyed by its file name alone. */
  def record(txt: String, cpus: Int): Option[Map[String, (Double, Long)]] =
    if ("\"cpus\":([0-9]+)".r.findFirstMatchIn(txt)
        .exists(_.group(1).toInt != cpus)) None
    else Some(("\"(q_[a-z0-9_]+)\":\\{\"wall\":[0-9.]+,\"run\":([0-9.]+)," +
        "[^}]*?\"tasks\":([0-9]+)").r.findAllMatchIn(txt)
      .map(m => m.group(1) -> (m.group(2).toDouble, m.group(3).toLong)).toMap)

  final case class Snap(runMs: Long = 0L, gcMs: Long = 0L,
      memSpill: Long = 0L, diskSpill: Long = 0L, peakExec: Long = 0L,
      shufRead: Long = 0L, shufWrite: Long = 0L, tasks: Long = 0L,
      failed: Long = 0L, retried: Long = 0L, stageRetries: Long = 0L,
      evicted: Long = 0L, jobs: Long = 0L, busyMs: Long = 0L,
      planMs: Long = 0L, buildMs: Long = 0L,
      top: Seq[(Int, Long, Int)] = Nil) {
    private def mb(b: Long): Long = b >> 20
    /** Suite aggregate: sums, except the peak (max) and the stages. */
    def +(o: Snap): Snap = Snap(runMs + o.runMs, gcMs + o.gcMs,
      memSpill + o.memSpill, diskSpill + o.diskSpill,
      math.max(peakExec, o.peakExec), shufRead + o.shufRead,
      shufWrite + o.shufWrite, tasks + o.tasks, failed + o.failed,
      retried + o.retried, stageRetries + o.stageRetries,
      evicted + o.evicted, jobs + o.jobs, busyMs + o.busyMs,
      planMs + o.planMs, buildMs + o.buildMs)
    /** Compact JSON object (no spaces — it repeats once per query in
      * the telemetry and the metrics file). Times in seconds (3dp),
      * sizes in whole MiB. The wall splits two ways: build + plan + exec
      * (exec = the rest of the noop write), and busy + gap. The
      * re-execution discriminators (failed/retried/stage_retry/evict)
      * print only when nonzero: they are zero on every healthy run.
      * `top_stages` (id, seconds, tasks) prints only with `stages`. */
    def json(wallSec: Double, stages: Boolean = false): String = {
      val anomalies = Seq("failed" -> failed, "retried" -> retried,
        "stage_retry" -> stageRetries, "evict" -> evicted)
        .collect { case (k, v) if v != 0 => s""","$k":$v""" }.mkString
      val topJson = if (!stages) "" else top.map { case (id, ms, n) =>
        s"""{"stage":$id,"s":${r3(ms / 1e3)},"tasks":$n}"""
      }.mkString(""","top_stages":[""", ",", "]")
      s"""{"wall":${r3(wallSec)},"run":${r3(runMs / 1e3)},"gc":${r3(gcMs / 1e3)},""" +
        s""""spill_mb":${mb(memSpill + diskSpill)},"peak_mb":${mb(peakExec)},""" +
        s""""shuf_mb":${mb(shufRead + shufWrite)},"tasks":$tasks,""" +
        s""""build_s":${r3(buildMs / 1e3)},"plan_s":${r3(planMs / 1e3)},""" +
        s""""exec_s":${r3(wallSec - (buildMs + planMs) / 1e3)},"jobs":$jobs,""" +
        s""""busy_s":${r3(busyMs / 1e3)},"gap_s":${r3(wallSec - busyMs / 1e3)}""" +
        s"""$anomalies$topJson}"""
    }
  }
}
