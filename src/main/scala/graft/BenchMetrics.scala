package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

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
  * Accumulation is atomic because task-end events arrive on the listener
  * bus thread while reset/snapshot run on the main thread; snapshots are
  * taken only after [[ListenerBridge.flush]] drains the bus, so a query's
  * tail tasks cannot leak into the next query's window.
  */
final class BenchMetrics extends SparkListener {
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

  def reset(sc: SparkContext): Unit = {
    ListenerBridge.flush(sc)
    Seq(runMs, gcMs, memSpill, diskSpill, peakExec, shufRead, shufWrite,
      tasks, failed, retried, stageRetries, evicted).foreach(_.set(0L))
  }

  def snapshot(sc: SparkContext): BenchMetrics.Snap = {
    ListenerBridge.flush(sc)
    BenchMetrics.Snap(runMs.get, gcMs.get, memSpill.get, diskSpill.get,
      peakExec.get, shufRead.get, shufWrite.get, tasks.get, failed.get,
      retried.get, stageRetries.get, evicted.get)
  }
}

object BenchMetrics {
  final case class Snap(runMs: Long, gcMs: Long, memSpill: Long,
      diskSpill: Long, peakExec: Long, shufRead: Long, shufWrite: Long,
      tasks: Long, failed: Long = 0L, retried: Long = 0L,
      stageRetries: Long = 0L, evicted: Long = 0L) {
    private def mb(b: Long): Long = b >> 20
    /** Compact JSON object (no spaces — it repeats once per query in
      * the telemetry line and the metrics file). Times in seconds (3dp),
      * sizes in whole MiB. The re-execution discriminators (failed/
      * retried/stage_retry/evict) print only when nonzero: they are zero
      * on every healthy run. */
    def json(wallSec: Double): String = {
      def r3(v: Double): String =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      val anomalies = Seq("failed" -> failed, "retried" -> retried,
        "stage_retry" -> stageRetries, "evict" -> evicted)
        .collect { case (k, v) if v != 0 => s""","$k":$v""" }.mkString
      s"""{"wall":${r3(wallSec)},"run":${r3(runMs / 1e3)},"gc":${r3(gcMs / 1e3)},""" +
        s""""spill_mb":${mb(memSpill + diskSpill)},"peak_mb":${mb(peakExec)},""" +
        s""""shuf_mb":${mb(shufRead + shufWrite)},"tasks":$tasks$anomalies}"""
    }
  }
}
