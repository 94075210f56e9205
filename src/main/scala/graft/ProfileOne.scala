package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev tool (r22, guide §7.3): split a query's WALL time into the pieces
  * the compile-tail work needs attributed — DataFrame construction (which
  * runs any eager localCheckpoint jobs), Catalyst planning of the final
  * plan, and the noop-sink execution — and, across the whole rep, the
  * union-of-intervals time during which at least one Spark job was live
  * vs the dead gaps (driver-only work: planning, codegen, DAG submission,
  * broadcast collects between jobs). Mirrors Bench's exact envelope
  * (pinned coalescing, uncompressed shuffle) so numbers are comparable.
  * Each query runs twice: a cold rep, then a warm one.
  * Usage: ProfileOne <queryName ...>; env SPARK_GRAFT_{SF_DIR,CPUS}.
  */
object ProfileOne {
  private final class JobSpans extends SparkListener {
    val spans = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    override def onJobStart(j: SparkListenerJobStart): Unit =
      spans.put(j.jobId, (j.time, -1L))
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val s = Option(spans.get(j.jobId)).map(_._1).getOrElse(j.time)
      spans.put(j.jobId, (s, j.time))
    }
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Int, Long)]()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val dur = (for (a <- i.submissionTime; b <- i.completionTime)
        yield b - a).getOrElse(0L)
      stages.add((i.stageId, dur, i.numTasks,
        i.taskMetrics.executorRunTime))
    }
    def reset(): Unit = { spans.clear(); stages.clear() }
    /** (nJobs, unionBusyMs) over completed jobs. */
    def busy(): (Int, Long) = {
      import scala.jdk.CollectionConverters._
      val iv = spans.values.asScala.toSeq.filter(_._2 >= 0).sortBy(_._1)
      var busy = 0L; var end = Long.MinValue
      iv.foreach { case (s, e) =>
        if (s > end) { busy += e - s; end = e }
        else if (e > end) { busy += e - end; end = e }
      }
      (iv.size, busy)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = 2
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.shuffle.compress", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new JobSpans
    spark.sparkContext.addSparkListener(jobs)
    val metrics = new BenchMetrics
    spark.sparkContext.addSparkListener(metrics)
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    for (name <- args; r <- 1 to reps) {
      val fn = SparkEntry.queries(name)
      jobs.reset(); metrics.reset(spark.sparkContext)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir) // eager localCheckpoints run here
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // analysis+optimization+planning
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      // give listener events a moment to drain before reading spans
      // (listenerBus is private[spark]; a short sleep suffices for a
      // dev profiling tool)
      Thread.sleep(200)
      val (nJobs, busyMs) = jobs.busy()
      val snap = metrics.snapshot(spark.sparkContext)
      val wallMs = (t3 - t0) / 1e6
      val phases = df.queryExecution.tracker.phases
        .map { case (p, s) => f"$p=${s.endTimeMs - s.startTimeMs}ms" }
        .mkString(" ")
      println(f"PROFILE $name rep$r wall=${wallMs / 1e3}%.3fs " +
        f"build=${(t1 - t0) / 1e9}%.3fs plan=${(t2 - t1) / 1e9}%.3fs " +
        f"exec=${(t3 - t2) / 1e9}%.3fs jobs=$nJobs busy=${busyMs / 1e3}%.3fs " +
        f"gap=${(wallMs - busyMs) / 1e3}%.3fs run=${snap.runMs / 1e3}%.3f " +
        f"tasks=${snap.tasks} phases[$phases]")
      if (sys.env.get("SPARK_GRAFT_STAGES").contains("1")) {
        import scala.jdk.CollectionConverters._
        val top = jobs.stages.asScala.toSeq.sortBy(-_._2).take(10)
        top.foreach { case (id, dur, nt, runMs) =>
          println(f"  STAGE $id%5d dur=${dur / 1e3}%.3fs tasks=$nt%4d " +
            f"run=${runMs / 1e3}%.3fs")
        }
        println(f"  nStages=${jobs.stages.size}")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
