package graft

/** The telemetry listener is now part of the bench contract (PERF.md r8:
  * it is what makes an unreproducible driver wall number attributable),
  * so its own behavior is pinned: attribution windows must be exact
  * (flush-then-reset / flush-then-snapshot), counters must actually see
  * task work, and the JSON it emits must stay machine-parseable because
  * the driver's stdout tail is parsed as JSON.
  */
class BenchMetricsSpec extends SparkSpec {

  test("snapshot attributes task work to the window since reset") {
    val m = new BenchMetrics
    spark.sparkContext.addSparkListener(m)
    try {
      m.reset(spark.sparkContext)
      Tables.df(spark, sf, "lineitem")
        .groupBy("l_returnflag").count()
        .write.format("noop").mode("overwrite").save()
      val snap = m.snapshot(spark.sparkContext)
      assert(snap.tasks > 0, "no tasks attributed to the query window")
      assert(snap.shufWrite > 0,
        "a groupBy materialization must write shuffle bytes")
      // a fresh window sees nothing: reset clears every counter AFTER
      // draining the bus, so the previous query cannot leak in
      m.reset(spark.sparkContext)
      val empty = m.snapshot(spark.sparkContext)
      assert(empty.tasks == 0 && empty.runMs == 0 && empty.shufWrite == 0,
        s"reset left residue: $empty")
    } finally spark.sparkContext.removeSparkListener(m)
  }

  test("snapshot JSON is valid JSON with the documented keys") {
    val snap = BenchMetrics.Snap(runMs = 1234, gcMs = 56, memSpill = 0,
      diskSpill = 0, peakExec = 5 << 20, shufRead = 1 << 20,
      shufWrite = 1 << 20, tasks = 7)
    val json = snap.json(wallSec = 1.5)
    // minimal structural parse without a JSON lib: balanced braces, all
    // keys present, no locale comma in numbers
    assert(json.startsWith("{") && json.endsWith("}"))
    for (k <- Seq("wall", "run", "gc", "spill_mb", "peak_mb", "shuf_mb",
        "tasks"))
      assert(json.contains("\"" + k + "\":"), s"missing key $k in $json")
    assert(json.contains("\"wall\":1.500") && json.contains("\"run\":1.234"),
      s"fixed-point formatting drifted: $json")
    assert(!json.contains("1,5"), "locale-sensitive decimal separator")
    // re-execution discriminators (VERDICT r9 #1) print ONLY when nonzero
    // — a healthy run must not spend stdout-tail budget on four zeros
    for (k <- Seq("failed", "retried", "stage_retry", "evict"))
      assert(!json.contains("\"" + k + "\""), s"zero-valued $k printed: $json")
    val anomalous = snap.copy(failed = 1, retried = 2, stageRetries = 3,
      evicted = 4).json(wallSec = 1.5)
    assert(anomalous.contains("\"failed\":1")
      && anomalous.contains("\"retried\":2")
      && anomalous.contains("\"stage_retry\":3")
      && anomalous.contains("\"evict\":4"),
      s"anomaly counters missing from $anomalous")
    assert(anomalous.endsWith("}") && !anomalous.contains(",,"),
      s"malformed JSON: $anomalous")
  }

  test("evicted counts store-reported removals, not explicit unpersist") {
    import org.apache.spark.SparkEnv
    import org.apache.spark.scheduler.SparkListenerBlockUpdated
    import org.apache.spark.storage.{BlockUpdatedInfo, BroadcastBlockId,
      RDDBlockId, StorageLevel}
    val m = new BenchMetrics
    spark.sparkContext.addSparkListener(m)
    try {
      // explicit unpersist must NOT count: the executor-side removeRdd
      // skips the master report, so the bench's own between-window
      // unpersist sweep stays invisible — only store-INITIATED drops
      // (memory-pressure evictions), which do report, reach the counter
      val df = Tables.df(spark, sf, "region").persist()
      df.count() // materialize the cached blocks
      m.reset(spark.sparkContext)
      df.unpersist(blocking = true)
      val clean = m.snapshot(spark.sparkContext)
      assert(clean.evicted == 0,
        s"explicit unpersist polluted the eviction counter: $clean")
      assert(clean.failed == 0 && clean.retried == 0
        && clean.stageRetries == 0, s"healthy run flagged anomalies: $clean")
      // a store-reported removal is an update to StorageLevel.NONE —
      // classify it directly (a genuine eviction needs memory pressure
      // this shared test session must not create)
      m.onBlockUpdated(SparkListenerBlockUpdated(new BlockUpdatedInfo(
        SparkEnv.get.blockManager.blockManagerId, RDDBlockId(1, 0),
        StorageLevel.NONE, 0L, 0L)))
      assert(m.snapshot(spark.sparkContext).evicted == 1,
        "StorageLevel.NONE block update not counted as eviction")
      // an update that KEEPS the block (e.g. drop-to-disk) is not removal
      m.onBlockUpdated(SparkListenerBlockUpdated(new BlockUpdatedInfo(
        SparkEnv.get.blockManager.blockManagerId, RDDBlockId(1, 1),
        StorageLevel.DISK_ONLY, 0L, 100L)))
      assert(m.snapshot(spark.sparkContext).evicted == 1,
        "a still-stored block update was miscounted as eviction")
      // broadcast-block removals are ContextCleaner hygiene (measured
      // 20-60 per query on healthy runs), NOT cache-eviction pressure
      m.onBlockUpdated(SparkListenerBlockUpdated(new BlockUpdatedInfo(
        SparkEnv.get.blockManager.blockManagerId, BroadcastBlockId(7L),
        StorageLevel.NONE, 0L, 0L)))
      assert(m.snapshot(spark.sparkContext).evicted == 1,
        "a broadcast-block removal was miscounted as eviction")
    } finally spark.sparkContext.removeSparkListener(m)
  }

  test("job spans: busy is the union of job intervals, the rest is gap") {
    import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd,
      SparkListenerJobStart}
    // a detached listener fed synthetic events: the shared session's own
    // jobs never reach it
    val m = new BenchMetrics
    m.reset(spark.sparkContext)
    def job(id: Int, start: Long, end: Long): Unit = {
      m.onJobStart(SparkListenerJobStart(id, start, Seq.empty))
      if (end >= 0) m.onJobEnd(SparkListenerJobEnd(id, end, JobSucceeded))
    }
    job(1, 1000, 1200) // [1000, 1200]
    job(2, 1050, 1100) // nested inside job 1
    job(3, 1150, 1300) // overlaps job 1's tail: union [1000, 1300]
    job(4, 1500, 1550) // disjoint
    job(5, 1600, -1)   // still running at snapshot: not a completed job
    // an end whose start fell before the window is not counted
    m.onJobEnd(SparkListenerJobEnd(6, 1700, JobSucceeded))
    val snap = m.snapshot(spark.sparkContext)
    assert(snap.jobs == 4, s"completed jobs: $snap")
    assert(snap.busyMs == 350, s"union of [1000,1300] and [1500,1550]: $snap")
    val json = snap.copy(buildMs = 200, planMs = 100).json(wallSec = 1.0)
    for (kv <- Seq("\"jobs\":4", "\"busy_s\":0.350", "\"gap_s\":0.650",
        "\"build_s\":0.200", "\"plan_s\":0.100", "\"exec_s\":0.700"))
      assert(json.contains(kv), s"missing $kv in $json")
    assert(!json.contains("top_stages"), s"stages outside the file: $json")
    // a fresh window forgets every span
    m.reset(spark.sparkContext)
    val empty = m.snapshot(spark.sparkContext)
    assert(empty.jobs == 0 && empty.busyMs == 0, s"reset left spans: $empty")
    assert(BenchMetrics.unionMs(Seq((5L, 9L), (0L, 2L), (1L, 3L))) == 7)
  }

  test("top stages: the window's three longest, with their task counts") {
    import org.apache.spark.scheduler.{SparkListenerStageCompleted, StageInfo}
    val m = new BenchMetrics
    m.reset(spark.sparkContext)
    for ((id, dur, n) <- Seq((1, 50L, 4), (2, 400L, 1), (3, 10L, 8),
        (4, 200L, 2), (5, 300L, 1))) {
      val info = new StageInfo(id, 0, s"s$id", n, Seq.empty, Seq.empty, "",
        resourceProfileId = 0)
      info.submissionTime = Some(1000L)
      info.completionTime = Some(1000L + dur)
      m.onStageCompleted(SparkListenerStageCompleted(info))
    }
    val snap = m.snapshot(spark.sparkContext)
    assert(snap.top == Seq((2, 400L, 1), (5, 300L, 1), (4, 200L, 2)))
    assert(snap.json(1.0, stages = true).contains(
      "\"top_stages\":[{\"stage\":2,\"s\":0.400,\"tasks\":1}," +
        "{\"stage\":5,\"s\":0.300,\"tasks\":1},{\"stage\":4,\"s\":0.200,\"tasks\":2}]"))
  }

  test("the drift reader ignores a record taken at another core count") {
    val entry = BenchMetrics.Snap(runMs = 2500, tasks = 12,
      top = Seq((7, 900L, 3))).json(3.0, stages = true)
    def file(cpus: String) =
      s"""{"sf":"/x"$cpus,"queries":{"q_a":$entry,"q_b":$entry}}"""
    val same = BenchMetrics.record(file(",\"cpus\":8"), 8)
    // the query's own task count, never a top stage's
    assert(same == Some(Map("q_a" -> (2.5, 12L), "q_b" -> (2.5, 12L))))
    assert(BenchMetrics.record(file(",\"cpus\":32"), 8).isEmpty,
      "a 32-core record was compared against an 8-core run")
    // a record from before per-core files is keyed by its name alone
    assert(BenchMetrics.record(file(""), 8) == same)
  }
}
