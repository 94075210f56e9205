package graft

/** Turns the round-8 telemetry into a regression guard (VERDICT r7 #6):
  * the five heaviest bench queries must complete their full noop-sink
  * materialization at sf0.1 with ZERO execution-memory spill.
  *
  * Context: the r8 attribution run measured zero spill bytes across the
  * entire 179-query suite under the driver envelope (-Xmx8g, local[32]).
  * This spec pins that property for the queries where a plan regression
  * would first surface (a new whole-partition buffer, a lost partial
  * aggregate, a broadcast falling back to a sort-merge buffer). The test
  * session (the bench envelope at local[4], 8g) gives each concurrent
  * task MORE execution memory than the bench's local[32] does, so a spill
  * here means a categorical plan change, not tuning noise; the per-round
  * BENCH_METRICS_c<cpus>.json record is the envelope-exact check.
  */
class SpillAuditSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.1"

  private lazy val metrics: BenchMetrics = {
    val m = new BenchMetrics
    spark.sparkContext.addSparkListener(m)
    m
  }

  for (q <- Seq("q_pagerank", "q_pagerank_bucketed", "q_dedup_savings",
      "q_canonical", "q_ann_md5", "q_bin_quantile", "q_pq_adc")) {
    test(s"$q materializes at sf0.1 without execution-memory spill") {
      metrics.reset(spark.sparkContext)
      SparkEntry.queries(q)(spark, sf01)
        .write.format("noop").mode("overwrite").save()
      val snap = metrics.snapshot(spark.sparkContext)
      assert(snap.memSpill == 0L && snap.diskSpill == 0L,
        s"$q spilled ${snap.memSpill} mem / ${snap.diskSpill} disk bytes " +
          "at sf0.1 — a plan stage lost its bounded-memory shape")
      assert(snap.tasks > 0L, s"$q ran no tasks — nothing was measured")
    }
  }
}
