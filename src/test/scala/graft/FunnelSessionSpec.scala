package graft

import graft.functions.Md5Hash
import graft.queries.{EventOps, PipelineOps}
import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Round-10 additions (VERDICT r9 #7): the session-scoped funnel and the
  * streaming temperature-sample twin.
  *
  * The funnel's session assignment is gaps-and-islands (lag + running
  * sum) because the funnel needs every EVENT labeled with its session;
  * `session_window` only exists as an aggregate. The first test pins the
  * claimed equivalence: both produce the same session boundaries on the
  * same events at the same gap — if Spark's session_window semantics
  * ever drift from the new-session-iff-gap≥10min rule, this fails
  * rather than the oracle silently diverging.
  */
class FunnelSessionSpec extends SparkSpec {

  test("gaps-and-islands sessions match session_window on the same events") {
    import spark.implicits._
    val gapUs = 10L * 60 * 1000000
    val ev = Tables.df(spark, sf, "events")
    // the funnel's assignment, reduced to per-session (start, end, n)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts")
    val islands = ev.select($"user_id", $"ts")
      .withColumn("prev", lag($"ts", 1).over(w))
      .withColumn("new_s", when($"prev".isNull
          || unix_micros($"ts".cast("timestamp"))
            - unix_micros($"prev".cast("timestamp")) >= gapUs, 1L)
        .otherwise(0L))
      .withColumn("sid", sum($"new_s").over(w))
      .groupBy($"user_id", $"sid")
      .agg(min($"ts").as("s_start"), max($"ts").as("last_ts"),
        count(lit(1)).as("n_events"))
      .select($"user_id", $"s_start", $"n_events")
    // session_window's sessions on the identical input + gap
    val sw = ev.groupBy(session_window($"ts", "10 minutes").as("w"),
        $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"w.start".as("s_start"), $"n_events")
    val a = islands.orderBy($"user_id", $"s_start").collect().toSeq
    val b = sw.orderBy($"user_id", $"s_start").collect().toSeq
    assert(a.nonEmpty, "no sessions produced")
    assert(a == b,
      "gaps-and-islands sessions diverge from session_window: " +
        s"${a.size} vs ${b.size} sessions")
  }

  test("q_funnel_sessions stages are monotone and strictly-ordered") {
    val rows = EventOps.qFunnelSessions(spark, sf).collect()
    assert(rows.length == 3)
    val n = rows.map(_.getAs[Long]("n_sessions"))
    assert(n(0) >= n(1) && n(1) >= n(2),
      s"funnel must be monotone: ${n.toSeq}")
    assert(n(0) > 0, "fixture must produce view sessions")
    // gaps are strictly positive where a stage converted at all
    for (r <- rows.drop(1) if r.getAs[Long]("n_sessions") > 0)
      assert(r.getAs[Double]("avg_gap_us") > 0.0,
        s"strictly-after gating implies positive mean gap: $r")
  }

  test("streaming temp-sample keeps exactly the batch sampler's rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.df(spark, sf, "documents")
      .select($"doc_id", $"source")
    val rates = PipelineOps.tempRates(
      Tables.df(spark, sf, "documents")).localCheckpoint()
    // the batch decision on the same snapshot + rates
    val expected = docs
      .withColumn("u",
        Md5Hash.unitLeftOpen(lit("ts:"), $"doc_id".cast("string")))
      .join(rates.select($"source", $"rate"), "source")
      .filter($"u" < $"rate")
      .select($"doc_id").as[Long].collect().toSet
    assert(expected.nonEmpty, "batch sampler kept nothing — dead test")
    // stream the same rows across TWO micro-batches: per-batch
    // application of the frozen rates must reproduce the batch keep set
    val all = docs.select($"doc_id".as[Long], $"source".as[String])
      .collect().toSeq
    val (b1, b2) = all.splitAt(all.size / 2)
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "source")
    val q = Streams.tempSampleStream(stream, rates)
      .writeStream.format("memory").queryName("temp_sample_stream")
      .outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
      val got = spark.table("temp_sample_stream")
        .select($"doc_id").as[Long].collect().toSet
      assert(got == expected,
        s"stream kept ${got.size} rows, batch kept ${expected.size}; " +
          s"sym-diff ${(got diff expected) ++ (expected diff got)}")
    } finally q.stop()
  }
}
