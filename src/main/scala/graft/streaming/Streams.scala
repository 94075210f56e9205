package graft.streaming

import graft.Decimals._
import graft.functions.{CosineSimilarity, DecimalDot9}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-time stream processing — the extension surface the reference's
  * Hive 1.2 deployment lacks entirely (Hive has only an ACID ingest API;
  * its time-series queries are plain tables). Built on Structured
  * Streaming semantics: every transform here is expressed as
  * DataFrame → DataFrame so the SAME code runs in batch (where the DuckDB
  * oracle can check it) and behind `readStream` (where watermarks engage).
  *
  * Scale note: windowed aggregations shuffle on (window, key) — bounded
  * state per key×window; session windows keep per-key state bounded by the
  * watermark horizon. Nothing here holds unbounded state.
  */
object Streams {

  /** Tumbling event-time windows per event_type. */
  def tumblingCounts(events: DataFrame, width: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupBy(window($"ts", width).as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(money($"value")).cast("double").as("sum_value"))
      .select($"w.start".as("w_start"), $"event_type", $"n", $"sum_value")
  }

  /** Sliding windows (each event lands in width/slide windows). */
  def slidingCounts(events: DataFrame, width: String, slide: String)
      : DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupBy(window($"ts", width, slide).as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("w_start"), $"event_type", $"n")
  }

  /** Session windows per user: a session closes after `gap` of silence.
    * (Batch twin of the streaming sessionization; state per live session
    * only.) */
  def sessionize(events: DataFrame, gap: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupBy(session_window($"ts", gap).as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(money($"value")).cast("double").as("sum_value"))
      .select($"user_id", $"w.start".as("s_start"), $"w.end".as("s_end"),
        $"n_events", $"sum_value")
  }

  /** Streaming-mode wrapper: event-time watermark + tumbling aggregation —
    * late rows beyond `lateness` are dropped and state is reclaimed. */
  def tumblingWithWatermark(stream: DataFrame, width: String,
      lateness: String): DataFrame =
    tumblingCounts(stream.withWatermark("ts", lateness), width)

  /** Streaming dedup bounded by the watermark horizon. */
  def dedupWithinWatermark(stream: DataFrame, lateness: String): DataFrame =
    stream.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming twin of q_temp_sample's keep decision (VERDICT r9 #7):
    * `rates` is the frozen (source, rate) table from a corpus snapshot
    * (PipelineOps.tempRates — a production sampler recomputes it
    * periodically, not per batch); each micro-batch applies the
    * IDENTICAL md5-keyed uniform keep projection via a broadcast
    * stream-static join, so the streamed corpus keeps exactly the rows
    * the batch sampler keeps — replayable, coordination-free sampling
    * (no seed state, no per-batch RNG). Stateless: nothing accumulates,
    * any watermark policy composes on top. */
  /** Streaming twin of the q_bloom_filter probe: each arriving document's
    * 3-gram shingles tested against the STANDING corpus's broadcast
    * filter, one boolean verdict per (doc, shingle) — the stateless
    * pre-screen in front of a streaming ingest dedup (only admitted
    * shingles pay for the stateful probe downstream). The filter rides
    * along as a 1-row sorted-positions array (what a broadcast Bloom
    * bitmap IS operationally); membership = k array_contains probes, all
    * inside one codegen'd projection — no state store, no join
    * watermarks, identical verdicts batch or stream by construction
    * (same md5 positions, same bit set). A production build replaces the
    * linear array_contains with a bitset-backed Expression — same
    * broadcast, same determinism. */
  def bloomProbeStream(stream: DataFrame, bitsArr: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    def posC(i: Int, key: Column): Column =
      conv(substring(md5(concat(lit("bf"), lit(i.toString), lit(":"),
        key)), 1, 15), 16, 10).cast("long") % graft.queries.SketchOps.bloomM
    stream
      .select($"doc_id",
        explode(graft.functions.TextFunctions.shingles($"text", 3))
          .as("key"))
      .crossJoin(broadcast(bitsArr))
      .select($"doc_id", $"key",
        (0 until graft.queries.SketchOps.bloomK)
          .map(i => array_contains($"barr", posC(i, $"key")))
          .reduce(_ && _).as("member"))
  }

  /** Streaming twin of q_ivm_agg (Aggregates.qIvmAgg): a streaming
    * groupBy aggregate IS incremental view maintenance — Structured
    * Streaming's state store holds exactly the mergeable (count, sum,
    * min, max) partial states the batch op unions, each micro-batch
    * pays only its own scan, and avg stays DERIVED from sum/count
    * (never stored — storing it would break mergeability). Insert-only
    * input keeps min/max mergeable, the same contract the batch op
    * documents; R10bOpsSpec replays base+delta micro-batches against
    * the batch merge and the flat recompute. */
  def ivmSummaryStream(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    orders.groupBy($"o_orderpriority").agg(
        count(lit(1)).as("n_orders"),
        sum(money($"o_totalprice")).as("s"),
        min(money($"o_totalprice")).as("mn"),
        max(money($"o_totalprice")).as("mx"))
      .select($"o_orderpriority", $"n_orders",
        $"s".cast("double").as("sum_price"),
        $"mn".cast("double").as("min_price"),
        $"mx".cast("double").as("max_price"),
        round($"s".cast("double") / $"n_orders", 6).as("avg_price"))
  }

  def tempSampleStream(stream: DataFrame, rates: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withColumn("u", graft.queries.PipelineOps.tempUniform($"doc_id"))
      .join(org.apache.spark.sql.functions.broadcast(
        rates.select($"source", $"rate")), "source")
      .filter($"u" < $"rate")
      .select($"doc_id", $"source")
  }

  /** Stateless streaming twin of the watermark detector's per-document
    * stage (CurateOps.qWatermark): the greenlist z-score as a pure
    * higher-order-function projection — tokens → bigram md5-parity coin
    * → z = (2g − T)/√T — so it runs unchanged over a readStream of
    * arriving documents with no shuffle and no state, exactly the shape
    * a live synthetic-text ingest filter needs. Emits one (doc_id,
    * source, z) row per ≥2-token document; the batch query's per-source
    * aggregate is a downstream groupBy either way. (The batch path uses
    * explode + lag instead — codegen-friendly over a full corpus — and
    * the spec proves the two produce identical z per document.) */
  def watermarkZStream(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = graft.functions.TextFunctions.tokens($"text")
    docs
      .withColumn("t", (size(toks) - 1).cast("long"))
      .filter($"t" >= 1)
      .withColumn("g", size(filter(
        transform(sequence(lit(1), size(toks) - 1), i =>
          conv(substring(md5(concat(element_at(toks, i), lit("|"),
            element_at(toks, i + 1))), 1, 15), 16, 10)
            .cast("long") % 2),
        x => x === 0)).cast("long"))
      .select($"doc_id", $"source",
        round((lit(2.0) * $"g" - $"t") / sqrt($"t"), 6).as("z"))
  }

  /** Streaming twin of q_drift_window's stateful stage: per 3-day
    * event-time tumbling window, the ten conditional bin counts + n
    * against the broadcast frozen reference cuts (a stream-static
    * join of a 1-row relation). PSI stays the stateless projection the
    * consumer applies (EventOps.driftPsi), so the ONE stateful op here
    * is an ordinary windowed aggregation — the live data-quality
    * monitor shape: alarms per window as the stream advances, reference
    * frozen at deploy time. */
  def driftBinCountsStream(stream: DataFrame, cuts: DataFrame)
      : DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val sums = graft.queries.EventOps.driftBinSums(spark)
    stream
      .join(org.apache.spark.sql.functions.broadcast(cuts), lit(true))
      .select($"ts",
        graft.queries.EventOps.driftBin($"value", $"c").as("bin"))
      .groupBy(window($"ts", "3 days").as("w"))
      .agg(sums.head, sums.tail: _*)
  }

  /** Streaming twin of q_ddsketch (SketchOps.qDdsketch): per event-time
    * window, the (bucket, count) relation under the SAME log-γ bucket
    * rule — a DDSketch per window. Because the sketch IS a mergeable
    * count relation, the streaming state is exactly the batch sketch's
    * partial aggregate: summing any set of windows' relations yields
    * the sketch of their union, which is the law R11dOpsSpec replays
    * (stream-merged buckets ≡ one batch pass). Quantile extraction
    * stays a downstream read over the tiny relation, same as batch. */
  def ddsketchStream(stream: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select($"ts", graft.queries.SketchOps.ddBucket(
        $"value".cast("double")).as("b"))
      .groupBy(window($"ts", "1 day").as("w"), $"b")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Streaming twin of q_countmin (SketchOps.qCountMin): per event-time
    * window, the CMS counter relation (row, bucket, count) over the
    * stream's item column under the SAME d=4 × w=1024 md5 row hashes
    * ([[graft.queries.SketchOps.cmsRowHash]] — one home for the bucket
    * rule, so the batch and stream sketches cannot drift). Like the
    * DDSketch twin, the sketch IS a mergeable count relation: summing
    * any set of windows' counters yields the CMS of their union — the
    * merge law R12OpsSpec replays (2-batch stream merge ≡ one batch
    * pass). Point estimates stay a downstream min-over-rows read, same
    * as batch. */
  def cmsStream(stream: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select($"ts", $"item",
        explode(sequence(lit(0), lit(3))).as("r"))
      .select($"ts", $"r",
        graft.queries.SketchOps.cmsRowHash($"r", $"item").as("b"))
      .groupBy(window($"ts", "1 day").as("w"), $"r", $"b")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Streaming twin of q_hll_md5 (SketchOps.qHllMd5) — the last sketch
    * in the family to gain one (DDSketch/CMS/Bloom/IVM/PSI/temp-sample
    * all have twins): per event-time window, the HLL register relation
    * (bucket, m_j) over the stream's item column under the SAME md5 →
    * (bucket, rho) rule ([[graft.queries.SketchOps.hllReg]] — one home,
    * so batch and stream registers cannot drift). The register table is
    * mergeable by MAX, not sum: taking max(m_j) per bucket across any
    * set of windows yields the registers of their union — the law
    * R13OpsSpec replays (2-batch stream register-max ≡ one batch pass).
    * Estimation stays a downstream 256-row read, same as batch. */
  def hllStream(stream: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select($"ts", graft.queries.SketchOps.hllReg($"item").as("reg"))
      .groupBy(window($"ts", "1 day").as("w"), $"reg.bucket".as("bucket"))
      .agg(max($"reg.rho").as("m_j"))
  }

  // ---- arbitrary-state sessionization (flatMapGroupsWithState) ----------

  case class UserEvent(user_id: Long, ts: java.sql.Timestamp)
  case class UserSession(user_id: Long, s_start: java.sql.Timestamp,
      s_end: java.sql.Timestamp, n_events: Long)
  case class SessState(startMs: Long, lastMs: Long, n: Long)

  private def toTs(ms: Long) = new java.sql.Timestamp(ms)

  /** The session state machine shared by the flatMapGroupsWithState and
    * transformWithState sessionizers (one source of truth — the two APIs
    * must not drift): folds a batch's sorted event times into the open
    * session, returning the sessions closed by this batch and the state to
    * carry. An event merges when within one gap of the open session's SPAN
    * (so a late-but-in-horizon event may extend it backwards); a straggler
    * more than a gap BEFORE the start becomes its own already-closed
    * session (approximation: emitted immediately, so a second straggler
    * near it would not merge — acceptable for watermark-bounded lateness);
    * an event more than a gap AFTER the end closes the session and opens a
    * new one. */
  private[streaming] def advanceSessions(uid: Long, times: Seq[Long],
      init: Option[SessState], gapMs: Long)
      : (List[UserSession], Option[SessState]) = {
    var closed = List.empty[UserSession]
    var cur = init
    times.foreach { t =>
      cur match {
        case Some(s) if t - s.lastMs <= gapMs && t >= s.startMs - gapMs =>
          cur = Some(s.copy(startMs = math.min(s.startMs, t),
            lastMs = math.max(s.lastMs, t), n = s.n + 1))
        case Some(s) if t < s.startMs - gapMs =>
          closed ::= UserSession(uid, toTs(t), toTs(t + gapMs), 1)
        case Some(s) =>
          closed ::= UserSession(uid, toTs(s.startMs),
            toTs(s.lastMs + gapMs), s.n)
          cur = Some(SessState(t, t, 1))
        case None =>
          cur = Some(SessState(t, t, 1))
      }
    }
    (closed.reverse, cur)
  }

  /** Custom stateful sessionization via `flatMapGroupsWithState` — the
    * arbitrary-state API for semantics `session_window` can't express
    * (e.g. emitting a session the moment its gap closes, per-session
    * counters). Sessions close either when a later event arrives past the
    * gap, or when the event-time watermark passes lastTs+gap (timeout).
    * State per key is one open session — bounded, watermark-reclaimed.
    * In BATCH execution (where timeouts never fire — createForBatch pins
    * the watermark at -∞) the input is complete, so each key's final open
    * session is flushed at end-of-group instead of silently dropped. */
  def statefulSessionize(events: org.apache.spark.sql.Dataset[UserEvent],
      gapMs: Long, lateness: String)
      : org.apache.spark.sql.Dataset[UserSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val isStreaming = events.isStreaming
    events.toDF().withWatermark("ts", lateness).as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(UserSession(uid, toTs(s.startMs), toTs(s.lastMs + gapMs),
              s.n))
          } else {
            val times = it.map(_.ts.getTime).toSeq.sorted
            val (closed, cur) =
              advanceSessions(uid, times, state.getOption, gapMs)
            if (isStreaming) {
              cur.foreach { s =>
                state.update(s)
                state.setTimeoutTimestamp(s.lastMs + gapMs)
              }
              closed.iterator
            } else {
              // batch: the group is complete — flush the open session
              (closed ++ cur.map(s => UserSession(uid, toTs(s.startMs),
                toTs(s.lastMs + gapMs), s.n))).iterator
            }
          }
      }
  }

  // ---- transformWithState (Spark 4 StatefulProcessor API) ---------------

  case class UserCount(user_id: Long, n_events: Long)

  /** Per-user running event counter on the `transformWithState` API — the
    * successor to [flat]mapGroupsWithState: typed per-key state primitives
    * (ValueState/ListState/MapState + TTL + timers) managed by the state
    * store instead of one opaque state object per key. Requires the
    * RocksDB state store provider. State here is a single ValueState[Long]
    * per user — O(keys) total, incrementally checkpointed. */
  class RunningCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, UserEvent, UserCount] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var nState: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      nState = getHandle.getValueState[Long]("n",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[UserCount] = {
      val n = (if (nState.exists()) nState.get() else 0L) + rows.size
      nState.update(n)
      Iterator.single(UserCount(uid, n))
    }
  }

  /** Running per-user counts, emitted once per micro-batch per active
    * user. */
  def runningCountsTws(events: org.apache.spark.sql.Dataset[UserEvent])
      : org.apache.spark.sql.Dataset[UserCount] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningCountProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Sessionization on transformWithState with EVENT-TIME TIMERS: the
    * twin of [[statefulSessionize]] on the successor API. Gap-closes
    * inline when a later event arrives; otherwise an event-time timer at
    * lastTs+gap fires when the watermark passes it and emits the session
    * from `handleExpiredTimer` — the timer replaces
    * flatMapGroupsWithState's GroupStateTimeout, with the same bounded
    * one-open-session-per-key state. */
  class SessionProcessor(gapMs: Long, isStreaming: Boolean = true)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, UserEvent, UserSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var sess: ValueState[SessState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessState]("sess",
        org.apache.spark.sql.Encoders.product[SessState], TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[UserSession] = {
      val times = rows.map(_.ts.getTime).toSeq.sorted
      val init = if (sess.exists()) Some(sess.get()) else None
      // shared state machine — see advanceSessions for the semantics
      val (closed, cur) = advanceSessions(uid, times, init, gapMs)
      if (isStreaming) {
        cur.foreach { s =>
          sess.update(s)
          // one live timer per key: re-arm at the new session end
          getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts))
          getHandle.registerTimer(s.lastMs + gapMs)
        }
        closed.iterator
      } else {
        // batch: timers never fire — flush the complete group's open session
        (closed ++ cur.map(s => UserSession(uid, toTs(s.startMs),
          toTs(s.lastMs + gapMs), s.n))).iterator
      }
    }
    override def handleExpiredTimer(uid: Long, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[UserSession] = {
      if (sess.exists()) {
        val s = sess.get()
        sess.clear()
        Iterator.single(
          UserSession(uid, toTs(s.startMs), toTs(s.lastMs + gapMs), s.n))
      } else Iterator.empty
    }
  }

  case class TypedPoint(k: String, ts: java.sql.Timestamp, v: Double)
  case class Anomaly(k: String, ts: java.sql.Timestamp, v: Double,
      z: Double, n_seen: Long)
  case class Moments(n: Long, mean: Double, m2: Double)

  /** Online per-key anomaly detection — the STREAMING twin of the batch
    * q_zscore two-pass: instead of a global mean/std join, each key keeps
    * Welford running moments (n, mean, M2) in one ValueState and scores
    * every arriving value against the statistics of the points seen
    * BEFORE it (so an outlier can't mask itself). Emits nothing during
    * the first `minN` warm-up points per key. State is O(keys) — three
    * numbers per key regardless of stream length — and Welford's update
    * is numerically stable where a naive sum-of-squares cancels
    * catastrophically. Within a micro-batch a key's rows are processed in
    * (ts, v) order so replays are deterministic; the batch twin
    * (q_anomaly_running) uses the same (ts, v) tie order. Zero-variance
    * history yields NO alert in either twin (the `sd > 0` guard here, a
    * NULL z there): with every prior point identical there is no scale to
    * score against — a spike after a constant prefix is absorbed, not
    * flagged. Callers needing that case add an absolute-band rule; a
    * z-score cannot express it. */
  class AnomalyProcessor(minN: Long, zCut: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, TypedPoint, Anomaly] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var st: ValueState[Moments] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Moments]("moments",
        org.apache.spark.sql.Encoders.product[Moments], TTLConfig.NONE)
    override def handleInputRows(k: String, rows: Iterator[TypedPoint],
        timerValues: TimerValues): Iterator[Anomaly] = {
      var m = if (st.exists()) st.get() else Moments(0L, 0.0, 0.0)
      val out = scala.collection.mutable.ArrayBuffer.empty[Anomaly]
      rows.toSeq.sortBy(p => (p.ts.getTime, p.v)).foreach { p =>
        if (m.n >= minN) {
          val sd = math.sqrt(m.m2 / (m.n - 1))
          val z = (p.v - m.mean) / sd
          if (sd > 0 && math.abs(z) > zCut)
            out += Anomaly(k, p.ts, p.v, z, m.n)
        }
        val n1 = m.n + 1
        val d = p.v - m.mean
        val mean1 = m.mean + d / n1
        m = Moments(n1, mean1, m.m2 + d * (p.v - mean1))
      }
      st.update(m)
      out.iterator
    }
  }

  /** Streaming anomaly feed: scores each point against its key's running
    * moments (see [[AnomalyProcessor]]). */
  def anomaliesTws(points: org.apache.spark.sql.Dataset[TypedPoint],
      minN: Long, zCut: Double)
      : org.apache.spark.sql.Dataset[Anomaly] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = points.sparkSession
    import spark.implicits._
    points.groupByKey(_.k)
      .transformWithState(new AnomalyProcessor(minN, zCut),
        TimeMode.None(), OutputMode.Update())
  }

  /** Event-time sessionization via transformWithState (requires a
    * watermark on `ts` and the RocksDB state store). */
  def sessionizeTws(events: org.apache.spark.sql.Dataset[UserEvent],
      gapMs: Long, lateness: String)
      : org.apache.spark.sql.Dataset[UserSession] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.toDF().withWatermark("ts", lateness).as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs, events.isStreaming),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming twin of q_spc_xbar's PHASE-II application — the classic
    * SPC deployment split: Phase I (grand mean + pooled within-day σ,
    * [[graft.queries.Stats2Ops.spcLimits]] — one formula home) freezes
    * OFFLINE on stable history and broadcasts as a 1-row static
    * relation; the live stream then aggregates each event-time day
    * window's mergeable (n, Σx) pair and flags out-of-control days
    * against the frozen limits. `stream` needs (ts, value) columns.
    * Late data folds into its day's (n, Σx) by the same merge law as
    * the sketch twins; xbar emits under the SAME integer micro-unit
    * rounding as the batch chart, so stream rows equal batch rows
    * row-for-row once all data has arrived (R15cOpsSpec replays). */
  def spcStream(stream: DataFrame, limits: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val hw = lit(3.0) * $"sp" / sqrt($"n".cast("double"))
    stream
      .groupBy(window($"ts", "1 day").as("w"))
      .agg(count(lit(1)).as("n"), sum(money(round($"value", 2))).as("sx"))
      .join(broadcast(limits), lit(true))
      .select($"w", $"n",
        (expr("(cast(sx * 100 as bigint) * 20000 + n) div (2 * n)")
          .cast("double") / 1e6).as("xbar"),
        round($"xbb" - hw, 6).as("lcl"),
        round($"xbb" + hw, 6).as("ucl"),
        ($"sx".cast("double") / $"n" < $"xbb" - hw
          || $"sx".cast("double") / $"n" > $"xbb" + hw).as("ooc"))
  }

  /** Streaming twin of the semantic-cache hit decision
    * ([[graft.queries.VectorQueries.qSemcache]] / the r18 production-key
    * variant q_semcache_lsh): each arriving query scores against a
    * BROADCAST SNAPSHOT of the standing cache (pid, pv) — the
    * tempSampleStream freeze discipline: a production cache refreshes
    * its snapshot periodically, never per event — and keeps only
    * strictly-earlier entries (pid < qid, the batch op's arrival-order
    * contract), so replaying the same stream against the same snapshot
    * reproduces the batch decisions exactly (R18OpsSpec). Per-query
    * output is the best snapshot cosine; thresholding at τ is the
    * consumer's knob. The per-qid max is a mergeable aggregate — each
    * micro-batch pays only its own pair scores. */
  def semcacheStream(stream: DataFrame, cacheSnap: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .join(broadcast(cacheSnap), expr("pid < qid"))
      .select($"qid", round(CosineSimilarity.of($"qv", $"pv"), 6).as("cs"))
      .groupBy($"qid").agg(max($"cs").as("best"))
  }

  /** Streaming twin of the persisted-index radius serve (r19, VERDICT
    * r18 #4 — completing the serving symmetry semcacheStream started):
    * arriving query micro-batches probe the PERSISTED bucketed SRP
    * index ([[graft.queries.SrpIndex.write]]'s layout) through the
    * same probe rule as the batch [[graft.queries.SrpIndex.probe]]
    * chain, against a FROZEN index snapshot (the tempSampleStream
    * discipline: a serving process reads one index generation between
    * compactions, never per-event state).
    *
    * A streaming plan gets ONE stateful operator here — the final
    * (qid, vec_id) dedup aggregate (a candidate surfaces once per
    * colliding bucket; dist is identical on every copy, so min IS the
    * value) — so the SRP key computation runs as a per-row stateless
    * expression instead of the batch chain's two groupBys: the SAME
    * term/bit/key rule ([[graft.queries.VectorQueries.srpKeys]] — md5
    * plane components, round(round(x·r,9)·1e9) integer nano-units,
    * sum>0 sign bits) folded per query row. The merge-law spec pins
    * bit-identity by replaying the batch query set and comparing
    * row-for-row with the batch serve. Scale: the stream side fans out
    * ×72 probes per query; both index joins are stream-static equi-joins
    * that consume the bucketed layout — each micro-batch pays
    * O(its own candidates), never O(corpus). */
  /** The per-row stateless SRP key fold over a `qv` array column — the
    * SAME term/bit/key rule as the relational
    * [[graft.queries.VectorQueries.srpKeys]] chain (md5 plane
    * components, round(round(x·r,9)·1e9) integer nano-unit terms,
    * sum>0 sign bits), expressed as one HOF so a streaming plan spends
    * no groupBy on key computation. ONE expression home (r20) shared by
    * [[annServeStream]] and [[xmodalServeStream]]; each family's
    * merge-law spec pins it to the relational rule. */
  private val srpKeyRowExpr = """
    transform(sequence(0, 7), t -> named_struct(
      'tbl', CAST(t AS BIGINT),
      'bk', aggregate(sequence(0, 7), CAST(0 AS BIGINT), (accj, j) ->
        accj + IF(
          aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, d) ->
            acc + CAST(round(round(
              CAST(element_at(qv, d + 1) AS DOUBLE)
              * (CAST(conv(substring(md5(concat(
                    CAST(t * 8 + j AS STRING), ':',
                    CAST(d AS STRING))), 1, 15), 16, 10) AS BIGINT)
                 / 576460752303423488 - 1.0),
              9) * 1e9, 0) AS BIGINT)) > 0,
          shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))))
    """

  /** Per-row SRP keys + Hamming-1 multiprobe fan-out: (qid, qv, extra…,
    * bkey) with bkey the combined probe key — the stream-side half of
    * every persisted-SRP-index probe, shared by both SRP-keyed
    * families. `extra` columns ride along unchanged (the cross-modal
    * twin carries the hoisted query norm through the fan-out). */
  private def srpProbeRows(stream: DataFrame,
      extra: Seq[String] = Nil): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val ex = extra.map(org.apache.spark.sql.functions.col)
    val head = Seq($"qid", $"qv") ++ ex
    stream.select(head :+ explode(expr(srpKeyRowExpr)).as("k"): _*)
      .select(head ++ Seq($"k.tbl".as("tbl"), $"k.bk".as("bk")): _*)
      .select(head ++ Seq($"tbl",
        explode(sequence(lit(-1), lit(7))).as("j"), $"bk"): _*)
      .select(head :+
        ($"tbl" * 256 + when($"j" === -1, $"bk")
          .otherwise(expr("bk ^ shiftleft(CAST(1 AS BIGINT), j)")))
          .as("bkey"): _*)
  }

  def annServeStream(stream: DataFrame, postings: DataFrame,
      vectors: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    srpProbeRows(stream)
      .join(postings, "bkey")
      .filter($"qid" =!= $"vec_id")
      .join(vectors.select($"vec_id", $"embedding".as("ev")), "vec_id")
      .select($"qid", $"vec_id",
        expr("""round(sqrt(CAST(aggregate(
          zip_with(qv, ev, (a, b) ->
            CAST(round((CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) *
                       (CAST(a AS DOUBLE) - CAST(b AS DOUBLE)), 9)
              AS DECIMAL(20,9))),
          CAST(0 AS DECIMAL(28,9)),
          (acc, t) -> CAST(acc + t AS DECIMAL(28,9))) AS DOUBLE)), 6)""")
          .as("d0"))
      .filter($"d0" <= 1.5)
      .groupBy($"qid", $"vec_id").agg(min($"d0").as("dist"))
  }

  /** Streaming serve twin for the MEDIA-TOWER index family (r20 —
    * completing the three-family symmetry: [[annServeStream]] probes
    * the SRP postings, [[ivfServeStream]] the IVF cells, this the
    * `graft_xm` tables [[graft.queries.XModalOps.qXmodalServed]]
    * persists): arriving text-query micro-batches are keyed per-row
    * through the shared [[srpKeyRowExpr]] fold (one expression home
    * with the SRP twin), probe their Hamming-1 buckets against the
    * postings TABLE, score bucket-collision candidates with the native
    * codegen'd DecimalDot9 cosine against the vectors TABLE's media
    * vectors and hoisted norms, and emit each found true pair's retrieval rank —
    * the (qid, rk) relation the per-source recall report aggregates
    * (that rollup is a downstream groupBy either way, exactly like the
    * sketch twins' estimation reads).
    *
    * One stateful operator: the per-query collect_set of (−cos, doc_id)
    * candidate structs — collect_set both DEDUPS multi-bucket
    * collisions (the batch chain's .distinct()) and merges across
    * micro-batches; the rank is then a stateless projection on the
    * final merged set: 1 + |{c strictly before the true pair under
    * (cos desc, doc_id asc)}| ≡ the batch row_number. The query norm
    * rides the probe fan-out (hoisted per row — a cold query has no
    * precomputed norm; one [[graft.queries.XModalOps.qNormSql]] formula
    * home with the batch side). State per query is its candidate set —
    * the same relation the batch op shuffles; the R20OpsSpec merge law
    * replays the %25 query set split across micro-batches row-for-row
    * against the batch serve chain. */
  def xmodalServeStream(stream: DataFrame, postings: DataFrame,
      media: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val q = stream.withColumn("qn",
      expr(graft.queries.XModalOps.qNormSql))
    srpProbeRows(q, Seq("qn"))
      .join(postings, "bkey")
      .join(media, "doc_id")
      .select($"qid", struct(
        (-round(DecimalDot9.of($"qv", $"mv") / ($"qn" * $"mn"), 6)).as("ns"),
        $"doc_id").as("c"))
      .groupBy($"qid")
      .agg(collect_set($"c").as("cands"))
      .withColumn("t", expr("filter(cands, c -> c.doc_id = qid)"))
      .filter(size($"t") === 1)
      .select($"qid",
        (expr("""size(filter(cands, c ->
            c.ns < t[0].ns OR (c.ns = t[0].ns AND c.doc_id < qid)))""")
          + 1).cast("int").as("rk"))
  }

  /** Streaming serve twin for the IVF index family (r20, VERDICT r19
    * #3 — [[annServeStream]]'s discipline applied to the second
    * family): arriving query micro-batches probe the PERSISTED bucketed
    * cell table ([[graft.queries.ServeOps.qIvfServed]]'s layout)
    * against a FROZEN centroid snapshot. The batch serve rule
    * ([[graft.queries.VectorQueries.ivfServe]]) uses two per-query
    * ranks (nearest-2 cells, exact-cosine top-10), but a streaming plan
    * gets no window functions and ONE stateful operator — so:
    *
    *  - the 2-probe CELL pick runs as a per-row stateless expression:
    *    the 8 centroids ride in as a 1-row collect_list array (the
    *    broadcast a static 8-row dimension IS), and slice(array_sort)
    *    over per-centroid exact-decimal L2² structs reproduces the
    *    batch (d2 asc, cell asc) rank — same ties, same cells;
    *  - candidates come from a stream-static cell equi-join that
    *    consumes the bucketed layout (each micro-batch pays O(its own
    *    candidates), ~2/8 of the corpus per query, never a full scan);
    *  - the top-10 is the ONE stateful aggregate: collect per-query
    *    (−sim, vec_id) structs, array_sort, slice — merge-law equal to
    *    the batch row_number over (sim desc, vec_id asc) because the
    *    sort runs on the final merged state, whatever batch boundaries
    *    the candidates arrived across.
    *
    * State note: per-query state holds that query's candidate structs
    * (bounded by its 2 cells' population — the same candidate set the
    * batch op shuffles); a production deployment caps it with a
    * mergeable bounded top-k Aggregator, which changes state size, not
    * results. The merge-law spec (R20OpsSpec) replays the batch query
    * set split across micro-batches and compares row-for-row with
    * q_ann_ivf. */
  def ivfServeStream(stream: DataFrame, centers: DataFrame,
      cells: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    // the frozen 8-row centroid snapshot as ONE broadcast row — a
    // stream-static crossJoin of a 1-row relation, the tempSampleStream
    // freeze discipline
    val carr = centers
      .agg(collect_list(struct($"cell", $"center")).as("cs"))
    val probes = stream
      .crossJoin(broadcast(carr))
      .select($"qid", $"qv", explode(expr("""
        slice(array_sort(transform(cs, c -> named_struct(
          'd2', CAST(aggregate(
            zip_with(qv, c.center, (x, y) ->
              CAST(round((CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
                         (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)), 9)
                AS DECIMAL(20,9))),
            CAST(0 AS DECIMAL(28,9)),
            (acc, t) -> CAST(acc + t AS DECIMAL(28,9))) AS DECIMAL(28,9)),
          'cell', c.cell))), 1, 2)""")).as("pc"))
      .select($"qid", $"qv", $"pc.cell".as("cell"))
    probes
      .join(cells, "cell")
      .filter($"vec_id" =!= $"qid")
      .select($"qid",
        struct((-round(CosineSimilarity.of($"qv", $"embedding"), 6))
            .as("ns"), $"vec_id").as("c"))
      .groupBy($"qid")
      .agg(expr("slice(array_sort(collect_list(c)), 1, 10)").as("top"))
      .select($"qid", posexplode($"top").as(Seq("i", "t")))
      .select($"qid", $"t.vec_id".as("vec_id"),
        (-$"t.ns").as("sim"), ($"i" + 1).cast("int").as("rank"))
  }

  /** Streaming twin of the TTL impact sweep
    * ([[graft.queries.GovernOps.qRetentionSweep]]): classify every
    * arriving event against a FROZEN sweep anchor (the as-of date a TTL
    * evaluation runs at — rides in as a 1-row broadcast, never derived
    * from stream state) × the {30,60,90}-day policy spine, and maintain
    * the per-(event_type, policy) row/value/oldest-kept tallies as
    * mergeable aggregates (count/sum/min — each micro-batch pays only
    * its own scan). With the anchor set to the batch table's max day,
    * the streamed tallies equal the batch sweep's exactly (R18OpsSpec
    * merge-law). */
  def retentionSweepStream(stream: DataFrame, anchor: DataFrame)
      : DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val spine = Seq(30, 60, 90).toDF("policy_days")
    stream
      .select($"event_type", to_date($"ts").as("day"),
        round($"value", 6).cast(dec18_6).as("v"))
      .crossJoin(broadcast(anchor))
      .crossJoin(broadcast(spine))
      .withColumn("drop", datediff($"anchor", $"day") >= $"policy_days")
      .groupBy($"event_type", $"policy_days")
      .agg(count(lit(1)).as("n_rows"),
        sum(when($"drop", 1L).otherwise(0L)).as("rows_dropped"),
        sum(when($"drop", $"v")).cast("double").as("value_dropped"),
        min(when(!$"drop", $"day")).as("oldest_kept_day"))
  }
}
