package graft.queries

import graft.Decimals._
import graft.Tables
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset statistics / feature-engineering pack: column profiling,
  * per-group z-score anomaly detection, exponentially-decayed rolling
  * features, and token-distribution entropy — the "describe and score the
  * data before training on it" steps of a curation pipeline.
  *
  * Determinism contract (same as LearnOps/perplexity): every floating
  * aggregate is either (a) a sum of per-row terms rounded once to a fixed
  * DECIMAL scale — exact integer arithmetic in both engines, immune to
  * shuffle-order — or (b) a single double expression over such exact
  * inputs, written with the identical operator shape in the Spark plan and
  * the oracle SQL so IEEE evaluation is bit-identical.
  */
object StatsOps extends QueryPack {

  // ---- q_profile ---------------------------------------------------------
  // Column profiling of lineitem: per column the non-null count, exact
  // distinct count, and typed min/max (numeric as double, strings and the
  // timestamp formatted). Two passes by design:
  //   1. count/min/max run in ONE distinct-free agg (a single scan with
  //      map-side partials). Packing the 11 countDistincts into the same
  //      agg was measured 40x slower: Spark's multi-DISTINCT rewrite
  //      Expands 12x and then SortAggregates with the raw column VALUES as
  //      grouping keys — two full sorts of the expanded fact table.
  //   2. distinct counts run over an 11-way stack into (col_name, value)
  //      pairs — a two-level HashAggregate (partial distinct per partition,
  //      then count per column), the shape that survives 100 TB. Values are
  //      stringified only to share one unpivot type: any per-engine
  //      injective cast preserves the distinct COUNT, so the DuckDB oracle
  //      counts its raw values while Spark counts strings.
  // The exact counts are the honest profile variant; `q_approx`/`q_hll_md5`
  // cover the sketched path for wider tables.
  private val profNum = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val profStr = Seq("l_returnflag", "l_linestatus")
  // timestamp handled as a formatted string so both engines print one
  // canonical form ("yyyy-MM-dd HH:mm:ss", UTC session)
  private val profTs = Seq("l_shipdate")

  def qProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
    val aggs =
      profNum.flatMap(c => Seq(
        count(col(c)).as(s"c_$c"),
        min(col(c)).cast("double").as(s"mn_$c"),
        max(col(c)).cast("double").as(s"mx_$c"))) ++
      profStr.flatMap(c => Seq(
        count(col(c)).as(s"c_$c"),
        min(col(c)).as(s"mns_$c"),
        max(col(c)).as(s"mxs_$c"))) ++
      profTs.flatMap(c => Seq(
        count(col(c)).as(s"c_$c"),
        date_format(min(col(c)), "yyyy-MM-dd HH:mm:ss").as(s"mns_$c"),
        date_format(max(col(c)), "yyyy-MM-dd HH:mm:ss").as(s"mxs_$c")))
    val one = li.agg(aggs.head, aggs.tail: _*)
    val rows =
      profNum.map(c =>
        s"'$c', c_$c, mn_$c, mx_$c, " +
          "CAST(NULL AS STRING), CAST(NULL AS STRING)") ++
      (profStr ++ profTs).map(c =>
        s"'$c', c_$c, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), " +
          s"mns_$c, mxs_$c")
    val stats = one.selectExpr(
      s"stack(${rows.size}, ${rows.mkString(", ")}) AS " +
        "(col_name, n_nonnull, min_num, max_num, min_str, max_str)")
    val allCols = profNum ++ profStr ++ profTs
    // pinned repartition before the ×11 stack fan-out: the fixture table
    // is one parquet row-group (one scan task), so the unpivot otherwise
    // generates 6.6M string rows single-threaded (measured 4.5 → ~1.5 s
    // at sf0.1; AQE would size-coalesce an unpinned repartition)
    val pairs = li
      .repartition(Tables.shufflePartitions(spark), $"l_orderkey")
      .selectExpr(
        s"stack(${allCols.size}, " +
          allCols.map(c => s"'$c', CAST($c AS STRING)").mkString(", ") +
          ") AS (col_name, sval)")
    val dist = pairs.groupBy($"col_name")
      .agg(countDistinct($"sval").as("n_distinct"))
    stats.join(dist, "col_name")
      .select($"col_name", $"n_nonnull", $"n_distinct",
        $"min_num", $"max_num", $"min_str", $"max_str")
      .orderBy("col_name")
  }

  private def profileOracle: String = {
    val aggs =
      profNum.flatMap(c => Seq(
        s"count($c) AS c_$c", s"count(DISTINCT $c) AS d_$c",
        s"CAST(min($c) AS DOUBLE) AS mn_$c",
        s"CAST(max($c) AS DOUBLE) AS mx_$c")) ++
      profStr.flatMap(c => Seq(
        s"count($c) AS c_$c", s"count(DISTINCT $c) AS d_$c",
        s"min($c) AS mns_$c", s"max($c) AS mxs_$c")) ++
      profTs.flatMap(c => Seq(
        s"count($c) AS c_$c", s"count(DISTINCT $c) AS d_$c",
        s"strftime(min($c), '%Y-%m-%d %H:%M:%S') AS mns_$c",
        s"strftime(max($c), '%Y-%m-%d %H:%M:%S') AS mxs_$c"))
    val selects =
      profNum.map(c =>
        s"SELECT '$c' AS col_name, c_$c AS n_nonnull, d_$c AS n_distinct, " +
          s"mn_$c AS min_num, mx_$c AS max_num, " +
          "CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str " +
          "FROM a") ++
      (profStr ++ profTs).map(c =>
        s"SELECT '$c', c_$c, d_$c, CAST(NULL AS DOUBLE), " +
          s"CAST(NULL AS DOUBLE), mns_$c, mxs_$c FROM a")
    s"""WITH a AS (SELECT ${aggs.mkString(", ")} FROM lineitem)
       |${selects.mkString("\n|UNION ALL\n|")}
       |ORDER BY col_name""".stripMargin
  }

  // ---- q_zscore ----------------------------------------------------------
  /** Per-event-type z-score outliers: mean/std from exact decimal sums
    * (value rounded once to DECIMAL(18,6); sum and sum-of-squares are then
    * exact in both engines), the 3-sigma-ish cut applied to a double z
    * computed with one shared formula. Scale shape: one groupBy over the
    * stream + a broadcast join of the per-type stats back onto it — the
    * canonical two-pass anomaly scan; no window, no global sort except the
    * presentation ORDER BY. */
  def qZscore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.df(spark, sfDir, "events")
      .select($"event_id", $"event_type",
        round($"value", 6).cast(dec18_6).as("v"))
    val stats = ev.groupBy($"event_type").agg(
      count(lit(1)).as("n"),
      sum($"v").as("sx"),
      sum(($"v" * $"v")).as("sx2"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("mu", $"sx".cast("double") / $"n")
      .withColumn("sd", sqrt(
        ($"sx2".cast("double") - $"sx".cast("double") * $"sx".cast("double") / $"n")
          / ($"n" - 1)))
      .withColumn("z", round(($"v".cast("double") - $"mu") / $"sd", 6))
      .filter(abs($"z") > lit(2.5))
      .select($"event_id", $"event_type", $"v".cast("double").as("value"), $"z")
      .orderBy($"event_id")
  }

  // ---- q_ewma ------------------------------------------------------------
  /** Exponentially-weighted moving average of `value` per user over the
    * last 20 events (decay 0.9 per step) — the decayed-engagement feature
    * of a behavioral pipeline. The bounded lookback is expressed as an
    * equi-join on user_id with a row-offset band (0..19), so the pair
    * source shuffles on the join key and fans out at most 20× — no
    * nested-loop, no unbounded window state; weights and values are
    * decimal-rounded before the sum so the aggregate is exact, and the
    * final EWMA is one double division of two exact decimals. */
  def qEwma(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val r = Tables.df(spark, sfDir, "events")
      .select($"user_id", $"event_id", $"ts",
        round($"value", 6).cast(dec18_6).as("v"))
      .withColumn("rn", row_number().over(w))
    val cur = r.select($"user_id", $"event_id", $"rn")
    val past = r.select($"user_id".as("uid2"), $"rn".as("sn"), $"v")
    cur.join(past,
        $"user_id" === $"uid2" && $"rn" >= $"sn" && $"rn" - $"sn" <= 19)
      .withColumn("wt",
        round(pow(lit(0.9), ($"rn" - $"sn").cast("double")), 9)
          .cast(dec12_9))
      .groupBy($"user_id", $"event_id", $"rn")
      .agg(sum($"wt" * $"v").as("swx"), sum($"wt").as("sw"))
      // round(6): the quotient's operands are exact decimals, but DuckDB's
      // wide-DECIMAL(38,15)->DOUBLE cast is not correctly rounded (it
      // diverges from Java BigDecimal.doubleValue by ~20 ulp), so the raw
      // quotient can't be compared bit-for-bit; 6dp absorbs the cast drift
      .withColumn("ewma",
        round($"swx".cast("double") / $"sw".cast("double"), 6))
      .filter($"rn" % 5 === 0)
      .select($"user_id", $"event_id", $"rn", $"ewma")
      .orderBy($"user_id", $"rn")
  }

  // ---- q_entropy ---------------------------------------------------------
  /** Unigram token entropy + type-token ratio per document — the lexical-
    * diversity quality gate (low-entropy docs are boilerplate/repetition).
    * Per-token terms round once to DECIMAL(18,6) before the per-doc sum
    * (exact, order-free); entropy is the negated exact sum cast to double.
    * Scale shape: explode → two key-partitioned aggregations, no window. */
  def qEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val cnts = docs
      .select($"doc_id", explode(TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("cnt"))
    val tot = cnts.groupBy($"doc_id")
      .agg(sum($"cnt").as("n"), count(lit(1)).as("n_types"))
    cnts.join(tot, "doc_id")
      .select($"doc_id", $"n", $"n_types",
        round(($"cnt" / $"n") * log($"cnt" / $"n"), 6).cast(dec18_6).as("term"))
      .groupBy($"doc_id", $"n", $"n_types")
      .agg((sum($"term").cast("double") * -1).as("entropy"))
      .withColumn("ttr", $"n_types".cast("double") / $"n")
      .withColumn("keep", $"entropy" >= 2.5)
      .select($"doc_id", $"n".as("n_toks"), $"n_types", $"entropy", $"ttr",
        $"keep")
      .orderBy($"doc_id")
  }

  // ---- q_histogram -------------------------------------------------------
  /** Equi-width histogram of l_extendedprice in 20 bins: the bucket index
    * is floor((x - min) / width) computed with one shared double formula
    * (no engine-specific width_bucket), clamped to the top bin so x = max
    * lands in bin 19. Two passes: a 1-row min/max aggregate broadcast into
    * the binning projection, then one key-partitioned aggregation — the
    * standard distributed histogram; per-bin means come from exact decimal
    * sums. */
  def qHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // DECIMAL(18,2), not (18,6): prices are 2-decimal money, and the
    // narrower scale keeps every per-bin sum's unscaled value far below
    // 2^53 — beyond that DuckDB's decimal->double cast stops being
    // correctly rounded (the q_ewma lesson) and the avg would drift
    val li = Tables.df(spark, sfDir, "lineitem")
      .select(round($"l_extendedprice", 2).cast(dec18_2).as("v"))
    val mm = li.agg(min($"v".cast("double")).as("mn"),
      max($"v".cast("double")).as("mx"))
    li.crossJoin(broadcast(mm))
      .select($"v", $"mn", $"mx",
        least(floor(($"v".cast("double") - $"mn")
          / (($"mx" - $"mn") / 20)).cast("int"), lit(19)).as("bin"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"),
        min($"mn").as("mn"), min($"mx").as("mx"))
      .select($"bin",
        round($"mn" + $"bin" * (($"mx" - $"mn") / 20), 6).as("lo_edge"),
        $"n",
        round($"sv".cast("double") / $"n", 6).as("avg_v"))
      .orderBy($"bin")
  }

  // ---- q_bin_quantile ----------------------------------------------------
  /** Equal-frequency binning (the quantile complement of q_histogram's
    * equi-width bins): 19 interior boundaries from the DISTRIBUTED exact-
    * quantile kernel (operators/Quantiles.scala — histogram-refine, no
    * single-group percentile buffer), collected into one 19-double array
    * (a 1-row aggregate, not data-scale) and broadcast into a boundary-
    * count projection: bin(v) = #{i : v > b_i}, an exact comparison of
    * deterministic 6dp-rounded doubles, so no rank/ntile global window is
    * needed and the assignment is map-side at any scale. Ties at a
    * boundary all land in the same bin, so bins are only approximately
    * equal-sized on tied data — the correct behavior (ntile would split
    * ties arbitrarily and be non-deterministic under re-partitioning).
    * The boundary count is a static sum of 19 GetArrayItem comparisons,
    * not an `aggregate(transform(...))` lambda fold — HOF lambdas evaluate
    * interpreted outside whole-stage codegen. */
  def qBinQuantile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
      .select(round($"l_extendedprice", 2).cast(dec18_2)
        .cast("double").as("vd"))
    val bounds = graft.operators.Quantiles
      .exactQuantiles(li, $"vd", (1 to 19).map(_ / 20.0))
      .agg(array_sort(collect_list(round($"b", 6))).as("bs"))
    val binExpr = (1 to 19)
      .map(i => when($"vd" > element_at($"bs", i), 1).otherwise(0))
      .reduce(_ + _)
    li.crossJoin(broadcast(bounds))
      .select($"vd", binExpr.as("bin"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"),
        min($"vd").as("lo"), max($"vd").as("hi"))
      .orderBy($"bin")
  }

  // ---- q_skew_profile ----------------------------------------------------
  /** Join-key skew diagnostics — the "will this key shuffle hot-spot?"
    * report a 100 TB pipeline runs before committing to a join layout.
    * For each audited (table, key): distinct keys, total rows, the largest
    * key's row count, the skew ratio max/avg (an exact-integer-input IEEE
    * quotient, deterministic unrounded), and interpolated p50/p90/p99 of
    * the per-key count distribution via the distributed exact-quantile
    * kernel (operators/Quantiles.scala) — no single-group percentile
    * buffer, so the profile itself survives the scale it is diagnosing.
    * Heavy ties in count distributions are safe in the kernel: equal
    * values always land in the same coarse cell, and the value at any
    * rank inside a tie run is the tied value itself. */
  def qSkewProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def profile(tname: String, keyCol: String): DataFrame = {
      val cnts = Tables.df(spark, sfDir, tname)
        .groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("cnt"))
      val qs = graft.operators.Quantiles
        .exactQuantiles(cnts, $"cnt", Seq(0.5, 0.9, 0.99))
        .agg(
          min(when($"frac" === 0.5, round($"b", 6))).as("p50"),
          min(when($"frac" === 0.9, round($"b", 6))).as("p90"),
          min(when($"frac" === 0.99, round($"b", 6))).as("p99"))
      val tot = cnts.agg(count(lit(1)).as("n_keys"),
        sum($"cnt").as("n_rows"), max($"cnt").as("max_rows"))
      tot.crossJoin(qs).select(
        lit(tname).as("table_name"), lit(keyCol).as("key_col"),
        $"n_keys", $"n_rows", $"max_rows",
        ($"max_rows".cast("double") * $"n_keys" / $"n_rows").as("skew"),
        $"p50", $"p90", $"p99")
    }
    profile("orders", "o_custkey")
      .unionAll(profile("events", "user_id"))
      .orderBy($"table_name")
  }

  // ---- q_drift_psi -------------------------------------------------------
  /** Distribution drift between the early and late halves of the event
    * stream, per event type, scored with the Population Stability Index —
    * the production monitor for "did this feature's distribution move
    * since the reference period": PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i)
    * over 10 equal-frequency bins whose boundaries come from the EARLY
    * (reference) period's deciles. Counts are Laplace-smoothed
    * ((c + 0.5)/(n + 5)) so empty bins stay finite; the conventional
    * alert threshold 0.1 flags drift.
    *
    * Determinism: the period cut is exact epoch-micro integer arithmetic;
    * boundaries are per-type exact percentiles rounded to 6dp (the q_mad
    * group-memory caveat applies — per-type groups fit an executor);
    * bin assignment is a codegen sum of 9 comparisons against identical
    * rounded doubles; PSI terms round once to DECIMAL(18,6) before the
    * order-free exact sum, with p and q written in the same
    * (CAST + 0.5)/(n + 5) double shape in both engines. */
  def qDriftPsi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.df(spark, sfDir, "events")
      .select($"event_type", unix_micros($"ts".cast("timestamp")).as("t"),
        round($"value", 6).cast(dec18_6).cast("double").as("v"))
    val mm = ev.agg(min($"t").as("mn"), max($"t").as("mx"))
    val tagged = ev.crossJoin(broadcast(mm))
      .withColumn("late", $"t" > expr("mn + ((mx - mn) div 2)"))
      .select($"event_type", $"v", $"late")
    val fr = (1 to 9).map(i => i / 10.0).mkString(", ")
    val bounds = tagged.filter(!$"late").groupBy($"event_type")
      .agg(expr(s"transform(percentile(v, array($fr)), b -> round(b, 6))")
        .as("bs"))
    val binExpr = (1 to 9)
      .map(i => when($"v" > element_at($"bs", i), 1).otherwise(0))
      .reduce(_ + _)
    val byBin = tagged.join(broadcast(bounds), "event_type")
      .select($"event_type", $"late", binExpr.as("bin"))
      .groupBy($"event_type", $"bin")
      .agg(sum(when(!$"late", 1L).otherwise(0L)).as("ce"),
        sum(when($"late", 1L).otherwise(0L)).as("cl"))
    val spine = bounds.select($"event_type")
      .crossJoin(spark.range(0, 10).select($"id".cast("int").as("bin")))
    val full = spine.join(byBin, Seq("event_type", "bin"), "left")
      .select($"event_type", $"bin",
        coalesce($"ce", lit(0L)).as("ce"), coalesce($"cl", lit(0L)).as("cl"))
    val tot = full.groupBy($"event_type")
      .agg(sum($"ce").as("ne"), sum($"cl").as("nl"))
    val psiByType = full.join(broadcast(tot), "event_type")
      .withColumn("p", ($"ce".cast("double") + 0.5) / ($"ne" + 5))
      .withColumn("q", ($"cl".cast("double") + 0.5) / ($"nl" + 5))
      .withColumn("term",
        round(($"p" - $"q") * log($"p" / $"q"), 6).cast(dec18_6))
      .groupBy($"event_type")
      .agg(sum($"term").cast("double").as("psi"))
    // a type with NO reference-period rows has no deciles and no PSI —
    // but it is the most drastic drift there is, so it must surface as
    // drifted with a NULL score, not silently drop out of the inner join
    val allTypes = tagged.groupBy($"event_type")
      .agg(sum(when(!$"late", 1L).otherwise(0L)).as("n_early"),
        sum(when($"late", 1L).otherwise(0L)).as("n_late"))
    allTypes.join(psiByType, Seq("event_type"), "left")
      .select($"event_type", $"n_early", $"n_late", $"psi",
        coalesce($"psi" > 0.1, lit(true)).as("drifted"))
      .orderBy($"event_type")
  }

  // ---- q_winsorize -------------------------------------------------------
  /** Winsorization report: clip l_extendedprice at the exact p01/p99
    * boundaries (from the distributed quantile kernel — no single-group
    * percentile buffer) and report how many rows each tail clipped plus
    * the mean before and after — the heavy-tail taming step run before
    * moment-based features. Boundaries round to 6dp so both engines clip
    * against identical doubles; means are exact-decimal sums over
    * once-rounded clipped values divided by the count (final 6dp round
    * absorbs the wide-decimal cast drift). Clip assignment is a map-side
    * projection against the 1-row broadcast boundary table. */
  def qWinsorize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
      .select(round($"l_extendedprice", 2).cast(dec18_2)
        .cast("double").as("vd"))
    // a pinned repartition before the decimal projection was MEASURED
    // NEUTRAL here (3.6 s either way at sf0.1): the kernel's passes each
    // re-execute the scan chain, so the added shuffle per pass cancels
    // the parallelism gain — reverted, unlike the q_profile unpivot where
    // the ×11 fan-out made it a 2.7× win
    val bounds = graft.operators.Quantiles
      .exactQuantiles(li, $"vd", Seq(0.01, 0.99))
      .agg(min(when($"frac" === 0.01, round($"b", 6))).as("lo"),
        max(when($"frac" === 0.99, round($"b", 6))).as("hi"))
    li.crossJoin(broadcast(bounds))
      .select($"vd", $"lo", $"hi",
        least(greatest($"vd", $"lo"), $"hi").as("wv"))
      .agg(count(lit(1)).as("n"),
        sum(when($"vd" < $"lo", 1L).otherwise(0L)).as("n_clipped_low"),
        sum(when($"vd" > $"hi", 1L).otherwise(0L)).as("n_clipped_high"),
        round(min($"lo"), 6).as("p01"), round(min($"hi"), 6).as("p99"),
        round(sum(round($"vd", 2).cast(dec18_2)).cast("double")
          / count(lit(1)), 6).as("mean_raw"),
        // round(wv, 6) is an identity (raw values are 2dp, boundaries are
        // already 6dp-rounded) — it only fixes the decimal sum's scale
        round(sum(round($"wv", 6).cast(dec18_6)).cast("double")
          / count(lit(1)), 6).as("mean_winsorized"))
  }

  // ---- q_trend -----------------------------------------------------------
  /** Per-event-type least-squares trend of `value` over time — the
    * drift-direction companion to [[qDriftPsi]]: slope (units per hour),
    * intercept at the stream's first hour, and r². The regressor is exact
    * integer hours since the global minimum timestamp ((t_us − mn) div
    * 3600000000), the response a once-rounded DECIMAL(18,6); so all five
    * moments (n, Σt, Σt², Σy, Σty) are exact in both engines and the
    * slope/intercept/r² derive via one shared double formula. Final
    * round(…, 6) absorbs the wide-decimal cast drift on Σty. One scan,
    * one per-type aggregation, no window. */
  def qTrend(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.df(spark, sfDir, "events")
      .select($"event_type", unix_micros($"ts".cast("timestamp")).as("tu"),
        round($"value", 6).cast(dec18_6).as("y"))
    val mn = ev.agg(min($"tu").as("mn"))
    val m = ev.crossJoin(broadcast(mn))
      .select($"event_type", expr("(tu - mn) div 3600000000").as("t"), $"y")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"t").as("st"), sum($"t" * $"t").as("stt"),
        sum($"y").as("sy"), sum($"t" * $"y").as("sty"),
        sum($"y" * $"y").as("syy"))
    // CASE-guarded degenerate variances (the q_anomaly_running lesson):
    // a single-event type or one whose events share an hour bucket has
    // dt = 0 → NULL estimates in BOTH engines, never NaN/Inf
    m.withColumn("dt", $"n" * $"stt".cast("double")
        - $"st".cast("double") * $"st".cast("double"))
      .withColumn("dy", $"n" * $"syy".cast("double")
        - $"sy".cast("double") * $"sy".cast("double"))
      .withColumn("cv", $"n" * $"sty".cast("double")
        - $"st".cast("double") * $"sy".cast("double"))
      .select($"event_type", $"n",
        when($"dt" > 0, round($"cv" / $"dt", 9)).as("slope_per_hour"),
        when($"dt" > 0,
          round(($"sy".cast("double") - ($"cv" / $"dt") * $"st".cast("double"))
            / $"n", 6)).as("intercept"),
        when($"dt" > 0 && $"dy" > 0,
          round(pow($"cv", 2) / ($"dt" * $"dy"), 6)).as("r2"))
      .orderBy($"event_type")
  }

  // ---- q_corr_matrix -----------------------------------------------------
  /** Pairwise Pearson correlation of the numeric lineitem measures — the
    * dependency profile feature selection starts from. One scan computes
    * every moment (n, Σx, Σx², Σxy for the 6 pairs) as sums of
    * once-rounded DECIMAL(18,6) values — exact integers in both engines —
    * and the 6 correlations unpack via stack with ONE shared double
    * formula (n·Σxy − ΣxΣy) / (√(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²)). The final
    * round(…, 6) absorbs DuckDB's wide-DECIMAL→DOUBLE cast drift (~1e-13
    * relative — the q_ewma lesson) on the price moments. */
  private val corrCols = Seq("l_quantity", "l_extendedprice", "l_discount",
    "l_tax")

  def qCorrMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = for {
      i <- corrCols.indices; j <- corrCols.indices if i < j
    } yield (corrCols(i), corrCols(j))
    // DECIMAL(18,2), lossless for these 2-decimal measures: scale-6
    // squares overflow DuckDB's INT64 per-row decimal multiply, scale-2
    // squares (DECIMAL(36,4)) stay comfortably inside it
    val li = Tables.df(spark, sfDir, "lineitem")
      .select(corrCols.map(c => round(col(c), 2).cast(dec18_2).as(c)): _*)
    val aggs =
      Seq(count(lit(1)).as("n")) ++
      corrCols.map(c => sum(col(c)).as(s"s_$c")) ++
      corrCols.map(c => sum(col(c) * col(c)).as(s"ss_$c")) ++
      pairs.map { case (a, b) => sum(col(a) * col(b)).as(s"p_${a}_$b") }
    val one = li.agg(aggs.head, aggs.tail: _*)
    def d(c: String) = s"CAST($c AS DOUBLE)"
    def vr(c: String) = s"(n * ${d(s"ss_$c")} - ${d(s"s_$c")} * ${d(s"s_$c")})"
    // CASE-guarded zero variances: a constant column must yield NULL
    // correlations in both engines, never 0/0 NaN
    val rows = pairs.map { case (a, b) =>
      s"'$a', '$b', CASE WHEN ${vr(a)} > 0 AND ${vr(b)} > 0 THEN " +
        s"round((n * ${d(s"p_${a}_$b")} - ${d(s"s_$a")} * ${d(s"s_$b")})" +
        s" / (sqrt(${vr(a)}) * sqrt(${vr(b)})), 6) END"
    }
    one.selectExpr(
        s"stack(${rows.size}, ${rows.mkString(", ")}) AS (col_x, col_y, corr)")
      .orderBy($"col_x", $"col_y")
  }

  // ---- q_partial_corr ----------------------------------------------------
  /** Partial correlation (Yule's formula) between a customer's order
    * count and total spend, CONTROLLING for tenure (active-day span) —
    * the confound check q_corr_matrix can't make: frequency and spend
    * both grow with how long a customer has been around, and the
    * partial r says whether they still co-move net of that.
    * r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)); the three
    * Pearsons come from ONE exact-moment pass over the customer-grain
    * relation (x, z integers; y once-rounded dec18_2, squares at scale 4
    * — the corr-matrix overflow discipline). */
  def qPartialCorr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val u = Tables.df(spark, sfDir, "orders")
      .groupBy($"o_custkey").agg(
        count(lit(1)).as("x"),
        sum(round($"o_totalprice", 2).cast(dec18_2)).cast(dec18_2).as("y"),
        datediff(max($"o_orderdate"), min($"o_orderdate")).as("z"))
    val s = u.agg(count(lit(1)).as("n"),
      sum($"x").as("sx"), sum($"y").as("sy"), sum($"z").as("sz"),
      sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
      sum($"z" * $"z").as("szz"), sum($"x" * $"y").as("sxy"),
      sum($"x" * $"z").as("sxz"), sum($"y" * $"z").as("syz"))
    def d(c: Column) = c.cast("double")
    def vr(ss: Column, s1: Column) = $"n" * d(ss) - d(s1) * d(s1)
    def r(sp: Column, sa: Column, sb: Column, va: Column, vb: Column) =
      when(va > 0.0 && vb > 0.0,
        ($"n" * d(sp) - d(sa) * d(sb)) / (sqrt(va) * sqrt(vb)))
    val vx = vr($"sxx", $"sx"); val vy = vr($"syy", $"sy")
    val vz = vr($"szz", $"sz")
    val rxy = r($"sxy", $"sx", $"sy", vx, vy)
    val rxz = r($"sxz", $"sx", $"sz", vx, vz)
    val ryz = r($"syz", $"sy", $"sz", vy, vz)
    val den = (lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)
    val part = when(den > 0.0, (rxy - rxz * ryz) / sqrt(den))
    s.select($"n", round(rxy, 6).as("r_xy"), round(rxz, 6).as("r_xz"),
      round(ryz, 6).as("r_yz"), round(part, 6).as("r_xy_given_z"))
  }

  // ---- q_gumbel_fit ------------------------------------------------------
  /** Gumbel extreme-value fit (Gumbel '58, method of moments) of the
    * DAILY MAXIMUM event value — the block-maxima analysis a capacity
    * planner runs: β = s·√6/π, μ = x̄ − γ·β (Euler–Mascheroni), and the
    * T-observation return levels μ − β·ln(−ln(1−1/T)) for T = 30/365 —
    * "the spike you should expect once a month / once a year". Maxima
    * of identical doubles are identical; moments are once-rounded
    * decimal sums; √6/π and γ are shared 16-digit literals (the BM25
    * libm-free-constant discipline) so the only libm is the two ln()
    * calls inside the final rounded forms. */
  def qGumbelFit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val SQRT6_OVER_PI = 0.7796968012336092
    val EULER = 0.5772156649015329
    val mx = Tables.df(spark, sfDir, "events")
      .groupBy(to_date($"ts").as("d"))
      .agg(max(round($"value", 2).cast(dec18_2)).as("m"))
      .select($"m", round($"m".cast("double") * $"m", 4).cast(dec38_4)
        .as("m2"))
    val s = mx.agg(count(lit(1)).as("n"), sum($"m").as("s1"),
      sum($"m2").as("s2"))
    val mean = $"s1".cast("double") / $"n"
    val sd = sqrt(($"s2".cast("double")
      - $"s1".cast("double") * $"s1".cast("double") / $"n")
      / ($"n" - lit(1L)))
    val beta = sd * SQRT6_OVER_PI
    val mu = mean - lit(EULER) * beta
    def rl(t: Double) =
      mu - beta * log(-log(lit(1.0) - lit(1.0) / t))
    s.select($"n".as("n_days"), round(mean, 6).as("mean_max"),
      round(sd, 6).as("sd_max"), round(beta, 6).as("beta"),
      round(mu, 6).as("mu"),
      round(rl(30.0), 6).as("return_level_30"),
      round(rl(365.0), 6).as("return_level_365"))
  }

  // ---- q_ses -------------------------------------------------------------
  /** Simple exponential smoothing (Brown '56), α = 0.3, over the daily
    * purchase series — the first learned forecaster to send through
    * q_forecast_eval's "beat yesterday" gate. The level recursion
    * l_t = αy_t + (1−α)l_{t−1} UNROLLS exactly: l_t = αΣ_{j=2..t}
    * (1−α)^{t−j} y_j + (1−α)^{t−1} y_1, so the one-step-ahead fit
    * ŷ_t = l_{t−1} is a closed form over a ≤T² band self-join of the
    * CALENDAR-BOUNDED day relation (30 rows — T² is trivial at any
    * corpus scale because time, not data, bounds it). Each
    * coefficient·y term rounds once to 9dp into an exact decimal sum;
    * pow() of shared doubles rounds away in the 9dp. Spec replays the
    * recursion sequentially. */
  def qSes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val alpha = 0.3
    val days = Tables.df(spark, sfDir, "events")
      .filter($"event_type" === "purchase")
      .groupBy(to_date($"ts").as("d"))
      .agg(sum(round($"value", 2).cast(dec18_2)).cast(dec18_2).as("y"))
      .withColumn("t", row_number().over(Window.orderBy($"d")))
      .localCheckpoint() // both sides of the band join
    val terms = days.select($"t".as("tt"), $"d")
      .join(days.select($"t".as("j"), $"y".as("yj")), $"j" < $"tt")
      .select($"tt", $"d",
        round(when($"j" === 1, pow(lit(1.0 - alpha), $"tt" - 2))
          .otherwise(lit(alpha) * pow(lit(1.0 - alpha), $"tt" - 1 - $"j"))
          * $"yj".cast("double"), 9).cast(dec28_9).as("term"))
    val fitted = terms.groupBy($"tt", $"d")
      .agg(sum($"term").cast("double").as("fitted"))
    days.join(fitted.select($"tt".as("t"), $"fitted"), Seq("t"), "left")
      .select($"d".cast("string").as("d"),
        round($"y".cast("double"), 2).as("y"),
        round($"fitted", 6).as("fitted"),
        round($"y".cast("double") - $"fitted", 6).as("err"))
      .orderBy($"d")
  }

  // ---- q_negbin_fit ------------------------------------------------------
  /** Overdispersion diagnosis for count data: per-user-DAY event counts
    * (zero days included via the users × calendar grid — the zeros are
    * the point) fitted by moments as Poisson vs negative binomial
    * (Greenwood & Yule '20): dispersion D = v/m, NB size r = m²/(v−m)
    * when v > m, and the zero-mass check every count model starts
    * with — observed P(X=0) vs Poisson e^{−m} vs NB (r/(r+m))^r. A
    * pipeline that models "events per user-day" as Poisson under
    * overdispersion underestimates tail load; this is the one-row gate
    * that says so. Grid is |users| × |days| (calendar-bounded); count
    * moments are exact integers; the two libm calls (exp, pow) land in
    * once-rounded 9dp forms. */
  def qNegbinFit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.df(spark, sfDir, "events")
    val counts = ev.groupBy($"user_id", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("c"))
    val grid = ev.select($"user_id").distinct()
      .crossJoin(ev.select(to_date($"ts").as("d")).distinct())
    val cells = grid.join(counts, Seq("user_id", "d"), "left")
      .select(coalesce($"c", lit(0L)).as("c"))
    val s = cells.agg(count(lit(1)).as("n"), sum($"c").as("s1"),
      sum($"c" * $"c").as("s2"),
      sum(when($"c" === 0L, 1L).otherwise(0L)).as("zeros"))
    val m = $"s1".cast("double") / $"n"
    val v = ($"s2".cast("double")
      - $"s1".cast("double") * $"s1".cast("double") / $"n") / ($"n" - 1L)
    val r = when(v > m, round(m * m / (v - m), 6))
    s.select($"n", $"zeros", round(m, 6).as("mean"),
      round(v, 6).as("variance"),
      round(v / m, 6).as("dispersion"),
      (v > m).as("overdispersed"),
      r.as("nb_r"),
      round($"zeros".cast("double") / $"n", 6).as("p0_observed"),
      round(exp(round(-m, 9)), 6).as("p0_poisson"),
      round(pow(round(r / (r + m), 9), r), 6).as("p0_negbin"))
  }

  // ---- q_hurst -----------------------------------------------------------
  /** Hurst exponent by rescaled-range analysis (Hurst '51; Mandelbrot &
    * Wallis '69) of the daily purchase series — the long-memory read:
    * H ≈ 0.5 is a random walk, H > 0.5 persistent trends, H < 0.5 mean
    * reversion; the number that says whether yesterday's demand tells
    * you anything about next week's. For block sizes n ∈ {5,10,15,30}:
    * split the series into full blocks, per block R = range of the
    * cumulative mean-deviations and S = population std, average R/S per
    * size, and H = the OLS slope of ln(R/S) on ln(n) over the 4 points.
    * Every window partitions by (size, block) over the calendar-bounded
    * day relation; R/S and ln terms round once to 9dp into exact
    * decimal sums; the 4-point OLS is exact-moment arithmetic. */
  def qHurst(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.df(spark, sfDir, "events")
      .filter($"event_type" === "purchase")
      .groupBy(to_date($"ts").as("d"))
      .agg(sum(round($"value", 2).cast(dec18_2)).cast(dec18_2).as("y"))
      .withColumn("t", row_number().over(Window.orderBy($"d")))
      .localCheckpoint() // ×4 block-size explode reads it
    val sized = days
      .select($"t", $"y".as("yd"), $"y".cast("double").as("y"),
        explode(array(lit(5), lit(10), lit(15), lit(30))).as("bn"))
      .withColumn("blk", expr("(t - 1) div bn"))
    // block moments from exact decimal sums (an unordered double sum
    // would be shuffle-order-dependent); the running cum-deviation sum
    // below is a WINDOW sum — frame-ordered, so doubles are safe there
    val bm = sized.groupBy($"bn", $"blk")
      .agg(count(lit(1)).as("cnt"),
        (sum($"yd").cast("double") / count(lit(1))).as("mu"),
        (sum(round($"y" * $"y", 4).cast(dec38_4)).cast("double")
          / count(lit(1))).as("m2"))
      .filter($"cnt" === $"bn") // full blocks only
    val dev = sized.join(bm, Seq("bn", "blk"))
      .withColumn("cum", sum($"y" - $"mu").over(
        Window.partitionBy($"bn", $"blk").orderBy($"t")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val rs = dev.groupBy($"bn", $"blk")
      .agg((max($"cum") - min($"cum")).as("r"),
        sqrt(min($"m2") - min($"mu") * min($"mu")).as("s"))
      .filter($"s" > 0.0)
      .select($"bn", round($"r" / $"s", 9).cast(dec28_9).as("rs"))
      .groupBy($"bn")
      .agg((sum($"rs").cast("double") / count(lit(1))).as("rs_mean"))
    // DECIMAL(18,9), NOT the wider (28,9): the OLS needs lx·lx
    // products, and 28,9 × 28,9 exceeds precision 38 — both engines
    // then degrade (differently). 18,9 × 18,9 stays exact in both.
    val pts = rs.select(
      round(log($"bn".cast("double")), 9).cast(dec18_9).as("lx"),
      round(log($"rs_mean"), 9).cast(dec18_9).as("ly"))
    val ols = pts.agg(count(lit(1)).as("k"), sum($"lx").as("sx"),
      sum($"ly").as("sy"), sum($"lx" * $"lx").as("sxx"),
      sum($"lx" * $"ly").as("sxy"))
    // OLS in DOUBLES over the decimal sums: a long × DECIMAL(38,18)
    // product overflows precision 38 and Spark silently reduces scale
    // (DuckDB doesn't) — measured one-ulp slope drift at sf0.001
    val den = ($"k" * $"sxx".cast("double")
      - $"sx".cast("double") * $"sx".cast("double"))
    val h = when(den =!= 0.0,
      ($"k" * $"sxy".cast("double")
        - $"sx".cast("double") * $"sy".cast("double")) / den)
    ols.crossJoin(broadcast(rs.groupBy().pivot("bn",
        Seq(5, 10, 15, 30)).agg(first(round($"rs_mean", 6)))
      .toDF("rs_5", "rs_10", "rs_15", "rs_30")))
      .select($"k".as("n_sizes"), $"rs_5", $"rs_10", $"rs_15", $"rs_30",
        round(h, 6).as("hurst"))
  }

  // ---- q_mixture_em ------------------------------------------------------
  /** Two-component tied-variance Gaussian mixture by EM (Dempster,
    * Laird & Rubin '77), two unrolled iterations over per-user purchase
    * totals — the soft-clustering member of the learned-in-plan family
    * (k-means assigns hard labels; the mixture yields the posterior
    * "high-spender probability" a targeting pipeline actually wants).
    * Deterministic EM: init from the exact 25th/75th percentiles and
    * the moment variance; each E-step responsibility is
    * 1/(1 + ((1−π)/π)·exp(u)) with u once-rounded to 9dp (the one libm
    * call, the acos/pow discipline) and r itself rounded to 6dp into
    * exact decimal M-step sums; every M-step ratio is a shared double
    * form re-rounded to 6dp, so both engines carry IDENTICAL parameters
    * into the next iteration — the drift can't compound. Shape: the
    * user-grain relation is checkpointed once; each iteration is two
    * thin aggregates with broadcast 1-row parameter relations (the
    * q_logreg/q_kmeans iteration shape). */
  def qMixtureEm(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val u = Tables.df(spark, sfDir, "events")
      .filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(sum(round($"value", 2).cast(dec18_2)).cast(dec18_2).as("xd"))
      .select($"xd", $"xd".cast("double").as("x"))
      .select($"xd", $"x",
        round($"x" * $"x", 4).cast(dec38_4).as("x2"))
      .localCheckpoint() // every E/M pass re-reads it
    val base = u.agg(count(lit(1)).as("n"), sum($"xd").as("s1"),
      sum($"x2").as("s2"),
      round(expr("percentile(x, 0.25)"), 6).as("mu1"),
      round(expr("percentile(x, 0.75)"), 6).as("mu2"))
    var params = base
      .select($"n", $"s1", $"mu1", $"mu2",
        round(($"s2".cast("double")
          - $"s1".cast("double") * $"s1".cast("double") / $"n") / $"n", 6)
          .as("sig2"),
        lit(0.5).as("pi"))
      .localCheckpoint()
    for (_ <- 1 to 2) {
      val e = u.crossJoin(broadcast(params))
        .withColumn("uu", round((($"x" - $"mu1") * ($"x" - $"mu1")
          - ($"x" - $"mu2") * ($"x" - $"mu2")) / (lit(2.0) * $"sig2"), 9))
        .withColumn("r", round(lit(1.0) / (lit(1.0)
          + ((lit(1.0) - $"pi") / $"pi") * exp($"uu")), 6)
          .cast(dec18_6))
      val m = e.agg(sum($"r").as("sr"),
          sum(round($"r".cast("double") * $"x", 4).cast(dec38_4)).as("srx"))
        .crossJoin(broadcast(params.select($"n", $"s1")))
        .select($"n", $"s1",
          round($"srx".cast("double") / $"sr".cast("double"), 6)
            .as("mu1n"),
          round(($"s1".cast("double") - $"srx".cast("double"))
            / ($"n" - $"sr".cast("double")), 6).as("mu2n"),
          round($"sr".cast("double") / $"n", 6).as("pin"))
        .localCheckpoint() // read by the sigma pass AND the next params
      val sig = e.crossJoin(broadcast(m))
        .select(round($"r".cast("double")
          * ($"x" - $"mu1n") * ($"x" - $"mu1n")
          + (lit(1.0) - $"r".cast("double"))
          * ($"x" - $"mu2n") * ($"x" - $"mu2n"), 4).cast(dec38_4).as("t"))
        .agg(sum($"t").as("st"))
      params = m.crossJoin(broadcast(sig))
        .select($"n", $"s1", $"mu1n".as("mu1"), $"mu2n".as("mu2"),
          round($"st".cast("double") / $"n", 6).as("sig2"),
          $"pin".as("pi"))
        .localCheckpoint()
    }
    params.select($"n", round($"pi", 6).as("pi1"), $"mu1", $"mu2",
      round(sqrt($"sig2"), 6).as("sigma"))
  }

  // ---- q_mutual_info -----------------------------------------------------
  /** Mutual information between the two categorical lineitem columns
    * (returnflag × linestatus) plus both marginal entropies and the
    * normalized MI — the categorical-dependency check of feature
    * selection. One tiny joint-count aggregation (|X|·|Y| rows); every
    * probability is an exact-int IEEE quotient; each MI/entropy term
    * rounds once to DECIMAL(18,6) before its order-free sum, and NMI is
    * one final double division. */
  def qMutualInfo(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val joint = Tables.df(spark, sfDir, "lineitem")
      .groupBy($"l_returnflag".as("x"), $"l_linestatus".as("y"))
      .agg(count(lit(1)).as("nxy"))
    val nx = joint.groupBy($"x").agg(sum($"nxy").as("nx"))
    val ny = joint.groupBy($"y").agg(sum($"nxy").as("ny"))
    val n = joint.agg(sum($"nxy").as("n"))
    val terms = joint.join(nx, "x").join(ny, "y").crossJoin(broadcast(n))
      .select($"x", $"y", $"nxy", $"nx", $"ny", $"n",
        round(($"nxy".cast("double") / $"n")
          * log(($"nxy".cast("double") * $"n") / ($"nx".cast("double") * $"ny")), 6)
          .cast(dec18_6).as("mi_term"))
    val mi = terms.agg(sum($"mi_term").cast("double").as("mi"))
    def entropy(m: DataFrame, c: String, out: String) =
      m.crossJoin(broadcast(n))
        .select(round((col(c).cast("double") / $"n")
          * log(col(c).cast("double") / $"n"), 6).cast(dec18_6).as("t"))
        .agg((sum($"t").cast("double") * -1).as(out))
    mi.crossJoin(entropy(nx, "nx", "hx")).crossJoin(entropy(ny, "ny", "hy"))
      .select($"mi", $"hx", $"hy",
        round($"mi" / least($"hx", $"hy"), 6).as("nmi"))
  }

  // ---- q_fk_audit --------------------------------------------------------
  /** Referential-integrity audit across the star schema's FK edges
    * (lineitem→orders, orders→customer, customer→nation): child rows,
    * orphan child rows (anti-join on the parent key), and distinct orphan
    * keys — the ingest-quality gate a join pipeline runs before trusting
    * its keys. Each edge is one key-shuffled (or broadcast) anti-join plus
    * tiny aggregations; a clean corpus reports zeros, and the zeros are
    * the assertion. */
  def qFkAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def edge(name: String, childT: String, ck: String,
        parentT: String, pk: String): DataFrame = {
      val child = Tables.df(spark, sfDir, childT).select(col(ck).as("k"))
      val parent = Tables.df(spark, sfDir, parentT)
        .select(col(pk).as("k")).distinct()
      val orphans = child.join(parent, Seq("k"), "left_anti")
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans"),
          countDistinct($"k").as("n_orphan_keys")))
        .select(lit(name).as("fk_edge"), $"n_child", $"n_orphans",
          $"n_orphan_keys")
    }
    edge("customer.c_nationkey->nation", "customer", "c_nationkey",
        "nation", "n_nationkey")
      .unionAll(edge("lineitem.l_orderkey->orders", "lineitem",
        "l_orderkey", "orders", "o_orderkey"))
      .unionAll(edge("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"))
      .orderBy($"fk_edge")
  }

  // ---- q_mad -------------------------------------------------------------
  /** Robust dispersion per event type: exact median, median absolute
    * deviation (two interpolated-percentile passes written explicitly in
    * both engines), and the count of modified-z outliers
    * (0.6745*(v-med)/mad > 3.5) — the outlier rule that survives the
    * heavy tails a z-score trips over. Each percentile is a per-key
    * aggregate over the rounded-decimal values; medians round to 6dp
    * before the deviation pass so both engines carry identical doubles.
    *
    * Scale note: Spark's exact `percentile` buffers a group's values in
    * the aggregation state, so a group must fit an executor (fine for
    * per-type groups; q_percentile carries the same caveat). For
    * planet-sized groups swap both passes to `approx_percentile` — the
    * plan shape is unchanged, only the oracle-exactness is traded away. */
  def qMad(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.df(spark, sfDir, "events")
      .select($"event_type", round($"value", 6).cast(dec18_6).as("v"))
      .withColumn("vd", $"v".cast("double"))
    val med = ev.groupBy($"event_type")
      .agg(round(expr("percentile(vd, 0.5)"), 6).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs($"vd" - $"med"))
    val mad = dev.groupBy($"event_type")
      .agg(min($"med").as("med"), // constant per group; min is order-free
        round(expr("percentile(adev, 0.5)"), 6).as("mad"),
        count(lit(1)).as("n"))
    val outliers = dev.join(broadcast(
        mad.select($"event_type", $"mad")), "event_type")
      .filter(abs(($"vd" - $"med") * 0.6745 / $"mad") > 3.5)
      .groupBy($"event_type").agg(count(lit(1)).as("n_outliers"))
    mad.join(outliers, Seq("event_type"), "left")
      .select($"event_type", $"n", $"med", $"mad",
        coalesce($"n_outliers", lit(0L)).as("n_outliers"))
      .orderBy($"event_type")
  }

  /** Two-sample Kolmogorov–Smirnov drift test on event values: the
    * first time-half vs the second (split at the exact midpoint of the
    * observed epoch range — integer arithmetic, no quantile needed),
    * D = max |F₁ − F₂| over the pooled distinct values with the
    * Kolmogorov tail approximation p ≈ 2·exp(−2λ²). The
    * distribution-free companion to q_drift_psi's binned PSI: KS needs
    * no bin design and reacts to any CDF difference. The cumulative
    * window runs over the DISTINCT-value relation — bounded by value
    * granularity (cents-grained here), not row count, the same
    * boundedness argument as the quantile kernel's refine grid. */
  def qKsDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.df(spark, sfDir, "events")
    // integer floor-div midpoint (the qOfflineEval cast discipline:
    // DuckDB's double→INT cast rounds, Spark's truncates — div avoids
    // the boundary entirely)
    val mid = ev.agg(expr("(min(unix_micros(cast(ts as timestamp)))"
      + " + max(unix_micros(cast(ts as timestamp)))) div 2")
      .cast("long").as("mid_us"))
    val grouped = ev.crossJoin(broadcast(mid))
      .select($"value".as("v"),
        when(unix_micros($"ts".cast("timestamp")) < $"mid_us", 1)
          .otherwise(2).as("grp"))
      .groupBy($"v")
      .agg(sum(when($"grp" === 1, 1L).otherwise(0L)).as("c1"),
        sum(when($"grp" === 2, 1L).otherwise(0L)).as("c2"))
    val tot = grouped.agg(sum($"c1").as("n1"), sum($"c2").as("n2"))
    val wCum = Window.orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = grouped.crossJoin(broadcast(tot))
      .withColumn("f1", sum($"c1").over(wCum).cast("double") / $"n1")
      .withColumn("f2", sum($"c2").over(wCum).cast("double") / $"n2")
      .groupBy($"n1", $"n2")
      .agg(max(round(abs($"f1" - $"f2"), 9)).as("d_raw"))
    d.select($"n1", $"n2", round($"d_raw", 6).as("d_stat"),
        round($"d_raw" * sqrt($"n1".cast("double") * $"n2"
          / ($"n1" + $"n2")), 6).as("lambda"))
      .select($"n1", $"n2", $"d_stat", $"lambda",
        round(least(lit(1.0),
          lit(2.0) * exp(lit(-2.0) * $"lambda" * $"lambda")), 6)
          .as("p_approx"))
      .withColumn("drift", $"p_approx" < 0.05)
  }

  /** Benford first-digit audit of order totals — the classic
    * fabricated-data / wrong-units tell: naturally-occurring multi-scale
    * amounts follow P(d) = log₁₀(1 + 1/d); narrow-range synthetic
    * prices (like TPC-H's) do NOT, so the fixture must fail the audit
    * loudly (pinned in the spec, the established fixture-diagnostic
    * framing). The first significant digit comes from a char-class
    * regex on the DECIMAL(18,2) string form — no log10 edge cases at
    * powers of ten; Benford expectations evaluate as ln(1+1/d)/ln(10)
    * identically in both engines and round once. One pass to a 9-row
    * relation. */
  def qBenford(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dg = Tables.df(spark, sfDir, "orders")
      .select(substring(regexp_replace(
        $"o_totalprice".cast(dec18_2).cast("string"),
        "[^1-9]", ""), 1, 1).cast("int").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
    val tot = dg.agg(sum($"n").as("n_all"))
    dg.crossJoin(broadcast(tot))
      .select($"digit", $"n",
        round($"n".cast("double") / $"n_all", 6).as("share"),
        round(log(lit(1.0) + lit(1.0) / $"digit") / log(lit(10.0)), 6)
          .as("benford"), $"n_all")
      .select($"digit", $"n", $"share", $"benford",
        round(($"share" - $"benford") * ($"share" - $"benford")
          / $"benford" * $"n_all", 6).as("chi2_term"))
      .orderBy($"digit")
  }

  /** Hill tail-index estimator over the top-100 customer spends — the
    * "how heavy is the whale tail" statistic that tells a capacity
    * planner whether means are even finite-variance: α̂ = k / Σ ln(x_i /
    * x_{k+1}) over the k largest order statistics. The order statistics
    * come from a distributed TakeOrderedAndProject (never a global
    * sort); the ln ratios round to DECIMAL(18,9) before the exact sum.
    * Reports α̂ with the reference order statistic so the estimate is
    * reproducible. */
  def qHillTail(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = 100
    val top = Tables.df(spark, sfDir, "orders")
      .groupBy($"o_custkey")
      .agg(sum($"o_totalprice".cast(dec18_2)).as("s"))
      .orderBy($"s".desc, $"o_custkey".asc)
      .limit(k + 1)
      .localCheckpoint() // feeds the boundary stat + the ln terms
    val xk = top.agg(min($"s").as("xk"))
    top.crossJoin(broadcast(xk))
      .filter($"s" > $"xk")
      .select(round(log($"s".cast("double") / $"xk".cast("double")), 9)
        .cast(dec18_9).as("t"), $"xk")
      .groupBy($"xk").agg(count(lit(1)).as("k_used"),
        sum($"t").as("slt"))
      .select($"k_used", round($"xk".cast("double"), 2).as("x_kplus1"),
        round($"slt".cast("double") / $"k_used", 6).as("mean_ln_ratio"),
        round($"k_used" / $"slt".cast("double"), 6).as("alpha"))
  }

  /** Poisson-bootstrap confidence interval for the mean per-user
    * conversion rate — THE production bootstrap (each of 32 replicates
    * gives every user an independent Poisson(1) weight, so resampling is
    * a per-row projection plus an ordinary aggregate: no sampling with
    * replacement, no shuffling of the data, embarrassingly parallel at
    * any scale). The Poisson weights come from the family's md5 uniform
    * pushed through the exact Poisson(1) inverse CDF (10-digit literal
    * thresholds shared by both engines); replicate means pre-sum as
    * decimals; the CI is the exact 5th/95th percentile of the 32
    * replicate means (percentile ≡ quantile_cont). */
  def qBootstrapCi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val users = Tables.df(spark, sfDir, "events")
      .filter($"event_type".isin("view", "purchase"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("p"))
      .select($"user_id", round($"p".cast("double") / $"n", 6).as("x"))
      .localCheckpoint() // user-thin; feeds the estimate + 32 replicates
    val full = users.agg(count(lit(1)).as("n_users"),
      round(sum($"x".cast(dec18_6)).cast("double") / count(lit(1)), 6)
        .as("est"))
    val reps = users
      .select($"user_id", $"x", explode(expr("sequence(1, 32)")).as("b"))
      .withColumn("u",
        (conv(substring(md5(concat(lit("boot:"), $"b".cast("string"),
          lit(":"), $"user_id".cast("string"))), 1, 15), 16, 10)
          .cast("long") + 1) / lit(1152921504606846976.0))
      .withColumn("w",
        when($"u" <= 0.3678794412, 0L)
          .when($"u" <= 0.7357588823, 1L)
          .when($"u" <= 0.9196986029, 2L)
          .when($"u" <= 0.9810118431, 3L)
          .when($"u" <= 0.9963401532, 4L)
          .when($"u" <= 0.9994058151, 5L)
          .otherwise(6L))
      .groupBy($"b")
      .agg(sum($"w").as("sw"),
        sum(round($"w" * $"x", 9).cast(dec18_9)).as("swx"))
      .filter($"sw" > 0)
      .select($"b", round($"swx".cast("double") / $"sw", 6).as("mb"))
    val stats = reps.agg(count(lit(1)).as("n_reps"),
      round(sum($"mb".cast(dec18_6)).cast("double") / count(lit(1)), 6)
        .as("boot_mean"),
      sum(round($"mb" * $"mb", 9).cast(dec18_9)).as("smb2"),
      sum($"mb".cast(dec18_6)).as("smb"),
      expr("transform(percentile(mb, array(0.05, 0.95))," +
        " x -> round(x, 6))").as("ci"))
    full.crossJoin(broadcast(stats))
      .select($"n_users", $"est", $"n_reps", $"boot_mean",
        round(sqrt(($"smb2".cast("double")
          - $"smb".cast("double") * $"smb".cast("double") / $"n_reps")
          / ($"n_reps" - 1)), 6).as("boot_se"),
        element_at($"ci", 1).as("ci_lo"),
        element_at($"ci", 2).as("ci_hi"))
  }

  /** Leave-one-source-out jackknife of the corpus mean document length —
    * the grouped-resampling twin of q_bootstrap_ci, sized for the
    * "estimate how much each SOURCE moves the corpus statistic" question
    * a mixture designer asks: each row is the corpus mean without that
    * source, plus the jackknife standard error over the leave-out grid.
    * Everything after the per-source aggregate runs on the #sources-row
    * relation. */
  def qJackknife(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val src = Tables.df(spark, sfDir, "documents")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_s"), sum($"n_chars").as("s_s"))
      .localCheckpoint() // #sources rows; feeds totals + leave-outs
    val tot = src.agg(sum($"n_s").as("n"), sum($"s_s").as("s"),
      count(lit(1)).as("g"))
    val loo = src.crossJoin(broadcast(tot))
      .select($"source", $"n_s", $"g",
        round(($"s" - $"s_s").cast("double") / ($"n" - $"n_s"), 6)
          .as("loo_mean"))
    val m = loo.agg(
      round(sum($"loo_mean".cast(dec18_6)).cast("double") / count(lit(1)), 6)
        .as("m_loo"))
    val devs = loo.crossJoin(broadcast(m))
      .select($"source", $"n_s", $"g", $"loo_mean",
        round($"loo_mean" - $"m_loo", 6).as("dev"),
        round(($"loo_mean" - $"m_loo") * ($"loo_mean" - $"m_loo"), 9)
          .cast(dec18_9).as("d2"))
      .localCheckpoint()
    val se = devs.groupBy($"g").agg(sum($"d2").as("s2"))
      .select(round(sqrt(($"g" - 1).cast("double") / $"g"
        * $"s2".cast("double")), 6).as("jk_se"))
    devs.crossJoin(broadcast(se))
      .select($"source", $"n_s".as("n_docs"), $"loo_mean", $"dev",
        $"jk_se")
      .orderBy($"source")
  }

  /** Theil–Sen robust trend of the daily purchase-value series: slope =
    * exact median of all pairwise day-slopes, intercept = median of the
    * per-day residual offsets — the estimator one outlier day cannot
    * drag, reported against the least-squares slope for contrast (the
    * q_trend closed form on the same series). The O(days²) pair join
    * and both exact medians run on the bounded day relation; slopes
    * round to 9dp before the median (percentile ≡ quantile_cont). */
  def qTheilSen(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.df(spark, sfDir, "events")
      .filter($"event_type" === "purchase")
      .groupBy(to_date($"ts").as("d"))
      .agg(sum($"value".cast(dec18_2)).as("x"))
      .localCheckpoint() // day-thin; pairs + medians + OLS reuse it
    val d0 = daily.agg(min($"d").as("d0"))
    val idx = daily.crossJoin(broadcast(d0))
      .select(datediff($"d", $"d0").cast("double").as("t"),
        $"x".cast("double").as("x"))
      .localCheckpoint()
    val slopes = idx.select($"t".as("t1"), $"x".as("x1"))
      .join(idx.select($"t".as("t2"), $"x".as("x2")), $"t1" < $"t2")
      .select(round(($"x2" - $"x1") / ($"t2" - $"t1"), 9).as("sl"))
    val tsSlope = slopes.agg(count(lit(1)).as("n_pairs"),
      expr("round(percentile(sl, 0.5), 6)").as("slope"))
    val inter = idx.crossJoin(broadcast(tsSlope))
      .select($"n_pairs", $"slope",
        round($"x" - $"slope" * $"t", 9).as("r"))
      .groupBy($"n_pairs", $"slope")
      .agg(count(lit(1)).as("n_days"),
        expr("round(percentile(r, 0.5), 6)").as("intercept"))
    // OLS contrast on the same (t, x) relation — exact-sum closed form
    val ols = idx.agg(count(lit(1)).as("n"),
        sum(round($"t", 6).cast(dec18_9)).as("st"),
        sum(round($"x", 6).cast(dec18_9)).as("sx"),
        sum(round($"t" * $"x", 9).cast(dec18_9)).as("stx"),
        sum(round($"t" * $"t", 9).cast(dec18_9)).as("stt"))
      .select(round(($"n" * $"stx".cast("double")
        - $"st".cast("double") * $"sx".cast("double"))
        / ($"n" * $"stt".cast("double")
          - $"st".cast("double") * $"st".cast("double")), 6)
        .as("ols_slope"))
    inter.crossJoin(broadcast(ols))
      .select($"n_days", $"n_pairs", $"slope", $"intercept", $"ols_slope")
  }

  /** Covariate-shift importance weights via the density-ratio trick:
    * bin the event values on pooled deciles, estimate per-bin densities
    * in the first vs second time-half, and weight first-half data by
    * the smoothed ratio w = p̂₂/p̂₁ — the reweighting that adapts
    * historical training data to the current distribution. Reports the
    * per-bin weights and the effective sample size of the reweighted
    * history (ESS = (Σc₁w)²/Σc₁w² — how much data the reweighting
    * really leaves you), with the q_drift_window (c+0.5)/(n+5)
    * smoothing so empty bins never blow up. All constant-sized after
    * one binning pass. */
  def qCovShift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.df(spark, sfDir, "events")
    val mid = ev.agg(expr("(min(unix_micros(cast(ts as timestamp)))"
      + " + max(unix_micros(cast(ts as timestamp)))) div 2")
      .cast("long").as("mid_us"))
    val cuts = ev.agg(expr(
      "transform(percentile(value, array(0.1, 0.2, 0.3, 0.4, 0.5," +
        " 0.6, 0.7, 0.8, 0.9)), x -> round(x, 6))").as("c"))
    val bins = ev.crossJoin(broadcast(mid)).crossJoin(broadcast(cuts))
      .select(
        ((1 to 9).map(i => ($"value" > element_at($"c", i)).cast("int"))
          .foldLeft(lit(1))(_ + _)).as("bin"),
        (unix_micros($"ts".cast("timestamp")) < $"mid_us").as("h1"))
      .groupBy($"bin")
      .agg(sum(when($"h1", 1L).otherwise(0L)).as("c1"),
        sum(when(!$"h1", 1L).otherwise(0L)).as("c2"))
      .localCheckpoint() // 10 rows; feeds totals + weights + ESS
    val tot = bins.agg(sum($"c1").as("n1"), sum($"c2").as("n2"))
    val w = bins.crossJoin(broadcast(tot))
      .select($"bin", $"c1", $"c2",
        round((($"c2" + 0.5) / ($"n2" + 5))
          / (($"c1" + 0.5) / ($"n1" + 5)), 6).as("w"), $"n1")
    val ess = w
      .select($"n1", round($"c1" * $"w", 9).cast(dec18_9).as("cw"),
        round($"c1" * $"w" * $"w", 9).cast(dec18_9).as("cw2"))
      .groupBy($"n1")
      .agg(sum($"cw").as("sw"), sum($"cw2").as("sw2"))
      .select(round($"sw".cast("double") * $"sw".cast("double")
        / $"sw2".cast("double"), 6).as("ess"), $"n1")
      .select($"ess", round($"ess" / $"n1", 6).as("ess_ratio"))
    w.crossJoin(broadcast(ess))
      .select($"bin", $"c1", $"c2", $"w", $"ess", $"ess_ratio")
      .orderBy($"bin")
  }

  /** Heavy-change detection over the part-demand distribution: the
    * top-20 parts by absolute share shift between the early and late
    * shipdate halves — the "what's trending / collapsing" report that
    * heavy-HITTER tracking misses (a stable heavy hitter is boring; a
    * mover is actionable). Exact counts, one part-keyed aggregate,
    * integer-div epoch midpoint, distributed top-k on |Δshare|. */
  def qHeavyChange(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
      .select($"l_partkey".as("part"),
        unix_micros($"l_shipdate".cast("timestamp")).as("us"))
    val mid = li.agg(expr("(min(us) + max(us)) div 2").cast("long")
      .as("mid_us"))
    val parts = li.crossJoin(broadcast(mid))
      .groupBy($"part")
      .agg(sum(when($"us" < $"mid_us", 1L).otherwise(0L)).as("c1"),
        sum(when($"us" >= $"mid_us", 1L).otherwise(0L)).as("c2"))
      .localCheckpoint() // part-thin; feeds totals + scoring
    val tot = parts.agg(sum($"c1").as("n1"), sum($"c2").as("n2"))
    parts.crossJoin(broadcast(tot))
      .select($"part", $"c1", $"c2",
        round($"c1".cast("double") / $"n1", 6).as("s1"),
        round($"c2".cast("double") / $"n2", 6).as("s2"),
        round($"c2".cast("double") / $"n2"
          - $"c1".cast("double") / $"n1", 6).as("delta"))
      .orderBy(abs($"delta").desc, $"part".asc)
      .limit(20)
  }

  /** Additive seasonal decomposition of the daily event-value series
    * (STL-lite): trend = centered 7-day moving average, seasonal =
    * centered day-of-week means, residual = the remainder — the
    * decomposition a forecaster reads before picking model terms
    * (q_trend fits the line; this shows what the line ignores).
    * Day-of-week comes from epoch-day arithmetic modulo 7 (Spark's
    * dayofweek and DuckDB's disagree on numbering; datediff from a
    * known Monday is engine-identical). All windows run on the bounded
    * day relation. */
  def qStlLite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    stlDecomposition(spark, sfDir).orderBy($"d")
  }

  /** The decomposition relation behind [[qStlLite]] (d, dow, x, trend,
    * seasonal, residual — unordered), shared with [[qStlAnomaly]] so
    * the anomaly score grades exactly the shipped decomposition. */
  private[queries] def stlDecomposition(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.df(spark, sfDir, "events")
      .groupBy(to_date($"ts").as("d"))
      .agg(sum($"value".cast(dec18_2)).as("x"))
      .withColumn("dow",
        datediff($"d", lit("1970-01-05").cast("date")) % 7)
      .localCheckpoint() // day-thin; feeds trend + seasonal + output
    val wMa = Window.orderBy($"d").rowsBetween(-3, 3)
    val dowMean = daily.groupBy($"dow")
      .agg((sum($"x").cast("double") / count(lit(1))).as("sm"))
    val grand = dowMean.agg(
      round(sum(round($"sm", 6).cast(dec18_6)).cast("double")
        / count(lit(1)), 6).as("gm"))
    daily
      .withColumn("trend", round(sum($"x").over(wMa).cast("double")
        / count($"x").over(wMa), 6))
      .join(broadcast(dowMean), "dow")
      .crossJoin(broadcast(grand))
      .select($"d".cast("string").as("d"), $"dow",
        round($"x".cast("double"), 2).as("x"), $"trend",
        round(round($"sm", 6) - $"gm", 6).as("seasonal"))
      .select($"d", $"dow", $"x", $"trend", $"seasonal",
        round($"x" - $"trend" - $"seasonal", 6).as("residual"))
  }

  // ---- q_stl_anomaly -------------------------------------------------------
  /** Seasonally-adjusted anomaly days — the composition the
    * decomposition exists FOR: q_stl_lite's residuals scored by the
    * robust z (residual − median)/(1.4826·MAD) with |z| > 3 flagged,
    * so a demand spike reads as anomalous only net of trend AND
    * day-of-week seasonality (a raw z-score would flag every weekend).
    * Median/MAD via the exact percentile ≡ quantile_cont idiom; the
    * day relation is calendar-bounded, so the two 1-row robust moments
    * broadcast. */
  def qStlAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val stl = stlDecomposition(spark, sfDir).localCheckpoint()
    val med = stl.agg(expr("percentile(residual, 0.5)").as("med"))
    val mad = stl.crossJoin(broadcast(med))
      .agg(expr("percentile(abs(residual - med), 0.5)").as("mad"),
        min($"med").as("med"))
    val score = when($"mad" > 0.0,
      round(($"residual" - $"med") / (lit(1.4826) * $"mad"), 6))
    stl.crossJoin(broadcast(mad))
      .select($"d", $"x", $"residual", score.as("score"),
        coalesce(abs(score) > 3.0, lit(false)).as("anomaly"))
      .orderBy($"d")
  }

  // ---- q_forecast_eval -----------------------------------------------------
  /** Forecast-baseline evaluation (Hyndman & Koehler '06) over the daily
    * purchase-value series: the naive (yesterday) and seasonal-naive
    * (last week) forecasts scored by MAE, RMSE, and MASE — the
    * scale-free error every forecasting bake-off reports, with the
    * naive in-sample MAE as its denominator. A model that can't beat
    * MASE 1.0 is worse than "predict yesterday" — the gate a pipeline
    * runs BEFORE shipping any learned forecaster. Deliberate deviation
    * from Hyndman & Koehler: BOTH methods (incl. seasonal-naive) are
    * scaled by the NON-seasonal naive in-sample MAE, so the two MASE
    * rows share one denominator and read as "× the cost of predicting
    * yesterday" — a cross-method-comparable scale; the paper's seasonal
    * variant would scale the snaive row by the lag-7 in-sample MAE
    * instead, making the rows incomparable to each other. Absolute
    * errors are
    * exact decimal differences; squares round once to 4dp before the
    * sums; the three ratios are shared double closed forms. Shape: one
    * events scan → 30-row day relation; all windows run over it. */
  def qForecastEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.df(spark, sfDir, "events")
      .filter($"event_type" === "purchase")
      .groupBy(to_date($"ts").as("d"))
      .agg(sum(round($"value", 2).cast(dec18_2)).as("y"))
    val w = Window.orderBy($"d")
    val lagged = days
      .withColumn("l1", lag($"y", 1).over(w))
      .withColumn("l7", lag($"y", 7).over(w))
    // MASE scale: in-sample naive MAE over the FULL series (t >= 2)
    val scale = lagged.filter($"l1".isNotNull)
      .agg(count(lit(1)).as("ns"), sum(abs($"y" - $"l1")).as("sd"))
      .select(($"sd".cast("double") / $"ns").as("scale"))
    val ev = lagged.filter($"l7".isNotNull)
      .select(abs($"y" - $"l1").as("e1"), abs($"y" - $"l7").as("e7"))
      .agg(count(lit(1)).as("n_eval"),
        sum($"e1").as("s1"),
        sum(round($"e1".cast("double") * $"e1", 4).cast(dec38_4)).as("q1"),
        sum($"e7").as("s7"),
        sum(round($"e7".cast("double") * $"e7", 4).cast(dec38_4)).as("q7"))
    val nd = $"n_eval".cast("double")
    ev.crossJoin(broadcast(scale))
      .select($"n_eval", $"scale",
        ($"s1".cast("double") / nd).as("mae1"),
        sqrt($"q1".cast("double") / nd).as("rmse1"),
        ($"s7".cast("double") / nd).as("mae7"),
        sqrt($"q7".cast("double") / nd).as("rmse7"))
      .select($"n_eval",
        expr("stack(2, 'naive', mae1, rmse1, 'snaive', mae7, rmse7)")
          .as(Seq("method", "mae", "rmse")),
        $"scale")
      .select($"method", $"n_eval", round($"mae", 6).as("mae"),
        round($"rmse", 6).as("rmse"),
        round(when($"scale" > 0.0, $"mae" / $"scale"), 6).as("mase"))
      .orderBy($"method")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_forecast_eval" -> qForecastEval,
    "q_heavy_change" -> qHeavyChange,
    "q_stl_lite" -> qStlLite,
    "q_stl_anomaly" -> qStlAnomaly,
    "q_partial_corr" -> qPartialCorr,
    "q_gumbel_fit" -> qGumbelFit,
    "q_ses" -> qSes,
    "q_mixture_em" -> qMixtureEm,
    "q_negbin_fit" -> qNegbinFit,
    "q_hurst" -> qHurst,
    "q_cov_shift" -> qCovShift,
    "q_theil_sen" -> qTheilSen,
    "q_bootstrap_ci" -> qBootstrapCi,
    "q_jackknife" -> qJackknife,
    "q_benford" -> qBenford,
    "q_hill_tail" -> qHillTail,
    "q_ks_drift" -> qKsDrift,
    "q_profile" -> qProfile,
    "q_zscore" -> qZscore,
    "q_ewma" -> qEwma,
    "q_entropy" -> qEntropy,
    "q_histogram" -> qHistogram,
    "q_bin_quantile" -> qBinQuantile,
    "q_skew_profile" -> qSkewProfile,
    "q_drift_psi" -> qDriftPsi,
    "q_corr_matrix" -> qCorrMatrix,
    "q_mutual_info" -> qMutualInfo,
    "q_trend" -> qTrend,
    "q_winsorize" -> qWinsorize,
    "q_fk_audit" -> qFkAudit,
    "q_mad" -> qMad
  )

  private val toksSql =
    "list_filter(string_split(lower(text), ' '), x -> x != '')"

  private def corrOracle: String = {
    val pairs = for {
      i <- corrCols.indices; j <- corrCols.indices if i < j
    } yield (corrCols(i), corrCols(j))
    val decs = corrCols.map(c =>
      s"CAST(round($c, 2) AS DECIMAL(18,2)) AS $c").mkString(", ")
    val moments =
      Seq("count(*) AS n") ++
      corrCols.map(c => s"SUM($c) AS s_$c") ++
      corrCols.map(c => s"SUM($c * $c) AS ss_$c") ++
      pairs.map { case (a, b) => s"SUM($a * $b) AS p_${a}_$b" }
    def d(c: String) = s"CAST($c AS DOUBLE)"
    def vr(c: String) = s"(n * ${d(s"ss_$c")} - ${d(s"s_$c")} * ${d(s"s_$c")})"
    val selects = pairs.map { case (a, b) =>
      s"SELECT '$a' AS col_x, '$b' AS col_y, " +
        s"CASE WHEN ${vr(a)} > 0 AND ${vr(b)} > 0 THEN " +
        s"round((n * ${d(s"p_${a}_$b")} - ${d(s"s_$a")} * ${d(s"s_$b")})" +
        s" / (sqrt(${vr(a)}) * sqrt(${vr(b)})), 6) END" +
        " AS corr FROM m"
    }
    s"""WITH li AS (SELECT $decs FROM lineitem),
       |m AS (SELECT ${moments.mkString(", ")} FROM li)
       |${selects.mkString("\n|UNION ALL\n|")}
       |ORDER BY col_x, col_y""".stripMargin
  }

  /** The q_stl_lite decomposition CTE chain through relation `stl`
    * (d VARCHAR, dow, x, trend, seasonal, residual) — shared with the
    * q_stl_anomaly oracle so the scored residuals are the shipped
    * decomposition's. */
  private val stlCtesSql: String =
    """daily AS (
      |  SELECT CAST(ts AS DATE) AS d,
      |    sum(CAST(value AS DECIMAL(18,2))) AS x,
      |    CAST(date_diff('day', DATE '1970-01-05', CAST(ts AS DATE))
      |      % 7 AS INT) AS dow
      |  FROM events GROUP BY 1, 3),
      |dm AS (
      |  SELECT dow, CAST(sum(x) AS DOUBLE) / count(*) AS sm
      |  FROM daily GROUP BY 1),
      |gm AS (
      |  SELECT round(CAST(sum(CAST(round(sm, 6) AS DECIMAL(18,6)))
      |    AS DOUBLE) / count(*), 6) AS gm
      |  FROM dm),
      |tr AS (
      |  SELECT d, dow, x,
      |    round(CAST(sum(x) OVER w AS DOUBLE)
      |      / count(x) OVER w, 6) AS trend
      |  FROM daily
      |  WINDOW w AS (ORDER BY d
      |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |j AS (
      |  SELECT tr.d, tr.dow, round(CAST(tr.x AS DOUBLE), 2) AS x,
      |    tr.trend, round(round(dm.sm, 6) - gm.gm, 6) AS seasonal
      |  FROM tr JOIN dm USING (dow) CROSS JOIN gm),
      |stl AS (
      |  SELECT CAST(d AS VARCHAR) AS d, dow, x, trend, seasonal,
      |    round(x - trend - seasonal, 6) AS residual
      |  FROM j)""".stripMargin

  /** One EM iteration for the q_mixture_em oracle — E-step
    * responsibilities from p&lt;prev&gt;, M-step means/π, tied-variance
    * pass — the Spark loop's twin, with identical rounding points. */
  private def emIterSql(prev: String, cur: String): String =
    s"""e$cur AS (
       |  SELECT x,
       |    CAST(round(1.0 / (1.0 + ((1.0 - pi) / pi)
       |      * exp(round(((x - mu1) * (x - mu1)
       |        - (x - mu2) * (x - mu2)) / (2.0 * sig2), 9))), 6)
       |      AS DECIMAL(18,6)) AS r
       |  FROM u CROSS JOIN p$prev),
       |m$cur AS (
       |  SELECT n, s1,
       |    round(CAST(srx AS DOUBLE) / CAST(sr AS DOUBLE), 6) AS mu1n,
       |    round((CAST(s1 AS DOUBLE) - CAST(srx AS DOUBLE))
       |      / (n - CAST(sr AS DOUBLE)), 6) AS mu2n,
       |    round(CAST(sr AS DOUBLE) / n, 6) AS pin
       |  FROM (SELECT sum(r) AS sr,
       |          sum(CAST(round(CAST(r AS DOUBLE) * x, 4)
       |            AS DECIMAL(38,4))) AS srx
       |        FROM e$cur)
       |  CROSS JOIN (SELECT n, s1 FROM p$prev)),
       |sg$cur AS (
       |  SELECT sum(CAST(round(CAST(r AS DOUBLE)
       |      * (x - mu1n) * (x - mu1n)
       |      + (1.0 - CAST(r AS DOUBLE))
       |      * (x - mu2n) * (x - mu2n), 4) AS DECIMAL(38,4))) AS st
       |  FROM e$cur CROSS JOIN m$cur),
       |p$cur AS (
       |  SELECT n, s1, mu1n AS mu1, mu2n AS mu2,
       |    round(CAST(st AS DOUBLE) / n, 6) AS sig2, pin AS pi
       |  FROM m$cur CROSS JOIN sg$cur)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_negbin_fit" ->
      """WITH counts AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT u.user_id, dd.d
        |  FROM (SELECT DISTINCT user_id FROM events) u
        |  CROSS JOIN (SELECT DISTINCT CAST(ts AS DATE) AS d
        |              FROM events) dd),
        |cells AS (
        |  SELECT coalesce(c.c, 0) AS c
        |  FROM grid g LEFT JOIN counts c
        |    ON c.user_id = g.user_id AND c.d = g.d),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS s1,
        |    CAST(sum(c * c) AS BIGINT) AS s2,
        |    CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS zeros
        |  FROM cells),
        |f AS (
        |  SELECT n, zeros, CAST(s1 AS DOUBLE) / n AS m,
        |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
        |      * CAST(s1 AS DOUBLE) / n) / (n - 1) AS v
        |  FROM s),
        |g2 AS (
        |  SELECT n, zeros, m, v,
        |    CASE WHEN v > m THEN round(m * m / (v - m), 6) END AS r
        |  FROM f)
        |SELECT n, zeros, round(m, 6) AS mean, round(v, 6) AS variance,
        |  round(v / m, 6) AS dispersion, v > m AS overdispersed,
        |  r AS nb_r,
        |  round(CAST(zeros AS DOUBLE) / n, 6) AS p0_observed,
        |  round(exp(round(-m, 9)), 6) AS p0_poisson,
        |  round(pow(round(r / (r + m), 9), r), 6) AS p0_negbin
        |FROM g2""".stripMargin,

    "q_hurst" ->
      """WITH days0 AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2)))
        |      AS DECIMAL(18,2)) AS yd
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |days AS (
        |  SELECT d, yd, CAST(yd AS DOUBLE) AS y,
        |    row_number() OVER (ORDER BY d) AS t
        |  FROM days0),
        |sized AS (
        |  SELECT t, yd, y, unnest([5, 10, 15, 30]) AS bn FROM days),
        |sz AS (SELECT t, yd, y, bn, (t - 1) // bn AS blk FROM sized),
        |bm AS (
        |  SELECT bn, blk, count(*) AS cnt,
        |    CAST(sum(yd) AS DOUBLE) / count(*) AS mu,
        |    CAST(sum(CAST(round(y * y, 4) AS DECIMAL(38,4))) AS DOUBLE)
        |      / count(*) AS m2
        |  FROM sz GROUP BY 1, 2),
        |bmf AS (SELECT * FROM bm WHERE cnt = bn),
        |dev AS (
        |  SELECT sz.bn, sz.blk, sz.t, sz.y - bmf.mu AS dv,
        |    bmf.mu, bmf.m2
        |  FROM sz JOIN bmf ON bmf.bn = sz.bn AND bmf.blk = sz.blk),
        |cumdev AS (
        |  SELECT bn, blk, mu, m2,
        |    sum(dv) OVER (PARTITION BY bn, blk ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM dev),
        |rsb AS (
        |  SELECT bn, blk, max(cum) - min(cum) AS r,
        |    sqrt(min(m2) - min(mu) * min(mu)) AS s
        |  FROM cumdev GROUP BY 1, 2),
        |rsm AS (
        |  SELECT bn,
        |    CAST(sum(CAST(round(r / s, 9) AS DECIMAL(28,9))) AS DOUBLE)
        |      / count(*) AS rs_mean
        |  FROM rsb WHERE s > 0.0 GROUP BY bn),
        |pts AS (
        |  SELECT CAST(round(ln(CAST(bn AS DOUBLE)), 9)
        |      AS DECIMAL(18,9)) AS lx,
        |    CAST(round(ln(rs_mean), 9) AS DECIMAL(18,9)) AS ly
        |  FROM rsm),
        |ols AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, sum(lx) AS sx,
        |    sum(ly) AS sy, sum(lx * lx) AS sxx, sum(lx * ly) AS sxy
        |  FROM pts),
        |piv AS (
        |  SELECT
        |    round(max(CASE WHEN bn = 5 THEN rs_mean END), 6) AS rs_5,
        |    round(max(CASE WHEN bn = 10 THEN rs_mean END), 6) AS rs_10,
        |    round(max(CASE WHEN bn = 15 THEN rs_mean END), 6) AS rs_15,
        |    round(max(CASE WHEN bn = 30 THEN rs_mean END), 6) AS rs_30
        |  FROM rsm)
        |SELECT k AS n_sizes, rs_5, rs_10, rs_15, rs_30,
        |  round(CASE WHEN k * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0
        |    THEN (k * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (k * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END, 6)
        |    AS hurst
        |FROM ols CROSS JOIN piv""".stripMargin,

    "q_mixture_em" ->
      (s"""WITH u0 AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2)))
        |      AS DECIMAL(18,2)) AS xd
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |u1 AS (SELECT xd, CAST(xd AS DOUBLE) AS x FROM u0),
        |u AS (SELECT xd, x,
        |  CAST(round(x * x, 4) AS DECIMAL(38,4)) AS x2 FROM u1),
        |b AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, sum(xd) AS s1,
        |    sum(x2) AS s2,
        |    round(quantile_cont(x, 0.25), 6) AS mu1,
        |    round(quantile_cont(x, 0.75), 6) AS mu2
        |  FROM u),
        |p0 AS (
        |  SELECT n, s1, mu1, mu2,
        |    round((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
        |      * CAST(s1 AS DOUBLE) / n) / n, 6) AS sig2,
        |    0.5 AS pi
        |  FROM b),
        |${emIterSql("0", "1")},
        |${emIterSql("1", "2")}
        |SELECT n, round(pi, 6) AS pi1, mu1, mu2,
        |  round(sqrt(sig2), 6) AS sigma
        |FROM p2""".stripMargin),

    "q_partial_corr" ->
      """WITH u AS (
        |  SELECT o_custkey, count(*) AS x,
        |    CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
        |      AS DECIMAL(18,2)) AS y,
        |    date_diff('day', min(o_orderdate), max(o_orderdate)) AS z
        |  FROM orders GROUP BY o_custkey),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, sum(y) AS sy,
        |    CAST(sum(z) AS BIGINT) AS sz,
        |    CAST(sum(x * x) AS BIGINT) AS sxx, sum(y * y) AS syy,
        |    CAST(sum(z * z) AS BIGINT) AS szz,
        |    sum(x * y) AS sxy, CAST(sum(x * z) AS BIGINT) AS sxz,
        |    sum(y * z) AS syz
        |  FROM u),
        |v AS (
        |  SELECT n,
        |    n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
        |      * CAST(sx AS DOUBLE) AS vx,
        |    n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
        |      * CAST(sy AS DOUBLE) AS vy,
        |    n * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)
        |      * CAST(sz AS DOUBLE) AS vz,
        |    sx, sy, sz, sxy, sxz, syz
        |  FROM s),
        |r AS (
        |  SELECT n,
        |    CASE WHEN vx > 0.0 AND vy > 0.0 THEN
        |      (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
        |        * CAST(sy AS DOUBLE)) / (sqrt(vx) * sqrt(vy)) END AS rxy,
        |    CASE WHEN vx > 0.0 AND vz > 0.0 THEN
        |      (n * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE)
        |        * CAST(sz AS DOUBLE)) / (sqrt(vx) * sqrt(vz)) END AS rxz,
        |    CASE WHEN vy > 0.0 AND vz > 0.0 THEN
        |      (n * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE)
        |        * CAST(sz AS DOUBLE)) / (sqrt(vy) * sqrt(vz)) END AS ryz
        |  FROM v)
        |SELECT n, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
        |  round(ryz, 6) AS r_yz,
        |  round(CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0.0
        |    THEN (rxy - rxz * ryz)
        |      / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) END, 6)
        |    AS r_xy_given_z
        |FROM r""".stripMargin,

    "q_gumbel_fit" ->
      """WITH mx AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    max(CAST(round(value, 2) AS DECIMAL(18,2))) AS m
        |  FROM events GROUP BY 1),
        |m2 AS (
        |  SELECT m, CAST(round(CAST(m AS DOUBLE) * m, 4)
        |    AS DECIMAL(38,4)) AS m2
        |  FROM mx),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, sum(m) AS s1,
        |    sum(m2) AS s2
        |  FROM m2),
        |f AS (
        |  SELECT n, CAST(s1 AS DOUBLE) / n AS mean,
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
        |      * CAST(s1 AS DOUBLE) / n) / (n - 1)) AS sd
        |  FROM s),
        |g AS (
        |  SELECT n, mean, sd, sd * 0.7796968012336092 AS beta,
        |    mean - 0.5772156649015329 * (sd * 0.7796968012336092) AS mu
        |  FROM f)
        |SELECT n AS n_days, round(mean, 6) AS mean_max,
        |  round(sd, 6) AS sd_max, round(beta, 6) AS beta,
        |  round(mu, 6) AS mu,
        |  round(mu - beta * ln(-ln(1.0 - 1.0 / 30.0)), 6)
        |    AS return_level_30,
        |  round(mu - beta * ln(-ln(1.0 - 1.0 / 365.0)), 6)
        |    AS return_level_365
        |FROM g""".stripMargin,

    "q_ses" ->
      """WITH days0 AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2)))
        |      AS DECIMAL(18,2)) AS y
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |days AS (
        |  SELECT d, y, row_number() OVER (ORDER BY d) AS t FROM days0),
        |terms AS (
        |  SELECT a.t AS tt, a.d,
        |    CAST(round(CASE WHEN b.j = 1 THEN pow(0.7, a.t - 2)
        |      ELSE 0.3 * pow(0.7, a.t - 1 - b.j) END
        |      * CAST(b.yj AS DOUBLE), 9) AS DECIMAL(28,9)) AS term
        |  FROM days a JOIN (SELECT t AS j, y AS yj FROM days) b
        |    ON b.j < a.t),
        |fitted AS (
        |  SELECT tt, d, CAST(sum(term) AS DOUBLE) AS fitted
        |  FROM terms GROUP BY 1, 2)
        |SELECT CAST(days.d AS VARCHAR) AS d,
        |  round(CAST(y AS DOUBLE), 2) AS y,
        |  round(f.fitted, 6) AS fitted,
        |  round(CAST(y AS DOUBLE) - f.fitted, 6) AS err
        |FROM days LEFT JOIN fitted f ON f.tt = days.t
        |ORDER BY d""".stripMargin,

    // same day relation, same lag forecasts, same 4dp squared errors
    "q_forecast_eval" ->
      """WITH days AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS y
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |lagged AS (
        |  SELECT d, y, lag(y, 1) OVER (ORDER BY d) AS l1,
        |    lag(y, 7) OVER (ORDER BY d) AS l7
        |  FROM days),
        |sc AS (
        |  SELECT CAST(sum(abs(y - l1)) AS DOUBLE) / count(*) AS scale
        |  FROM lagged WHERE l1 IS NOT NULL),
        |ev AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_eval,
        |    sum(abs(y - l1)) AS s1,
        |    sum(CAST(round(CAST(abs(y - l1) AS DOUBLE) * abs(y - l1), 4)
        |      AS DECIMAL(38,4))) AS q1,
        |    sum(abs(y - l7)) AS s7,
        |    sum(CAST(round(CAST(abs(y - l7) AS DOUBLE) * abs(y - l7), 4)
        |      AS DECIMAL(38,4))) AS q7
        |  FROM lagged WHERE l7 IS NOT NULL),
        |m AS (
        |  SELECT 'naive' AS method, n_eval,
        |    CAST(s1 AS DOUBLE) / n_eval AS mae,
        |    sqrt(CAST(q1 AS DOUBLE) / n_eval) AS rmse
        |  FROM ev
        |  UNION ALL
        |  SELECT 'snaive', n_eval, CAST(s7 AS DOUBLE) / n_eval,
        |    sqrt(CAST(q7 AS DOUBLE) / n_eval)
        |  FROM ev)
        |SELECT method, n_eval, round(mae, 6) AS mae,
        |  round(rmse, 6) AS rmse,
        |  round(CASE WHEN scale > 0.0 THEN mae / scale END, 6) AS mase
        |FROM m CROSS JOIN sc ORDER BY method""".stripMargin,

    // same integer-div shipdate midpoint, same exact share deltas and
    // |delta| top-20
    "q_heavy_change" ->
      """WITH li AS (
        |  SELECT l_partkey AS part, epoch_us(l_shipdate) AS us
        |  FROM lineitem),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM li),
        |parts AS (
        |  SELECT part,
        |    CAST(sum(CASE WHEN us < (SELECT mid_us FROM mid)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN us < (SELECT mid_us FROM mid)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |  FROM li GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c2) AS BIGINT) AS n2 FROM parts)
        |SELECT part, c1, c2,
        |  round(CAST(c1 AS DOUBLE) / n1, 6) AS s1,
        |  round(CAST(c2 AS DOUBLE) / n2, 6) AS s2,
        |  round(CAST(c2 AS DOUBLE) / n2
        |    - CAST(c1 AS DOUBLE) / n1, 6) AS delta
        |FROM parts CROSS JOIN tot
        |ORDER BY abs(round(CAST(c2 AS DOUBLE) / n2
        |  - CAST(c1 AS DOUBLE) / n1, 6)) DESC, part ASC
        |LIMIT 20""".stripMargin,

    // same epoch-day dow arithmetic, same centered 7-day MA frame and
    // centered dow seasonal, same once-rounded components
    "q_stl_lite" ->
      (s"""WITH $stlCtesSql
        |SELECT d, dow, x, trend, seasonal, residual
        |FROM stl ORDER BY d""".stripMargin),

    // the decomposition chain verbatim (stlCtesSql); robust moments via
    // the exact percentile = quantile_cont idiom, one shared z formula
    "q_stl_anomaly" ->
      (s"""WITH $stlCtesSql,
        |st AS (SELECT quantile_cont(residual, 0.5) AS med FROM stl),
        |md AS (
        |  SELECT quantile_cont(abs(residual - med), 0.5) AS mad,
        |    min(med) AS med
        |  FROM stl CROSS JOIN st)
        |SELECT d, x, residual,
        |  CASE WHEN mad > 0.0 THEN
        |    round((residual - med) / (1.4826 * mad), 6) END AS score,
        |  coalesce(abs(CASE WHEN mad > 0.0 THEN
        |    round((residual - med) / (1.4826 * mad), 6) END) > 3.0,
        |    FALSE) AS anomaly
        |FROM stl CROSS JOIN md ORDER BY d""".stripMargin),

    // same pooled decile bins, same smoothed density ratio and
    // decimal-pre-sum effective sample size
    "q_cov_shift" ->
      """WITH mid AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
        |  FROM events),
        |cuts AS (
        |  SELECT list_transform(quantile_cont(value,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        |    x -> round(x, 6)) AS c
        |  FROM events),
        |b AS (
        |  SELECT 1 + CAST(value > c[1] AS INT) + CAST(value > c[2]
        |      AS INT) + CAST(value > c[3] AS INT)
        |    + CAST(value > c[4] AS INT) + CAST(value > c[5] AS INT)
        |    + CAST(value > c[6] AS INT) + CAST(value > c[7] AS INT)
        |    + CAST(value > c[8] AS INT) + CAST(value > c[9] AS INT)
        |      AS bin,
        |    epoch_us(ts) < mid.mid_us AS h1
        |  FROM events CROSS JOIN mid CROSS JOIN cuts),
        |bins AS (
        |  SELECT bin,
        |    CAST(sum(CASE WHEN h1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN h1 THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |  FROM b GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c2) AS BIGINT) AS n2 FROM bins),
        |w AS (
        |  SELECT bin, c1, c2,
        |    round(((c2 + 0.5) / (n2 + 5)) / ((c1 + 0.5) / (n1 + 5)), 6)
        |      AS w, tot.n1
        |  FROM bins CROSS JOIN tot),
        |ess AS (
        |  SELECT n1,
        |    CAST(sum(CAST(round(c1 * w, 9) AS DECIMAL(18,9)))
        |      AS DOUBLE) AS sw,
        |    CAST(sum(CAST(round(c1 * w * w, 9) AS DECIMAL(18,9)))
        |      AS DOUBLE) AS sw2
        |  FROM w GROUP BY 1),
        |e2 AS (
        |  SELECT round(sw * sw / sw2, 6) AS ess,
        |    round(round(sw * sw / sw2, 6) / n1, 6) AS ess_ratio
        |  FROM ess)
        |SELECT w.bin, w.c1, w.c2, w.w, e2.ess, e2.ess_ratio
        |FROM w CROSS JOIN e2
        |ORDER BY w.bin""".stripMargin,

    // same 9dp pairwise slopes, same exact medians (quantile_cont ≡
    // percentile), same OLS closed form from decimal sums
    "q_theil_sen" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    sum(CAST(value AS DECIMAL(18,2))) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |d0 AS (SELECT min(d) AS d0 FROM daily),
        |idx AS (
        |  SELECT CAST(date_diff('day', d0.d0, daily.d) AS DOUBLE) AS t,
        |    CAST(x AS DOUBLE) AS x
        |  FROM daily CROSS JOIN d0),
        |slopes AS (
        |  SELECT round((b.x - a.x) / (b.t - a.t), 9) AS sl
        |  FROM idx a JOIN idx b ON a.t < b.t),
        |ts AS (
        |  SELECT count(*) AS n_pairs,
        |    round(quantile_cont(sl, 0.5), 6) AS slope
        |  FROM slopes),
        |inter AS (
        |  SELECT ts.n_pairs, ts.slope, count(*) AS n_days,
        |    round(quantile_cont(round(idx.x - ts.slope * idx.t, 9),
        |      0.5), 6) AS intercept
        |  FROM idx CROSS JOIN ts GROUP BY 1, 2),
        |ols AS (
        |  SELECT count(*) AS n,
        |    sum(CAST(round(t, 6) AS DECIMAL(18,9))) AS st,
        |    sum(CAST(round(x, 6) AS DECIMAL(18,9))) AS sx,
        |    sum(CAST(round(t * x, 9) AS DECIMAL(18,9))) AS stx,
        |    sum(CAST(round(t * t, 9) AS DECIMAL(18,9))) AS stt
        |  FROM idx),
        |ols2 AS (
        |  SELECT round((n * CAST(stx AS DOUBLE)
        |    - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
        |    / (n * CAST(stt AS DOUBLE)
        |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)), 6)
        |    AS ols_slope
        |  FROM ols)
        |SELECT inter.n_days, inter.n_pairs, inter.slope,
        |  inter.intercept, ols2.ols_slope
        |FROM inter CROSS JOIN ols2""".stripMargin,

    // same md5 uniforms, same 10-digit Poisson(1) CDF thresholds, same
    // decimal pre-sums and exact percentile CI
    "q_bootstrap_ci" ->
      """WITH users AS (
        |  SELECT user_id,
        |    round(CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS x
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1),
        |full_est AS (
        |  SELECT count(*) AS n_users,
        |    round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(*), 6) AS est
        |  FROM users),
        |reps AS (
        |  SELECT b, user_id, x,
        |    (('0x' || substr(md5('boot:' || CAST(b AS VARCHAR) || ':'
        |      || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT + 1)
        |      / 1152921504606846976.0 AS u
        |  FROM users CROSS JOIN (SELECT unnest(range(1, 33)) AS b)),
        |wts AS (
        |  SELECT b, x, CASE
        |    WHEN u <= 0.3678794412 THEN 0
        |    WHEN u <= 0.7357588823 THEN 1
        |    WHEN u <= 0.9196986029 THEN 2
        |    WHEN u <= 0.9810118431 THEN 3
        |    WHEN u <= 0.9963401532 THEN 4
        |    WHEN u <= 0.9994058151 THEN 5
        |    ELSE 6 END AS w
        |  FROM reps),
        |mb AS (
        |  SELECT b, round(CAST(sum(CAST(round(w * x, 9)
        |    AS DECIMAL(18,9))) AS DOUBLE) / CAST(sum(w) AS BIGINT), 6)
        |    AS mb
        |  FROM wts GROUP BY b HAVING CAST(sum(w) AS BIGINT) > 0),
        |st AS (
        |  SELECT count(*) AS n_reps,
        |    round(CAST(sum(CAST(mb AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(*), 6) AS boot_mean,
        |    CAST(sum(CAST(round(mb * mb, 9) AS DECIMAL(18,9)))
        |      AS DOUBLE) AS smb2,
        |    CAST(sum(CAST(mb AS DECIMAL(18,6))) AS DOUBLE) AS smb,
        |    list_transform(quantile_cont(mb, [0.05, 0.95]),
        |      x -> round(x, 6)) AS ci
        |  FROM mb)
        |SELECT f.n_users, f.est, st.n_reps, st.boot_mean,
        |  round(sqrt((st.smb2 - st.smb * st.smb / st.n_reps)
        |    / (st.n_reps - 1)), 6) AS boot_se,
        |  st.ci[1] AS ci_lo, st.ci[2] AS ci_hi
        |FROM full_est f CROSS JOIN st""".stripMargin,

    // same per-source reduction, same leave-out means and decimal
    // pre-sum deviation squares
    "q_jackknife" ->
      """WITH src AS (
        |  SELECT source, count(*) AS n_s,
        |    CAST(sum(n_chars) AS BIGINT) AS s_s
        |  FROM documents GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(n_s) AS BIGINT) AS n,
        |    CAST(sum(s_s) AS BIGINT) AS s, count(*) AS g
        |  FROM src),
        |loo AS (
        |  SELECT src.source, src.n_s, tot.g,
        |    round(CAST(tot.s - src.s_s AS DOUBLE)
        |      / (tot.n - src.n_s), 6) AS loo_mean
        |  FROM src CROSS JOIN tot),
        |m AS (
        |  SELECT round(CAST(sum(CAST(loo_mean AS DECIMAL(18,6)))
        |    AS DOUBLE) / count(*), 6) AS m_loo
        |  FROM loo),
        |devs AS (
        |  SELECT loo.source, loo.n_s, loo.g, loo.loo_mean,
        |    round(loo.loo_mean - m.m_loo, 6) AS dev,
        |    CAST(round((loo.loo_mean - m.m_loo)
        |      * (loo.loo_mean - m.m_loo), 9) AS DECIMAL(18,9)) AS d2
        |  FROM loo CROSS JOIN m),
        |se AS (
        |  SELECT g, round(sqrt(CAST(g - 1 AS DOUBLE) / g
        |    * CAST(sum(d2) AS DOUBLE)), 6) AS jk_se
        |  FROM devs GROUP BY g)
        |SELECT d.source, d.n_s AS n_docs, d.loo_mean, d.dev, se.jk_se
        |FROM devs d CROSS JOIN se
        |ORDER BY d.source""".stripMargin,

    // same regex first-digit, same ln-ratio Benford constants, same
    // left-to-right chi2 chain
    "q_benford" ->
      """WITH dg AS (
        |  SELECT CAST(substr(regexp_replace(
        |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
        |      '[^1-9]', '', 'g'), 1, 1) AS INT) AS digit,
        |    count(*) AS n
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_all FROM dg),
        |r AS (
        |  SELECT digit, n,
        |    round(CAST(n AS DOUBLE) / tot.n_all, 6) AS share,
        |    round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford,
        |    tot.n_all
        |  FROM dg CROSS JOIN tot)
        |SELECT digit, n, share, benford,
        |  round((share - benford) * (share - benford)
        |    / benford * n_all, 6) AS chi2_term
        |FROM r ORDER BY digit""".stripMargin,

    // same (s desc, custkey) top-101, same strict-above-boundary terms
    // with DECIMAL(18,9) pre-sum rounding
    "q_hill_tail" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
        |  FROM orders GROUP BY 1),
        |top AS (
        |  SELECT s FROM spend ORDER BY s DESC, o_custkey ASC LIMIT 101),
        |xk AS (SELECT min(s) AS xk FROM top),
        |t AS (
        |  SELECT CAST(round(ln(CAST(top.s AS DOUBLE)
        |    / CAST(xk.xk AS DOUBLE)), 9) AS DECIMAL(18,9)) AS t, xk.xk
        |  FROM top CROSS JOIN xk WHERE top.s > xk.xk)
        |SELECT count(*) AS k_used,
        |  round(CAST(xk AS DOUBLE), 2) AS x_kplus1,
        |  round(CAST(sum(t) AS DOUBLE) / count(*), 6) AS mean_ln_ratio,
        |  round(count(*) / CAST(sum(t) AS DOUBLE), 6) AS alpha
        |FROM t GROUP BY xk""".stripMargin,

    // same integer-div epoch midpoint, same pooled-distinct-value CDFs
    // and 9dp-rounded per-value gaps, same Kolmogorov tail approximation
    "q_ks_drift" ->
      """WITH mid AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
        |  FROM events),
        |g AS (
        |  SELECT value AS v,
        |    CAST(sum(CASE WHEN epoch_us(ts) < (SELECT mid_us FROM mid)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN epoch_us(ts) < (SELECT mid_us FROM mid)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |  FROM events GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c2) AS BIGINT) AS n2 FROM g),
        |f AS (
        |  SELECT CAST(sum(c1) OVER w AS DOUBLE) / tot.n1 AS f1,
        |    CAST(sum(c2) OVER w AS DOUBLE) / tot.n2 AS f2,
        |    tot.n1, tot.n2
        |  FROM g CROSS JOIN tot
        |  WINDOW w AS (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |d AS (
        |  SELECT n1, n2, max(round(abs(f1 - f2), 9)) AS d_raw
        |  FROM f GROUP BY 1, 2),
        |l AS (
        |  SELECT n1, n2, round(d_raw, 6) AS d_stat,
        |    round(d_raw * sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)), 6)
        |      AS lambda
        |  FROM d)
        |SELECT n1, n2, d_stat, lambda,
        |  round(least(1.0, 2.0 * exp(-2.0 * lambda * lambda)), 6)
        |    AS p_approx,
        |  round(least(1.0, 2.0 * exp(-2.0 * lambda * lambda)), 6) < 0.05
        |    AS drift
        |FROM l""".stripMargin,

    "q_profile" -> profileOracle,

    // identical exact decimal sums; the mu/sd/z double expressions are
    // written with the same operator shape as the Spark plan
    "q_zscore" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value, 6) AS DECIMAL(18,6)) AS v
        |  FROM events),
        |s AS (
        |  SELECT event_type, count(*) AS n, SUM(v) AS sx, SUM(v * v) AS sx2
        |  FROM e GROUP BY event_type)
        |SELECT e.event_id, e.event_type, CAST(e.v AS DOUBLE) AS value,
        |  round((CAST(e.v AS DOUBLE) - CAST(s.sx AS DOUBLE) / s.n)
        |    / sqrt((CAST(s.sx2 AS DOUBLE)
        |        - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE) / s.n)
        |      / (s.n - 1)), 6) AS z
        |FROM e JOIN s ON s.event_type = e.event_type
        |WHERE abs(round((CAST(e.v AS DOUBLE) - CAST(s.sx AS DOUBLE) / s.n)
        |    / sqrt((CAST(s.sx2 AS DOUBLE)
        |        - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE) / s.n)
        |      / (s.n - 1)), 6)) > 2.5
        |ORDER BY event_id""".stripMargin,

    // same row-offset band pair source, same decimal weight/value rounding;
    // DuckDB's nano timestamps floor-truncate to micros exactly like the
    // Spark-side Tables.df read, so the row_number ordering matches
    "q_ewma" ->
      """WITH r AS (
        |  SELECT user_id, event_id,
        |    CAST(round(value, 6) AS DECIMAL(18,6)) AS v,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT a.user_id, a.event_id, a.rn,
        |    CAST(round(pow(CAST(0.9 AS DOUBLE), a.rn - b.rn), 9)
        |      AS DECIMAL(12,9)) AS wt,
        |    b.v
        |  FROM r a JOIN r b ON b.user_id = a.user_id
        |    AND a.rn >= b.rn AND a.rn - b.rn <= 19),
        |g AS (
        |  SELECT user_id, event_id, rn,
        |    SUM(wt * v) AS swx, SUM(wt) AS sw
        |  FROM p GROUP BY user_id, event_id, rn)
        |SELECT user_id, event_id, rn,
        |  round(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS ewma
        |FROM g WHERE rn % 5 = 0
        |ORDER BY user_id, rn""".stripMargin,

    // shared double binning formula (no engine width_bucket); the per-bin
    // decimal sums stay exact and narrow enough for a clean double cast
    "q_histogram" ->
      """WITH li AS (
        |  SELECT CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) AS v
        |  FROM lineitem),
        |mm AS (
        |  SELECT min(CAST(v AS DOUBLE)) AS mn, max(CAST(v AS DOUBLE)) AS mx
        |  FROM li),
        |b AS (
        |  SELECT v, least(CAST(floor((CAST(v AS DOUBLE) - mn)
        |    / ((mx - mn) / 20)) AS INT), 19) AS bin
        |  FROM li CROSS JOIN mm),
        |g AS (SELECT bin, count(*) AS n, SUM(v) AS sv FROM b GROUP BY bin)
        |SELECT bin, round(mn + bin * ((mx - mn) / 20), 6) AS lo_edge, n,
        |  round(CAST(sv AS DOUBLE) / n, 6) AS avg_v
        |FROM g CROSS JOIN mm ORDER BY bin""".stripMargin,

    // quantile_cont over the same fraction ladder (identical linear
    // interpolation as Spark's percentile at position (n-1)*f), each
    // boundary rounded to 6dp so both engines compare against identical
    // doubles; bin = #{boundaries strictly below v} in both plans
    "q_bin_quantile" ->
      """WITH li AS (
        |  SELECT CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) AS v,
        |    CAST(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) AS DOUBLE)
        |      AS vd
        |  FROM lineitem),
        |bounds AS (
        |  SELECT list_transform(
        |    quantile_cont(vd, [0.05, 0.1, 0.15, 0.2, 0.25, 0.3, 0.35, 0.4,
        |      0.45, 0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95]),
        |    b -> round(b, 6)) AS bs
        |  FROM li),
        |binned AS (
        |  SELECT vd,
        |    CAST(len(list_filter(bs, b -> vd > b)) AS INT) AS bin
        |  FROM li CROSS JOIN bounds)
        |SELECT bin, count(*) AS n, min(vd) AS lo, max(vd) AS hi
        |FROM binned GROUP BY bin ORDER BY bin""".stripMargin,

    // same once-rounded decimal moments and the identical shared corr
    // formula, unpacked as a UNION ALL mirror of the stack
    "q_corr_matrix" -> corrOracle,

    // same p01/p99 boundaries (quantile_cont, rounded to 6dp), identical
    // least/greatest clip, once-rounded decimal means
    "q_winsorize" ->
      """WITH li AS (
        |  SELECT CAST(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))
        |    AS DOUBLE) AS vd
        |  FROM lineitem),
        |b AS (
        |  SELECT round(quantile_cont(vd, 0.01), 6) AS lo,
        |    round(quantile_cont(vd, 0.99), 6) AS hi
        |  FROM li),
        |c AS (
        |  SELECT vd, lo, hi, least(greatest(vd, lo), hi) AS wv
        |  FROM li CROSS JOIN b)
        |SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN vd < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_low,
        |  CAST(sum(CASE WHEN vd > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_high,
        |  round(min(lo), 6) AS p01, round(min(hi), 6) AS p99,
        |  round(CAST(SUM(CAST(round(vd, 2) AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*), 6) AS mean_raw,
        |  round(CAST(SUM(CAST(round(wv, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS mean_winsorized
        |FROM c""".stripMargin,

    // three anti-join edges, each mirrored as a LEFT JOIN ... IS NULL
    "q_fk_audit" ->
      """WITH e1 AS (
        |  SELECT count(*) AS n_orphans,
        |    count(DISTINCT c.c_nationkey) AS n_orphan_keys
        |  FROM customer c LEFT JOIN nation n
        |    ON n.n_nationkey = c.c_nationkey
        |  WHERE n.n_nationkey IS NULL),
        |e2 AS (
        |  SELECT count(*) AS n_orphans,
        |    count(DISTINCT l.l_orderkey) AS n_orphan_keys
        |  FROM lineitem l LEFT JOIN orders o
        |    ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderkey IS NULL),
        |e3 AS (
        |  SELECT count(*) AS n_orphans,
        |    count(DISTINCT o.o_custkey) AS n_orphan_keys
        |  FROM orders o LEFT JOIN customer c
        |    ON c.c_custkey = o.o_custkey
        |  WHERE c.c_custkey IS NULL)
        |SELECT 'customer.c_nationkey->nation' AS fk_edge,
        |  (SELECT count(*) FROM customer) AS n_child,
        |  n_orphans, n_orphan_keys FROM e1
        |UNION ALL
        |SELECT 'lineitem.l_orderkey->orders',
        |  (SELECT count(*) FROM lineitem), n_orphans, n_orphan_keys FROM e2
        |UNION ALL
        |SELECT 'orders.o_custkey->customer',
        |  (SELECT count(*) FROM orders), n_orphans, n_orphan_keys FROM e3
        |ORDER BY fk_edge""".stripMargin,

    // same exact integer-hour regressor, same decimal response, and the
    // identical slope/intercept/r² double formulas over the five moments
    "q_trend" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS tu,
        |    CAST(round(value, 6) AS DECIMAL(18,6)) AS y
        |  FROM events),
        |mn AS (SELECT min(tu) AS mn FROM e),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(SUM(t) AS BIGINT) AS st,
        |    CAST(SUM(t * t) AS BIGINT) AS stt,
        |    SUM(y) AS sy, SUM(t * y) AS sty, SUM(y * y) AS syy
        |  FROM (SELECT event_type, (tu - mn) // 3600000000 AS t, y
        |        FROM e CROSS JOIN mn)
        |  GROUP BY 1),
        |m2 AS (
        |  SELECT event_type, n,
        |    CAST(st AS DOUBLE) AS std, CAST(sy AS DOUBLE) AS syd,
        |    n * CAST(stt AS DOUBLE)
        |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) AS dt,
        |    n * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy,
        |    n * CAST(sty AS DOUBLE)
        |      - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE) AS cv
        |  FROM m)
        |SELECT event_type, n,
        |  CASE WHEN dt > 0 THEN round(cv / dt, 9) END AS slope_per_hour,
        |  CASE WHEN dt > 0
        |    THEN round((syd - (cv / dt) * std) / n, 6) END AS intercept,
        |  CASE WHEN dt > 0 AND dy > 0
        |    THEN round(pow(cv, 2) / (dt * dy), 6) END AS r2
        |FROM m2 ORDER BY event_type""".stripMargin,

    // same tiny joint-count table, exact-int probability quotients, and
    // once-rounded decimal MI/entropy terms
    "q_mutual_info" ->
      """WITH j AS (
        |  SELECT l_returnflag AS x, l_linestatus AS y, count(*) AS nxy
        |  FROM lineitem GROUP BY 1, 2),
        |nx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM j GROUP BY 1),
        |ny AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM j GROUP BY 1),
        |nn AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM j),
        |tm AS (
        |  SELECT CAST(round((CAST(j.nxy AS DOUBLE) / n)
        |    * ln((CAST(j.nxy AS DOUBLE) * n)
        |        / (CAST(nx.nx AS DOUBLE) * ny.ny)), 6)
        |    AS DECIMAL(18,6)) AS t
        |  FROM j JOIN nx USING (x) JOIN ny USING (y) CROSS JOIN nn),
        |mi AS (SELECT CAST(SUM(t) AS DOUBLE) AS mi FROM tm),
        |hx AS (
        |  SELECT CAST(SUM(CAST(round((CAST(nx AS DOUBLE) / n)
        |      * ln(CAST(nx AS DOUBLE) / n), 6) AS DECIMAL(18,6)))
        |    AS DOUBLE) * -1 AS hx
        |  FROM nx CROSS JOIN nn),
        |hy AS (
        |  SELECT CAST(SUM(CAST(round((CAST(ny AS DOUBLE) / n)
        |      * ln(CAST(ny AS DOUBLE) / n), 6) AS DECIMAL(18,6)))
        |    AS DOUBLE) * -1 AS hy
        |  FROM ny CROSS JOIN nn)
        |SELECT mi.mi, hx.hx, hy.hy,
        |  round(mi.mi / least(hx.hx, hy.hy), 6) AS nmi
        |FROM mi CROSS JOIN hx CROSS JOIN hy""".stripMargin,

    // same epoch-micro period cut, per-type quantile_cont reference
    // deciles rounded to 6dp, identical Laplace-smoothed p/q double
    // shapes, and once-rounded decimal PSI terms
    "q_drift_psi" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS t,
        |    CAST(CAST(round(value, 6) AS DECIMAL(18,6)) AS DOUBLE) AS v
        |  FROM events),
        |mm AS (SELECT min(t) AS mn, max(t) AS mx FROM e),
        |tg AS (
        |  SELECT event_type, v, t > mn + ((mx - mn) // 2) AS late
        |  FROM e CROSS JOIN mm),
        |b AS (
        |  SELECT event_type, list_transform(
        |    quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        |    x -> round(x, 6)) AS bs
        |  FROM tg WHERE NOT late GROUP BY 1),
        |bn AS (
        |  SELECT tg.event_type, tg.late,
        |    CAST(len(list_filter(bs, x -> tg.v > x)) AS INT) AS bin
        |  FROM tg JOIN b ON b.event_type = tg.event_type),
        |cnt AS (
        |  SELECT event_type, bin,
        |    CAST(sum(CASE WHEN NOT late THEN 1 ELSE 0 END) AS BIGINT) AS ce,
        |    CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS cl
        |  FROM bn GROUP BY 1, 2),
        |sp AS (SELECT b.event_type, r.i AS bin
        |       FROM b CROSS JOIN range(0, 10) r(i)),
        |f AS (
        |  SELECT sp.event_type, sp.bin,
        |    COALESCE(cnt.ce, 0) AS ce, COALESCE(cnt.cl, 0) AS cl
        |  FROM sp LEFT JOIN cnt
        |    ON cnt.event_type = sp.event_type AND cnt.bin = sp.bin),
        |tot AS (
        |  SELECT event_type, CAST(SUM(ce) AS BIGINT) AS ne,
        |    CAST(SUM(cl) AS BIGINT) AS nl
        |  FROM f GROUP BY 1),
        |tm AS (
        |  SELECT f.event_type,
        |    CAST(round(
        |      ((CAST(f.ce AS DOUBLE) + 0.5) / (tot.ne + 5)
        |        - (CAST(f.cl AS DOUBLE) + 0.5) / (tot.nl + 5))
        |      * ln(((CAST(f.ce AS DOUBLE) + 0.5) / (tot.ne + 5))
        |          / ((CAST(f.cl AS DOUBLE) + 0.5) / (tot.nl + 5))), 6)
        |      AS DECIMAL(18,6)) AS term
        |  FROM f JOIN tot ON tot.event_type = f.event_type),
        |ps AS (
        |  SELECT event_type, CAST(SUM(term) AS DOUBLE) AS psi
        |  FROM tm GROUP BY 1),
        |at AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN NOT late THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_early,
        |    CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_late
        |  FROM tg GROUP BY 1)
        |SELECT at.event_type, at.n_early, at.n_late, ps.psi,
        |  COALESCE(ps.psi > 0.1, TRUE) AS drifted
        |FROM at LEFT JOIN ps ON ps.event_type = at.event_type
        |ORDER BY at.event_type""".stripMargin,

    // same count distributions, quantile_cont over the same fraction
    // triple, skew as the identical exact-int IEEE quotient shape
    "q_skew_profile" ->
      """WITH oc AS (
        |  SELECT o_custkey AS k, count(*) AS cnt FROM orders GROUP BY 1),
        |ec AS (
        |  SELECT user_id AS k, count(*) AS cnt FROM events GROUP BY 1),
        |oq AS (
        |  SELECT quantile_cont(CAST(cnt AS DOUBLE), [0.5, 0.9, 0.99]) AS q,
        |    count(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    max(cnt) AS max_rows
        |  FROM oc),
        |eq AS (
        |  SELECT quantile_cont(CAST(cnt AS DOUBLE), [0.5, 0.9, 0.99]) AS q,
        |    count(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    max(cnt) AS max_rows
        |  FROM ec)
        |SELECT 'orders' AS table_name, 'o_custkey' AS key_col,
        |  n_keys, n_rows, max_rows,
        |  CAST(max_rows AS DOUBLE) * n_keys / n_rows AS skew,
        |  round(q[1], 6) AS p50, round(q[2], 6) AS p90,
        |  round(q[3], 6) AS p99
        |FROM oq
        |UNION ALL
        |SELECT 'events', 'user_id', n_keys, n_rows, max_rows,
        |  CAST(max_rows AS DOUBLE) * n_keys / n_rows,
        |  round(q[1], 6), round(q[2], 6), round(q[3], 6)
        |FROM eq
        |ORDER BY table_name""".stripMargin,

    // two explicit quantile_cont passes (same lo + (hi-lo)*0.5 midpoint
    // arithmetic as Spark's percentile), medians rounded to 6dp before
    // the deviation pass so both engines carry identical doubles
    "q_mad" ->
      """WITH e AS (
        |  SELECT event_type, CAST(round(value, 6) AS DECIMAL(18,6)) AS v
        |  FROM events),
        |m AS (
        |  SELECT event_type,
        |    round(quantile_cont(CAST(v AS DOUBLE), 0.5), 6) AS med
        |  FROM e GROUP BY 1),
        |d AS (
        |  SELECT e.event_type, CAST(e.v AS DOUBLE) AS vd, m.med,
        |    abs(CAST(e.v AS DOUBLE) - m.med) AS adev
        |  FROM e JOIN m USING (event_type)),
        |md AS (
        |  SELECT event_type, min(med) AS med,
        |    round(quantile_cont(adev, 0.5), 6) AS mad, count(*) AS n
        |  FROM d GROUP BY 1),
        |o AS (
        |  SELECT d.event_type, count(*) AS n_outliers
        |  FROM d JOIN md USING (event_type)
        |  WHERE abs((d.vd - d.med) * 0.6745 / md.mad) > 3.5
        |  GROUP BY 1)
        |SELECT md.event_type, md.n, md.med, md.mad,
        |  COALESCE(o.n_outliers, 0) AS n_outliers
        |FROM md LEFT JOIN o USING (event_type)
        |ORDER BY md.event_type""".stripMargin,

    "q_entropy" ->
      s"""WITH t AS (
        |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
        |c AS (SELECT doc_id, tok, count(*) AS cnt FROM t GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n,
        |        count(*) AS n_types
        |      FROM c GROUP BY 1),
        |s AS (
        |  SELECT c.doc_id,
        |    SUM(CAST(round((c.cnt / n.n) * ln(c.cnt / n.n), 6)
        |      AS DECIMAL(18,6))) AS st
        |  FROM c JOIN n USING (doc_id) GROUP BY 1)
        |SELECT n.doc_id, n.n AS n_toks, n.n_types,
        |  -CAST(s.st AS DOUBLE) AS entropy,
        |  CAST(n.n_types AS DOUBLE) / n.n AS ttr,
        |  -CAST(s.st AS DOUBLE) >= 2.5 AS keep
        |FROM n JOIN s ON s.doc_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin
  )
}
