package graft.queries

import graft.Decimals._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistics/experimentation additions (r15): a goodness-of-fit audit
  * of the repo's own determinism primitive, and the power side of the
  * q_mde experiment-sizing pair.
  */
object Stats2Ops extends QueryPack {

  // ---- q_cvm_uniform -------------------------------------------------------
  /** Cramér–von Mises uniformity audit of the HOUSE md5-uniform
    * generator — the determinism primitive every md5-keyed sampler,
    * bootstrap, derangement, and noise draw in this repo rides on
    * (q_block_bootstrap, q_tablesample, q_permutation_test, q_dp_*).
    * Over a 512-key spine, u_k = (int(md5("cvm:"||k)[0:15 hex]) + 1) /
    * 2⁶⁰ — exactly the conv/substring rule used everywhere — and the
    * CvM statistic W² = 1/(12n) + Σᵢ (u₍ᵢ₎ − (2i−1)/(2n))² scores the
    * empirical CDF against U(0,1); W² above the 5% critical value 0.461
    * would mean the house "uniforms" carry structure and every
    * md5-seeded result is suspect. This is the infrastructure
    * self-test: the repo asserts its generator's quality in-band, where
    * the correctness gate can hash-check it cross-engine forever.
    * No libm beyond the division; squared deviations round once to 12dp
    * into exact decimal sums. Scale: a 512-row spine by construction —
    * the one rank window is spine-bounded, never data-grain (the audit
    * measures the generator, not the corpus). */
  def qCvmUniform(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val n = 512
    val u = spark.range(1, n + 1)
      .select($"id".cast("int").as("k"))
      .withColumn("u",
        (conv(substring(md5(concat(lit("cvm:"), $"k".cast("string"))),
          1, 15), 16, 10).cast("long") + 1)
          / lit(1152921504606846976.0))
    val ranked = u.withColumn("rn",
      row_number().over(Window.orderBy($"u", $"k")))
    val agg = ranked.select(
        round(($"u" - ((lit(2) * $"rn" - 1).cast("double") / (2 * n)))
          * ($"u" - ((lit(2) * $"rn" - 1).cast("double") / (2 * n))), 12)
          .cast(dec28_12).as("sq"),
        round($"u", 12).cast(dec28_12).as("ud"))
      .agg(sum($"sq").as("ssq"), sum($"ud").as("su"))
    agg.select(lit(n.toLong).as("n"),
        round(lit(1.0 / (12 * n)) + $"ssq".cast("double"), 6).as("w2"),
        round($"su".cast("double") / n, 6).as("mean_u"))
      .withColumn("uniform_ok", $"w2" < 0.461)
  }

  // ---- q_power_curve -------------------------------------------------------
  /** Statistical power across a relative-lift grid — the other half of
    * the q_mde sizing pair: q_mde answers "what's the smallest effect
    * THIS traffic can detect at 80% power", this answers "what power
    * does THIS traffic give at each effect size the team actually
    * debates" (1/2/5/10/20% relative). Same user-day conversion grain
    * and pooled rate as q_mde; per lift, the detectable-z margin is
    * z = mde_abs/SE − z_{α/2} and power = Φ(z) via the logistic
    * approximation Φ(z) ≈ 1/(1+e^(−1.702z)) (Bowling et al. '09,
    * max abs error < 0.01) — a POLYNOMIAL-FREE portable form both
    * engines evaluate identically (erf is not in either engine's
    * portable surface; the approximation error is far below any
    * decision boundary a sizing call turns on, and is documented in
    * the column name's _approx suffix). Exact-integer counts until the
    * shared double formulas, each rounded once. Scale: one events pass
    * to the user-day grain, then a 5-row broadcast grid. */
  def qPowerCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ud = Tables.df(spark, sfDir, "events")
      .groupBy($"user_id", to_date($"ts").as("d"))
      .agg(max(when($"event_type" === "purchase", 1L).otherwise(0L))
        .as("conv"))
    val c = ud.agg(count(lit(1)).as("n_ud"), sum($"conv").as("n_conv"))
    val lifts = Seq(0.01, 0.02, 0.05, 0.10, 0.20).toDF("lift_rel")
    c.crossJoin(broadcast(lifts))
      .withColumn("p0", $"n_conv".cast("double") / $"n_ud")
      .withColumn("se",
        sqrt(lit(2.0) * $"p0" * (lit(1.0) - $"p0")
          / ($"n_ud".cast("double") / 2)))
      .withColumn("z", $"p0" * $"lift_rel" / $"se" - 1.959964)
      .select($"lift_rel", $"n_ud",
        round($"p0", 6).as("p_pool"),
        round($"p0" * $"lift_rel", 6).as("mde_abs"),
        round($"z", 6).as("z_margin"),
        round(lit(1.0) / (lit(1.0) + exp(lit(-1.702) * $"z")), 6)
          .as("power_approx"))
      .withColumn("powered", $"power_approx" >= 0.8)
      .orderBy($"lift_rel")
  }

  // ---- q_spc_xbar ----------------------------------------------------------
  /** Shewhart X̄ control chart over daily order-value subgroups
    * (Shewhart '31 — the memoryless complement of q_cusum's cumulative
    * drift detector and q_ewma's decayed one): subgroup = order day,
    * x = 2dp order totalprice; limits are the grand mean ± 3·s_p/√n_d
    * with s_p the POOLED within-day standard deviation — the
    * variable-width-limit form for unequal subgroup sizes (Montgomery
    * §6.3). A day outside its limits is a special-cause day the
    * pipeline flags BEFORE any cumulative statistic reacts.
    * Determinism: per-day sums are exact decimals (x to 2dp, x² terms
    * to 4dp); each day's within-SS is one shared double formula rounded
    * once to 9dp into the exact pooled sum; single-order days
    * contribute zero within-SS and df. Scale: one orders pass to the
    * day grain; everything after is calendar-thin. */
  def qSpcXbar(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = spcDays(spark, sfDir)
      .localCheckpoint() // grand pass + pooled pass + the limit join
    val (grand, pooled) = spcGrandPooled(days)
    // xbar and center are rational with denominator n·100, so a
    // power-of-two subgroup (n = 64 on the sf0.1 fixture) lands EXACTLY
    // on a 6dp half boundary where the engines' round() tie rules
    // differ — round them in exact integer micro-units instead
    // (half-up: (2a + b) div 2b). lcl/ucl carry a sqrt, so their ties
    // have measure zero and the plain round stays.
    days.crossJoin(broadcast(grand)).crossJoin(broadcast(pooled))
      .withColumn("sxc", ($"sx" * 100).cast("long"))
      .withColumn("tsxc", ($"tsx" * 100).cast("long"))
      .withColumn("xbb", $"tsx".cast("double") / $"tn")
      .withColumn("sp",
        sqrt($"sss".cast("double") / $"dfs".cast("double")))
      .withColumn("hw", lit(3.0) * $"sp" / sqrt($"n".cast("double")))
      .select($"d".cast("string").as("d"), $"n",
        (expr("(sxc * 20000 + n) div (2 * n)").cast("double")
          / 1e6).as("xbar"),
        (expr("(tsxc * 20000 + tn) div (2 * tn)").cast("double")
          / 1e6).as("center"),
        round($"xbb" - $"hw", 6).as("lcl"),
        round($"xbb" + $"hw", 6).as("ucl"),
        ($"sx".cast("double") / $"n" < $"xbb" - $"hw"
          || $"sx".cast("double") / $"n" > $"xbb" + $"hw").as("ooc"))
      .orderBy($"d")
  }

  /** The (d, n, sx, sx2) day-subgroup relation behind [[qSpcXbar]]. */
  private def spcDays(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "orders")
      .select($"o_orderdate".as("d"),
        round($"o_totalprice", 2).cast(dec18_2).as("x"))
      .groupBy($"d")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum(round($"x".cast("double") * $"x", 4).cast(dec38_4)).as("sx2"))
  }

  private def spcGrandPooled(days: DataFrame)
      : (DataFrame, DataFrame) = {
    import days.sparkSession.implicits._
    val grand = days.agg(sum($"n").as("tn"), sum($"sx").as("tsx"))
    val pooled = days.filter($"n" > 1)
      .select(($"n" - 1).as("df"),
        round($"sx2".cast("double")
          - $"sx".cast("double") * $"sx".cast("double") / $"n", 9)
          .cast(dec28_9).as("ss"))
      .agg(sum($"df").as("dfs"), sum($"ss").as("sss"))
    (grand, pooled)
  }

  /** Phase-I control limits as a 1-row (xbb, sp) relation — the
    * offline half of the SPC deployment split: limits freeze on a
    * stable history and the LIVE chart only compares against them
    * ([[graft.streaming.Streams.spcStream]] broadcasts this into the
    * stream). Same grand-mean + pooled-within-day-σ formulas as
    * [[qSpcXbar]] (one home). */
  private[graft] def spcLimits(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val (grand, pooled) = spcGrandPooled(spcDays(spark, sfDir))
    grand.crossJoin(broadcast(pooled))
      .select(($"tsx".cast("double") / $"tn").as("xbb"),
        sqrt($"sss".cast("double") / $"dfs".cast("double")).as("sp"))
  }

  // ---- q_hl_shift ----------------------------------------------------------
  /** Hodges–Lehmann shift estimate between the two calendar halves of
    * the daily revenue series (Hodges & Lehmann '63) — the robust
    * location-shift companion to q_mann_whitney: Δ̂ = median of ALL
    * pairwise differences y_late − y_early, the estimator that ignores
    * any single outlier day where the mean difference follows it. The
    * "how big is the shift" number the rank test's p-value cannot give.
    * Exact arithmetic throughout: 2dp decimal daily values, exact
    * decimal pair differences, the house middle-two median over the
    * (diff, ta, tb)-ordered pair relation; the mean difference rides
    * along as the fragile contrast. Scale: pairs are (n/2)² of the
    * CALENDAR-bounded day relation (≤ ~225 on a month fixture) — the
    * rank window is pair-bounded by construction, never data-grain. */
  def qHlShift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = SeriesOps.dailySeries(spark, sfDir)
      .localCheckpoint() // split point + both halves
    val nd = days.agg(count(lit(1)).as("nd"))
    val half = days.crossJoin(broadcast(nd))
      .select($"t", $"y", ($"t" <= expr("nd div 2")).as("early"))
    val pairs = half.filter($"early")
      .select($"t".as("ta"), $"y".as("ya"))
      .crossJoin(half.filter(!$"early")
        .select($"t".as("tb"), $"y".as("yb")))
      .select($"ta", $"tb", ($"yb" - $"ya").as("diff"))
      .localCheckpoint() // count + rank + the mean contrast
    val np = pairs.agg(count(lit(1)).as("np"), sum($"diff").as("sd"))
    val ranked = pairs.withColumn("rn",
      row_number().over(Window.orderBy($"diff", $"ta", $"tb")))
    val med = ranked.crossJoin(broadcast(np))
      .filter($"rn" === expr("(np + 1) div 2")
        || $"rn" === expr("(np + 2) div 2"))
      .agg((sum($"diff").cast("double") / count(lit(1))).as("hl"))
    np.crossJoin(broadcast(med))
      .select($"np".as("n_pairs"),
        round($"hl", 6).as("hl_shift"),
        round($"sd".cast("double") / $"np", 6).as("mean_diff"))
  }

  // ---- q_effective_n -------------------------------------------------------
  /** Autocorrelation-adjusted effective sample size of the daily
    * revenue series (Kish's n_eff with the truncated-ACF variance
    * inflation factor, the MCMC/time-series ESS form): n_eff =
    * n / (1 + 2·Σ_{k≤7} r_k) — the number that connects what
    * q_autocorr MEASURES to what q_mde/q_power_curve ASSUME: computing
    * a mean's standard error from n autocorrelated days as if they
    * were independent understates it by √VIF, so every power/CI
    * calculation on the daily series should budget n_eff days, not n.
    * ACF follows the q_pacf row-index discipline (lags on t so
    * calendar gaps cannot shift the lag meaning, 9dp deviation-product
    * decimal sums, 6dp r); the VIF sums the 6dp r's exactly. A
    * strongly negative truncated ACF sum can push the factor to ≤ 0
    * (where the truncated estimator is simply invalid): n_eff floors
    * its denominator at 1/n for the near-zero case and reports NULL
    * when the factor is non-positive — both guards mirrored in the
    * oracle. Scale: day-thin relations throughout. */
  def qEffectiveN(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = SeriesOps.dailySeries(spark, sfDir)
      .localCheckpoint() // moment pass + both lag-join sides
    val mom = days.agg(count(lit(1)).as("nd"), sum($"y").as("sy"))
    val dev = days.crossJoin(broadcast(mom))
      .select($"t",
        ($"y".cast("double") - $"sy".cast("double") / $"nd").as("e"))
      .localCheckpoint()
    val den = dev.select(round($"e" * $"e", 9).cast(dec28_9).as("tm"))
      .agg(sum($"tm").as("den"))
    val acf = dev
      .join(dev.select($"t".as("t2"), $"e".as("e2")),
        ($"t" - $"t2").between(1, 7))
      .select(($"t" - $"t2").cast("int").as("lag"),
        round($"e" * $"e2", 9).cast(dec28_9).as("tm"))
      .groupBy($"lag").agg(sum($"tm").as("num"))
      .crossJoin(broadcast(den))
      .select(round($"num".cast("double") / $"den".cast("double"), 6)
        .cast(dec18_6).as("r"))
    val ssum = acf.agg(sum($"r").as("sr"))
    mom.crossJoin(broadcast(ssum))
      .withColumn("vif", lit(1.0) + lit(2.0) * $"sr".cast("double"))
      .select($"nd".as("n_days"),
        round($"sr".cast("double"), 6).as("sum_acf7"),
        round($"vif", 6).as("vif"),
        when($"vif" > 0,
          round($"nd" / greatest($"vif", lit(1.0) / $"nd"), 2))
          .as("n_eff"),
        when($"vif" > 0, round(sqrt($"vif"), 6)).as("se_inflation"))
  }

  // ---- q_boot_compare ------------------------------------------------------
  /** IID-vs-block bootstrap comparison sheet on the SAME daily-revenue
    * mean — the actionable consequence of what q_ljung_box and
    * q_effective_n diagnose: a Poisson(1) iid resample of DAYS (the
    * q_bootstrap_ci weight rule, day grain) treats them exchangeable,
    * which autocorrelation violates, so its CI runs too narrow; the
    * moving-block arm ([[Series2Ops.blockReplicates]] — the exact
    * q_block_bootstrap machinery, one home) preserves short-range
    * dependence. One row: both CIs under the SAME 16-replicate
    * 0.05/0.95 interpolation rule ([[Series2Ops.rankCi16]]) and their
    * width ratio — block/iid > 1 is the series saying "budget for
    * dependence". Exact decimal weighted sums (w·y with integer w and
    * 2dp decimal y is exact); widths ratio from the already-6dp-rounded
    * bounds so both engines divide identical doubles. */
  def qBootCompare(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = SeriesOps.dailySeries(spark, sfDir)
      .localCheckpoint() // moments + both bootstrap arms
    val n = days.agg(count(lit(1)).as("n"), sum($"y").as("sy"))
    val blk = Series2Ops.rankCi16(
        Series2Ops.blockReplicates(spark, days, n))
      .select($"lo".as("blo"), $"hi".as("bhi"))
    val iidReps = days.select($"t", $"y",
        explode(expr("sequence(1, 16)")).as("b"))
      .withColumn("u",
        (conv(substring(md5(concat(lit("bootd:"), $"b".cast("string"),
          lit(":"), $"t".cast("string"))), 1, 15), 16, 10)
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
      .agg(sum($"w").as("sw"), sum($"w" * $"y").as("swy"))
      .filter($"sw" > 0) // P(all-zero replicate) = e^-n, nil at n≥28
      // integer micro-unit rounding (the q_spc_xbar lesson): swy/sw is
      // rational with denominator sw·100, and sw can land on a power
      // of two where the engines' round() tie rules diverge
      .select($"b",
        (expr("(cast(swy * 100 as bigint) * 20000 + sw) div (2 * sw)")
          .cast("double") / 1e6).as("m"))
    val iid = Series2Ops.rankCi16(iidReps)
      .select($"lo".as("ilo"), $"hi".as("ihi"))
    n.crossJoin(broadcast(blk)).crossJoin(broadcast(iid))
      .select($"n".as("n_days"),
        round($"sy".cast("double") / $"n", 6).as("est"),
        round($"ilo", 6).as("iid_lo"), round($"ihi", 6).as("iid_hi"),
        round($"blo", 6).as("blk_lo"), round($"bhi", 6).as("blk_hi"))
      .withColumn("width_ratio",
        round(($"blk_hi" - $"blk_lo") / ($"iid_hi" - $"iid_lo"), 6))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cvm_uniform" -> qCvmUniform,
    "q_power_curve" -> qPowerCurve,
    "q_spc_xbar" -> qSpcXbar,
    "q_hl_shift" -> qHlShift,
    "q_effective_n" -> qEffectiveN,
    "q_boot_compare" -> qBootCompare
  )

  val oracle: Map[String, String] = Map(
    // same conv/substr md5-to-uniform rule, same 12dp squared-deviation
    // decimal sums, same closed form
    "q_cvm_uniform" ->
      """WITH ks AS (
        |  SELECT CAST(unnest(range(1, 513)) AS INT) AS k),
        |u AS (
        |  SELECT k,
        |    (('0x' || substr(md5('cvm:' || k::VARCHAR), 1, 15))::BIGINT
        |      + 1) / 1152921504606846976.0 AS u
        |  FROM ks),
        |r AS (
        |  SELECT u, row_number() OVER (ORDER BY u, k) AS rn FROM u),
        |a AS (
        |  SELECT
        |    sum(CAST(round((u - (2 * rn - 1) / 1024.0)
        |      * (u - (2 * rn - 1) / 1024.0), 12) AS DECIMAL(28,12)))
        |      AS ssq,
        |    sum(CAST(round(u, 12) AS DECIMAL(28,12))) AS su
        |  FROM r)
        |SELECT CAST(512 AS BIGINT) AS n,
        |  round(1.0 / 6144 + CAST(ssq AS DOUBLE), 6) AS w2,
        |  round(CAST(su AS DOUBLE) / 512, 6) AS mean_u,
        |  round(1.0 / 6144 + CAST(ssq AS DOUBLE), 6) < 0.461
        |    AS uniform_ok
        |FROM a""".stripMargin,

    // the q_mde user-day grain + pooled rate, 5-row lift grid, shared
    // SE/z forms, logistic Phi
    "q_power_curve" ->
      """WITH ud AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_ud,
        |    CAST(sum(conv) AS BIGINT) AS n_conv
        |  FROM ud),
        |g AS (SELECT unnest([0.01, 0.02, 0.05, 0.10, 0.20])
        |  AS lift_rel),
        |f AS (
        |  SELECT lift_rel, n_ud,
        |    CAST(n_conv AS DOUBLE) / n_ud AS p0,
        |    sqrt(2.0 * (CAST(n_conv AS DOUBLE) / n_ud)
        |      * (1.0 - CAST(n_conv AS DOUBLE) / n_ud)
        |      / (CAST(n_ud AS DOUBLE) / 2)) AS se
        |  FROM c CROSS JOIN g),
        |z AS (
        |  SELECT lift_rel, n_ud, p0,
        |    p0 * lift_rel / se - 1.959964 AS z
        |  FROM f)
        |SELECT lift_rel, n_ud,
        |  round(p0, 6) AS p_pool,
        |  round(p0 * lift_rel, 6) AS mde_abs,
        |  round(z, 6) AS z_margin,
        |  round(1.0 / (1.0 + exp(-1.702 * z)), 6) AS power_approx,
        |  round(1.0 / (1.0 + exp(-1.702 * z)), 6) >= 0.8 AS powered
        |FROM z ORDER BY lift_rel""".stripMargin,

    // same exact decimal day sums, same 9dp within-SS terms into the
    // pooled sum, same variable-width-limit closed forms
    "q_spc_xbar" ->
      """WITH days AS (
        |  SELECT o_orderdate AS d, count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
        |      AS DECIMAL(18,2)) AS sx,
        |    sum(CAST(round(CAST(round(o_totalprice, 2) AS DOUBLE)
        |      * CAST(round(o_totalprice, 2) AS DECIMAL(18,2)), 4)
        |      AS DECIMAL(38,4))) AS sx2
        |  FROM orders GROUP BY 1),
        |grand AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS tn, sum(sx) AS tsx
        |  FROM days),
        |pooled AS (
        |  SELECT CAST(sum(n - 1) AS BIGINT) AS dfs,
        |    sum(CAST(round(CAST(sx2 AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n, 9)
        |      AS DECIMAL(28,9))) AS sss
        |  FROM days WHERE n > 1),
        |f AS (
        |  SELECT d, n, CAST(sx AS DOUBLE) / n AS xbar,
        |    CAST(sx * 100 AS BIGINT) AS sxc,
        |    CAST(tsx * 100 AS BIGINT) AS tsxc, tn,
        |    CAST(tsx AS DOUBLE) / tn AS xbb,
        |    3.0 * sqrt(CAST(sss AS DOUBLE) / CAST(dfs AS DOUBLE))
        |      / sqrt(CAST(n AS DOUBLE)) AS hw
        |  FROM days CROSS JOIN grand CROSS JOIN pooled)
        |SELECT CAST(d AS VARCHAR) AS d, CAST(n AS BIGINT) AS n,
        |  CAST((sxc * 20000 + n) // (2 * n) AS DOUBLE) / 1e6 AS xbar,
        |  CAST((tsxc * 20000 + tn) // (2 * tn) AS DOUBLE) / 1e6
        |    AS center,
        |  round(xbb - hw, 6) AS lcl, round(xbb + hw, 6) AS ucl,
        |  xbar < xbb - hw OR xbar > xbb + hw AS ooc
        |FROM f ORDER BY d""".stripMargin,

    // exact decimal pair differences over the calendar halves, house
    // middle-two median on the (diff, ta, tb) rank
    "q_hl_shift" ->
      (s"""WITH $daysCtesSqlLocal,
        |nd AS (SELECT count(*) AS nd FROM days),
        |half AS (
        |  SELECT t, y, t <= (SELECT nd // 2 FROM nd) AS early
        |  FROM days),
        |pairs AS (
        |  SELECT a.t AS ta, b.t AS tb, b.y - a.y AS diff
        |  FROM half a CROSS JOIN half b
        |  WHERE a.early AND NOT b.early),
        |np AS (SELECT count(*) AS np, sum(diff) AS sd FROM pairs),
        |rk AS (
        |  SELECT diff, row_number() OVER (ORDER BY diff, ta, tb) AS rn
        |  FROM pairs),
        |med AS (
        |  SELECT CAST(sum(diff) AS DOUBLE) / count(*) AS hl
        |  FROM rk CROSS JOIN np
        |  WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2)
        |SELECT np AS n_pairs, round(hl, 6) AS hl_shift,
        |  round(CAST(sd AS DOUBLE) / np, 6) AS mean_diff
        |FROM np CROSS JOIN med""".stripMargin),

    // same row-index lag joins and 9dp/6dp ACF discipline as q_pacf,
    // same VIF closed form with the 1/n floor and non-positive guard
    "q_effective_n" ->
      (s"""WITH $daysCtesSqlLocal,
        |mom AS (SELECT count(*) AS nd, sum(y) AS sy FROM days),
        |dev AS (
        |  SELECT t, CAST(y AS DOUBLE)
        |    - (SELECT CAST(sy AS DOUBLE) / nd FROM mom) AS e
        |  FROM days),
        |den AS (
        |  SELECT CAST(sum(CAST(round(e * e, 9) AS DECIMAL(28,9)))
        |    AS DOUBLE) AS den
        |  FROM dev),
        |acf AS (
        |  SELECT CAST(a.t - b.t AS INT) AS lag,
        |    CAST(sum(CAST(round(a.e * b.e, 9) AS DECIMAL(28,9)))
        |      AS DOUBLE) AS num
        |  FROM dev a JOIN dev b ON a.t - b.t BETWEEN 1 AND 7
        |  GROUP BY 1),
        |rs AS (
        |  SELECT CAST(sum(CAST(round(num / (SELECT den FROM den), 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS sr
        |  FROM acf),
        |f AS (
        |  SELECT nd, sr, 1.0 + 2.0 * sr AS vif
        |  FROM mom CROSS JOIN rs)
        |SELECT CAST(nd AS BIGINT) AS n_days,
        |  round(sr, 6) AS sum_acf7, round(vif, 6) AS vif,
        |  CASE WHEN vif > 0
        |    THEN round(nd / greatest(vif, 1.0 / nd), 2) END AS n_eff,
        |  CASE WHEN vif > 0 THEN round(sqrt(vif), 6) END
        |    AS se_inflation
        |FROM f""".stripMargin),

    // the shared block chain + the day-grain Poisson iid arm under the
    // same 16-replicate interpolation rule; replicate means round in
    // integer micro-units (the tie-proof form)
    // assembled by CONCATENATION of separately-stripped segments — an
    // outer stripMargin over embedded pre-stripped SQL would eat one
    // bar of any line-leading '||' concat operator
    "q_boot_compare" ->
      (s"WITH $daysCtesSqlLocal,\n" +
       "nn AS (SELECT count(*) AS n, sum(y) AS sy FROM days),\n" +
       Series2Ops.blockRepsCtesSql + ",\n" +
       Series2Ops.rankCi16Sql("breps", "b") + ",\n" +
      s"""ispine AS (
        |  SELECT t, y, CAST(unnest(range(1, 17)) AS INT) AS b
        |  FROM days),
        |iw AS (
        |  SELECT b, t, y,
        |    (('0x' || substr(md5('bootd:' || CAST(b AS VARCHAR) || ':'
        |        || CAST(t AS VARCHAR)), 1, 15))::BIGINT + 1)
        |      / 1152921504606846976.0 AS u
        |  FROM ispine),
        |iws AS (
        |  SELECT b, t, y,
        |    CASE WHEN u <= 0.3678794412 THEN 0
        |      WHEN u <= 0.7357588823 THEN 1
        |      WHEN u <= 0.9196986029 THEN 2
        |      WHEN u <= 0.9810118431 THEN 3
        |      WHEN u <= 0.9963401532 THEN 4
        |      WHEN u <= 0.9994058151 THEN 5
        |      ELSE 6 END AS w
        |  FROM iw),
        |ireps AS (
        |  SELECT b,
        |    CAST((CAST(sum(w * y) * 100 AS BIGINT) * 20000
        |      + CAST(sum(w) AS BIGINT))
        |      // (2 * CAST(sum(w) AS BIGINT)) AS DOUBLE) / 1e6 AS m
        |  FROM iws GROUP BY b HAVING sum(w) > 0),
        |${Series2Ops.rankCi16Sql("ireps", "i")}
        |SELECT CAST(n AS BIGINT) AS n_days,
        |  round(CAST(sy AS DOUBLE) / n, 6) AS est,
        |  round(ici.lo, 6) AS iid_lo, round(ici.hi, 6) AS iid_hi,
        |  round(bci.lo, 6) AS blk_lo, round(bci.hi, 6) AS blk_hi,
        |  round((round(bci.hi, 6) - round(bci.lo, 6))
        |    / (round(ici.hi, 6) - round(ici.lo, 6)), 6) AS width_ratio
        |FROM nn CROSS JOIN bci CROSS JOIN ici""".stripMargin)
  )

  /** The SeriesOps daily-series oracle CTEs (days0/days) — one home. */
  private def daysCtesSqlLocal: String = SeriesOps.daysCtesSql
}
