package graft.queries

import graft.Decimals._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistics additions (r16): variance-structure and regression
  * diagnostics the experimentation pack was still missing — equal-
  * variance testing (the ANOVA/t-test precondition), a median test, OLS
  * influence diagnostics, and the unit-root / random-walk pair that
  * gates every trend/forecast op on the daily series.
  */
object Stats3Ops extends QueryPack {

  // ---- q_bartlett ----------------------------------------------------------
  /** Bartlett's test of equal variances across the order-priority
    * groups (Bartlett '37) — the precondition check behind q_anova's
    * pooled-variance F and q_welch_ttest's reason to exist: if this
    * rejects, the classical equal-variance forms are invalid and the
    * Welch/rank members of the family are the right tools. Per group
    * the exact decimal (n, Σx, Σx²) sums of the q_spc_xbar discipline
    * (2dp x, 4dp x² terms); each group's SS rounds once to 9dp into
    * exact decimal pooled sums; the ln terms round once to 9dp each.
    * The χ² critical value is derived from k via a shared CASE (df =
    * k−1 ≤ 5 on any fixture), so both engines compare against the same
    * constant. Scale: one orders pass into a k-row relation (k = 5
    * priorities); everything after is group-thin. */
  def qBartlett(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val g = Tables.df(spark, sfDir, "orders")
      .select($"o_orderpriority".as("grp"),
        round($"o_totalprice", 2).cast(dec18_2).as("x"))
      .groupBy($"grp")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum(round($"x".cast("double") * $"x", 4).cast(dec38_4)).as("sx2"))
      .filter($"n" > 1)
      .select($"n", ($"n" - 1).as("df"),
        round($"sx2".cast("double")
          - $"sx".cast("double") * $"sx".cast("double") / $"n", 9)
          .cast(dec28_9).as("ss"))
      // a zero-variance group would make the ln term log(0): Spark NULLs
      // it (silently dropping the group) while DuckDB returns -inf —
      // exclude the degenerate group identically in both engines
      .filter($"ss" > 0)
    val terms = g.select($"n", $"df", $"ss",
        round($"df" * log($"ss".cast("double") / $"df"), 9).cast(dec28_9)
          .as("lt"),
        round(lit(1.0) / $"df", 9).cast(dec28_9).as("rd"))
      .agg(count(lit(1)).as("k"), sum($"n").as("nn"), sum($"df").as("dfs"),
        sum($"ss").as("sss"), sum($"lt").as("lts"), sum($"rd").as("rds"))
    terms
      .withColumn("sp2", $"sss".cast("double") / $"dfs")
      .withColumn("num",
        $"dfs" * log($"sp2") - $"lts".cast("double"))
      .withColumn("cc", lit(1.0)
        + ($"rds".cast("double") - lit(1.0) / $"dfs")
          / (lit(3.0) * ($"k" - 1)))
      .withColumn("crit",
        when($"k" === 2, 3.841).when($"k" === 3, 5.991)
          .when($"k" === 4, 7.815).when($"k" === 5, 9.488)
          .otherwise(11.070))
      .select($"k", $"nn".as("n"),
        // 2dp, not 6: sp2 is O(1e10) where the double ULP is ~4e-6, so a
        // 6dp round lands on engine-divergent adjacent doubles
        round($"sp2", 2).as("s2_pooled"),
        round($"num" / $"cc", 6).as("bartlett_t"),
        ($"k" - 1).as("df"), $"crit".as("chi2_crit"),
        (round($"num" / $"cc", 6) <= $"crit").as("equal_var"))
  }

  // ---- q_mood_median -------------------------------------------------------
  /** Mood's median test between the calendar halves of the daily
    * revenue series — the coarsest, most assumption-free member of the
    * location family (beside q_mann_whitney's ranks and q_hl_shift's
    * magnitude): dichotomize every day at the grand median, then a
    * Yates-corrected 2×2 χ² asks whether the halves land above it at
    * different rates. Grand median by the house middle-two rule on the
    * (y, t) order; days exactly AT the median count in the ≤ arm
    * (stated, mirrored in the oracle). All counts exact integers into
    * one shared double χ² formula rounded once. Scale: day-thin
    * relations; the one rank window is calendar-bounded. */
  def qMoodMedian(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = SeriesOps.dailySeries(spark, sfDir)
      .localCheckpoint() // count + median ranks + the 2×2 pass
    val nd = days.agg(count(lit(1)).as("nd"))
    val ranked = days.withColumn("rn",
      row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"y", $"t")))
    val med = ranked.crossJoin(broadcast(nd))
      .filter($"rn" === expr("(nd + 1) div 2")
        || $"rn" === expr("(nd + 2) div 2"))
      .agg((sum($"y").cast("double") / count(lit(1))).as("med"))
    val cells = days.crossJoin(broadcast(nd)).crossJoin(broadcast(med))
      .select(($"t" <= expr("nd div 2")).as("early"),
        ($"y".cast("double") > $"med").as("above"), $"med")
      .agg(first($"med").as("med"),
        sum(when($"early" && $"above", 1L).otherwise(0L)).as("a"),
        sum(when(!$"early" && $"above", 1L).otherwise(0L)).as("b"),
        sum(when($"early" && !$"above", 1L).otherwise(0L)).as("c"),
        sum(when(!$"early" && !$"above", 1L).otherwise(0L)).as("d"))
    cells
      .withColumn("n", $"a" + $"b" + $"c" + $"d")
      .withColumn("chi2",
        when(($"a" + $"b") * ($"c" + $"d") * ($"a" + $"c") * ($"b" + $"d")
            > 0,
          round($"n" * pow(greatest(
              abs(($"a" * $"d" - $"b" * $"c").cast("double"))
                - $"n".cast("double") / 2, lit(0.0)), 2)
            / (($"a" + $"b") * ($"c" + $"d") * ($"a" + $"c")
               * ($"b" + $"d")).cast("double"), 6)))
      .select(($"a" + $"c").as("n_early"), ($"b" + $"d").as("n_late"),
        $"a".as("above_early"), $"b".as("above_late"),
        round($"med", 6).as("median"), $"chi2",
        ($"chi2" > 3.841).as("diff_sig"))
  }

  // ---- q_cooks_distance ----------------------------------------------------
  /** Cook's distance influence diagnostics for the daily-revenue OLS
    * trend (Cook '77) — the "which single day is steering the trend
    * line" companion to q_theil_sen's robustness and q_stl_anomaly's
    * residual z: D_t = e_t²·h_t / (p·s²·(1−h_t)²) with p = 2 and
    * leverage h_t = 1/n + (t−t̄)²/Sxx, flagged at the standard 4/n bar.
    * A flagged day means the OLS slope every forecast op extrapolates
    * is one outage away from moving. Moments are exact decimal sums
    * (integer t, 2dp y); slope/intercept/leverage/D are shared double
    * formulas; residual² terms round once to 9dp into the exact SSE
    * sum. Scale: day-thin end to end — one moment pass + one
    * per-day projection against the broadcast moments. */
  def qCooksDistance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = SeriesOps.dailySeries(spark, sfDir)
      .localCheckpoint() // moment pass + SSE pass + the output scan
    val m = days.agg(count(lit(1)).as("n"),
      sum($"t").as("st"), sum($"t" * $"t").as("stt"),
      sum($"y").as("sy"), sum($"t" * $"y").as("sty"))
    val ab = m
      .withColumn("sxx", $"stt".cast("double")
        - $"st".cast("double") * $"st".cast("double") / $"n")
      .withColumn("b", ($"sty".cast("double")
        - $"st".cast("double") * $"sy".cast("double") / $"n") / $"sxx")
      .withColumn("a", ($"sy".cast("double") - $"b" * $"st") / $"n")
    val res = days.crossJoin(broadcast(ab))
      .withColumn("e", $"y".cast("double") - $"a" - $"b" * $"t")
      .localCheckpoint() // SSE + the per-day output
    val sse = res
      .select(round($"e" * $"e", 9).cast(dec28_9).as("tm"))
      .agg(sum($"tm").as("sse"))
    res.crossJoin(broadcast(sse))
      .withColumn("s2", $"sse".cast("double") / ($"n" - 2))
      .withColumn("h", lit(1.0) / $"n"
        + ($"t" - $"st".cast("double") / $"n")
          * ($"t" - $"st".cast("double") / $"n") / $"sxx")
      .select($"t", $"d".cast("string").as("d"),
        $"y".cast("double").as("y"),
        round($"e", 6).as("resid"),
        round($"h", 6).as("leverage"),
        round($"e" * $"e" * $"h"
          / (lit(2.0) * $"s2" * (lit(1.0) - $"h")
             * (lit(1.0) - $"h")), 6).as("cooks_d"),
        (round($"e" * $"e" * $"h"
          / (lit(2.0) * $"s2" * (lit(1.0) - $"h")
             * (lit(1.0) - $"h")), 6)
          > lit(4.0) / $"n").as("influential"))
      .orderBy($"t")
  }

  // ---- q_adf_lite ----------------------------------------------------------
  /** Dickey–Fuller unit-root test (constant, no lag terms — DF rather
    * than ADF; the daily fixture is too short for lag augmentation and
    * q_ljung_box already reads the residual correlation): regress
    * Δy_t on y_{t−1} with intercept and compare the t-ratio of the
    * lag coefficient against the asymptotic 5% DF critical −2.86
    * (constant case — NOT the ±1.96 of a standard t, which is exactly
    * the mistake this op exists to prevent). Stationarity is the
    * assumption q_ses/q_holt/q_theta_forecast quietly make about the
    * differenced series; this is the gate that checks it. Pairs come
    * from the row-index lag join (the q_pacf discipline); all products
    * of 2dp decimals are exact decimals; one shared double chain for
    * slope/intercept/SSE/t. Scale: day-thin lag join and moments. */
  def qAdfLite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = SeriesOps.dailySeries(spark, sfDir)
      .localCheckpoint() // both lag-join sides
    val pairs = days.select($"t", $"y")
      .join(days.select(($"t" + 1).as("t"), $"y".as("yl")), Seq("t"))
      .select($"yl".as("x"), ($"y" - $"yl").as("z"))
    val m = pairs.agg(count(lit(1)).as("m"),
      sum($"x").as("sx"), sum($"z").as("sz"),
      sum($"x" * $"x").as("sxx"), sum($"x" * $"z").as("sxz"),
      sum($"z" * $"z").as("szz"))
    m.withColumn("dxx", $"sxx".cast("double")
        - $"sx".cast("double") * $"sx".cast("double") / $"m")
      .withColumn("beta", ($"sxz".cast("double")
        - $"sx".cast("double") * $"sz".cast("double") / $"m") / $"dxx")
      .withColumn("alpha",
        ($"sz".cast("double") - $"beta" * $"sx".cast("double")) / $"m")
      .withColumn("sse", greatest($"szz".cast("double")
        - $"alpha" * $"sz".cast("double")
        - $"beta" * $"sxz".cast("double"), lit(0.0)))
      .withColumn("se", sqrt($"sse" / ($"m" - 2) / $"dxx"))
      .select($"m".as("n_pairs"),
        round($"alpha", 6).as("alpha"),
        round($"beta", 6).as("beta"),
        round($"beta" / $"se", 6).as("t_df"),
        (round($"beta" / $"se", 6) < -2.86).as("stationary"))
  }

  // ---- q_variance_ratio ----------------------------------------------------
  /** Lo–MacKinlay variance-ratio test on the daily increments (Lo &
    * MacKinlay '88): if the series is a random walk, the variance of
    * q-step differences is q× the one-step variance, so VR(q) =
    * σ̂²(q)/(q·σ̂²(1)) ≈ 1; VR < 1 reads mean reversion, VR > 1
    * momentum — the OTHER side of what q_adf_lite tests (DF asks "is
    * there a unit root", VR asks "do the increments compound like
    * noise"). Overlapping q-differences via the row-index lag joins;
    * deviations square-round once to 9dp into exact decimal sums; the
    * homoskedastic z = (VR−1)/√(2(2q−1)(q−1)/(3q·m)) at q ∈ {2, 4}.
    * Scale: day-thin lag joins against a 2-row broadcast grid. */
  def qVarianceRatio(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = SeriesOps.dailySeries(spark, sfDir)
      .localCheckpoint() // increment join sides ×3
    val inc = days.select($"t", $"y")
      .join(days.select(($"t" + 1).as("t"), $"y".as("yl")), Seq("t"))
      .select($"t", ($"y" - $"yl").as("dd"))
      .localCheckpoint() // mean pass + the deviation pass
    val mu = inc.agg(count(lit(1)).as("m"), sum($"dd").as("sd"))
    val s1 = inc.crossJoin(broadcast(mu))
      .select($"m",
        round(($"dd".cast("double") - $"sd".cast("double") / $"m")
          * ($"dd".cast("double") - $"sd".cast("double") / $"m"), 9)
          .cast(dec28_9).as("tm"))
      .groupBy($"m").agg(sum($"tm").as("ss1"))
    val qs = Seq(2, 4).toDF("q")
    val dq = days.select($"t", $"y")
      .crossJoin(broadcast(qs))
      .join(days.select($"t".as("tq"), $"y".as("yq")),
        $"t" - $"q" === $"tq")
      .select($"q", ($"y" - $"yq").as("dq"))
    val sq = dq.crossJoin(broadcast(mu))
      .select($"q", $"m",
        round(($"dq".cast("double")
            - $"q" * $"sd".cast("double") / $"m")
          * ($"dq".cast("double")
            - $"q" * $"sd".cast("double") / $"m"), 9)
          .cast(dec28_9).as("tm"))
      .groupBy($"q", $"m")
      .agg(count(lit(1)).as("mq"), sum($"tm").as("ssq"))
    sq.join(broadcast(s1), Seq("m"))
      .withColumn("vr",
        ($"ssq".cast("double") / ($"q" * $"mq"))
          / ($"ss1".cast("double") / $"m"))
      .withColumn("z", ($"vr" - 1)
        / sqrt(lit(2.0) * (lit(2.0) * $"q" - 1) * ($"q" - 1)
          / (lit(3.0) * $"q" * $"m")))
      .select($"q", $"m".as("n_incs"),
        round($"vr", 6).as("vr"), round($"z", 6).as("z"),
        (abs(round($"z", 6)) < 1.96).as("rw_ok"))
      .orderBy($"q")
  }

  // ---- q_icc ---------------------------------------------------------------
  /** Intraclass correlation ICC(2,1) (Shrout & Fleiss '79, two-way
    * random effects, single measurement) over the (day × event_type)
    * grid of daily mean event values — "are days consistently high/low
    * ACROSS event types" — the reliability read behind any per-day
    * composite score: an ICC near 0 says a day-level aggregate of the
    * types is noise. Subjects = complete days (all k types present —
    * missing-cell days drop identically in both engines), raters = the
    * event types. MSR/MSC/MSE come from the classic two-way
    * decomposition over exact decimal cell sums (the q_anova2
    * discipline: 6dp once-rounded cell means, 9dp squared terms into
    * decimal sums, each MS divides once). Scale: events collapse to
    * the (day, type) grid immediately; everything after is grid-thin. */
  def qIcc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.df(spark, sfDir, "events")
      .select(to_date($"ts").as("day"), $"event_type".as("rater"),
        round($"value", 6).cast(dec18_6).as("v"))
      .groupBy($"day", $"rater")
      .agg(round(sum($"v").cast("double") / count(lit(1)), 6)
        .cast(dec18_6).as("x"))
    val k = cells.select($"rater").distinct()
      .agg(count(lit(1)).as("k"))
    val full = cells
      .withColumn("nr", count(lit(1)).over(Window.partitionBy($"day")))
      .crossJoin(broadcast(k))
      .filter($"nr" === $"k")
      .select($"day", $"rater", $"x", $"k")
      .localCheckpoint() // row/col/total moment passes share it
    val tot = full.agg(count(lit(1)).as("nn"), sum($"x").as("tx"),
      sum($"x" * $"x").as("tx2"), min($"k").as("k"))
    val rows = full.groupBy($"day")
      .agg(count(lit(1)).as("kr"), sum($"x").as("sx"))
      .agg(count(lit(1)).as("n_days"),
        sum(round($"sx".cast("double") * $"sx" / $"kr", 9)
          .cast(dec28_9)).as("ssr_raw"))
    val cols = full.groupBy($"rater")
      .agg(count(lit(1)).as("nc"), sum($"x").as("sx"))
      .agg(sum(round($"sx".cast("double") * $"sx" / $"nc", 9)
        .cast(dec28_9)).as("ssc_raw"))
    tot.crossJoin(broadcast(rows)).crossJoin(broadcast(cols))
      .select($"n_days", $"k",
        ($"tx2".cast("double")
          - $"tx".cast("double") * $"tx" / $"nn").as("sst"),
        ($"ssr_raw".cast("double")
          - $"tx".cast("double") * $"tx" / $"nn").as("ssr"),
        ($"ssc_raw".cast("double")
          - $"tx".cast("double") * $"tx" / $"nn").as("ssc"))
      .select($"n_days", $"k", $"sst", $"ssr", $"ssc",
        ($"sst" - $"ssr" - $"ssc").as("sse"))
      .select($"n_days", $"k",
        round($"ssr" / ($"n_days" - 1), 9).as("msr"),
        round($"ssc" / ($"k" - 1), 9).as("msc"),
        round($"sse" / (($"n_days" - 1) * ($"k" - 1)), 9).as("mse"))
      .select($"n_days", $"k", round($"msr", 6).as("msr"),
        round($"msc", 6).as("msc"), round($"mse", 6).as("mse"),
        round(($"msr" - $"mse")
          / ($"msr" + ($"k" - 1) * $"mse"
             + $"k" * ($"msc" - $"mse") / $"n_days"), 6).as("icc"))
  }

  // ---- q_boxcox ------------------------------------------------------------
  /** Box–Cox ('64) transformation selection for the order-value
    * distribution: the profile log-likelihood LL(λ) = −n/2·ln(σ̂²_λ) +
    * (λ−1)·Σln x over the λ ∈ {−1, −0.5, 0, 0.5, 1} grid — "should the
    * pipeline model prices, log-prices, or roots" BEFORE any gaussian-
    * assuming op (q_zscore/q_spc_xbar/q_anova) runs; λ=1's LL is the
    * do-nothing baseline every other row is read against. Only exactly
    * representable λ (halves) so x^λ is sqrt/reciprocal/identity —
    * IEEE-exact, no pow(); ln terms round once to 9dp into decimal
    * sums (the q_kl_sources discipline). One orders pass per λ via the
    * broadcast 5-row grid; everything after is grid-thin. */
  def qBoxcox(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lams = Seq("-1.0", "-0.5", "0.0", "0.5", "1.0")
    val grid = lams.toDF("lam_s")
      .select($"lam_s".cast("double").as("lam"))
    // pinned keyed repartition before the ×5 λ-grid fan-out (r22, guide
    // §2.5 — the single-row-group trap): the one-task orders scan ran
    // the whole 5×|orders| BigDecimal-rounding kernel serially (12
    // tasks, run ≈ wall). The shuffle ships one thin double per order
    // row ONCE; the 5× fan-out and its three 9dp rounds per output row
    // happen wide. Scale-safe: the shipped bytes are 1/5 of the rows
    // the kernel emits, and exact decimal sums are order-independent.
    val terms = Tables.df(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_totalprice".cast("double").as("x"))
      .filter($"x" > 0)
      .repartition(Tables.shufflePartitions(spark), $"o_orderkey")
      .select($"x")
      .crossJoin(broadcast(grid))
      .select($"lam",
        round(log($"x"), 9).cast(dec28_9).as("lx"),
        round(when($"lam" === 0.0, log($"x"))
          .when($"lam" === 1.0, $"x" - 1.0)
          .when($"lam" === 0.5, (sqrt($"x") - 1.0) / 0.5)
          .when($"lam" === -0.5, (lit(1.0) / sqrt($"x") - 1.0) / -0.5)
          .otherwise((lit(1.0) / $"x" - 1.0) / -1.0), 9)
          .cast(dec28_9).as("y"))
      .select($"lam", $"lx", $"y",
        round($"y".cast("double") * $"y", 9).cast(dec28_9).as("y2"))
      .groupBy($"lam")
      .agg(count(lit(1)).as("n"), sum($"lx").as("slx"),
        sum($"y").as("sy"), sum($"y2").as("sy2"))
    val ll = terms.select($"lam", $"n",
      ($"sy2".cast("double") / $"n"
        - ($"sy".cast("double") / $"n") * ($"sy".cast("double") / $"n"))
        .as("var"),
      $"slx")
      .select($"lam", $"n",
        round(lit(-0.5) * $"n" * log($"var")
          + ($"lam" - 1.0) * $"slx".cast("double"), 6).as("ll"))
    val best = ll.agg(max($"ll").as("ll_max"))
    ll.crossJoin(broadcast(best))
      .select($"lam".as("lambda"), $"n", $"ll",
        ($"ll" === $"ll_max").as("is_best"))
      .orderBy($"lambda")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bartlett" -> qBartlett,
    "q_mood_median" -> qMoodMedian,
    "q_cooks_distance" -> qCooksDistance,
    "q_adf_lite" -> qAdfLite,
    "q_variance_ratio" -> qVarianceRatio,
    "q_icc" -> qIcc,
    "q_boxcox" -> qBoxcox
  )

  /** The SeriesOps daily-series oracle CTEs (days0/days) — one home. */
  private def daysCtes: String = SeriesOps.daysCtesSql

  val oracle: Map[String, String] = Map(
    // same complete-day grid, 6dp cell means, 9dp row/col square terms
    // into decimal sums, ICC from the 9dp mean squares
    "q_icc" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type AS rater,
        |    CAST(round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
        |      AS DOUBLE) / count(*), 6) AS DECIMAL(18,6)) AS x
        |  FROM events GROUP BY 1, 2),
        |k AS (SELECT count(DISTINCT rater) AS k FROM cells),
        |full_ AS (
        |  SELECT day, rater, x, (SELECT k FROM k) AS k FROM cells
        |  QUALIFY count(*) OVER (PARTITION BY day) = (SELECT k FROM k)),
        |tot AS (
        |  SELECT count(*) AS nn, sum(x) AS tx, sum(x * x) AS tx2,
        |    min(k) AS k
        |  FROM full_),
        |rws AS (
        |  SELECT count(*) AS n_days,
        |    sum(CAST(round(CAST(sx AS DOUBLE) * sx / kr, 9)
        |      AS DECIMAL(28,9))) AS ssr_raw
        |  FROM (SELECT day, count(*) AS kr, sum(x) AS sx
        |        FROM full_ GROUP BY day)),
        |cls AS (
        |  SELECT sum(CAST(round(CAST(sx AS DOUBLE) * sx / nc, 9)
        |      AS DECIMAL(28,9))) AS ssc_raw
        |  FROM (SELECT rater, count(*) AS nc, sum(x) AS sx
        |        FROM full_ GROUP BY rater)),
        |ss AS (
        |  SELECT n_days, k,
        |    CAST(tx2 AS DOUBLE) - CAST(tx AS DOUBLE) * tx / nn AS sst,
        |    CAST(ssr_raw AS DOUBLE)
        |      - CAST(tx AS DOUBLE) * tx / nn AS ssr,
        |    CAST(ssc_raw AS DOUBLE)
        |      - CAST(tx AS DOUBLE) * tx / nn AS ssc
        |  FROM tot CROSS JOIN rws CROSS JOIN cls),
        |ms AS (
        |  SELECT n_days, k,
        |    round(ssr / (n_days - 1), 9) AS msr,
        |    round(ssc / (k - 1), 9) AS msc,
        |    round((sst - ssr - ssc) / ((n_days - 1) * (k - 1)), 9) AS mse
        |  FROM ss)
        |SELECT n_days, CAST(k AS BIGINT) AS k,
        |  round(msr, 6) AS msr, round(msc, 6) AS msc,
        |  round(mse, 6) AS mse,
        |  round((msr - mse)
        |    / (msr + (k - 1) * mse + k * (msc - mse) / n_days), 6)
        |    AS icc
        |FROM ms""".stripMargin,

    // same exactly-representable lambda grid (sqrt/reciprocal/identity
    // — no pow()), 9dp ln/transform terms into decimal sums, the same
    // profile log-likelihood double chain
    "q_boxcox" ->
      """WITH grid AS (SELECT unnest([-1.0, -0.5, 0.0, 0.5, 1.0]) AS lam),
        |terms AS (
        |  SELECT lam,
        |    CAST(round(ln(x), 9) AS DECIMAL(28,9)) AS lx,
        |    CAST(round(CASE
        |      WHEN lam = 0.0 THEN ln(x)
        |      WHEN lam = 1.0 THEN x - 1.0
        |      WHEN lam = 0.5 THEN (sqrt(x) - 1.0) / 0.5
        |      WHEN lam = -0.5 THEN (1.0 / sqrt(x) - 1.0) / -0.5
        |      ELSE (1.0 / x - 1.0) / -1.0 END, 9)
        |      AS DECIMAL(28,9)) AS y
        |  FROM (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
        |        WHERE o_totalprice > 0)
        |  CROSS JOIN grid),
        |s AS (
        |  SELECT lam, count(*) AS n, sum(lx) AS slx, sum(y) AS sy,
        |    sum(CAST(round(CAST(y AS DOUBLE) * y, 9) AS DECIMAL(28,9)))
        |      AS sy2
        |  FROM terms GROUP BY 1),
        |ll AS (
        |  SELECT lam, n,
        |    round(-0.5 * n * ln(CAST(sy2 AS DOUBLE) / n
        |        - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
        |      + (lam - 1.0) * CAST(slx AS DOUBLE), 6) AS ll
        |  FROM s),
        |best AS (SELECT max(ll) AS ll_max FROM ll)
        |SELECT lam AS lambda, n, ll, ll = ll_max AS is_best
        |FROM ll CROSS JOIN best ORDER BY lambda""".stripMargin,

    // same exact decimal group sums, 9dp SS/ln/reciprocal terms, same
    // shared closed forms and k-derived critical
    "q_bartlett" ->
      """WITH g0 AS (
        |  SELECT o_orderpriority AS grp, count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
        |      AS DECIMAL(18,2)) AS sx,
        |    sum(CAST(round(CAST(round(o_totalprice, 2) AS DOUBLE)
        |      * CAST(round(o_totalprice, 2) AS DECIMAL(18,2)), 4)
        |      AS DECIMAL(38,4))) AS sx2
        |  FROM orders GROUP BY 1),
        |g AS (
        |  SELECT n, n - 1 AS df,
        |    CAST(round(CAST(sx2 AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n, 9)
        |      AS DECIMAL(28,9)) AS ss
        |  FROM g0 WHERE n > 1),
        |t AS (
        |  SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(df) AS BIGINT) AS dfs, sum(ss) AS sss,
        |    sum(CAST(round(df * ln(CAST(ss AS DOUBLE) / df), 9)
        |      AS DECIMAL(28,9))) AS lts,
        |    sum(CAST(round(1.0 / df, 9) AS DECIMAL(28,9))) AS rds
        |  FROM g WHERE ss > 0),
        |f AS (
        |  SELECT k, nn, dfs,
        |    CAST(sss AS DOUBLE) / dfs AS sp2,
        |    dfs * ln(CAST(sss AS DOUBLE) / dfs)
        |      - CAST(lts AS DOUBLE) AS num,
        |    1.0 + (CAST(rds AS DOUBLE) - 1.0 / dfs)
        |      / (3.0 * (k - 1)) AS cc,
        |    CASE k WHEN 2 THEN 3.841 WHEN 3 THEN 5.991
        |      WHEN 4 THEN 7.815 WHEN 5 THEN 9.488
        |      ELSE 11.070 END AS crit
        |  FROM t)
        |SELECT k, nn AS n, round(sp2, 2) AS s2_pooled,
        |  round(num / cc, 6) AS bartlett_t,
        |  CAST(k - 1 AS BIGINT) AS df, crit AS chi2_crit,
        |  round(num / cc, 6) <= crit AS equal_var
        |FROM f""".stripMargin,

    // same middle-two median, same at-median-goes-down rule, same
    // Yates-corrected 2×2 formula
    "q_mood_median" ->
      (s"""WITH $daysCtes,
        |nd AS (SELECT count(*) AS nd FROM days),
        |rk AS (
        |  SELECT y, row_number() OVER (ORDER BY y, t) AS rn FROM days),
        |med AS (
        |  SELECT CAST(sum(y) AS DOUBLE) / count(*) AS med
        |  FROM rk CROSS JOIN nd
        |  WHERE rn = (nd + 1) // 2 OR rn = (nd + 2) // 2),
        |cells AS (
        |  SELECT any_value(med) AS med,
        |    CAST(sum(CASE WHEN early AND above THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN NOT early AND above THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN early AND NOT above THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN NOT early AND NOT above THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM (
        |    SELECT t <= (SELECT nd // 2 FROM nd) AS early,
        |      CAST(y AS DOUBLE) > (SELECT med FROM med) AS above,
        |      (SELECT med FROM med) AS med
        |    FROM days)),
        |f AS (
        |  SELECT med, a, b, c, d, a + b + c + d AS n,
        |    CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) > 0
        |      THEN round((a + b + c + d) * pow(greatest(
        |          abs(CAST(a * d - b * c AS DOUBLE))
        |            - CAST(a + b + c + d AS DOUBLE) / 2, 0.0), 2)
        |        / CAST((a + b) * (c + d) * (a + c) * (b + d) AS DOUBLE),
        |        6) END AS chi2
        |  FROM cells)
        |SELECT a + c AS n_early, b + d AS n_late,
        |  a AS above_early, b AS above_late,
        |  round(med, 6) AS median, chi2, chi2 > 3.841 AS diff_sig
        |FROM f""".stripMargin),

    // same exact decimal moments, shared double slope/intercept/
    // leverage/D chain, 9dp residual² terms into the exact SSE
    "q_cooks_distance" ->
      (s"""WITH $daysCtes,
        |m AS (
        |  SELECT count(*) AS n, CAST(sum(t) AS BIGINT) AS st,
        |    CAST(sum(t * t) AS BIGINT) AS stt,
        |    sum(y) AS sy, sum(t * y) AS sty
        |  FROM days),
        |ab AS (
        |  SELECT n, st, sy,
        |    CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n AS sxx,
        |    (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE)
        |       * CAST(sy AS DOUBLE) / n)
        |      / (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n)
        |      AS b
        |  FROM m),
        |ab2 AS (
        |  SELECT n, st, sxx, b,
        |    (CAST(sy AS DOUBLE) - b * st) / n AS a
        |  FROM ab),
        |res AS (
        |  SELECT d.t, d.d, d.y, ab2.*,
        |    CAST(d.y AS DOUBLE) - a - b * d.t AS e
        |  FROM days d CROSS JOIN ab2),
        |sse AS (
        |  SELECT CAST(sum(CAST(round(e * e, 9) AS DECIMAL(28,9)))
        |    AS DOUBLE) AS sse
        |  FROM res)
        |SELECT t, CAST(d AS VARCHAR) AS d, CAST(y AS DOUBLE) AS y,
        |  round(e, 6) AS resid,
        |  round(1.0 / n + (t - CAST(st AS DOUBLE) / n)
        |    * (t - CAST(st AS DOUBLE) / n) / sxx, 6) AS leverage,
        |  round(e * e * (1.0 / n + (t - CAST(st AS DOUBLE) / n)
        |      * (t - CAST(st AS DOUBLE) / n) / sxx)
        |    / (2.0 * (sse / (n - 2))
        |       * (1.0 - (1.0 / n + (t - CAST(st AS DOUBLE) / n)
        |          * (t - CAST(st AS DOUBLE) / n) / sxx))
        |       * (1.0 - (1.0 / n + (t - CAST(st AS DOUBLE) / n)
        |          * (t - CAST(st AS DOUBLE) / n) / sxx))), 6)
        |    AS cooks_d,
        |  round(e * e * (1.0 / n + (t - CAST(st AS DOUBLE) / n)
        |      * (t - CAST(st AS DOUBLE) / n) / sxx)
        |    / (2.0 * (sse / (n - 2))
        |       * (1.0 - (1.0 / n + (t - CAST(st AS DOUBLE) / n)
        |          * (t - CAST(st AS DOUBLE) / n) / sxx))
        |       * (1.0 - (1.0 / n + (t - CAST(st AS DOUBLE) / n)
        |          * (t - CAST(st AS DOUBLE) / n) / sxx))), 6)
        |    > 4.0 / n AS influential
        |FROM res CROSS JOIN sse ORDER BY t""".stripMargin),

    // same row-index lag join, exact decimal products, shared OLS/SSE/
    // t chain, same asymptotic critical
    "q_adf_lite" ->
      (s"""WITH $daysCtes,
        |p AS (
        |  SELECT b.y AS x, a.y - b.y AS z
        |  FROM days a JOIN days b ON a.t = b.t + 1),
        |m AS (
        |  SELECT count(*) AS m, sum(x) AS sx, sum(z) AS sz,
        |    sum(x * x) AS sxx, sum(x * z) AS sxz, sum(z * z) AS szz
        |  FROM p),
        |f AS (
        |  SELECT m,
        |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
        |      / m AS dxx,
        |    (CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE)
        |       * CAST(sz AS DOUBLE) / m)
        |      / (CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / m) AS beta,
        |    sx, sz, sxz, szz
        |  FROM m),
        |f2 AS (
        |  SELECT m, dxx, beta,
        |    (CAST(sz AS DOUBLE) - beta * CAST(sx AS DOUBLE)) / m
        |      AS alpha,
        |    sz, sxz, szz
        |  FROM f),
        |f3 AS (
        |  SELECT m, beta, alpha,
        |    sqrt(greatest(CAST(szz AS DOUBLE)
        |        - alpha * CAST(sz AS DOUBLE)
        |        - beta * CAST(sxz AS DOUBLE), 0.0)
        |      / (m - 2) / dxx) AS se
        |  FROM f2)
        |SELECT m AS n_pairs, round(alpha, 6) AS alpha,
        |  round(beta, 6) AS beta, round(beta / se, 6) AS t_df,
        |  round(beta / se, 6) < -2.86 AS stationary
        |FROM f3""".stripMargin),

    // same increment/lag joins, 9dp squared-deviation decimal sums,
    // shared VR/z closed forms
    "q_variance_ratio" ->
      (s"""WITH $daysCtes,
        |inc AS (
        |  SELECT a.t, a.y - b.y AS dd
        |  FROM days a JOIN days b ON a.t = b.t + 1),
        |mu AS (SELECT count(*) AS m, sum(dd) AS sd FROM inc),
        |s1 AS (
        |  SELECT m, sum(CAST(round(
        |      (CAST(dd AS DOUBLE) - CAST(sd AS DOUBLE) / m)
        |      * (CAST(dd AS DOUBLE) - CAST(sd AS DOUBLE) / m), 9)
        |    AS DECIMAL(28,9))) AS ss1
        |  FROM inc CROSS JOIN mu GROUP BY m),
        |qs AS (SELECT CAST(unnest([2, 4]) AS INT) AS q),
        |dq AS (
        |  SELECT qs.q, a.y - b.y AS dq
        |  FROM days a CROSS JOIN qs JOIN days b ON a.t - qs.q = b.t),
        |sq AS (
        |  SELECT q, m, count(*) AS mq,
        |    sum(CAST(round(
        |      (CAST(dq AS DOUBLE) - q * CAST(sd AS DOUBLE) / m)
        |      * (CAST(dq AS DOUBLE) - q * CAST(sd AS DOUBLE) / m), 9)
        |      AS DECIMAL(28,9))) AS ssq
        |  FROM dq CROSS JOIN mu GROUP BY q, m),
        |f AS (
        |  SELECT q, m, mq,
        |    (CAST(ssq AS DOUBLE) / (q * mq))
        |      / (CAST(ss1 AS DOUBLE) / m) AS vr
        |  FROM sq JOIN s1 USING (m)),
        |z AS (
        |  SELECT q, m, vr,
        |    (vr - 1) / sqrt(2.0 * (2.0 * q - 1) * (q - 1)
        |      / (3.0 * q * m)) AS z
        |  FROM f)
        |SELECT q, m AS n_incs, round(vr, 6) AS vr, round(z, 6) AS z,
        |  abs(round(z, 6)) < 1.96 AS rw_ok
        |FROM z ORDER BY q""".stripMargin)
  )
}
