package graft.queries

import graft.Decimals._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequential-monitoring pack — the control-chart and trend procedures a
  * data platform runs CONTINUOUSLY over its daily metric series, where
  * q_changepoint / q_stl_anomaly answer "did something break in this
  * batch", these answer "is the process drifting and when should a page
  * fire": the tabular CUSUM chart (Page '54), the Page–Hinkley drift
  * detector (the streaming-ML standard from the same paper's mean-shift
  * test), the Mann–Kendall monotone-trend test with tie correction
  * (Mann '45; Kendall '75) completing q_theil_sen (slope) with its
  * significance test, and Holt's linear-trend exponential smoother
  * (Holt '57) extending q_ses with a trend state. Reference capability:
  * the deployed HiveQL engine ships window functions; these are the
  * monitoring procedures composed from them.
  *
  * Determinism discipline: CUSUM's non-linear recursion
  * S_t = max(0, S_{t-1} + x_t) is NOT unrollable as a weighted sum, but
  * collapses to prefix arithmetic: S_t = P_t - min(0, min_{j<=t} P_j)
  * with P the plain running sum — both the running sum and running min
  * are frame-ordered windows over once-rounded 9dp decimals, so every
  * intermediate is exact on both engines. Holt's LINEAR recursion
  * x_t = A x_{t-1} + v y_t unrolls through matrix powers A^j whose
  * entries are computed ONCE on the driver and embedded as identical
  * 12dp literals in both engines' plans (a ~60-row broadcast-sized
  * lookup — the cluster-scale shape for any linear recurrence).
  */
object SeriesOps extends QueryPack {

  /** The shared daily-purchase series (d, y DECIMAL(18,2), t row index) —
    * the same relation q_ses / q_forecast_eval monitor. Shared with
    * [[Series2Ops]] (r14 diagnostics) so both packs watch ONE series;
    * graft-visible so specs can replay against the exact relation. */
  private[graft] def dailySeries(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "events")
      .filter($"event_type" === "purchase")
      .groupBy(to_date($"ts").as("d"))
      .agg(sum(round($"value", 2).cast(dec18_2)).cast(dec18_2).as("y"))
      .withColumn("t", row_number().over(Window.orderBy($"d")))
  }

  private[queries] val daysCtesSql =
    """days0 AS (
      |  SELECT CAST(ts AS DATE) AS d,
      |    CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2)))
      |      AS DECIMAL(18,2)) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |days AS (
      |  SELECT d, y, row_number() OVER (ORDER BY d) AS t FROM days0)"""
      .stripMargin

  /** Standardized series: z = (y - mean) / sd rounded once to 9dp —
    * the shared input of q_cusum and q_page_hinkley. */
  private def zSeries(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = dailySeries(spark, sfDir)
    val m = days.agg(count(lit(1)).as("n"), sum($"y").as("s1"),
      sum(round($"y".cast("double") * $"y", 4).cast(dec38_4)).as("s2"))
    val mu = $"s1".cast("double") / $"n"
    val sd = sqrt(($"s2".cast("double")
      - $"s1".cast("double") * $"s1".cast("double") / $"n")
      / ($"n" - lit(1L)))
    days.crossJoin(broadcast(m))
      .select($"d", $"t", $"y",
        round(($"y".cast("double") - mu) / sd, 9).cast(dec28_9).as("z"))
  }

  private val zCtesSql =
    s"""$daysCtesSql,
      |m AS (
      |  SELECT count(*) AS n, sum(y) AS s1,
      |    sum(CAST(round(CAST(y AS DOUBLE) * y, 4) AS DECIMAL(38,4)))
      |      AS s2
      |  FROM days),
      |zs AS (
      |  SELECT d, t, y,
      |    CAST(round((CAST(y AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
      |      / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
      |        * CAST(s1 AS DOUBLE) / n) / (n - 1)), 9)
      |      AS DECIMAL(28,9)) AS z
      |  FROM days CROSS JOIN m)""".stripMargin

  // ---- q_cusum -----------------------------------------------------------
  /** Tabular two-sided CUSUM control chart (Page '54; Montgomery's SPC
    * text parameterization k = delta/2 = 0.5, h = 4 in sd units) over
    * the standardized daily purchase series: S+_t accumulates upward
    * drift max(0, S+_{t-1} + z_t - k), S-_t downward, and a day alarms
    * when either side crosses h. The max(0, .) recursion collapses to
    * S+_t = P_t - min(0, min_{j<=t} P_j) with P_t the running sum of
    * (z_t - k) — two frame-ordered windows over exact decimals, no
    * iteration, any series length. */
  def qCusum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = lit(BigDecimal("0.5").bigDecimal).cast(dec28_9)
    val zero = lit(BigDecimal("0").bigDecimal).cast(dec28_9)
    val w = Window.orderBy($"t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = zSeries(spark, sfDir)
      .withColumn("p_pos", sum($"z" - k).over(w))
      .withColumn("p_neg", sum((zero - $"z") - k).over(w))
    p.select($"d".cast("string").as("d"),
        round($"z".cast("double"), 6).as("z"),
        round(($"p_pos" - least(zero, min($"p_pos").over(w)))
          .cast("double"), 6).as("s_pos"),
        round(($"p_neg" - least(zero, min($"p_neg").over(w)))
          .cast("double"), 6).as("s_neg"))
      .withColumn("alarm", $"s_pos" > 4.0 || $"s_neg" > 4.0)
      .orderBy($"d")
  }

  // ---- q_page_hinkley ----------------------------------------------------
  /** Page–Hinkley mean-shift drift detector (Page '54 §5; the form used
    * by the streaming-ML literature, e.g. Gama et al. '14 survey): over
    * the standardized series, m_t = sum_{i<=t} (z_i - zbar_i - delta)
    * with zbar_i the RUNNING mean up to i, and PH_t = m_t - min_{j<=t}
    * m_j fires when it exceeds lambda. delta = 0.05 tolerates noise,
    * lambda = 2 sd units pages. The running mean is a window ratio of
    * an exact decimal running sum; each deviation term rounds once to
    * 9dp so the accumulating sums stay exact on both engines. */
  def qPageHinkley(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val zs = zSeries(spark, sfDir)
      .withColumn("zbar", sum($"z").over(w).cast("double") / $"t")
      .withColumn("dev",
        round(($"z".cast("double") - $"zbar") - 0.05, 9).cast(dec28_9))
      .withColumn("m", sum($"dev").over(w))
    zs.select($"d".cast("string").as("d"),
        round($"z".cast("double"), 6).as("z"),
        round($"zbar", 6).as("z_runmean"),
        round(($"m" - min($"m").over(w)).cast("double"), 6).as("ph"))
      .withColumn("alarm", $"ph" > 2.0)
      .orderBy($"d")
  }

  // ---- q_mann_kendall ----------------------------------------------------
  /** Mann–Kendall monotone-trend test with tie correction (Mann '45;
    * Kendall '75): S = sum_{i<j} sign(y_j - y_i) over the daily series,
    * Var(S) = [n(n-1)(2n+5) - sum_g t_g(t_g-1)(2t_g+5)] / 18 with t_g
    * the tie-group sizes, and the continuity-corrected normal statistic
    * z = (S -/+ 1)/sqrt(Var). The significance call derives from |z| vs
    * the two-sided 5% normal critical value — a literal both engines
    * share (the chi2Crit05 discipline). Pairs are a T^2 band self-join
    * of the calendar-bounded day relation; S and the tie term are exact
    * integers, z one shared double formula. Completes q_theil_sen: the
    * robust slope there, its trend test here. */
  def qMannKendall(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = dailySeries(spark, sfDir).localCheckpoint()
    val s = days.select($"t".as("i"), $"y".as("yi"))
      .join(days.select($"t".as("j"), $"y".as("yj")), $"i" < $"j")
      .agg(sum(signum(($"yj" - $"yi").cast("double")).cast("long"))
        .as("s"))
    val ties = days.groupBy($"y").agg(count(lit(1)).as("tg"))
      .agg(count(lit(1)).as("groups"), sum($"tg").as("n"),
        sum($"tg" * ($"tg" - 1L) * (lit(2L) * $"tg" + 5L)).as("tie_term"))
    // z divides by the RAW variance (the 6dp rounding is display-only);
    // the oracle mirrors this with a distinct var_raw name so DuckDB's
    // lateral alias resolution can't silently pick the rounded one
    val varS = (($"n" * ($"n" - 1L) * (lit(2L) * $"n" + 5L) - $"tie_term")
      .cast("double") / 18.0)
    val z = when($"s" > 0L, ($"s" - 1L).cast("double") / sqrt(varS))
      .when($"s" < 0L, ($"s" + 1L).cast("double") / sqrt(varS))
      .otherwise(0.0)
    s.crossJoin(broadcast(ties))
      .select($"n", $"s", round(varS, 6).as("var_s"),
        round(z, 6).as("z"))
      .withColumn("trend",
        when($"z" > 1.959964, "increasing")
          .when($"z" < -1.959964, "decreasing")
          .otherwise("no_trend"))
  }

  // ---- q_holt ------------------------------------------------------------

  private val holtAlpha = 0.3
  private val holtBeta = 0.1

  /** Powers A^j of Holt's 2x2 state-transition matrix, computed once on
    * the driver in plain doubles and shipped as 12dp string literals
    * both engines parse as EXACT DECIMAL(16,12) (r15 — the
    * parse-as-double path left 9dp product-round ties where the
    * engines' double rounding diverged). With state x = (l, b):
    * l_t = a y_t + (1-a)(l_{t-1} + b_{t-1}) and (after substitution)
    * b_t = ab y_t - ab l_{t-1} + (1-ab) b_{t-1}, i.e. x_t = A x_{t-1}
    * + y_t v with A = [[1-a, 1-a], [-ab, 1-ab]], v = (a, ab). */
  private lazy val holtCoef: IndexedSeq[(Int, String, String, String, String)] = {
    val a = holtAlpha; val b = holtBeta
    val A = Array(Array(1 - a, 1 - a), Array(-a * b, 1 - a * b))
    def fmt(x: Double): String =
      new java.math.BigDecimal(x)
        .setScale(12, java.math.RoundingMode.HALF_UP).toPlainString
    val out = IndexedSeq.newBuilder[(Int, String, String, String, String)]
    var m = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    for (j <- 0 to 59) {
      out += ((j, fmt(m(0)(0)), fmt(m(0)(1)), fmt(m(1)(0)), fmt(m(1)(1))))
      m = Array(
        Array(m(0)(0) * A(0)(0) + m(0)(1) * A(1)(0),
          m(0)(0) * A(0)(1) + m(0)(1) * A(1)(1)),
        Array(m(1)(0) * A(0)(0) + m(1)(1) * A(1)(0),
          m(1)(0) * A(0)(1) + m(1)(1) * A(1)(1)))
    }
    out.result()
  }

  private def holtCoefValuesSql: String =
    holtCoef.map { case (j, a11, a12, a21, a22) =>
      s"($j, $a11, $a12, $a21, $a22)"
    }.mkString(", ")

  /** Holt's linear-trend exponential smoothing (Holt '57; Hyndman &
    * Athanasopoulos FPP3 §8.2), alpha = 0.3, beta = 0.1, over the daily
    * purchase series — q_ses plus a trend state, the forecaster for
    * series that drift. The coupled level/trend recursion is LINEAR in
    * the state, so it unrolls exactly through the precomputed A^j
    * lookup (scaladoc above): l_t and b_t are weighted sums of past y
    * plus an A^{t-1}-propagated init (l_1 = y_1, b_1 = y_2 - y_1), each
    * product rounded once to 9dp into exact decimal sums over the same
    * T^2 calendar-bounded band join q_ses uses. Emits the one-step fit
    * yhat_t = l_{t-1} + b_{t-1} per observed day (t >= 3) plus a 7-day
    * trend-extrapolated forecast yhat_{T+h} = l_T + h b_T. */
  def qHolt(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // EXACT DECIMAL end to end (r15): the 12dp A^j literals parse as
    // DECIMAL(16,12) — not doubles — so every coefficient product,
    // init term, and the final 6dp round are exact decimal arithmetic
    // with one shared HALF_UP tie rule. The double path rounded
    // products at 9dp where a coefficient×y tie could flip the last
    // digit between engines (caught by the strict gate at sf0.1).
    // v = (0.3, 0.03) as decimal literals folds into each A^j row once
    // (a 60-row projection), kept ≤ DECIMAL(16,14) so the ×y product
    // stays inside precision 38 with no silent Spark scale loss.
    val coef = holtCoef.toDF("j", "a11s", "a12s", "a21s", "a22s")
      .select($"j",
        $"a11s".cast(dec16_12).as("a11"),
        $"a12s".cast(dec16_12).as("a12"),
        $"a21s".cast(dec16_12).as("a21"),
        $"a22s".cast(dec16_12).as("a22"))
      .select($"j", $"a11", $"a12", $"a21", $"a22",
        ($"a11" * expr("CAST(0.3 AS DECIMAL(2,1))")
          + $"a12" * expr("CAST(0.03 AS DECIMAL(3,2))"))
          .cast(dec16_14).as("cvl"),
        ($"a21" * expr("CAST(0.3 AS DECIMAL(2,1))")
          + $"a22" * expr("CAST(0.03 AS DECIMAL(3,2))"))
          .cast(dec16_14).as("cvb"))
    val days = dailySeries(spark, sfDir).localCheckpoint()
    val init = days.filter($"t" <= 2)
      .agg(sum(when($"t" === 1, $"y")).as("l1d"),
        sum(when($"t" === 2, $"y").otherwise(-$"y")).as("b1d"))
      .select($"l1d".cast(dec12_2).as("l1"),
        $"b1d".cast(dec12_2).as("b1"))
    // state x_tt = sum_{j=0..tt-2} A^j v y_{tt-j} + A^{tt-1} x_1, tt >= 2
    val terms = days.select($"t".as("tt"))
      .filter($"tt" >= 2)
      .join(days.select($"t".as("src"), $"y".as("ysrc")),
        $"src" >= 2 && $"src" <= $"tt")
      .join(broadcast(coef), $"j" === $"tt" - $"src")
      .groupBy($"tt")
      .agg(
        sum(round($"cvl" * $"ysrc", 9).cast(dec28_9)).as("sum_l"),
        sum(round($"cvb" * $"ysrc", 9).cast(dec28_9)).as("sum_b"))
    // level/trend stay EXACT DECIMALS through the final 6dp round: the
    // state is a 9dp decimal grid, so y − (level+trend) can land
    // exactly on a 6dp half boundary where the engines' double-round
    // tie rules diverge (caught by the strict gate at sf0.1); decimal
    // rounding is HALF_UP in both engines.
    // sum() inflates DECIMAL(28,9) to (38,9); adding the init term
    // would need precision 39 and Spark SILENTLY drops to scale 8
    // (the allowPrecisionLoss trap — cost a 5e-9 divergence here).
    // Cast both addends to (20,9) first so the add stays exact.
    val state = terms
      .join(broadcast(coef), $"j" === $"tt" - 1)
      .crossJoin(broadcast(init))
      .select($"tt",
        ($"sum_l".cast(dec20_9)
          + round($"a11" * $"l1" + $"a12" * $"b1", 9).cast(dec20_9))
          .cast(dec20_9).as("level"),
        ($"sum_b".cast(dec20_9)
          + round($"a21" * $"l1" + $"a22" * $"b1", 9).cast(dec20_9))
          .cast(dec20_9).as("trend"))
      .localCheckpoint() // feeds fitted rows, forecast rows, and the shift
    val fitted = days.filter($"t" >= 3)
      .join(state.select(($"tt" + 1).as("t"),
        ($"level" + $"trend").as("fitted")), Seq("t"))
      .select($"d".cast("string").as("d"), $"t",
        $"y".cast("double").as("y"),
        round($"fitted", 6).cast("double").as("fitted"),
        round($"y" - $"fitted", 6).cast("double").as("err"))
    val last = days.agg(max($"t").as("tmax"), max($"d").as("dmax"))
    val fc = last.join(state, $"tt" === $"tmax")
      .crossJoin(spark.range(1, 8).select($"id".cast("int").as("h")))
      .select(date_add($"dmax", $"h").cast("string").as("d"),
        ($"tmax" + $"h").cast("int").as("t"),
        lit(null).cast("double").as("y"),
        round($"level" + $"h".cast(dec2_0) * $"trend", 6)
          .cast("double").as("fitted"),
        lit(null).cast("double").as("err"))
    fitted.unionByName(fc).orderBy($"t")
  }

  // ---- q_crosscorr -------------------------------------------------------
  /** Lead–lag cross-correlation (the CCF of Box & Jenkins §11): Pearson
    * r between daily event volume x_t and daily purchase revenue
    * y_{t+k} for lags k ∈ [−7, 7] — the "does activity LEAD revenue,
    * and by how many days" read that decides which series is the
    * predictor. Day pairs come from ONE broadcast 15-row lag spine ×
    * a calendar equi-join on date_add (never a window over the corpus);
    * every per-lag moment is an exact integer/decimal sum (x is a
    * count, y a 2dp decimal, y² rounds to 4dp pre-sum), so the only
    * cross-engine surface is the one shared Pearson double formula. */
  def qCrosscorr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dd = Tables.df(spark, sfDir, "events")
      .groupBy(to_date($"ts").as("d"))
      .agg(count(lit(1)).as("x"),
        coalesce(sum(when($"event_type" === "purchase",
          round($"value", 2).cast(dec18_2))).cast(dec18_2),
          lit(0).cast(dec18_2)).as("y"))
      .localCheckpoint() // both sides of the lag join
    val lags = spark.range(-7, 8).select($"id".cast("int").as("lag"))
    val pairs = dd.as("a").crossJoin(broadcast(lags))
      .join(dd.as("b"), expr("b.d = date_add(a.d, lag)"))
      .select($"lag", $"a.x".as("x"), $"b.y".as("y"))
    val mo = pairs.groupBy($"lag").agg(
      count(lit(1)).as("n"),
      sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x" * $"x").as("sxx"),
      sum(round($"y".cast("double") * $"y", 4).cast(dec38_4)).as("syy"),
      sum($"x" * $"y").as("sxy"))
    mo.withColumn("den",
        sqrt($"n" * $"sxx".cast("double") - $"sx".cast("double") * $"sx")
          * sqrt($"n" * $"syy".cast("double")
            - $"sy".cast("double") * $"sy"))
      .select($"lag", $"n",
        when($"den" > 0,
          round(($"n" * $"sxy".cast("double")
            - $"sx".cast("double") * $"sy".cast("double")) / $"den", 6))
          .as("r"))
      .orderBy($"lag")
  }

  // ---- q_huber -----------------------------------------------------------
  /** Huber robust trend (Huber '64, via 3 unrolled IRLS iterations):
    * regress the daily revenue series on the day index with the Huber
    * ρ's weights w = min(1, c/|resid|), c = 1.345·MAD/0.6745 frozen
    * from the OLS residuals (the standard one-step scale). Each
    * iteration is a weighted-OLS closed form over the 30-row day
    * relation with the 1-row parameter state broadcast back — a STATIC
    * 3-round plan, the q_logreg fixed-unroll discipline (at cluster
    * scale: iterate with a checkpoint per round). Weighted-moment terms
    * round once to 4dp into exact decimal sums; every
    * coefficient/scale division is one shared double formula; the
    * weight branch avoids |r| = 0 division entirely (|r| ≤ c → w = 1).
    * Output contrasts the OLS and Huber fits with the weight mass the
    * robust fit discounted. */
  def qHuber(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = dailySeries(spark, sfDir)
      .select($"t".cast("long").as("t"), $"y".cast("double").as("y"))
      .localCheckpoint() // OLS moments + scale + 3 IRLS rounds
    val ols = days.agg(count(lit(1)).as("n"),
        sum($"t").as("st"), sum(round($"y", 2).cast(dec18_2)).as("sy"),
        sum($"t" * $"t").as("stt"),
        sum(round($"t" * $"y", 2).cast(dec18_2)).as("sty"))
      .withColumn("b0",
        ($"n" * $"sty".cast("double") - $"st".cast("double")
          * $"sy".cast("double"))
          / ($"n" * $"stt".cast("double")
            - $"st".cast("double") * $"st"))
      .withColumn("a0",
        ($"sy".cast("double") - $"b0" * $"st") / $"n")
      .select($"n", $"a0", $"b0")
    val scale = days.crossJoin(broadcast(ols))
      .select(abs($"y" - ($"a0" + $"b0" * $"t")).as("ar"))
      .agg(round(expr("percentile(ar, 0.5)"), 6).as("mad"))
      .select((round(lit(1.345) * $"mad" / lit(0.6745), 6)).as("c"))
    def irls(params: DataFrame): DataFrame =
      days.crossJoin(broadcast(params)).crossJoin(broadcast(scale))
        .withColumn("r", $"y" - ($"a" + $"b" * $"t"))
        .withColumn("w", when(abs($"r") <= $"c", lit(1.0))
          .otherwise(round($"c" / abs($"r"), 9)))
        .agg(sum(round($"w", 4).cast(dec38_4)).as("sw"),
          sum(round($"w" * $"t", 4).cast(dec38_4)).as("swt"),
          sum(round($"w" * $"y", 4).cast(dec38_4)).as("swy"),
          sum(round($"w" * $"t" * $"t", 4).cast(dec38_4)).as("swtt"),
          sum(round($"w" * $"t" * $"y", 4).cast(dec38_4)).as("swty"))
        .select(
          (($"sw".cast("double") * $"swty".cast("double")
            - $"swt".cast("double") * $"swy".cast("double"))
            / ($"sw".cast("double") * $"swtt".cast("double")
              - $"swt".cast("double") * $"swt".cast("double")))
            .as("braw"),
          $"sw".cast("double").as("swd"),
          $"swt".cast("double").as("swtd"),
          $"swy".cast("double").as("swyd"))
        .select(round($"braw", 9).as("b"),
          round(($"swyd" - $"braw" * $"swtd") / $"swd", 9).as("a"),
          round($"swd", 6).as("wmass"))
    val init = ols.select($"a0".as("a"), $"b0".as("b"))
    val fin = irls(irls(irls(init)
      .select($"a", $"b")).select($"a", $"b"))
    ols.crossJoin(broadcast(scale)).crossJoin(broadcast(fin))
      .select($"n", round($"a0", 6).as("ols_intercept"),
        round($"b0", 6).as("ols_slope"), $"c".as("huber_c"),
        round($"a", 6).as("huber_intercept"),
        round($"b", 6).as("huber_slope"), $"wmass".as("weight_mass"))
  }

  // ---- q_pacf ------------------------------------------------------------
  /** ACF plus partial autocorrelation at lags 1–3 via the Durbin–Levinson
    * recursion (Durbin '60; Box & Jenkins §3.2) over the daily purchase
    * series — the AR-order read that decides how many autoregressive
    * terms a forecasting model needs, where q_autocorr answers "is there
    * memory" and this answers "how much of lag-k is NEW information not
    * already explained by lags < k". The corpus collapses to the day
    * relation first; deviation products round once to 9dp into exact
    * decimal sums (the q_autocorr discipline, but on the row index t so
    * calendar gaps cannot silently change the lag meaning); the ACF
    * rounds to 6dp and every Durbin–Levinson coefficient is pure
    * +,−,×,÷ on those 6dp doubles, so both engines walk identical
    * arithmetic with no libm call anywhere. */
  def qPacf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = dailySeries(spark, sfDir)
      .localCheckpoint() // day-thin; feeds moments + the 3 lag joins
    val mom = days.agg(count(lit(1)).as("nd"), sum($"y").as("sy"))
    val dev = days.crossJoin(broadcast(mom))
      .select($"t",
        ($"y".cast("double") - $"sy".cast("double") / $"nd").as("e"))
      .localCheckpoint() // shared by denominator + both join sides
    val den = dev.select(round($"e" * $"e", 9).cast(dec28_9).as("tm"))
      .agg(sum($"tm").as("den"))
    val acf = dev
      .join(dev.select($"t".as("t2"), $"e".as("e2")),
        ($"t" - $"t2").between(1, 3))
      .select(($"t" - $"t2").cast("int").as("lag"),
        round($"e" * $"e2", 9).cast(dec28_9).as("tm"))
      .groupBy($"lag").agg(sum($"tm").as("num"))
      .crossJoin(broadcast(den))
      .select($"lag",
        round($"num".cast("double") / $"den".cast("double"), 6).as("r"))
    val rr = acf.agg(
      max(when($"lag" === 1, $"r")).as("r1"),
      max(when($"lag" === 2, $"r")).as("r2"),
      max(when($"lag" === 3, $"r")).as("r3"))
    // degenerate-series guards (ADVICE r13): a |r1| = 1 series (or one
    // too short for the lags, where the r's are NULL) must yield NULL
    // pacf rows, not ±Infinity on one engine and NULL on the other —
    // both guards mirror in the oracle CTEs
    val p = rr
      .withColumn("d1", lit(1.0) - $"r1" * $"r1")
      .withColumn("p22",
        when($"d1" =!= 0.0, ($"r2" - $"r1" * $"r1") / $"d1"))
      .withColumn("p21",
        when($"d1" =!= 0.0, $"r1" * (lit(1.0) - $"r2") / $"d1"))
      .withColumn("d3", lit(1.0) - $"p21" * $"r1" - $"p22" * $"r2")
      .withColumn("p33",
        when($"d3" =!= 0.0,
          ($"r3" - $"p21" * $"r2" - $"p22" * $"r1") / $"d3"))
    p.select(explode(array(
        struct(lit(1).as("lag"), $"r1".as("acf"),
          round($"r1", 6).as("pacf")),
        struct(lit(2).as("lag"), $"r2".as("acf"),
          round($"p22", 6).as("pacf")),
        struct(lit(3).as("lag"), $"r3".as("acf"),
          round($"p33", 6).as("pacf")))).as("s"))
      .select($"s.lag", $"s.acf", $"s.pacf")
      .orderBy($"lag")
  }

  // ---- q_period_detect ---------------------------------------------------
  /** Hidden-periodicity scan WITHOUT trigonometry (the folded-variance /
    * periodic-ANOVA form of Fisher's hidden-periodicity test, Fisher
    * '29): for every candidate period p ∈ [2, 10], fold the daily
    * purchase series by phase (t−1) mod p and score how much day-to-day
    * variance the phase means explain — R²_p = SSB/SST and the ANOVA
    * F_p = (SSB/(p−1)) / (SSW/(n−p)), argmax F is the detected period.
    * A DFT periodogram needs cos/sin (libm, cross-engine ulp risk);
    * folding needs only integer mod + the same exact-decimal
    * sum-of-squares machinery as q_anova, so the whole scan is
    * hash-oracleable. One day-grain pass per nothing: the 9-row period
    * spine broadcasts over the day relation, phase groups aggregate
    * exact decimal sums, and every squared term rounds once to 9dp. */
  def qPeriodDetect(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = dailySeries(spark, sfDir)
      .localCheckpoint() // day-thin; feeds SST + the folded groups
    val mom = days.agg(count(lit(1)).as("nd"), sum($"y").as("sy"))
    val sst = days.crossJoin(broadcast(mom))
      .select(($"y".cast("double") - $"sy".cast("double") / $"nd")
        .as("dv"))
      .select(round($"dv" * $"dv", 9).cast(dec28_9).as("tm"))
      .agg(sum($"tm").as("sst"))
    val periods = spark.range(2, 11).select($"id".cast("int").as("p"))
    val ssb = days.crossJoin(broadcast(periods))
      .select($"p", (($"t" - 1) % $"p").as("ph"), $"y")
      .groupBy($"p", $"ph")
      .agg(count(lit(1)).as("ng"), sum($"y").as("sg"))
      .crossJoin(broadcast(mom))
      .select($"p",
        ($"sg".cast("double") / $"ng"
          - $"sy".cast("double") / $"nd").as("dg"), $"ng")
      .select($"p", round($"ng" * $"dg" * $"dg", 9).cast(dec28_9).as("tm"))
      .groupBy($"p").agg(sum($"tm").as("ssb"))
    val scored = ssb.crossJoin(broadcast(sst)).crossJoin(broadcast(mom))
      .select($"p",
        round($"ssb".cast("double") / $"sst".cast("double"), 6)
          .as("r2"),
        when($"sst" - $"ssb" > 0,
          round(($"ssb".cast("double") / ($"p" - 1))
            / (($"sst".cast("double") - $"ssb".cast("double"))
              / ($"nd" - $"p")), 6)).as("f_stat"))
    // unique detection (ADVICE r13): ties on the 6dp-rounded F break to
    // the SMALLEST period among the maxima (the most parsimonious fold),
    // and an all-NULL F column yields best = false everywhere, not NULL
    val top = scored.agg(max($"f_stat").as("fmax"))
    val pb = scored.crossJoin(broadcast(top))
      .filter($"f_stat" === $"fmax")
      .agg(min($"p").as("pbest"))
    scored.crossJoin(broadcast(pb))
      .select($"p", $"r2", $"f_stat",
        coalesce($"p" === $"pbest", lit(false)).as("best"))
      .orderBy($"p")
  }

  // ---- q_var_es ----------------------------------------------------------
  /** Historical Value-at-Risk and Expected Shortfall (Acerbi & Tasche
    * '02) of the day-over-day revenue DECLINE at 90/95/99% — the
    * tail-risk read a capacity/revenue-monitoring pipeline keeps beside
    * the mean-shift detectors: "how bad is a bad day, and how bad is
    * the average of the worst days". Losses are exact 2dp decimal
    * first differences of the daily series; VaR_α is the loss at
    * ascending rank k = ⌈α·n⌉ (k computed by INTEGER arithmetic
    * ⌊(100α·n + 99)/100⌋ so no float boundary can move the order
    * statistic), ES_α the exact-decimal mean of ranks ≥ k. The only
    * window orders the calendar-bounded day relation (the q_survival
    * argument); the 3-row alpha spine broadcasts. */
  def qVarEs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wT = Window.orderBy($"t")
    val loss = dailySeries(spark, sfDir)
      .withColumn("prev", lag($"y", 1).over(wT))
      .filter($"prev".isNotNull)
      .select($"d", ($"prev" - $"y").cast(dec18_2).as("loss"))
      .localCheckpoint() // day-thin; feeds count + rank + tail scan
    val n = loss.agg(count(lit(1)).as("n"))
    val ranked = loss
      .withColumn("rn",
        row_number().over(Window.orderBy($"loss", $"d")))
    // true integer ceil-division (ADVICE r13: the doc claimed integer
    // arithmetic while the code floored a double quotient — value-safe
    // at these magnitudes, but now the claim is literally true)
    val ks = Seq(90, 95, 99).toDF("alpha_pct")
      .crossJoin(broadcast(n))
      .select($"alpha_pct", $"n",
        expr("(alpha_pct * n + 99) div 100").as("k"))
    val varAt = ranked.join(broadcast(ks), $"rn" === $"k")
      .select($"alpha_pct", $"n", $"k",
        $"loss".cast("double").as("var_loss"))
    val es = ranked
      .join(broadcast(ks.select($"alpha_pct".as("ap"), $"k".as("k2"))),
        $"rn" >= $"k2")
      .groupBy($"ap")
      .agg(count(lit(1)).as("n_tail"), sum($"loss").as("s"))
      .select($"ap", $"n_tail",
        round($"s".cast("double") / $"n_tail", 6).as("es"))
    varAt.join(es, $"alpha_pct" === $"ap")
      .select($"alpha_pct", $"n", $"k", $"var_loss", $"n_tail", $"es")
      .orderBy($"alpha_pct")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cusum" -> qCusum,
    "q_page_hinkley" -> qPageHinkley,
    "q_mann_kendall" -> qMannKendall,
    "q_holt" -> qHolt,
    "q_crosscorr" -> qCrosscorr,
    "q_huber" -> qHuber,
    "q_pacf" -> qPacf,
    "q_period_detect" -> qPeriodDetect,
    "q_var_es" -> qVarEs
  )

  val oracle: Map[String, String] = Map(
    // same 15-row lag spine, calendar equi-join, exact per-lag moments,
    // and the one shared Pearson double formula
    "q_crosscorr" ->
      ("""WITH dd AS (
        |  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x,
        |    COALESCE(CAST(sum(CASE WHEN event_type = 'purchase'
        |        THEN CAST(round(value, 2) AS DECIMAL(18,2)) END)
        |      AS DECIMAL(18,2)), CAST(0 AS DECIMAL(18,2))) AS y
        |  FROM events GROUP BY 1),
        |lg AS (SELECT CAST(unnest(range(-7, 8)) AS INT) AS lag),
        |pr AS (SELECT lag, a.x, b.y
        |       FROM dd a CROSS JOIN lg JOIN dd b ON b.d = a.d + lag),
        |mo AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, sum(y) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    sum(CAST(round(CAST(y AS DOUBLE) * y, 4) AS DECIMAL(38,4)))
        |      AS syy,
        |    sum(x * y) AS sxy
        |  FROM pr GROUP BY 1),
        |de AS (SELECT lag, n, sx, sy, sxy,
        |    sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
        |      * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
        |      AS den
        |  FROM mo)
        |SELECT lag, n,
        |  CASE WHEN den > 0 THEN round((n * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / den, 6) END AS r
        |FROM de ORDER BY lag""".stripMargin),

    // the identical OLS seed, frozen MAD scale (quantile_cont is
    // DuckDB's interpolated percentile — the q_mad parity), and three
    // chained IRLS blocks with 4dp-rounded weighted-moment sums
    "q_huber" ->
      (s"""WITH $daysCtesSql,
        |dy AS (SELECT CAST(t AS BIGINT) AS t, CAST(y AS DOUBLE) AS y
        |       FROM days),
        |mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(t) AS BIGINT) AS st,
        |    sum(CAST(round(y, 2) AS DECIMAL(18,2))) AS sy,
        |    CAST(sum(t * t) AS BIGINT) AS stt,
        |    sum(CAST(round(t * y, 2) AS DECIMAL(18,2))) AS sty
        |  FROM dy),
        |ols AS (SELECT n, st, sy,
        |    (n * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE)
        |      * CAST(sy AS DOUBLE))
        |      / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st) AS b0
        |  FROM mo),
        |ols3 AS (SELECT n, b0,
        |    (CAST(sy AS DOUBLE) - b0 * st) / n AS a0 FROM ols),
        |sc AS (SELECT round(1.345 * round(quantile_cont(
        |    abs(y - (a0 + b0 * t)), 0.5), 6) / 0.6745, 6) AS c
        |  FROM dy CROSS JOIN ols3),
        |it0 AS (SELECT a0 AS a, b0 AS b FROM ols3),""".stripMargin
        + (1 to 3).map { k =>
          s"""
        |w$k AS (SELECT t, y,
        |    CASE WHEN abs(y - (a + b * t)) <= c THEN CAST(1 AS DOUBLE)
        |      ELSE round(c / abs(y - (a + b * t)), 9) END AS w
        |  FROM dy CROSS JOIN it${k - 1} CROSS JOIN sc),
        |m$k AS (SELECT
        |    sum(CAST(round(w, 4) AS DECIMAL(38,4))) AS sw,
        |    sum(CAST(round(w * t, 4) AS DECIMAL(38,4))) AS swt,
        |    sum(CAST(round(w * y, 4) AS DECIMAL(38,4))) AS swy,
        |    sum(CAST(round(w * t * t, 4) AS DECIMAL(38,4))) AS swtt,
        |    sum(CAST(round(w * t * y, 4) AS DECIMAL(38,4))) AS swty
        |  FROM w$k),
        |b$k AS (SELECT (CAST(sw AS DOUBLE) * CAST(swty AS DOUBLE)
        |      - CAST(swt AS DOUBLE) * CAST(swy AS DOUBLE))
        |      / (CAST(sw AS DOUBLE) * CAST(swtt AS DOUBLE)
        |        - CAST(swt AS DOUBLE) * CAST(swt AS DOUBLE)) AS braw,
        |    CAST(sw AS DOUBLE) AS swd, CAST(swt AS DOUBLE) AS swtd,
        |    CAST(swy AS DOUBLE) AS swyd
        |  FROM m$k),
        |it$k AS (SELECT round(braw, 9) AS b,
        |    round((swyd - braw * swtd) / swd, 9) AS a,
        |    round(swd, 6) AS wmass FROM b$k),""".stripMargin
        }.mkString
        + """
        |r AS (SELECT ols3.n, round(ols3.a0, 6) AS ols_intercept,
        |    round(ols3.b0, 6) AS ols_slope, sc.c AS huber_c,
        |    round(it3.a, 6) AS huber_intercept,
        |    round(it3.b, 6) AS huber_slope, it3.wmass AS weight_mass
        |  FROM ols3 CROSS JOIN sc CROSS JOIN it3)
        |SELECT * FROM r""".stripMargin),

    "q_cusum" ->
      (s"""WITH $zCtesSql,
        |p AS (
        |  SELECT d, z,
        |    sum(z - CAST(0.5 AS DECIMAL(28,9))) OVER w AS p_pos,
        |    sum((CAST(0 AS DECIMAL(28,9)) - z)
        |      - CAST(0.5 AS DECIMAL(28,9))) OVER w AS p_neg
        |  FROM zs
        |  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW)),
        |s AS (
        |  SELECT CAST(d AS VARCHAR) AS d,
        |    round(CAST(z AS DOUBLE), 6) AS z,
        |    round(CAST(p_pos - least(CAST(0 AS DECIMAL(38,9)),
        |      min(p_pos) OVER w2) AS DOUBLE), 6) AS s_pos,
        |    round(CAST(p_neg - least(CAST(0 AS DECIMAL(38,9)),
        |      min(p_neg) OVER w2) AS DOUBLE), 6) AS s_neg
        |  FROM p
        |  WINDOW w2 AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW))
        |SELECT d, z, s_pos, s_neg,
        |  (s_pos > 4.0 OR s_neg > 4.0) AS alarm
        |FROM s ORDER BY d""".stripMargin),

    "q_page_hinkley" ->
      (s"""WITH $zCtesSql,
        |r AS (
        |  SELECT d, t, z,
        |    CAST(sum(z) OVER w AS DOUBLE) / t AS zbar
        |  FROM zs
        |  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW)),
        |mm AS (
        |  SELECT d, t, z, zbar,
        |    sum(CAST(round((CAST(z AS DOUBLE) - zbar) - 0.05, 9)
        |      AS DECIMAL(28,9))) OVER w AS m
        |  FROM r
        |  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW)),
        |s AS (
        |  SELECT CAST(d AS VARCHAR) AS d,
        |    round(CAST(z AS DOUBLE), 6) AS z,
        |    round(zbar, 6) AS z_runmean,
        |    round(CAST(m - min(m) OVER w2 AS DOUBLE), 6) AS ph
        |  FROM mm
        |  WINDOW w2 AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW))
        |SELECT d, z, z_runmean, ph, ph > 2.0 AS alarm
        |FROM s ORDER BY d""".stripMargin),

    "q_mann_kendall" ->
      (s"""WITH $daysCtesSql,
        |sp AS (
        |  SELECT CAST(sum(CAST(sign(CAST(b.y - a.y AS DOUBLE)) AS BIGINT))
        |    AS BIGINT) AS s
        |  FROM days a JOIN days b ON a.t < b.t),
        |tg AS (SELECT y, count(*) AS tg FROM days GROUP BY y),
        |ties AS (
        |  SELECT CAST(sum(tg) AS BIGINT) AS n,
        |    CAST(sum(tg * (tg - 1) * (2 * tg + 5)) AS BIGINT) AS tie_term
        |  FROM tg),
        |st AS (
        |  SELECT n, s,
        |    CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0
        |      AS var_raw
        |  FROM sp CROSS JOIN ties),
        |zz AS (
        |  SELECT n, s, round(var_raw, 6) AS var_s,
        |    round(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var_raw)
        |      WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var_raw)
        |      ELSE 0.0 END, 6) AS z
        |  FROM st)
        |SELECT n, s, var_s, z,
        |  CASE WHEN z > 1.959964 THEN 'increasing'
        |    WHEN z < -1.959964 THEN 'decreasing'
        |    ELSE 'no_trend' END AS trend
        |FROM zz""".stripMargin),

    "q_holt" ->
      (s"""WITH $daysCtesSql,
        |coef AS (
        |  SELECT v.j, CAST(v.a11 AS DECIMAL(16,12)) AS a11,
        |    CAST(v.a12 AS DECIMAL(16,12)) AS a12,
        |    CAST(v.a21 AS DECIMAL(16,12)) AS a21,
        |    CAST(v.a22 AS DECIMAL(16,12)) AS a22,
        |    CAST(CAST(v.a11 AS DECIMAL(16,12))
        |        * CAST(0.3 AS DECIMAL(2,1))
        |      + CAST(v.a12 AS DECIMAL(16,12))
        |        * CAST(0.03 AS DECIMAL(3,2)) AS DECIMAL(16,14)) AS cvl,
        |    CAST(CAST(v.a21 AS DECIMAL(16,12))
        |        * CAST(0.3 AS DECIMAL(2,1))
        |      + CAST(v.a22 AS DECIMAL(16,12))
        |        * CAST(0.03 AS DECIMAL(3,2)) AS DECIMAL(16,14)) AS cvb
        |  FROM (VALUES ${holtCoefValuesSql})
        |    v(j, a11, a12, a21, a22)),
        |init AS (
        |  SELECT CAST(sum(CASE WHEN t = 1 THEN y END)
        |      AS DECIMAL(19,2)) AS l1,
        |    CAST(sum(CASE WHEN t = 2 THEN y ELSE -y END)
        |      AS DECIMAL(19,2)) AS b1
        |  FROM days WHERE t <= 2),
        |terms AS (
        |  SELECT a.t AS tt,
        |    sum(CAST(round(c.cvl * CAST(b.y AS DECIMAL(19,2)), 9)
        |      AS DECIMAL(28,9))) AS sum_l,
        |    sum(CAST(round(c.cvb * CAST(b.y AS DECIMAL(19,2)), 9)
        |      AS DECIMAL(28,9))) AS sum_b
        |  FROM days a
        |  JOIN days b ON b.t >= 2 AND b.t <= a.t
        |  JOIN coef c ON c.j = a.t - b.t
        |  WHERE a.t >= 2
        |  GROUP BY 1),
        |state AS (
        |  SELECT tt,
        |    CAST(sum_l + CAST(round(c.a11 * i.l1 + c.a12 * i.b1, 9)
        |      AS DECIMAL(28,9)) AS DECIMAL(20,9)) AS level,
        |    CAST(sum_b + CAST(round(c.a21 * i.l1 + c.a22 * i.b1, 9)
        |      AS DECIMAL(28,9)) AS DECIMAL(20,9)) AS trend
        |  FROM terms JOIN coef c ON c.j = tt - 1 CROSS JOIN init i),
        |fitted AS (
        |  SELECT CAST(d.d AS VARCHAR) AS d, d.t,
        |    CAST(d.y AS DOUBLE) AS y,
        |    CAST(round(s.level + s.trend, 6) AS DOUBLE) AS fitted,
        |    CAST(round(d.y - (s.level + s.trend), 6) AS DOUBLE) AS err
        |  FROM days d JOIN state s ON s.tt + 1 = d.t
        |  WHERE d.t >= 3),
        |last AS (SELECT max(t) AS tmax, max(d) AS dmax FROM days),
        |fc AS (
        |  SELECT CAST(dmax + CAST(h.h AS INT) AS VARCHAR) AS d,
        |    CAST(tmax + h.h AS INT) AS t,
        |    CAST(NULL AS DOUBLE) AS y,
        |    CAST(round(s.level + CAST(h.h AS DECIMAL(2,0)) * s.trend,
        |      6) AS DOUBLE) AS fitted,
        |    CAST(NULL AS DOUBLE) AS err
        |  FROM last JOIN state s ON s.tt = last.tmax
        |  CROSS JOIN (SELECT unnest(range(1, 8)) AS h) h)
        |SELECT d, CAST(t AS INT) AS t, y, fitted, err FROM fitted
        |UNION ALL
        |SELECT d, t, y, fitted, err FROM fc
        |ORDER BY t""".stripMargin),

    // row-index lags, 9dp pre-sum deviation products, 6dp ACF, then the
    // Durbin–Levinson coefficients as pure arithmetic on those 6dp doubles
    "q_pacf" ->
      (s"""WITH $daysCtesSql,
        |mom AS (SELECT count(*) AS nd, sum(y) AS sy FROM days),
        |dev AS (
        |  SELECT t, CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / nd AS e
        |  FROM days CROSS JOIN mom),
        |den AS (
        |  SELECT sum(CAST(round(e * e, 9) AS DECIMAL(28,9))) AS den
        |  FROM dev),
        |acf AS (
        |  SELECT CAST(a.t - b.t AS INT) AS lag,
        |    round(CAST(sum(CAST(round(a.e * b.e, 9) AS DECIMAL(28,9)))
        |      AS DOUBLE) / CAST(max(den.den) AS DOUBLE), 6) AS r
        |  FROM dev a JOIN dev b ON a.t - b.t BETWEEN 1 AND 3
        |  CROSS JOIN den
        |  GROUP BY 1),
        |rr AS (
        |  SELECT max(CASE WHEN lag = 1 THEN r END) AS r1,
        |    max(CASE WHEN lag = 2 THEN r END) AS r2,
        |    max(CASE WHEN lag = 3 THEN r END) AS r3
        |  FROM acf),
        |p0 AS (SELECT r1, r2, r3, 1.0 - r1 * r1 AS d1 FROM rr),
        |p AS (
        |  SELECT r1, r2, r3,
        |    CASE WHEN d1 != 0 THEN (r2 - r1 * r1) / d1 END AS p22,
        |    CASE WHEN d1 != 0 THEN r1 * (1.0 - r2) / d1 END AS p21
        |  FROM p0),
        |p2 AS (
        |  SELECT r1, r2, r3, p22, p21,
        |    CASE WHEN 1.0 - p21 * r1 - p22 * r2 != 0 THEN
        |      (r3 - p21 * r2 - p22 * r1)
        |        / (1.0 - p21 * r1 - p22 * r2) END AS p33
        |  FROM p)
        |SELECT CAST(1 AS INT) AS lag, r1 AS acf, round(r1, 6) AS pacf
        |FROM p2
        |UNION ALL
        |SELECT CAST(2 AS INT), r2, round(p22, 6) FROM p2
        |UNION ALL
        |SELECT CAST(3 AS INT), r3, round(p33, 6) FROM p2
        |ORDER BY lag""".stripMargin),

    // 9-row period spine × the day relation; phase-group exact decimal
    // sums; 9dp pre-sum squared terms; one shared F formula
    "q_period_detect" ->
      (s"""WITH $daysCtesSql,
        |mom AS (SELECT count(*) AS nd, sum(y) AS sy FROM days),
        |sst AS (
        |  SELECT sum(CAST(round(
        |    (CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / nd)
        |    * (CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / nd), 9)
        |    AS DECIMAL(28,9))) AS sst
        |  FROM days CROSS JOIN mom),
        |periods AS (
        |  SELECT CAST(unnest(range(2, 11)) AS INT) AS p),
        |grp AS (
        |  SELECT p, (t - 1) % p AS ph, count(*) AS ng, sum(y) AS sg
        |  FROM days CROSS JOIN periods
        |  GROUP BY 1, 2),
        |ssb AS (
        |  SELECT p, sum(CAST(round(ng
        |    * (CAST(sg AS DOUBLE) / ng - CAST(sy AS DOUBLE) / nd)
        |    * (CAST(sg AS DOUBLE) / ng - CAST(sy AS DOUBLE) / nd), 9)
        |    AS DECIMAL(28,9))) AS ssb
        |  FROM grp CROSS JOIN mom
        |  GROUP BY 1),
        |scored AS (
        |  SELECT p,
        |    round(CAST(ssb AS DOUBLE) / CAST(sst AS DOUBLE), 6) AS r2,
        |    CASE WHEN sst - ssb > 0 THEN
        |      round((CAST(ssb AS DOUBLE) / (p - 1))
        |        / ((CAST(sst AS DOUBLE) - CAST(ssb AS DOUBLE))
        |          / (nd - p)), 6) END AS f_stat
        |  FROM ssb CROSS JOIN sst CROSS JOIN mom),
        |top AS (
        |  SELECT min(p) AS pbest FROM scored
        |  WHERE f_stat = (SELECT max(f_stat) FROM scored))
        |SELECT p, r2, f_stat, coalesce(p = pbest, FALSE) AS best
        |FROM scored CROSS JOIN top
        |ORDER BY p""".stripMargin),

    // exact 2dp decimal first differences; true integer rank cut
    // k = (alpha_pct*n + 99) // 100; exact-decimal tail mean
    "q_var_es" ->
      (s"""WITH $daysCtesSql,
        |loss AS (
        |  SELECT d, CAST(prev - y AS DECIMAL(18,2)) AS loss
        |  FROM (SELECT d, y, lag(y) OVER (ORDER BY t) AS prev
        |        FROM days)
        |  WHERE prev IS NOT NULL),
        |nn AS (SELECT count(*) AS n FROM loss),
        |rk AS (
        |  SELECT d, loss, row_number() OVER (ORDER BY loss, d) AS rn
        |  FROM loss),
        |ks AS (
        |  SELECT alpha_pct, n,
        |    CAST((alpha_pct * n + 99) // 100 AS BIGINT) AS k
        |  FROM (VALUES (90), (95), (99)) v(alpha_pct) CROSS JOIN nn),
        |va AS (
        |  SELECT alpha_pct, n, k, CAST(loss AS DOUBLE) AS var_loss
        |  FROM rk JOIN ks ON rk.rn = ks.k),
        |es AS (
        |  SELECT alpha_pct AS ap, count(*) AS n_tail,
        |    round(CAST(sum(loss) AS DOUBLE) / count(*), 6) AS es
        |  FROM rk JOIN ks ON rk.rn >= ks.k
        |  GROUP BY 1)
        |SELECT alpha_pct, n, k, var_loss, n_tail, es
        |FROM va JOIN es ON va.alpha_pct = es.ap
        |ORDER BY alpha_pct""".stripMargin)
  )
}
