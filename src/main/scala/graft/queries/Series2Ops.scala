package graft.queries

import graft.Decimals._
import graft.Tables
import graft.functions.Md5Hash.unitLeftOpen
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Series-diagnostics pack (r14) — the residual/randomness checks a
  * platform runs BEFORE trusting any of the SeriesOps forecasters or
  * alarms on a metric series: the Ljung–Box portmanteau test ("is there
  * autocorrelation left at all"), the Jarque–Bera normality test ("are
  * normal-theory bands even valid"), the Wald–Wolfowitz runs test ("is
  * the sign sequence random"), and lag-1 Granger causality ("does the
  * activity series actually help predict revenue, beyond revenue's own
  * history" — the predictive upgrade of q_crosscorr's descriptive CCF).
  *
  * Determinism discipline (the SeriesOps rules verbatim): the corpus
  * collapses to the 30-row calendar-bounded day relation first, every
  * squared/cross term rounds once to 9dp into exact decimal sums, test
  * statistics are shared double closed forms rounded once at output,
  * and significance thresholds come from the ONE chi2Crit05 /
  * normal-critical literal family both engines share — never a
  * free-standing df-specific constant (the q_cochran_q lesson).
  */
object Series2Ops extends QueryPack {

  private val zCrit = 1.959964 // two-sided 5% normal, the shared literal

  // ---- q_ljung_box ---------------------------------------------------------
  /** Ljung–Box portmanteau test (Ljung & Box '78) on the daily purchase
    * series at lags 1–7: the standard white-noise gate run on a series
    * (or a forecaster's residuals) before any ARIMA-order decision —
    * emits the classic per-lag table: r_k, the cumulative
    * Q_k = n(n+2)·Σ_{j≤k} r_j²/(n−j), df = k, and the 5% χ² verdict per
    * row (critical values from the shared chi2Crit05 table, k-derived).
    * ACF terms follow the q_pacf discipline exactly: deviation products
    * round once to 9dp into exact decimal sums, r rounds once to 6dp,
    * and the Q accumulation runs over the 7-row lag relation (a bounded
    * single-partition window — 7 rows, not data-scale). */
  def qLjungBox(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = SeriesOps.dailySeries(spark, sfDir)
      .localCheckpoint() // moments + both sides of the lag band join
    val mom = days.agg(count(lit(1)).as("nd"), sum($"y").as("sy"))
    val dev = days.crossJoin(broadcast(mom))
      .select($"t", $"nd",
        ($"y".cast("double") - $"sy".cast("double") / $"nd").as("e"))
      .localCheckpoint()
    val den = dev.select(round($"e" * $"e", 9).cast(dec28_9).as("tm"))
      .agg(sum($"tm").as("den"))
    val acf = dev
      .join(dev.select($"t".as("t2"), $"e".as("e2")),
        ($"t" - $"t2").between(1, 7))
      .select(($"t" - $"t2").cast("int").as("lag"), $"nd",
        round($"e" * $"e2", 9).cast(dec28_9).as("tm"))
      .groupBy($"lag", $"nd").agg(sum($"tm").as("num"))
      .crossJoin(broadcast(den))
      .select($"lag", $"nd",
        round($"num".cast("double") / $"den".cast("double"), 6).as("r"))
    val terms = acf.select($"lag", $"nd", $"r",
      round($"r" * $"r" / ($"nd" - $"lag").cast("double"), 9)
        .cast(dec28_9).as("term"))
    // bounded single-partition window: 7 lag rows, never data-scale
    val w7 = Window.orderBy($"lag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val crit = CritValues.column(NonparamOps.chi2Crit05, $"lag")
    terms.withColumn("cum", sum($"term").over(w7))
      .select($"lag", $"r",
        round(($"nd" * ($"nd" + 2)).cast("double")
          * $"cum".cast("double"), 6).as("q_lb"),
        $"lag".cast("long").as("df"))
      .withColumn("significant", $"q_lb" > crit)
      .orderBy($"lag")
  }

  // ---- q_jarque_bera -------------------------------------------------------
  /** Jarque–Bera normality test (Jarque & Bera '80) of the daily
    * purchase series: sample skewness g1 = m3/m2^{3/2}, excess kurtosis
    * g2 = m4/m2² − 3, JB = n/6·(g1² + g2²/4), 5% verdict vs the shared
    * χ²(2) critical value — the "are ±z bands meaningful on this
    * metric" pre-check for every normal-theory monitor in the repo.
    * Central-moment terms (e², e³, e⁴) round once to 9dp into exact
    * DECIMAL(38,9) sums (e⁴ outgrows the house dec28_9); the statistics
    * are shared double closed forms (m2^{3/2} = m2·sqrt(m2), sqrt being
    * IEEE-exact), rounded once at output, and `significant` compares
    * the ROUNDED JB so both engines decide on the same value. */
  def qJarqueBera(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = SeriesOps.dailySeries(spark, sfDir)
    val mom = days.agg(count(lit(1)).as("nd"), sum($"y").as("sy"))
    val e = days.crossJoin(broadcast(mom))
      .select($"nd",
        ($"y".cast("double") - $"sy".cast("double") / $"nd").as("e"))
    val sums = e.groupBy($"nd").agg(
      sum(round($"e" * $"e", 9).cast(dec38_9)).as("s2"),
      sum(round($"e" * $"e" * $"e", 9).cast(dec38_9)).as("s3"),
      sum(round($"e" * $"e" * $"e" * $"e", 9).cast(dec38_9)).as("s4"))
    val nd = $"nd".cast("double")
    val m2 = $"s2".cast("double") / nd
    val m3 = $"s3".cast("double") / nd
    val m4 = $"s4".cast("double") / nd
    val g1 = m3 / (m2 * sqrt(m2))
    val g2 = m4 / (m2 * m2) - 3.0
    sums.select($"nd".as("n"),
        round(g1, 6).as("skewness"),
        round(g2, 6).as("kurt_excess"),
        round(nd / 6.0 * (g1 * g1 + g2 * g2 / 4.0), 6).as("jb"))
      .withColumn("significant",
        $"jb" > NonparamOps.chi2Crit05(2))
  }

  // ---- q_runs_test ---------------------------------------------------------
  /** Wald–Wolfowitz runs test (Wald & Wolfowitz '40) for randomness of
    * the daily series around its median: days equal to the median drop
    * (the standard convention), the run count R comes from one lag
    * window over the calendar-bounded day relation, and
    * z = (R − E[R])/√Var[R] with E[R] = 2n₁n₂/n + 1 and the classic
    * variance — the "is this series even exchangeable" check under
    * every i.i.d.-assuming monitor. The median is the exact middle-two
    * order statistic (day-grain rank window, calendar-bounded); all
    * run/count arithmetic is exact integers; z is one shared closed
    * form with a single sqrt; `significant` = |rounded z| > 1.959964
    * (the shared normal literal). */
  def qRunsTest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = SeriesOps.dailySeries(spark, sfDir)
      .localCheckpoint() // median rank pass + the signed sequence
    val cnt = days.agg(count(lit(1)).as("n0"))
    val med = days
      .withColumn("rn", row_number().over(Window.orderBy($"y", $"d")))
      .crossJoin(broadcast(cnt))
      .filter($"rn" === expr("(n0 + 1) div 2")
        || $"rn" === expr("(n0 + 2) div 2"))
      .agg((sum($"y").cast("double") / count(lit(1))).as("med"))
    val signed = days.crossJoin(broadcast(med))
      .filter($"y".cast("double") =!= $"med")
      .select($"t", ($"y".cast("double") > $"med").as("up"))
    val agg = signed
      .withColumn("prev", lag($"up", 1).over(Window.orderBy($"t")))
      .agg(count(lit(1)).as("n"),
        sum(when($"up", 1L).otherwise(0L)).as("n1"),
        sum(when($"prev".isNull || $"prev" =!= $"up", 1L).otherwise(0L))
          .as("runs"))
      .withColumn("n2", $"n" - $"n1")
    val nD = $"n".cast("double")
    val p = lit(2.0) * $"n1" * $"n2"
    val eR = p / nD + 1.0
    val vR = p * (p - nD) / (nD * nD * (nD - 1.0))
    agg.select($"n", $"n1", $"n2", $"runs",
        round(eR, 6).as("e_runs"),
        round(when(vR > 0, ($"runs" - eR) / sqrt(vR)), 6).as("z"))
      .withColumn("significant", abs($"z") > zCrit)
  }

  // ---- q_granger -----------------------------------------------------------
  /** Lag-1 Granger causality (Granger '69): does yesterday's EVENT
    * VOLUME improve today's revenue forecast beyond yesterday's
    * revenue? Restricted model y_t ~ y_{t−1}; unrestricted adds
    * x_{t−1}; F = (SSR_r − SSR_u)/(SSR_u/(n−3)). This is the
    * PREDICTIVE upgrade of q_crosscorr's descriptive lead–lag r — the
    * read that decides whether the activity series earns a place in
    * the forecaster. Both OLS fits are closed forms over exact moments
    * (y, y_{t−1} exact 2dp decimals; x integer counts; every cross
    * moment an exact decimal/integer sum); residual squares round once
    * to 9dp into DECIMAL(38,9) sums; F is one shared double form.
    * Significance uses the asymptotic χ²(1) 5% value from the shared
    * table (F(1, n−3) → χ²(1) at these df — documented approximation,
    * identical in both engines). Degenerate designs (zero determinant
    * or zero SSR_u) yield NULL instead of engine-divergent infinities. */
  def qGranger(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = SeriesOps.dailySeries(spark, sfDir)
    val vol = Tables.df(spark, sfDir, "events")
      .groupBy(to_date($"ts").as("d"))
      .agg(count(lit(1)).as("x"))
    val wT = Window.orderBy($"t")
    val lagged = days.join(vol, "d")
      .withColumn("yl", lag($"y", 1).over(wT))
      .withColumn("xl", lag($"x", 1).over(wT))
      .filter($"yl".isNotNull)
      .select($"y", $"yl", $"xl")
      .localCheckpoint() // moment pass + two residual passes
    val s = lagged.agg(count(lit(1)).as("n"),
      sum($"yl").as("sa"), sum($"xl").as("sb"), sum($"y").as("st"),
      sum($"yl" * $"yl").as("saa"),
      sum(($"xl" * $"xl").cast("long")).as("sbb"),
      sum($"yl" * $"xl").as("sab"),
      sum($"y" * $"yl").as("sat"), sum($"y" * $"xl").as("sbt"))
    val nD = $"n".cast("double")
    def c(raw: Column, a: Column, b: Column): Column =
      raw.cast("double") - a.cast("double") * b.cast("double") / nD
    val cxx = c($"saa", $"sa", $"sa"); val cyy = c($"sbb", $"sb", $"sb")
    val cxy = c($"sab", $"sa", $"sb")
    val cxt = c($"sat", $"sa", $"st"); val cyt = c($"sbt", $"sb", $"st")
    val det = cxx * cyy - cxy * cxy
    val w = s.select($"n",
      when(cxx =!= 0.0, cxt / cxx).as("br"),
      when(det =!= 0.0, (cxt * cyy - cxy * cyt) / det).as("bu"),
      when(det =!= 0.0, (cxx * cyt - cxy * cxt) / det).as("cu"),
      ($"sa".cast("double") / nD).as("ma"),
      ($"sb".cast("double") / nD).as("mb"),
      ($"st".cast("double") / nD).as("mt"))
    val scored = lagged.crossJoin(broadcast(w))
      .select($"n", $"br", $"bu", $"cu",
        ($"y".cast("double") - ($"mt" + $"br" * ($"yl".cast("double")
          - $"ma"))).as("er"),
        ($"y".cast("double") - ($"mt" + $"bu" * ($"yl".cast("double")
          - $"ma") + $"cu" * ($"xl".cast("double") - $"mb"))).as("eu"))
    val ssr = scored.groupBy($"n", $"br", $"bu", $"cu").agg(
      sum(round($"er" * $"er", 9).cast(dec38_9)).as("ssr_r"),
      sum(round($"eu" * $"eu", 9).cast(dec38_9)).as("ssr_u"))
    val f = when($"ssr_u".cast("double") > 0,
      ($"ssr_r".cast("double") - $"ssr_u".cast("double"))
        / ($"ssr_u".cast("double") / ($"n" - 3).cast("double")))
    ssr.select($"n",
        round($"br", 6).as("ar_coef"),
        round($"cu", 6).as("granger_coef"),
        round($"ssr_r".cast("double"), 4).as("ssr_r"),
        round($"ssr_u".cast("double"), 4).as("ssr_u"),
        round(f, 6).as("f_stat"))
      .withColumn("significant",
        $"f_stat" > NonparamOps.chi2Crit05(1))
  }

  // ---- q_tail_dep ----------------------------------------------------------
  /** Empirical upper-tail dependence between daily event volume and
    * daily purchase revenue (the copula read behind q_crosscorr's
    * Pearson: do the two series spike TOGETHER?): at each tail level
    * k ∈ {n/5, n/10} (top 20% / 10% by rank), λ̂_U = #(rank_x ≤ k ∧
    * rank_y ≤ k) / k, beside the independence expectation k/n. λ̂ ≫ k/n
    * means joint extremes — the load-planning case where q_gumbel_fit's
    * marginal return levels understate joint risk. All exact integers
    * + one division; the two rank windows run on the calendar-bounded
    * day relation (the q_survival argument), ties broken by date. */
  def qTailDep(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = SeriesOps.dailySeries(spark, sfDir)
    val vol = Tables.df(spark, sfDir, "events")
      .groupBy(to_date($"ts").as("d"))
      .agg(count(lit(1)).as("x"))
    val joined = days.join(vol, "d")
      .withColumn("rx", row_number().over(
        Window.orderBy($"x".desc, $"d")))
      .withColumn("ry", row_number().over(
        Window.orderBy($"y".desc, $"d")))
      .localCheckpoint() // the two k-level scans
    val n = joined.agg(count(lit(1)).as("n"))
    val ks = Seq(5, 10).toDF("frac_inv")
      .crossJoin(broadcast(n))
      .select($"frac_inv", $"n", expr("n div frac_inv").as("k"))
    joined.crossJoin(broadcast(ks))
      .groupBy($"frac_inv", $"n", $"k")
      .agg(sum(when($"rx" <= $"k" && $"ry" <= $"k", 1L).otherwise(0L))
        .as("n_joint"))
      .select(
        concat(lit("top_"), (lit(100) / $"frac_inv").cast("int"),
          lit("pct")).as("level"),
        $"n", $"k", $"n_joint",
        round($"n_joint".cast("double") / $"k", 6).as("lambda_u"),
        round($"k".cast("double") / $"n", 6).as("independence"))
      .orderBy($"level")
  }

  // ---- q_block_bootstrap ---------------------------------------------------
  /** Moving-block bootstrap CI for the daily-revenue mean (Künsch '89):
    * 16 replicates, each rebuilt from length-5 blocks whose starts are
    * md5-keyed uniforms — the bootstrap that stays VALID under the
    * autocorrelation q_ljung_box just measured (q_bootstrap_ci's iid
    * Poisson weights assume exchangeability a dependent series does not
    * have; blocks preserve the short-range dependence inside each
    * block). Replicate means are exact decimal sums; the 90% CI is the
    * quantile_cont interpolation over the 16-row replicate relation
    * (bounded window); block starts replay bit-for-bit in the spec.
    * Scale: the spine is days × 16 — the replicate axis is a
    * projection, never a data copy. */
  def qBlockBootstrap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = SeriesOps.dailySeries(spark, sfDir)
      .localCheckpoint() // moment pass + spine join
    val n = days.agg(count(lit(1)).as("n"), sum($"y").as("sy"))
    val ci = rankCi16(blockReplicates(spark, days, n))
    n.crossJoin(broadcast(ci))
      .select($"n".as("n_days"), lit(5L).as("l_block"),
        lit(16L).as("n_reps"),
        round($"sy".cast("double") / $"n", 6).as("est"),
        round($"lo", 6).as("ci_lo"), round($"hi", 6).as("ci_hi"))
  }

  /** The 0.05/0.95 quantile_cont interpolation over a 16-row (b, m)
    * replicate relation — the bounded 16-row rank window shared by
    * [[qBlockBootstrap]] and [[Stats2Ops.qBootCompare]] (one CI rule,
    * so the two bootstrap arms stay comparable by construction).
    *
    * The interpolation runs in exact integer MICRO-UNITS: the m's are
    * 6dp values, so lo = (m₁+3m₂)/4 and hi = (3m₁₅+m₁₆)/4 can land
    * exactly on a 6dp half boundary where the engines' round() tie
    * rules diverge (caught by the strict gate at sf0.1 — the
    * q_spc_xbar lesson); half-up integer division (a+2) div 4 is
    * tie-proof and identical to the float path everywhere else.
    * Positive-mean domain (revenue), so the floor-division form is the
    * half-up round. Emitted lo/hi are already 6dp-exact. */
  private[graft] def rankCi16(reps: DataFrame): DataFrame = {
    import reps.sparkSession.implicits._
    val ranked = reps
      .withColumn("mi", round($"m" * 1e6, 0).cast("long"))
      .withColumn("r", row_number().over(Window.orderBy($"m", $"b")))
    ranked.agg(
      (expr("""(max(CASE WHEN r = 1 THEN mi END)
          + 3 * max(CASE WHEN r = 2 THEN mi END) + 2) div 4""")
        .cast("double") / 1e6).as("lo"),
      (expr("""(3 * max(CASE WHEN r = 15 THEN mi END)
          + max(CASE WHEN r = 16 THEN mi END) + 2) div 4""")
        .cast("double") / 1e6).as("hi"))
  }

  /** The (b, m) replicate-mean relation q_block_bootstrap ranks —
    * package-private so the spec can pin the md5 block-start replay
    * bit-for-bit against the replicate means the query ACTUALLY uses
    * (ADVICE r14: the replay previously only range-checked). `days` is
    * the [[SeriesOps.dailySeries]] relation, `n` its (n, sy) moment. */
  private[graft] def blockReplicates(spark: SparkSession,
      days: DataFrame, n: DataFrame): DataFrame = {
    import spark.implicits._
    val L = 5
    val spine = days.select($"t".as("pos"))
      .crossJoin(broadcast(n))
      .select($"pos", $"n", explode(expr("sequence(1, 16)")).as("b"))
      .withColumn("k", expr(s"(pos - 1) div $L"))
      .withColumn("u", unitLeftOpen(lit("blk:"), $"b".cast("string"),
        lit(":"), $"k".cast("string")))
      .withColumn("s",
        least(floor($"u" * ($"n" - lit(L) + 1)).cast("long"),
          $"n" - lit(L)) + 1)
      .withColumn("tp", $"s" + ($"pos" - 1) % lit(L))
    spine.join(days.select($"t".as("tp"), $"y"), "tp")
      .groupBy($"b")
      .agg(count(lit(1)).as("cnt"), sum($"y").as("syb"))
      .select($"b", round($"syb".cast("double") / $"cnt", 6).as("m"))
  }

  // ---- q_theta_forecast ------------------------------------------------
  /** Theta-method forecast (Assimakopoulos & Nikolopoulos IJF '00 — the
    * M3-competition winner, Hyndman & Billah's '03 equivalence form):
    * the 7-day-ahead combination of (a) the OLS trend line extrapolated
    * and (b) SES(α = 0.5) over the θ = 2 line z_t = 2y_t − trend_t,
    * averaged half-and-half — the production baseline that beats naive
    * AND plain SES on trending series while staying a CLOSED FORM: the
    * trend is the q_trend exact-moment OLS, the SES level is the q_ses
    * weight unroll (w_j = α(1−α)^{n−j}, j = 1 gets the remainder) over
    * the z line, each weighted term once-rounded to 9dp into exact
    * decimal sums. Emits per horizon h = 1..7 the trend component, the
    * (flat) SES component, and the combined forecast — the row a
    * q_forecast_eval-style gate would score next month. Scale: one
    * corpus pass to the calendar-bounded day relation; the unroll is a
    * days×1 projection; the horizon spine is 7 broadcast rows. */
  def qThetaForecast(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val alpha = 0.5
    val days = SeriesOps.dailySeries(spark, sfDir)
      .localCheckpoint() // trend moments + the SES unroll
    // exact-moment OLS of y on t (integer t-moments, decimal y-moments)
    val mom = days.agg(count(lit(1)).as("n"),
      sum($"t".cast("long")).as("st"),
      sum(($"t" * $"t").cast("long")).as("stt"),
      sum($"y").as("sy"),
      sum($"y" * $"t").as("syt"))
    val fit = mom.select($"n",
        (($"n" * $"syt".cast("double") - $"st" * $"sy".cast("double"))
          / ($"n" * $"stt".cast("double")
            - $"st".cast("double") * $"st")).as("b"),
        $"sy".cast("double").as("syd"), $"st".cast("double").as("std"))
      .select($"n", $"b",
        (($"syd" - $"b" * $"std") / $"n").as("a"))
      .localCheckpoint() // z line + level + horizon spine
    // SES(0.5) level at n over the theta2 line z_t = 2y_t - (a + b t)
    val lvl = days.crossJoin(broadcast(fit))
      .select($"t", $"n",
        (lit(2.0) * $"y".cast("double")
          - ($"a" + $"b" * $"t")).as("z"))
      .select(round(
        when($"t" === 1, pow(lit(1.0 - alpha), $"n" - 1))
          .otherwise(lit(alpha) * pow(lit(1.0 - alpha), $"n" - $"t"))
          * $"z", 9).cast(dec28_9).as("term"))
      .agg(sum($"term").cast("double").as("ses_level"))
    fit.crossJoin(broadcast(lvl))
      .select($"n", $"a", $"b", $"ses_level",
        explode(expr("sequence(1, 7)")).as("h"))
      .select($"h",
        round($"a" + $"b" * ($"n" + $"h"), 6).as("trend_fc"),
        round($"ses_level", 6).as("ses_fc"),
        round(lit(0.5) * (($"a" + $"b" * ($"n" + $"h"))
          + $"ses_level"), 6).as("theta_fc"))
      .orderBy($"h")
  }

  // ---- q_seasonal_mk -----------------------------------------------------
  /** Seasonal Mann–Kendall trend test (Hirsch & Slack, WRR '84) — the
    * q_mann_kendall upgrade for a series with the weekly pattern
    * q_autocorr/q_seasonality measure: concordant/discordant pairs are
    * counted ONLY within each day-of-week stratum, so the weekly cycle
    * cannot masquerade as (or mask) a monotone trend. Per stratum the
    * exact-integer S_g and the tie-corrected variance; the combined
    * test sums both (the independence form — day-of-week strata of one
    * metric are near-independent at lag 7) and applies the MK
    * continuity correction. dow via the engine-identical epoch-day
    * arithmetic (the q_stl_lite trick); per-stratum variances round
    * once to 9dp into the exact decimal total. Scale: pair joins are
    * within-stratum on the calendar-bounded day relation — ≤ 7·(n/7)²
    * pairs; everything else is 7-row arithmetic. */
  def qSeasonalMk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val per = seasonalMkPer(spark, sfDir)
      .localCheckpoint() // 7-row; output + the combined aggregate
    val tot = per.agg(sum($"s_g").as("s_tot"),
      sum(round($"var_g", 9).cast(dec28_9)).as("var_tot"))
    val vT = $"var_tot".cast("double")
    val z = when($"s_tot" > 0L, ($"s_tot" - 1L).cast("double") / sqrt(vT))
      .when($"s_tot" < 0L, ($"s_tot" + 1L).cast("double") / sqrt(vT))
      .otherwise(0.0)
    per.crossJoin(broadcast(tot))
      .select($"dow", $"n_g", $"s_g", round($"var_g", 6).as("var_g"),
        $"s_tot", round(z, 6).as("z"))
      .withColumn("trend",
        when($"z" > zCrit, "increasing")
          .when($"z" < -zCrit, "decreasing")
          .otherwise("no_trend"))
      .orderBy($"dow")
  }

  /** The per-stratum (dow, n_g, s_g, var_g) relation behind
    * [[qSeasonalMk]] — graft-visible PRE-checkpoint so the plan audit
    * can pin the dow equi-join shape of the pair stage. */
  private[graft] def seasonalMkPer(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val days = SeriesOps.dailySeries(spark, sfDir)
      .withColumn("dow",
        datediff($"d", lit("1970-01-05").cast("date")) % 7)
      .localCheckpoint() // pair join both sides + tie pass
    val s = days.select($"dow", $"t".as("i"), $"y".as("yi"))
      .join(days.select($"dow".as("dw2"), $"t".as("j"), $"y".as("yj")),
        $"dow" === $"dw2" && $"i" < $"j")
      .groupBy($"dow")
      .agg(sum(signum(($"yj" - $"yi").cast("double")).cast("long"))
        .as("s_g"))
    val ties = days.groupBy($"dow", $"y").agg(count(lit(1)).as("tg"))
      .groupBy($"dow")
      .agg(sum($"tg").as("n_g"),
        sum($"tg" * ($"tg" - 1L) * (lit(2L) * $"tg" + 5L))
          .as("tie_term"))
    s.join(ties, "dow")
      .withColumn("var_g",
        (($"n_g" * ($"n_g" - 1L) * (lit(2L) * $"n_g" + 5L)
          - $"tie_term").cast("double") / 18.0))
      .select($"dow", $"n_g", $"s_g", $"var_g")
  }

  // ---- q_croston -----------------------------------------------------------
  /** Croston's method ('72) + the Syntetos–Boylan approximation for
    * INTERMITTENT demand — per md5-free deterministic supplier subset
    * (s % 20 = 0), the exponentially-weighted mean demand SIZE over the
    * last ≤ 8 demand days and the EW mean INTERVAL between them, whose
    * ratio is the demand rate the smooth-series forecasters (q_ses/
    * q_holt) systematically overshoot on sparse series; SBA multiplies
    * by (1 − α/2) to undo Croston's known bias. α = 0.2 makes every
    * weight α(1−α)^j EXACTLY representable at 12dp (powers of 4/5 and
    * 1/5 terminate in decimal), so the whole fit is exact decimal
    * weighted sums — no libm anywhere; the truncation at 8 terms drops
    * ≤ (0.8)⁸ ≈ 17% of the weight mass and renormalizes by the ACTUAL
    * weight sum, so short series are exact, not approximated. Scale:
    * lineitem collapses to (supplier, demand-day) immediately; the
    * rank-8 window runs per supplier on that sparse relation. */
  def qCroston(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // alpha(1-alpha)^j for j = 0..7 — exact decimal literals
    val w = (0 to 7).map(j =>
      (j, (BigDecimal("0.2") * BigDecimal("0.8").pow(j)).toString))
      .toDF("j", "w_s")
      .select($"j", $"w_s".cast(dec16_12).as("w"))
    val dem = Tables.df(spark, sfDir, "lineitem")
      .filter($"l_suppkey" % 20 === 0)
      .select($"l_suppkey".as("supp"), to_date($"l_shipdate").as("day"),
        round($"l_quantity", 2).cast(dec18_2).as("q"))
      .groupBy($"supp", $"day")
      // recast after the sum: (16,12) weights × an unbounded-precision
      // sum would overflow decimal precision 38 and silently lose scale
      .agg(sum($"q").cast(dec18_2).as("z"))
    val seq0 = dem
      .withColumn("gap", datediff($"day",
        lag($"day", 1).over(Window.partitionBy($"supp").orderBy($"day"))))
      .withColumn("j", row_number().over(
        Window.partitionBy($"supp").orderBy($"day".desc)) - 1)
      .filter($"j" <= 7)
    val zfit = seq0.join(broadcast(w), "j")
      .groupBy($"supp")
      .agg(count(lit(1)).as("n_used"), sum($"w").as("ws"),
        sum($"w" * $"z").as("wz"),
        sum(when($"gap".isNotNull, $"w")).as("wsg"),
        sum($"w" * $"gap").as("wg"))
    val stats = dem.groupBy($"supp")
      .agg(count(lit(1)).as("n_demand_days"))
    stats.join(zfit, "supp")
      .select($"supp".as("suppkey"), $"n_demand_days", $"n_used",
        round($"wz".cast("double") / $"ws".cast("double"), 9).as("z_hat"),
        when($"wsg".isNotNull, round($"wg".cast("double")
          / $"wsg".cast("double"), 9)).as("p_hat"))
      .select($"suppkey", $"n_demand_days", $"n_used",
        round($"z_hat", 6).as("z_hat"), round($"p_hat", 6).as("p_hat"),
        when($"p_hat" > 0,
          round($"z_hat" / $"p_hat", 6)).as("croston_rate"),
        when($"p_hat" > 0,
          round(lit(0.9) * $"z_hat" / $"p_hat", 6)).as("sba_rate"))
      .orderBy($"suppkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_theta_forecast" -> qThetaForecast,
    "q_seasonal_mk" -> qSeasonalMk,
    "q_block_bootstrap" -> qBlockBootstrap,
    "q_tail_dep" -> qTailDep,
    "q_ljung_box" -> qLjungBox,
    "q_jarque_bera" -> qJarqueBera,
    "q_runs_test" -> qRunsTest,
    "q_granger" -> qGranger,
    "q_croston" -> qCroston
  )

  /** The q_block_bootstrap oracle chain from `days`+`nn` through the
    * (b, m) replicate relation `breps` — one SQL home for the block
    * machinery, shared with the Stats2Ops q_boot_compare oracle (the
    * q_km_ci factor-don't-splice lesson). Declared BEFORE the oracle
    * map (a later val is still null during object init). */
  private[queries] val blockRepsCtesSql: String =
    """spine AS (
      |  SELECT t AS pos, n, CAST(unnest(range(1, 17)) AS INT) AS b
      |  FROM days CROSS JOIN nn),
      |st AS (
      |  SELECT pos, n, b, (pos - 1) // 5 AS k,
      |    (('0x' || substr(md5('blk:' || CAST(b AS VARCHAR) || ':'
      |        || CAST((pos - 1) // 5 AS VARCHAR)), 1, 15))::BIGINT
      |      + 1) / CAST(1152921504606846976 AS DOUBLE) AS u
      |  FROM spine),
      |tp AS (
      |  SELECT b,
      |    least(CAST(floor(u * (n - 5 + 1)) AS BIGINT), n - 5) + 1
      |      + (pos - 1) % 5 AS tp
      |  FROM st),
      |breps AS (
      |  SELECT tp.b,
      |    round(CAST(sum(days.y) AS DOUBLE) / count(*), 6) AS m
      |  FROM tp JOIN days ON days.t = tp.tp
      |  GROUP BY tp.b)""".stripMargin

  /** Rank + 0.05/0.95 interpolation CTEs over a (b, m) relation —
    * the SQL twin of [[rankCi16]] (same integer micro-unit half-up
    * interpolation); `p` prefixes the CTE names so two arms can
    * coexist in one oracle. */
  private[queries] def rankCi16Sql(reps: String, p: String): String =
    s"""${p}ranked AS (
       |  SELECT CAST(round(m * 1e6, 0) AS BIGINT) AS mi,
       |    row_number() OVER (ORDER BY m, b) AS r FROM $reps),
       |${p}ci AS (
       |  SELECT
       |    CAST((max(CASE WHEN r = 1 THEN mi END)
       |      + 3 * max(CASE WHEN r = 2 THEN mi END) + 2) // 4
       |      AS DOUBLE) / 1e6 AS lo,
       |    CAST((3 * max(CASE WHEN r = 15 THEN mi END)
       |      + max(CASE WHEN r = 16 THEN mi END) + 2) // 4
       |      AS DOUBLE) / 1e6 AS hi
       |  FROM ${p}ranked)""".stripMargin

  val oracle: Map[String, String] = Map(
    // same exact 12dp alpha(1-alpha)^j weight literals, same rank-8
    // windows over the sparse demand relation, same renormalized
    // decimal weighted sums and once-rounded ratios
    "q_croston" ->
      """WITH w AS (
        |  SELECT * FROM (VALUES
        |    (0, CAST(0.2 AS DECIMAL(16,12))),
        |    (1, CAST(0.16 AS DECIMAL(16,12))),
        |    (2, CAST(0.128 AS DECIMAL(16,12))),
        |    (3, CAST(0.1024 AS DECIMAL(16,12))),
        |    (4, CAST(0.08192 AS DECIMAL(16,12))),
        |    (5, CAST(0.065536 AS DECIMAL(16,12))),
        |    (6, CAST(0.0524288 AS DECIMAL(16,12))),
        |    (7, CAST(0.04194304 AS DECIMAL(16,12)))) AS t(j, w)),
        |dem AS (
        |  SELECT l_suppkey AS supp, CAST(l_shipdate AS DATE) AS day,
        |    CAST(sum(CAST(round(l_quantity, 2) AS DECIMAL(18,2)))
        |      AS DECIMAL(18,2)) AS z
        |  FROM lineitem WHERE l_suppkey % 20 = 0 GROUP BY 1, 2),
        |seq0 AS (
        |  SELECT supp, day, z,
        |    day - lag(day) OVER (PARTITION BY supp ORDER BY day) AS gap,
        |    row_number() OVER (PARTITION BY supp ORDER BY day DESC) - 1
        |      AS j
        |  FROM dem QUALIFY j <= 7),
        |zfit AS (
        |  SELECT supp, count(*) AS n_used, sum(w.w) AS ws,
        |    sum(w.w * s.z) AS wz,
        |    sum(CASE WHEN s.gap IS NOT NULL THEN w.w END) AS wsg,
        |    sum(w.w * s.gap) AS wg
        |  FROM seq0 s JOIN w ON w.j = s.j GROUP BY 1),
        |stats AS (
        |  SELECT supp, count(*) AS n_demand_days FROM dem GROUP BY 1),
        |fit AS (
        |  SELECT st.supp AS suppkey, st.n_demand_days, z.n_used,
        |    round(CAST(z.wz AS DOUBLE) / CAST(z.ws AS DOUBLE), 9)
        |      AS z_hat,
        |    CASE WHEN z.wsg IS NOT NULL
        |      THEN round(CAST(z.wg AS DOUBLE) / CAST(z.wsg AS DOUBLE), 9)
        |      END AS p_hat
        |  FROM stats st JOIN zfit z ON z.supp = st.supp)
        |SELECT suppkey, n_demand_days, n_used,
        |  round(z_hat, 6) AS z_hat, round(p_hat, 6) AS p_hat,
        |  CASE WHEN p_hat > 0
        |    THEN round(z_hat / p_hat, 6) END AS croston_rate,
        |  CASE WHEN p_hat > 0
        |    THEN round(0.9 * z_hat / p_hat, 6) END AS sba_rate
        |FROM fit ORDER BY suppkey""".stripMargin,

    // same exact-moment OLS, same 9dp SES weight unroll over the
    // theta2 line, same half-and-half combination
    "q_theta_forecast" ->
      (s"""WITH ${SeriesOps.daysCtesSql},
        |mom AS (
        |  SELECT count(*) AS n, CAST(sum(t) AS BIGINT) AS st,
        |    CAST(sum(t * t) AS BIGINT) AS stt,
        |    sum(y) AS sy, sum(y * t) AS syt
        |  FROM days),
        |fit AS (
        |  SELECT n,
        |    (n * CAST(syt AS DOUBLE) - st * CAST(sy AS DOUBLE))
        |      / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st)
        |      AS b,
        |    CAST(sy AS DOUBLE) AS syd, CAST(st AS DOUBLE) AS std
        |  FROM mom),
        |fit2 AS (SELECT n, b, (syd - b * std) / n AS a FROM fit),
        |lvl AS (
        |  SELECT CAST(sum(CAST(round(
        |    (CASE WHEN t = 1 THEN pow(0.5, n - 1)
        |     ELSE 0.5 * pow(0.5, n - t) END)
        |    * (2.0 * CAST(y AS DOUBLE) - (a + b * t)), 9)
        |    AS DECIMAL(28,9))) AS DOUBLE) AS ses_level
        |  FROM days CROSS JOIN fit2),
        |hs AS (SELECT CAST(unnest(range(1, 8)) AS INT) AS h)
        |SELECT h,
        |  round(a + b * (n + h), 6) AS trend_fc,
        |  round(ses_level, 6) AS ses_fc,
        |  round(0.5 * ((a + b * (n + h)) + ses_level), 6) AS theta_fc
        |FROM fit2 CROSS JOIN lvl CROSS JOIN hs
        |ORDER BY h""".stripMargin),

    // same within-stratum pair counting on the epoch-day dow, same
    // tie-corrected variances 9dp-summed, same continuity-corrected z
    "q_seasonal_mk" ->
      (s"""WITH ${SeriesOps.daysCtesSql},
        |dws AS (
        |  SELECT d, y, t,
        |    CAST(date_diff('day', DATE '1970-01-05', d) % 7 AS INT)
        |      AS dow
        |  FROM days),
        |sg AS (
        |  SELECT a.dow,
        |    CAST(sum(CASE WHEN b.y > a.y THEN 1
        |      WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_g
        |  FROM dws a JOIN dws b ON b.dow = a.dow AND a.t < b.t
        |  GROUP BY a.dow),
        |tg AS (SELECT dow, y, count(*) AS tg FROM dws GROUP BY dow, y),
        |ties AS (
        |  SELECT dow, CAST(sum(tg) AS BIGINT) AS n_g,
        |    CAST(sum(tg * (tg - 1) * (2 * tg + 5)) AS BIGINT)
        |      AS tie_term
        |  FROM tg GROUP BY dow),
        |per AS (
        |  SELECT sg.dow, n_g, s_g,
        |    CAST(n_g * (n_g - 1) * (2 * n_g + 5) - tie_term AS DOUBLE)
        |      / 18.0 AS var_g
        |  FROM sg JOIN ties ON ties.dow = sg.dow),
        |tot AS (
        |  SELECT CAST(sum(s_g) AS BIGINT) AS s_tot,
        |    CAST(sum(CAST(round(var_g, 9) AS DECIMAL(28,9)))
        |      AS DOUBLE) AS var_tot
        |  FROM per),
        |fz AS (
        |  SELECT s_tot,
        |    CASE WHEN s_tot > 0 THEN (s_tot - 1) / sqrt(var_tot)
        |      WHEN s_tot < 0 THEN (s_tot + 1) / sqrt(var_tot)
        |      ELSE 0.0 END AS z
        |  FROM tot)
        |SELECT per.dow, per.n_g, per.s_g, round(per.var_g, 6) AS var_g,
        |  fz.s_tot, round(fz.z, 6) AS z,
        |  CASE WHEN round(fz.z, 6) > 1.959964 THEN 'increasing'
        |    WHEN round(fz.z, 6) < -1.959964 THEN 'decreasing'
        |    ELSE 'no_trend' END AS trend
        |FROM per CROSS JOIN fz
        |ORDER BY dow""".stripMargin),

    // the shared block chain + the shared integer micro-unit CI rule
    // (concatenation-assembled — the double-stripMargin lesson)
    "q_block_bootstrap" ->
      (s"WITH ${SeriesOps.daysCtesSql},\n" +
       "nn AS (SELECT count(*) AS n, sum(y) AS sy FROM days),\n" +
       blockRepsCtesSql + ",\n" +
       rankCi16Sql("breps", "b") + "\n" +
      """SELECT CAST(n AS BIGINT) AS n_days,
        |  CAST(5 AS BIGINT) AS l_block,
        |  CAST(16 AS BIGINT) AS n_reps,
        |  round(CAST(sy AS DOUBLE) / n, 6) AS est,
        |  round(lo, 6) AS ci_lo, round(hi, 6) AS ci_hi
        |FROM nn CROSS JOIN bci""".stripMargin),

    // same day-grain ranks with date tie-breaks, same integer joint
    // counts, same single division per level
    "q_tail_dep" ->
      (s"""WITH ${SeriesOps.daysCtesSql},
        |vol AS (
        |  SELECT CAST(ts AS DATE) AS d, count(*) AS x
        |  FROM events GROUP BY 1),
        |jnd AS (
        |  SELECT days.d, days.y, vol.x,
        |    row_number() OVER (ORDER BY vol.x DESC, days.d) AS rx,
        |    row_number() OVER (ORDER BY days.y DESC, days.d) AS ry
        |  FROM days JOIN vol ON vol.d = days.d),
        |nn AS (SELECT count(*) AS n FROM jnd),
        |ks AS (
        |  SELECT frac_inv, n, n // frac_inv AS k
        |  FROM (VALUES (5), (10)) v(frac_inv) CROSS JOIN nn),
        |cnt AS (
        |  SELECT frac_inv, n, k,
        |    CAST(sum(CASE WHEN rx <= k AND ry <= k THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_joint
        |  FROM jnd CROSS JOIN ks
        |  GROUP BY frac_inv, n, k)
        |SELECT 'top_' || CAST(CAST(100 / frac_inv AS INT) AS VARCHAR)
        |    || 'pct' AS level,
        |  CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k, n_joint,
        |  round(CAST(n_joint AS DOUBLE) / k, 6) AS lambda_u,
        |  round(CAST(k AS DOUBLE) / n, 6) AS independence
        |FROM cnt ORDER BY level""".stripMargin),

    // same q_pacf ACF chain extended to lag 7; cumulative Q over the
    // 7-row lag relation; critical values from the shared chi2 table
    "q_ljung_box" ->
      (s"""WITH ${SeriesOps.daysCtesSql},
        |mom AS (SELECT count(*) AS nd, sum(y) AS sy FROM days),
        |dev AS (
        |  SELECT t, CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / nd AS e
        |  FROM days CROSS JOIN mom),
        |den AS (
        |  SELECT sum(CAST(round(e * e, 9) AS DECIMAL(28,9))) AS den
        |  FROM dev),
        |acf AS (
        |  SELECT CAST(a.t - b.t AS INT) AS lag, max(mom.nd) AS nd,
        |    round(CAST(sum(CAST(round(a.e * b.e, 9) AS DECIMAL(28,9)))
        |      AS DOUBLE) / CAST(max(den.den) AS DOUBLE), 6) AS r
        |  FROM dev a JOIN dev b ON a.t - b.t BETWEEN 1 AND 7
        |  CROSS JOIN den CROSS JOIN mom
        |  GROUP BY 1),
        |terms AS (
        |  SELECT lag, nd, r,
        |    CAST(round(r * r / CAST(nd - lag AS DOUBLE), 9)
        |      AS DECIMAL(28,9)) AS term
        |  FROM acf),
        |cums AS (
        |  SELECT lag, nd, r, sum(term) OVER (ORDER BY lag
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM terms),
        |ql AS (
        |  SELECT lag, r,
        |    round(CAST(nd * (nd + 2) AS DOUBLE) * CAST(cum AS DOUBLE), 6)
        |      AS q_lb,
        |    CAST(lag AS BIGINT) AS df
        |  FROM cums)
        |SELECT lag, r, q_lb, df,
        |  q_lb > ${CritValues.sql(NonparamOps.chi2Crit05, "lag")} AS significant
        |FROM ql ORDER BY lag""".stripMargin),

    // same 9dp central-moment terms into DECIMAL(38,9); shared closed
    // forms; the verdict compares the ROUNDED jb
    "q_jarque_bera" ->
      (s"""WITH ${SeriesOps.daysCtesSql},
        |mom AS (SELECT count(*) AS nd, sum(y) AS sy FROM days),
        |e AS (
        |  SELECT nd, CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / nd AS e
        |  FROM days CROSS JOIN mom),
        |sums AS (
        |  SELECT nd,
        |    sum(CAST(round(e * e, 9) AS DECIMAL(38,9))) AS s2,
        |    sum(CAST(round(e * e * e, 9) AS DECIMAL(38,9))) AS s3,
        |    sum(CAST(round(e * e * e * e, 9) AS DECIMAL(38,9))) AS s4
        |  FROM e GROUP BY nd),
        |st AS (
        |  SELECT CAST(nd AS BIGINT) AS n,
        |    round((CAST(s3 AS DOUBLE) / nd) / ((CAST(s2 AS DOUBLE) / nd)
        |      * sqrt(CAST(s2 AS DOUBLE) / nd)), 6) AS skewness,
        |    round((CAST(s4 AS DOUBLE) / nd) / ((CAST(s2 AS DOUBLE) / nd)
        |      * (CAST(s2 AS DOUBLE) / nd)) - 3.0, 6) AS kurt_excess,
        |    round(CAST(nd AS DOUBLE) / 6.0
        |      * (((CAST(s3 AS DOUBLE) / nd) / ((CAST(s2 AS DOUBLE) / nd)
        |          * sqrt(CAST(s2 AS DOUBLE) / nd)))
        |        * ((CAST(s3 AS DOUBLE) / nd) / ((CAST(s2 AS DOUBLE) / nd)
        |          * sqrt(CAST(s2 AS DOUBLE) / nd)))
        |        + ((CAST(s4 AS DOUBLE) / nd) / ((CAST(s2 AS DOUBLE) / nd)
        |            * (CAST(s2 AS DOUBLE) / nd)) - 3.0)
        |          * ((CAST(s4 AS DOUBLE) / nd) / ((CAST(s2 AS DOUBLE) / nd)
        |            * (CAST(s2 AS DOUBLE) / nd)) - 3.0) / 4.0), 6) AS jb
        |  FROM sums)
        |SELECT n, skewness, kurt_excess, jb,
        |  jb > ${NonparamOps.chi2Crit05(2)} AS significant
        |FROM st""".stripMargin),

    // exact middle-two median; one lag window over the day relation;
    // exact-integer run accounting; one shared z form
    "q_runs_test" ->
      (s"""WITH ${SeriesOps.daysCtesSql},
        |cnt AS (SELECT count(*) AS n0 FROM days),
        |med AS (
        |  SELECT CAST(sum(y) AS DOUBLE) / count(*) AS med FROM (
        |    SELECT y, row_number() OVER (ORDER BY y, d) AS rn
        |    FROM days) CROSS JOIN cnt
        |  WHERE rn = (n0 + 1) // 2 OR rn = (n0 + 2) // 2),
        |signed AS (
        |  SELECT t, CAST(y AS DOUBLE) > med AS up
        |  FROM days CROSS JOIN med
        |  WHERE CAST(y AS DOUBLE) != med),
        |agg AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN prev IS NULL OR prev != up THEN 1 ELSE 0
        |      END) AS BIGINT) AS runs
        |  FROM (SELECT up, lag(up) OVER (ORDER BY t) AS prev
        |        FROM signed)),
        |f AS (SELECT n, n1, n - n1 AS n2, runs FROM agg)
        |SELECT n, n1, n2, runs,
        |  round(2.0 * n1 * n2 / CAST(n AS DOUBLE) + 1.0, 6) AS e_runs,
        |  round(CASE WHEN 2.0 * n1 * n2 * (2.0 * n1 * n2
        |      - CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        * (CAST(n AS DOUBLE) - 1.0)) > 0 THEN
        |    (runs - (2.0 * n1 * n2 / CAST(n AS DOUBLE) + 1.0))
        |      / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - CAST(n AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |          * (CAST(n AS DOUBLE) - 1.0))) END, 6) AS z,
        |  abs(round(CASE WHEN 2.0 * n1 * n2 * (2.0 * n1 * n2
        |      - CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        * (CAST(n AS DOUBLE) - 1.0)) > 0 THEN
        |    (runs - (2.0 * n1 * n2 / CAST(n AS DOUBLE) + 1.0))
        |      / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - CAST(n AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |          * (CAST(n AS DOUBLE) - 1.0))) END, 6)) > 1.959964
        |    AS significant
        |FROM f""".stripMargin),

    // exact decimal/integer moments; the same centered Cramer forms;
    // 9dp residual squares into DECIMAL(38,9); asymptotic chi2(1) gate
    "q_granger" ->
      (s"""WITH ${SeriesOps.daysCtesSql},
        |vol AS (
        |  SELECT CAST(ts AS DATE) AS d, count(*) AS x
        |  FROM events GROUP BY 1),
        |lagged AS (
        |  SELECT y, yl, xl FROM (
        |    SELECT days.y,
        |      lag(days.y) OVER (ORDER BY t) AS yl,
        |      lag(vol.x) OVER (ORDER BY t) AS xl
        |    FROM days JOIN vol ON vol.d = days.d)
        |  WHERE yl IS NOT NULL),
        |s AS (
        |  SELECT count(*) AS n, sum(yl) AS sa,
        |    CAST(sum(xl) AS BIGINT) AS sb, sum(y) AS st,
        |    sum(yl * yl) AS saa, CAST(sum(xl * xl) AS BIGINT) AS sbb,
        |    sum(yl * xl) AS sab, sum(y * yl) AS sat,
        |    sum(y * xl) AS sbt
        |  FROM lagged),
        |m AS (
        |  SELECT n,
        |    CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
        |      / n AS cxx,
        |    CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
        |      / n AS cyy,
        |    CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
        |      / n AS cxy,
        |    CAST(sat AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(st AS DOUBLE)
        |      / n AS cxt,
        |    CAST(sbt AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(st AS DOUBLE)
        |      / n AS cyt,
        |    CAST(sa AS DOUBLE) / n AS ma, CAST(sb AS DOUBLE) / n AS mb,
        |    CAST(st AS DOUBLE) / n AS mt
        |  FROM s),
        |w AS (
        |  SELECT n, ma, mb, mt,
        |    CASE WHEN cxx != 0 THEN cxt / cxx END AS br,
        |    CASE WHEN cxx * cyy - cxy * cxy != 0 THEN
        |      (cxt * cyy - cxy * cyt) / (cxx * cyy - cxy * cxy) END AS bu,
        |    CASE WHEN cxx * cyy - cxy * cxy != 0 THEN
        |      (cxx * cyt - cxy * cxt) / (cxx * cyy - cxy * cxy) END AS cu
        |  FROM m),
        |scored AS (
        |  SELECT w.n, w.br, w.bu, w.cu,
        |    CAST(y AS DOUBLE) - (mt + br * (CAST(yl AS DOUBLE) - ma))
        |      AS er,
        |    CAST(y AS DOUBLE) - (mt + bu * (CAST(yl AS DOUBLE) - ma)
        |      + cu * (CAST(xl AS DOUBLE) - mb)) AS eu
        |  FROM lagged CROSS JOIN w),
        |ssr AS (
        |  SELECT n, br, bu, cu,
        |    sum(CAST(round(er * er, 9) AS DECIMAL(38,9))) AS ssr_r,
        |    sum(CAST(round(eu * eu, 9) AS DECIMAL(38,9))) AS ssr_u
        |  FROM scored GROUP BY n, br, bu, cu)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(br, 6) AS ar_coef, round(cu, 6) AS granger_coef,
        |  round(CAST(ssr_r AS DOUBLE), 4) AS ssr_r,
        |  round(CAST(ssr_u AS DOUBLE), 4) AS ssr_u,
        |  round(CASE WHEN CAST(ssr_u AS DOUBLE) > 0 THEN
        |    (CAST(ssr_r AS DOUBLE) - CAST(ssr_u AS DOUBLE))
        |      / (CAST(ssr_u AS DOUBLE) / CAST(n - 3 AS DOUBLE)) END, 6)
        |    AS f_stat,
        |  round(CASE WHEN CAST(ssr_u AS DOUBLE) > 0 THEN
        |    (CAST(ssr_r AS DOUBLE) - CAST(ssr_u AS DOUBLE))
        |      / (CAST(ssr_u AS DOUBLE) / CAST(n - 3 AS DOUBLE)) END, 6)
        |    > ${NonparamOps.chi2Crit05(1)} AS significant
        |FROM ssr""".stripMargin)
  )
}
