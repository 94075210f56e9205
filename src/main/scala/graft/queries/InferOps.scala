package graft.queries

import graft.Decimals._
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical-inference pack — the classical hypothesis tests an
  * experimentation platform runs beside the z-test family already in
  * EventOps (q_abtest / q_msprt / q_cuped): Welch's unequal-variance
  * t-test, the Mann–Whitney U rank test, one-way ANOVA, Spearman rank
  * correlation, and Kendall's τ-b. Reference capability: the HiveQL
  * engine the charm deploys exposes only var/stddev/corr primitives
  * ([H ql/udf/generic/GenericUDAFVariance.java]); these are the composed
  * tests a warehouse user builds on top of them.
  *
  * Scale + determinism discipline (the EventOps/StatsOps contract):
  * every test collapses the event/order log FIRST to a keyed unit
  * relation (user, user-day, value-group) via partial-aggregable
  * groupBys, then runs closed-form arithmetic on a one-row (or
  * value-thin) aggregate. Rank statistics never sort the corpus: ranks
  * come from the VALUE-GROUPED relation (|distinct values| rows) via a
  * cumulative count, so the only global window in the pack runs over a
  * relation bounded by the value domain, not the row count. Per-row
  * float terms round to fixed DECIMAL scales before any sum (exact,
  * order-independent); the final test statistic is one shared IEEE
  * double formula written with the identical operator shape in the
  * Spark plan and the DuckDB oracle.
  */
object InferOps extends QueryPack {

  // ---- q_welch_ttest -----------------------------------------------------
  /** The per-arm exact moment relation (1 row: n/Σm/Σm² per parity arm)
    * over per-user total event value — shared by [[qWelchTtest]] and
    * [[qTost]] so the two tests read identical moments. */
  private def userTotalMoments(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val users = Tables.df(spark, sfDir, "events")
      .select($"user_id", round($"value", 2).cast(dec18_2).as("v"))
      .groupBy($"user_id").agg(sum($"v").as("m"))
      .select(($"user_id" % 2 === 0).as("a"), $"m",
        round($"m".cast("double") * $"m".cast("double"), 4).cast(dec38_4)
          .as("m2"))
    users.agg(
      sum(when($"a", 1L).otherwise(0L)).as("n1"),
      sum(when($"a", $"m")).as("s1a"),
      sum(when($"a", $"m2")).as("s2a"),
      sum(when(!$"a", 1L).otherwise(0L)).as("n2"),
      sum(when(!$"a", $"m")).as("s1b"),
      sum(when(!$"a", $"m2")).as("s2b"))
  }

  /** Welch's unequal-variance t-test on per-user total event value,
    * variants by user-id parity (the q_abtest assignment). Unit = the
    * USER (a user's events are not independent, so the per-event test
    * would overcount n — the same unit-of-analysis discipline as
    * q_abtest's user-day). Moments: per-user totals are exact decimal
    * sums of once-rounded values; the squared totals round once to
    * DECIMAL(38,4) before the group sums, so both engines aggregate
    * identical integers and the t / Welch–Satterthwaite df are one
    * shared double formula over them. Zero pooled variance → NULL t
    * (the qAbtest zero-SE guard). */
  def qWelchTtest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val s = userTotalMoments(spark, sfDir)
    val va = ($"s2a".cast("double")
      - $"s1a".cast("double") * $"s1a".cast("double") / $"n1")
      .divide($"n1" - lit(1L))
    val vb = ($"s2b".cast("double")
      - $"s1b".cast("double") * $"s1b".cast("double") / $"n2")
      .divide($"n2" - lit(1L))
    val se2 = va / $"n1" + vb / $"n2"
    val t = when(se2 > 0.0,
      ($"s1a".cast("double") / $"n1" - $"s1b".cast("double") / $"n2")
        / sqrt(se2))
    val df = when(se2 > 0.0,
      se2 * se2 / ((va / $"n1") * (va / $"n1") / ($"n1" - lit(1L))
        + (vb / $"n2") * (vb / $"n2") / ($"n2" - lit(1L))))
    s.select($"n1".as("n_a"), $"n2".as("n_b"),
      round($"s1a".cast("double") / $"n1", 6).as("mean_a"),
      round($"s1b".cast("double") / $"n2", 6).as("mean_b"),
      round(va, 4).as("var_a"), round(vb, 4).as("var_b"),
      round(t, 6).as("t_stat"), round(df, 2).as("df"),
      (abs(t) > 1.96).as("significant"))
  }

  // ---- q_mann_whitney ----------------------------------------------------
  /** Value-grouped average-rank columns: given a grouped relation with
    * an `nv` count per distinct value of `orderCol`, adds `cumlt` (count
    * of strictly-smaller rows) and the INTEGER doubled average rank
    * r2 = 2·cum_lt + n_v + 1 — the rank trick shared by
    * [[qMannWhitney]], [[qSpearman]], and LearnOps.qAuc so the three
    * rank statistics provably use one rank definition. The window runs
    * over |distinct values| rows only. */
  private[queries] def withRank2(g: DataFrame, orderCol: String)
      : DataFrame = {
    import g.sparkSession.implicits._
    val w = Window.orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cumlt", coalesce(sum($"nv").over(w), lit(0L)))
      .withColumn("r2", lit(2L) * $"cumlt" + $"nv" + lit(1L))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) on per-user event counts,
    * variants by user-id parity — the distribution-free twin of
    * [[qWelchTtest]] a metrics platform reaches for when totals are
    * heavy-tailed. Rank trick: average ranks come from the value-GROUPED
    * relation — for count value v with n_v holders and cum_lt smaller
    * values, 2·R(v) = 2·cum_lt + n_v + 1 is an INTEGER, so the rank-sum
    * runs entirely in exact integer arithmetic (U doubles only at the
    * final closed form). Tie-corrected normal approximation; ties
    * contribute Σ(t³−t) from the same grouped relation. The only window
    * is a cumulative count over |distinct count values| rows. */
  def qMannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val users = Tables.df(spark, sfDir, "events")
      .groupBy($"user_id").agg(count(lit(1)).as("c"))
      .select(($"user_id" % 2 === 0).as("a"), $"c")
    val g = users.groupBy($"c").agg(
      sum(when($"a", 1L).otherwise(0L)).as("na"),
      count(lit(1)).as("nv"))
    val s = withRank2(g, "c").agg(
      sum($"na").as("n1"), sum($"nv").as("n"),
      sum($"na" * $"r2").as("r1x2"),
      sum($"nv" * $"nv" * $"nv" - $"nv").as("ties"))
    val n2 = $"n" - $"n1"
    val u2 = $"r1x2" - $"n1" * ($"n1" + lit(1L)) // 2·U1, exact integer
    val varU = ($"n1".cast("double") * n2 / lit(12.0)) *
      (($"n" + lit(1.0)) - $"ties".cast("double")
        / ($"n".cast("double") * ($"n" - lit(1.0))))
    val z = when(varU > 0.0,
      (u2.cast("double") - $"n1".cast("double") * n2) / lit(2.0)
        / sqrt(varU))
    s.select($"n1".as("n_a"), n2.as("n_b"),
      round(u2.cast("double") / lit(2.0), 1).as("u_stat"),
      round(z, 6).as("z"), (abs(z) > 1.96).as("significant"))
  }

  // ---- q_anova -----------------------------------------------------------
  /** The one-way ANOVA core shared by [[qAnova]] and [[qLevene]]: a
    * grouped moment relation (ng, s1, s2) → the 1-row (k, n, ssb, ssw)
    * sums-of-squares relation, with the per-group SS terms rounded to
    * DECIMAL(18,6) before the k-row sum (ONE home for the rounding
    * discipline both tests' oracles mirror). */
  /** The q_anova oracle's CTE chain through `s` (k, n, ssb, ssw) with
    * the group-moment relation `g` still visible — shared with the
    * q_tukey_hsd oracle (DecisionOps) so the post-hoc's MSW can never
    * drift from the omnibus test's; [[anovaCore]] is the Spark home. */
  private[queries] val anovaCtesSql: String =
    """e AS (
      |  SELECT event_type,
      |    CAST(round(value, 2) AS DECIMAL(18,2)) AS v
      |  FROM events),
      |e2 AS (SELECT event_type, v,
      |  CAST(round(CAST(v AS DOUBLE) * CAST(v AS DOUBLE), 4)
      |    AS DECIMAL(38,4)) AS v2 FROM e),
      |g AS (
      |  SELECT event_type, count(*) AS ng, sum(v) AS s1, sum(v2) AS s2
      |  FROM e2 GROUP BY event_type),
      |tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n, sum(s1) AS s1t FROM g),
      |terms AS (
      |  SELECT ng, n,
      |    CAST(round(CAST(s2 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / ng, 6)
      |      AS DECIMAL(18,6)) AS ssw_g,
      |    CAST(round(CAST(ng AS DOUBLE)
      |      * (CAST(s1 AS DOUBLE) / ng - CAST(s1t AS DOUBLE) / n)
      |      * (CAST(s1 AS DOUBLE) / ng - CAST(s1t AS DOUBLE) / n), 6)
      |      AS DECIMAL(18,6)) AS ssb_g
      |  FROM g CROSS JOIN tot),
      |s AS (
      |  SELECT count(*) AS k, max(n) AS n,
      |    sum(ssb_g) AS ssb, sum(ssw_g) AS ssw
      |  FROM terms)""".stripMargin

  private[queries] def anovaCore(g: DataFrame): DataFrame = {
    import g.sparkSession.implicits._
    val tot = g.agg(sum($"ng").as("n"), sum($"s1").as("s1t"))
    val dm = $"s1".cast("double") / $"ng" - $"s1t".cast("double") / $"n"
    val terms = g.crossJoin(broadcast(tot))
      .select($"ng", $"n",
        round($"s2".cast("double")
          - $"s1".cast("double") * $"s1".cast("double") / $"ng", 6)
          .cast(dec18_6).as("ssw_g"),
        round($"ng".cast("double") * dm * dm, 6).cast(dec18_6).as("ssb_g"))
    terms.agg(count(lit(1)).as("k"), max($"n").as("n"),
      sum($"ssb_g").as("ssb"), sum($"ssw_g").as("ssw"))
  }

  /** One-way ANOVA of event value across event types — "does the metric
    * differ across k categories" generalizing the two-arm tests. Sums of
    * squares from per-group exact-decimal moments (once-rounded v and
    * v², the Welch discipline); the per-group SSW/SSB terms round to
    * DECIMAL(18,6) before the k-row sum so the F statistic's inputs are
    * exact and order-independent. k-1 / N-k degrees of freedom; η² as
    * the effect size. Shape: one scan → k-row group relation → 1-row
    * result; the group relation broadcasts against its own 1-row total. */
  def qAnova(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.df(spark, sfDir, "events")
      .select($"event_type", round($"value", 2).cast(dec18_2).as("v"))
      .select($"event_type", $"v",
        round($"v".cast("double") * $"v".cast("double"), 4).cast(dec38_4)
          .as("v2"))
    val g = ev.groupBy($"event_type").agg(
      count(lit(1)).as("ng"), sum($"v").as("s1"), sum($"v2").as("s2"))
    val s = anovaCore(g)
    val f = when($"ssw" > 0,
      ($"ssb".cast("double") / ($"k" - lit(1L)))
        / ($"ssw".cast("double") / ($"n" - $"k")))
    s.select($"k", $"n",
      round($"ssb".cast("double"), 4).as("ss_between"),
      round($"ssw".cast("double"), 4).as("ss_within"),
      round(f, 6).as("f_stat"),
      round($"ssb".cast("double")
        / ($"ssb".cast("double") + $"ssw".cast("double")), 6).as("eta_sq"))
  }

  // ---- q_spearman --------------------------------------------------------
  /** Spearman rank correlation between a customer's order count and
    * total spend — the monotone-association read-out robust to the
    * spend distribution's heavy tail (which q_corr_matrix's Pearson is
    * not). Average ranks via the [[qMannWhitney]] integer trick on each
    * metric's value-grouped relation; Pearson is computed directly on
    * the DOUBLED ranks (2R is integer; correlation is affine-invariant,
    * so ρ(2Rx, 2Ry) = ρ(Rx, Ry) exactly) with all five moments summed
    * as DECIMAL(38,0) — exact at any scale, no float accumulation
    * anywhere until the one closed-form ρ. */
  def qSpearman(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.df(spark, sfDir, "orders")
      .groupBy($"o_custkey").agg(count(lit(1)).as("x"),
        sum($"o_totalprice".cast(dec18_2)).as("y"))
    def ranks(keyed: DataFrame, c: String, out: String): DataFrame =
      withRank2(keyed.groupBy(col(c)).agg(count(lit(1)).as("nv")), c)
        .select(col(c), $"r2".as(out))
    val rx = ranks(cust, "x", "rx2")
    val ry = ranks(cust, "y", "ry2")
    // rx is value-thin (distinct order COUNTS — a few dozen values at any
    // scale) so it broadcasts; ry ranks near-unique per-customer totals,
    // so its size grows with |customers| — no hint, the planner picks
    // (ADVICE r11: a forced broadcast there risks driver OOM at scale)
    val ranked = cust.join(broadcast(rx), "x").join(ry, "y")
      .select($"rx2".cast(dec38_0).as("rx"), $"ry2".cast(dec38_0).as("ry"))
    val s = ranked.agg(count(lit(1)).as("n"),
      sum($"rx").as("sx"), sum($"ry").as("sy"),
      sum($"rx" * $"rx").as("sxx"), sum($"ry" * $"ry").as("syy"),
      sum($"rx" * $"ry").as("sxy"))
    val nd = $"n".cast("double")
    // NOTE: keep these single-expression (parenthesized) — a
    // continuation line starting with `-` parses as a discarded unary
    // statement and silently drops the subtraction
    val cov = (nd * $"sxy".cast("double")
      - $"sx".cast("double") * $"sy".cast("double"))
    val vx = (nd * $"sxx".cast("double")
      - $"sx".cast("double") * $"sx".cast("double"))
    val vy = (nd * $"syy".cast("double")
      - $"sy".cast("double") * $"sy".cast("double"))
    s.select($"n",
      round(when(vx > 0.0 && vy > 0.0, cov / (sqrt(vx) * sqrt(vy))), 6)
        .as("spearman_rho"))
  }

  // ---- q_kendall ---------------------------------------------------------
  /** Kendall's τ-b between daily event volume and daily total value —
    * concordance over the CALENDAR-grain relation, so the pair join is
    * |days|², bounded by the time span, never by the event count (the
    * q_theil_sen pre-aggregation discipline). Strict concordant /
    * discordant counts plus per-axis tie counts feed the exact τ-b
    * closed form; everything is integer until the final sqrt. */
  def qKendall(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.df(spark, sfDir, "events")
      .groupBy(to_date($"ts").as("d"))
      .agg(count(lit(1)).as("x"), sum(round($"value", 2).cast(dec18_2)).as("y"))
    val a = daily.select($"d".as("da"), $"x".as("xa"), $"y".as("ya"))
    val b = daily.select($"d".as("db"), $"x".as("xb"), $"y".as("yb"))
    val s = a.join(b, $"da" < $"db").agg(
      count(lit(1)).as("n0"),
      sum(when(($"xa" < $"xb" && $"ya" < $"yb")
        || ($"xa" > $"xb" && $"ya" > $"yb"), 1L).otherwise(0L)).as("cc"),
      sum(when(($"xa" < $"xb" && $"ya" > $"yb")
        || ($"xa" > $"xb" && $"ya" < $"yb"), 1L).otherwise(0L)).as("dd"),
      sum(when($"xa" === $"xb", 1L).otherwise(0L)).as("tx"),
      sum(when($"ya" === $"yb", 1L).otherwise(0L)).as("ty"))
    val den = sqrt(($"n0" - $"tx").cast("double"))
      .multiply(sqrt(($"n0" - $"ty").cast("double")))
    val tau = when(($"n0" > $"tx") && ($"n0" > $"ty"),
      ($"cc" - $"dd").cast("double") / den)
    s.select($"n0".as("n_pairs"), $"cc".as("concordant"),
      $"dd".as("discordant"), round(tau, 6).as("tau_b"))
  }

  // ---- q_kappa -----------------------------------------------------------
  /** Cohen's κ inter-annotator agreement (Cohen '60) between two cheap
    * document labelers — the QA statistic a labeling pipeline computes
    * before trusting ANY annotation source, here priced on two heuristic
    * quality raters (length ≥ 20 tokens vs stopword ratio ≥ 0.1, the
    * q_quality feature family): κ = (p_o − p_e)/(1 − p_e) corrects raw
    * agreement for the agreement two independent raters would reach by
    * chance. One scan → one 4-cell conditional aggregate; the rater
    * thresholds compare UNROUNDED ratios (identical IEEE division in
    * both engines — rounding first would manufacture half-way
    * boundaries). Perfect-chance degenerate case (p_e = 1) → NULL κ. */
  def qKappa(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions
    val toks = TextFunctions.tokens($"text")
    val stopRaw = TextFunctions.rawStopwordRatio($"text")
    val labeled = Tables.df(spark, sfDir, "documents")
      .select((size(toks) >= 20).as("a"), (stopRaw >= 0.1).as("b"))
    val s = labeled.agg(
      sum(when($"a" && $"b", 1L).otherwise(0L)).as("n11"),
      sum(when($"a" && !$"b", 1L).otherwise(0L)).as("n10"),
      sum(when(!$"a" && $"b", 1L).otherwise(0L)).as("n01"),
      sum(when(!$"a" && !$"b", 1L).otherwise(0L)).as("n00"))
    val n = ($"n11" + $"n10" + $"n01" + $"n00").cast("double")
    val po = ($"n11" + $"n00").cast("double") / n
    val pe = (($"n11" + $"n10").cast("double") / n)
      .multiply(($"n11" + $"n01").cast("double") / n)
      .plus((($"n01" + $"n00").cast("double") / n)
        .multiply(($"n10" + $"n00").cast("double") / n))
    s.select($"n11", $"n10", $"n01", $"n00",
      round(po, 6).as("p_observed"), round(pe, 6).as("p_expected"),
      round(when(pe < 1.0, (po - pe) / (lit(1.0) - pe)), 6).as("kappa"))
  }

  // ---- q_mcnemar ---------------------------------------------------------
  /** McNemar's test (McNemar '47) comparing two language classifiers on
    * the same documents — the PAIRED accuracy comparison (a two-sample
    * proportion test would ignore that both run on identical items and
    * waste its power): only the discordant cells matter, χ² =
    * (|b−c|−1)²/(b+c) with continuity correction, where b = A-only-
    * correct and c = B-only-correct. Classifier A = the marker-overlap
    * langId, B = the stopword-ratio rule; truth = the lang column.
    * One scan → one 4-cell aggregate; df = 1, significance at 3.84. */
  def qMcnemar(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions
    val toks = TextFunctions.tokens($"text")
    val stopRaw = TextFunctions.rawStopwordRatio($"text")
    val scored = Tables.df(spark, sfDir, "documents")
      .select(
        (TextFunctions.langId($"text") === "en").as("pa"),
        (stopRaw >= 0.1).as("pb"),
        ($"lang" === "en").as("y"))
      .select(($"pa" === $"y").as("ca"), ($"pb" === $"y").as("cb"))
    val s = scored.agg(
      sum(when($"ca" && !$"cb", 1L).otherwise(0L)).as("b"),
      sum(when(!$"ca" && $"cb", 1L).otherwise(0L)).as("c"),
      sum(when($"ca", 1L).otherwise(0L)).as("n_a_correct"),
      sum(when($"cb", 1L).otherwise(0L)).as("n_b_correct"),
      count(lit(1)).as("n"))
    val chi = when($"b" + $"c" > 0,
      (abs($"b" - $"c") - lit(1.0)) * (abs($"b" - $"c") - lit(1.0))
        / ($"b" + $"c"))
    s.select($"n", $"n_a_correct", $"n_b_correct", $"b", $"c",
      round(chi, 6).as("chi2"), (chi > 3.84).as("significant"))
  }

  // ---- q_levene ----------------------------------------------------------
  /** Brown–Forsythe test for equal variances across event types (Levene
    * '60 with the median centering of Brown & Forsythe '74 — the robust
    * default): W is one-way ANOVA's F computed on the absolute
    * deviations from each GROUP MEDIAN, the homogeneity check run
    * before trusting [[qAnova]]'s pooled-variance assumption. Medians
    * are exact grouped percentiles (quantile_cont parity); the
    * deviations round once to DECIMAL(18,6) and their squares to
    * DECIMAL(38,4) before the per-group sums, the qAnova discipline. */
  def qLevene(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.df(spark, sfDir, "events")
      .select($"event_type", round($"value", 2).cast(dec18_2).as("v"))
    val med = ev.groupBy($"event_type")
      .agg(expr("percentile(CAST(v AS DOUBLE), 0.5)").as("med"))
    val z = ev.join(broadcast(med), "event_type")
      .select($"event_type",
        round(abs($"v".cast("double") - $"med"), 6).cast(dec18_6).as("z"))
      .select($"event_type", $"z",
        round($"z".cast("double") * $"z".cast("double"), 4).cast(dec38_4)
          .as("z2"))
    val g = z.groupBy($"event_type").agg(
      count(lit(1)).as("ng"), sum($"z").as("s1"), sum($"z2").as("s2"))
    val s = anovaCore(g)
    val w = when($"ssw" > 0,
      ($"ssb".cast("double") / ($"k" - lit(1L)))
        / ($"ssw".cast("double") / ($"n" - $"k")))
    s.select($"k", $"n", round(w, 6).as("w_stat"),
      (w > 2.37).as("heteroscedastic")) // F(4, inf) 5% critical value
  }

  // ---- q_tost ------------------------------------------------------------
  /** TOST equivalence test (Schuirmann '87) + Cohen's d effect size on
    * the [[qWelchTtest]] arms — the "prove the change did NOT move the
    * metric" readout a launch review needs when a plain t-test's
    * non-significance is mistaken for equivalence: both one-sided tests
    * against a ±5%-of-pooled-mean margin must reject (t > 1.645) to
    * declare the arms equivalent. Shares [[userTotalMoments]] verbatim,
    * so the equivalence verdict and the difference test can never read
    * different data. */
  def qTost(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val s = userTotalMoments(spark, sfDir)
    val m1 = $"s1a".cast("double") / $"n1"
    val m2 = $"s1b".cast("double") / $"n2"
    val va = ($"s2a".cast("double")
      - $"s1a".cast("double") * $"s1a".cast("double") / $"n1")
      .divide($"n1" - lit(1L))
    val vb = ($"s2b".cast("double")
      - $"s1b".cast("double") * $"s1b".cast("double") / $"n2")
      .divide($"n2" - lit(1L))
    val se = sqrt(va / $"n1" + vb / $"n2")
    val diff = m1 - m2
    val pooledMean = ($"s1a".cast("double") + $"s1b".cast("double"))
      .divide($"n1" + $"n2")
    val delta = lit(0.05) * pooledMean
    // zero-variance guard (the qWelchTtest se2 discipline): a degenerate
    // arm makes se/sdp 0 or NULL — Spark's division would NULL while
    // DuckDB's IEEE division yields ±Inf, so both sides must CASE first
    val tl = when(se > 0.0, (diff + delta) / se)
    val tu = when(se > 0.0, (delta - diff) / se)
    val sdp = sqrt((($"n1" - lit(1L)) * va + ($"n2" - lit(1L)) * vb)
      / ($"n1" + $"n2" - lit(2L)))
    s.select($"n1".as("n_a"), $"n2".as("n_b"),
      round(diff, 4).as("diff"), round(delta, 4).as("margin"),
      round(se, 4).as("se"),
      round(tl, 4).as("t_lower"), round(tu, 4).as("t_upper"),
      (tl > 1.645 && tu > 1.645).as("equivalent"),
      round(when(sdp > 0.0, diff / sdp), 6).as("cohens_d"))
  }

  // ---- q_anova2 ------------------------------------------------------------
  /** Two-way ANOVA of order value by priority × market segment (the
    * q_simpsons/q_cmh cell grid, continuous-response side): SSA, SSB,
    * the interaction SSAB = SS_cells − SSA − SSB (the classic
    * unweighted sequential decomposition — on unbalanced cells this is
    * the Type-I-style approximation, stated), SSW, and the three F's.
    * The interaction F is the one q_anova cannot ask: does the
    * priority effect DIFFER by segment? Significance for the
    * interaction uses the asymptotic χ²(df)/df gate from the shared
    * chi2Crit05 table (denominator df is corpus-scale — the F→χ²
    * limit, the q_granger precedent). Every sum of squares builds from
    * exact decimal cell sums; the ≤25-row per-factor terms round once
    * to 9dp into decimal sums so engine summation order cannot leak. */
  def qAnova2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rows = Tables.df(spark, sfDir, "orders")
      .join(Tables.df(spark, sfDir, "customer")
        .select($"c_custkey".as("o_custkey"), $"c_mktsegment".as("b")),
        "o_custkey")
      .select($"o_orderpriority".as("a"), $"b",
        $"o_totalprice".cast(dec18_2).as("v"))
      .select($"a", $"b", $"v",
        round($"v".cast("double") * $"v".cast("double"), 4).cast(dec38_4)
          .as("v2"))
    val cells = rows.groupBy($"a", $"b")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"), sum($"v2").as("s2"))
      .localCheckpoint() // totals + three marginal reductions
    val tot = cells.agg(sum($"n").as("nn"), sum($"s").as("ts"),
      sum($"s2").as("ts2"), count(lit(1)).as("ncells"))
    def ssTerm(df: DataFrame, keys: Seq[String]): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(sum($"n").as("gn"), sum($"s").as("gs"))
        .select(round($"gs".cast("double") * $"gs".cast("double")
          / $"gn", 9).cast(dec28_9).as("tm"))
        .agg(sum($"tm").as("ss_raw"), count(lit(1)).as("k"))
    val sa = ssTerm(cells, Seq("a")).select($"ss_raw".as("ra"),
      $"k".as("ka"))
    val sb = ssTerm(cells, Seq("b")).select($"ss_raw".as("rb"),
      $"k".as("kb"))
    val sc = ssTerm(cells, Seq("a", "b")).select($"ss_raw".as("rc"))
    val j = tot.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .crossJoin(broadcast(sc))
    // the SS subtractions are catastrophic cancellations (~1e15 − ~1e15
    // leaving ~1e11): they happen in EXACT DECIMAL — only the grand-mean
    // term passes through double (one 9dp-rounded conversion), so no
    // engine-specific decimal→double conversion can leak into the SS
    val gm9 = round($"ts".cast("double") * $"ts".cast("double")
      / $"nn".cast("double"), 9).cast(dec30_9)
    val sstD = $"ts2".cast(dec30_9) - gm9
    val ssaD = $"ra".cast(dec30_9) - gm9
    val ssbD = $"rb".cast(dec30_9) - gm9
    val sscD = $"rc".cast(dec30_9) - gm9
    val ssabD = sscD - ssaD - ssbD
    val sswD = sstD - sscD
    val dfw = $"nn" - $"ncells"
    def f(ss: Column, df1: Column): Column =
      when(sswD.cast("double") > 0, (ss.cast("double")
        / df1.cast("double"))
        / (sswD.cast("double") / dfw.cast("double")))
    val dfab = ($"ka" - 1) * ($"kb" - 1)
    // the gate multiplies instead of dividing by df: crit/df would be a
    // DECIMAL division in DuckDB but a double one here — f·df > crit is
    // the same IEEE multiply in both engines
    val crit = CritValues.column(NonparamOps.chi2Crit05, dfab)
    // SS magnitudes (~1e11-1e15) sit where double ulp exceeds the 9dp
    // rounding grid, so each engine's decimal<->double conversions leave
    // cents-level noise in the exact-decimal SS; reporting in MILLIONS
    // shrinks that noise to ~3e-7 — invisible at 2dp — while the F's
    // (6dp ratios) were never affected
    def m(ss: Column): Column = round(ss.cast("double") / 1e6, 2)
    j.select($"nn".as("n"), $"ka".as("a_levels"), $"kb".as("b_levels"),
        m(ssaD).as("ss_a_m"), m(ssbD).as("ss_b_m"),
        m(ssabD).as("ss_ab_m"), m(sswD).as("ss_within_m"),
        round(f(ssaD, $"ka" - 1), 6).as("f_a"),
        round(f(ssbD, $"kb" - 1), 6).as("f_b"),
        round(f(ssabD, dfab), 6).as("f_ab"),
        (round(f(ssabD, dfab), 6) * dfab.cast("double") > crit)
          .as("interaction_sig"))
  }

  // ---- q_anderson_darling --------------------------------------------------
  /** Anderson–Darling normality test (Anderson & Darling '52; Stephens
    * '74 case-3 adjustment) of the standardized daily purchase series —
    * the ECDF-weighted upgrade of q_jarque_bera's moment test, with the
    * heaviest weight exactly where monitoring cares: the tails.
    * A² = −n − (1/n)Σ[(2i−1)lnΦ(z⁽ⁱ⁾) + (2(n−i)+1)ln(1−Φ(z⁽ⁱ⁾))], one
    * pass over the rank-ordered day relation; A*² = A²(1 + 0.75/n +
    * 2.25/n²) vs the Stephens 5% value 0.752 (shared literal). Φ is the
    * shared Zelen–Severo [[DecisionOps.normCdf]] (9dp-rounded z), each
    * Φ clamps to [1e-12, 1−1e-12] before the ln (degenerate-tail
    * guard), and every ln output rounds once to 9dp into an exact
    * decimal sum. Rank windows run on the calendar-bounded day
    * relation. */
  def qAndersonDarling(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = SeriesOps.dailySeries(spark, sfDir)
    val mom = days.agg(count(lit(1)).as("n"), sum($"y").as("sy"),
      sum(round($"y".cast("double") * $"y", 4).cast(dec38_4)).as("sy2"))
    val z = days.crossJoin(broadcast(mom))
      .withColumn("mu", $"sy".cast("double") / $"n")
      .withColumn("sd", sqrt(($"sy2".cast("double")
        - $"sy".cast("double") * $"sy" / $"n") / ($"n" - 1)))
      .select($"n", $"d",
        round(($"y".cast("double") - $"mu") / $"sd", 6).as("z"))
    val ranked = z.withColumn("i",
      row_number().over(Window.orderBy($"z", $"d")))
    val phi0 = DecisionOps.normCdf($"z")
    val phi = greatest(least(round(phi0, 9), lit(1.0 - 1e-12)),
      lit(1e-12))
    val terms = ranked.select($"n",
      round((lit(2) * $"i" - 1).cast("double")
        * round(log(phi), 9), 9).cast(dec28_9).as("t1"),
      round((lit(2) * ($"n" - $"i") + 1).cast("double")
        * round(log(lit(1.0) - phi), 9), 9).cast(dec28_9).as("t2"))
    terms.groupBy($"n").agg(sum($"t1").as("s1"), sum($"t2").as("s2"))
      .select($"n",
        round(-$"n".cast("double")
          - ($"s1".cast("double") + $"s2".cast("double"))
            / $"n".cast("double"), 6).as("a2"))
      .withColumn("a2_star",
        round($"a2" * (lit(1.0) + lit(0.75) / $"n"
          + lit(2.25) / ($"n" * $"n")), 6))
      .withColumn("significant", $"a2_star" > 0.752)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_anova2" -> qAnova2,
    "q_anderson_darling" -> qAndersonDarling,
    "q_tost" -> qTost,
    "q_mcnemar" -> qMcnemar,
    "q_levene" -> qLevene,
    "q_welch_ttest" -> qWelchTtest,
    "q_mann_whitney" -> qMannWhitney,
    "q_anova" -> qAnova,
    "q_spearman" -> qSpearman,
    "q_kendall" -> qKendall,
    "q_kappa" -> qKappa
  )

  val oracle: Map[String, String] = Map(
    // same exact decimal cell sums, same 9dp per-group SS terms, same
    // multiply-not-divide chi2 gate
    "q_anova2" ->
      (s"""WITH rows0 AS (
        |  SELECT o.o_orderpriority AS a, c.c_mktsegment AS b,
        |    CAST(o.o_totalprice AS DECIMAL(18,2)) AS v
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        |rows2 AS (
        |  SELECT a, b, v,
        |    CAST(round(CAST(v AS DOUBLE) * CAST(v AS DOUBLE), 4)
        |      AS DECIMAL(38,4)) AS v2
        |  FROM rows0),
        |cells AS (
        |  SELECT a, b, count(*) AS n, sum(v) AS s, sum(v2) AS s2
        |  FROM rows2 GROUP BY a, b),
        |tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn, sum(s) AS ts,
        |    sum(s2) AS ts2, count(*) AS ncells
        |  FROM cells),
        |ga AS (
        |  SELECT sum(tm) AS ra, count(*) AS ka FROM (
        |    SELECT CAST(round(CAST(gs AS DOUBLE) * CAST(gs AS DOUBLE)
        |      / gn, 9) AS DECIMAL(28,9)) AS tm
        |    FROM (SELECT a, CAST(sum(n) AS BIGINT) AS gn, sum(s) AS gs
        |          FROM cells GROUP BY a))),
        |gb AS (
        |  SELECT sum(tm) AS rb, count(*) AS kb FROM (
        |    SELECT CAST(round(CAST(gs AS DOUBLE) * CAST(gs AS DOUBLE)
        |      / gn, 9) AS DECIMAL(28,9)) AS tm
        |    FROM (SELECT b, CAST(sum(n) AS BIGINT) AS gn, sum(s) AS gs
        |          FROM cells GROUP BY b))),
        |gc AS (
        |  SELECT sum(tm) AS rc FROM (
        |    SELECT CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / n, 9) AS DECIMAL(28,9)) AS tm
        |    FROM cells)),
        |f AS (
        |  SELECT nn, ka, kb, ncells,
        |    CAST(round(CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE)
        |      / CAST(nn AS DOUBLE), 9) AS DECIMAL(30,9)) AS gm9,
        |    CAST(ts2 AS DECIMAL(30,9)) AS ts2d,
        |    CAST(ra AS DECIMAL(30,9)) AS rad,
        |    CAST(rb AS DECIMAL(30,9)) AS rbd,
        |    CAST(rc AS DECIMAL(30,9)) AS rcd
        |  FROM tot CROSS JOIN ga CROSS JOIN gb CROSS JOIN gc),
        |g AS (
        |  SELECT nn, ka, kb, rad - gm9 AS ssa, rbd - gm9 AS ssb,
        |    (rcd - gm9) - (rad - gm9) - (rbd - gm9) AS ssab,
        |    (ts2d - gm9) - (rcd - gm9) AS ssw, nn - ncells AS dfw
        |  FROM f)
        |SELECT nn AS n, ka AS a_levels, kb AS b_levels,
        |  round(CAST(ssa AS DOUBLE) / 1000000.0, 2) AS ss_a_m,
        |  round(CAST(ssb AS DOUBLE) / 1000000.0, 2) AS ss_b_m,
        |  round(CAST(ssab AS DOUBLE) / 1000000.0, 2) AS ss_ab_m,
        |  round(CAST(ssw AS DOUBLE) / 1000000.0, 2) AS ss_within_m,
        |  round(CASE WHEN CAST(ssw AS DOUBLE) > 0 THEN
        |    (CAST(ssa AS DOUBLE) / CAST(ka - 1 AS DOUBLE))
        |    / (CAST(ssw AS DOUBLE) / CAST(dfw AS DOUBLE)) END, 6) AS f_a,
        |  round(CASE WHEN CAST(ssw AS DOUBLE) > 0 THEN
        |    (CAST(ssb AS DOUBLE) / CAST(kb - 1 AS DOUBLE))
        |    / (CAST(ssw AS DOUBLE) / CAST(dfw AS DOUBLE)) END, 6) AS f_b,
        |  round(CASE WHEN CAST(ssw AS DOUBLE) > 0 THEN
        |    (CAST(ssab AS DOUBLE) / CAST((ka - 1) * (kb - 1) AS DOUBLE))
        |    / (CAST(ssw AS DOUBLE) / CAST(dfw AS DOUBLE)) END, 6) AS f_ab,
        |  round(CASE WHEN CAST(ssw AS DOUBLE) > 0 THEN
        |    (CAST(ssab AS DOUBLE) / CAST((ka - 1) * (kb - 1) AS DOUBLE))
        |    / (CAST(ssw AS DOUBLE) / CAST(dfw AS DOUBLE)) END, 6)
        |    * CAST((ka - 1) * (kb - 1) AS DOUBLE)
        |    > ${CritValues.sql(NonparamOps.chi2Crit05, "(ka - 1) * (kb - 1)")}
        |    AS interaction_sig
        |FROM g""".stripMargin),

    // same standardized series, same clamped Zelen-Severo phi, same 9dp
    // ln terms and Stephens case-3 adjustment
    "q_anderson_darling" ->
      (s"""WITH ${SeriesOps.daysCtesSql},
        |mom AS (
        |  SELECT count(*) AS n, sum(y) AS sy,
        |    sum(CAST(round(CAST(y AS DOUBLE) * y, 4) AS DECIMAL(38,4)))
        |      AS sy2
        |  FROM days),
        |z AS (
        |  SELECT n, d,
        |    round((CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / n)
        |      / sqrt((CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
        |        / (n - 1)), 6) AS z
        |  FROM days CROSS JOIN mom),
        |ranked AS (
        |  SELECT n, z, row_number() OVER (ORDER BY z, d) AS i FROM z),
        |ph AS (
        |  SELECT n, i,
        |    greatest(least(round(${DecisionOps.normCdfSql("z")}, 9),
        |      1.0 - 0.000000000001), 0.000000000001) AS phi
        |  FROM ranked),
        |terms AS (
        |  SELECT n,
        |    CAST(round(CAST(2 * i - 1 AS DOUBLE)
        |      * round(ln(phi), 9), 9) AS DECIMAL(28,9)) AS t1,
        |    CAST(round(CAST(2 * (n - i) + 1 AS DOUBLE)
        |      * round(ln(1.0 - phi), 9), 9) AS DECIMAL(28,9)) AS t2
        |  FROM ph),
        |agg AS (
        |  SELECT CAST(n AS BIGINT) AS n,
        |    round(-CAST(n AS DOUBLE)
        |      - (CAST(sum(t1) AS DOUBLE) + CAST(sum(t2) AS DOUBLE))
        |        / CAST(n AS DOUBLE), 6) AS a2
        |  FROM terms GROUP BY n)
        |SELECT n, a2,
        |  round(a2 * (1.0 + 0.75 / CAST(n AS DOUBLE)
        |    + 2.25 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
        |    AS a2_star,
        |  round(a2 * (1.0 + 0.75 / CAST(n AS DOUBLE)
        |    + 2.25 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) > 0.752
        |    AS significant
        |FROM agg""".stripMargin),

    // same moment CTEs as q_welch_ttest, same one-sided closed forms
    "q_tost" ->
      """WITH u AS (
        |  SELECT user_id % 2 = 0 AS a,
        |    sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS m
        |  FROM events GROUP BY user_id),
        |u2 AS (SELECT a, m,
        |  CAST(round(CAST(m AS DOUBLE) * CAST(m AS DOUBLE), 4)
        |    AS DECIMAL(38,4)) AS m2 FROM u),
        |s AS (SELECT
        |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  sum(CASE WHEN a THEN m END) AS s1a,
        |  sum(CASE WHEN a THEN m2 END) AS s2a,
        |  CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  sum(CASE WHEN NOT a THEN m END) AS s1b,
        |  sum(CASE WHEN NOT a THEN m2 END) AS s2b
        |  FROM u2),
        |v AS (SELECT n1, n2,
        |  CAST(s1a AS DOUBLE) / n1 - CAST(s1b AS DOUBLE) / n2 AS diff,
        |  0.05 * ((CAST(s1a AS DOUBLE) + CAST(s1b AS DOUBLE))
        |    / (n1 + n2)) AS delta,
        |  sqrt((CAST(s2a AS DOUBLE)
        |      - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / n1) / (n1 - 1)
        |      / n1
        |    + (CAST(s2b AS DOUBLE)
        |      - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / n2) / (n2 - 1)
        |      / n2) AS se,
        |  sqrt(((n1 - 1) * ((CAST(s2a AS DOUBLE)
        |      - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / n1) / (n1 - 1))
        |    + (n2 - 1) * ((CAST(s2b AS DOUBLE)
        |      - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / n2) / (n2 - 1)))
        |    / (n1 + n2 - 2)) AS sdp
        |  FROM s)
        |SELECT n1 AS n_a, n2 AS n_b,
        |  round(diff, 4) AS diff, round(delta, 4) AS margin,
        |  round(se, 4) AS se,
        |  round(CASE WHEN se > 0.0 THEN (diff + delta) / se END, 4)
        |    AS t_lower,
        |  round(CASE WHEN se > 0.0 THEN (delta - diff) / se END, 4)
        |    AS t_upper,
        |  (CASE WHEN se > 0.0 THEN (diff + delta) / se END) > 1.645
        |    AND (CASE WHEN se > 0.0 THEN (delta - diff) / se END) > 1.645
        |    AS equivalent,
        |  round(CASE WHEN sdp > 0.0 THEN diff / sdp END, 6) AS cohens_d
        |FROM v""".stripMargin,

    // TextOps' shared langId prediction CTE (the classifier definition
    // cannot drift from its own tests); same discordant-cell closed form
    "q_mcnemar" ->
      (s"WITH ${TextOps.langPredCte}," + """
        |sc AS (
        |  SELECT (pr.pred = 'en') = (d.lang = 'en') AS ca,
        |    (CAST(len(list_filter(
        |        list_filter(string_split(lower(d.text), ' '),
        |          x -> x != ''),
        |        x -> list_contains(
        |          ['the','a','is','and','of','to','in','that','it'], x)))
        |      AS DOUBLE)
        |      / greatest(len(list_filter(
        |          string_split(lower(d.text), ' '), x -> x != '')), 1)
        |      >= 0.1) = (d.lang = 'en') AS cb
        |  FROM pr JOIN documents d USING (doc_id)),
        |s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN ca THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a_correct,
        |    CAST(sum(CASE WHEN cb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b_correct,
        |    count(*) AS n
        |  FROM sc)
        |SELECT n, n_a_correct, n_b_correct, b, c,
        |  round(CASE WHEN b + c > 0 THEN
        |    (abs(b - c) - 1.0) * (abs(b - c) - 1.0) / (b + c) END, 6)
        |    AS chi2,
        |  (CASE WHEN b + c > 0 THEN
        |    (abs(b - c) - 1.0) * (abs(b - c) - 1.0) / (b + c) END) > 3.84
        |    AS significant
        |FROM s""".stripMargin),

    // same grouped exact medians (quantile_cont ≡ percentile), same
    // once-rounded deviation moments, same ANOVA-on-deviations form
    "q_levene" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(round(value, 2) AS DECIMAL(18,2)) AS v
        |  FROM events),
        |med AS (
        |  SELECT event_type, quantile_cont(CAST(v AS DOUBLE), 0.5) AS med
        |  FROM e GROUP BY event_type),
        |z AS (
        |  SELECT e.event_type,
        |    CAST(round(abs(CAST(v AS DOUBLE) - med), 6)
        |      AS DECIMAL(18,6)) AS z
        |  FROM e JOIN med USING (event_type)),
        |z2 AS (
        |  SELECT event_type, z,
        |    CAST(round(CAST(z AS DOUBLE) * CAST(z AS DOUBLE), 4)
        |      AS DECIMAL(38,4)) AS z2
        |  FROM z),
        |g AS (
        |  SELECT event_type, count(*) AS ng, sum(z) AS s1, sum(z2) AS s2
        |  FROM z2 GROUP BY event_type),
        |tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n, sum(s1) AS s1t
        |  FROM g),
        |terms AS (
        |  SELECT ng, n,
        |    CAST(round(CAST(s2 AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / ng, 6)
        |      AS DECIMAL(18,6)) AS ssw_g,
        |    CAST(round(CAST(ng AS DOUBLE)
        |      * (CAST(s1 AS DOUBLE) / ng - CAST(s1t AS DOUBLE) / n)
        |      * (CAST(s1 AS DOUBLE) / ng - CAST(s1t AS DOUBLE) / n), 6)
        |      AS DECIMAL(18,6)) AS ssb_g
        |  FROM g CROSS JOIN tot),
        |s AS (
        |  SELECT count(*) AS k, max(n) AS n,
        |    sum(ssb_g) AS ssb, sum(ssw_g) AS ssw
        |  FROM terms)
        |SELECT k, n,
        |  round(CASE WHEN ssw > 0 THEN
        |    (CAST(ssb AS DOUBLE) / (k - 1))
        |      / (CAST(ssw AS DOUBLE) / (n - k)) END, 6) AS w_stat,
        |  (CASE WHEN ssw > 0 THEN (CAST(ssb AS DOUBLE) / (k - 1))
        |      / (CAST(ssw AS DOUBLE) / (n - k)) END) > 2.37
        |    AS heteroscedastic
        |FROM s""".stripMargin,

    "q_welch_ttest" ->
      """WITH u AS (
        |  SELECT user_id % 2 = 0 AS a,
        |    sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS m
        |  FROM events GROUP BY user_id),
        |u2 AS (SELECT a, m,
        |  CAST(round(CAST(m AS DOUBLE) * CAST(m AS DOUBLE), 4)
        |    AS DECIMAL(38,4)) AS m2 FROM u),
        |s AS (SELECT
        |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  sum(CASE WHEN a THEN m END) AS s1a,
        |  sum(CASE WHEN a THEN m2 END) AS s2a,
        |  CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  sum(CASE WHEN NOT a THEN m END) AS s1b,
        |  sum(CASE WHEN NOT a THEN m2 END) AS s2b
        |  FROM u2),
        |v AS (SELECT n1, n2, s1a, s1b,
        |  (CAST(s2a AS DOUBLE)
        |    - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / n1) / (n1 - 1)
        |    AS va,
        |  (CAST(s2b AS DOUBLE)
        |    - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / n2) / (n2 - 1)
        |    AS vb
        |  FROM s),
        |f AS (SELECT n1, n2, s1a, s1b, va, vb, va / n1 + vb / n2 AS se2
        |  FROM v)
        |SELECT n1 AS n_a, n2 AS n_b,
        |  round(CAST(s1a AS DOUBLE) / n1, 6) AS mean_a,
        |  round(CAST(s1b AS DOUBLE) / n2, 6) AS mean_b,
        |  round(va, 4) AS var_a, round(vb, 4) AS var_b,
        |  round(CASE WHEN se2 > 0.0 THEN
        |    (CAST(s1a AS DOUBLE) / n1 - CAST(s1b AS DOUBLE) / n2)
        |      / sqrt(se2) END, 6) AS t_stat,
        |  round(CASE WHEN se2 > 0.0 THEN se2 * se2
        |    / ((va / n1) * (va / n1) / (n1 - 1)
        |      + (vb / n2) * (vb / n2) / (n2 - 1)) END, 2) AS df,
        |  abs(CASE WHEN se2 > 0.0 THEN
        |    (CAST(s1a AS DOUBLE) / n1 - CAST(s1b AS DOUBLE) / n2)
        |      / sqrt(se2) END) > 1.96 AS significant
        |FROM f""".stripMargin,

    "q_mann_whitney" ->
      """WITH u AS (
        |  SELECT user_id % 2 = 0 AS a, count(*) AS c
        |  FROM events GROUP BY user_id),
        |g AS (
        |  SELECT c,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    count(*) AS nv
        |  FROM u GROUP BY c),
        |r AS (
        |  SELECT c, na, nv,
        |    COALESCE(SUM(nv) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cumlt
        |  FROM g),
        |s AS (
        |  SELECT CAST(sum(na) AS BIGINT) AS n1,
        |    CAST(sum(nv) AS BIGINT) AS n,
        |    CAST(sum(na * (2 * cumlt + nv + 1)) AS BIGINT) AS r1x2,
        |    CAST(sum(nv * nv * nv - nv) AS BIGINT) AS ties
        |  FROM r),
        |f AS (
        |  SELECT n1, n - n1 AS n2, n, r1x2 - n1 * (n1 + 1) AS u2, ties
        |  FROM s),
        |v AS (
        |  SELECT n1, n2, u2,
        |    (CAST(n1 AS DOUBLE) * n2 / 12.0) * ((n + 1.0)
        |      - CAST(ties AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * (n - 1.0))) AS var_u
        |  FROM f)
        |SELECT n1 AS n_a, n2 AS n_b,
        |  round(CAST(u2 AS DOUBLE) / 2.0, 1) AS u_stat,
        |  round(CASE WHEN var_u > 0.0 THEN
        |    (CAST(u2 AS DOUBLE) - CAST(n1 AS DOUBLE) * n2) / 2.0
        |      / sqrt(var_u) END, 6) AS z,
        |  abs(CASE WHEN var_u > 0.0 THEN
        |    (CAST(u2 AS DOUBLE) - CAST(n1 AS DOUBLE) * n2) / 2.0
        |      / sqrt(var_u) END) > 1.96 AS significant
        |FROM v""".stripMargin,

    "q_anova" ->
      (s"""WITH $anovaCtesSql
        |SELECT k, n,""".stripMargin + """
        |  round(CAST(ssb AS DOUBLE), 4) AS ss_between,
        |  round(CAST(ssw AS DOUBLE), 4) AS ss_within,
        |  round(CASE WHEN ssw > 0 THEN
        |    (CAST(ssb AS DOUBLE) / (k - 1))
        |      / (CAST(ssw AS DOUBLE) / (n - k)) END, 6) AS f_stat,
        |  round(CAST(ssb AS DOUBLE)
        |    / (CAST(ssb AS DOUBLE) + CAST(ssw AS DOUBLE)), 6) AS eta_sq
        |FROM s""".stripMargin),

    "q_spearman" ->
      """WITH cust AS (
        |  SELECT o_custkey, count(*) AS x,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS y
        |  FROM orders GROUP BY o_custkey),
        |gx AS (SELECT x, count(*) AS nv FROM cust GROUP BY x),
        |rx AS (
        |  SELECT x, 2 * COALESCE(SUM(nv) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + nv + 1 AS rx2
        |  FROM gx),
        |gy AS (SELECT y, count(*) AS nv FROM cust GROUP BY y),
        |ry AS (
        |  SELECT y, 2 * COALESCE(SUM(nv) OVER (ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + nv + 1 AS ry2
        |  FROM gy),
        |ranked AS (
        |  SELECT CAST(rx2 AS DECIMAL(38,0)) AS rx,
        |    CAST(ry2 AS DECIMAL(38,0)) AS ry
        |  FROM cust JOIN rx USING (x) JOIN ry USING (y)),
        |s AS (
        |  SELECT count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
        |    sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
        |    sum(rx * ry) AS sxy
        |  FROM ranked),
        |f AS (
        |  SELECT n,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
        |  FROM s)
        |SELECT n,
        |  round(CASE WHEN vx > 0.0 AND vy > 0.0 THEN
        |    cov / (sqrt(vx) * sqrt(vy)) END, 6) AS spearman_rho
        |FROM f""".stripMargin,

    "q_kappa" ->
      """WITH toks AS (
        |  SELECT
        |    list_filter(string_split(lower(text), ' '), x -> x != '') AS T
        |  FROM documents),
        |lab AS (
        |  SELECT len(T) >= 20 AS a,
        |    CAST(len(list_filter(T, x -> list_contains(
        |      ['the','a','is','and','of','to','in','that','it'], x)))
        |      AS DOUBLE) / greatest(len(T), 1) >= 0.1 AS b
        |  FROM toks),
        |s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n11,
        |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n10,
        |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n01,
        |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n00
        |  FROM lab),
        |f AS (
        |  SELECT n11, n10, n01, n00,
        |    CAST(n11 + n00 AS DOUBLE)
        |      / CAST(n11 + n10 + n01 + n00 AS DOUBLE) AS po,
        |    (CAST(n11 + n10 AS DOUBLE)
        |        / CAST(n11 + n10 + n01 + n00 AS DOUBLE))
        |      * (CAST(n11 + n01 AS DOUBLE)
        |        / CAST(n11 + n10 + n01 + n00 AS DOUBLE))
        |    + (CAST(n01 + n00 AS DOUBLE)
        |        / CAST(n11 + n10 + n01 + n00 AS DOUBLE))
        |      * (CAST(n10 + n00 AS DOUBLE)
        |        / CAST(n11 + n10 + n01 + n00 AS DOUBLE)) AS pe
        |  FROM s)
        |SELECT n11, n10, n01, n00,
        |  round(po, 6) AS p_observed, round(pe, 6) AS p_expected,
        |  round(CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) END, 6)
        |    AS kappa
        |FROM f""".stripMargin,

    "q_kendall" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, count(*) AS x,
        |    sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS y
        |  FROM events GROUP BY 1),
        |s AS (
        |  SELECT count(*) AS n0,
        |    CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
        |      OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cc,
        |    CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
        |      OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS dd,
        |    CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tx,
        |    CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ty
        |  FROM daily a JOIN daily b ON a.d < b.d)
        |SELECT n0 AS n_pairs, cc AS concordant, dd AS discordant,
        |  round(CASE WHEN n0 > tx AND n0 > ty THEN
        |    CAST(cc - dd AS DOUBLE)
        |      / (sqrt(CAST(n0 - tx AS DOUBLE))
        |        * sqrt(CAST(n0 - ty AS DOUBLE))) END, 6) AS tau_b
        |FROM s""".stripMargin
  )
}
