package graft.queries

import graft.Decimals._
import graft.Tables
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Decision-analysis pack — the procedures a data platform runs AFTER
  * the basic tests say "something differs", answering "so what do we
  * do": causal identification beyond DiD/propensity (an instrumental-
  * variable Wald estimator with the weak-instrument gate, a regression-
  * discontinuity readout), the aggregation-reversal audit that decides
  * whether a pooled metric can be trusted (Simpson), the post-hoc
  * pairwise comparison that names WHICH groups differ after q_anova's
  * omnibus F (Tukey–Kramer HSD), fixed-effect meta-analytic pooling of
  * per-stratum effects with heterogeneity (Cochran's Q_het, I²), and
  * the best-of-n sampling curve that prices how much quality candidate
  * over-generation buys. Reference capability: the deployed HiveQL
  * engine stops at corr/covar primitives; these are the composed
  * decision procedures built on them.
  *
  * Discipline (the InferOps contract): reduce the log to a keyed unit
  * relation first, exact integer / once-rounded decimal moments, one
  * shared closed-form double per statistic, critical values derived
  * from the data's k through one shared lookup (the chi2Crit05
  * lesson — never a hard-coded threshold beside a data-derived df).
  */
object DecisionOps extends QueryPack {

  // ---- q_iv_wald ----------------------------------------------------------
  /** Instrumental-variable Wald estimator (Wald '40; Angrist &
    * Krueger '91 usage): with user parity as the (pseudo-)instrument z,
    * per-user click count as the treatment exposure x and per-user
    * purchase value as the outcome y, IV = (ȳ₁−ȳ₀)/(x̄₁−x̄₀) — the
    * ratio of intention-to-treat effects that recovers the causal
    * effect when z moves x but touches y only through x. The op leads
    * with the gate every IV analysis must run: the first-stage
    * strength (Staiger & Stock's F < 10 rule) — on this fixture the
    * parity instrument is null by construction, so `weak` fires and
    * the estimate is reported AS unreliable, which is the correct
    * production behavior (an IV pipeline that doesn't refuse weak
    * instruments manufactures noise). One (user) reduction → one 1-row
    * 10-sum aggregate; x moments exact integers, y sums exact
    * decimals, every ratio a shared double formula. */
  def qIvWald(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val u = Tables.df(spark, sfDir, "events")
      .groupBy($"user_id").agg(
        sum(when($"event_type" === "click", 1L).otherwise(0L)).as("x"),
        sum(when($"event_type" === "purchase",
          round($"value", 2).cast(dec18_2)).otherwise(lit(0).cast(dec18_2)))
          .as("y"))
      .select(($"user_id" % 2 === 0).as("z"), $"x", ($"x" * $"x").as("x2"),
        $"y")
    val s = u.agg(
      sum(when($"z", 1L).otherwise(0L)).as("n1"),
      sum(when(!$"z", 1L).otherwise(0L)).as("n0"),
      sum(when($"z", $"x")).as("sx1"), sum(when(!$"z", $"x")).as("sx0"),
      sum(when($"z", $"x2")).as("sxx1"), sum(when(!$"z", $"x2")).as("sxx0"),
      sum(when($"z", $"y")).as("sy1"), sum(when(!$"z", $"y")).as("sy0"))
    def m(sc: Column, n: Column) = sc.cast("double") / n
    val fs = m($"sx1", $"n1") - m($"sx0", $"n0")
    val itt = m($"sy1", $"n1") - m($"sy0", $"n0")
    def vx(sxx: Column, sx: Column, n: Column) =
      (sxx.cast("double") - sx.cast("double") * sx.cast("double") / n) /
        (n - lit(1L)) / n
    val seFs = sqrt(vx($"sxx1", $"sx1", $"n1") + vx($"sxx0", $"sx0", $"n0"))
    val fsT = when(seFs > 0.0, fs / seFs)
    val fStat = fsT * fsT
    s.select($"n0", $"n1",
      round(m($"sx0", $"n0"), 6).as("x_mean_z0"),
      round(m($"sx1", $"n1"), 6).as("x_mean_z1"),
      round(m($"sy0", $"n0"), 6).as("y_mean_z0"),
      round(m($"sy1", $"n1"), 6).as("y_mean_z1"),
      round(itt, 6).as("itt"),
      round(fs, 6).as("first_stage"),
      round(fStat, 6).as("first_stage_f"),
      coalesce(fStat < 10.0, lit(true)).as("weak"),
      round(when(fs =!= 0.0, itt / fs), 6).as("iv_estimate"))
  }

  // ---- q_reg_discontinuity ------------------------------------------------
  /** Sharp regression-discontinuity readout (Thistlethwaite & Campbell
    * '60): running variable r = user_id % 101 with cutoff 50 and
    * bandwidth 25, outcome = per-user event count; a local linear fit
    * on each side of the cutoff (closed-form OLS on centered r from
    * exact integer moments) and the effect = the jump between the two
    * intercepts AT the cutoff. The running variable is the portable
    * md5 hash of the user id mod 101 (user_id itself doesn't span the
    * cutoff at small SF; the hash spreads uniformly at every scale),
    * which also makes this the pinned null of the causal family (like
    * q_did's parity arms): a nonzero jump here would indict the
    * estimator, not the data. One (user) reduction → two 5-sum side
    * aggregates; slope and intercept are shared double closed forms
    * over integer sums. */
  def qRegDiscontinuity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val u = Tables.df(spark, sfDir, "events")
      .groupBy($"user_id").agg(count(lit(1)).as("y"))
      .select(pmod(conv(substring(md5(concat(lit("rdd:"),
          $"user_id".cast("string"))), 1, 15), 16, 10).cast("long"),
        lit(101L)).as("r"), $"y")
      .filter($"r" >= 25 && $"r" < 75)
      .select(($"r" >= 50).as("right"), ($"r" - 50).as("x"), $"y")
    def side(right: Boolean) = {
      val sfx = if (right) "r" else "l"
      u.filter(if (right) $"right" else !$"right").agg(
        count(lit(1)).as(s"n_$sfx"), sum($"x").as(s"sx_$sfx"),
        sum($"y").as(s"sy_$sfx"), sum($"x" * $"x").as(s"sxx_$sfx"),
        sum($"x" * $"y").as(s"sxy_$sfx"))
    }
    def fit(sfx: String): (Column, Column) = {
      val (n, sx, sy, sxx, sxy) = (col(s"n_$sfx"), col(s"sx_$sfx"),
        col(s"sy_$sfx"), col(s"sxx_$sfx"), col(s"sxy_$sfx"))
      val den = (n * sxx - sx * sx).cast("double")
      val slope = when(den =!= 0.0, (n * sxy - sx * sy).cast("double") / den)
      val icept = (sy.cast("double") - slope * sx.cast("double")) / n
      (slope, icept)
    }
    val j = side(right = false).crossJoin(broadcast(side(right = true)))
    val (bl, al) = fit("l")
    val (br, ar) = fit("r")
    j.select($"n_l", $"n_r",
      round(bl, 6).as("slope_left"), round(al, 6).as("icept_left"),
      round(br, 6).as("slope_right"), round(ar, 6).as("icept_right"),
      round(ar - al, 6).as("effect"))
  }

  // ---- q_simpsons ---------------------------------------------------------
  /** Simpson's-paradox audit (Simpson '51; the Berkeley-admissions
    * failure mode): the association between customer parity and
    * urgent-priority ordering, pooled AND within every market segment,
    * with a per-stratum flag when the stratum's association sign
    * contradicts the pooled sign — the exact condition under which a
    * pooled dashboard metric misleads. A curation platform runs this
    * before trusting any cross-source pooled rate. One orders⋈customer
    * (broadcast dim) pass → (segment, arm) cells → per-stratum rows
    * beside the pooled row; everything exact integers until the two
    * rate divisions. */
  /** The (stratum, treatment, outcome) unit relation shared by
    * [[qSimpsons]] and [[qCmh]] — parity arm × urgent-priority outcome
    * within market segments (one home; the audit and its remedy read
    * the same cells). */
  private def segArmOutcome(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "orders")
      .join(broadcast(Tables.df(spark, sfDir, "customer")
        .select($"c_custkey", $"c_mktsegment")),
        $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("stratum"),
        ($"o_custkey" % 2 === 0).as("t"),
        when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("y"))
  }

  def qSimpsons(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = segArmOutcome(spark, sfDir)
    def cells(g: org.apache.spark.sql.RelationalGroupedDataset) = g.agg(
      sum(when(!$"t", 1L).otherwise(0L)).as("n0"),
      sum(when(!$"t", $"y").otherwise(0L)).as("c0"),
      sum(when($"t", 1L).otherwise(0L)).as("n1"),
      sum(when($"t", $"y").otherwise(0L)).as("c1"))
    def diff = $"c1".cast("double") / $"n1" - $"c0".cast("double") / $"n0"
    val pooled = cells(o.groupBy())
      .select(lit("ALL").as("stratum"), $"n0", $"c0", $"n1", $"c1",
        diff.as("d"))
    val strata = cells(o.groupBy($"stratum"))
      .select($"stratum", $"n0", $"c0", $"n1", $"c1", diff.as("d"))
    val flagged = strata
      .crossJoin(broadcast(pooled.select($"d".as("d_all"))))
      .select($"stratum", $"n0", $"n1",
        round($"c0".cast("double") / $"n0", 6).as("p0"),
        round($"c1".cast("double") / $"n1", 6).as("p1"),
        round($"d", 6).as("diff"),
        ($"d" * $"d_all" < 0.0).as("flipped"))
    val pooledRow = pooled.select($"stratum", $"n0", $"n1",
      round($"c0".cast("double") / $"n0", 6).as("p0"),
      round($"c1".cast("double") / $"n1", 6).as("p1"),
      round($"d", 6).as("diff"), lit(false).as("flipped"))
    pooledRow.union(flagged).orderBy($"stratum")
  }

  // ---- q_cmh --------------------------------------------------------------
  /** Cochran–Mantel–Haenszel stratified association test (Cochran '54;
    * Mantel & Haenszel '59) — the REMEDY for what q_simpsons audits:
    * instead of trusting (or distrusting) the pooled 2×2, test the
    * treatment–outcome association WITHIN every stratum and combine,
    * plus the Mantel–Haenszel common odds ratio. Same (stratum, parity
    * arm, urgent-outcome) cells as q_simpsons via the shared relation.
    * Per stratum: a = exposed successes, E = n1·m1/T, V =
    * n1·n0·m1·m0/(T²(T−1)); χ² = (|Σa−ΣE| − 0.5)²/ΣV (continuity-
    * corrected, 1 df); OR_MH = Σ(ad/T)/Σ(bc/T). E/V/ratio terms round
    * once to 9dp into exact decimal k-row sums. */
  def qCmh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = segArmOutcome(spark, sfDir).groupBy($"stratum").agg(
      sum(when($"t" && $"y" === 1L, 1L).otherwise(0L)).as("a"),
      sum(when($"t" && $"y" === 0L, 1L).otherwise(0L)).as("b"),
      sum(when(!$"t" && $"y" === 1L, 1L).otherwise(0L)).as("c"),
      sum(when(!$"t" && $"y" === 0L, 1L).otherwise(0L)).as("d"))
    val terms = cells.select(
      $"a",
      (($"a" + $"b") * ($"a" + $"c")).cast("double")
        ./(($"a" + $"b" + $"c" + $"d").cast("double")).as("e"),
      (($"a" + $"b") * ($"c" + $"d") * ($"a" + $"c") * ($"b" + $"d"))
        .cast("double")
        ./(($"a" + $"b" + $"c" + $"d").cast("double")
          * ($"a" + $"b" + $"c" + $"d").cast("double")
          * ($"a" + $"b" + $"c" + $"d" - 1).cast("double")).as("v"),
      (($"a" * $"d").cast("double")
        / ($"a" + $"b" + $"c" + $"d").cast("double")).as("ad"),
      (($"b" * $"c").cast("double")
        / ($"a" + $"b" + $"c" + $"d").cast("double")).as("bc"))
    val s = terms.agg(count(lit(1)).as("k"), sum($"a").as("sa"),
      sum(round($"e", 9).cast(dec18_9)).as("se"),
      sum(round($"v", 9).cast(dec18_9)).as("sv"),
      sum(round($"ad", 9).cast(dec18_9)).as("sad"),
      sum(round($"bc", 9).cast(dec18_9)).as("sbc"))
    val dev = abs($"sa".cast("double") - $"se".cast("double")) - 0.5
    val chi2 = when($"sv".cast("double") > 0.0,
      dev * dev / $"sv".cast("double"))
    s.select($"k", $"sa".as("sum_a"),
      round($"se".cast("double"), 6).as("sum_e"),
      round(chi2, 6).as("chi2"),
      (chi2 > 3.841).as("significant"),
      round(when($"sbc".cast("double") > 0.0,
        $"sad".cast("double") / $"sbc".cast("double")), 6).as("or_mh"))
  }

  // ---- q_prop_trend -------------------------------------------------------
  /** Cochran–Armitage trend test (Cochran '54; Armitage '55) for a
    * monotone proportion trend across ORDERED categories — the test
    * behind "does the big-ticket rate fall as priority drops", which a
    * k-level χ² cannot see (it ignores the ordering). Doses are the
    * priority ranks 1..5; outcome = order above the global mean price
    * (data-relative, broadcast 1-row). T = Σsᵢ(aᵢ − nᵢ·p̄) with
    * Var = p̄(1−p̄)·(Σs²n − (Σsn)²/N); z = T/√Var, two-sided 5% bar.
    * One scan → 5-row (dose, n, a) relation → exact-integer moments. */
  def qPropTrend(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.df(spark, sfDir, "orders")
      .select(substring($"o_orderpriority", 1, 1).cast("long").as("s"),
        round($"o_totalprice", 2).cast(dec18_2).as("p"))
    val mean = o.agg((sum($"p").cast("double") / count(lit(1)))
      .as("pbar"))
    val g = o.crossJoin(broadcast(mean))
      .select($"s", when($"p".cast("double") > $"pbar", 1L).otherwise(0L)
        .as("y"))
      .groupBy($"s").agg(count(lit(1)).as("n"), sum($"y").as("a"))
    val m = g.agg(sum($"n").as("nn"), sum($"a").as("aa"),
      sum($"s" * $"n").as("sn"), sum($"s" * $"s" * $"n").as("s2n"),
      sum($"s" * $"a").as("sa"))
    val pbar = $"aa".cast("double") / $"nn"
    val t = $"sa".cast("double") - pbar * $"sn".cast("double")
    val vr = (pbar * (lit(1.0) - pbar))
      .*($"s2n".cast("double")
        - $"sn".cast("double") * $"sn".cast("double") / $"nn")
    val z = when(vr > 0.0, t / sqrt(vr))
    m.select($"nn".as("n"), round(pbar, 6).as("p_overall"),
      round(t, 6).as("t_stat"), round(z, 6).as("z"),
      (abs(z) > 1.96).as("significant"))
  }

  // ---- q_tukey_hsd --------------------------------------------------------
  /** Studentized-range critical values q_{0.05}(k, ∞) by group count —
    * one Scala home rendered into both engines (the chi2Crit05
    * discipline); out-of-table k → NULL significance, surfaced by the
    * hash gate rather than a silently wrong threshold. */
  private[graft] val tukeyQCrit05 = Map(2 -> 2.772, 3 -> 3.314,
    4 -> 3.633, 5 -> 3.858, 6 -> 4.030, 7 -> 4.170, 8 -> 4.286)
  private def tukeyCritCol(k: Column): Column =
    tukeyQCrit05.foldLeft(lit(null).cast("double")) { case (acc, (g, c)) =>
      when(k === g, c).otherwise(acc)
    }
  private[graft] def tukeyCritSql(kExpr: String): String =
    tukeyQCrit05.toSeq.sorted
      .map { case (g, c) => s"WHEN $g THEN $c" }
      .mkString(s"CASE $kExpr ", " ", " END")

  /** Tukey–Kramer honestly-significant-difference post-hoc (Tukey '49;
    * Kramer '56 for unequal n) on the q_anova design: after the
    * omnibus F says the event-type means differ, the k(k−1)/2 pairwise
    * comparisons that say WHICH — each pair's |mean diff| against
    * q_crit·√(MSW/2·(1/nᵢ+1/nⱼ)), with the studentized-range critical
    * value derived from the DATA's k via the shared lookup. MSW comes
    * from the same [[InferOps.anovaCore]] relation q_anova reports (one
    * home for the sums of squares — the two ops cannot drift). Shape:
    * the k-row group-moment relation self-joins (k² tiny at any corpus
    * scale, the corpus itself is touched once). */
  def qTukeyHsd(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.df(spark, sfDir, "events")
      .select($"event_type", round($"value", 2).cast(dec18_2).as("v"))
      .select($"event_type", $"v",
        round($"v".cast("double") * $"v".cast("double"), 4).cast(dec38_4)
          .as("v2"))
    val g = ev.groupBy($"event_type").agg(
      count(lit(1)).as("ng"), sum($"v").as("s1"), sum($"v2").as("s2"))
      .localCheckpoint() // feeds the omnibus core AND both pair sides
    val s = InferOps.anovaCore(g)
      .select($"k", $"n", $"ssw")
    val pairs = g.select($"event_type".as("type_a"), $"ng".as("na"),
        $"s1".as("s1a"))
      .join(g.select($"event_type".as("type_b"), $"ng".as("nb"),
        $"s1".as("s1b")), $"type_a" < $"type_b")
      .crossJoin(broadcast(s))
    val msw = $"ssw".cast("double") / ($"n" - $"k")
    val d = $"s1a".cast("double") / $"na" - $"s1b".cast("double") / $"nb"
    val se = sqrt(msw / 2.0 * (lit(1.0) / $"na" + lit(1.0) / $"nb"))
    val q = when(se > 0.0, abs(d) / se)
    pairs.select($"type_a", $"type_b", $"na", $"nb",
      round(d, 6).as("diff"), round(se, 6).as("se"),
      round(q, 6).as("q_stat"),
      (q > tukeyCritCol($"k")).as("significant"))
      .orderBy($"type_a", $"type_b")
  }

  // ---- q_meta_analysis ----------------------------------------------------
  /** Fixed-effect inverse-variance meta-analysis (Cochran '54) of the
    * parity contrast on customer account balance, one effect per
    * market segment: per-stratum effect eₛ = x̄₁−x̄₀ with Welch
    * variance vₛ, pooled ê = Σwₛeₛ/Σwₛ at weights wₛ = 1/vₛ, its SE
    * √(1/Σw), plus the heterogeneity read: Cochran's Q_het = Σw(e−ê)²
    * on k−1 df and Higgins' I² = max(0, (Q−df)/Q) — the statistic that
    * says whether one pooled number is even a sensible summary of the
    * strata. The canonical cross-SOURCE experiment readout for a
    * segmented corpus. Weights and weighted terms round once to 9dp
    * decimals before their exact k-row sums; every ratio is a shared
    * double formula. Shape: one customer scan → (segment, arm) moment
    * cells → a k-row effect relation → two thin aggregates. */
  def qMetaAnalysis(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.df(spark, sfDir, "customer")
      .select($"c_mktsegment".as("seg"), ($"c_custkey" % 2 === 0).as("t"),
        round($"c_acctbal", 2).cast(dec18_2).as("v"))
      .select($"seg", $"t", $"v",
        round($"v".cast("double") * $"v".cast("double"), 4).cast(dec38_4)
          .as("v2"))
    val cells = c.groupBy($"seg").agg(
      sum(when($"t", 1L).otherwise(0L)).as("n1"),
      sum(when(!$"t", 1L).otherwise(0L)).as("n0"),
      sum(when($"t", $"v")).as("s1a"), sum(when(!$"t", $"v")).as("s1b"),
      sum(when($"t", $"v2")).as("s2a"), sum(when(!$"t", $"v2")).as("s2b"))
    def svar(s2: Column, s1: Column, n: Column) =
      (s2.cast("double") - s1.cast("double") * s1.cast("double") / n) /
        (n - lit(1L))
    val eff = cells.select($"seg",
        ($"s1a".cast("double") / $"n1" - $"s1b".cast("double") / $"n0")
          .as("e"),
        (svar($"s2a", $"s1a", $"n1") / $"n1"
          + svar($"s2b", $"s1b", $"n0") / $"n0").as("v"))
      .filter($"v" > 0.0)
      .select($"seg", $"e", round(lit(1.0) / $"v", 9).cast(dec18_9).as("w"))
      .select($"seg", $"e", $"w",
        round($"w".cast("double") * $"e", 9).cast(dec18_9).as("we"))
      .localCheckpoint() // feeds the pooled row and the Q_het terms
    val pooled = eff.agg(count(lit(1)).as("k"), sum($"w").as("sw"),
        sum($"we").as("swe"))
      .select($"k", $"sw", ($"swe".cast("double") / $"sw").as("pool"))
    val qHet = eff.crossJoin(broadcast(pooled.select($"pool")))
      .select(round($"w".cast("double") * ($"e" - $"pool")
        * ($"e" - $"pool"), 9).cast(dec18_9).as("qt"))
      .agg(sum($"qt").as("q"))
    pooled.crossJoin(broadcast(qHet))
      .select($"k", round($"pool", 6).as("pooled_effect"),
        round(sqrt(lit(1.0) / $"sw".cast("double")), 6).as("se"),
        round($"pool" / sqrt(lit(1.0) / $"sw".cast("double")), 6).as("z"),
        round($"q".cast("double"), 6).as("q_het"),
        ($"k" - lit(1L)).as("df"),
        round(greatest(lit(0.0),
          ($"q".cast("double") - ($"k" - lit(1L)))
            / $"q".cast("double")), 6).as("i2"))
  }

  // ---- q_best_of_n --------------------------------------------------------
  /** Best-of-n sampling curve: the expected MAXIMUM quality score among
    * n independent draws from each source's own score distribution,
    * for n ∈ {1,2,4,8,16} — the number that prices candidate
    * over-generation (rejection sampling / BoN reranking) per corpus
    * source before anyone pays for it. Exact order statistics, not
    * simulation: on the per-source value-grouped ECDF,
    * E[max_n] = Σ_v v·(F(v)ⁿ − F(v⁻)ⁿ). n = 1 reproduces the source
    * mean — the built-in consistency check the spec pins. F is an
    * exact integer ratio; each pow() term rounds once to 9dp into an
    * exact decimal sum (the qTempSample pow discipline). Shape: one
    * corpus pass → per-(source, score) value relation (windows run
    * over it, partitioned by source) → ×5 explode → one aggregate. */
  def qBestOfN(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val vg = Tables.df(spark, sfDir, "documents")
      .select($"source", TextFunctions.qualityScore($"text").as("v"))
      .groupBy($"source", $"v").agg(count(lit(1)).as("nv"))
    val w = Window.partitionBy($"source").orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vg.withColumn("cum", sum($"nv").over(w))
      .withColumn("tot", sum($"nv").over(Window.partitionBy($"source")))
    val terms = cum
      .select($"source", $"v", $"nv", $"cum", $"tot",
        explode(array(lit(1), lit(2), lit(4), lit(8), lit(16))).as("n"))
      .select($"source", $"n",
        round($"v" * (pow($"cum".cast("double") / $"tot",
            $"n".cast("double"))
          - pow(($"cum" - $"nv").cast("double") / $"tot",
            $"n".cast("double"))), 9).cast(dec18_9).as("t"))
    terms.groupBy($"source", $"n")
      .agg(round(sum($"t").cast("double"), 6).as("exp_max"))
      .orderBy($"source", $"n")
  }

  // ---- q_shapley ---------------------------------------------------------
  /** Exact Shapley-value channel attribution (Shapley '53; the
    * data-driven marketing form of Zhao et al. '18): the unit is the
    * USER-DAY journey (the unit-of-analysis lesson — per-user everything
    * saturates on this fixture), its coalition is the set of
    * non-purchase channels touched that day (a bitmask), and the
    * characteristic function v(S) = conversion rate of journeys whose
    * touchset ⊆ S. With k channels the 2^k coalition values come from
    * ONE journeys × subsets bitwise-containment join (2^k is a
    * broadcast-sized literal range — the whole game is k ≤ 8 by
    * construction, while journeys scale freely), and
    * φ_c = Σ_{S∌c} |S|!(k−1−|S|)!/k! · (v(S∪{c}) − v(S)) is exact —
    * factorial weights over bit_count, no sampling. A '__total' row
    * carries v(full) − v(∅) so the efficiency axiom (Σφ = total) is
    * checkable in-output. Weighted terms round once to 9dp into exact
    * decimal sums; S∪{c} is S + 2^c since c ∉ S (no bitwise-OR needed). */
  def qShapley(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.df(spark, sfDir, "events")
    val channels = ev.filter($"event_type" =!= "purchase")
      .select($"event_type".as("channel")).distinct()
      .withColumn("bit",
        row_number().over(Window.orderBy($"channel")) - 1)
      .withColumn("p", pow(lit(2.0), $"bit").cast("int"))
    val kk = channels.agg(count(lit(1)).cast("int").as("k"))
    val cells = ev
      .join(broadcast(channels),
        $"event_type" === $"channel", "left")
      .groupBy($"user_id", to_date($"ts").as("d"))
      .agg(coalesce(sum_distinct($"p"), lit(0)).as("m"),
        max(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("y"))
      .localCheckpoint() // the 2^k containment join reads it once per s
    val subsets = spark.range(0, 256).select($"id".cast("int").as("s"))
      .crossJoin(broadcast(kk))
      .filter($"s" < pow(lit(2.0), $"k").cast("int"))
    val v = subsets.join(cells, expr("(m & s) = m"), "left")
      .groupBy($"s", $"k")
      .agg(count($"m").as("cnt"), sum($"y").as("conv"))
      .select($"s", $"k",
        when($"cnt" > 0, $"conv".cast("double") / $"cnt")
          .otherwise(0.0).as("v"))
      .localCheckpoint() // both sides of the S / S∪{c} join + the total
    val pairs = channels.crossJoin(broadcast(kk))
      .join(v.select($"s", $"v".as("v0")), expr("(s & p) = 0"))
      .join(v.select($"s".as("s1"), $"v".as("v1")),
        expr("s1 = s + p"))
      .withColumn("bc", bit_count($"s"))
      .withColumn("w",
        (factorial($"bc") * factorial($"k" - 1 - $"bc")).cast("double")
          / factorial($"k").cast("double"))
    val phi = pairs.groupBy($"channel")
      .agg(sum(round($"w" * ($"v1" - $"v0"), 9)
        .cast(dec28_9)).as("phi"))
      .select($"channel", round($"phi".cast("double"), 6).as("phi"))
    val total = v
      .agg(sum(when($"s" === pow(lit(2.0), $"k").cast("int") - 1, $"v"))
        .as("vf"),
        sum(when($"s" === 0, $"v")).as("v0"))
      .select(lit("__total").as("channel"),
        round($"vf" - $"v0", 6).as("phi"))
    phi.unionByName(total).orderBy($"channel")
  }

  // ---- q_bayes_ab --------------------------------------------------------

  /** Φ(z) by the Zelen–Severo rational approximation (Abramowitz &
    * Stegun 26.2.17, |ε| < 7.5e-8): a fixed polynomial in
    * t = 1/(1 + 0.2316419|z|) times the normal pdf, with the one libm
    * exp behind the established 9dp argument round. Both engines run
    * this identical shape; 6dp output rounding swallows the
    * approximation and any last-ulp exp drift. */
  private[graft] def normCdf(z: Column): Column = {
    val az = abs(z)
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = t * (lit(0.319381530) + t * (lit(-0.356563782)
      + t * (lit(1.781477937) + t * (lit(-1.821255978)
      + t * lit(1.330274429)))))
    val pdf = exp(round(-(az * az) / 2.0, 9)) * lit(0.3989422804014327)
    val cdfPos = lit(1.0) - pdf * poly
    when(z >= 0, cdfPos).otherwise(lit(1.0) - cdfPos)
  }

  private[queries] def normCdfSql(z: String): String =
    s"""CASE WHEN ($z) >= 0
       | THEN 1.0 - exp(round(-(abs($z) * abs($z)) / 2.0, 9))
       |   * 0.3989422804014327
       |   * ((1.0 / (1.0 + 0.2316419 * abs($z))) * (0.319381530
       |     + (1.0 / (1.0 + 0.2316419 * abs($z))) * (-0.356563782
       |     + (1.0 / (1.0 + 0.2316419 * abs($z))) * (1.781477937
       |     + (1.0 / (1.0 + 0.2316419 * abs($z))) * (-1.821255978
       |     + (1.0 / (1.0 + 0.2316419 * abs($z))) * 1.330274429)))))
       | ELSE 1.0 - (1.0 - exp(round(-(abs($z) * abs($z)) / 2.0, 9))
       |   * 0.3989422804014327
       |   * ((1.0 / (1.0 + 0.2316419 * abs($z))) * (0.319381530
       |     + (1.0 / (1.0 + 0.2316419 * abs($z))) * (-0.356563782
       |     + (1.0 / (1.0 + 0.2316419 * abs($z))) * (1.781477937
       |     + (1.0 / (1.0 + 0.2316419 * abs($z))) * (-1.821255978
       |     + (1.0 / (1.0 + 0.2316419 * abs($z))) * 1.330274429))))))
       | END""".stripMargin.replace("\n", "")

  /** Bayesian A/B readout (Thompson/Stan-style posterior summary with
    * a Beta(1,1) prior, normal posterior approximation — Gelman et al.
    * BDA3 §4 justifies the approximation at these counts): user-day
    * conversion under the parity split, posterior mean/variance of each
    * arm in exact rational moments, P(B > A) = Φ(Δ/σ_Δ) through the
    * shared [[normCdf]], a 95% credible interval for the lift, and the
    * ship/kill/continue decision at the 0.95/0.05 thresholds. The
    * Bayesian twin of q_abtest: same experiment, posterior probability
    * instead of p-value. */
  def qBayesAb(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.df(spark, sfDir, "events")
      .groupBy($"user_id", to_date($"ts").as("d"))
      .agg(max(when($"event_type" === "purchase", 1L).otherwise(0L))
        .as("y"))
      .select(($"user_id" % 2 === 1).as("arm_b"), $"y")
    val s = cells.groupBy($"arm_b")
      .agg(count(lit(1)).as("n"), sum($"y").as("conv"))
    val w = s.select(
      sum(when(!$"arm_b", $"n")).as("na"),
      sum(when(!$"arm_b", $"conv")).as("sa"),
      sum(when($"arm_b", $"n")).as("nb"),
      sum(when($"arm_b", $"conv")).as("sb"))
    def mu(sc: Column, nc: Column) =
      (sc + lit(1L)).cast("double") / (nc + lit(2L))
    def varp(sc: Column, nc: Column) =
      (((sc + lit(1L)) * (nc - sc + lit(1L))).cast("double")
        / (((nc + lit(2L)) * (nc + lit(2L))).cast("double")
          * (nc + lit(3L))))
    val d = mu($"sb", $"nb") - mu($"sa", $"na")
    val sd = sqrt(varp($"sa", $"na") + varp($"sb", $"nb"))
    val prob = normCdf(d / sd)
    w.select($"na".as("n_a"), round(mu($"sa", $"na"), 6).as("conv_a"),
        $"nb".as("n_b"), round(mu($"sb", $"nb"), 6).as("conv_b"),
        round(d, 6).as("lift"), round(sd, 6).as("sd_lift"),
        round(prob, 6).as("prob_b_better"),
        round(d - lit(1.959964) * sd, 6).as("ci_lo"),
        round(d + lit(1.959964) * sd, 6).as("ci_hi"))
      .withColumn("decision",
        when($"prob_b_better" > 0.95, "ship_b")
          .when($"prob_b_better" < 0.05, "ship_a")
          .otherwise("continue"))
  }

  // ---- q_poisson_rate ----------------------------------------------------
  /** Two-sample Poisson rate comparison (the conditional binomial test,
    * Przyborowski & Wilenski '40; Lehmann TSH §4.5): weekend vs weekday
    * event rates with calendar days as exposure. Under H0 (equal
    * rates), k_we | k_we + k_wd ~ Binomial(n, d_we/(d_we + d_wd)), so
    * the score statistic z = (k_we − n·p0)/sqrt(n·p0·(1−p0)) needs only
    * exact integer counts and one sqrt; significance derives from the
    * shared two-sided 5% normal critical value. The capacity-planning
    * primitive: "is weekend traffic per day actually different?" */
  def qPoissonRate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.df(spark, sfDir, "events")
      .select(to_date($"ts").as("d"))
      .withColumn("we",
        datediff($"d", lit("1970-01-05").cast("date")) % 7 >= 5)
    val s = ev.groupBy($"we")
      .agg(count(lit(1)).as("k"), count_distinct($"d").as("days"))
    val w = s.agg(
      sum(when($"we", $"k")).as("k_we"),
      sum(when($"we", $"days")).as("d_we"),
      sum(when(!$"we", $"k")).as("k_wd"),
      sum(when(!$"we", $"days")).as("d_wd"))
    val n = $"k_we" + $"k_wd"
    val p0 = $"d_we".cast("double") / ($"d_we" + $"d_wd")
    val z = (($"k_we".cast("double") - n.cast("double") * p0)
      / sqrt(n.cast("double") * p0 * (lit(1.0) - p0)))
    val rr = (($"k_we".cast("double") / $"d_we")
      / ($"k_wd".cast("double") / $"d_wd"))
    w.select($"k_we", $"d_we", $"k_wd", $"d_wd",
        round($"k_we".cast("double") / $"d_we", 6).as("rate_weekend"),
        round($"k_wd".cast("double") / $"d_wd", 6).as("rate_weekday"),
        round(rr, 6).as("rate_ratio"), round(z, 6).as("z"))
      .withColumn("significant", abs($"z") > 1.959964)
  }

  // ---- q_mediation -------------------------------------------------------
  /** Mediation analysis with the Sobel test (Baron & Kenny '86; Sobel
    * '82): does the parity treatment move purchases THROUGH click
    * engagement? Unit = user-day (the unit-of-analysis rule); X = user
    * parity, M = clicks that day, Y = purchased that day. a: M ~ X;
    * (b, c'): Y ~ X + M in closed form from centered cross-moments;
    * indirect = a·b with Sobel SE sqrt(b²s_a² + a²s_b²). Every raw
    * moment is an exact integer sum (X, Y binary; M a count), so the
    * only cross-engine surface is ONE shared double formula chain —
    * no rounding needed before the final 6dp. Scale: one user-day
    * groupBy then a 1-row moment aggregate; the regressions never
    * materialize a design matrix. */
  def qMediation(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.df(spark, sfDir, "events")
      .groupBy($"user_id", to_date($"ts").as("d"))
      .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("m"),
        max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("y"))
      .select(($"user_id" % 2).as("x"), $"m", $"y")
    val mo = cells.agg(count(lit(1)).as("n"),
      sum($"x").as("sx"), sum($"m").as("sm"), sum($"y").as("sy"),
      sum($"x" * $"m").as("sxm"), sum($"x" * $"y").as("sxy"),
      sum($"m" * $"y").as("smy"), sum($"x" * $"x").as("sxx"),
      sum($"m" * $"m").as("smm"), sum($"y" * $"y").as("syy"))
    mo.withColumn("dxx",
        $"sxx".cast("double") - $"sx".cast("double") * $"sx" / $"n")
      .withColumn("dmm",
        $"smm".cast("double") - $"sm".cast("double") * $"sm" / $"n")
      .withColumn("dyy",
        $"syy".cast("double") - $"sy".cast("double") * $"sy" / $"n")
      .withColumn("dxm",
        $"sxm".cast("double") - $"sx".cast("double") * $"sm" / $"n")
      .withColumn("dxy",
        $"sxy".cast("double") - $"sx".cast("double") * $"sy" / $"n")
      .withColumn("dmy",
        $"smy".cast("double") - $"sm".cast("double") * $"sy" / $"n")
      .withColumn("a", $"dxm" / $"dxx")
      .withColumn("den2", $"dxx" * $"dmm" - $"dxm" * $"dxm")
      .withColumn("b", ($"dxx" * $"dmy" - $"dxm" * $"dxy") / $"den2")
      .withColumn("cdir", ($"dmm" * $"dxy" - $"dxm" * $"dmy") / $"den2")
      .withColumn("sa2",
        (($"dmm" - $"a" * $"dxm") / ($"n" - 2)) / $"dxx")
      .withColumn("sb2",
        (($"dyy" - $"cdir" * $"dxy" - $"b" * $"dmy") / ($"n" - 3))
          * $"dxx" / $"den2")
      .withColumn("se",
        sqrt($"b" * $"b" * $"sa2" + $"a" * $"a" * $"sb2"))
      .withColumn("z",
        when($"se" > 0, $"a" * $"b" / $"se"))
      .select($"n", round($"a", 6).as("a_path"),
        round($"b", 6).as("b_path"),
        round($"cdir", 6).as("direct"),
        round($"a" * $"b", 6).as("indirect"),
        round($"dxy" / $"dxx", 6).as("total"),
        round($"z", 6).as("sobel_z"),
        when($"dxy" =!= 0,
          round($"a" * $"b" / ($"dxy" / $"dxx"), 6))
          .as("prop_mediated"))
      .withColumn("significant",
        abs($"sobel_z") > 1.959964)
  }

  // ---- q_psm_att ---------------------------------------------------------
  /** Propensity-score MATCHING ATT (Rosenbaum & Rubin '83 §3 — the
    * 1-nearest-neighbor estimator, complementing q_propensity's
    * stratification): treatment = the user signed up; outcome = total
    * purchase value; propensity = a frozen logistic over (views,
    * clicks). Each treated user matches the control propensity value
    * nearest its own within a 0.05 caliper (ties across equal distance
    * → the below side; controls sharing a propensity average their
    * outcomes first — matching "with ties averaged"). The nearest
    * neighbor is found with TWO passes of the reused [[graft.operators.AsOf]]
    * step-function join (below on p, above on −p; a +5e-7 tie epsilon
    * admits exact-equality matches through the strictly-before
    * semantics), each partitioned by a 0.05-wide propensity BAND with
    * the control grain replicated to its neighbor bands — a caliper
    * match can never leave the adjacent band, so no global-order
    * window exists anywhere (the quantile_norm scale story, banded).
    * Outcome terms round to 6dp into exact decimal sums. */
  def qPsmAtt(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val acts = Tables.df(spark, sfDir, "events")
      .groupBy($"user_id")
      .agg(sum(when($"event_type" === "view", 1L).otherwise(0L))
          .as("n_views"),
        sum(when($"event_type" === "click", 1L).otherwise(0L))
          .as("n_clicks"),
        sum(when($"event_type" === "signup", 1L).otherwise(0L))
          .as("ns"),
        sum(when($"event_type" === "purchase",
          round($"value", 2).cast(dec12_2))).as("yd"))
      .withColumn("s", $"n_views" + lit(2L) * $"n_clicks")
    // treatment is DATA-RELATIVE (above-mean signup intensity, the exact
    // integer predicate ns·n > Σns — on this fixture every user has
    // every event type, so presence-based treatment saturates), and the
    // activity score standardizes against its own corpus moments so the
    // logistic stays in-range at every SF (a fixed offset saturates to
    // p = 1 as per-user activity grows with scale)
    val sm = acts.agg(count(lit(1)).as("nu"),
      sum($"ns").as("sns"),
      sum($"s").as("ss"), sum($"s" * $"s").as("ss2"))
    val users = acts.crossJoin(broadcast(sm))
      .withColumn("treated",
        when($"ns" * $"nu" > $"sns", 1L).otherwise(0L))
      .withColumn("mu", $"ss".cast("double") / $"nu")
      .withColumn("sd", sqrt(($"ss2".cast("double")
        - $"ss".cast("double") * $"ss" / $"nu") / ($"nu" - 1)))
      .select($"user_id", $"treated",
        round(lit(1.0) / (lit(1.0)
          + exp(round(-(($"s" - $"mu") / $"sd"), 9))), 6).as("p"),
        coalesce($"yd".cast("double"), lit(0.0)).as("y"))
      .localCheckpoint() // treated arm, control grain, and the counts
    val cg = users.filter($"treated" === 0)
      .groupBy($"p".as("pc"))
      .agg(round(sum(round($"y", 6).cast(dec28_9)).cast("double")
        / count(lit(1)), 6).as("yb"))
      .withColumn("b0", floor($"pc" * 20).cast("long"))
      .select(explode(array($"b0" - 1, $"b0", $"b0" + 1)).as("band"),
        $"pc", $"yb")
    val tr = users.filter($"treated" === 1)
      .withColumn("band", floor($"p" * 20).cast("long"))
    val below = graft.operators.AsOf.asOfJoin(
      tr.withColumn("t1", $"p" + lit(5e-7)),
      cg.select($"band", $"pc".as("t1"), $"pc", $"yb"),
      "band", "t1", Seq("pc", "yb"))
      .select($"user_id", $"p", $"y",
        $"prior_pc".as("pc_b"), $"prior_yb".as("yb_b"))
    val above = graft.operators.AsOf.asOfJoin(
      tr.withColumn("t2", -$"p" + lit(5e-7)),
      cg.select($"band", (-$"pc").as("t2"), $"pc", $"yb"),
      "band", "t2", Seq("pc", "yb"))
      .select($"user_id", $"prior_pc".as("pc_a"), $"prior_yb".as("yb_a"))
    // diffs of 6dp propensities round to 6dp BEFORE the caliper compare:
    // a raw double `p - pc <= 0.05` can disagree with the oracle's
    // equivalent predicate by one ulp exactly at the caliper boundary
    val cal = lit(0.05)
    val matched = below.join(above, "user_id")
      .withColumn("db", when($"pc_b".isNotNull
        && round($"p" - $"pc_b", 6) <= cal, round($"p" - $"pc_b", 6)))
      .withColumn("da", when($"pc_a".isNotNull
        && round($"pc_a" - $"p", 6) <= cal, round($"pc_a" - $"p", 6)))
      .withColumn("use_b", $"db".isNotNull
        && ($"da".isNull || $"db" <= $"da"))
      .withColumn("ym", when($"use_b", $"yb_b")
        .otherwise(when($"da".isNotNull, $"yb_a")))
      .withColumn("pd", when($"use_b", $"db")
        .otherwise(when($"da".isNotNull, $"da")))
    val nctl = users.filter($"treated" === 0)
      .agg(count(lit(1)).as("n_control"))
    matched.agg(
        count(lit(1)).as("n_treated"),
        sum(when($"ym".isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(when($"ym".isNotNull,
          round($"y" - $"ym", 6).cast(dec28_9))).as("sdiff"),
        sum(when($"ym".isNotNull,
          round($"pd", 6).cast(dec28_9))).as("spd"))
      .crossJoin(broadcast(nctl))
      .select($"n_treated", $"n_control", $"n_matched",
        round($"sdiff".cast("double") / $"n_matched", 6).as("att"),
        round($"spd".cast("double") / $"n_matched", 6)
          .as("mean_abs_pdiff"))
  }

  // ---- q_qini --------------------------------------------------------------
  /** Qini / uplift targeting curve (Radcliffe '07; the AUUC family):
    * users ranked by the SAME frozen standardized-logistic activity
    * score q_psm_att uses, cut into score deciles, and per cumulative
    * targeting depth k/10 the incremental-conversion read: uplift rate
    * C_t/N_t − C_c/N_c and the Qini value C_t − C_c·N_t/N_c — the curve
    * that decides "how deep into the scored list is treatment worth
    * applying". Treatment is the parity pseudo-treatment, so the
    * PINNED fixture read is a curve hugging the random line (uplift ≈ 0
    * per decile) — the null a real experiment log would depart from;
    * what the plan proves is the machinery.
    *
    * Scale shape: decile boundaries come from the histogram-refine
    * quantile kernel (never a corpus-grain rank window), rounded to 6dp
    * before comparison (the q_bin_quantile oracle idiom, matching
    * DuckDB quantile_cont); the curve accumulates over the bounded
    * 10-row decile relation. */
  def qQini(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val acts = Tables.df(spark, sfDir, "events")
      .groupBy($"user_id")
      .agg(sum(when($"event_type" === "view", 1L).otherwise(0L))
          .as("nv"),
        sum(when($"event_type" === "click", 1L).otherwise(0L))
          .as("nc0"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("np"))
      .withColumn("s", $"nv" + lit(2L) * $"nc0")
    val sm = acts.agg(count(lit(1)).as("nu"),
      sum($"s").as("ss"), sum($"s" * $"s").as("ss2"))
    val users = acts.crossJoin(broadcast(sm))
      .withColumn("mu", $"ss".cast("double") / $"nu")
      .withColumn("sd", sqrt(($"ss2".cast("double")
        - $"ss".cast("double") * $"ss" / $"nu") / ($"nu" - 1)))
      .select($"user_id",
        when($"user_id" % 2 === 0, 1L).otherwise(0L).as("w"),
        when($"np" > 0, 1L).otherwise(0L).as("conv"),
        round(lit(1.0) / (lit(1.0)
          + exp(round(-(($"s" - $"mu") / $"sd"), 9))), 6).as("p"))
      .localCheckpoint() // quantile pass + the decile assignment
    val bnds = graft.operators.Quantiles
      .exactQuantiles(users, $"p", (1 to 9).map(_ / 10.0))
      .select(round($"b", 6).as("b"))
    val cells = users.crossJoin(broadcast(bnds))
      .groupBy($"user_id", $"w", $"conv", $"p")
      .agg(sum(when($"p" > $"b", 1).otherwise(0)).as("nb"))
      .withColumn("decile", (lit(10) - $"nb").cast("int"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n"),
        sum($"w").as("nt"),
        sum(when($"w" === 1, $"conv").otherwise(0L)).as("ct"),
        sum(lit(1L) - $"w").as("ncl"),
        sum(when($"w" === 0, $"conv").otherwise(0L)).as("ccl"))
    val tot = cells.agg(sum($"n").as("n_users"))
    // bounded 10-row cumulative window
    val wC = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cn", sum($"n").over(wC))
      .withColumn("cnt", sum($"nt").over(wC))
      .withColumn("cct", sum($"ct").over(wC))
      .withColumn("cnc", sum($"ncl").over(wC))
      .withColumn("ccc", sum($"ccl").over(wC))
      .crossJoin(broadcast(tot))
      .select($"decile", $"n",
        round($"cn".cast("double") / $"n_users", 6).as("frac_targeted"),
        round(when($"cnt" > 0 && $"cnc" > 0,
          $"cct".cast("double") / $"cnt"
            - $"ccc".cast("double") / $"cnc"), 6).as("uplift"),
        round(when($"cnc" > 0,
          $"cct".cast("double") - $"ccc".cast("double") * $"cnt" / $"cnc"),
          6).as("qini"))
      .orderBy($"decile")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_qini" -> qQini,
    "q_mediation" -> qMediation,
    "q_psm_att" -> qPsmAtt,
    "q_shapley" -> qShapley,
    "q_bayes_ab" -> qBayesAb,
    "q_poisson_rate" -> qPoissonRate,
    "q_iv_wald" -> qIvWald,
    "q_reg_discontinuity" -> qRegDiscontinuity,
    "q_simpsons" -> qSimpsons,
    "q_cmh" -> qCmh,
    "q_prop_trend" -> qPropTrend,
    "q_tukey_hsd" -> qTukeyHsd,
    "q_meta_analysis" -> qMetaAnalysis,
    "q_best_of_n" -> qBestOfN
  )

  val oracle: Map[String, String] = Map(
    // same standardized logistic (9dp-rounded exponent), quantile_cont
    // boundaries rounded to 6dp (the q_bin_quantile idiom), same
    // 10-row cumulative curve
    "q_qini" ->
      """WITH acts AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nv,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nc0,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS np
        |  FROM events GROUP BY user_id),
        |a2 AS (SELECT user_id, np, nv + 2 * nc0 AS s FROM acts),
        |sm AS (
        |  SELECT count(*) AS nu, CAST(sum(s) AS BIGINT) AS ss,
        |    CAST(sum(s * s) AS BIGINT) AS ss2
        |  FROM a2),
        |users AS (
        |  SELECT user_id,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS w,
        |    CASE WHEN np > 0 THEN 1 ELSE 0 END AS conv,
        |    round(1.0 / (1.0 + exp(round(-((s - CAST(ss AS DOUBLE) / nu)
        |      / sqrt((CAST(ss2 AS DOUBLE) - CAST(ss AS DOUBLE) * ss / nu)
        |        / (nu - 1))), 9))), 6) AS p
        |  FROM a2 CROSS JOIN sm),
        |bnds AS (
        |  SELECT list_transform(
        |    quantile_cont(p, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8,
        |      0.9]), b -> round(b, 6)) AS bs
        |  FROM users),
        |dec AS (
        |  SELECT w, conv,
        |    CAST(10 - len(list_filter(bs, b -> p > b)) AS INT) AS decile
        |  FROM users CROSS JOIN bnds),
        |cells AS (
        |  SELECT decile, count(*) AS n,
        |    CAST(sum(w) AS BIGINT) AS nt,
        |    CAST(sum(CASE WHEN w = 1 THEN conv ELSE 0 END) AS BIGINT)
        |      AS ct,
        |    CAST(sum(1 - w) AS BIGINT) AS ncl,
        |    CAST(sum(CASE WHEN w = 0 THEN conv ELSE 0 END) AS BIGINT)
        |      AS ccl
        |  FROM dec GROUP BY decile),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_users FROM cells),
        |cum AS (
        |  SELECT decile, n,
        |    sum(n) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS cn,
        |    sum(nt) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS cnt,
        |    sum(ct) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS cct,
        |    sum(ncl) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS cnc,
        |    sum(ccl) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS ccc
        |  FROM cells)
        |SELECT decile, n,
        |  round(CAST(cn AS DOUBLE) / n_users, 6) AS frac_targeted,
        |  round(CASE WHEN cnt > 0 AND cnc > 0 THEN
        |    CAST(cct AS DOUBLE) / cnt - CAST(ccc AS DOUBLE) / cnc END, 6)
        |    AS uplift,
        |  round(CASE WHEN cnc > 0 THEN
        |    CAST(cct AS DOUBLE) - CAST(ccc AS DOUBLE) * cnt / cnc END, 6)
        |    AS qini
        |FROM cum CROSS JOIN tot
        |ORDER BY decile""".stripMargin,

    // exact integer raw moments; the centered-moment / coefficient /
    // Sobel chain is the identical double formula shape step by step
    "q_mediation" ->
      ("""WITH cells AS (
        |  SELECT user_id % 2 AS x,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS m,
        |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(m) AS BIGINT) AS sm,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * m) AS BIGINT) AS sxm,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(m * y) AS BIGINT) AS smy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(m * m) AS BIGINT) AS smm,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM cells),
        |d AS (SELECT n,
        |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS dxx,
        |    CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * sm / n AS dmm,
        |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS dyy,
        |    CAST(sxm AS DOUBLE) - CAST(sx AS DOUBLE) * sm / n AS dxm,
        |    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n AS dxy,
        |    CAST(smy AS DOUBLE) - CAST(sm AS DOUBLE) * sy / n AS dmy
        |  FROM mo),
        |e AS (SELECT *, dxm / dxx AS a,
        |    dxx * dmm - dxm * dxm AS den2 FROM d),
        |f AS (SELECT *,
        |    (dxx * dmy - dxm * dxy) / den2 AS b,
        |    (dmm * dxy - dxm * dmy) / den2 AS cdir FROM e),
        |g AS (SELECT *,
        |    ((dmm - a * dxm) / (n - 2)) / dxx AS sa2,
        |    ((dyy - cdir * dxy - b * dmy) / (n - 3)) * dxx / den2 AS sb2
        |  FROM f),
        |h AS (SELECT *, sqrt(b * b * sa2 + a * a * sb2) AS se FROM g),
        |i AS (SELECT n, round(a, 6) AS a_path, round(b, 6) AS b_path,
        |    round(cdir, 6) AS direct, round(a * b, 6) AS indirect,
        |    round(dxy / dxx, 6) AS total,
        |    CASE WHEN se > 0 THEN round(a * b / se, 6) END AS sobel_z,
        |    CASE WHEN dxy <> 0 THEN round(a * b / (dxy / dxx), 6) END
        |      AS prop_mediated
        |  FROM h)
        |SELECT i.*, abs(sobel_z) > 1.959964 AS significant FROM i"""
        .stripMargin),

    // same standardized logistic, same tie-averaged control grain, same
    // 6dp-rounded caliper predicate; the oracle finds the nearest match
    // by argmin over the caliper theta-join (the as-of pair collapses
    // to that on the thin control grain)
    "q_psm_att" ->
      ("""WITH acts AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nv,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nc,
        |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ns,
        |    sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value, 2) AS DECIMAL(12,2)) END) AS yd
        |  FROM events GROUP BY user_id),
        |a2 AS (SELECT user_id, ns, nv + 2 * nc AS s, yd FROM acts),
        |sm AS (SELECT CAST(count(*) AS BIGINT) AS nu,
        |    CAST(sum(ns) AS BIGINT) AS sns,
        |    CAST(sum(s) AS BIGINT) AS ss,
        |    CAST(sum(s * s) AS BIGINT) AS ss2 FROM a2),
        |users AS (
        |  SELECT user_id,
        |    CASE WHEN ns * nu > sns THEN 1 ELSE 0 END AS treated,
        |    round(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
        |      + exp(round(-((s - CAST(ss AS DOUBLE) / nu)
        |        / sqrt((CAST(ss2 AS DOUBLE) - CAST(ss AS DOUBLE) * ss / nu)
        |          / (nu - 1))), 9))), 6) AS p,
        |    COALESCE(CAST(yd AS DOUBLE), CAST(0 AS DOUBLE)) AS y
        |  FROM a2 CROSS JOIN sm),
        |cg AS (SELECT p AS pc,
        |    round(CAST(sum(CAST(round(y, 6) AS DECIMAL(28,9))) AS DOUBLE)
        |      / count(*), 6) AS yb
        |  FROM users WHERE treated = 0 GROUP BY p),
        |tr AS (SELECT user_id, p, y FROM users WHERE treated = 1),
        |m AS (
        |  SELECT t.user_id, t.y, c.yb,
        |    round(abs(t.p - c.pc), 6) AS pd,
        |    row_number() OVER (PARTITION BY t.user_id
        |      ORDER BY round(abs(t.p - c.pc), 6),
        |        CASE WHEN c.pc <= t.p THEN 0 ELSE 1 END, c.pc) AS rn
        |  FROM tr t JOIN cg c
        |    ON round(t.p - c.pc, 6) <= 0.05
        |    AND round(c.pc - t.p, 6) <= 0.05),
        |mm AS (SELECT user_id, y, yb, pd FROM m WHERE rn = 1),
        |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_treated FROM tr),
        |nc2 AS (SELECT CAST(count(*) AS BIGINT) AS n_control
        |        FROM users WHERE treated = 0),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_matched,
        |    sum(CAST(round(y - yb, 6) AS DECIMAL(28,9))) AS sdiff,
        |    sum(CAST(pd AS DECIMAL(28,9))) AS spd FROM mm)
        |SELECT n_treated, n_control, n_matched,
        |  round(CAST(sdiff AS DOUBLE) / n_matched, 6) AS att,
        |  round(CAST(spd AS DOUBLE) / n_matched, 6) AS mean_abs_pdiff
        |FROM cnt CROSS JOIN nc2 CROSS JOIN ag""".stripMargin),

    // same channel bit order, same 2^k literal-range coalitions, same
    // exact factorial weights and 9dp-rounded marginal terms
    "q_shapley" ->
      ("""WITH ch AS (
        |  SELECT channel, row_number() OVER (ORDER BY channel) - 1
        |    AS bit
        |  FROM (SELECT DISTINCT event_type AS channel FROM events
        |        WHERE event_type <> 'purchase')),
        |chp AS (
        |  SELECT channel, bit, CAST(power(2, bit) AS INT) AS p FROM ch),
        |kk AS (SELECT CAST(count(*) AS INT) AS k FROM chp),
        |cells AS (
        |  SELECT e.user_id, CAST(e.ts AS DATE) AS d,
        |    coalesce(sum(DISTINCT c.p), 0) AS m,
        |    max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS y
        |  FROM events e LEFT JOIN chp c ON c.channel = e.event_type
        |  GROUP BY 1, 2),
        |sub AS (
        |  SELECT CAST(s AS INT) AS s, k
        |  FROM (SELECT unnest(range(0, 256)) AS s) CROSS JOIN kk
        |  WHERE s < CAST(power(2, k) AS INT)),
        |v AS (
        |  SELECT sub.s, sub.k,
        |    CASE WHEN count(c.m) > 0
        |      THEN CAST(sum(c.y) AS DOUBLE) / count(c.m)
        |      ELSE 0.0 END AS v
        |  FROM sub LEFT JOIN cells c ON (c.m & sub.s) = c.m
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT cp.channel,
        |    CAST(round((CAST(factorial(bit_count(v0.s))
        |        * factorial(v0.k - 1 - bit_count(v0.s)) AS DOUBLE)
        |        / CAST(factorial(v0.k) AS DOUBLE))
        |      * (v1.v - v0.v), 9) AS DECIMAL(28,9)) AS term
        |  FROM chp cp
        |  JOIN v v0 ON (v0.s & cp.p) = 0
        |  JOIN v v1 ON v1.s = v0.s + cp.p),
        |phi AS (
        |  SELECT channel, round(CAST(sum(term) AS DOUBLE), 6) AS phi
        |  FROM pairs GROUP BY 1),
        |tot AS (
        |  SELECT '__total' AS channel,
        |    round(sum(CASE WHEN s = CAST(power(2, k) AS INT) - 1
        |        THEN v END)
        |      - sum(CASE WHEN s = 0 THEN v END), 6) AS phi
        |  FROM v)
        |SELECT channel, phi FROM phi
        |UNION ALL SELECT channel, phi FROM tot
        |ORDER BY channel""".stripMargin),

    "q_bayes_ab" -> {
      val z = "d / sd"
      (s"""WITH cells AS (
        |  SELECT user_id % 2 = 1 AS arm_b,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS y
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |s AS (
        |  SELECT arm_b, count(*) AS n, CAST(sum(y) AS BIGINT) AS conv
        |  FROM cells GROUP BY 1),
        |w AS (SELECT
        |    CAST(sum(CASE WHEN NOT arm_b THEN n END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN NOT arm_b THEN conv END) AS BIGINT)
        |      AS sa,
        |    CAST(sum(CASE WHEN arm_b THEN n END) AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN arm_b THEN conv END) AS BIGINT) AS sb
        |  FROM s),
        |m AS (SELECT na, sa, nb, sb,
        |    CAST(sb + 1 AS DOUBLE) / (nb + 2)
        |      - CAST(sa + 1 AS DOUBLE) / (na + 2) AS d,
        |    sqrt(CAST((sa + 1) * (na - sa + 1) AS DOUBLE)
        |        / (CAST((na + 2) * (na + 2) AS DOUBLE) * (na + 3))
        |      + CAST((sb + 1) * (nb - sb + 1) AS DOUBLE)
        |        / (CAST((nb + 2) * (nb + 2) AS DOUBLE) * (nb + 3)))
        |      AS sd
        |  FROM w),
        |r AS (SELECT na AS n_a,
        |    round(CAST(sa + 1 AS DOUBLE) / (na + 2), 6) AS conv_a,
        |    nb AS n_b,
        |    round(CAST(sb + 1 AS DOUBLE) / (nb + 2), 6) AS conv_b,
        |    round(d, 6) AS lift, round(sd, 6) AS sd_lift,
        |    round(${normCdfSql(z)}, 6) AS prob_b_better,
        |    round(d - 1.959964 * sd, 6) AS ci_lo,
        |    round(d + 1.959964 * sd, 6) AS ci_hi
        |  FROM m)
        |SELECT r.*, CASE WHEN prob_b_better > 0.95 THEN 'ship_b'
        |  WHEN prob_b_better < 0.05 THEN 'ship_a'
        |  ELSE 'continue' END AS decision
        |FROM r""".stripMargin)
    },

    "q_poisson_rate" ->
      ("""WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    CAST(date_diff('day', DATE '1970-01-05', CAST(ts AS DATE))
        |      % 7 AS INT) >= 5 AS we
        |  FROM events),
        |s AS (
        |  SELECT we, count(*) AS k, count(DISTINCT d) AS days
        |  FROM ev GROUP BY 1),
        |w AS (SELECT
        |    CAST(sum(CASE WHEN we THEN k END) AS BIGINT) AS k_we,
        |    CAST(sum(CASE WHEN we THEN days END) AS BIGINT) AS d_we,
        |    CAST(sum(CASE WHEN NOT we THEN k END) AS BIGINT) AS k_wd,
        |    CAST(sum(CASE WHEN NOT we THEN days END) AS BIGINT) AS d_wd
        |  FROM s),
        |r AS (SELECT k_we, d_we, k_wd, d_wd,
        |    round(CAST(k_we AS DOUBLE) / d_we, 6) AS rate_weekend,
        |    round(CAST(k_wd AS DOUBLE) / d_wd, 6) AS rate_weekday,
        |    round((CAST(k_we AS DOUBLE) / d_we)
        |      / (CAST(k_wd AS DOUBLE) / d_wd), 6) AS rate_ratio,
        |    round((CAST(k_we AS DOUBLE) - CAST(k_we + k_wd AS DOUBLE)
        |        * (CAST(d_we AS DOUBLE) / (d_we + d_wd)))
        |      / sqrt(CAST(k_we + k_wd AS DOUBLE)
        |        * (CAST(d_we AS DOUBLE) / (d_we + d_wd))
        |        * (1.0 - CAST(d_we AS DOUBLE) / (d_we + d_wd))), 6)
        |      AS z
        |  FROM w)
        |SELECT r.*, abs(z) > 1.959964 AS significant FROM r"""
        .stripMargin),

    "q_iv_wald" ->
      """WITH u AS (
        |  SELECT user_id % 2 = 0 AS z,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value, 2) AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
        |  FROM events GROUP BY user_id),
        |s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN z THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN NOT z THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN z THEN x END) AS BIGINT) AS sx1,
        |    CAST(sum(CASE WHEN NOT z THEN x END) AS BIGINT) AS sx0,
        |    CAST(sum(CASE WHEN z THEN x * x END) AS BIGINT) AS sxx1,
        |    CAST(sum(CASE WHEN NOT z THEN x * x END) AS BIGINT) AS sxx0,
        |    sum(CASE WHEN z THEN y END) AS sy1,
        |    sum(CASE WHEN NOT z THEN y END) AS sy0
        |  FROM u),
        |f AS (
        |  SELECT n0, n1,
        |    CAST(sx0 AS DOUBLE) / n0 AS mx0, CAST(sx1 AS DOUBLE) / n1 AS mx1,
        |    CAST(sy0 AS DOUBLE) / n0 AS my0, CAST(sy1 AS DOUBLE) / n1 AS my1,
        |    (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
        |       * CAST(sx1 AS DOUBLE) / n1) / (n1 - 1) / n1
        |    + (CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE)
        |       * CAST(sx0 AS DOUBLE) / n0) / (n0 - 1) / n0 AS vfs
        |  FROM s)
        |SELECT n0, n1,
        |  round(mx0, 6) AS x_mean_z0, round(mx1, 6) AS x_mean_z1,
        |  round(my0, 6) AS y_mean_z0, round(my1, 6) AS y_mean_z1,
        |  round(my1 - my0, 6) AS itt,
        |  round(mx1 - mx0, 6) AS first_stage,
        |  round(CASE WHEN sqrt(vfs) > 0.0 THEN
        |    ((mx1 - mx0) / sqrt(vfs)) * ((mx1 - mx0) / sqrt(vfs)) END, 6)
        |    AS first_stage_f,
        |  coalesce(CASE WHEN sqrt(vfs) > 0.0 THEN
        |    ((mx1 - mx0) / sqrt(vfs)) * ((mx1 - mx0) / sqrt(vfs)) < 10.0
        |    END, TRUE) AS weak,
        |  round(CASE WHEN mx1 - mx0 <> 0.0
        |    THEN (my1 - my0) / (mx1 - mx0) END, 6) AS iv_estimate
        |FROM f""".stripMargin,

    "q_reg_discontinuity" ->
      """WITH u AS (
        |  SELECT ('0x' || substr(md5('rdd:' || CAST(user_id AS VARCHAR)),
        |      1, 15))::BIGINT % 101 AS r,
        |    count(*) AS y
        |  FROM events GROUP BY user_id),
        |b AS (
        |  SELECT r >= 50 AS side, r - 50 AS x, y FROM u
        |  WHERE r >= 25 AND r < 75),
        |m AS (
        |  SELECT
        |    CAST(sum(CASE WHEN NOT side THEN 1 ELSE 0 END) AS BIGINT) AS n_l,
        |    CAST(sum(CASE WHEN NOT side THEN x END) AS BIGINT) AS sx_l,
        |    CAST(sum(CASE WHEN NOT side THEN y END) AS BIGINT) AS sy_l,
        |    CAST(sum(CASE WHEN NOT side THEN x * x END) AS BIGINT) AS sxx_l,
        |    CAST(sum(CASE WHEN NOT side THEN x * y END) AS BIGINT) AS sxy_l,
        |    CAST(sum(CASE WHEN side THEN 1 ELSE 0 END) AS BIGINT) AS n_r,
        |    CAST(sum(CASE WHEN side THEN x END) AS BIGINT) AS sx_r,
        |    CAST(sum(CASE WHEN side THEN y END) AS BIGINT) AS sy_r,
        |    CAST(sum(CASE WHEN side THEN x * x END) AS BIGINT) AS sxx_r,
        |    CAST(sum(CASE WHEN side THEN x * y END) AS BIGINT) AS sxy_r
        |  FROM b),
        |f AS (
        |  SELECT n_l, n_r,
        |    CASE WHEN CAST(n_l * sxx_l - sx_l * sx_l AS DOUBLE) <> 0.0
        |      THEN CAST(n_l * sxy_l - sx_l * sy_l AS DOUBLE)
        |        / CAST(n_l * sxx_l - sx_l * sx_l AS DOUBLE) END AS bl,
        |    CASE WHEN CAST(n_r * sxx_r - sx_r * sx_r AS DOUBLE) <> 0.0
        |      THEN CAST(n_r * sxy_r - sx_r * sy_r AS DOUBLE)
        |        / CAST(n_r * sxx_r - sx_r * sx_r AS DOUBLE) END AS br,
        |    sx_l, sy_l, sx_r, sy_r
        |  FROM m)
        |SELECT n_l, n_r,
        |  round(bl, 6) AS slope_left,
        |  round((CAST(sy_l AS DOUBLE) - bl * CAST(sx_l AS DOUBLE)) / n_l, 6)
        |    AS icept_left,
        |  round(br, 6) AS slope_right,
        |  round((CAST(sy_r AS DOUBLE) - br * CAST(sx_r AS DOUBLE)) / n_r, 6)
        |    AS icept_right,
        |  round((CAST(sy_r AS DOUBLE) - br * CAST(sx_r AS DOUBLE)) / n_r
        |    - (CAST(sy_l AS DOUBLE) - bl * CAST(sx_l AS DOUBLE)) / n_l, 6)
        |    AS effect
        |FROM f""".stripMargin,

    "q_simpsons" ->
      """WITH o AS (
        |  SELECT c.c_mktsegment AS stratum,
        |    o.o_custkey % 2 = 0 AS t,
        |    CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END AS y
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        |pooled AS (
        |  SELECT
        |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN NOT t THEN y ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS c1
        |  FROM o),
        |strata AS (
        |  SELECT stratum,
        |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN NOT t THEN y ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS c1
        |  FROM o GROUP BY stratum)
        |SELECT stratum, n0, n1, p0, p1, diff, flipped FROM (
        |  SELECT 'ALL' AS stratum, n0, n1,
        |    round(CAST(c0 AS DOUBLE) / n0, 6) AS p0,
        |    round(CAST(c1 AS DOUBLE) / n1, 6) AS p1,
        |    round(CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0, 6)
        |      AS diff,
        |    FALSE AS flipped
        |  FROM pooled
        |  UNION ALL
        |  SELECT s.stratum, s.n0, s.n1,
        |    round(CAST(s.c0 AS DOUBLE) / s.n0, 6) AS p0,
        |    round(CAST(s.c1 AS DOUBLE) / s.n1, 6) AS p1,
        |    round(CAST(s.c1 AS DOUBLE) / s.n1
        |      - CAST(s.c0 AS DOUBLE) / s.n0, 6) AS diff,
        |    (CAST(s.c1 AS DOUBLE) / s.n1 - CAST(s.c0 AS DOUBLE) / s.n0)
        |      * (CAST(p.c1 AS DOUBLE) / p.n1 - CAST(p.c0 AS DOUBLE) / p.n0)
        |      < 0.0 AS flipped
        |  FROM strata s CROSS JOIN pooled p)
        |ORDER BY stratum""".stripMargin,

    // same (stratum, t, y) source as q_simpsons; E/V/odds terms are the
    // identical once-rounded 9dp decimals
    "q_cmh" ->
      """WITH o AS (
        |  SELECT c.c_mktsegment AS stratum,
        |    o.o_custkey % 2 = 0 AS t,
        |    CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END AS y
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        |cells AS (
        |  SELECT stratum,
        |    CAST(sum(CASE WHEN t AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(sum(CASE WHEN t AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b,
        |    CAST(sum(CASE WHEN NOT t AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN NOT t AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM o GROUP BY stratum),
        |terms AS (
        |  SELECT a,
        |    CAST((a + b) * (a + c) AS DOUBLE)
        |      / CAST(a + b + c + d AS DOUBLE) AS e,
        |    CAST((a + b) * (c + d) * (a + c) * (b + d) AS DOUBLE)
        |      / (CAST(a + b + c + d AS DOUBLE)
        |        * CAST(a + b + c + d AS DOUBLE)
        |        * CAST(a + b + c + d - 1 AS DOUBLE)) AS v,
        |    CAST(a * d AS DOUBLE) / CAST(a + b + c + d AS DOUBLE) AS ad,
        |    CAST(b * c AS DOUBLE) / CAST(a + b + c + d AS DOUBLE) AS bc
        |  FROM cells),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(a) AS BIGINT) AS sa,
        |    sum(CAST(round(e, 9) AS DECIMAL(18,9))) AS se,
        |    sum(CAST(round(v, 9) AS DECIMAL(18,9))) AS sv,
        |    sum(CAST(round(ad, 9) AS DECIMAL(18,9))) AS sad,
        |    sum(CAST(round(bc, 9) AS DECIMAL(18,9))) AS sbc
        |  FROM terms)
        |SELECT k, sa AS sum_a, round(CAST(se AS DOUBLE), 6) AS sum_e,
        |  round(CASE WHEN CAST(sv AS DOUBLE) > 0.0 THEN
        |    (abs(CAST(sa AS DOUBLE) - CAST(se AS DOUBLE)) - 0.5)
        |      * (abs(CAST(sa AS DOUBLE) - CAST(se AS DOUBLE)) - 0.5)
        |      / CAST(sv AS DOUBLE) END, 6) AS chi2,
        |  CASE WHEN CAST(sv AS DOUBLE) > 0.0 THEN
        |    (abs(CAST(sa AS DOUBLE) - CAST(se AS DOUBLE)) - 0.5)
        |      * (abs(CAST(sa AS DOUBLE) - CAST(se AS DOUBLE)) - 0.5)
        |      / CAST(sv AS DOUBLE) END > 3.841 AS significant,
        |  round(CASE WHEN CAST(sbc AS DOUBLE) > 0.0 THEN
        |    CAST(sad AS DOUBLE) / CAST(sbc AS DOUBLE) END, 6) AS or_mh
        |FROM s""".stripMargin,

    "q_prop_trend" ->
      """WITH o AS (
        |  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS s,
        |    CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS p
        |  FROM orders),
        |mn AS (SELECT CAST(sum(p) AS DOUBLE) / count(*) AS pbar_price
        |       FROM o),
        |g AS (
        |  SELECT s, count(*) AS n,
        |    CAST(sum(CASE WHEN CAST(p AS DOUBLE) > pbar_price
        |      THEN 1 ELSE 0 END) AS BIGINT) AS a
        |  FROM o CROSS JOIN mn GROUP BY s),
        |m AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(a) AS BIGINT) AS aa,
        |    CAST(sum(s * n) AS BIGINT) AS sn,
        |    CAST(sum(s * s * n) AS BIGINT) AS s2n,
        |    CAST(sum(s * a) AS BIGINT) AS sa
        |  FROM g),
        |f AS (
        |  SELECT nn, CAST(aa AS DOUBLE) / nn AS pbar,
        |    CAST(sa AS DOUBLE)
        |      - (CAST(aa AS DOUBLE) / nn) * CAST(sn AS DOUBLE) AS t,
        |    ((CAST(aa AS DOUBLE) / nn)
        |       * (1.0 - CAST(aa AS DOUBLE) / nn))
        |      * (CAST(s2n AS DOUBLE)
        |        - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / nn) AS vr
        |  FROM m)
        |SELECT nn AS n, round(pbar, 6) AS p_overall,
        |  round(t, 6) AS t_stat,
        |  round(CASE WHEN vr > 0.0 THEN t / sqrt(vr) END, 6) AS z,
        |  abs(CASE WHEN vr > 0.0 THEN t / sqrt(vr) END) > 1.96
        |    AS significant
        |FROM f""".stripMargin,

    // the score expression is TextOps.qualityScoreSql verbatim (one
    // home with q_quality_sweep and q_curation_e2e)
    "q_best_of_n" ->
      (s"""WITH sc AS (
        |  SELECT source,
        |    ${TextOps.qualityScoreSql}
        |      AS v
        |  FROM documents),""".stripMargin + """
        |vg AS (SELECT source, v, count(*) AS nv FROM sc GROUP BY 1, 2),
        |c AS (
        |  SELECT source, v, nv,
        |    sum(nv) OVER (PARTITION BY source ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(nv) OVER (PARTITION BY source) AS tot
        |  FROM vg),
        |x AS (
        |  SELECT source, v, nv, cum, tot,
        |    unnest([1, 2, 4, 8, 16]) AS n
        |  FROM c),
        |t AS (
        |  SELECT source, n,
        |    CAST(round(v * (pow(CAST(cum AS DOUBLE) / tot,
        |        CAST(n AS DOUBLE))
        |      - pow(CAST(cum - nv AS DOUBLE) / tot, CAST(n AS DOUBLE))), 9)
        |      AS DECIMAL(18,9)) AS t
        |  FROM x)
        |SELECT source, n, round(CAST(sum(t) AS DOUBLE), 6) AS exp_max
        |FROM t GROUP BY source, n
        |ORDER BY source, n""".stripMargin),

    // MSW comes from the shared q_anova CTE chain (InferOps
    // .anovaCtesSql); the critical value from the shared Scala lookup
    "q_tukey_hsd" ->
      (s"""WITH ${InferOps.anovaCtesSql},
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.ng AS na, b.ng AS nb, a.s1 AS s1a, b.s1 AS s1b
        |  FROM g a JOIN g b ON a.event_type < b.event_type),
        |f AS (
        |  SELECT type_a, type_b, na, nb, k,
        |    CAST(s1a AS DOUBLE) / na - CAST(s1b AS DOUBLE) / nb AS d,
        |    sqrt((CAST(ssw AS DOUBLE) / (n - k)) / 2.0
        |      * (1.0 / na + 1.0 / nb)) AS se
        |  FROM p CROSS JOIN s)
        |SELECT type_a, type_b, na, nb,
        |  round(d, 6) AS diff, round(se, 6) AS se,
        |  round(CASE WHEN se > 0.0 THEN abs(d) / se END, 6) AS q_stat,
        |  CASE WHEN se > 0.0 THEN abs(d) / se END
        |""".stripMargin +
      s"      > ${tukeyCritSql("k")} AS significant\n" +
      """|FROM f ORDER BY type_a, type_b""".stripMargin),

    "q_meta_analysis" ->
      """WITH c AS (
        |  SELECT c_mktsegment AS seg, c_custkey % 2 = 0 AS t,
        |    CAST(round(c_acctbal, 2) AS DECIMAL(18,2)) AS v
        |  FROM customer),
        |c2 AS (SELECT seg, t, v,
        |  CAST(round(CAST(v AS DOUBLE) * CAST(v AS DOUBLE), 4)
        |    AS DECIMAL(38,4)) AS v2 FROM c),
        |cells AS (
        |  SELECT seg,
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    sum(CASE WHEN t THEN v END) AS s1a,
        |    sum(CASE WHEN NOT t THEN v END) AS s1b,
        |    sum(CASE WHEN t THEN v2 END) AS s2a,
        |    sum(CASE WHEN NOT t THEN v2 END) AS s2b
        |  FROM c2 GROUP BY seg),
        |eff0 AS (
        |  SELECT seg,
        |    CAST(s1a AS DOUBLE) / n1 - CAST(s1b AS DOUBLE) / n0 AS e,
        |    (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE)
        |       * CAST(s1a AS DOUBLE) / n1) / (n1 - 1) / n1
        |    + (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE)
        |       * CAST(s1b AS DOUBLE) / n0) / (n0 - 1) / n0 AS var
        |  FROM cells),
        |eff AS (
        |  SELECT seg, e,
        |    CAST(round(1.0 / var, 9) AS DECIMAL(18,9)) AS w
        |  FROM eff0 WHERE var > 0.0),
        |eff2 AS (
        |  SELECT seg, e, w,
        |    CAST(round(CAST(w AS DOUBLE) * e, 9) AS DECIMAL(18,9)) AS we
        |  FROM eff),
        |pooled AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, sum(w) AS sw,
        |    CAST(sum(we) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS pool
        |  FROM eff2),
        |qh AS (
        |  SELECT CAST(sum(CAST(round(CAST(w AS DOUBLE)
        |      * (e - pool) * (e - pool), 9) AS DECIMAL(18,9)))
        |    AS DECIMAL(18,9)) AS q
        |  FROM eff2 CROSS JOIN pooled)
        |SELECT k, round(pool, 6) AS pooled_effect,
        |  round(sqrt(1.0 / CAST(sw AS DOUBLE)), 6) AS se,
        |  round(pool / sqrt(1.0 / CAST(sw AS DOUBLE)), 6) AS z,
        |  round(CAST(q AS DOUBLE), 6) AS q_het,
        |  CAST(k - 1 AS BIGINT) AS df,
        |  round(greatest(0.0, (CAST(q AS DOUBLE) - (k - 1))
        |    / CAST(q AS DOUBLE)), 6) AS i2
        |FROM pooled CROSS JOIN qh""".stripMargin
  )
}
