package graft.queries

import graft.Decimals._
import graft.Tables
import graft.functions.Md5Hash.unitOpen
import graft.functions.TextFunctions
import graft.functions.TextFunctions.tokensSql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Agreement and nonparametric extensions to InferOps — the tests a
  * data-curation platform runs when the metric is ordinal, categorical,
  * or paired-by-design: Fleiss' κ (do my quality raters agree?), the
  * Friedman and Cochran's Q repeated-measures tests (did behavior shift
  * across occasions, blocking by subject?), Cliff's δ (an ordinal effect
  * size robust to heavy tails), Cramér's V (categorical association with
  * the small-sample bias correction), and a deterministic Monte-Carlo
  * permutation test (the resampling-based p-value that needs no
  * distributional assumption at all). Reference capability: the HiveQL
  * engine the charm deploys stops at corr/var primitives; these are the
  * composed procedures built on top.
  *
  * Scale + determinism discipline (the InferOps contract): collapse the
  * log FIRST to a keyed unit relation via partial-aggregable groupBys,
  * run closed forms on exact-integer (or once-rounded decimal) moments;
  * rank/pair statistics come from VALUE-GROUPED relations so nothing
  * sorts the corpus; windows run over value- or block-grain relations
  * only; randomness is md5-keyed per row (the StatsOps bootstrap
  * discipline) so the "random" draws replay bit-for-bit on both engines.
  */
object NonparamOps extends QueryPack {

  /** 5% χ² critical values by df, derived from the data's df column so a
    * fixture-cardinality change can never silently test the wrong
    * threshold (ADVICE r12 — qFriedman hard-coded the df=4 value while
    * reporting a data-derived df). Out-of-table df → NULL significance,
    * which the oracle mirrors (the same [[CritValues]] table rendered as
    * a CASE) and the hash check surfaces. */
  private[graft] val chi2Crit05 = Map(1 -> 3.841, 2 -> 5.991, 3 -> 7.815,
    4 -> 9.488, 5 -> 11.070, 6 -> 12.592, 7 -> 14.067, 8 -> 15.507,
    9 -> 16.919, 10 -> 18.307, 11 -> 19.675, 12 -> 21.026, 13 -> 22.362,
    14 -> 23.685, 15 -> 24.996, 16 -> 26.296, 17 -> 27.587, 18 -> 28.869,
    19 -> 30.144, 20 -> 31.410)

  /** The three-rater (doc, category) assignment relation shared by
    * [[qFleissKappa]] and [[qKrippendorff]] — one source of truth for
    * the raters, so the two agreement coefficients provably judge the
    * SAME labels: rater A buckets by n_chars, rater B by token count,
    * rater C by average token length, each into the shared {0,1,2}
    * scale. */
  private def ratedDocs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"n_chars",
        size(TextFunctions.tokens($"text")).as("ntok"))
      .filter($"ntok" >= 1)
      .select($"doc_id",
        when($"n_chars" < 220, 0).when($"n_chars" < 370, 1).otherwise(2)
          .as("ca"),
        when($"ntok" < 40, 0).when($"ntok" < 68, 1).otherwise(2).as("cb"),
        when($"n_chars".cast("double") / $"ntok" < 5.41, 0)
          .when($"n_chars".cast("double") / $"ntok" < 5.57, 1).otherwise(2)
          .as("cc"))
      .select($"doc_id", explode(array($"ca", $"cb", $"cc")).as("cat"))
  }

  // ---- q_fleiss_kappa ------------------------------------------------------
  /** Fleiss' κ (Fleiss '71) over three deterministic document-quality
    * "raters" — the agreement read-out a curation pipeline runs before
    * trusting ensemble quality labels ([[ratedDocs]]). With n_ij =
    * raters assigning doc i to category j (all integers): P̄ = (Σ n_ij²
    * − N·n)/(N·n·(n−1)), P̄e = Σ_j C_j²/(N·n)², κ = (P̄−P̄e)/(1−P̄e) —
    * one double formula over three exact integer sums. Perfect expected
    * agreement (all raters one category) → NULL. Shape: one doc scan →
    * (doc, cat) count relation → two thin aggs; nothing wider than the
    * doc key ever shuffles. */
  def qFleissKappa(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rated = ratedDocs(spark, sfDir)
    val nij = rated.groupBy($"doc_id", $"cat").agg(count(lit(1)).as("nij"))
    val s = nij.agg(
      countDistinct($"doc_id").as("n_items"),
      sum($"nij" * $"nij").as("s2"),
      lit(3L).as("n_raters"))
    val cj = nij.groupBy($"cat").agg(sum($"nij").as("c"))
      .agg(sum($"c" * $"c").as("c2"))
    val j = s.crossJoin(broadcast(cj))
    val nn = $"n_items" * $"n_raters" // N·n
    val pBar = ($"s2" - nn).cast("double") /
      (nn * ($"n_raters" - lit(1L))).cast("double")
    val pE = $"c2".cast("double") / (nn * nn).cast("double")
    j.select($"n_items", $"n_raters",
      round(pBar, 6).as("p_bar"), round(pE, 6).as("p_e"),
      round(when(pE < 1.0, (pBar - pE) / (lit(1.0) - pE)), 6).as("kappa"))
  }

  // ---- q_krippendorff ------------------------------------------------------
  /** Krippendorff's α (nominal metric, complete data) over the SAME
    * three raters as [[qFleissKappa]] — the agreement coefficient a
    * methodologist prefers when rater marginals shouldn't be treated as
    * fixed (α's expected disagreement pools ALL assignments with an
    * M−1 finite-sample correction, so α ≠ κ on the same labels). With
    * the same exact integer sums S2 = Σ n_ij², C2 = Σ C_j², M = N·n:
    * D_o = (N·n² − S2)/(N·n·(n−1)), D_e = (M² − C2)/(M·(M−1)),
    * α = 1 − D_o/D_e. Zero expected disagreement → NULL. The general
    * method also handles missing ratings (per-item n_i); this fixture's
    * raters are total functions, so n_i ≡ 3 — documented, not assumed
    * silently (the ratedDocs filter is explicit). */
  def qKrippendorff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rated = ratedDocs(spark, sfDir)
    val nij = rated.groupBy($"doc_id", $"cat").agg(count(lit(1)).as("nij"))
    val s = nij.agg(
      countDistinct($"doc_id").as("n_items"),
      sum($"nij" * $"nij").as("s2"),
      lit(3L).as("n_raters"))
    val cj = nij.groupBy($"cat").agg(sum($"nij").as("c"))
      .agg(sum($"c" * $"c").as("c2"))
    val j = s.crossJoin(broadcast(cj))
    val m = $"n_items" * $"n_raters"
    val dO = (($"n_items" * $"n_raters" * $"n_raters") - $"s2")
      .cast("double") /
      ($"n_items" * $"n_raters" * ($"n_raters" - lit(1L))).cast("double")
    val dE = (m * m - $"c2").cast("double") /
      (m * (m - lit(1L))).cast("double")
    j.select($"n_items", $"n_raters",
      round(dO, 6).as("d_o"), round(dE, 6).as("d_e"),
      round(when(dE > 0.0, lit(1.0) - dO / dE), 6).as("alpha"))
  }

  // ---- q_friedman ----------------------------------------------------------
  /** Friedman's rank test (Friedman '37) for treatment effects across
    * blocks: blocks = calendar days, treatments = event types, response
    * = daily total event value. Only COMPLETE blocks (all k treatments
    * present) enter, per the test's paired design. Ranks within each
    * block come from the (day, value)-grouped relation via the
    * [[InferOps.withRank2]] integer trick (2R = 2·cum_lt + n_v + 1), so
    * with S4 = Σ n_v·(2r)² and R2_j = Σ_d 2r_dj the tie-corrected
    * statistic is χ²_F = (k−1)·Σ_j (R2_j − n(k+1))² / (S4 − n·k·(k+1)²)
    * — EXACT integer numerator and denominator, one double division.
    * (With no ties this reduces to the classic 12/(nk(k+1)) form.)
    * significant tests the df=4 5% critical value (k=5 event types is
    * structural on this schema). The only window runs over the ≤ n·k
    * (day, value) group relation. */
  def qFriedman(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val g = Tables.df(spark, sfDir, "events")
      .select(to_date($"ts").as("d"), $"event_type".as("j"),
        round($"value", 2).cast(dec18_2).as("vr"))
      .groupBy($"d", $"j").agg(sum($"vr").as("v"))
      .localCheckpoint() // feeds k, complete-block cut, ranks, and joins
    val k1 = g.agg(countDistinct($"j").as("k"))
    val complete = g.groupBy($"d").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(k1)).filter($"cnt" === $"k").select($"d")
    val gc = g.join(complete, "d")
    val vg = gc.groupBy($"d", $"v").agg(count(lit(1)).as("nv"))
    val w = Window.partitionBy($"d").orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val r2 = vg.withColumn("cumlt", coalesce(sum($"nv").over(w), lit(0L)))
      .select($"d", $"v", $"nv",
        (lit(2L) * $"cumlt" + $"nv" + lit(1L)).as("r2"))
    val s4 = r2.agg(sum($"nv" * $"r2" * $"r2").as("s4"),
      countDistinct($"d").as("n"))
    val rj = gc.join(r2.select($"d", $"v", $"r2"), Seq("d", "v"))
      .groupBy($"j").agg(sum($"r2").as("r2j"))
    val num = rj.crossJoin(broadcast(s4.select($"n")))
      .crossJoin(broadcast(k1))
      .select((($"r2j" - $"n" * ($"k" + lit(1L))) *
        ($"r2j" - $"n" * ($"k" + lit(1L)))).as("sq"))
      .agg(sum($"sq").as("num"))
    val j = s4.crossJoin(broadcast(k1)).crossJoin(broadcast(num))
    val den = $"s4" - $"n" * $"k" * ($"k" + lit(1L)) * ($"k" + lit(1L))
    val chi2 = when(den > 0,
      (($"k" - lit(1L)) * $"num").cast("double") / den.cast("double"))
    j.select($"n".as("n_blocks"), $"k",
      round(chi2, 6).as("chi2_f"), ($"k" - lit(1L)).as("df"),
      (chi2 > CritValues.column(chi2Crit05, $"k" - lit(1L))).as("significant"))
  }

  // ---- q_cochran_q ---------------------------------------------------------
  /** Cochran's Q (Cochran '50) on a binary repeated-measures design: did
    * purchase propensity differ across three fixed occasions (days 2,
    * 15, 29), blocking by user? x_ij = user i purchased on day j; with
    * C_j column totals, R_i row totals, N = ΣC (all exact integers):
    * Q = (k−1)(k·ΣC_j² − N²) / (k·N − ΣR_i²), χ² with k−1 df.
    * Degenerate design (every user all-0 or all-k) → NULL. Shape: one
    * events scan → (user, day) flag relation → two thin aggs. */
  def qCochranQ(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = Seq("2024-01-02", "2024-01-15", "2024-01-29")
    val ev = Tables.df(spark, sfDir, "events")
    val flags = ev.filter($"event_type" === "purchase")
      .select($"user_id", to_date($"ts").cast("string").as("d"))
      .filter($"d".isin(days: _*))
      .distinct()
      .localCheckpoint() // feeds both the column and row totals
    val users = ev.select($"user_id").distinct()
    val colT = flags.groupBy($"d").agg(count(lit(1)).as("cj"))
      .agg(sum($"cj").as("bigN"), sum($"cj" * $"cj").as("c2"))
    val rowT = users.join(
        flags.groupBy($"user_id").agg(count(lit(1)).as("ri")),
        Seq("user_id"), "left")
      .select(coalesce($"ri", lit(0L)).as("ri"))
      .agg(count(lit(1)).as("n_users"), sum($"ri" * $"ri").as("r2"))
    // k and its critical value derive from the occasion list (ADVICE
    // r12): chi2Crit05(k-1) THROWS if the list outgrows the table, and
    // the oracle's literal k=3 then hash-mismatches loudly rather than
    // silently testing the wrong threshold
    val crit = chi2Crit05(days.size - 1)
    val k = lit(days.size.toLong)
    val j = colT.crossJoin(broadcast(rowT))
    val den = k * $"bigN" - $"r2"
    val q = when(den > 0,
      ((k - lit(1L)) * (k * $"c2" - $"bigN" * $"bigN")).cast("double") /
        den.cast("double"))
    j.select($"n_users", k.as("k"), round(q, 6).as("q_stat"),
      (k - lit(1L)).as("df"), (q > crit).as("significant"))
  }

  // ---- q_cliffs_delta ------------------------------------------------------
  /** Cliff's δ (Cliff '93) between the parity arms on per-user event
    * counts — the ordinal effect size reported beside [[InferOps
    * .qMannWhitney]]'s p-value: δ = (#{x>y} − #{x<y}) / (n_a·n_b) over
    * all cross pairs, computed WITHOUT forming pairs: on the
    * value-grouped (count, n_a, n_b) relation, #{x>y} = Σ_v na_v ·
    * cumNb_lt(v) via one cumulative window over |distinct count values|
    * rows — exact integers to the final division. Magnitude uses
    * Romano et al.'s conventional bands. */
  def qCliffsDelta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val users = Tables.df(spark, sfDir, "events")
      .groupBy($"user_id").agg(count(lit(1)).as("c"))
      .select(($"user_id" % 2 === 0).as("a"), $"c")
    val g = users.groupBy($"c").agg(
      sum(when($"a", 1L).otherwise(0L)).as("na"),
      sum(when(!$"a", 1L).otherwise(0L)).as("nb"))
    val w = Window.orderBy($"c").rowsBetween(Window.unboundedPreceding, -1)
    val cum = g.withColumn("cumb", coalesce(sum($"nb").over(w), lit(0L)))
    val s = cum.agg(
      sum($"na").as("n_a"), sum($"nb").as("n_b"),
      sum($"na" * $"cumb").as("gt"),
      sum($"na" * $"cumb" + $"na" * $"nb").as("le_gt")) // Σ na·(cumb+nb)
    // lt = Σ na·(totB − cumb − nb) = n_a·n_b − le_gt  (exact integers)
    val lt = $"n_a" * $"n_b" - $"le_gt"
    val delta = ($"gt" - lt).cast("double") / ($"n_a" * $"n_b").cast("double")
    val ad = abs(delta)
    s.select($"n_a", $"n_b", $"gt".as("gt_pairs"), lt.as("lt_pairs"),
      round(delta, 6).as("delta"),
      when(ad < 0.147, "negligible").when(ad < 0.33, "small")
        .when(ad < 0.474, "medium").otherwise("large").as("magnitude"))
  }

  // ---- q_cramers_v ---------------------------------------------------------
  /** Cramér's V between market segment and region over the customer
    * dimension — the normalized categorical-association read-out on top
    * of the χ² machinery (q_chisq_terms), plus Bergsma's bias-corrected
    * variant (the one to trust at small N). χ² = N·(Σ o²/(r_t·c_t) − 1)
    * with each cell term rounded once to 9dp and summed as DECIMAL
    * (25 cells — exact and order-free); both engines then run the same
    * double closed forms. Shape: dim-table groupBys only; the region
    * lookup broadcasts. */
  def qCramersV(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.df(spark, sfDir, "customer")
      .join(broadcast(Tables.df(spark, sfDir, "nation")
        .select($"n_nationkey", $"n_regionkey")),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_mktsegment".as("seg"), $"n_regionkey".as("reg"))
    val cell = cust.groupBy($"seg", $"reg").agg(count(lit(1)).as("o"))
      .localCheckpoint() // feeds row totals, col totals, and the terms
    val rt = cell.groupBy($"seg").agg(sum($"o").as("rt"))
    val ct = cell.groupBy($"reg").agg(sum($"o").as("ct"))
    val s = cell.join(broadcast(rt), "seg").join(broadcast(ct), "reg")
      .select($"seg", $"reg", $"o",
        round(($"o" * $"o").cast("double") / ($"rt" * $"ct").cast("double"),
          9).cast(dec18_9).as("term"))
      .agg(sum($"o").as("n"), countDistinct($"seg").as("r"),
        countDistinct($"reg").as("c"), sum($"term").as("sterm"))
    val nD = $"n".cast("double")
    val chi2 = greatest(lit(0.0),
      nD * ($"sterm".cast("double") - lit(1.0)))
    val minDim = least($"r", $"c") - lit(1L)
    val v = when(minDim > 0, sqrt(chi2 / (nD * minDim.cast("double"))))
    // Bergsma ('13) bias correction — the same closed form both engines
    val phi2 = chi2 / nD
    val rD = $"r".cast("double")
    val cD = $"c".cast("double")
    val phi2p = greatest(lit(0.0),
      phi2 - (rD - 1.0) * (cD - 1.0) / (nD - 1.0))
    val rp = rD - (rD - 1.0) * (rD - 1.0) / (nD - 1.0)
    val cp = cD - (cD - 1.0) * (cD - 1.0) / (nD - 1.0)
    val minp = least(rp, cp) - lit(1.0)
    val vp = when(minp > 0.0, sqrt(phi2p / minp))
    s.select($"n", $"r", $"c", round(chi2, 6).as("chi2"),
      round(v, 6).as("v"), round(vp, 6).as("v_corrected"))
  }

  // ---- q_permutation_test --------------------------------------------------
  /** Deterministic Monte-Carlo permutation test for the arm difference
    * in per-user purchase spend — the assumption-free p-value beside
    * [[InferOps.qWelchTtest]]: 200 random relabelings of users to arms,
    * each rep's label an md5-keyed coin (the StatsOps bootstrap
    * discipline — the "random" permutation replays bit-for-bit on both
    * engines and survives retries/repartitioning), p = (1 + #{|Δ_rep| ≥
    * |Δ_obs|})/(R+1) with both Δs rounded once to 9dp before the
    * compare. Reps with an empty arm (measure-zero at any real N) count
    * extreme — conservative. Shape: the user relation is thin, so the
    * 200-rep fan-out is |users|·200 tiny rows into one keyed agg; the
    * corpus is scanned once. */
  def qPermutationTest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val users = Tables.df(spark, sfDir, "events")
      .filter($"event_type" === "purchase")
      .select($"user_id", round($"value", 2).cast(dec18_2).as("vr"))
      .groupBy($"user_id").agg(sum($"vr").as("x"))
      .localCheckpoint() // feeds the observed diff AND the 200 reps
    def diffCol(n1: org.apache.spark.sql.Column,
        s1: org.apache.spark.sql.Column, n2: org.apache.spark.sql.Column,
        s2: org.apache.spark.sql.Column) =
      round(s1.cast("double") / n1 - s2.cast("double") / n2, 9)
    val obs = users.select(($"user_id" % 2 === 0).as("a"), $"x")
      .agg(sum(when($"a", 1L).otherwise(0L)).as("n1"),
        sum(when($"a", $"x")).as("s1"),
        sum(when(!$"a", 1L).otherwise(0L)).as("n2"),
        sum(when(!$"a", $"x")).as("s2"))
      .select($"n1", $"n2",
        diffCol($"n1", $"s1", $"n2", $"s2").as("d_obs"))
    val reps = users
      .select($"user_id", $"x", explode(expr("sequence(1, 200)")).as("r"))
      .withColumn("pa", unitOpen(lit("perm:"), $"r".cast("string"),
        lit(":"), $"user_id".cast("string")) < 0.5)
      .groupBy($"r").agg(
        sum(when($"pa", 1L).otherwise(0L)).as("n1"),
        sum(when($"pa", $"x")).as("s1"),
        sum(when(!$"pa", 1L).otherwise(0L)).as("n2"),
        sum(when(!$"pa", $"x")).as("s2"))
      .select($"r", when($"n1" > 0 && $"n2" > 0,
        diffCol($"n1", $"s1", $"n2", $"s2")).as("d"))
    val s = reps.crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_reps"),
        sum(when($"d".isNull || abs($"d") >= abs($"d_obs"), 1L)
          .otherwise(0L)).as("n_extreme"),
        first($"n1" + $"n2").as("n_users"),
        first(round($"d_obs", 6)).as("diff_obs"))
    s.select($"n_users", $"diff_obs", $"n_reps", $"n_extreme",
      round(($"n_extreme" + lit(1L)).cast("double") /
        ($"n_reps" + lit(1L)).cast("double"), 6).as("p_value"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fleiss_kappa" -> qFleissKappa,
    "q_krippendorff" -> qKrippendorff,
    "q_friedman" -> qFriedman,
    "q_cochran_q" -> qCochranQ,
    "q_cliffs_delta" -> qCliffsDelta,
    "q_cramers_v" -> qCramersV,
    "q_permutation_test" -> qPermutationTest
  )

  /** The shared rater/count/marginal CTE chain (→ relations `nij`, `s`,
    * `cj`) used by BOTH agreement oracles, mirroring [[ratedDocs]]. */
  private val ratersCtes: String =
    s"""d0 AS (
      |  SELECT doc_id, n_chars, len($tokensSql) AS ntok FROM documents
      |  WHERE len($tokensSql) >= 1),
      |cats AS (
      |  SELECT doc_id,
      |    CASE WHEN n_chars < 220 THEN 0
      |         WHEN n_chars < 370 THEN 1 ELSE 2 END AS ca,
      |    CASE WHEN ntok < 40 THEN 0
      |         WHEN ntok < 68 THEN 1 ELSE 2 END AS cb,
      |    CASE WHEN CAST(n_chars AS DOUBLE) / ntok < 5.41 THEN 0
      |         WHEN CAST(n_chars AS DOUBLE) / ntok < 5.57 THEN 1
      |         ELSE 2 END AS cc
      |  FROM d0),
      |rated AS (
      |  SELECT doc_id, unnest([ca, cb, cc]) AS cat FROM cats),
      |nij AS (
      |  SELECT doc_id, cat, count(*) AS nij FROM rated GROUP BY 1, 2),
      |s AS (
      |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_items,
      |    CAST(sum(nij * nij) AS BIGINT) AS s2, 3 AS n_raters
      |  FROM nij),
      |cj AS (
      |  SELECT CAST(sum(c * c) AS BIGINT) AS c2 FROM (
      |    SELECT CAST(sum(nij) AS BIGINT) AS c FROM nij GROUP BY cat))"""
      .stripMargin

  val oracle: Map[String, String] = Map(
    // the same three threshold raters, the same integer sums
    "q_fleiss_kappa" ->
      s"""WITH $ratersCtes,
        |f AS (
        |  SELECT n_items, n_raters,
        |    CAST(s2 - n_items * n_raters AS DOUBLE)
        |      / CAST(n_items * n_raters * (n_raters - 1) AS DOUBLE) AS pb,
        |    CAST(c2 AS DOUBLE)
        |      / CAST((n_items * n_raters) * (n_items * n_raters) AS DOUBLE)
        |      AS pe
        |  FROM s CROSS JOIN cj)
        |SELECT n_items, CAST(n_raters AS BIGINT) AS n_raters,
        |  round(pb, 6) AS p_bar, round(pe, 6) AS p_e,
        |  round(CASE WHEN pe < 1.0 THEN (pb - pe) / (1.0 - pe) END, 6)
        |    AS kappa
        |FROM f""".stripMargin,

    // same rater CTEs, the alpha closed forms with the M-1 correction
    "q_krippendorff" ->
      s"""WITH $ratersCtes,
        |f AS (
        |  SELECT n_items, n_raters,
        |    CAST(n_items * n_raters * n_raters - s2 AS DOUBLE)
        |      / CAST(n_items * n_raters * (n_raters - 1) AS DOUBLE)
        |      AS do_,
        |    CAST((n_items * n_raters) * (n_items * n_raters) - c2
        |        AS DOUBLE)
        |      / CAST((n_items * n_raters)
        |        * (n_items * n_raters - 1) AS DOUBLE) AS de_
        |  FROM s CROSS JOIN cj)
        |SELECT n_items, CAST(n_raters AS BIGINT) AS n_raters,
        |  round(do_, 6) AS d_o, round(de_, 6) AS d_e,
        |  round(CASE WHEN de_ > 0.0 THEN 1.0 - do_ / de_ END, 6) AS alpha
        |FROM f""".stripMargin,

    // same complete-block cut, same 2R integer ranks, same exact
    // integer numerator/denominator
    "q_friedman" ->
      ("""WITH g AS (
        |  SELECT CAST(ts AS DATE) AS d, event_type AS j,
        |    sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS v
        |  FROM events GROUP BY 1, 2),
        |k1 AS (SELECT count(DISTINCT j) AS k FROM g),
        |complete AS (
        |  SELECT d FROM g GROUP BY d
        |  HAVING count(*) = (SELECT k FROM k1)),
        |gc AS (SELECT g.* FROM g JOIN complete USING (d)),
        |vg AS (SELECT d, v, count(*) AS nv FROM gc GROUP BY 1, 2),
        |r2 AS (
        |  SELECT d, v, nv,
        |    2 * coalesce(sum(nv) OVER (PARTITION BY d ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + nv + 1 AS r2
        |  FROM vg),
        |s4 AS (
        |  SELECT CAST(sum(nv * r2 * r2) AS BIGINT) AS s4,
        |    CAST(count(DISTINCT d) AS BIGINT) AS n
        |  FROM r2),
        |rj AS (
        |  SELECT gc.j, CAST(sum(r2.r2) AS BIGINT) AS r2j
        |  FROM gc JOIN r2 ON gc.d = r2.d AND gc.v = r2.v
        |  GROUP BY gc.j),
        |num AS (
        |  SELECT CAST(sum((r2j - n * (k + 1)) * (r2j - n * (k + 1)))
        |    AS BIGINT) AS num
        |  FROM rj CROSS JOIN s4 CROSS JOIN k1),
        |f AS (
        |  SELECT n, k, num,
        |    s4 - n * k * (k + 1) * (k + 1) AS den
        |  FROM s4 CROSS JOIN k1 CROSS JOIN num)
        |SELECT n AS n_blocks, CAST(k AS BIGINT) AS k,
        |  round(CASE WHEN den > 0
        |    THEN CAST((k - 1) * num AS DOUBLE) / CAST(den AS DOUBLE) END, 6)
        |    AS chi2_f,
        |  CAST(k - 1 AS BIGINT) AS df,
        |  CASE WHEN den > 0
        |    THEN CAST((k - 1) * num AS DOUBLE) / CAST(den AS DOUBLE)
        |""".stripMargin +
      // the df-keyed critical-value CASE comes from the ONE Scala table
      // (chi2Crit05) both engines share, so the thresholds cannot drift
      s"      > ${CritValues.sql(chi2Crit05, "k - 1")}\n" +
      """|    END AS significant
        |FROM f""".stripMargin),

    // same three fixed occasions, same integer totals; the 5% critical
    // value interpolates from the SAME chi2Crit05 table the Spark side
    // derives from (ADVICE r13: no free-standing df literal to drift)
    "q_cochran_q" ->
      s"""WITH flags AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS d
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND CAST(CAST(ts AS DATE) AS VARCHAR)
        |      IN ('2024-01-02', '2024-01-15', '2024-01-29')),
        |colt AS (
        |  SELECT CAST(sum(cj) AS BIGINT) AS bigN,
        |    CAST(sum(cj * cj) AS BIGINT) AS c2
        |  FROM (SELECT count(*) AS cj FROM flags GROUP BY d)),
        |rowt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(ri * ri) AS BIGINT) AS r2
        |  FROM (
        |    SELECT u.user_id, coalesce(f.ri, 0) AS ri
        |    FROM (SELECT DISTINCT user_id FROM events) u
        |    LEFT JOIN (SELECT user_id, count(*) AS ri FROM flags
        |               GROUP BY 1) f ON f.user_id = u.user_id)),
        |f AS (
        |  SELECT n_users, bigN, c2, r2, 3 * bigN - r2 AS den
        |  FROM colt CROSS JOIN rowt)
        |SELECT n_users, CAST(3 AS BIGINT) AS k,
        |  round(CASE WHEN den > 0 THEN
        |    CAST(2 * (3 * c2 - bigN * bigN) AS DOUBLE)
        |      / CAST(den AS DOUBLE) END, 6) AS q_stat,
        |  CAST(2 AS BIGINT) AS df,
        |  CASE WHEN den > 0 THEN
        |    CAST(2 * (3 * c2 - bigN * bigN) AS DOUBLE)
        |      / CAST(den AS DOUBLE) > ${chi2Crit05(2)} END AS significant
        |FROM f""".stripMargin,

    // same value-grouped cumulative pair counting
    "q_cliffs_delta" ->
      """WITH users AS (
        |  SELECT user_id % 2 = 0 AS a, count(*) AS c
        |  FROM events GROUP BY user_id),
        |g AS (
        |  SELECT c,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS nb
        |  FROM users GROUP BY c),
        |cum AS (
        |  SELECT na, nb,
        |    coalesce(sum(nb) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cumb
        |  FROM g),
        |s AS (
        |  SELECT CAST(sum(na) AS BIGINT) AS n_a,
        |    CAST(sum(nb) AS BIGINT) AS n_b,
        |    CAST(sum(na * cumb) AS BIGINT) AS gt,
        |    CAST(sum(na * cumb + na * nb) AS BIGINT) AS le_gt
        |  FROM cum),
        |f AS (
        |  SELECT n_a, n_b, gt, n_a * n_b - le_gt AS lt,
        |    CAST(gt - (n_a * n_b - le_gt) AS DOUBLE)
        |      / CAST(n_a * n_b AS DOUBLE) AS delta
        |  FROM s)
        |SELECT n_a, n_b, gt AS gt_pairs, lt AS lt_pairs,
        |  round(delta, 6) AS delta,
        |  CASE WHEN abs(delta) < 0.147 THEN 'negligible'
        |       WHEN abs(delta) < 0.33 THEN 'small'
        |       WHEN abs(delta) < 0.474 THEN 'medium'
        |       ELSE 'large' END AS magnitude
        |FROM f""".stripMargin,

    // same dec18_9-rounded cell terms, same Bergsma correction
    "q_cramers_v" ->
      """WITH cust AS (
        |  SELECT c.c_mktsegment AS seg, n.n_regionkey AS reg
        |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey),
        |cell AS (SELECT seg, reg, count(*) AS o FROM cust GROUP BY 1, 2),
        |rt AS (SELECT seg, CAST(sum(o) AS BIGINT) AS rt FROM cell
        |       GROUP BY 1),
        |ct AS (SELECT reg, CAST(sum(o) AS BIGINT) AS ct FROM cell
        |       GROUP BY 1),
        |s AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS n,
        |    CAST(count(DISTINCT cell.seg) AS BIGINT) AS r,
        |    CAST(count(DISTINCT cell.reg) AS BIGINT) AS c,
        |    sum(CAST(round(CAST(o * o AS DOUBLE)
        |      / CAST(rt.rt * ct.ct AS DOUBLE), 9) AS DECIMAL(18,9)))
        |      AS sterm
        |  FROM cell JOIN rt ON rt.seg = cell.seg
        |  JOIN ct ON ct.reg = cell.reg),
        |f AS (
        |  SELECT n, r, c,
        |    greatest(0.0, CAST(n AS DOUBLE)
        |      * (CAST(sterm AS DOUBLE) - 1.0)) AS chi2
        |  FROM s),
        |f2 AS (
        |  SELECT n, r, c, chi2,
        |    chi2 / CAST(n AS DOUBLE) AS phi2,
        |    CAST(r AS DOUBLE) AS rd, CAST(c AS DOUBLE) AS cd,
        |    CAST(n AS DOUBLE) AS nd
        |  FROM f)
        |SELECT n, r, c, round(chi2, 6) AS chi2,
        |  round(CASE WHEN least(r, c) - 1 > 0 THEN
        |    sqrt(chi2 / (nd * CAST(least(r, c) - 1 AS DOUBLE))) END, 6)
        |    AS v,
        |  round(CASE WHEN least(rd - (rd-1)*(rd-1)/(nd-1),
        |      cd - (cd-1)*(cd-1)/(nd-1)) - 1.0 > 0.0 THEN
        |    sqrt(greatest(0.0, phi2 - (rd-1)*(cd-1)/(nd-1))
        |      / (least(rd - (rd-1)*(rd-1)/(nd-1),
        |          cd - (cd-1)*(cd-1)/(nd-1)) - 1.0)) END, 6)
        |    AS v_corrected
        |FROM f2""".stripMargin,

    // same md5 coin per (rep, user), same 9dp-rounded diffs
    "q_permutation_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |obs AS (
        |  SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2,
        |    round(CAST(sum(CASE WHEN user_id % 2 = 0 THEN x END)
        |        AS DOUBLE) / sum(CASE WHEN user_id % 2 = 0 THEN 1
        |          ELSE 0 END)
        |      - CAST(sum(CASE WHEN user_id % 2 <> 0 THEN x END)
        |        AS DOUBLE) / sum(CASE WHEN user_id % 2 <> 0 THEN 1
        |          ELSE 0 END), 9) AS d_obs
        |  FROM u),
        |reps AS (
        |  SELECT t.r,
        |    CAST(sum(CASE WHEN pa THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    sum(CASE WHEN pa THEN x END) AS s1,
        |    CAST(sum(CASE WHEN pa THEN 0 ELSE 1 END) AS BIGINT) AS n2,
        |    sum(CASE WHEN pa THEN NULL ELSE x END) AS s2
        |  FROM (
        |    SELECT u.user_id, u.x, t.r,
        |      (('0x' || substr(md5('perm:' || CAST(t.r AS VARCHAR) || ':'
        |        || CAST(u.user_id AS VARCHAR)), 1, 15))::BIGINT + 0.5)
        |        / 1152921504606846976.0 < 0.5 AS pa
        |    FROM u, (SELECT unnest(range(1, 201)) AS r) t) t
        |  GROUP BY t.r),
        |rd AS (
        |  SELECT r, CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    round(CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2, 9)
        |    END AS d
        |  FROM reps)
        |SELECT (SELECT n1 + n2 FROM obs) AS n_users,
        |  (SELECT round(d_obs, 6) FROM obs) AS diff_obs,
        |  CAST(count(*) AS BIGINT) AS n_reps,
        |  CAST(sum(CASE WHEN d IS NULL
        |      OR abs(d) >= abs((SELECT d_obs FROM obs))
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
        |  round(CAST(sum(CASE WHEN d IS NULL
        |      OR abs(d) >= abs((SELECT d_obs FROM obs))
        |    THEN 1 ELSE 0 END) + 1 AS DOUBLE)
        |    / CAST(count(*) + 1 AS DOUBLE), 6) AS p_value
        |FROM rd""".stripMargin
  )
}
