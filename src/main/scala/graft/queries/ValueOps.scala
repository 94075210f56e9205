package graft.queries

import graft.Decimals._
import graft.Tables
import graft.functions.CosineSimilarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Valuation / audit / policy-eval additions (r17) — the "is this data,
  * model, or policy any good, and for WHOM" layer a curation pipeline
  * runs after the correctness gates: per-example data valuation
  * (KNN-Shapley), a group-fairness audit of the frozen quality scorer,
  * the Brier decomposition that says WHY a calibration number is bad,
  * an off-policy bandit replay, and two cheap distribution audits
  * (circular event-time uniformity, lexical concentration).
  */
object ValueOps extends QueryPack {

  // ---- q_knn_shapley -------------------------------------------------------
  /** The KNN-Shapley recursion (Jia et al. '19, K = 10) over a ranked
    * relation (qid, vec_id, label, rk, m), m = 1 when the rank-rk vector's
    * label matches the query's: adds `shap`, the rank's exact Shapley value.
    * Each rank contributes t_j = (m_j − m_{j+1}) · min(K, j) / (K · j),
    * with m_{N+1} = 0 at the last rank — that seed,
    * m_N · min(K, N)/(K · N), keeps the efficiency axiom at every list
    * length (the values of a query sum to its top-K match rate), and for
    * N ≥ K it is the textbook m_N / N as the same IEEE quotient. Terms
    * round once to 9dp into DECIMAL(28,9), so the value is a plain exact
    * suffix sum. The one home of the recursion: [[knnShapleyPerQuery]]
    * (exact ranking) and [[ServeOps.knnShapleyAnnPerQuery]] (candidate
    * ranking) call it. */
  private[graft] def knnShapley(ranked: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("qid")).orderBy(col("rk"))
    ranked
      .withColumn("m_next", lead(col("m"), 1).over(wOrd))
      .withColumn("t", round(
          (when(col("m_next").isNull, col("m"))
            .otherwise(col("m") - col("m_next")) * least(col("rk"), lit(10L)))
            .cast("double") / (col("rk") * lit(10.0)),
          9).cast(dec28_9))
      // suffix sum AS a rank-descending running sum (r21, guide §4/§7):
      // a [currentRow, unboundedFollowing) sum frame re-aggregates the
      // remainder of the partition PER ROW in Spark's
      // UnboundedFollowingWindowFunctionFrame — O(rows²) per query, and
      // the measured hot spot of q_knn_shapley (6–7 core-s in ONE task at
      // sf0.1: 76 queries × ~6k-row rankings re-summed ~6k times each).
      // rk is unique within qid, so the running sum over rk DESC covers
      // the identical row set {rk' ≥ rk}; the t terms are DECIMAL(28,9)
      // and Spark widens the window sum to DECIMAL(38,9) — both exact ⇒
      // order-independent ⇒ byte-identical shap. O(rows).
      .withColumn("shap", sum(col("t")).over(
        Window.partitionBy(col("qid")).orderBy(col("rk").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("qid", "vec_id", "label", "rk", "m", "shap")
  }

  /** Per-query KNN-Shapley prefix: (qid, vec_id, label, rk, m, shap) —
    * the full exact ranking through [[knnShapley]], shared by
    * [[qKnnShapley]] and the efficiency assertion in ValueOpsSpec. */
  private[graft] def knnShapleyPerQuery(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val emb = Tables.df(spark, sfDir, "embeddings")
    val q = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qv"),
        $"label".as("truth"))
    val wRank = Window.partitionBy($"qid")
      .orderBy($"sim".desc, $"vec_id".asc)
    knnShapley(emb.join(broadcast(q), $"vec_id" =!= $"qid")
      .withColumn("sim",
        round(CosineSimilarity.of($"qv", $"embedding"), 6))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("m", ($"label" === $"truth").cast("long"))
      .select($"qid", $"vec_id", $"label", $"rk", $"m"))
  }

  /** KNN-Shapley data valuation (Jia et al. '19, exact closed form for
    * KNN utilities): every training vector's Shapley contribution to the
    * %100-decile query set's 10-NN label accuracy, averaged over
    * queries — the "which examples are worth keeping / which are
    * poison" read a curation run makes before reweighting
    * ([[CurateOps]]' q_coreset picks WHAT to keep; this prices each
    * point). The recursion over the distance-sorted ranking
    * (s_N = 1[y_N=y]/N; s_j = s_{j+1} + (1[y_j=y] − 1[y_{j+1}=y])
    * · min(K,j)/(K·j)) is a per-query SUFFIX SUM, so the whole
    * valuation is one windowed pass over the brute-force ranking — no
    * per-point retraining (the thing that makes general data-Shapley
    * intractable). Scale shape: identical to [[VectorQueries]]'
    * knnTruthTop10 eval twin — broadcast the bounded query decile over
    * the partitioned corpus (never corpus×corpus), rank with one
    * qid-keyed window; 9dp once-rounded recursion terms sum as exact
    * decimals, so both engines aggregate identical integers. At corpus
    * scale, swap the brute-force ranking for IVF/SRP candidates + the
    * truncated estimator (ranks past the candidate set contribute
    * O(1/rank) and vanish under the same suffix form). Top-20 by mean
    * value with vec_id tie-break. */
  def qKnnShapley(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    knnShapleyPerQuery(spark, sfDir)
      .groupBy($"vec_id", $"label")
      .agg(count(lit(1)).as("n_q"), sum($"shap").as("ss"))
      .select($"vec_id", $"label", $"n_q",
        round($"ss".cast("double") / $"n_q", 6).as("mean_shapley"))
      .orderBy($"mean_shapley".desc, $"vec_id".asc)
      .limit(20)
  }

  // ---- q_disparate_impact --------------------------------------------------
  /** Group-fairness audit of the frozen English scorer over the source
    * dimension — the governance read a release gate makes BEFORE a
    * quality filter ships: per source, the selection rate of the
    * p ≥ 0.5 gate, the disparate-impact ratio against the most-favored
    * source (EEOC four-fifths rule: di < 0.8 flags), and the
    * equal-opportunity gap (TPR distance to the best group, Hardt '16).
    * Reuses [[LearnOps.scoredDocs]] — ONE frozen scorer home with the
    * calibration pair, so a fairness number and an ECE number always
    * describe the same model. Scale shape: one scored-corpus pass into
    * a source-thin confusion relation; the reference row is a 1-row
    * broadcast, every rate divides exact integer sums and rounds once.
    * Degenerate guards (no positives in a group, zero max rate) resolve
    * to NULL identically in both engines. */
  def qDisparateImpact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val g = LearnOps.scoredDocs(spark, sfDir)
      .select($"source", $"y", ($"p" >= 0.5).cast("long").as("pred"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"pred").as("sel"),
        sum($"y").as("pos"), sum($"pred" * $"y").as("tp"))
      .select($"source", $"n", $"pos", $"sel", $"tp",
        round($"sel".cast("double") / $"n", 6).as("sel_rate"),
        when($"pos" > 0,
          round($"tp".cast("double") / $"pos", 6)).as("tpr"),
        when($"n" > $"pos", round(($"sel" - $"tp").cast("double")
          / ($"n" - $"pos"), 6)).as("fpr"))
      // source-thin barrier: the ref aggregate and the final projection
      // both read g, and without it each re-runs the full scoredDocs
      // tokenize pass (ADVICE r17)
      .localCheckpoint()
    val ref = g.agg(max($"sel_rate").as("max_sel"), max($"tpr").as("max_tpr"))
    g.crossJoin(broadcast(ref))
      .select($"source", $"n", $"sel_rate", $"tpr", $"fpr",
        when($"max_sel" > 0,
          round($"sel_rate" / $"max_sel", 6)).as("di_ratio"),
        when($"tpr".isNotNull && $"max_tpr".isNotNull,
          round($"max_tpr" - $"tpr", 6)).as("eo_gap"))
      .withColumn("four_fifths_fail",
        when($"di_ratio".isNotNull, $"di_ratio" < 0.8))
      .orderBy($"source")
  }

  // ---- q_brier_decomp ------------------------------------------------------
  /** Murphy ('73) decomposition of the frozen scorer's Brier score over
    * the q_calibration decile bins: BS ≈ REL − RES + UNC — reliability
    * (how far bin confidence sits from bin accuracy — the part
    * recalibration can fix), resolution (how much the bins separate the
    * base rate — the part it cannot), uncertainty (the base rate's own
    * variance), plus the exact per-row Brier and the within-bin
    * remainder `gap` that the 3-term identity leaves (zero only when
    * forecasts are constant within bins). Same scorer, same binning as
    * [[LearnOps.qCalibration]] — ECE says "miscalibrated", this says
    * which term to fix. Scale: one scored pass → bin-thin relation →
    * 1 row; squared terms round once to 9dp into exact decimal sums. */
  def qBrierDecomp(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rows = LearnOps.scoredDocs(spark, sfDir)
      .select($"y", $"p",
        least(floor($"p" * 10), lit(9)).cast("int").as("bin"),
        round(($"p" - $"y") * ($"p" - $"y"), 9).cast(dec28_9).as("sq"))
    val bins = rows.groupBy($"bin")
      .agg(count(lit(1)).as("n"), sum($"y").as("pos"),
        sum($"p".cast(dec18_6)).as("psum"))
    val tot = rows.agg(count(lit(1)).as("nt"), sum($"y").as("post"),
      sum($"sq").as("sqt"))
    bins.crossJoin(broadcast(tot))
      .select($"n", $"nt", $"post", $"sqt",
        round($"psum".cast("double") / $"n", 6).as("conf"),
        round($"pos".cast("double") / $"n", 6).as("acc"),
        round($"post".cast("double") / $"nt", 6).as("ybar"))
      .select($"nt", $"sqt", $"ybar",
        round(($"conf" - $"acc") * ($"conf" - $"acc") * $"n", 9)
          .cast(dec28_9).as("rel_t"),
        round(($"acc" - $"ybar") * ($"acc" - $"ybar") * $"n", 9)
          .cast(dec28_9).as("res_t"))
      .groupBy($"nt", $"sqt", $"ybar")
      .agg(sum($"rel_t").as("rels"), sum($"res_t").as("ress"))
      .select($"nt".as("n"),
        round($"sqt".cast("double") / $"nt", 6).as("brier"),
        round($"rels".cast("double") / $"nt", 6).as("rel"),
        round($"ress".cast("double") / $"nt", 6).as("res"),
        round($"ybar" * (lit(1.0) - $"ybar"), 6).as("unc"))
      .withColumn("gap",
        round($"brier" - ($"rel" - $"res" + $"unc"), 6))
  }

  // ---- q_ucb_replay --------------------------------------------------------
  /** Deterministic UCB1 replay (Auer '02) over the logged event stream at
    * day grain — the bandit-side complement of [[EventOps.qOfflineEval]]'s
    * IPS estimate: replay "which event_type arm would UCB1 have pulled
    * each day, knowing only PRIOR days' logged rewards", and price the
    * exploration against the best-in-hindsight arm. Because arm
    * statistics come from the LOG (not from the replayed pulls), each
    * day's choice is a pure function of cumulative per-arm sums —
    * windowable, no sequential state. Cold arms are pulled first (arm
    * asc), then argmax of mean + sqrt(2 ln N / n) with 9dp once-rounded
    * mean/bonus terms and arm-asc tie-breaks. Scale shape: events
    * collapse to the (day × arm) grid immediately; every window runs on
    * that grid (days × arms rows — thin at any corpus scale), and the
    * decimal cumulative sums keep both engines exact. Output is
    * day-grain: chosen arm, its realized day mean, the hindsight best,
    * per-day and cumulative regret. */
  def qUcbReplay(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val da = Tables.df(spark, sfDir, "events")
      .select(to_date($"ts").as("day"), $"event_type".as("arm"),
        round($"value", 6).cast(dec18_6).as("v"))
      .groupBy($"day", $"arm")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
    val grid = da.select($"day").distinct()
      .crossJoin(da.select($"arm").distinct())
      .join(da, Seq("day", "arm"), "left")
      .select($"day", $"arm",
        coalesce($"n", lit(0L)).as("n"),
        coalesce($"s", lit(0).cast(dec18_6)).as("s"))
    val wArm = Window.partitionBy($"arm").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = grid
      .withColumn("cn", coalesce(sum($"n").over(wArm), lit(0L)))
      .withColumn("cs", coalesce(sum($"s").over(wArm), lit(0).cast(dec18_6)))
      .withColumn("n_tot", sum($"cn").over(Window.partitionBy($"day")))
      .withColumn("ucb", when($"cn" > 0 && $"n_tot" > 0,
        round(round($"cs".cast("double") / $"cn", 9)
          + round(sqrt(lit(2.0) * log($"n_tot".cast("double")) / $"cn"), 9),
          6)))
      .withColumn("realized",
        when($"n" > 0, round($"s".cast("double") / $"n", 6)))
    val wPick = Window.partitionBy($"day")
      .orderBy(when($"cn" === 0, 1).otherwise(0).desc,
        $"ucb".desc_nulls_last, $"arm".asc)
    val wDay = Window.partitionBy($"day")
    val wCum = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum
      .withColumn("pick", row_number().over(wPick))
      .withColumn("best_realized", max($"realized").over(wDay))
      .filter($"pick" === 1)
      .withColumn("regret", when($"realized".isNotNull,
        round($"best_realized" - $"realized", 6)))
      .withColumn("cum_regret", sum(
        coalesce(round($"regret", 6).cast(dec28_9), lit(0).cast(dec28_9)))
        .over(wCum).cast("double"))
      .select($"day", $"arm".as("chosen_arm"), $"ucb", $"realized",
        $"best_realized", $"regret", round($"cum_regret", 6).as("cum_regret"))
      .orderBy($"day")
  }

  // ---- q_rayleigh ----------------------------------------------------------
  /** Rayleigh test of circular uniformity on event time-of-day (Mardia &
    * Jupp §6.3) per event_type — "is this stream's diurnal phase real or
    * is the traffic uniform around the clock": seconds-of-day map to
    * angles, the resultant length R̄ = |Σe^{iθ}|/n measures phase
    * concentration, z = nR̄² is the test statistic, and the p-value uses
    * the standard O(1/n²) series. A stream whose synthetic load SHOULD
    * be uniform but isn't indicates a clock/ingestion artifact — the
    * time-of-day twin of q_benford's digit audit. Scale: one events
    * pass; cos/sin terms round once to 9dp into exact decimal sums
    * (the q_seasonality trig discipline), everything after is
    * arm-thin closed form. */
  def qRayleigh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val terms = Tables.df(spark, sfDir, "events")
      .select($"event_type",
        (hour($"ts") * 3600 + minute($"ts") * 60 + second($"ts")).as("sec"))
      .select($"event_type",
        round(cos($"sec".cast("double") * lit(2.0) * lit(3.141592653589793)
          / lit(86400.0)), 9).cast(dec28_9).as("ct"),
        round(sin($"sec".cast("double") * lit(2.0) * lit(3.141592653589793)
          / lit(86400.0)), 9).cast(dec28_9).as("st"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"ct").as("c"), sum($"st").as("s"))
    terms
      .withColumn("rbar", round(
        sqrt($"c".cast("double") * $"c" + $"s".cast("double") * $"s")
          / $"n", 6))
      .withColumn("z", round($"n" * $"rbar" * $"rbar", 6))
      // the O(1/n²) series is an asymptotic correction, not a CDF — for
      // large z / small n it can stray past [0, 1]; clamp BEFORE the
      // round, identically in the oracle, so the `uniform` flag never
      // reads an impossible probability (ADVICE r17)
      .withColumn("p_value", round(
        greatest(lit(0.0), least(lit(1.0),
          exp(-$"z") * (lit(1.0)
            + (lit(2.0) * $"z" - $"z" * $"z")
              / (lit(4.0) * $"n")
            - (lit(24.0) * $"z" - lit(132.0) * $"z" * $"z"
               + lit(76.0) * $"z" * $"z" * $"z"
               - lit(9.0) * $"z" * $"z" * $"z" * $"z")
              / (lit(288.0) * $"n" * $"n")))), 6))
      .select($"event_type", $"n", $"rbar", $"z", $"p_value",
        ($"p_value" > 0.05).as("uniform"))
      .orderBy($"event_type")
  }

  // ---- q_yule_k ------------------------------------------------------------
  /** Yule's characteristic K and Simpson's lexical concentration per
    * source (Yule '44): K = 10⁴ · (Σc² − N) / N² over the term-count
    * spectrum — the repeated-vocabulary fingerprint that is length-
    * invariant where raw TTR is not (q_mattr solves length bias by
    * windowing; K solves it in closed form), plus Simpson's D =
    * Σc(c−1)/(N(N−1)), the probability two random tokens coincide. A
    * source whose K spikes is template/boilerplate-heavy even when its
    * dedup rate looks clean. Scale: the one shared tokenize pass →
    * (source, tok) counts → source-thin integer moments; exact integer
    * sums, each ratio divides once and rounds once. */
  def qYuleK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "documents")
      .select($"source",
        explode(graft.functions.TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"source", $"tok")
      .agg(count(lit(1)).as("c"))
      .groupBy($"source")
      .agg(sum($"c").as("n_tokens"), count(lit(1)).as("vocab"),
        sum($"c" * $"c").as("c2"), sum($"c" * ($"c" - 1)).as("cc1"))
      .select($"source", $"n_tokens", $"vocab",
        round(lit(10000.0) * ($"c2" - $"n_tokens").cast("double")
          / ($"n_tokens".cast("double") * $"n_tokens"), 6).as("yule_k"),
        when($"n_tokens" > 1, round($"cc1".cast("double")
          / ($"n_tokens".cast("double") * ($"n_tokens" - 1)), 6))
          .as("simpson_d"))
      .orderBy($"source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_knn_shapley" -> qKnnShapley,
    "q_disparate_impact" -> qDisparateImpact,
    "q_brier_decomp" -> qBrierDecomp,
    "q_ucb_replay" -> qUcbReplay,
    "q_rayleigh" -> qRayleigh,
    "q_yule_k" -> qYuleK
  )

  /** DuckDB twin of [[graft.functions.TextFunctions.tokens]] (the
    * Corpus2Ops declaration-order discipline). */
  private val toksSql =
    "list_filter(string_split(lower(text), ' '), x -> x != '')"

  val oracle: Map[String, String] = Map(
    // same 6dp-rounded cosine ranking as q_knn_classify's oracle, then the
    // identical 9dp once-rounded recursion terms suffix-summed as decimals
    "q_knn_shapley" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv, label AS truth
        |  FROM embeddings WHERE vec_id % 100 = 0),
        |p AS (
        |  SELECT q.qid, q.truth, e.vec_id, e.label,
        |    round(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])), 6) AS sim
        |  FROM q JOIN embeddings e ON e.vec_id != q.qid),
        |r AS (
        |  SELECT qid, vec_id, label,
        |    CASE WHEN label = truth THEN 1 ELSE 0 END AS m,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC,
        |      vec_id ASC) AS rk,
        |    count(*) OVER (PARTITION BY qid) AS n_train
        |  FROM p),
        |t AS (
        |  SELECT qid, vec_id, label, rk,
        |    CASE WHEN lead(m) OVER w IS NULL
        |      THEN CAST(round(CAST(m AS DOUBLE) / n_train, 9)
        |        AS DECIMAL(28,9))
        |      ELSE CAST(round((m - lead(m) OVER w)
        |          * least(rk, 10) / (rk * 10.0), 9) AS DECIMAL(28,9))
        |    END AS t
        |  FROM r WINDOW w AS (PARTITION BY qid ORDER BY rk)),
        |s AS (
        |  SELECT qid, vec_id, label,
        |    sum(t) OVER (PARTITION BY qid ORDER BY rk
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS shap
        |  FROM t)
        |SELECT vec_id, label, CAST(count(*) AS BIGINT) AS n_q,
        |  round(CAST(sum(shap) AS DOUBLE) / count(*), 6) AS mean_shapley
        |FROM s GROUP BY 1, 2
        |ORDER BY mean_shapley DESC, vec_id ASC LIMIT 20""".stripMargin,

    // same frozen scorer CTE as q_calibration; confusion sums are exact
    // integers, every rate/ratio divides once and rounds once, and the
    // degenerate guards (pos = 0, max_sel = 0) CASE to NULL identically
    "q_disparate_impact" ->
      s"""WITH ${LearnOps.scoredCte},
        |g AS (
        |  SELECT source, count(*) AS n,
        |    CAST(sum(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS sel,
        |    CAST(sum(y) AS BIGINT) AS pos,
        |    CAST(sum(CASE WHEN p >= 0.5 THEN y ELSE 0 END) AS BIGINT)
        |      AS tp
        |  FROM d GROUP BY 1),
        |r AS (
        |  SELECT source, n,
        |    round(CAST(sel AS DOUBLE) / n, 6) AS sel_rate,
        |    CASE WHEN pos > 0
        |      THEN round(CAST(tp AS DOUBLE) / pos, 6) END AS tpr,
        |    CASE WHEN n > pos
        |      THEN round(CAST(sel - tp AS DOUBLE) / (n - pos), 6) END
        |      AS fpr
        |  FROM g),
        |m AS (SELECT max(sel_rate) AS max_sel, max(tpr) AS max_tpr FROM r)
        |SELECT source, n, sel_rate, tpr, fpr,
        |  CASE WHEN max_sel > 0
        |    THEN round(sel_rate / max_sel, 6) END AS di_ratio,
        |  CASE WHEN tpr IS NOT NULL AND max_tpr IS NOT NULL
        |    THEN round(max_tpr - tpr, 6) END AS eo_gap,
        |  CASE WHEN max_sel > 0
        |    THEN round(sel_rate / max_sel, 6) < 0.8 END
        |    AS four_fifths_fail
        |FROM r CROSS JOIN m ORDER BY source""".stripMargin,

    // same decile bins as q_calibration; squared terms round once to 9dp
    // into exact decimal sums; the 3-term identity's remainder is `gap`
    "q_brier_decomp" ->
      s"""WITH ${LearnOps.scoredCte},
        |rows_ AS (
        |  SELECT y, p, least(CAST(floor(p * 10) AS INT), 9) AS bin,
        |    CAST(round((p - y) * (p - y), 9) AS DECIMAL(28,9)) AS sq
        |  FROM d),
        |b AS (
        |  SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos,
        |    sum(CAST(p AS DECIMAL(18,6))) AS psum
        |  FROM rows_ GROUP BY 1),
        |tot AS (
        |  SELECT count(*) AS nt, CAST(sum(y) AS BIGINT) AS post,
        |    sum(sq) AS sqt
        |  FROM rows_),
        |terms AS (
        |  SELECT nt, sqt,
        |    round(CAST(post AS DOUBLE) / nt, 6) AS ybar,
        |    CAST(round((round(CAST(psum AS DOUBLE) / n, 6)
        |        - round(CAST(pos AS DOUBLE) / n, 6))
        |      * (round(CAST(psum AS DOUBLE) / n, 6)
        |        - round(CAST(pos AS DOUBLE) / n, 6)) * n, 9)
        |      AS DECIMAL(28,9)) AS rel_t,
        |    CAST(round((round(CAST(pos AS DOUBLE) / n, 6)
        |        - round(CAST(post AS DOUBLE) / nt, 6))
        |      * (round(CAST(pos AS DOUBLE) / n, 6)
        |        - round(CAST(post AS DOUBLE) / nt, 6)) * n, 9)
        |      AS DECIMAL(28,9)) AS res_t
        |  FROM b CROSS JOIN tot),
        |agg AS (
        |  SELECT nt, sqt, ybar, sum(rel_t) AS rels, sum(res_t) AS ress
        |  FROM terms GROUP BY 1, 2, 3),
        |f AS (
        |  SELECT CAST(nt AS BIGINT) AS n,
        |    round(CAST(sqt AS DOUBLE) / nt, 6) AS brier,
        |    round(CAST(rels AS DOUBLE) / nt, 6) AS rel,
        |    round(CAST(ress AS DOUBLE) / nt, 6) AS res,
        |    round(ybar * (1.0 - ybar), 6) AS unc
        |  FROM agg)
        |SELECT n, brier, rel, res, unc,
        |  round(brier - (rel - res + unc), 6) AS gap
        |FROM f""".stripMargin,

    // the (day × arm) grid, per-arm strictly-prior cumulative decimal
    // sums, the identical cold-first/ucb/arm pick ordering, and the same
    // 9dp mean+bonus / 6dp once-rounded reads
    "q_ucb_replay" ->
      """WITH da AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type AS arm,
        |    count(*) AS n,
        |    sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS s
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT d.day, a.arm, coalesce(da.n, 0) AS n,
        |    coalesce(da.s, CAST(0 AS DECIMAL(18,6))) AS s
        |  FROM (SELECT DISTINCT day FROM da) d
        |  CROSS JOIN (SELECT DISTINCT arm FROM da) a
        |  LEFT JOIN da ON da.day = d.day AND da.arm = a.arm),
        |cum AS (
        |  SELECT day, arm, n, s,
        |    coalesce(CAST(sum(n) OVER wa AS BIGINT), 0) AS cn,
        |    coalesce(sum(s) OVER wa, CAST(0 AS DECIMAL(18,6))) AS cs
        |  FROM grid
        |  WINDOW wa AS (PARTITION BY arm ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |scored AS (
        |  SELECT day, arm, n, s, cn,
        |    CAST(sum(cn) OVER (PARTITION BY day) AS BIGINT) AS n_tot,
        |    CASE WHEN cn > 0 AND sum(cn) OVER (PARTITION BY day) > 0
        |      THEN round(round(CAST(cs AS DOUBLE) / cn, 9)
        |        + round(sqrt(2.0 * ln(CAST(sum(cn) OVER (PARTITION BY day)
        |            AS DOUBLE)) / cn), 9), 6) END AS ucb,
        |    CASE WHEN n > 0
        |      THEN round(CAST(s AS DOUBLE) / n, 6) END AS realized
        |  FROM cum),
        |picked AS (
        |  SELECT day, arm, cn, ucb, realized,
        |    row_number() OVER (PARTITION BY day ORDER BY
        |      CASE WHEN cn = 0 THEN 1 ELSE 0 END DESC,
        |      ucb DESC NULLS LAST, arm ASC) AS pick,
        |    max(realized) OVER (PARTITION BY day) AS best_realized
        |  FROM scored),
        |days AS (
        |  SELECT day, arm AS chosen_arm, ucb, realized, best_realized,
        |    CASE WHEN realized IS NOT NULL
        |      THEN round(best_realized - realized, 6) END AS regret
        |  FROM picked WHERE pick = 1)
        |SELECT day, chosen_arm, ucb, realized, best_realized, regret,
        |  round(CAST(sum(coalesce(CAST(round(regret, 6) AS DECIMAL(28,9)),
        |      CAST(0 AS DECIMAL(28,9)))) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE),
        |    6) AS cum_regret
        |FROM days ORDER BY day""".stripMargin,

    // identical 9dp once-rounded cos/sin terms into exact decimal sums;
    // rbar/z/p are the same double closed form rounded once each
    "q_rayleigh" ->
      """WITH a AS (
        |  SELECT event_type,
        |    CAST(round(cos(CAST(date_part('hour', ts) * 3600
        |      + date_part('minute', ts) * 60
        |      + date_part('second', ts) AS DOUBLE)
        |      * 2.0 * 3.141592653589793 / 86400.0), 9)
        |      AS DECIMAL(28,9)) AS ct,
        |    CAST(round(sin(CAST(date_part('hour', ts) * 3600
        |      + date_part('minute', ts) * 60
        |      + date_part('second', ts) AS DOUBLE)
        |      * 2.0 * 3.141592653589793 / 86400.0), 9)
        |      AS DECIMAL(28,9)) AS st
        |  FROM events),
        |g AS (
        |  SELECT event_type, count(*) AS n, sum(ct) AS c, sum(st) AS s
        |  FROM a GROUP BY 1),
        |r AS (
        |  SELECT event_type, n,
        |    round(sqrt(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)
        |      + CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n, 6) AS rbar
        |  FROM g),
        |z AS (SELECT event_type, n, rbar,
        |  round(n * rbar * rbar, 6) AS z FROM r),
        |p AS (
        |  SELECT event_type, n, rbar, z,
        |    round(greatest(0.0, least(1.0, exp(-z) * (1.0
        |      + (2.0 * z - z * z) / (4.0 * n)
        |      - (24.0 * z - 132.0 * z * z + 76.0 * z * z * z
        |         - 9.0 * z * z * z * z) / (288.0 * n * n)))), 6) AS p_value
        |  FROM z)
        |SELECT event_type, CAST(n AS BIGINT) AS n, rbar, z, p_value,
        |  p_value > 0.05 AS uniform
        |FROM p ORDER BY event_type""".stripMargin,

    // exact integer moments of the shared token counts; each ratio
    // divides once as the same double expression and rounds once
    "q_yule_k" ->
      s"""WITH toks AS (
        |  SELECT source, unnest($toksSql) AS tok FROM documents),
        |cnt AS (
        |  SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        |g AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS vocab,
        |    CAST(sum(c * c) AS BIGINT) AS c2,
        |    CAST(sum(c * (c - 1)) AS BIGINT) AS cc1
        |  FROM cnt GROUP BY 1)
        |SELECT source, n_tokens, vocab,
        |  round(10000.0 * CAST(c2 - n_tokens AS DOUBLE)
        |    / (CAST(n_tokens AS DOUBLE) * n_tokens), 6) AS yule_k,
        |  CASE WHEN n_tokens > 1
        |    THEN round(CAST(cc1 AS DOUBLE)
        |      / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)), 6) END
        |    AS simpson_d
        |FROM g ORDER BY source""".stripMargin
  )
}
