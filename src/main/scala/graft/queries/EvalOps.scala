package graft.queries

import graft.Decimals._
import graft.Tables
import graft.functions.Md5Hash.h60
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation pack — the procedures that turn q_ridge / q_logreg
  * style in-plan probes into TRUSTED production components: distribution-
  * free prediction intervals with finite-sample coverage (split
  * conformal), model-agnostic feature attribution (permutation
  * importance), and the masked-ground-truth audit every imputation
  * pipeline needs before it backfills a warehouse column. Reference
  * capability: the deployed HiveQL engine ships the SQL surface these
  * compose from; the procedures themselves are the extension tier.
  *
  * All three reuse the q_ridge closed-form fit (Cramer's rule over
  * exact moments) so the model under evaluation is the one the library
  * already ships. Splits and permutations are md5-keyed — the portable
  * 60-bit hash rank both engines share — never RAND(). */
object EvalOps extends QueryPack {

  /** The q_ridge per-order feature relation: x1 = line count, x2 =
    * floored quantity sum, yv = total price as exact decimal. */
  private def ridgePer(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "lineitem")
      .groupBy($"l_orderkey").agg(count(lit(1)).as("x1"),
        sum(floor($"l_quantity").cast("long")).as("x2"))
      .join(Tables.df(spark, sfDir, "orders")
        .select($"o_orderkey".as("l_orderkey"),
          $"o_totalprice".cast(dec18_2).as("yv")), "l_orderkey")
  }

  private val ridgePerSql =
    """per AS (
      |  SELECT l.l_orderkey, count(*) AS x1,
      |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS x2,
      |    CAST(any_value(o.o_totalprice) AS DECIMAL(18,2)) AS yv
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  GROUP BY l.l_orderkey)""".stripMargin

  /** Closed-form ridge fit (λ = 10 on the centered system — exactly
    * q_ridge's estimator) over a (x1, x2, yv) relation, returning the
    * 1-row raw (w1, w2, b0). The moment shapes and Cramer formulas are
    * kept character-identical to q_ridge's so both engines carry the
    * same doubles. */
  private def ridgeFit(src: DataFrame): DataFrame = {
    val s = src.agg(count(lit(1)).as("n"),
      sum(col("x1")).as("sx"), sum(col("x2")).as("sy0"),
      sum(col("x1") * col("x1")).as("sxx"),
      sum(col("x2") * col("x2")).as("syy"),
      sum(col("x1") * col("x2")).as("sxy"),
      sum(col("yv")).as("st"),
      sum(col("yv") * col("x1")).as("sxt"),
      sum(col("yv") * col("x2")).as("syt"))
    val nd = col("n").cast("double")
    def c(raw: Column, a: Column, b: Column): Column =
      raw.cast("double") - a.cast("double") * b.cast("double") / nd
    val cxx = c(col("sxx"), col("sx"), col("sx")) + lit(10.0)
    val cyy = c(col("syy"), col("sy0"), col("sy0")) + lit(10.0)
    val cxy = c(col("sxy"), col("sx"), col("sy0"))
    val cxt = c(col("sxt"), col("sx"), col("st"))
    val cyt = c(col("syt"), col("sy0"), col("st"))
    val w1 = (cxt * cyy - cxy * cyt) / (cxx * cyy - cxy * cxy)
    val w2 = (cxx * cyt - cxy * cxt) / (cxx * cyy - cxy * cxy)
    val b0 = (col("st").cast("double") / nd
      - w1 * (col("sx").cast("double") / nd)
      - w2 * (col("sy0").cast("double") / nd))
    s.select(col("n").as("n_fit"), w1.as("w1"), w2.as("w2"), b0.as("b0"))
  }

  /** The same fit as SQL CTEs reading FROM `src`, emitting relation
    * `w(n_fit, w1, w2, b0)`. */
  private def ridgeFitSql(src: String): String =
    s"""s AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(x1) AS BIGINT) AS sx, CAST(sum(x2) AS BIGINT) AS sy0,
      |    CAST(sum(x1 * x1) AS BIGINT) AS sxx,
      |    CAST(sum(x2 * x2) AS BIGINT) AS syy,
      |    CAST(sum(x1 * x2) AS BIGINT) AS sxy,
      |    sum(yv) AS st, sum(yv * x1) AS sxt, sum(yv * x2) AS syt
      |  FROM $src),
      |m AS (
      |  SELECT n, sx, sy0, st,
      |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      |      / CAST(n AS DOUBLE) + 10.0 AS cxx,
      |    CAST(syy AS DOUBLE) - CAST(sy0 AS DOUBLE)
      |      * CAST(sy0 AS DOUBLE) / CAST(n AS DOUBLE) + 10.0 AS cyy,
      |    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy0 AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS cxy,
      |    CAST(sxt AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(st AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS cxt,
      |    CAST(syt AS DOUBLE) - CAST(sy0 AS DOUBLE) * CAST(st AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS cyt
      |  FROM s),
      |w AS (
      |  SELECT n AS n_fit,
      |    (cxt * cyy - cxy * cyt) / (cxx * cyy - cxy * cxy) AS w1,
      |    (cxx * cyt - cxy * cxt) / (cxx * cyy - cxy * cxy) AS w2,
      |    CAST(st AS DOUBLE) / CAST(n AS DOUBLE)
      |      - ((cxt * cyy - cxy * cyt) / (cxx * cyy - cxy * cxy))
      |        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |      - ((cxx * cyt - cxy * cxt) / (cxx * cyy - cxy * cxy))
      |        * (CAST(sy0 AS DOUBLE) / CAST(n AS DOUBLE)) AS b0
      |  FROM m)""".stripMargin

  // ---- q_conformal -------------------------------------------------------
  /** Split-conformal prediction intervals (Papadopoulos et al. '02;
    * Vovk's inductive conformal; Lei et al. '18 exposition) around the
    * ridge price model, α = 0.1: md5-keyed 2/1/1 split into
    * train/calibration/test, fit on train only, q̂ = the
    * ⌈(n_c+1)(1−α)⌉-th smallest absolute calibration residual (exact
    * integer ceil-division — no float rank), and the marginal-coverage
    * audit on held-out test (the finite-sample ≥ 90% guarantee that
    * holds for ANY model, which is the entire point). One corpus pass
    * for moments, one order-statistic locate through the histogram-
    * refine kernel ([[graft.operators.Quantiles.orderStatistics]] —
    * r14: replaces the r13 corpus-wide row_number, so no stage sorts
    * the calibration set in one task), one test aggregate — merge-safe
    * at any scale. The oracle keeps the plain ORDER BY rank: an order
    * statistic is algorithm-independent. */
  def qConformal(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val per = ridgePer(spark, sfDir)
      .withColumn("part",
        pmod(h60(lit("cf:"), $"l_orderkey".cast("string")), lit(4)))
      .localCheckpoint() // feeds fit, calibration, and test
    val w = ridgeFit(per.filter($"part" <= 1))
    val scored = per.crossJoin(broadcast(w))
      .withColumn("resid",
        abs($"yv".cast("double") - ($"b0"
          + $"w1" * $"x1".cast("double") + $"w2" * $"x2".cast("double"))))
    val calib = scored.filter($"part" === 2)
    val nc = calib.agg(count(lit(1)).as("n_calib")).localCheckpoint()
    val kRel = nc.select(expr("(9 * (n_calib + 1) + 9) div 10").as("k"))
    val qhat = graft.operators.Quantiles
      .orderStatistics(calib, $"resid", kRel)
      .crossJoin(broadcast(nc))
      .select($"n_calib", $"v".as("qhat"))
    val test = scored.filter($"part" === 3)
      .crossJoin(broadcast(qhat))
      .agg(max($"n_calib").as("n_calib"), max($"qhat").as("qhat"),
        count(lit(1)).as("n_test"),
        sum(when($"resid" <= $"qhat", 1L).otherwise(0L)).as("covered"))
    test.crossJoin(broadcast(w.select($"n_fit".as("n_train"))))
      .select($"n_train", $"n_calib", $"n_test",
        round($"qhat", 4).as("q_hat"),
        round($"covered".cast("double") / $"n_test", 6).as("coverage"),
        round(lit(2.0) * $"qhat", 4).as("mean_width"))
  }

  // ---- q_perm_importance -------------------------------------------------
  /** Permutation feature importance (Breiman '01 §10, the model-
    * agnostic form in Fisher et al. '19): fit the ridge model on the
    * full relation, then re-score with each feature's column replaced
    * by a DETERMINISTIC derangement — md5-bucket the relation into 64
    * buckets and cyclic-shift WITHIN each bucket in md5-rank order
    * (rank r takes the value of rank r mod n_b + 1), which breaks the
    * feature-target association exactly as a random permutation does
    * but replays identically in both engines. Importance = the
    * fractional MSE increase. Squared errors round once to 4dp into
    * exact decimal sums. Scale (r14, replacing the r13 corpus-wide
    * row_number): the rank window partitions by bucket — each task
    * sorts ~n/64 rows — and the donor join is a (bucket, rank)
    * equi-join; raise the bucket count with the corpus and the shapes
    * are unchanged. A 1-row bucket would map to itself (not a
    * derangement there) — impossible above 64 rows unless the md5
    * bucketing is degenerate, and harmless to parity if it ever
    * happens since the oracle shares the rule. */
  /** [[qPermImportance]]'s ranked relation, pre-checkpoint, so
    * R13PlanAuditSpec can assert the rank window is bucket-partitioned
    * (the r13 verdict's single-task global sort, fixed). */
  private[graft] def permRanked(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    ridgePer(spark, sfDir)
      .withColumn("bkt",
        pmod(h60(lit("pib:"), $"l_orderkey".cast("string")), lit(64)))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"bkt")
          .orderBy(h60(lit("pi:"), $"l_orderkey".cast("string")),
            $"l_orderkey")))
  }

  def qPermImportance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val per = permRanked(spark, sfDir)
      .localCheckpoint() // fit + 3 scoring passes + the donor side
    val w = ridgeFit(per)
    val bc = per.groupBy($"bkt").agg(count(lit(1)).as("nb"))
    val donor = per.select($"bkt".as("dbkt"), $"rn".as("dn"),
      $"x1".as("x1p"), $"x2".as("x2p"))
    val joined = per.join(broadcast(bc), "bkt")
      .withColumn("nxt", $"rn" % $"nb" + 1)
      .join(donor, $"bkt" === $"dbkt" && $"nxt" === $"dn")
      .crossJoin(broadcast(w))
    def mse(x1c: Column, x2c: Column): Column = {
      val err = ($"yv".cast("double") - ($"b0"
        + $"w1" * x1c.cast("double") + $"w2" * x2c.cast("double")))
      sum(round(err * err, 4).cast(dec38_4))
    }
    val agg = joined.agg(count(lit(1)).as("n"),
      mse($"x1", $"x2").as("m_base"),
      mse($"x1p", $"x2").as("m_x1"),
      mse($"x1", $"x2p").as("m_x2"))
    val base = $"m_base".cast("double") / $"n"
    def row(label: String, m: Column): Column =
      struct(lit(label).as("feature"),
        round(m.cast("double") / $"n", 4).as("mse"),
        round((m.cast("double") / $"n" - base) / base, 6)
          .as("delta_frac"))
    agg.select(explode(array(
        row("none", $"m_base"), row("x_lines", $"m_x1"),
        row("x_qty", $"m_x2"))).as("r"), $"n")
      .select($"r.feature".as("feature"), $"n", $"r.mse".as("mse"),
        $"r.delta_frac".as("delta_frac"))
      .orderBy($"feature")
  }

  // ---- q_impute ----------------------------------------------------------
  /** Imputation quality audit by masked ground truth: hide an md5-keyed
    * 20% of event values, impute each masked value with the per-type
    * median of the SURVIVING values (the exact middle-two order
    * statistic — no approximate percentile), then score the fill
    * against the hidden truth: RMSE / MAE of the imputed values and the
    * mean shift the imputation injects into the column. This is the
    * audit that decides whether a backfill is safe to run — the
    * evaluation pattern (mask → fill → compare) every production
    * imputation job should ship with. Medians are exact decimal
    * averages of two order statistics; error terms round once to 4dp
    * into exact decimal sums. */
  def qImpute(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.df(spark, sfDir, "events")
      .select($"event_id", $"event_type", round($"value", 2).cast(dec18_2)
        .as("v"))
      .withColumn("masked",
        pmod(h60(lit("imp:"), $"event_id".cast("string")), lit(5)) === 0)
      .localCheckpoint() // median pass + scoring pass
    val surv = ev.filter(!$"masked")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"event_type").orderBy($"v", $"event_id")))
    val cnt = surv.groupBy($"event_type").agg(count(lit(1)).as("cnt"))
    val med = surv.join(cnt, "event_type")
      .filter($"rn" === expr("(cnt + 1) div 2")
        || $"rn" === expr("(cnt + 2) div 2"))
      .groupBy($"event_type")
      .agg((sum($"v").cast("double")
        / count(lit(1)).cast("double")).as("fill"))
    ev.filter($"masked").join(med, "event_type")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_masked"),
        min($"fill").as("fill"),
        sum(round(($"v".cast("double") - $"fill")
          * ($"v".cast("double") - $"fill"), 4).cast(dec38_4)).as("se"),
        sum(round(abs($"v".cast("double") - $"fill"), 4).cast(dec38_4))
          .as("ae"),
        sum($"v").as("sv"))
      .select($"event_type", $"n_masked",
        round($"fill", 4).as("median_fill"),
        round(sqrt($"se".cast("double") / $"n_masked"), 4).as("rmse"),
        round($"ae".cast("double") / $"n_masked", 4).as("mae"),
        round($"fill" - $"sv".cast("double") / $"n_masked", 4)
          .as("mean_shift"))
      .orderBy($"event_type")
  }

  // ---- q_y_scramble --------------------------------------------------------
  /** Y-scrambling (target-permutation) validation of the ridge model
    * (Rücker et al. '07 — the QSAR community's standard overfitting
    * check): fit once on the true target, once on a DERANGED target
    * (the q_perm_importance 64-bucket md5 cyclic shift applied to y),
    * and compare R². The scrambled fit's R² must collapse toward 0 —
    * if it doesn't, the model is memorizing structure that survives
    * target permutation (leakage, duplicate rows, or an overfit
    * feature set). SST is IDENTICAL for both fits (a permutation
    * preserves the value multiset), so the contrast is pure SSR.
    * Target: the order's LINE REVENUE Σ l_extendedprice — genuinely
    * generated from the feature rows, so the true fit is strong and
    * the contrast sharp (the q_ridge o_totalprice target is synthetic-
    * independent of the lineitems on this fixture: both R²'s would sit
    * at ≈ 0 and the check would be vacuous). Residual squares round
    * once to 4dp into exact decimal sums; the derangement is
    * q_perm_importance's 64-bucket rule under its own salt — same
    * scale shape, no corpus-grain window. */
  def qYScramble(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.df(spark, sfDir, "lineitem")
      .groupBy($"l_orderkey").agg(count(lit(1)).as("x1"),
        sum(floor($"l_quantity").cast("long")).as("x2"),
        sum(round($"l_extendedprice", 2).cast(dec18_2)).as("yv"))
      .withColumn("bkt",
        pmod(h60(lit("ysb:"), $"l_orderkey".cast("string")), lit(64)))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"bkt")
          .orderBy(h60(lit("ys:"), $"l_orderkey".cast("string")),
            $"l_orderkey")))
      .localCheckpoint() // donor side + the joined relation
    val bc = per.groupBy($"bkt").agg(count(lit(1)).as("nb"))
    val donor = per.select($"bkt".as("dbkt"), $"rn".as("dn"),
      $"yv".as("yscr"))
    val joined = per.join(broadcast(bc), "bkt")
      .withColumn("nxt", $"rn" % $"nb" + 1)
      .join(donor, $"bkt" === $"dbkt" && $"nxt" === $"dn")
      .localCheckpoint() // two fits + the residual/SST passes
    val wT = ridgeFit(joined)
    val wS = ridgeFit(joined.select($"x1", $"x2", $"yscr".as("yv")))
    val mom = joined.agg(count(lit(1)).as("n"), sum($"yv").as("sy"),
      sum(round($"yv".cast("double") * $"yv", 4).cast(dec38_4)).as("sy2"))
    def ssr(w: DataFrame, y: Column): Column = {
      val e = (y.cast("double") - (col("b0")
        + col("w1") * col("x1").cast("double")
        + col("w2") * col("x2").cast("double")))
      sum(round(e * e, 4).cast(dec38_4))
    }
    val ssrT = joined.crossJoin(broadcast(wT))
      .agg(ssr(wT, $"yv").as("ssr_t"))
    val ssrS = joined.crossJoin(broadcast(wS))
      .agg(ssr(wS, $"yscr").as("ssr_s"))
    val sst = ($"sy2".cast("double")
      - $"sy".cast("double") * $"sy".cast("double") / $"n")
    mom.crossJoin(broadcast(ssrT)).crossJoin(broadcast(ssrS))
      .select($"n",
        round(lit(1.0) - $"ssr_t".cast("double") / sst, 6).as("r2_true"),
        round(lit(1.0) - $"ssr_s".cast("double") / sst, 6)
          .as("r2_scrambled"))
      .withColumn("collapsed",
        abs($"r2_scrambled") < abs($"r2_true") / 2.0)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_conformal" -> qConformal,
    "q_perm_importance" -> qPermImportance,
    "q_impute" -> qImpute,
    "q_y_scramble" -> qYScramble
  )

  private val hashSql = (salt: String, key: String) =>
    s"('0x' || substr(md5('$salt' || CAST($key AS VARCHAR)), 1, 15))::BIGINT"

  val oracle: Map[String, String] = Map(
    // same bucketed derangement as q_perm_importance, two ridge fits
    // (the true fit's CTEs renamed so the shared chain can appear
    // twice), 4dp residual sums, shared SST
    "q_y_scramble" ->
      (s"""WITH per2 AS (
        |  SELECT l_orderkey, count(*) AS x1,
        |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS x2,
        |    sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))) AS yv
        |  FROM lineitem GROUP BY l_orderkey),
        |pr AS (
        |  SELECT *, ${hashSql("ysb:", "l_orderkey")} % 64 AS bkt,
        |    row_number() OVER (
        |      PARTITION BY ${hashSql("ysb:", "l_orderkey")} % 64
        |      ORDER BY ${hashSql("ys:", "l_orderkey")}, l_orderkey) AS rn
        |  FROM per2),
        |bc AS (SELECT bkt, count(*) AS nb FROM pr GROUP BY bkt),
        |j AS (
        |  SELECT a.x1, a.x2, a.yv, d.yv AS yscr
        |  FROM pr a JOIN bc ON bc.bkt = a.bkt
        |  JOIN pr d ON d.bkt = a.bkt AND d.rn = a.rn % bc.nb + 1),
        |${ridgeFitSql("j")
          .replace("s AS (", "st AS (").replace("FROM s)", "FROM st)")
          .replace("m AS (", "mt AS (").replace("FROM m)", "FROM mt)")
          .replace("w AS (", "wt AS (")},
        |scr AS (SELECT x1, x2, yscr AS yv FROM j),
        |${ridgeFitSql("scr")},
        |mom AS (
        |  SELECT count(*) AS n, sum(yv) AS sy,
        |    sum(CAST(round(CAST(yv AS DOUBLE) * yv, 4) AS DECIMAL(38,4)))
        |      AS sy2
        |  FROM j),
        |rt AS (
        |  SELECT sum(CAST(round(
        |    (CAST(yv AS DOUBLE) - (b0 + w1 * CAST(x1 AS DOUBLE)
        |      + w2 * CAST(x2 AS DOUBLE)))
        |    * (CAST(yv AS DOUBLE) - (b0 + w1 * CAST(x1 AS DOUBLE)
        |      + w2 * CAST(x2 AS DOUBLE))), 4) AS DECIMAL(38,4))) AS ssr_t
        |  FROM j CROSS JOIN wt),
        |rs AS (
        |  SELECT sum(CAST(round(
        |    (CAST(yscr AS DOUBLE) - (b0 + w1 * CAST(x1 AS DOUBLE)
        |      + w2 * CAST(x2 AS DOUBLE)))
        |    * (CAST(yscr AS DOUBLE) - (b0 + w1 * CAST(x1 AS DOUBLE)
        |      + w2 * CAST(x2 AS DOUBLE))), 4) AS DECIMAL(38,4))) AS ssr_s
        |  FROM j CROSS JOIN w)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(1.0 - CAST(ssr_t AS DOUBLE)
        |    / (CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE)
        |      * CAST(sy AS DOUBLE) / n), 6) AS r2_true,
        |  round(1.0 - CAST(ssr_s AS DOUBLE)
        |    / (CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE)
        |      * CAST(sy AS DOUBLE) / n), 6) AS r2_scrambled,
        |  abs(round(1.0 - CAST(ssr_s AS DOUBLE)
        |    / (CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE)
        |      * CAST(sy AS DOUBLE) / n), 6))
        |    < abs(round(1.0 - CAST(ssr_t AS DOUBLE)
        |    / (CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE)
        |      * CAST(sy AS DOUBLE) / n), 6)) / 2.0 AS collapsed
        |FROM mom CROSS JOIN rt CROSS JOIN rs""".stripMargin),
    "q_conformal" ->
      (s"""WITH $ridgePerSql,
        |pp AS (
        |  SELECT *, ${hashSql("cf:", "l_orderkey")} % 4 AS part
        |  FROM per),
        |tr AS (SELECT * FROM pp WHERE part <= 1),
        |${ridgeFitSql("tr")},
        |scored AS (
        |  SELECT pp.part, pp.l_orderkey,
        |    abs(CAST(yv AS DOUBLE) - (b0 + w1 * CAST(x1 AS DOUBLE)
        |      + w2 * CAST(x2 AS DOUBLE))) AS resid
        |  FROM pp CROSS JOIN w),
        |calib AS (
        |  SELECT resid, row_number() OVER (ORDER BY resid, l_orderkey)
        |    AS rn
        |  FROM scored WHERE part = 2),
        |nc AS (SELECT count(*) AS n_calib FROM calib),
        |qh AS (
        |  SELECT n_calib, resid AS qhat
        |  FROM calib CROSS JOIN nc
        |  WHERE rn = (9 * (n_calib + 1) + 9) // 10),
        |te AS (
        |  SELECT max(n_calib) AS n_calib, max(qhat) AS qhat,
        |    CAST(count(*) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN resid <= qhat THEN 1 ELSE 0 END)
        |      AS BIGINT) AS covered
        |  FROM scored CROSS JOIN qh WHERE part = 3)
        |SELECT CAST(w.n_fit AS BIGINT) AS n_train,
        |  CAST(te.n_calib AS BIGINT) AS n_calib, te.n_test,
        |  round(te.qhat, 4) AS q_hat,
        |  round(CAST(te.covered AS DOUBLE) / te.n_test, 6) AS coverage,
        |  round(2.0 * te.qhat, 4) AS mean_width
        |FROM te CROSS JOIN w""".stripMargin),

    "q_perm_importance" ->
      (s"""WITH $ridgePerSql,
        |pr AS (
        |  SELECT *, ${hashSql("pib:", "l_orderkey")} % 64 AS bkt,
        |    row_number() OVER (
        |      PARTITION BY ${hashSql("pib:", "l_orderkey")} % 64
        |      ORDER BY ${hashSql("pi:", "l_orderkey")}, l_orderkey) AS rn
        |  FROM per),
        |${ridgeFitSql("pr")},
        |bc AS (SELECT bkt, count(*) AS nb FROM pr GROUP BY bkt),
        |j AS (
        |  SELECT a.yv, a.x1, a.x2, d.x1 AS x1p, d.x2 AS x2p
        |  FROM pr a JOIN bc ON bc.bkt = a.bkt
        |  JOIN pr d ON d.bkt = a.bkt AND d.rn = a.rn % bc.nb + 1),
        |agg AS (
        |  SELECT count(*) AS n,
        |    sum(CAST(round((CAST(yv AS DOUBLE) - (b0
        |      + w1 * CAST(x1 AS DOUBLE) + w2 * CAST(x2 AS DOUBLE)))
        |      * (CAST(yv AS DOUBLE) - (b0 + w1 * CAST(x1 AS DOUBLE)
        |      + w2 * CAST(x2 AS DOUBLE))), 4) AS DECIMAL(38,4)))
        |      AS m_base,
        |    sum(CAST(round((CAST(yv AS DOUBLE) - (b0
        |      + w1 * CAST(x1p AS DOUBLE) + w2 * CAST(x2 AS DOUBLE)))
        |      * (CAST(yv AS DOUBLE) - (b0 + w1 * CAST(x1p AS DOUBLE)
        |      + w2 * CAST(x2 AS DOUBLE))), 4) AS DECIMAL(38,4)))
        |      AS m_x1,
        |    sum(CAST(round((CAST(yv AS DOUBLE) - (b0
        |      + w1 * CAST(x1 AS DOUBLE) + w2 * CAST(x2p AS DOUBLE)))
        |      * (CAST(yv AS DOUBLE) - (b0 + w1 * CAST(x1 AS DOUBLE)
        |      + w2 * CAST(x2p AS DOUBLE))), 4) AS DECIMAL(38,4)))
        |      AS m_x2
        |  FROM j CROSS JOIN w),
        |sel AS (
        |  SELECT 'none' AS feature, n, m_base AS m, m_base FROM agg
        |  UNION ALL SELECT 'x_lines', n, m_x1, m_base FROM agg
        |  UNION ALL SELECT 'x_qty', n, m_x2, m_base FROM agg)
        |SELECT feature, CAST(n AS BIGINT) AS n,
        |  round(CAST(m AS DOUBLE) / n, 4) AS mse,
        |  round((CAST(m AS DOUBLE) / n - CAST(m_base AS DOUBLE) / n)
        |    / (CAST(m_base AS DOUBLE) / n), 6) AS delta_frac
        |FROM sel ORDER BY feature""".stripMargin),

    "q_impute" ->
      (s"""WITH ev AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value, 2) AS DECIMAL(18,2)) AS v,
        |    ${hashSql("imp:", "event_id")} % 5 = 0 AS masked
        |  FROM events),
        |surv AS (
        |  SELECT event_type, v, row_number() OVER (
        |    PARTITION BY event_type ORDER BY v, event_id) AS rn
        |  FROM ev WHERE NOT masked),
        |cnt AS (
        |  SELECT event_type, count(*) AS cnt FROM surv GROUP BY 1),
        |med AS (
        |  SELECT s.event_type,
        |    CAST(sum(s.v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fill
        |  FROM surv s JOIN cnt c ON c.event_type = s.event_type
        |  WHERE s.rn = (c.cnt + 1) // 2 OR s.rn = (c.cnt + 2) // 2
        |  GROUP BY 1),
        |sc AS (
        |  SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_masked,
        |    min(m.fill) AS fill,
        |    sum(CAST(round((CAST(v AS DOUBLE) - m.fill)
        |      * (CAST(v AS DOUBLE) - m.fill), 4) AS DECIMAL(38,4)))
        |      AS se,
        |    sum(CAST(round(abs(CAST(v AS DOUBLE) - m.fill), 4)
        |      AS DECIMAL(38,4))) AS ae,
        |    sum(v) AS sv
        |  FROM ev e JOIN med m ON m.event_type = e.event_type
        |  WHERE e.masked GROUP BY 1)
        |SELECT event_type, n_masked, round(fill, 4) AS median_fill,
        |  round(sqrt(CAST(se AS DOUBLE) / n_masked), 4) AS rmse,
        |  round(CAST(ae AS DOUBLE) / n_masked, 4) AS mae,
        |  round(fill - CAST(sv AS DOUBLE) / n_masked, 4) AS mean_shift
        |FROM sc ORDER BY event_type""".stripMargin)
  )
}
