package graft.queries

import graft.Decimals._
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Composite behavioral analytics over the events stream: conversion
  * funnel and cohort retention — multi-stage aggregation/join shapes that
  * exercise several operators together the way production queries do.
  * Both are key-partitioned all the way down (user_id / cohort-day), so
  * they scale like any hash-aggregate pipeline. */
object Analytics extends QueryPack {

  /** Signup → purchase conversion per user: first signup time, purchases
    * strictly after it, conversion flag. */
  def qFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.df(spark, sfDir, "events")
    val firstSignup = events.filter($"event_type" === "signup")
      .groupBy($"user_id")
      .agg(min($"ts").as("first_signup"))
    val purchases = events.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"value")
    firstSignup
      .join(purchases, $"user_id" === $"p_user" && $"p_ts" > $"first_signup",
        "left")
      .groupBy($"user_id", $"first_signup")
      .agg(count($"p_ts").as("n_purchases"),
        coalesce(sum(money($"value")).cast("double"), lit(0.0)).as("spend"))
      .withColumn("converted", $"n_purchases" > 0)
      .orderBy($"user_id")
  }

  /** Daily cohort retention: users grouped by first-active day; for each
    * (cohort day, day offset) the number of distinct users active then. */
  def qRetention(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val activity = Tables.df(spark, sfDir, "events")
      .select($"user_id", to_date($"ts").as("d")).distinct()
    val first = activity.groupBy($"user_id").agg(min($"d").as("fd"))
    activity.join(first, "user_id")
      .withColumn("day_offset", datediff($"d", $"fd"))
      .filter($"day_offset" <= 3)
      .groupBy($"fd", $"day_offset")
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"fd", $"day_offset")
  }

  /** RFM customer segmentation: recency / frequency / monetary quintiles
    * over the per-customer order summary, reported as the classic
    * 125-cell segment grid. Quintile boundaries come from Spark's exact
    * `percentile` (linear interpolation ≡ DuckDB `quantile_cont`, the
    * q_percentile idiom), rounded to 6dp before the comparison (the
    * q_bin_quantile boundary discipline), so bin assignment is a pure
    * broadcast-join projection — no global ntile sort, no SinglePartition
    * exchange over the customer relation. Scale: one groupBy(custkey)
    * pass; the cuts are a 1-row aggregate broadcast back; at extreme
    * monetary cardinality the same cuts would come from the
    * histogram-refine quantile operator (operators/Quantiles.scala) —
    * identical boundaries, bounded memory. */
  def qRfm(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.df(spark, sfDir, "orders")
    val ref = orders.agg(max(to_date($"o_orderdate")).as("ref_d"))
    val cust = orders
      .groupBy($"o_custkey")
      .agg(max(to_date($"o_orderdate")).as("last_d"),
        count(lit(1)).as("f"),
        sum(money($"o_totalprice")).as("m"))
      .crossJoin(broadcast(ref))
      .select($"o_custkey", datediff($"ref_d", $"last_d").as("r"),
        $"f", round($"m".cast("double"), 6).as("m"))
    val cuts = cust.agg(
      expr("transform(percentile(r, array(0.2, 0.4, 0.6, 0.8))," +
        " x -> round(x, 6))").as("rc"),
      expr("transform(percentile(f, array(0.2, 0.4, 0.6, 0.8))," +
        " x -> round(x, 6))").as("fc"),
      expr("transform(percentile(m, array(0.2, 0.4, 0.6, 0.8))," +
        " x -> round(x, 6))").as("mc"))
    def quintile(v: Column, c: Column): Column =
      lit(1) + (v > element_at(c, 1)).cast("int") +
        (v > element_at(c, 2)).cast("int") +
        (v > element_at(c, 3)).cast("int") +
        (v > element_at(c, 4)).cast("int")
    cust.crossJoin(broadcast(cuts))
      .select($"o_custkey",
        quintile($"r".cast("double"), $"rc").as("r_q"),
        quintile($"f".cast("double"), $"fc").as("f_q"),
        quintile($"m", $"mc").as("m_q"), $"m")
      .groupBy($"r_q", $"f_q", $"m_q")
      .agg(count(lit(1)).as("n_cust"),
        round(sum($"m".cast(dec18_6)).cast("double") /
          count(lit(1)), 6).as("avg_m"))
      .orderBy($"r_q", $"f_q", $"m_q")
  }

  /** Market-basket association rules over order baskets (a-priori shape):
    * distinct (order, part) items, the infrequent tail pruned BEFORE the
    * pair self-join (the classic support-based candidate pruning — at
    * 100 TB this is what keeps the pair fan-out proportional to
    * frequent-item co-occurrence, not raw basket volume), pair counts
    * with a minimum pair support, then directional rules a→c scored by
    * support / confidence / lift. Per-basket fan-out is k² with k bounded
    * by basket size (≤7 in the fixture's TPC-H shape). Top-20 by lift is
    * TakeOrderedAndProject. Differs from q_common_neighbors (symmetric
    * Jaccard wedge walk): rules are directional and lift-normalized. */
  def qAssocRules(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val items = Tables.df(spark, sfDir, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("i")).distinct()
    val nOrders = items.select($"o").distinct()
      .agg(count(lit(1)).as("n_orders"))
    val freq = items.groupBy($"i").agg(count(lit(1)).as("n_i"))
      .filter($"n_i" >= 3)
    val fitems = items.join(freq, "i")
    val pairs = fitems.select($"o", $"i")
      .join(fitems.select($"o", $"i".as("j")), "o")
      .filter($"i" < $"j")
      .groupBy($"i", $"j").agg(count(lit(1)).as("n_pair"))
      .filter($"n_pair" >= 3)
    val rules = pairs
      .select($"i".as("ante"), $"j".as("cons"), $"n_pair")
      .unionAll(pairs.select($"j".as("ante"), $"i".as("cons"), $"n_pair"))
    rules
      .join(freq.select($"i".as("ante"), $"n_i".as("n_ante")), "ante")
      .join(freq.select($"i".as("cons"), $"n_i".as("n_cons")), "cons")
      .crossJoin(broadcast(nOrders))
      .select($"ante", $"cons", $"n_pair", $"n_ante", $"n_cons",
        round($"n_pair".cast("double") / $"n_orders", 6).as("support"),
        round($"n_pair".cast("double") / $"n_ante", 6).as("confidence"),
        round($"n_pair".cast("double") * $"n_orders" /
          ($"n_ante" * $"n_cons"), 6).as("lift"))
      .orderBy($"lift".desc, $"ante".asc, $"cons".asc)
      .limit(20)
  }

  /** Empirical-Bayes conversion-rate smoothing (Beta-Binomial
    * shrinkage): per-user purchase rate over view/purchase events, a
    * Beta(α, β) prior fit by method of moments on the observed rates,
    * and the shrunk posterior mean (p + α)/(n + α + β) — the estimator
    * that stops a 1-for-1 user from outranking a 90-for-100 one. The
    * prior is a 1-row aggregate broadcast back into a per-user
    * projection; moments use the decimal pre-sum discipline; a
    * degenerate prior (zero variance or moments outside the Beta
    * family) yields NULL smoothing on both engines. */
  def qCtrSmooth(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val users = Tables.df(spark, sfDir, "events")
      .filter($"event_type".isin("view", "purchase"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("p"))
      .withColumn("rate", round($"p".cast("double") / $"n", 6))
      .localCheckpoint() // user-thin; feeds the moment fit + scoring
    val prior = users
      .agg(count(lit(1)).as("nu"), sum($"rate".cast(dec18_6)).as("sr"),
        sum(round($"rate" * $"rate", 9).cast(dec18_9)).as("srr"))
      .select($"nu", round($"sr".cast("double") / $"nu", 6).as("m"),
        round($"srr".cast("double") / $"nu"
          - ($"sr".cast("double") / $"nu")
            * ($"sr".cast("double") / $"nu"), 9).as("v"))
      .select(
        when($"v" > 0 && $"m" * (lit(1.0) - $"m") / $"v" - 1 > 0,
          round($"m" * ($"m" * (lit(1.0) - $"m") / $"v" - 1), 6))
          .as("alpha"),
        when($"v" > 0 && $"m" * (lit(1.0) - $"m") / $"v" - 1 > 0,
          round((lit(1.0) - $"m")
            * ($"m" * (lit(1.0) - $"m") / $"v" - 1), 6)).as("beta"))
    users.crossJoin(broadcast(prior))
      .select($"user_id", $"n", $"p", $"rate", $"alpha", $"beta",
        round(($"p" + $"alpha") / ($"n" + $"alpha" + $"beta"), 6)
          .as("smoothed"))
      .orderBy($"smoothed".desc_nulls_last, $"user_id".asc)
      .limit(20)
  }

  /** Wilson-score lower-bound ranking of per-part return rates — the
    * "sort by confidence, not by raw proportion" estimator (Wilson
    * JASA'27; the standard fix for small-sample rate rankings): parts
    * whose return rate is reliably high float up only with evidence.
    * z = 1.96 enters as the exact double literals z²=3.8416, z²/2, z²/4
    * shared by both engines, so the closed form is bit-reproducible.
    * One part-keyed aggregate then a pure projection; top-20 is
    * TakeOrderedAndProject. Complements q_ctr_smooth: shrinkage gives a
    * point estimate, Wilson gives the conservative bound. */
  def qWilson(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "lineitem")
      .groupBy($"l_partkey".as("part"))
      .agg(count(lit(1)).as("n"),
        sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("r"))
      .filter($"n" >= 10)
      .select($"part", $"n", $"r",
        round($"r".cast("double") / $"n", 6).as("rate"),
        round((($"r".cast("double") / $"n") + lit(1.9208) / $"n"
          - lit(1.96) * sqrt((($"r".cast("double") / $"n")
              * (lit(1.0) - $"r".cast("double") / $"n")
            + lit(0.9604) / $"n") / $"n"))
          / (lit(1.0) + lit(3.8416) / $"n"), 6).as("wilson_lower"))
      .orderBy($"wilson_lower".desc, $"part".asc)
      .limit(20)
  }

  /** Gini coefficient of customer spend concentration, via the exact
    * Lorenz-curve trapezoid rule over spend-VALUE groups: customers
    * collapse to per-customer decimal spend, spends collapse to the
    * distinct-value relation (bounded by money granularity — cents —
    * not by customer count, the q_ks_drift boundedness argument), and
    * G = 1 − Σ_v (m_v/n)·(L(v)+L(v⁻)) with both Lorenz ordinates from
    * exact decimal cumulative sums. Per-value terms round to
    * DECIMAL(18,9) before the final sum. The unpartitioned cumulative
    * window runs on the value-distinct relation only. */
  def qGini(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val spend = Tables.df(spark, sfDir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(money($"o_totalprice")).as("s"))
    val byV = spend.groupBy($"s".as("v"))
      .agg(count(lit(1)).as("m"))
    val tot = byV.agg(sum($"m").as("n"),
      sum($"v" * $"m").as("stot"))
    val wCum = Window.orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val terms = byV.crossJoin(broadcast(tot))
      .withColumn("cs", sum($"v" * $"m").over(wCum))
      .select(($"m".cast("double") / $"n"
        * (($"cs" + $"cs" - $"v" * $"m").cast("double")
          / $"stot".cast("double"))).as("t"), $"n", $"stot")
      .select(round($"t", 9).cast(dec18_9).as("t"), $"n", $"stot")
    terms.groupBy($"n", $"stot").agg(sum($"t").as("st"))
      .select($"n".as("n_cust"),
        round($"stot".cast("double"), 2).as("total_spend"),
        round($"stot".cast("double") / $"n", 6).as("mean_spend"),
        round(lit(1.0) - $"st".cast("double"), 6).as("gini"))
  }

  // ---- q_theil_index -------------------------------------------------------
  /** Inequality/concentration pack beside [[qGini]]'s Lorenz reading of
    * the same per-customer spend: Theil's T (the additively DECOMPOSABLE
    * inequality index — unlike Gini it splits exactly into
    * within-group + between-group terms, the property a mixture auditor
    * wants), Atkinson(ε=1) (= 1 − geometric/arithmetic mean ratio), and
    * the Herfindahl–Hirschman share concentration with its small-n
    * normalization. The ln() per distinct spend value happens on the
    * user-grain relation once, each term rounds once to 9dp and sums as
    * exact decimals (the q_survival ln-term discipline); μ and the
    * final indices are shared double closed forms. Shape: one orders
    * scan → user-thin relation → 1-row broadcast mean → one agg. */
  def qTheilIndex(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val spend = Tables.df(spark, sfDir, "orders")
      .groupBy($"o_custkey").agg(sum(money($"o_totalprice")).as("s"))
    val tot = spend.agg(count(lit(1)).as("n"), sum($"s").as("stot"))
    val mu = $"stot".cast("double") / $"n"
    val xd = $"s".cast("double")
    val terms = spend.crossJoin(broadcast(tot))
      .select($"n", $"stot",
        round((xd / mu) * log(xd / mu), 9).cast(dec18_9).as("tt"),
        round(log(xd), 9).cast(dec18_9).as("lx"),
        round(xd * xd, 4).cast(dec38_4).as("x2"))
    terms.groupBy($"n", $"stot")
      .agg(sum($"tt").as("stt"), sum($"lx").as("slx"),
        sum($"x2").as("sx2"))
      .select($"n".as("n_cust"),
        round(mu, 6).as("mean_spend"),
        round($"stt".cast("double") / $"n", 6).as("theil_t"),
        round(lit(1.0) - exp($"slx".cast("double") / $"n") / mu, 6)
          .as("atkinson_1"),
        round($"sx2".cast("double")
          / ($"stot".cast("double") * $"stot".cast("double")), 6)
          .as("hhi"),
        round(($"sx2".cast("double")
          / ($"stot".cast("double") * $"stot".cast("double"))
          - lit(1.0) / $"n") / (lit(1.0) - lit(1.0) / $"n"), 6)
          .as("hhi_norm"))
  }

  /** Leak-free smoothed target encoding of a categorical feature — the
    * feature-engineering staple for categorical→numeric conversion
    * without training-label leakage: each customer's nation is encoded
    * as the leave-one-out mean account balance of the nation, shrunk
    * toward the global mean with pseudo-count m = 10, so the row's own
    * label never enters its feature and thin groups fall back to the
    * prior. One group aggregate broadcast back into a per-row
    * projection; LOO sums are exact decimals. First 100 rows by key
    * keep the output bounded; the computation is corpus-wide. */
  def qTargetEnc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.df(spark, sfDir, "customer")
      .select($"c_custkey", $"c_nationkey".as("g"),
        $"c_acctbal".cast(dec18_2).as("x"))
    val grp = cust.groupBy($"g")
      .agg(count(lit(1)).as("n_g"), sum($"x").as("s_g"))
    val glob = grp.agg(sum($"s_g").as("s"), sum($"n_g").as("n"))
      .select(round($"s".cast("double") / $"n", 6).as("mu"))
    cust.join(broadcast(grp), "g")
      .crossJoin(broadcast(glob))
      .select($"c_custkey", $"g".as("nation"),
        round($"x".cast("double"), 2).as("acctbal"),
        round((($"s_g" - $"x").cast("double") + lit(10.0) * $"mu")
          / (($"n_g" - 1) + lit(10.0)), 6).as("enc_loo"), $"mu")
      .orderBy($"c_custkey")
      .limit(100)
  }

  // ---- q_stickiness ------------------------------------------------------
  /** DAU / WAU / MAU engagement curves with the DAU/MAU stickiness
    * ratio per day — the standing product-health dashboard beside
    * [[qRetention]]'s cohort view. One widest-window (28-day) range
    * join against the day spine computes all three distinct-user
    * counts as conditional COUNT(DISTINCT CASE …) in a single
    * aggregate. Scale shape: the corpus reduces FIRST to the distinct
    * (user, day) relation (the q_retention move); the spine is
    * |days| rows and broadcasts, so the range join's output is
    * |days| × avg-active-users — bounded by the activity relation, not
    * the event log. */
  def qStickiness(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ud = Tables.df(spark, sfDir, "events")
      .select(to_date($"ts").as("d"), $"user_id").distinct()
      .localCheckpoint() // feeds spine + the range join
    val spine = ud.select($"d".as("day")).distinct()
    broadcast(spine).join(ud, datediff($"day", $"d").between(0, 27))
      .groupBy($"day").agg(
        countDistinct(when(datediff($"day", $"d") === 0, $"user_id"))
          .as("dau"),
        countDistinct(when(datediff($"day", $"d") <= 6, $"user_id"))
          .as("wau"),
        countDistinct($"user_id").as("mau"))
      .select($"day", $"dau", $"wau", $"mau",
        round($"dau".cast("double") / $"mau", 6).as("stickiness"))
      .orderBy($"day")
  }

  // ---- q_elasticity --------------------------------------------------------
  /** Price elasticity of demand across parts: OLS slope of ln(total
    * quantity) on ln(mean unit price) at PART grain — the classic
    * log-log demand regression (slope < −1 = elastic, the pricing
    * team's first read). Unit price = Σ extendedprice / Σ quantity per
    * part (exact decimal sums; the ratio rounds once to 6dp before its
    * ln so both engines take the log of the identical double — the
    * q_zipf_fit discipline); ln outputs round once to 6dp into decimal
    * OLS moments. One lineitem pass → part-grain relation → 1-row
    * closed-form fit; zero-variance guard yields NULL slope. Both q > 0
    * AND rev > 0 are filtered (identically in the oracle's xy CTE):
    * without the rev guard a zero-priced part makes Spark's log()
    * return NULL (silently dropped from the moment sums while count(1)
    * still counts the row) whereas DuckDB's ln(0) is -inf and errors on
    * the DECIMAL cast — guarding both engines keeps row sets and n
    * identical by construction. */
  def qElasticity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val parts = Tables.df(spark, sfDir, "lineitem")
      .groupBy($"l_partkey")
      .agg(sum(floor($"l_quantity").cast("long")).as("q"),
        sum(round($"l_extendedprice", 2).cast(dec18_2))
          .as("rev"))
      .filter($"q" > 0 && $"rev" > 0)
      .select(
        round(log($"q".cast("double")), 6).cast(dec18_9).as("y"),
        round(log(round($"rev".cast("double") / $"q", 6)), 6).cast(dec18_9)
          .as("x"))
    val s = parts.agg(count(lit(1)).as("n"),
      sum($"x").as("dsx"), sum($"y").as("dsy"),
      sum($"x" * $"y").as("dsxy"),
      sum($"x" * $"x").as("dsxx"),
      sum($"y" * $"y").as("dsyy"))
    val n = $"n".cast("double")
    val (sx, sy) = ($"dsx".cast("double"), $"dsy".cast("double"))
    val cov = n * $"dsxy".cast("double") - sx * sy
    val vx = n * $"dsxx".cast("double") - sx * sx
    val vy = n * $"dsyy".cast("double") - sy * sy
    s.select($"n".as("n_parts"),
        round(when(vx =!= 0.0, cov / vx), 6).as("elasticity"),
        round(when(vx =!= 0.0, (sy - (cov / vx) * sx) / n), 6)
          .as("intercept"),
        round(when(vx * vy =!= 0.0, (cov * cov) / (vx * vy)), 6)
          .as("r2"))
      .withColumn("elastic", $"elasticity" < -1.0)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_elasticity" -> qElasticity,
    "q_stickiness" -> qStickiness,
    "q_funnel" -> qFunnel,
    "q_retention" -> qRetention,
    "q_rfm" -> qRfm,
    "q_ctr_smooth" -> qCtrSmooth,
    "q_wilson" -> qWilson,
    "q_gini" -> qGini,
    "q_theil_index" -> qTheilIndex,
    "q_target_enc" -> qTargetEnc,
    "q_assoc_rules" -> qAssocRules
  )

  val oracle: Map[String, String] = Map(
    // same part-grain exact sums, 6dp-rounded ratio before its ln, 6dp
    // ln terms into decimal OLS moments, same closed forms
    "q_elasticity" ->
      """WITH parts AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS q,
        |    sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))) AS rev
        |  FROM lineitem GROUP BY l_partkey),
        |xy AS (
        |  SELECT
        |    CAST(round(ln(CAST(q AS DOUBLE)), 6) AS DECIMAL(18,9)) AS y,
        |    CAST(round(ln(round(CAST(rev AS DOUBLE) / q, 6)), 6)
        |      AS DECIMAL(18,9)) AS x
        |  FROM parts WHERE q > 0 AND rev > 0),
        |s AS (
        |  SELECT count(*) AS n, sum(x) AS dsx, sum(y) AS dsy,
        |    sum(x * y) AS dsxy, sum(x * x) AS dsxx, sum(y * y) AS dsyy
        |  FROM xy),
        |f AS (
        |  SELECT n,
        |    n * CAST(dsxy AS DOUBLE) - CAST(dsx AS DOUBLE)
        |      * CAST(dsy AS DOUBLE) AS cov,
        |    n * CAST(dsxx AS DOUBLE) - CAST(dsx AS DOUBLE)
        |      * CAST(dsx AS DOUBLE) AS vx,
        |    n * CAST(dsyy AS DOUBLE) - CAST(dsy AS DOUBLE)
        |      * CAST(dsy AS DOUBLE) AS vy,
        |    CAST(dsx AS DOUBLE) AS sx, CAST(dsy AS DOUBLE) AS sy
        |  FROM s)
        |SELECT CAST(n AS BIGINT) AS n_parts,
        |  round(CASE WHEN vx != 0 THEN cov / vx END, 6) AS elasticity,
        |  round(CASE WHEN vx != 0 THEN (sy - (cov / vx) * sx) / n END, 6)
        |    AS intercept,
        |  round(CASE WHEN vx * vy != 0 THEN (cov * cov) / (vx * vy) END,
        |    6) AS r2,
        |  round(CASE WHEN vx != 0 THEN cov / vx END, 6) < -1.0
        |    AS elastic
        |FROM f""".stripMargin,

    // same user-grain spend, same 9dp ln/term rounding, same closed forms
    "q_theil_index" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
        |  FROM orders GROUP BY o_custkey),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(s) AS stot
        |        FROM spend),
        |terms AS (
        |  SELECT n, stot,
        |    CAST(round((CAST(s AS DOUBLE)
        |        / (CAST(stot AS DOUBLE) / n))
        |      * ln(CAST(s AS DOUBLE) / (CAST(stot AS DOUBLE) / n)), 9)
        |      AS DECIMAL(18,9)) AS tt,
        |    CAST(round(ln(CAST(s AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lx,
        |    CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE), 4)
        |      AS DECIMAL(38,4)) AS x2
        |  FROM spend CROSS JOIN tot),
        |ag AS (
        |  SELECT n, stot, sum(tt) AS stt, sum(lx) AS slx,
        |    sum(x2) AS sx2
        |  FROM terms GROUP BY n, stot)
        |SELECT n AS n_cust,
        |  round(CAST(stot AS DOUBLE) / n, 6) AS mean_spend,
        |  round(CAST(stt AS DOUBLE) / n, 6) AS theil_t,
        |  round(1.0 - exp(CAST(slx AS DOUBLE) / n)
        |    / (CAST(stot AS DOUBLE) / n), 6) AS atkinson_1,
        |  round(CAST(sx2 AS DOUBLE)
        |    / (CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)), 6) AS hhi,
        |  round((CAST(sx2 AS DOUBLE)
        |    / (CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE))
        |    - 1.0 / n) / (1.0 - 1.0 / n), 6) AS hhi_norm
        |FROM ag""".stripMargin,

    // same distinct (user, day) reduction, same 28-day range join with
    // conditional distinct counts
    "q_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |spine AS (SELECT DISTINCT d AS day FROM ud)
        |SELECT s.day,
        |  count(DISTINCT CASE WHEN date_diff('day', u.d, s.day) = 0
        |    THEN u.user_id END) AS dau,
        |  count(DISTINCT CASE WHEN date_diff('day', u.d, s.day) <= 6
        |    THEN u.user_id END) AS wau,
        |  count(DISTINCT u.user_id) AS mau,
        |  round(CAST(count(DISTINCT CASE WHEN
        |      date_diff('day', u.d, s.day) = 0 THEN u.user_id END)
        |    AS DOUBLE) / count(DISTINCT u.user_id), 6) AS stickiness
        |FROM spine s JOIN ud u
        |  ON date_diff('day', u.d, s.day) BETWEEN 0 AND 27
        |GROUP BY s.day ORDER BY s.day""".stripMargin,

    // same exact-percentile cuts (quantile_cont ≡ Spark percentile),
    // rounded to 6dp before the bin comparison, same decimal money sums
    "q_rfm" ->
      """WITH ref AS (
        |  SELECT max(CAST(o_orderdate AS DATE)) AS ref_d FROM orders),
        |cust AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', max(CAST(o_orderdate AS DATE)),
        |      (SELECT ref_d FROM ref)) AS INT) AS r,
        |    count(*) AS f,
        |    round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |      AS DOUBLE), 6) AS m
        |  FROM orders GROUP BY o_custkey),
        |cuts AS (
        |  SELECT
        |    list_transform(quantile_cont(r, [0.2, 0.4, 0.6, 0.8]),
        |      x -> round(x, 6)) AS rc,
        |    list_transform(quantile_cont(f, [0.2, 0.4, 0.6, 0.8]),
        |      x -> round(x, 6)) AS fc,
        |    list_transform(quantile_cont(m, [0.2, 0.4, 0.6, 0.8]),
        |      x -> round(x, 6)) AS mc
        |  FROM cust),
        |seg AS (
        |  SELECT c.o_custkey, c.m,
        |    1 + CAST(CAST(c.r AS DOUBLE) > k.rc[1] AS INT)
        |      + CAST(CAST(c.r AS DOUBLE) > k.rc[2] AS INT)
        |      + CAST(CAST(c.r AS DOUBLE) > k.rc[3] AS INT)
        |      + CAST(CAST(c.r AS DOUBLE) > k.rc[4] AS INT) AS r_q,
        |    1 + CAST(CAST(c.f AS DOUBLE) > k.fc[1] AS INT)
        |      + CAST(CAST(c.f AS DOUBLE) > k.fc[2] AS INT)
        |      + CAST(CAST(c.f AS DOUBLE) > k.fc[3] AS INT)
        |      + CAST(CAST(c.f AS DOUBLE) > k.fc[4] AS INT) AS f_q,
        |    1 + CAST(c.m > k.mc[1] AS INT) + CAST(c.m > k.mc[2] AS INT)
        |      + CAST(c.m > k.mc[3] AS INT) + CAST(c.m > k.mc[4] AS INT)
        |      AS m_q
        |  FROM cust c CROSS JOIN cuts k)
        |SELECT r_q, f_q, m_q, count(*) AS n_cust,
        |  round(CAST(sum(CAST(m AS DECIMAL(18,6))) AS DOUBLE) / count(*),
        |    6) AS avg_m
        |FROM seg GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // same exact-decimal LOO sums, same m=10 shrinkage toward the
    // once-rounded global mean
    "q_target_enc" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey AS g,
        |    CAST(c_acctbal AS DECIMAL(18,2)) AS x
        |  FROM customer),
        |grp AS (
        |  SELECT g, count(*) AS n_g, sum(x) AS s_g FROM cust GROUP BY 1),
        |gm AS (
        |  SELECT round(CAST(sum(s_g) AS DOUBLE)
        |    / CAST(sum(n_g) AS BIGINT), 6) AS mu
        |  FROM grp)
        |SELECT c.c_custkey, c.g AS nation,
        |  round(CAST(c.x AS DOUBLE), 2) AS acctbal,
        |  round((CAST(grp.s_g - c.x AS DOUBLE) + 10.0 * gm.mu)
        |    / ((grp.n_g - 1) + 10.0), 6) AS enc_loo,
        |  gm.mu
        |FROM cust c JOIN grp ON grp.g = c.g CROSS JOIN gm
        |ORDER BY c.c_custkey LIMIT 100""".stripMargin,

    // same value-grouped Lorenz trapezoid with exact decimal cumulative
    // sums and DECIMAL(18,9) pre-sum terms
    "q_gini" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
        |  FROM orders GROUP BY 1),
        |byv AS (SELECT s AS v, count(*) AS m FROM spend GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(m) AS BIGINT) AS n, sum(v * m) AS stot
        |  FROM byv),
        |c AS (
        |  SELECT v, m, tot.n, tot.stot,
        |    sum(v * m) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |  FROM byv CROSS JOIN tot),
        |t AS (
        |  SELECT CAST(round(CAST(m AS DOUBLE) / n
        |    * (CAST(cs + cs - v * m AS DOUBLE)
        |      / CAST(stot AS DOUBLE)), 9) AS DECIMAL(18,9)) AS t,
        |    n, stot
        |  FROM c)
        |SELECT n AS n_cust,
        |  round(CAST(stot AS DOUBLE), 2) AS total_spend,
        |  round(CAST(stot AS DOUBLE) / n, 6) AS mean_spend,
        |  round(1.0 - CAST(sum(t) AS DOUBLE), 6) AS gini
        |FROM t GROUP BY n, stot""".stripMargin,

    // same exact z-squared literals, same closed-form expression order
    "q_wilson" ->
      """WITH p AS (
        |  SELECT l_partkey AS part, count(*) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1 HAVING count(*) >= 10)
        |SELECT part, n, r,
        |  round(CAST(r AS DOUBLE) / n, 6) AS rate,
        |  round(((CAST(r AS DOUBLE) / n) + 1.9208 / n
        |    - 1.96 * sqrt(((CAST(r AS DOUBLE) / n)
        |        * (1.0 - CAST(r AS DOUBLE) / n)
        |      + 0.9604 / n) / n))
        |    / (1.0 + 3.8416 / n), 6) AS wilson_lower
        |FROM p
        |ORDER BY wilson_lower DESC, part ASC LIMIT 20""".stripMargin,

    // same per-user rate reduction, same method-of-moments Beta fit
    // with the degenerate-prior NULL guard, same shrunk posterior mean
    "q_ctr_smooth" ->
      """WITH users AS (
        |  SELECT user_id, count(*) AS n,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS p
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1),
        |u2 AS (
        |  SELECT user_id, n, p,
        |    round(CAST(p AS DOUBLE) / n, 6) AS rate
        |  FROM users),
        |mom AS (
        |  SELECT count(*) AS nu,
        |    sum(CAST(rate AS DECIMAL(18,6))) AS sr,
        |    sum(CAST(round(rate * rate, 9) AS DECIMAL(18,9))) AS srr
        |  FROM u2),
        |mv AS (
        |  SELECT nu, round(CAST(sr AS DOUBLE) / nu, 6) AS m,
        |    round(CAST(srr AS DOUBLE) / nu
        |      - (CAST(sr AS DOUBLE) / nu)
        |        * (CAST(sr AS DOUBLE) / nu), 9) AS v
        |  FROM mom),
        |prior AS (
        |  SELECT
        |    CASE WHEN v > 0 AND m * (1.0 - m) / v - 1 > 0
        |      THEN round(m * (m * (1.0 - m) / v - 1), 6) END AS alpha,
        |    CASE WHEN v > 0 AND m * (1.0 - m) / v - 1 > 0
        |      THEN round((1.0 - m) * (m * (1.0 - m) / v - 1), 6) END
        |      AS beta
        |  FROM mv)
        |SELECT u2.user_id, u2.n, u2.p, u2.rate, prior.alpha, prior.beta,
        |  round((u2.p + prior.alpha)
        |    / (u2.n + prior.alpha + prior.beta), 6) AS smoothed
        |FROM u2 CROSS JOIN prior
        |ORDER BY smoothed DESC NULLS LAST, u2.user_id ASC
        |LIMIT 20""".stripMargin,

    // same a-priori item prefilter, same pair support floor, same
    // directional support/confidence/lift arithmetic and top-20 order
    "q_assoc_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem),
        |n_orders AS (SELECT count(DISTINCT o) AS n_orders FROM items),
        |freq AS (
        |  SELECT i, count(*) AS n_i FROM items GROUP BY i
        |  HAVING count(*) >= 3),
        |fitems AS (SELECT it.o, it.i FROM items it JOIN freq USING (i)),
        |pairs AS (
        |  SELECT a.i, b.i AS j, count(*) AS n_pair
        |  FROM fitems a JOIN fitems b ON a.o = b.o AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |rules AS (
        |  SELECT i AS ante, j AS cons, n_pair FROM pairs
        |  UNION ALL
        |  SELECT j, i, n_pair FROM pairs)
        |SELECT r.ante, r.cons, r.n_pair, fa.n_i AS n_ante,
        |  fc.n_i AS n_cons,
        |  round(CAST(r.n_pair AS DOUBLE) / n.n_orders, 6) AS support,
        |  round(CAST(r.n_pair AS DOUBLE) / fa.n_i, 6) AS confidence,
        |  round(CAST(r.n_pair AS DOUBLE) * n.n_orders
        |    / (fa.n_i * fc.n_i), 6) AS lift
        |FROM rules r
        |JOIN freq fa ON fa.i = r.ante
        |JOIN freq fc ON fc.i = r.cons
        |CROSS JOIN n_orders n
        |ORDER BY lift DESC, ante ASC, cons ASC LIMIT 20""".stripMargin,

    "q_funnel" ->
      """SELECT s.user_id, s.first_signup,
        |  COUNT(p.p_ts) AS n_purchases,
        |  COALESCE(CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE), 0.0)
        |    AS spend,
        |  COUNT(p.p_ts) > 0 AS converted
        |FROM (SELECT user_id, MIN(ts) AS first_signup FROM events
        |      WHERE event_type = 'signup' GROUP BY user_id) s
        |LEFT JOIN (SELECT user_id AS p_user, ts AS p_ts, value FROM events
        |           WHERE event_type = 'purchase') p
        |  ON s.user_id = p.p_user AND p.p_ts > s.first_signup
        |GROUP BY s.user_id, s.first_signup
        |ORDER BY s.user_id""".stripMargin,

    "q_retention" ->
      """WITH activity AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |firstseen AS (
        |  SELECT user_id, MIN(d) AS fd FROM activity GROUP BY user_id)
        |SELECT f.fd, CAST(date_diff('day', f.fd, a.d) AS INT) AS day_offset,
        |  COUNT(DISTINCT a.user_id) AS n_users
        |FROM activity a JOIN firstseen f USING (user_id)
        |WHERE date_diff('day', f.fd, a.d) <= 3
        |GROUP BY f.fd, day_offset
        |ORDER BY f.fd, day_offset""".stripMargin
  )
}
