package graft.queries

import graft.Decimals._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Aggregation depth: the full UDAF surface of the deployed Hive engine
  * (GroupByOperator + GenericUDAF* family: count/sum/avg/min/max, the
  * statistical family, percentile, collect_set/list, grouping sets /
  * rollup / cube, HAVING) on Spark's partial/final HashAggregate.
  *
  * Determinism contract (SURVEY.md §7.4): statistical moments are rounded
  * before the hash-compare (Welford accumulation order differs between
  * engines at ~1e-12 relative error); collect_* results are sorted and
  * joined to a string; approx sketches (HLL, GK-quantile) get no oracle —
  * they are asserted by bounds in unit tests instead.
  *
  * Scale note: every aggregate here is algebraic or has a bounded sketch —
  * map-side partial aggregation keeps the shuffle ≤ |groups| rows per
  * partition. collect_* is the one list-building exception; it is only
  * safe because its group cardinality (returnflag → ≤2 statuses) is tiny,
  * and that constraint is documented at the call site.
  */
object Aggregates extends QueryPack {

  /** Statistical UDAFs per return flag (variance/stddev/covar/corr). */
  def qAggStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        round(var_pop($"l_quantity"), 4).as("vp"),
        round(var_samp($"l_quantity"), 4).as("vs"),
        round(stddev_pop($"l_quantity"), 4).as("sp"),
        round(stddev_samp($"l_quantity"), 4).as("ss"),
        round(covar_pop($"l_quantity", $"l_discount"), 6).as("cvp"),
        round(corr($"l_quantity", $"l_extendedprice"), 6).as("cr"),
        avg($"l_quantity").as("avg_qty"),
        min($"l_quantity").as("min_qty"),
        max($"l_quantity").as("max_qty"))
      .orderBy($"l_returnflag")
  }

  /** COUNT(DISTINCT …) — Hive rewrites through a two-stage group-by;
    * Spark plans expand + two-phase HashAggregate. */
  def qAggDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("nd_parts"),
        countDistinct($"l_suppkey").as("nd_supps"),
        countDistinct($"l_partkey", $"l_suppkey").as("nd_ps"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  /** The scale-safe twin of [[qAggDistinct]] — identical result, same
    * oracle, different plan. PERF.md's multi-DISTINCT lesson: N exact
    * COUNT(DISTINCT)s in ONE aggregate make Spark's rewrite Expand every
    * row N ways AND carry the raw distinct VALUES in the grouping keys
    * (the q_profile ancestor measured 40× against the split shape; the
    * registered [[qAggDistinct]] is kept as the Hive-surface
    * demonstration of exactly that trap). Two-level shape instead: one
    * explode to (flag, kind, v1, v2) — the same ×3 row fan-out the
    * Expand pays — but then a DISTINCT keyed on the full tuple, which
    * partial-aggregates map-side to ~|distinct values| rows before the
    * only wide shuffle, and a 3-row conditional-count final pass. The
    * distinct-free COUNT(*) runs as its own thin pass and joins back by
    * broadcast. At 100 TB the shuffle is bounded by the distinct-value
    * count, not the row count — the property the single-agg shape loses. */
  def qAggDistinct2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
      .select($"l_returnflag", $"l_partkey", $"l_suppkey")
    val nullK = lit(null).cast("long")
    val nd = li.select($"l_returnflag", explode(array(
        struct(lit("p").as("kind"), $"l_partkey".as("v1"), nullK.as("v2")),
        struct(lit("s").as("kind"), $"l_suppkey".as("v1"), nullK.as("v2")),
        struct(lit("ps").as("kind"), $"l_partkey".as("v1"),
          $"l_suppkey".as("v2")))).as("e"))
      .select($"l_returnflag", $"e.kind", $"e.v1", $"e.v2")
      .distinct()
      .groupBy($"l_returnflag")
      .agg(
        sum(when($"kind" === "p", 1L).otherwise(0L)).as("nd_parts"),
        sum(when($"kind" === "s", 1L).otherwise(0L)).as("nd_supps"),
        sum(when($"kind" === "ps", 1L).otherwise(0L)).as("nd_ps"))
    val n = li.groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
    nd.join(broadcast(n), "l_returnflag")
      .select($"l_returnflag", $"nd_parts", $"nd_supps", $"nd_ps", $"n")
      .orderBy($"l_returnflag")
  }

  /** Exact percentiles (Hive GenericUDAFPercentile / linear
    * interpolation ≡ DuckDB quantile_cont). */
  def qPercentile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        expr("percentile(l_quantity, 0.95)").as("p95"))
      .orderBy($"l_returnflag")
  }

  /** collect_set / collect_list — sorted and stringified for engine-portable
    * determinism (collect order is partition-dependent otherwise). Only
    * valid on tiny per-group cardinalities; never collect an unbounded
    * group at scale. */
  def qCollect(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "orders")
      .groupBy($"o_orderstatus")
      .agg(
        concat_ws(",", sort_array(collect_set($"o_orderpriority")))
          .as("priorities"),
        size(collect_set($"o_orderpriority")).as("n_priorities"),
        count(lit(1)).as("n"))
      .orderBy($"o_orderstatus")
  }

  /** ROLLUP with per-column GROUPING flags (Hive 0.10+ multi-grouping). */
  def qRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "orders")
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(money($"o_totalprice")).cast("double").as("total"),
        grouping($"o_orderstatus").cast("int").as("g1"),
        grouping($"o_orderpriority").cast("int").as("g2"))
      .orderBy($"g1", $"g2", $"o_orderstatus".asc_nulls_first,
        $"o_orderpriority".asc_nulls_first)
  }

  /** CUBE over two dimensions. */
  def qCube(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "orders")
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        grouping($"o_orderstatus").cast("int").as("g1"),
        grouping($"o_orderpriority").cast("int").as("g2"))
      .orderBy($"g1", $"g2", $"o_orderstatus".asc_nulls_first,
        $"o_orderpriority".asc_nulls_first)
  }

  /** GROUPING SETS via the SQL surface (exercises Spark's HiveQL-descended
    * parser path the way beeline would against HiveServer2). */
  def qGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(grouping(o_orderstatus) AS INT) AS g1, CAST(grouping(o_orderpriority) AS INT) AS g2
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g1, g2, o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  /** HAVING — post-aggregation filter. */
  def qHaving(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "lineitem")
      .groupBy($"l_suppkey")
      .agg(sum(money($"l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .where($"sum_qty" > 14000)
      .orderBy($"l_suppkey")
  }

  /** Approx sketches: HLL++ distinct + GK percentile. No oracle — sketch
    * internals differ across engines; bounds are unit-tested instead. */
  def qApprox(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_partkey").as("approx_parts"),
        expr("percentile_approx(l_extendedprice, 0.5, 1000)").as("approx_median"),
        // to_json: the driver comparator sorts/hashes every output column
        // via pandas, which cannot hash raw array<struct> values
        to_json(expr("histogram_numeric(l_quantity, 5)")).as("hist"))
      .orderBy($"l_returnflag")
  }

  /** Sort-based aggregation fallback: max over a STRUCT buffer (lexical
    * arg-max) is not representable in HashAggregate's mutable row, so
    * Catalyst plans SortAggregateExec — the Hive sort-agg path. The plan
    * shape is locked in PlanAuditSpec; here the RESULT is oracle-checked
    * (DuckDB twin: row_number over the same (price DESC, key DESC) order). */
  def qSortAggArgmax(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "orders")
      .groupBy($"o_orderstatus")
      .agg(max(struct($"o_totalprice", $"o_orderkey")).as("m"))
      .select($"o_orderstatus",
        $"m.o_totalprice".as("max_price"),
        $"m.o_orderkey".as("max_key"))
      .orderBy($"o_orderstatus")
  }

  /** Incremental view maintenance for an algebraic aggregate: the
    * standing per-priority order summary is kept as MERGEABLE partial
    * states (count, decimal sum, min, max — avg is DERIVED from
    * sum/count, never stored), a new-arrivals delta computes the same
    * states over only its own rows, and one second-level aggregate
    * merges the two state relations. The Spark plan literally builds
    * state(base ⊎ delta-state-union) — the oracle is the flat
    * recompute over the whole table, so the hash gate proves the merge
    * law state(A) ⊕ state(B) = state(A ∪ B) end to end. The 100 TB
    * story IS this op: the standing corpus's state is a priority-thin
    * relation refreshed without rescanning 100 TB — each ingest batch
    * pays one scan of itself (the same never-rescan-the-corpus shape as
    * q_dedup_incremental, at the aggregate layer; insert-only deltas,
    * so min/max stay mergeable). */
  def qIvmAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cutoff = to_timestamp(lit("1998-01-01"))
    def state(part: DataFrame): DataFrame =
      part.groupBy($"o_orderpriority").agg(
        count(lit(1)).as("cnt"),
        sum(money($"o_totalprice")).as("s"),
        min(money($"o_totalprice")).as("mn"),
        max(money($"o_totalprice")).as("mx"))
    val orders = Tables.df(spark, sfDir, "orders")
    val base = state(orders.filter($"o_orderdate" < cutoff))
    val delta = state(orders.filter($"o_orderdate" >= cutoff))
    base.unionAll(delta)
      .groupBy($"o_orderpriority").agg(
        sum($"cnt").as("n_orders"),
        sum($"s").cast("double").as("sum_price"),
        min($"mn").cast("double").as("min_price"),
        max($"mx").cast("double").as("max_price"))
      .withColumn("avg_price", round($"sum_price" / $"n_orders", 6))
      .orderBy($"o_orderpriority")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ivm_agg" -> qIvmAgg,
    "q_sortagg_argmax" -> qSortAggArgmax,
    "q_agg_stats" -> qAggStats,
    "q_agg_distinct" -> qAggDistinct,
    "q_agg_distinct2" -> qAggDistinct2,
    "q_percentile" -> qPercentile,
    "q_collect" -> qCollect,
    "q_rollup" -> qRollup,
    "q_cube" -> qCube,
    "q_grouping_sets" -> qGroupingSets,
    "q_having" -> qHaving,
    "q_approx" -> qApprox
  )

  val oracle: Map[String, String] = Map(
    // the FLAT recompute: matching the merged base⊎delta states proves
    // the partial-aggregate merge law end to end
    "q_ivm_agg" ->
      """SELECT o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS min_price,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS max_price,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*), 6) AS avg_price
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_sortagg_argmax" ->
      """SELECT o_orderstatus, o_totalprice AS max_price,
        |  o_orderkey AS max_key
        |FROM (SELECT o_orderstatus, o_totalprice, o_orderkey,
        |        row_number() OVER (PARTITION BY o_orderstatus
        |          ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        |      FROM orders)
        |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,

    "q_agg_stats" ->
      """SELECT l_returnflag,
        |  round(var_pop(l_quantity), 4) AS vp,
        |  round(var_samp(l_quantity), 4) AS vs,
        |  round(stddev_pop(l_quantity), 4) AS sp,
        |  round(stddev_samp(l_quantity), 4) AS ss,
        |  round(covar_pop(l_quantity, l_discount), 6) AS cvp,
        |  round(corr(l_quantity, l_extendedprice), 6) AS cr,
        |  avg(l_quantity) AS avg_qty,
        |  min(l_quantity) AS min_qty,
        |  max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS nd_parts,
        |  COUNT(DISTINCT l_suppkey) AS nd_supps,
        |  COUNT(DISTINCT (l_partkey, l_suppkey)) AS nd_ps,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // identical oracle by design: the twin must produce byte-identical
    // results through the two-level plan
    "q_agg_distinct2" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS nd_parts,
        |  COUNT(DISTINCT l_suppkey) AS nd_supps,
        |  COUNT(DISTINCT (l_partkey, l_suppkey)) AS nd_ps,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  quantile_cont(l_quantity, 0.95) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_collect" ->
      """SELECT o_orderstatus,
        |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
        |  CAST(len(list(DISTINCT o_orderpriority)) AS INTEGER) AS n_priorities,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g1,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g2
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY g1, g2, o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g1,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g2
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY g1, g2, o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g1,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g2
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g1, g2, o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_having" ->
      """SELECT l_suppkey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_suppkey
        |HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 14000
        |ORDER BY l_suppkey""".stripMargin
    // q_approx: intentionally no oracle (sketch internals differ)
  )
}
