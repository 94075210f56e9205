package graft.queries

import graft.Decimals._
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core relational surface: scan → filter → project → hash-agg → sort.
  *
  * Mirrors the query semantics of the Hive engine the reference charm
  * deploys (reference: `actions/smoke-test` exercises exactly this
  * create→select→aggregate round-trip; the execution-side loci are Hive's
  * TableScanOperator/FilterOperator/SelectOperator/GroupByOperator). Here the
  * whole pipeline is declarative DataFrame code so Catalyst pushes filters
  * and prunes columns into the parquet scan and Tungsten runs the hash
  * aggregate in whole-stage codegen.
  *
  * Scale note: q1-style partial/final hash aggregation over a handful of
  * group keys is the canonical 100 TB-safe shape — map-side combine reduces
  * each partition to ≤|groups| rows before the shuffle.
  */
object Relational extends QueryPack {

  /** Money column → exact decimal, so sums are order-independent and
    * hash-stable against the DuckDB oracle (SURVEY.md §7.4 trap #1). */

  /** TPC-H Q1-shaped pricing summary (flagship). */
  def q1Pricing(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "lineitem")
      .filter($"l_shipdate" <= to_timestamp(lit("2000-09-01")))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(money($"l_quantity")).cast("double").as("sum_qty"),
        sum(money($"l_extendedprice")).cast("double").as("sum_base_price"),
        sum(money($"l_extendedprice") * (lit(1) - money($"l_discount")))
          .cast("double").as("sum_disc_price"),
        sum(money($"l_extendedprice") * (lit(1) - money($"l_discount"))
            * (lit(1) + money($"l_tax")))
          .cast("double").as("sum_charge"),
        (sum(money($"l_quantity")).cast("double") / count($"l_quantity"))
          .as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Predicate surface: BETWEEN / IN / LIKE / IS NOT NULL / NOT / modulo
    * arithmetic — Hive's FilterOperator + GenericUDFOP* family, expressed as
    * Column predicates so they all push into the parquet scan. */
  def q2Predicates(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "orders")
      .filter($"o_totalprice".between(1000, 200000)
        && $"o_orderstatus".isin("F", "O")
        && $"o_orderpriority".like("%URGENT")
        && $"o_orderdate".isNotNull
        && !($"o_custkey" % 7 === 0))
      .select($"o_orderkey", $"o_orderstatus", $"o_orderpriority",
        $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  /** DISTINCT projection (Hive rewrites through GroupByOperator; Spark
    * plans HashAggregate over the two grouping columns). */
  def qDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "lineitem")
      .select($"l_returnflag", $"l_linestatus")
      .distinct()
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Global multi-column sort with mixed direction — Spark range-partitions
    * the sort (scales out), unlike Hive's single-reducer ORDER BY. */
  def qOrderMulti(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .orderBy($"o_orderstatus".asc, $"o_totalprice".desc, $"o_orderkey".asc)
  }

  /** Top-k: ORDER BY + LIMIT → TakeOrderedAndProjectExec, the distributed
    * per-partition top-k Hive approximates with hive.limit.* opts. */
  def qTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(money($"o_totalprice")).cast("double").as("total_spend"),
        count(lit(1)).as("n_orders"))
      .orderBy($"total_spend".desc, $"o_custkey".asc)
      .limit(15)
  }

  /** DISTRIBUTE BY + SORT BY (Hive CLUSTER BY): repartition on the key then
    * partition-local sort. The final aggregate is partitioning-independent,
    * which is what makes the query oracle-checkable while still exercising
    * the operators. */
  def qClusterBy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "lineitem")
      .repartition($"l_suppkey")
      .sortWithinPartitions($"l_suppkey", $"l_shipdate")
      .groupBy($"l_suppkey")
      .agg(min($"l_shipdate").as("first_ship"),
        max($"l_shipdate").as("last_ship"),
        count(lit(1)).as("n_items"))
      .orderBy($"l_suppkey")
  }

  /** TABLESAMPLE(BUCKET x OUT OF y ON key)-style deterministic sample via
    * key modulo (engine-portable, unlike hash-function-dependent sampling). */
  def qSampleBucket(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "lineitem")
      .filter($"l_orderkey" % 10 === 3)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(money($"l_quantity")).cast("double").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing" -> q1Pricing,
    "q2_predicates" -> q2Predicates,
    "q_distinct" -> qDistinct,
    "q_order_multi" -> qOrderMulti,
    "q_topk" -> qTopK,
    "q_cluster_by" -> qClusterBy,
    "q_sample_bucket" -> qSampleBucket
  )

  val oracle: Map[String, String] = Map(
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_predicates" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
        |FROM orders
        |WHERE o_totalprice BETWEEN 1000 AND 200000
        |  AND o_orderstatus IN ('F','O')
        |  AND o_orderpriority LIKE '%URGENT'
        |  AND o_orderdate IS NOT NULL
        |  AND NOT (o_custkey % 7 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_order_multi" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_totalprice DESC NULLS LAST, o_orderkey ASC""".stripMargin,

    "q_topk" ->
      """SELECT o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY o_custkey
        |ORDER BY total_spend DESC NULLS LAST, o_custkey ASC
        |LIMIT 15""".stripMargin,

    "q_cluster_by" ->
      """SELECT l_suppkey, MIN(l_shipdate) AS first_ship,
        |  MAX(l_shipdate) AS last_ship, COUNT(*) AS n_items
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    "q_sample_bucket" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 10 = 3
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
