package graft.queries

import graft.Decimals._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PIVOT (cross-tab) and the HiveQL physical-layout SQL clauses
  * (DISTRIBUTE BY / SORT BY / CLUSTER BY, temp-view indirection) through
  * the SQL parser surface. Hive 1.2 writes pivots as conditional
  * aggregation — which is exactly what the DuckDB oracle does, while the
  * Spark side uses the first-class `pivot` API (it compiles to the same
  * conditional-agg plan: one shuffle, no extra pass per pivot value). */
object Pivot extends QueryPack {

  /** Cross-tab: total order value per priority × status. Explicit pivot
    * value list keeps the plan single-pass (no distinct-values pre-query). */
  def qPivot(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "orders")
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(money($"o_totalprice")).cast("double"))
      .na.fill(0.0, Seq("F", "O", "P"))
      .orderBy($"o_orderpriority")
  }

  /** DISTRIBUTE BY + SORT BY through the SQL parser (HiveQL syntax Spark
    * inherits), re-aggregated so the result is partitioning-independent. */
  def qDistributeSql(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT l_returnflag, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |         AS sum_qty
        |FROM (SELECT l_returnflag, l_quantity FROM lineitem
        |      DISTRIBUTE BY l_returnflag SORT BY l_quantity)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  /** Temp-view indirection (Hive logical views): define a view, query
    * through it. */
  def qViewIndirection(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW big_orders AS
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice > 100000""".stripMargin)
    spark.sql(
      """SELECT o_custkey, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total
        |FROM big_orders GROUP BY o_custkey
        |HAVING COUNT(*) >= 3
        |ORDER BY o_custkey""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pivot" -> qPivot,
    "q_distribute_sql" -> qDistributeSql,
    "q_view_indirection" -> qViewIndirection
  )

  val oracle: Map[String, String] = Map(
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS F,
        |  COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS O,
        |  COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS P
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_distribute_sql" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_view_indirection" ->
      """SELECT o_custkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_totalprice > 100000
        |GROUP BY o_custkey HAVING COUNT(*) >= 3
        |ORDER BY o_custkey""".stripMargin
  )
}
