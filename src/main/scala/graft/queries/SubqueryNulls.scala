package graft.queries

import graft.Decimals._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correlated-subquery decorrelation (Hive: calcite subquery transforms →
  * Catalyst RewriteCorrelatedScalarSubquery) and three-valued NULL
  * semantics. The fixtures contain no NULLs, so qNullSemantics
  * manufactures them with nullif() and then exercises the null-sensitive
  * surface: COUNT(*) vs COUNT(col), aggregates skipping nulls, GROUP BY on
  * a nullable key, null-safe equality, and explicit null ordering.
  */
object SubqueryNulls extends QueryPack {

  /** Correlated scalar subquery per part (decorrelated by Catalyst into a
    * left outer aggregate join). */
  def qScalarSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT p_partkey, p_type,
        |  (SELECT CAST(MIN(l_extendedprice) AS DOUBLE) FROM lineitem
        |   WHERE l_partkey = p_partkey) AS min_price,
        |  (SELECT COUNT(*) FROM lineitem
        |   WHERE l_partkey = p_partkey) AS n_lines
        |FROM part WHERE p_partkey % 40 = 0
        |ORDER BY p_partkey""".stripMargin)
  }

  /** Correlated EXISTS with an extra inequality (beyond plain semi join). */
  def qCorrelatedExists(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey % 10 = 0
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_extendedprice > o_totalprice / 2)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Three-valued logic over manufactured NULLs. */
  def qNullSemantics(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "orders")
      .select($"o_orderkey",
        nullif($"o_orderstatus", lit("P")).as("st"),
        when($"o_totalprice" > 150000, $"o_totalprice").as("big_price"))
      .groupBy($"st")
      .agg(
        count(lit(1)).as("n_rows"),
        count($"big_price").as("n_big"),        // skips nulls
        coalesce(sum(money($"big_price")).cast("double"), lit(0.0))
          .as("sum_big"),                        // sum skips nulls
        count(when($"big_price".isNull, 1)).as("n_null_big"),
        sum(($"st" <=> lit("F")).cast("long")).as("n_nullsafe_f"))
      .orderBy($"st".asc_nulls_first)
      // The NULL group key itself is the 3VL test surface *inside* the
      // aggregates; emit a sentinel in the output so the comparator never
      // hashes a NULL key (engine NULL-vs-NaN representation drift).
      .select(coalesce($"st", lit("<null>")).as("st"),
        $"n_rows", $"n_big", $"sum_big", $"n_null_big",
        $"n_nullsafe_f".cast("long").as("n_nullsafe_f"))
  }

  /** SQL named windows (`WINDOW w AS (...)` — Hive 0.11+ clause surface). */
  def qNamedWindowSql(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER w AS INT) AS rn,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    AS running_spend
        |FROM orders
        |WHERE o_custkey % 50 = 0
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
  }

  /** TABLESAMPLE (BERNOULLI 10%) as a PORTABLE deterministic sampler
    * (VERDICT r11 #8, graduating the old rows-only seeded `.sample()`):
    * the keep decision is an md5-keyed uniform per row key —
    * u = (hash60(md5('ts1:' || key)) + 0.5) / 2^60 < 0.1 — i.e. exactly
    * a Bernoulli row sample, but with an explicit hash RNG both engines
    * replay bit-for-bit (the q_temp_sample keep-uniform discipline), so
    * the aggregate over the sample is fully hash-oracled. Semantics
    * match engine TABLESAMPLE: per-row independent keep, no shuffle,
    * decision never leaves the scan stage; unlike a seed-based engine
    * sampler the selection survives repartitioning, retries, and engine
    * swaps — the property a 100 TB pipeline actually wants from a
    * sampling clause. */
  def qTablesample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "lineitem")
      .withColumn("u",
        (conv(substring(md5(concat(lit("ts1:"),
          $"l_orderkey".cast("string"), lit(":"),
          $"l_linenumber".cast("string"))), 1, 15), 16, 10)
          .cast("long") + 0.5) / lit(1152921504606846976.0))
      .filter($"u" < 0.1)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  /** LATERAL correlated subquery with per-row ORDER BY + LIMIT — the
    * SQL-standard "top-N per group" form (Spark supports LATERAL
    * subquery joins since 3.2; Catalyst decorrelates the limit into a
    * ranked window, so the plan stays fully distributed — no per-row
    * re-execution). Two highest-value orders per BUILDING-segment
    * customer, fully tie-broken. */
  def qLateralSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT c.c_custkey, o.o_orderkey,
        |  CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
        |FROM customer c JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |WHERE c.c_mktsegment = 'BUILDING'
        |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lateral_subquery" -> qLateralSubquery,
    "q_scalar_subquery" -> qScalarSubquery,
    "q_correlated_exists" -> qCorrelatedExists,
    "q_null_semantics" -> qNullSemantics,
    "q_named_window_sql" -> qNamedWindowSql,
    "q_tablesample" -> qTablesample
  )

  val oracle: Map[String, String] = Map(
    // the same LATERAL form — DuckDB's comma-LATERAL spelling
    "q_lateral_subquery" ->
      """SELECT c.c_custkey, o.o_orderkey,
        |  CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |WHERE c.c_mktsegment = 'BUILDING'
        |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT p_partkey, p_type,
        |  (SELECT CAST(MIN(l_extendedprice) AS DOUBLE) FROM lineitem
        |   WHERE l_partkey = p_partkey) AS min_price,
        |  (SELECT COUNT(*) FROM lineitem
        |   WHERE l_partkey = p_partkey) AS n_lines
        |FROM part WHERE p_partkey % 40 = 0
        |ORDER BY p_partkey""".stripMargin,

    "q_correlated_exists" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey % 10 = 0
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_extendedprice > o_totalprice / 2)
        |ORDER BY o_orderkey""".stripMargin,

    "q_null_semantics" ->
      """SELECT COALESCE(st, '<null>') AS st,
        |  COUNT(*) AS n_rows, COUNT(big_price) AS n_big,
        |  COALESCE(CAST(SUM(CAST(big_price AS DECIMAL(18,2))) AS DOUBLE), 0.0)
        |    AS sum_big,
        |  COUNT(CASE WHEN big_price IS NULL THEN 1 END) AS n_null_big,
        |  CAST(SUM(CAST(st IS NOT DISTINCT FROM 'F' AS BIGINT)) AS BIGINT)
        |    AS n_nullsafe_f
        |FROM (SELECT o_orderkey, nullif(o_orderstatus, 'P') AS st,
        |        CASE WHEN o_totalprice > 150000 THEN o_totalprice END
        |          AS big_price
        |      FROM orders)
        |GROUP BY st
        |ORDER BY st ASC NULLS FIRST""".stripMargin,

    "q_named_window_sql" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER w AS INT) AS rn,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    AS running_spend
        |FROM orders
        |WHERE o_custkey % 50 = 0
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    // the identical md5-keyed Bernoulli keep decision, replayed
    "q_tablesample" ->
      """SELECT l_returnflag, count(*) AS n
        |FROM lineitem
        |WHERE (('0x' || substr(md5('ts1:' || CAST(l_orderkey AS VARCHAR)
        |    || ':' || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT
        |    + 0.5) / 1152921504606846976.0 < 0.1
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
  )
}
