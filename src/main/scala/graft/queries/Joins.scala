package graft.queries

import graft.Decimals._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join surface: every join strategy/type the deployed Hive engine offers
  * (reference execution loci: CommonJoinOperator / MapJoinOperator /
  * SMBMapJoinOperator and the SemanticAnalyzer semi-join + subquery
  * rewrites), expressed Spark-first:
  *
  *  - small dimensions go through `broadcast()` (Hive's map join) — no
  *    shuffle of the fact table's join side at 100 TB;
  *  - large-large joins stay declarative equi-joins so Catalyst picks
  *    sort-merge + AQE handles skew/runtime broadcast;
  *  - semi/anti joins replace Hive's EXISTS / NOT EXISTS rewrites.
  *
  * Scale note: in every query the fact table (lineitem/orders) is joined
  * either broadcast-side or on its natural key, so the only shuffles are
  * on aggregation keys that reduce row counts first.
  */
object Joins extends QueryPack {

  /** TPC-H Q3-shaped shipping priority: broadcast dim filter + two equi
    * joins + agg + top-k. */
  def q3Shipping(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.df(spark, sfDir, "customer")
      .filter($"c_mktsegment" === "BUILDING")
    val orders = Tables.df(spark, sfDir, "orders")
      .filter($"o_orderdate" < to_timestamp(lit("1998-01-01")))
    val li = Tables.df(spark, sfDir, "lineitem")
      .filter($"l_shipdate" > to_timestamp(lit("1998-01-01")))
    li.join(orders, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate")
      .agg(sum(money($"l_extendedprice") * (lit(1) - money($"l_discount")))
        .cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey".asc)
      .limit(10)
  }

  /** TPC-H Q5-shaped regional volume: five-way star join; region/nation
    * broadcast, customer⋈orders and lineitem⋈supplier equi-joined. */
  def q5RegionVolume(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val region = Tables.df(spark, sfDir, "region").filter($"r_name" === "ASIA")
    val nation = Tables.df(spark, sfDir, "nation")
    val cust = Tables.df(spark, sfDir, "customer")
    val sup = Tables.df(spark, sfDir, "supplier")
    val orders = Tables.df(spark, sfDir, "orders")
      .filter($"o_orderdate" >= to_timestamp(lit("1996-01-01"))
        && $"o_orderdate" < to_timestamp(lit("1998-01-01")))
    val li = Tables.df(spark, sfDir, "lineitem")
    li.join(orders, $"l_orderkey" === $"o_orderkey")
      .join(sup, $"l_suppkey" === $"s_suppkey")
      .join(cust, $"o_custkey" === $"c_custkey"
        && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(sum(money($"l_extendedprice") * (lit(1) - money($"l_discount")))
        .cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"n_name".asc)
  }

  /** LEFT SEMI JOIN — Hive's rewrite of EXISTS/IN subqueries: orders that
    * have at least one near-max-quantity line item. */
  def qSemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val big = Tables.df(spark, sfDir, "lineitem").filter($"l_quantity" >= 49)
    Tables.df(spark, sfDir, "orders")
      .join(big, $"o_orderkey" === $"l_orderkey", "left_semi")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  /** LEFT ANTI JOIN — NOT EXISTS: customers who never placed a
    * high-value (>100k) order. */
  def qAntiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val big = Tables.df(spark, sfDir, "orders")
      .filter($"o_totalprice" > 100000)
    Tables.df(spark, sfDir, "customer")
      .join(big, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_nationkey")
      .orderBy($"c_custkey")
  }

  /** LEFT OUTER JOIN preserving unmatched left rows: order count per
    * customer including zero-order customers. */
  def qLeftOuter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.df(spark, sfDir, "orders")
    Tables.df(spark, sfDir, "customer")
      .join(orders, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("n_orders"),
        coalesce(sum(money($"o_totalprice")).cast("double"), lit(0.0))
          .as("total_spend"))
      .orderBy($"c_custkey")
  }

  /** FULL OUTER JOIN of two aggregates on different dimensions of the same
    * key (customer-count vs supplier-count per nation). */
  def qFullOuter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.df(spark, sfDir, "customer")
      .groupBy($"c_nationkey".as("nationkey"))
      .agg(count(lit(1)).as("n_customers"))
    val s = Tables.df(spark, sfDir, "supplier")
      .groupBy($"s_nationkey".as("nationkey2"))
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(s, $"nationkey" === $"nationkey2", "full")
      .select(coalesce($"nationkey", $"nationkey2").as("nationkey"),
        coalesce($"n_customers", lit(0L)).as("n_customers"),
        coalesce($"n_suppliers", lit(0L)).as("n_suppliers"))
      .orderBy($"nationkey")
  }

  /** Theta self-join (non-equi residual): pairs of nations in the same
    * region, each pair once — Hive evaluates this as join + residual
    * filter; Spark plans SMJ on the equi part with the `<` as condition. */
  def qThetaPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val n1 = Tables.df(spark, sfDir, "nation")
      .select($"n_nationkey".as("k1"), $"n_name".as("name1"),
        $"n_regionkey".as("r1"))
    val n2 = Tables.df(spark, sfDir, "nation")
      .select($"n_nationkey".as("k2"), $"n_name".as("name2"),
        $"n_regionkey".as("r2"))
    n1.join(n2, $"r1" === $"r2" && $"k1" < $"k2")
      .select($"r1".as("regionkey"), $"name1", $"name2")
      .orderBy($"regionkey", $"name1", $"name2")
  }

  /** CROSS JOIN (explicit cartesian, small×small only — a cartesian over a
    * fact table would be a 100 TB anti-pattern). */
  def qCrossJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val r1 = Tables.df(spark, sfDir, "region")
      .select($"r_regionkey".as("rk1"), $"r_name".as("rname1"))
    val r2 = Tables.df(spark, sfDir, "region")
      .select($"r_regionkey".as("rk2"), $"r_name".as("rname2"))
    r1.crossJoin(r2)
      .filter($"rk1" =!= $"rk2")
      .select($"rname1", $"rname2")
      .orderBy($"rname1", $"rname2")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q3_shipping" -> q3Shipping,
    "q5_region_volume" -> q5RegionVolume,
    "q_semi_join" -> qSemiJoin,
    "q_anti_join" -> qAntiJoin,
    "q_left_outer" -> qLeftOuter,
    "q_full_outer" -> qFullOuter,
    "q_theta_pairs" -> qThetaPairs,
    "q_cross_join" -> qCrossJoin
  )

  val oracle: Map[String, String] = Map(
    "q3_shipping" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC NULLS LAST, l_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q5_region_volume" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC NULLS LAST, n_name ASC""".stripMargin,

    "q_semi_join" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,

    "q_left_outer" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q_full_outer" ->
      """SELECT COALESCE(c.nationkey, s.nationkey2) AS nationkey,
        |  COALESCE(n_customers, 0) AS n_customers,
        |  COALESCE(n_suppliers, 0) AS n_suppliers
        |FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
        |      FROM customer GROUP BY c_nationkey) c
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS nationkey2, COUNT(*) AS n_suppliers
        |      FROM supplier GROUP BY s_nationkey) s
        |ON c.nationkey = s.nationkey2
        |ORDER BY nationkey""".stripMargin,

    "q_theta_pairs" ->
      """SELECT n1.n_regionkey AS regionkey, n1.n_name AS name1, n2.n_name AS name2
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
        |ORDER BY regionkey, name1, name2""".stripMargin,

    "q_cross_join" ->
      """SELECT r1.r_name AS rname1, r2.r_name AS rname2
        |FROM region r1 CROSS JOIN region r2
        |WHERE r1.r_regionkey <> r2.r_regionkey
        |ORDER BY rname1, rname2""".stripMargin
  )
}
