package graft.queries

import graft.Decimals._
import graft.Tables
import graft.functions.GeoMean
import graft.operators.AsOf
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deeper analytics suite: more TPC-H-shaped golden queries (Q6/Q10/Q14/Q18
  * analogs adapted to the cut-down fixture columns), crypto/hash functions,
  * the custom typed-Aggregator surface, and the as-of temporal join
  * (oracled against DuckDB's native ASOF JOIN).
  */
object TpchMore extends QueryPack {

  /** TPC-H's discounted price, l_extendedprice · (1 − l_discount), in
    * money decimals — shared with [[TpchFull]]. */
  private[queries] val disc: Column =
    money(col("l_extendedprice")) * (lit(1) - money(col("l_discount")))

  /** TPC-H Q6: forecasting revenue change — tight scan-filter-agg, the
    * purest pushdown benchmark. */
  def q6Forecast(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "lineitem")
      .filter($"l_shipdate" >= to_timestamp(lit("1996-01-01"))
        && $"l_shipdate" < to_timestamp(lit("1997-01-01"))
        && $"l_discount".between(0.04, 0.06)
        && $"l_quantity" < 24)
      .agg(sum(money($"l_extendedprice") * money($"l_discount"))
        .cast("double").as("revenue"))
  }

  /** TPC-H Q10: returned-item reporting — who returned goods, top 20 by
    * lost revenue. */
  def q10Returns(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
      .filter($"l_returnflag" === "R")
    val orders = Tables.df(spark, sfDir, "orders")
      .filter($"o_orderdate" >= to_timestamp(lit("1996-01-01"))
        && $"o_orderdate" < to_timestamp(lit("1997-01-01")))
    val cust = Tables.df(spark, sfDir, "customer")
    val nation = Tables.df(spark, sfDir, "nation")
    li.join(orders, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"n_name")
      .agg(sum(disc).cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"c_custkey".asc)
      .limit(20)
  }

  /** TPC-H Q14: promotion effect — % of revenue from PROMO parts. */
  def q14Promo(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
      .filter($"l_shipdate" >= to_timestamp(lit("1997-01-01"))
        && $"l_shipdate" < to_timestamp(lit("1998-01-01")))
    val part = Tables.df(spark, sfDir, "part")
    li.join(part, $"l_partkey" === $"p_partkey")
      .agg(
        round(lit(100.0)
          * sum(when($"p_type" === "PROMO", disc)
              .otherwise(lit(0).cast(dec18_2))).cast("double")
          / sum(disc).cast("double"), 6).as("promo_pct"))
  }

  /** TPC-H Q18: large-volume customers — orders whose total quantity
    * exceeds 300. */
  def q18LargeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
    val big = li.groupBy($"l_orderkey".as("bok"))
      .agg(sum(money($"l_quantity")).cast("double").as("sum_qty"))
      .filter($"sum_qty" > 300)
    val orders = Tables.df(spark, sfDir, "orders")
    val cust = Tables.df(spark, sfDir, "customer")
    orders.join(big, $"o_orderkey" === $"bok")
      .join(cust, $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"o_orderkey", $"o_orderdate",
        $"o_totalprice", $"sum_qty")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(100)
  }

  /** TPC-H Q13: customer order-count distribution — the aggregate-of-an-
    * aggregate shape (left join preserving zero-order customers, then a
    * histogram over the per-customer counts). */
  def q13CustDist(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.df(spark, sfDir, "customer")
    val orders = Tables.df(spark, sfDir, "orders")
      .filter($"o_orderpriority" =!= "1-URGENT")
    val perCust = cust.join(orders, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
    perCust.groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  /** TPC-H Q4 analog (order priority checking): EXISTS decorrelates to a
    * left-semi join; the fixture lacks l_commitdate, so "late" means a
    * line shipped after the order date plus 60 days. */
  def q4Priority(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= date '1996-01-01'
        |  AND o_orderdate < date '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAYS)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** TPC-H Q12 analog (shipping modes / priority split): the classic
    * two-way conditional-sum over a fact-dim join; l_returnflag stands in
    * for the missing l_shipmode. */
  def q12Priority(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
      .filter($"l_shipdate" >= to_timestamp(lit("1996-01-01"))
        && $"l_shipdate" < to_timestamp(lit("1997-01-01")))
    val orders = Tables.df(spark, sfDir, "orders")
    li.join(orders, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(
        sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(!$"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("low_line_count"))
      .orderBy($"l_returnflag")
  }

  /** TPC-H Q19 analog (discounted revenue): disjunction of conjunctive
    * brand/size/quantity ranges — the OR-of-ANDs shape that tests
    * predicate normalization and join-side pushdown (Catalyst extracts
    * the common l_quantity/p_size bounds below the join). */
  def q19Disjunct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
    val part = Tables.df(spark, sfDir, "part")
    li.join(part, $"l_partkey" === $"p_partkey")
      .filter(
        ($"p_brand" === "Brand#12" && $"p_size".between(1, 15)
          && $"l_quantity".between(1, 11)) ||
        ($"p_brand" === "Brand#23" && $"p_size".between(1, 25)
          && $"l_quantity".between(10, 20)) ||
        ($"p_brand" === "Brand#34" && $"p_size".between(1, 35)
          && $"l_quantity".between(20, 30)))
      .agg(sum(disc).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Hash/crypto functions with engine-portable semantics. */
  def qHashPack(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "customer")
      .filter($"c_custkey" % 50 === 0)
      .select($"c_custkey",
        md5($"c_name").as("m"),
        sha2($"c_name", 256).as("s256"),
        length(sha2($"c_name", 512)).as("s512_len"))
      .orderBy($"c_custkey")
  }

  /** Custom typed Aggregator (geometric mean) — the UDAF extension API. */
  def qCustomUdaf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(round(GeoMean.of($"l_extendedprice"), 4).as("geo_price"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  /** As-of join: each purchase event annotated with the value and time of
    * the same user's most recent strictly-prior signup event. */
  def qAsofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.df(spark, sfDir, "events")
    val purchases = events.filter($"event_type" === "purchase")
    val signups = events.filter($"event_type" === "signup")
      .select($"user_id", $"ts", $"value")
    AsOf.asOfJoin(purchases, signups, "user_id", "ts", Seq("value"))
      .select($"event_id", $"user_id", $"value", $"prior_value")
      .orderBy($"event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q6_forecast" -> q6Forecast,
    "q10_returns" -> q10Returns,
    "q14_promo" -> q14Promo,
    "q13_custdist" -> q13CustDist,
    "q18_large_orders" -> q18LargeOrders,
    "q4_priority" -> q4Priority,
    "q12_priority" -> q12Priority,
    "q19_disjunct" -> q19Disjunct,
    "q_hash_pack" -> qHashPack,
    "q_custom_udaf" -> qCustomUdaf,
    "q_asof_join" -> qAsofJoin
  )

  private val discSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  val oracle: Map[String, String] = Map(
    "q6_forecast" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |         * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.04 AND 0.06
        |  AND l_quantity < 24""".stripMargin,

    "q10_returns" ->
      s"""SELECT c_custkey, c_name, n_name,
        |  CAST(SUM($discSql) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC NULLS LAST, c_custkey ASC
        |LIMIT 20""".stripMargin,

    "q4_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= date '1996-01-01'
        |  AND o_orderdate < date '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q12_priority" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q19_disjunct" ->
      s"""SELECT CAST(SUM($discSql) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q14_promo" ->
      s"""SELECT round(100.0
        |  * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $discSql
        |             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |  / CAST(SUM($discSql) AS DOUBLE), 6) AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'""".stripMargin,

    "q13_custdist" ->
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |      FROM customer LEFT JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC NULLS LAST, c_count DESC NULLS LAST""".stripMargin,

    "q18_large_orders" ->
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |  sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey,
        |        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |          AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |             > 300) b
        |  ON o_orderkey = b.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC
        |LIMIT 100""".stripMargin,

    "q_hash_pack" ->
      """SELECT c_custkey, md5(c_name) AS m, sha256(c_name) AS s256,
        |  CAST(128 AS INT) AS s512_len
        |FROM customer WHERE c_custkey % 50 = 0
        |ORDER BY c_custkey""".stripMargin,

    "q_custom_udaf" ->
      """SELECT l_returnflag,
        |  round(exp(avg(ln(l_extendedprice))), 4) AS geo_price,
        |  COUNT(*) AS n
        |FROM lineitem WHERE l_extendedprice > 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, e.value, p.value AS prior_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') p
        |  ON e.user_id = p.user_id AND e.ts > p.ts
        |ORDER BY e.event_id""".stripMargin
  )
}
