package graft.queries

import graft.Decimals._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The remaining TPC-H query shapes (Q7/Q8/Q9/Q11/Q15/Q16/Q17/Q20/Q21/Q22),
  * adapted to the cut-down fixture schema: no `partsupp` table (the distinct
  * `(l_partkey, l_suppkey)` pairs of `lineitem` stand in for it), no
  * `l_commitdate`/`l_receiptdate` ("late" = shipped more than 60 days after
  * the order date, as in the existing Q4/Q21 analogs), no `c_phone` (the
  * nation key stands in for the country code in Q22), and `p_retailprice`
  * stands in for `ps_supplycost` in Q9/Q11.
  *
  * Together with Relational/TpchMore this completes all 22 TPC-H query
  * shapes. Reference capability: the HiveQL SELECT surface deployed by
  * `juju-solutions/layer-apache-hive` (SURVEY.md §2.2-§2.7) — TPC-H is the
  * canonical workload Hive runs; these are the join-heaviest plans in it.
  *
  * Scale notes (100 TB): every dim (nation/region/supplier/part at TPC-H
  * ratios) broadcasts; lineitem is never shuffled except on its join/agg
  * key; the Q21 EXISTS/NOT-EXISTS pair is rewritten as one per-order
  * aggregate + a co-partitioned self-join (both exchanges on l_orderkey)
  * instead of two correlated-subquery passes over the fact table; Q17's
  * correlated average decorrelates into a partial-aggregable groupBy that
  * Catalyst joins back on p_partkey.
  */
object TpchFull extends QueryPack {

  private val discSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  /** TPC-H Q7: volume shipping between two nations, by year. */
  def q7Volume(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
      .filter($"l_shipdate" >= to_timestamp(lit("1996-01-01"))
        && $"l_shipdate" < to_timestamp(lit("1998-01-01")))
    val n1 = Tables.df(spark, sfDir, "nation")
      .select($"n_nationkey".as("sk"), $"n_name".as("supp_nation"))
    val n2 = Tables.df(spark, sfDir, "nation")
      .select($"n_nationkey".as("ck"), $"n_name".as("cust_nation"))
    li.join(broadcast(Tables.df(spark, sfDir, "supplier")),
        $"l_suppkey" === $"s_suppkey")
      .join(Tables.df(spark, sfDir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(Tables.df(spark, sfDir, "customer"), $"o_custkey" === $"c_custkey")
      .join(broadcast(n1), $"s_nationkey" === $"sk")
      .join(broadcast(n2), $"c_nationkey" === $"ck")
      .filter(($"supp_nation" === "NATION_1" && $"cust_nation" === "NATION_2")
        || ($"supp_nation" === "NATION_2" && $"cust_nation" === "NATION_1"))
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").as("l_year"))
      .agg(sum(TpchMore.disc).cast("double").as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  /** TPC-H Q8: national market share within a region for one part type. */
  def q8Share(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.df(spark, sfDir, "orders")
      .filter($"o_orderdate" >= to_timestamp(lit("1996-01-01"))
        && $"o_orderdate" < to_timestamp(lit("1998-01-01")))
    val part = Tables.df(spark, sfDir, "part").filter($"p_type" === "ECONOMY")
    val custNation = Tables.df(spark, sfDir, "nation")
      .join(Tables.df(spark, sfDir, "region"),
        $"n_regionkey" === $"r_regionkey")
      .filter($"r_name" === "ASIA")
      .select($"n_nationkey".as("ck"))
    val suppNation = Tables.df(spark, sfDir, "nation")
      .select($"n_nationkey".as("sk"), $"n_name".as("supp_nation"))
    Tables.df(spark, sfDir, "lineitem")
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
      .join(broadcast(Tables.df(spark, sfDir, "supplier")),
        $"l_suppkey" === $"s_suppkey")
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .join(Tables.df(spark, sfDir, "customer"), $"o_custkey" === $"c_custkey")
      .join(broadcast(custNation), $"c_nationkey" === $"ck")
      .join(broadcast(suppNation), $"s_nationkey" === $"sk")
      .groupBy(year($"o_orderdate").as("l_year"))
      .agg(round(
        sum(when($"supp_nation" === "NATION_2", TpchMore.disc)
          .otherwise(lit(0).cast(dec18_2))).cast("double")
          / sum(TpchMore.disc).cast("double"), 6).as("mkt_share"))
      .orderBy($"l_year")
  }

  /** TPC-H Q9: product-line profit by supplier nation and year
    * (p_retailprice*quantity stands in for the missing supplycost). */
  def q9Profit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.df(spark, sfDir, "part")
      .filter($"p_name".like("%gear%"))
    Tables.df(spark, sfDir, "lineitem")
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
      .join(broadcast(Tables.df(spark, sfDir, "supplier")),
        $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.df(spark, sfDir, "nation")),
        $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name".as("nation"), year($"l_shipdate").as("l_year"))
      .agg(sum(TpchMore.disc - money($"p_retailprice") * money($"l_quantity"))
        .cast("double").as("sum_profit"))
      .orderBy($"nation", $"l_year".desc)
  }

  /** TPC-H Q11: parts representing a significant share of one nation's
    * supply value — aggregate + scalar-subquery threshold. */
  def q11Important(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val natSupp = Tables.df(spark, sfDir, "supplier")
      .join(broadcast(Tables.df(spark, sfDir, "nation")),
        $"s_nationkey" === $"n_nationkey")
      .filter($"n_name" === "NATION_3")
      .select($"s_suppkey")
    val supply = Tables.df(spark, sfDir, "lineitem")
      .join(broadcast(natSupp), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.df(spark, sfDir, "part")),
        $"l_partkey" === $"p_partkey")
      .select($"l_partkey".as("partkey"),
        (money($"l_quantity") * money($"p_retailprice")).as("val"))
    val perPart = supply.groupBy($"partkey")
      .agg(sum($"val").cast("double").as("value"))
    // one-row grand total: broadcast, not collected — the threshold join
    // stays in the plan (same shape a 1000-executor run needs)
    val total = supply.agg((sum($"val").cast("double") * 0.001).as("thresh"))
    perPart.join(broadcast(total))
      .filter($"value" > $"thresh")
      .select($"partkey", $"value")
      .orderBy($"value".desc, $"partkey")
  }

  /** TPC-H Q15: top supplier by quarterly revenue — CTE view + scalar
    * MAX subquery, decimal-exact equality. */
  def q15TopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      s"""WITH revenue AS (
         |  SELECT l_suppkey AS supplier_no, SUM($discSql) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name,
         |  CAST(total_revenue AS DOUBLE) AS total_revenue
         |FROM supplier JOIN revenue ON s_suppkey = supplier_no
         |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
         |ORDER BY s_suppkey""".stripMargin)
  }

  /** TPC-H Q16: supplier diversity per (brand, type, size) — the distinct
    * (part, supplier) pairs of lineitem stand in for partsupp. */
  def q16SupplierCnt(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ps = Tables.df(spark, sfDir, "lineitem")
      .select($"l_partkey", $"l_suppkey").distinct()
    val part = Tables.df(spark, sfDir, "part")
      .filter($"p_brand" =!= "Brand#5" && $"p_type" =!= "PROMO"
        && $"p_size".isin(1, 4, 9, 16, 25, 36, 49))
    ps.join(broadcast(part), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
  }

  /** TPC-H Q17: revenue lost to small-quantity orders — correlated average
    * that Catalyst decorrelates into a per-part aggregate + join. */
  def q17SmallQty(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    AS DOUBLE) / 7.0, 4) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < (
        |    SELECT CAST(0.2 AS DOUBLE)
        |      * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |         / COUNT(*))
        |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)
  }

  /** TPC-H Q20: suppliers who shipped significant volume of a part line in
    * a year — nested IN subqueries that plan as semi-join chains. */
  def q20Excess(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE 'red%'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50)
        |AND s_nationkey IN
        |  (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
        |ORDER BY s_suppkey""".stripMargin)
  }

  /** TPC-H Q21: suppliers who alone held up multi-supplier orders.
    *
    * The classic form is a correlated EXISTS + NOT EXISTS pair over the
    * fact table (the oracle keeps it). Here both collapse into ONE
    * per-order aggregate — `n_supp` distinct suppliers, `n_late_supp`
    * distinct late suppliers — joined back to the late lines on the same
    * l_orderkey partitioning: a line's supplier "alone held up" the order
    * iff n_supp > 1 and n_late_supp = 1 (the late line's own supplier is
    * the one late supplier). Two co-partitioned exchanges total vs two
    * more fact-table passes for the correlated form.
    */
  def q21Waiting(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val liF = Tables.df(spark, sfDir, "lineitem")
      .join(Tables.df(spark, sfDir, "orders")
          .filter($"o_orderstatus" === "F")
          .select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .withColumn("late",
        $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"))
    val stats = liF.groupBy($"l_orderkey".as("ok"))
      .agg(countDistinct($"l_suppkey").as("n_supp"),
        countDistinct(when($"late", $"l_suppkey")).as("n_late_supp"))
    val natSupp = Tables.df(spark, sfDir, "supplier")
      .join(broadcast(Tables.df(spark, sfDir, "nation")),
        $"s_nationkey" === $"n_nationkey")
      .filter($"n_regionkey" === 1)
      .select($"s_suppkey", $"s_name")
    liF.filter($"late")
      .join(stats, $"l_orderkey" === $"ok")
      .filter($"n_supp" > 1 && $"n_late_supp" === 1)
      .join(broadcast(natSupp), $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy($"numwait".desc, $"s_name")
      .limit(100)
  }

  /** TPC-H Q22: positive-balance customers with no completed order, by
    * country (nation key stands in for the phone country code; "never
    * completed an order" replaces the 7-year dormancy window). */
  def q22Opportunity(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT CAST(c_nationkey AS INT) AS cntrycode, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS totacctbal
        |FROM customer
        |WHERE c_nationkey IN (1, 5, 9, 13, 17)
        |  AND c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |      / COUNT(*)
        |    FROM customer
        |    WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 5, 9, 13, 17))
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderstatus = 'F')
        |GROUP BY c_nationkey
        |ORDER BY cntrycode""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q7_volume" -> q7Volume,
    "q8_share" -> q8Share,
    "q9_profit" -> q9Profit,
    "q11_important" -> q11Important,
    "q15_top_supplier" -> q15TopSupplier,
    "q16_supplier_cnt" -> q16SupplierCnt,
    "q17_small_qty" -> q17SmallQty,
    "q20_excess" -> q20Excess,
    "q21_waiting" -> q21Waiting,
    "q22_opportunity" -> q22Opportunity
  )

  val oracle: Map[String, String] = Map(
    "q7_volume" ->
      s"""SELECT supp_nation, cust_nation, l_year,
        |  CAST(SUM(vol) AS DOUBLE) AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |        CAST(year(l_shipdate) AS INT) AS l_year, $discSql AS vol
        |      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN orders ON o_orderkey = l_orderkey
        |      JOIN customer ON c_custkey = o_custkey
        |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') s
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q8_share" ->
      s"""SELECT l_year,
        |  round(CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN vol
        |             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / CAST(SUM(vol) AS DOUBLE), 6) AS mkt_share
        |FROM (SELECT CAST(year(o_orderdate) AS INT) AS l_year,
        |        n2.n_name AS supp_nation, $discSql AS vol
        |      FROM lineitem JOIN part ON p_partkey = l_partkey
        |      JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN orders ON o_orderkey = l_orderkey
        |      JOIN customer ON c_custkey = o_custkey
        |      JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |      JOIN region ON n1.n_regionkey = r_regionkey
        |      JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        |        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') s
        |GROUP BY l_year ORDER BY l_year""".stripMargin,

    "q9_profit" ->
      s"""SELECT nation, l_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
        |FROM (SELECT n_name AS nation,
        |        CAST(year(l_shipdate) AS INT) AS l_year,
        |        $discSql - CAST(p_retailprice AS DECIMAL(18,2))
        |          * CAST(l_quantity AS DECIMAL(18,2)) AS amount
        |      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN part ON p_partkey = l_partkey
        |      JOIN nation ON s_nationkey = n_nationkey
        |      WHERE p_name LIKE '%gear%') s
        |GROUP BY nation, l_year
        |ORDER BY nation, l_year DESC""".stripMargin,

    "q11_important" ->
      """SELECT l_partkey AS partkey, CAST(SUM(val) AS DOUBLE) AS value
        |FROM (SELECT l_partkey, CAST(l_quantity AS DECIMAL(18,2))
        |        * CAST(p_retailprice AS DECIMAL(18,2)) AS val
        |      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN part ON p_partkey = l_partkey
        |      JOIN nation ON s_nationkey = n_nationkey
        |      WHERE n_name = 'NATION_3') s
        |GROUP BY l_partkey
        |HAVING CAST(SUM(val) AS DOUBLE) > (
        |  SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
        |           * CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
        |         * 0.001
        |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3')
        |ORDER BY value DESC, partkey""".stripMargin,

    "q15_top_supplier" ->
      s"""WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no, SUM($discSql) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |  CAST(total_revenue AS DOUBLE) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,

    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q17_small_qty" ->
      """SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    AS DOUBLE) / 7.0, 4) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < (
        |    SELECT CAST(0.2 AS DOUBLE)
        |      * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |         / COUNT(*))
        |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "q20_excess" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE 'red%'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50)
        |AND s_nationkey IN
        |  (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
        |ORDER BY s_suppkey""".stripMargin,

    "q21_waiting" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate
        |                        + INTERVAL 60 DAY)
        |  AND n_regionkey = 1
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,

    "q22_opportunity" ->
      """SELECT CAST(c_nationkey AS INT) AS cntrycode, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS totacctbal
        |FROM customer
        |WHERE c_nationkey IN (1, 5, 9, 13, 17)
        |  AND c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |      / COUNT(*)
        |    FROM customer
        |    WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 5, 9, 13, 17))
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderstatus = 'F')
        |GROUP BY c_nationkey
        |ORDER BY cntrycode""".stripMargin
  )
}
