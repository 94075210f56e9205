package graft.queries

import graft.Decimals._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window functions — Hive 0.11+'s PTF framework (PTFOperator +
  * WindowingTableFunction): ranking, analytic lead/lag/first/last,
  * aggregates over ROWS/RANGE frames.
  *
  * Determinism contract: every window whose function is order-sensitive
  * (row_number, lead/lag, running sums, ntile) is ordered by a UNIQUE key
  * tuple; rank/dense_rank/percent_rank/cume_dist may use non-unique order
  * (ties get equal rank — deterministic by definition). Output always ends
  * in a global ORDER BY over a unique key.
  *
  * Scale note: all windows are partitioned (`partitionBy`) — an
  * unpartitioned ordered window would serialize 100 TB through one task,
  * the same single-reducer bottleneck Hive's global ORDER BY has. The
  * fixture's per-key cardinalities keep each partition in memory.
  */
object Windows extends QueryPack {

  /** Ranking family. Sampled to l_orderkey % 100 == 0 to keep the verify
    * output compact while still crossing partitions. */
  def qWinRank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // rank functions tolerate ties (equal rank); row_number/ntile need the
    // fully unique ordering
    val byQty = Window.partitionBy($"l_returnflag").orderBy($"l_quantity".desc)
    val unique = Window.partitionBy($"l_returnflag")
      .orderBy($"l_quantity".desc, $"l_orderkey", $"l_linenumber")
    Tables.df(spark, sfDir, "lineitem")
      .filter($"l_orderkey" % 100 === 0)
      .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"l_quantity")
      .withColumn("rn", row_number().over(unique))
      .withColumn("rk", rank().over(byQty))
      .withColumn("drk", dense_rank().over(byQty))
      .withColumn("prk", round(percent_rank().over(byQty), 6))
      .withColumn("cd", round(cume_dist().over(byQty), 6))
      .withColumn("nt", ntile(4).over(unique))
      // the fixture contains fully-duplicate rows, so (orderkey, linenumber)
      // alone is not unique — rn breaks the remaining tie deterministically
      .orderBy($"l_returnflag", $"l_orderkey", $"l_linenumber", $"rn")
  }

  /** Analytic family over per-customer order history. */
  def qWinAnalytic(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.df(spark, sfDir, "orders")
      .filter($"o_custkey" % 10 === 0)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice")
      .withColumn("prev_price", lag($"o_totalprice", 1).over(w))
      .withColumn("next_price", lead($"o_totalprice", 1).over(w))
      .withColumn("prev2_price", lag($"o_totalprice", 2, -1.0).over(w))
      .withColumn("first_price", first($"o_totalprice").over(full))
      .withColumn("last_price", last($"o_totalprice").over(full))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** ROWS frames: running total + moving 4-row sum per supplier. Sums are
    * decimal-internal so frame accumulation order can't drift the hash.
    *
    * lineitem has NO unique key (duplicate (orderkey, linenumber) rows with
    * differing payloads — fixture property), so the window order includes
    * the value columns too: rows that still tie are fully identical, which
    * makes the running sums order-independent; the final sort appends
    * running_qty to disambiguate those identical rows' outputs. */
  def qWinFrame(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber",
        $"l_quantity", $"l_extendedprice")
    Tables.df(spark, sfDir, "lineitem")
      .filter($"l_suppkey" <= 5)
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"l_shipdate",
        $"l_quantity", $"l_extendedprice")
      .withColumn("running_qty",
        sum(money($"l_quantity")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).cast("double"))
      .withColumn("moving4_qty",
        sum(money($"l_quantity")).over(w.rowsBetween(-3, Window.currentRow))
          .cast("double"))
      .orderBy($"l_suppkey", $"l_shipdate", $"l_orderkey", $"l_linenumber",
        $"l_quantity", $"l_extendedprice", $"running_qty")
  }

  /** RANGE frame over a numeric ordering column: per-status count of orders
    * within 1000 of each order's price (peers included — deterministic
    * under ties by definition of RANGE). */
  def qWinRange(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderstatus").orderBy($"o_totalprice")
      .rangeBetween(-1000, 0)
    Tables.df(spark, sfDir, "orders")
      .filter($"o_orderkey" % 20 === 0)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .withColumn("n_within_1000_below", count(lit(1)).over(w))
      .orderBy($"o_orderkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_win_rank" -> qWinRank,
    "q_win_analytic" -> qWinAnalytic,
    "q_win_frame" -> qWinFrame,
    "q_win_range" -> qWinRange
  )

  val oracle: Map[String, String] = Map(
    "q_win_rank" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
        |  CAST(row_number() OVER u AS INT) AS rn,
        |  CAST(rank() OVER q AS INT) AS rk,
        |  CAST(dense_rank() OVER q AS INT) AS drk,
        |  round(percent_rank() OVER q, 6) AS prk,
        |  round(cume_dist() OVER q, 6) AS cd,
        |  CAST(ntile(4) OVER u AS INT) AS nt
        |FROM lineitem WHERE l_orderkey % 100 = 0
        |WINDOW
        |  q AS (PARTITION BY l_returnflag ORDER BY l_quantity DESC),
        |  u AS (PARTITION BY l_returnflag
        |        ORDER BY l_quantity DESC, l_orderkey, l_linenumber)
        |ORDER BY l_returnflag, l_orderkey, l_linenumber, rn""".stripMargin,

    "q_win_analytic" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  lag(o_totalprice, 2, -1.0) OVER w AS prev2_price,
        |  first_value(o_totalprice) OVER wf AS first_price,
        |  last_value(o_totalprice) OVER wf AS last_price
        |FROM orders WHERE o_custkey % 10 = 0
        |WINDOW
        |  w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_win_frame" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_quantity,
        |  l_extendedprice,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER
        |    (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey,
        |       l_linenumber, l_quantity, l_extendedprice
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_qty,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER
        |    (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey,
        |       l_linenumber, l_quantity, l_extendedprice
        |     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS moving4_qty
        |FROM lineitem WHERE l_suppkey <= 5
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber,
        |  l_quantity, l_extendedprice, running_qty""".stripMargin,

    "q_win_range" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
        |    RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
        |    AS n_within_1000_below
        |FROM orders WHERE o_orderkey % 20 = 0
        |ORDER BY o_orderkey""".stripMargin
  )
}
