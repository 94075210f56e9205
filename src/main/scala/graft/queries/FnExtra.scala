package graft.queries

import graft.Decimals._
import graft.Tables
import graft.operators.RangeJoin
import graft.plans.{AsOfJoinPlan, AsOfJoinStrategy}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second-tier function coverage (substring_index / find_in_set / overlay /
  * bit ops / trig), the bucketed interval join, and the NATIVE as-of join
  * exec run inside the correctness gate. */
object FnExtra extends QueryPack {

  def qFnExtra(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "part")
      .filter($"p_partkey" % 25 === 0)
      .select(
        $"p_partkey",
        substring_index($"p_name", "#", 1).as("name_head"),
        locate("#", $"p_name").as("hash_pos"),
        find_in_set($"p_type",
          lit("ECONOMY,LARGE,MEDIUM,PROMO,SMALL,STANDARD")).as("type_idx"),
        concat($"p_brand", lit(" "), $"p_type").as("brand_type"),
        overlay($"p_name", lit("XX"), lit(2)).as("ov"),
        ($"p_size" bitwiseAND 12).as("band"),
        ($"p_size" bitwiseOR 3).as("bor"),
        ($"p_size" bitwiseXOR 21).as("bxor"),
        bitwise_not($"p_size").as("bnot"),
        round(cos($"p_size" / lit(10.0)), 6).as("cs"),
        round(tan($"p_size" / lit(50.0)), 6).as("tn"),
        round(asin(($"p_size" % 10) / lit(10.0)), 6).as("as_"),
        round(acos(($"p_size" % 10) / lit(10.0)), 6).as("ac"),
        chr(lit(65) + $"p_size" % 26).as("ch"),
        round(lit(math.E), 6).as("e_"),
        round(lit(math.Pi), 6).as("pi_"),
        decode(encode($"p_name", "UTF-8"), "UTF-8").as("codec_rt"))
      .orderBy($"p_partkey")
  }

  /** Third-tier function coverage: formatting, hex/base64 codec
    * round-trips, fixed-offset timezone shift, map accessors, radians. */
  def qFnExtra2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "customer")
      .filter($"c_custkey" % 30 === 0)
      .select(
        $"c_custkey",
        // integer input: thousands separators without rounding-mode drift
        format_number($"c_custkey" * lit(1234567L), 0).as("fmt"),
        decode(unhex(hex($"c_name")), "UTF-8").as("hex_rt"),
        decode(unbase64(base64(encode($"c_name", "UTF-8"))), "UTF-8")
          .as("b64_rt"),
        round(radians($"c_custkey" % 360), 6).as("rad"),
        array_join(map_keys(
          map(lit("seg"), $"c_mktsegment",
            lit("key"), $"c_custkey".cast("string"))), ",").as("mkeys"),
        array_join(map_values(
          map(lit("seg"), $"c_mktsegment",
            lit("key"), $"c_custkey".cast("string"))), ",").as("mvals"))
      .orderBy($"c_custkey")
  }

  /** from_utc_timestamp with a fixed offset (pure +5:30 shift — the
    * deterministic slice of timezone semantics both engines agree on). */
  def qTzShift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "orders")
      .filter($"o_orderkey" % 100 === 0)
      .select($"o_orderkey",
        date_format(
          from_utc_timestamp($"o_orderdate".cast("timestamp"), "GMT+05:30"),
          "yyyy-MM-dd HH:mm:ss").as("ist_time"))
      .orderBy($"o_orderkey")
  }

  /** Bucketed interval join: purchases falling inside 30-minute windows
    * opened by error events (oracle: plain theta join — fine at sf0.01,
    * the bucketed form is the one that scales). */
  def qRangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.df(spark, sfDir, "events")
    val incidents = events.filter($"event_type" === "error")
      .select($"event_id".as("incident_id"), $"ts".as("start_ts"),
        ($"ts" + expr("INTERVAL 30 MINUTES")).as("end_ts"))
    val purchases = events.filter($"event_type" === "purchase")
      .select($"ts", $"value")
    RangeJoin.bucketedRangeJoin(purchases, "ts", incidents,
      "start_ts", "end_ts", bucketSecs = 900L)
      .groupBy($"incident_id")
      .agg(count(lit(1)).as("n_purchases"),
        sum(money($"value")).cast("double").as("sum_value"))
      .orderBy($"incident_id")
  }

  /** The native AsOfJoinExec inside the correctness gate (same oracle as
    * the compose-based q_asof_join: DuckDB ASOF LEFT JOIN). */
  def qAsofNative(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    }
    val events = Tables.df(spark, sfDir, "events")
    val purchases = events.filter($"event_type" === "purchase")
    val signups = events.filter($"event_type" === "signup")
      .select($"user_id", $"ts", $"value")
    AsOfJoinPlan.asOfJoinNative(purchases, signups, "user_id", "ts",
      Seq("value"))
      .select($"event_id", $"user_id", $"value", $"prior_value")
      .orderBy($"event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fn_extra" -> qFnExtra,
    "q_fn_extra2" -> qFnExtra2,
    "q_tz_shift" -> qTzShift,
    "q_range_join" -> qRangeJoin,
    "q_asof_native" -> qAsofNative
  )

  val oracle: Map[String, String] = Map(
    "q_fn_extra" ->
      """SELECT p_partkey,
        |  split_part(p_name, '#', 1) AS name_head,
        |  CAST(strpos(p_name, '#') AS INT) AS hash_pos,
        |  CAST(COALESCE(list_position(
        |    string_split('ECONOMY,LARGE,MEDIUM,PROMO,SMALL,STANDARD', ','),
        |    p_type), 0) AS INT) AS type_idx,
        |  p_brand || ' ' || p_type AS brand_type,
        |  substr(p_name, 1, 1) || 'XX' || substr(p_name, 4) AS ov,
        |  p_size & 12 AS band,
        |  p_size | 3 AS bor,
        |  xor(p_size, 21) AS bxor,
        |  ~p_size AS bnot,
        |  round(cos(p_size / 10.0), 6) AS cs,
        |  round(tan(p_size / 50.0), 6) AS tn,
        |  round(asin((p_size % 10) / 10.0), 6) AS as_,
        |  round(acos((p_size % 10) / 10.0), 6) AS ac,
        |  chr(65 + p_size % 26) AS ch,
        |  round(exp(1.0), 6) AS e_,
        |  round(pi(), 6) AS pi_,
        |  p_name AS codec_rt
        |FROM part WHERE p_partkey % 25 = 0
        |ORDER BY p_partkey""".stripMargin,

    "q_fn_extra2" ->
      """SELECT c_custkey,
        |  format('{:,}', c_custkey * 1234567) AS fmt,
        |  decode(unhex(hex(encode(c_name)))) AS hex_rt,
        |  decode(from_base64(to_base64(encode(c_name)))) AS b64_rt,
        |  round(radians(c_custkey % 360), 6) AS rad,
        |  'seg,key' AS mkeys,
        |  c_mktsegment || ',' || CAST(c_custkey AS VARCHAR) AS mvals
        |FROM customer WHERE c_custkey % 30 = 0
        |ORDER BY c_custkey""".stripMargin,

    "q_tz_shift" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate + INTERVAL '5 hours 30 minutes',
        |    '%Y-%m-%d %H:%M:%S') AS ist_time
        |FROM orders WHERE o_orderkey % 100 = 0
        |ORDER BY o_orderkey""".stripMargin,

    "q_range_join" ->
      """SELECT i.event_id AS incident_id, COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT event_id, ts, ts + INTERVAL 30 MINUTE AS end_ts
        |      FROM events WHERE event_type = 'error') i
        |JOIN (SELECT ts, value FROM events WHERE event_type = 'purchase') p
        |  ON p.ts >= i.ts AND p.ts < i.end_ts
        |GROUP BY i.event_id
        |ORDER BY i.event_id""".stripMargin,

    "q_asof_native" ->
      """SELECT e.event_id, e.user_id, e.value, p.value AS prior_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') p
        |  ON e.user_id = p.user_id AND e.ts > p.ts
        |ORDER BY e.event_id""".stripMargin
  )
}
