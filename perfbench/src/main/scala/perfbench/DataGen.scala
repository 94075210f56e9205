package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic fixtures with the schema the query packs read
  * (the TPC-H-ish star, `events`, `documents`, `embeddings`), one parquet
  * file per table under `<root>/sf<sf>/<table>.parquet`.
  *
  * Every value is a pure function of the row key and a fixed salt through
  * Spark built-ins (`xxhash64`), so the bytes do not depend on the seed of
  * a run, on partitioning, or on any code of the program under test. The
  * run seed only orders operations and picks DML keys; keeping the tables
  * fixed is what lets one committed digest per query check every run.
  */
object DataGen {
  /** Bumped whenever a generated value changes, so stale caches rebuild. */
  val version = 1

  private def h(salt: Int, keys: Column*): Column =
    xxhash64((keys :+ lit(salt)): _*)

  /** Uniform long in [0, n). */
  private def ui(n: Long, salt: Int, keys: Column*): Column =
    pmod(h(salt, keys: _*), lit(n))

  /** Uniform double in [0, 1). */
  private def uf(salt: Int, keys: Column*): Column =
    pmod(h(salt, keys: _*), lit(1L << 53)).cast("double") / lit((1L << 53).toDouble)

  private def pick(values: Seq[String], salt: Int, keys: Column*): Column =
    element_at(array(values.map(lit): _*), (ui(values.size.toLong, salt, keys: _*) + 1).cast("int"))

  private val vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  def dir(root: String, sf: String): String = s"$root/sf$sf"

  private def marker(root: String, sf: String) = new File(dir(root, sf), s"_COMPLETE_v$version")

  /** True once a complete set of tables of this version exists for `sf`. */
  def complete(root: String, sf: String): Boolean = marker(root, sf).exists()

  def write(spark: SparkSession, root: String, sf: String): Unit = {
    tables(spark, sf.toDouble).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"${dir(root, sf)}/$name.parquet")
    }
    marker(root, sf).createNewFile(): Unit
  }

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    def n(base: Double, min: Long = 1L): Long = math.max(min, math.round(base * sf))
    val nSupp = n(10000); val nCust = n(150000); val nPart = n(200000)
    val nOrd = n(1500000); val nEvents = n(1000000)
    val nUsers = n(15000); val nDocs = n(50000, 500); val nVecs = n(20000, 500)
    def keys(count: Long, name: String) = spark.range(count).select(col("id").as(name))

    val region = spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
    val nation = spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5L)).cast("int").as("n_regionkey"))
    val money = (lo: Double, span: Double, salt: Int, k: Column) =>
      round(lit(lo) + uf(salt, k) * lit(span), 2)
    val customer = keys(nCust, "c_custkey").select(col("c_custkey"),
      format_string("Customer#%09d", col("c_custkey")).as("c_name"),
      ui(25, 1, col("c_custkey")).cast("int").as("c_nationkey"),
      money(-999.99, 10999.98, 2, col("c_custkey")).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 3,
        col("c_custkey")).as("c_mktsegment"))
    val supplier = keys(nSupp, "s_suppkey").select(col("s_suppkey"),
      format_string("Supplier#%09d", col("s_suppkey")).as("s_name"),
      ui(25, 4, col("s_suppkey")).cast("int").as("s_nationkey"),
      money(-999.99, 10999.98, 5, col("s_suppkey")).as("s_acctbal"))
    val part = keys(nPart, "p_partkey").select(col("p_partkey"),
      concat_ws(" ",
        pick(Seq("blue", "old", "small", "new", "red", "hot", "large", "cold"), 6, col("p_partkey")),
        pick(Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"), 7,
          col("p_partkey"))).as("p_name"),
      concat(lit("Brand#"), ui(25, 8, col("p_partkey")) + 1).as("p_brand"),
      pick(Seq("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"), 9,
        col("p_partkey")).as("p_type"),
      (ui(50, 10, col("p_partkey")) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("p_partkey"), lit(1000L)).cast("double") / 10).as("p_retailprice"))
    // 1995-01-01 .. 2001-08-01
    val orderDays = 2404L
    val orders = keys(nOrd, "o_orderkey").select(col("o_orderkey"),
      ui(nCust, 11, col("o_orderkey")).as("o_custkey"),
      pick(Seq("F", "O", "P"), 12, col("o_orderkey")).as("o_orderstatus"),
      money(1000.0, 499000.0, 13, col("o_orderkey")).as("o_totalprice"),
      date_add(lit("1995-01-01").cast("date"), ui(orderDays, 14, col("o_orderkey")).cast("int"))
        .cast("timestamp_ntz").as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 15,
        col("o_orderkey")).as("o_orderpriority"))
    val lineitem = orders.select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), (ui(7, 16, col("o_orderkey")) + 1).cast("int"))).as("l_linenumber"))
      .withColumn("l_quantity", (ui(50, 17, col("l_orderkey"), col("l_linenumber")) + 1).cast("double"))
      .select(col("l_orderkey"),
        ui(nPart, 18, col("l_orderkey"), col("l_linenumber")).as("l_partkey"),
        ui(nSupp, 19, col("l_orderkey"), col("l_linenumber")).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"),
        round(col("l_quantity") * (lit(900.0) +
          uf(20, col("l_orderkey"), col("l_linenumber")) * 1200.0), 2).as("l_extendedprice"),
        (ui(11, 21, col("l_orderkey"), col("l_linenumber")).cast("double") / 100).as("l_discount"),
        (ui(9, 22, col("l_orderkey"), col("l_linenumber")).cast("double") / 100).as("l_tax"),
        pick(Seq("N", "A", "R"), 23, col("l_orderkey"), col("l_linenumber")).as("l_returnflag"),
        pick(Seq("O", "F"), 24, col("l_orderkey"), col("l_linenumber")).as("l_linestatus"),
        (col("o_orderdate") + make_dt_interval(
          (ui(95, 25, col("l_orderkey"), col("l_linenumber")) + 1).cast("int"))).as("l_shipdate"))
    // 30 days of events, in event_id order, with sub-second timestamps
    val spanUs = 30L * 86400L * 1000000L
    val events = keys(nEvents, "event_id").select(col("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("event_id") * (spanUs / nEvents) +
        ui(spanUs / nEvents, 26, col("event_id"))).cast("timestamp_ntz").as("ts"),
      ui(nUsers, 27, col("event_id")).as("user_id"),
      pick(Seq("error", "signup", "purchase", "view", "click"), 28, col("event_id")).as("event_type"),
      round(lit(0.01) + uf(29, col("event_id")) * 490.0, 2).as("value"),
      format_string("{\"k\": %d}", ui(100, 30, col("event_id"))).as("props"))
    // pseudo-English token soup; 5% of documents are an earlier document
    // plus the token "dup", so near-duplicate detection has real pairs
    val base = keys(nDocs, "doc_id").select(col("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), (ui(91, 31, col("doc_id")) + 10).cast("int")),
        i => element_at(array(vocab.map(lit): _*),
          (ui(vocab.size.toLong, 32, col("doc_id"), i) + 1).cast("int")))).as("body"))
    val isDup = col("doc_id") > 0 && ui(20, 33, col("doc_id")) === 0
    val withSrc = base.withColumn("src",
      when(isDup, pmod(h(34, col("doc_id")), col("doc_id"))))
    val documents = withSrc.as("d")
      .join(base.as("s"), col("d.src") === col("s.doc_id"), "left")
      .select(col("d.doc_id"),
        when(col("d.src").isNotNull, concat(col("s.body"), lit(" dup")))
          .otherwise(col("d.body")).as("text"))
      .select(col("doc_id"), col("text"),
        pick(Seq("en", "en", "zh", "de", "es", "fr"), 35, col("doc_id")).as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20L))).as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")
    // unit vectors with Box-Muller normal components: near-isotropic in 64-d
    val gauss = sequence(lit(0), lit(63))
    val raw = keys(nVecs, "vec_id").select(col("vec_id"),
      transform(gauss, i => sqrt(lit(-2.0) * ln(lit(1.0) - uf(36, col("vec_id"), i))) *
        cos(lit(2 * math.Pi) * uf(37, col("vec_id"), i))).as("v"),
      ui(10, 38, col("vec_id")).cast("int").as("label"))
    val embeddings = raw.select(col("vec_id"),
      transform(col("v"), x => (x / sqrt(aggregate(col("v"), lit(0.0), (acc, y) => acc + y * y)))
        .cast("float")).as("embedding"),
      col("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }
}
