package graft.queries

import graft.Decimals._
import graft.Tables
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Writer-path operators exercised inside the correctness gate: a dynamic
  * partitioned write, read back through partition pruning, aggregated and
  * hash-checked against the oracle over the ORIGINAL table — proving the
  * write→prune→read path is lossless. */
object SourceOps extends QueryPack {

  def qPartitionedRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tmp = System.getProperty("java.io.tmpdir") + "/graft_part_orders"
    Sources.writePartitioned(
      Tables.df(spark, sfDir, "orders"), tmp, "o_orderstatus")
    Sources.readPartitioned(spark, tmp)
      .filter($"o_orderstatus" === "F") // prunes to the F directory
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(money($"o_totalprice")).cast("double").as("total"))
      .orderBy($"o_orderpriority")
  }

  /** LOAD DATA INPATH round-trip: stage a slice of customer as parquet
    * files, MOVE them into a partitioned table directory (no rewrite),
    * read the table back through partition discovery, aggregate, and
    * hash-check against the oracle over the ORIGINAL table — proving the
    * file-move load path is lossless. */
  def qLoadRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tmp = System.getProperty("java.io.tmpdir")
    val staging = s"$tmp/graft_load_staging"
    val table = s"$tmp/graft_load_table"
    Tables.df(spark, sfDir, "customer")
      .filter($"c_custkey" % 3 === 0)
      .write.mode("overwrite").parquet(staging)
    Sources.loadDataInpath(spark, staging, table,
      partition = Seq("load_batch" -> "b1"), overwrite = true)
    Sources.readPartitioned(spark, table)
      .filter($"load_batch" === "b1") // prunes to the loaded partition
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(money($"c_acctbal")).cast("double").as("total_bal"))
      .orderBy($"c_mktsegment")
  }

  /** MERGE round-trip (copy-on-write ACID): seed a target table from a
    * deterministic orders slice, MERGE a source of updates (doubled price
    * for a key subset) + inserts (shifted new keys), read the rewritten
    * table back and aggregate — hash-checked against a DuckDB twin that
    * computes the merged state with CASE + UNION ALL. Proves the
    * update/insert/keep semantics, not just the plumbing. */
  def qMergeRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tmp = System.getProperty("java.io.tmpdir") + "/graft_merge_orders"
    val orders = Tables.df(spark, sfDir, "orders")
    orders.filter($"o_orderkey" % 11 === 0)
      .write.mode("overwrite").parquet(tmp)
    // updates hit a subset of target keys (33 = 3·11); inserts are shifted
    // outside the key space so they can never collide
    val updates = orders.filter($"o_orderkey" % 33 === 0)
      .withColumn("o_totalprice", $"o_totalprice" * 2)
    val inserts = orders.filter($"o_orderkey" % 11 === 5)
      .withColumn("o_orderkey", $"o_orderkey" + 1000000000L)
    graft.sources.Acid.mergeInto(spark, tmp,
      updates.unionByName(inserts), Seq("o_orderkey"))
    spark.read.parquet(tmp)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(money($"o_totalprice")).cast("double").as("total"))
      .orderBy($"o_orderstatus")
  }

  /** Morton (Z-order) interleave of two `bits`-bit keys as pure integer
    * arithmetic — ((x div 2^i) % 2) placed at even bit positions, y's bits
    * at odd — so the identical expression runs in Spark and DuckDB with
    * no engine bit intrinsics. */
  private def zExpr(x: String, y: String, bits: Int): String =
    (0 until bits).map { i =>
      val p = 1L << i
      s"(($x div $p) % 2) * ${1L << (2 * i)}" +
        s" + (($y div $p) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  // ---- q_zorder_layout ---------------------------------------------------
  /** Multi-column clustering quality of a Z-order layout — the OPTIMIZE
    * ZORDER BY primitive of lakehouse table maintenance, computed
    * relationally: interleave the bits of (l_orderkey mod 1024,
    * l_suppkey mod 1024) into a 20-bit Morton key, tile the key space
    * into 64 equal Z-ranges (the files a z-sorted writer would cut), and
    * report each tile's row count and the min-max SPAN of both original
    * keys. On a Z-curve every 2^14-cell tile is a 128×128 block, so both
    * spans stay ≤ 127 — the property that makes per-file min/max skip
    * pruning work on BOTH columns, where a single-column sort bounds one
    * span and leaves the other at the full domain (the spec measures
    * exactly that contrast). Everything is exact integer arithmetic:
    * map-side key projection, one 64-key aggregation, no window. The
    * write path is `repartitionByRange(z).sortWithinPartitions(z)` with
    * this report as its audit. */
  def qZorderLayout(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "lineitem")
      .select(($"l_orderkey" % 1024).cast("long").as("x"),
        ($"l_suppkey" % 1024).cast("long").as("y"))
      .withColumn("z", expr(zExpr("x", "y", 10)))
      .withColumn("tile", expr("z div 16384"))
      .groupBy($"tile")
      .agg(count(lit(1)).as("n"),
        (max($"x") - min($"x")).as("x_span"),
        (max($"y") - min($"y")).as("y_span"))
      .orderBy($"tile")
  }

  // ---- q_compaction_plan ---------------------------------------------------
  /** Small-files compaction plan — the table-maintenance pass every
    * lakehouse schedules (Delta OPTIMIZE / Iceberg rewrite_data_files
    * shape): treating each document as a file of `n_chars` bytes inside
    * its source partition, pack doc_id-ordered files greedily into
    * 16 KiB target bins (bin = prior-bytes div target — the one-pass
    * streaming form of first-fit; a bin can overflow by one trailing
    * file, stated) and report, per source, the merge factor
    * (files-per-bin), the mean bin fill, and how many files were
    * sub-25%-of-target stragglers. The LAYOUT planning twin of
    * [[qZorderLayout]]'s ordering read and GovernOps' q_reshard_plan's
    * partition-count read. Scale shape: one cumulative-sum window per
    * source partition (the scan order a compactor already has), then
    * bin-grain and source-grain aggregates; all counts exact integers,
    * each ratio divides once. */
  def qCompactionPlan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val target = 16384L
    val wSrc = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val files = Tables.df(spark, sfDir, "documents")
      .select($"source", $"doc_id", $"n_chars".as("bytes"))
      .withColumn("prior", coalesce(sum($"bytes").over(wSrc), lit(0L)))
      .withColumn("bin", expr("prior div 16384")) // exact integer div
    val bins = files.groupBy($"source", $"bin")
      .agg(count(lit(1)).as("n_files"), sum($"bytes").as("bin_bytes"))
    bins.groupBy($"source")
      .agg(sum($"n_files").as("n_files"), count(lit(1)).as("n_bins"),
        sum($"bin_bytes").as("total_bytes"),
        sum(when($"bin_bytes" < target / 4, 1L).otherwise(0L))
          .as("straggler_bins"))
      .select($"source", $"n_files", $"n_bins", $"total_bytes",
        round($"n_files".cast("double") / $"n_bins", 6)
          .as("merge_factor"),
        round($"total_bytes".cast("double")
          / ($"n_bins" * lit(target)), 6).as("mean_fill"),
        $"straggler_bins")
      .orderBy($"source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_zorder_layout" -> qZorderLayout,
    "q_partitioned_roundtrip" -> qPartitionedRoundtrip,
    "q_load_roundtrip" -> qLoadRoundtrip,
    "q_merge_roundtrip" -> qMergeRoundtrip,
    "q_compaction_plan" -> qCompactionPlan
  )

  val oracle: Map[String, String] = Map(
    // same prior-bytes streaming bin assignment, exact integer bin
    // stats, each ratio divides once
    "q_compaction_plan" ->
      """WITH files AS (
        |  SELECT source, doc_id, n_chars AS bytes,
        |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY source
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      // 16384 AS BIGINT) AS bin
        |  FROM documents),
        |bins AS (
        |  SELECT source, bin, count(*) AS n_files,
        |    CAST(sum(bytes) AS BIGINT) AS bin_bytes
        |  FROM files GROUP BY 1, 2)
        |SELECT source, CAST(sum(n_files) AS BIGINT) AS n_files,
        |  count(*) AS n_bins,
        |  CAST(sum(bin_bytes) AS BIGINT) AS total_bytes,
        |  round(CAST(sum(n_files) AS DOUBLE) / count(*), 6)
        |    AS merge_factor,
        |  round(CAST(sum(bin_bytes) AS DOUBLE) / (count(*) * 16384), 6)
        |    AS mean_fill,
        |  CAST(sum(CASE WHEN bin_bytes < 4096 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS straggler_bins
        |FROM bins GROUP BY source ORDER BY source""".stripMargin,

    // the identical arithmetic Morton interleave (// for div) and tiling
    "q_zorder_layout" ->
      s"""WITH k AS (
        |  SELECT l_orderkey % 1024 AS x, l_suppkey % 1024 AS y
        |  FROM lineitem),
        |z AS (
        |  SELECT x, y, ${zExpr("x", "y", 10).replace(" div ", " // ")} AS z
        |  FROM k)
        |SELECT z // 16384 AS tile, count(*) AS n,
        |  max(x) - min(x) AS x_span, max(y) - min(y) AS y_span
        |FROM z GROUP BY 1
        |ORDER BY tile""".stripMargin,

    "q_partitioned_roundtrip" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_load_roundtrip" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer WHERE c_custkey % 3 = 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_merge_roundtrip" ->
      """WITH merged AS (
        |  SELECT t.o_orderstatus,
        |    CASE WHEN u.o_orderkey IS NOT NULL
        |         THEN u.o_totalprice * 2 ELSE t.o_totalprice END AS price
        |  FROM (SELECT * FROM orders WHERE o_orderkey % 11 = 0) t
        |  LEFT JOIN (SELECT o_orderkey, o_totalprice FROM orders
        |             WHERE o_orderkey % 33 = 0) u USING (o_orderkey)
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice AS price
        |  FROM orders WHERE o_orderkey % 11 = 5)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  )
}
