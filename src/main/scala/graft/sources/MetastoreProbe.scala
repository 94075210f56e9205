package graft.sources

/** Cross-JVM metastore persistence probe — the deployed engine's defining
  * catalog capability (an external metastore that survives service
  * restarts; reference locus: the charm's `configure_hive` wiring an
  * external MySQL metastore) in miniature: JVM #1 registers a table
  * through a Hive-backed catalog (derby `metastore_db` + warehouse dir)
  * and exits, tearing down every in-memory catalog structure with the
  * process; JVM #2 opens the SAME metastore cold and must resolve the
  * table through the catalog — name → schema → partitions → data — not
  * through a path read. Derby stands in for MySQL exactly as it does in a
  * default Hive install: same metastore schema, same thrift-free embedded
  * access, swappable by connection URL alone.
  *
  * Run as `MetastoreProbe write <dir>` then `MetastoreProbe read <dir>` in
  * SEPARATE JVMs (SourcesSpec spawns both and asserts on the printed
  * `PROBE_OK` lines). The written table is partitioned so the read side
  * also proves partition metadata survived, and the read side issues an
  * aggregate through the catalog name to prove the data files resolve. */
object MetastoreProbe {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MetastoreProbe write|read <dir>")
    val mode = args(0)
    val dir = args(1)
    val spark = graft.Envelope.builder(cpus = 2)
      .appName(s"metastore-probe-$mode")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      // embedded derby at a caller-owned path: the metastore CONTENT lives
      // on disk here, so a cold JVM sees exactly what a restarted service
      // would; `create=true` is a no-op on the second open
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$dir/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    try {
      mode match {
        case "write" =>
          spark.sql("DROP TABLE IF EXISTS graft_persist")
          spark.range(0, 100)
            .selectExpr("id", "id * 2 AS v", "CAST(id % 4 AS INT) AS part")
            .write.mode("overwrite").partitionBy("part")
            .saveAsTable("graft_persist")
          println(s"PROBE_OK write ${spark.table("graft_persist").count()}")
        case "read" =>
          require(spark.catalog.tableExists("graft_persist"),
            "table not found in reopened metastore")
          val n = spark.table("graft_persist").count()
          val parts = spark.sql("SHOW PARTITIONS graft_persist").count()
          val sum = spark
            .sql("SELECT CAST(SUM(v) AS BIGINT) AS s FROM graft_persist")
            .head().getLong(0)
          println(s"PROBE_OK read $n $parts $sum")
        case other =>
          throw new IllegalArgumentException(s"unknown mode $other")
      }
    } finally spark.stop()
  }
}
