package graft.sources

import org.apache.spark.sql.SparkSession

/** Cross-JVM ANN index persistence probe (r18) — [[MetastoreProbe]]'s
  * discipline applied to the vector-serving story: JVM #1 builds the
  * bucketed SRP index tables through a derby-backed Hive catalog and
  * EXITS (everything in-memory dies with it); JVM #2 opens the SAME
  * metastore cold and serves the %100 query decile's radius search
  * purely from the catalog — name → bucket spec → data files — writing
  * the result to parquet for AnnServedSpec to compare row-for-row
  * against the in-plan [[graft.queries.VectorQueries.qAnnLsh]]. This is
  * the restart invariant a production vector service must hold: the
  * answer depends on the persisted index + the query, never on state
  * the build process held in memory.
  *
  * Run as `AnnIndexProbe build <dir> <sfDir>` then
  * `AnnIndexProbe serve <dir> <sfDir>` in SEPARATE JVMs. */
object AnnIndexProbe {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: AnnIndexProbe build|serve <dir> <sfDir>")
    val (mode, dir, sfDir) = (args(0), args(1), args(2))
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"ann-index-probe-$mode")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$dir/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      mode match {
        case "build" =>
          graft.queries.SrpIndex.write(
            graft.queries.ServeOps.annCorpus(spark, sfDir), "graft_ann_cold")
          val n = spark.table("graft_ann_cold_postings").count()
          println(s"PROBE_OK build $n")
        case "serve" =>
          import spark.implicits._
          require(spark.catalog.tableExists("graft_ann_cold_postings"),
            "postings table not found in reopened metastore")
          val queries = graft.Tables.df(spark, sfDir, "embeddings")
            .filter($"vec_id" % 100 === 0)
            .select($"vec_id".as("qid"), $"embedding".as("qv"))
          val served = graft.queries.ServeOps.annRadius(queries,
            graft.queries.SrpIndex.stored(spark, "graft_ann_cold"))
          served.coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/served")
          println(s"PROBE_OK serve ${spark.read.parquet(s"$dir/served").count()}")
        // the same restart invariant for the MEDIA-tower index (r19):
        // build JVM writes the cross-modal postings/vectors tables and
        // dies; serve JVM reopens the catalog cold and must reproduce
        // the in-plan q_xmodal_retrieval_ann report exactly
        case "xbuild" =>
          graft.queries.SrpIndex.write(
            graft.queries.XModalOps.mediaCorpus(spark, sfDir),
            "graft_xm_cold", "doc_id", "mv")
          val n = spark.table("graft_xm_cold_postings").count()
          println(s"PROBE_OK xbuild $n")
        case "xserve" =>
          import spark.implicits._
          require(spark.catalog.tableExists("graft_xm_cold_postings"),
            "media postings table not found in reopened metastore")
          val docsrc = graft.Tables.df(spark, sfDir, "documents")
            .select($"doc_id", $"source")
          val q = graft.queries.XModalOps.retrievalQueries(spark, sfDir)
            .localCheckpoint()
          val served = graft.queries.XModalOps.xmodalRetrieve(q,
            graft.queries.SrpIndex.stored(spark, "graft_xm_cold"), docsrc)
          served.coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/xserved")
          println(
            s"PROBE_OK xserve ${spark.read.parquet(s"$dir/xserved").count()}")
        // the same restart invariant for the TOKENIZER artifact (r20):
        // build JVM trains the BPE vocab, persists the (tok, n_syms)
        // read model, and dies; serve JVM reopens the catalog cold and
        // must reproduce the per-source fertility report exactly — the
        // "tokenize fleet loads the table" claim made checkable
        case "tbuild" =>
          import spark.implicits._
          import org.apache.spark.sql.functions.{count, lit}
          val (_, finalState, _) = graft.queries.Corpus2Ops
            .bpeTrainRoundsOf(graft.Tables.df(spark, sfDir, "documents"))
          graft.sources.Sources.writeBucketed(
            finalState.groupBy($"tok").agg(count(lit(1)).as("n_syms")),
            "graft_bpe_cold_vocab", 4, "tok")
          val n = spark.table("graft_bpe_cold_vocab").count()
          println(s"PROBE_OK tbuild $n")
        case "tserve" =>
          require(spark.catalog.tableExists("graft_bpe_cold_vocab"),
            "vocab table not found in reopened metastore")
          val report = graft.queries.Corpus2Ops.bpeApplyReport(spark,
            sfDir, spark.table("graft_bpe_cold_vocab"))
          report.coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/tserved")
          println(
            s"PROBE_OK tserve ${spark.read.parquet(s"$dir/tserved").count()}")
        case other =>
          throw new IllegalArgumentException(s"unknown mode $other")
      }
    } finally spark.stop()
  }
}
