package graft

import graft.queries.{ServeOps, SrpIndex, VectorQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted ANN index serving contracts (VERDICT r17 #1):
  *
  *  1. COLD serving — the index built by one JVM answers queries in a
  *     fresh JVM, row-identically to the in-plan chain. This is the
  *     restart invariant of a real vector service (the MetastoreProbe
  *     discipline applied to the vector side).
  *  2. The probe join consumes the bucketed layout: NO shuffle Exchange
  *     sits above either bucketed index scan — at 100 TB the serving
  *     plan shuffles O(candidates), never the stored corpus.
  */
class AnnServedSpec extends SparkSpec {

  import org.apache.spark.sql.execution.FileSourceScanExec
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
  import PlanShapes.scanThroughTransparent

  test("served radius search from the persisted index is row-identical " +
      "to the in-plan q_ann_lsh chain, and Exchange-free on both " +
      "bucketed index scans") {
    import spark.implicits._
    SrpIndex.write(ServeOps.annCorpus(spark, sf), "graft_ann_t")
    val queries = Tables.df(spark, sf, "embeddings")
      .filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // force shuffle joins + static plans: on fixture-sized tables the
      // planner would broadcast the INDEX (fine at sf0.001, wrong at
      // 100 TB) and AQE's leaf wrapper hides children from a structural
      // collect — the property under test is the static scale shape
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val served = ServeOps.annRadius(queries,
        SrpIndex.stored(spark, "graft_ann_t"))
      val bucketedScans = served.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec if s.relation.bucketSpec.isDefined => s
      }
      assert(bucketedScans.size >= 2,
        s"expected both index scans bucketed, found ${bucketedScans.size}")
      val exchangesOverBucketed = served.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec if scanThroughTransparent(e.child)
          .exists(_.relation.bucketSpec.isDefined) => e
      }
      assert(exchangesOverBucketed.isEmpty,
        s"${exchangesOverBucketed.size} shuffle Exchange(s) above a " +
          "bucketed index scan — the persisted layout is read but not used")
      val got = served.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val want = VectorQueries.qAnnLsh(spark, sf).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got === want,
        "served result differs from the in-plan q_ann_lsh chain")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("index built by one JVM serves an identical answer in a FRESH JVM " +
      "(cross-JVM, derby-backed catalog)", Heavy) {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ann_probe").toString
    def probe(mode: String): String = {
      val javaBin = new java.io.File(
        new java.io.File(sys.props("java.home"), "bin"), "java")
        .getAbsolutePath
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments
      val addOpens = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = jvmArgs.iterator()
      while (it.hasNext) {
        val a = it.next()
        if (a == "--add-opens" && it.hasNext) {
          addOpens += a; addOpens += it.next()
        } else if (a.startsWith("--add-opens=")) addOpens += a
      }
      assert(addOpens.nonEmpty, "test JVM carries no --add-opens flags")
      val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g",
        "-Dspark.ui.enabled=false",
        "-cp", sys.props("java.class.path"),
        "graft.sources.AnnIndexProbe", mode, dir, sf)
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val buf = new java.io.ByteArrayOutputStream()
      val drain = new Thread(() => p.getInputStream.transferTo(buf))
      drain.setDaemon(true)
      drain.start()
      val finished = p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)
      if (!finished) p.destroyForcibly()
      drain.join(10000)
      val out = buf.toString("UTF-8")
      assert(finished, s"$mode probe timed out:\n" + out.takeRight(2000))
      assert(p.exitValue() === 0,
        s"$mode probe failed:\n" + out.takeRight(2000))
      out
    }
    assert(probe("build").contains("PROBE_OK build"))
    assert(probe("serve").contains("PROBE_OK serve"))
    // the serve JVM never saw the build JVM's memory: its parquet answer
    // must equal the in-process brute chain row-for-row
    val served = spark.read.parquet(s"$dir/served")
      .orderBy(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = VectorQueries.qAnnLsh(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(served === want,
      "cold-JVM served result differs from the in-plan chain")
  }

  test("q_ann_delta: base index + in-flight delta serve the identical " +
      "answer to the full in-plan chain — the compaction boundary is " +
      "invisible in the result") {
    import spark.implicits._
    val got = graft.queries.ServeOps.qAnnDelta(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = VectorQueries.qAnnLsh(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === want,
      "base ∪ delta result differs from the full-index chain")
    // the persisted base really is half the corpus, not the whole thing:
    // the delta path must be exercised, not vacuous
    val baseN = spark.table(
      ServeOps.sfPrefix("graft_ann_s", sf) + "_vectors").count()
    val fullN = Tables.df(spark, sf, "embeddings")
      .filter($"vec_id" % 2 === 0).count()
    assert(baseN < fullN, s"base holds $baseN of $fullN — no delta left")
  }

  test("compaction: rewriting base ∪ delta into a fresh bucketed table " +
      "FROM THE TABLES (no key recomputation) preserves the served " +
      "answer exactly") {
    import spark.implicits._
    // build the split layout (base = %4 half, delta = the rest of %2)
    ServeOps.qAnnDelta(spark, sf).collect()
    val delta = Tables.df(spark, sf, "embeddings")
      .filter($"vec_id" % 2 === 0 && $"vec_id" % 4 =!= 0)
      .select($"vec_id", $"embedding")
    val deltaPostings = VectorQueries.srpKeys(delta)
      .select((col("tbl") * 256 + col("bk")).as("bkey"), $"vec_id")
    val n = Tables.shufflePartitions(spark)
    // the nightly compaction: one bucketed rewrite of stored postings ∪
    // delta — the keys are READ from the table, never rehashed, which is
    // what makes compaction cheap at 100 TB (pure I/O, no CPU pass)
    val dPre = ServeOps.sfPrefix("graft_ann_s", sf)
    graft.sources.Sources.writeBucketed(
      spark.table(s"${dPre}_postings").unionAll(deltaPostings),
      "graft_ann_c_postings", n, "bkey")
    graft.sources.Sources.writeBucketed(
      spark.table(s"${dPre}_vectors").unionAll(delta),
      "graft_ann_c_vectors", n, "vec_id")
    val queries = Tables.df(spark, sf, "embeddings")
      .filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val served = ServeOps.annRadius(queries,
      SrpIndex.stored(spark, "graft_ann_c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = VectorQueries.qAnnLsh(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(served === want,
      "post-compaction served result differs from the full-index chain")
  }

  test("q_ivf_served: the persisted cell table serves row-identically " +
      "to the in-plan q_ann_ivf chain, Exchange-free on the bucketed " +
      "cells scan") {
    import spark.implicits._
    val emb = Tables.df(spark, sf, "embeddings")
    val centers = VectorQueries.ivfCenters(emb).localCheckpoint()
    graft.sources.Sources.writeBucketed(
      VectorQueries.ivfAssigned(emb, centers), "graft_ivf_t_cells",
      8, "cell")
    graft.sources.Sources.writeBucketed(centers, "graft_ivf_t_centers",
      1, "cell")
    val queries = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val served = VectorQueries.ivfServe(queries,
        spark.table("graft_ivf_t_centers"),
        spark.table("graft_ivf_t_cells"))
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val exchangesOverBucketed = served.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec if scanThroughTransparent(e.child)
          .exists(s => s.relation.bucketSpec.isDefined
            && s.relation.bucketSpec.get.numBuckets == 8) => e
      }
      assert(exchangesOverBucketed.isEmpty,
        s"${exchangesOverBucketed.size} shuffle Exchange(s) above the " +
          "bucketed cells scan — the inverted file is read but not used")
      val got = served.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
      val want = VectorQueries.qAnnIvf(spark, sf).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
      assert(got === want,
        "served IVF result differs from the in-plan chain")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }
}
