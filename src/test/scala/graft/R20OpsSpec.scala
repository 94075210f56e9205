package graft

import graft.queries.{Corpus2Ops, ServeOps, SrpIndex, VectorQueries,
  XModalOps}
import org.apache.spark.sql.functions._

/** Round-20 contracts: the media-tower delta/compact triad completion
  * (row-identity + strict-half pre-state, the R19OpsSpec discipline for
  * the third index family), the streaming IVF serve twin's merge law,
  * the non-vacuous non-UTF8 blob audit (the ≥0x80 guard finally fires
  * nonzero), the compaction-trigger advisor's structural counts, and
  * the BPE artifact-table restructure (all four queries read ONE
  * training run's persisted tables). */
class R20OpsSpec extends SparkSpec {

  test("q_xmodal_delta: persisted base media index + in-plan delta " +
      "serve the identical report to the full in-plan chain, and the " +
      "base really is a strict half") {
    import spark.implicits._
    val got = XModalOps.qXmodalDelta(spark, sf).collect().map(_.toSeq).toSeq
    val want = XModalOps.qXmodalRetrievalAnn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got === want,
      "media base ∪ delta report differs from the full in-plan chain")
    val pre = ServeOps.sfPrefix("graft_xm_s", sf)
    val baseN = spark.table(s"${pre}_vectors").count()
    val fullN = XModalOps.mediaDense(spark, sf).count()
    assert(baseN < fullN && baseN > 0,
      s"base media table holds $baseN of $fullN — the delta path must " +
        "be exercised, not vacuous")
  }

  test("q_xmodal_compact: the performed stored∪delta → fresh-base " +
      "rewrite serves row-identically to the in-plan chain, and the " +
      "compacted tables hold the whole media corpus") {
    import spark.implicits._
    val got = XModalOps.qXmodalCompact(spark, sf).collect().map(_.toSeq).toSeq
    val want = XModalOps.qXmodalRetrievalAnn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got === want,
      "post-compaction media report differs from the full in-plan chain")
    val pre = ServeOps.sfPrefix("graft_xm_s", sf)
    val fullN = XModalOps.mediaDense(spark, sf).count()
    assert(spark.table(s"${pre}_c_vectors").count() === fullN,
      "compacted media table must hold every dense media vector")
    assert(spark.table(s"${pre}_c_postings").count() === fullN * 8,
      "compacted postings must hold 8 rows per media vector")
    assert(spark.table(s"${pre}_vectors").count() < fullN,
      "the pre-compaction base must be a strict half")
  }

  test("ivfServeStream: micro-batched queries against the frozen " +
      "persisted cell table reproduce the batch q_ann_ivf row-for-row " +
      "(merge law; stateless 2-probe pick ≡ the batch window rank)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the persisted layout (qIvfServed's): centroids + bucketed cells
    val emb = Tables.df(spark, sf, "embeddings")
    val centers = VectorQueries.ivfCenters(emb).localCheckpoint()
    // tagged prefix (ADVICE r20): the per-JVM exit sweep reclaims the
    // fixture's tmpdir directory; an untagged literal lived forever
    val cellsT = ServeOps.sfPrefix("graft_ivf_st", sf) + "_cells"
    graft.sources.Sources.writeBucketed(
      VectorQueries.ivfAssigned(emb, centers), cellsT,
      8, "cell")
    val arriving = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as[Long], $"embedding".as[Array[Float]])
      .collect().toSeq.sortBy(_._1)
    assert(arriving.size >= 4)
    val (b1, b2) = arriving.splitAt(arriving.size / 2)
    val input = MemoryStream[(Long, Array[Float])]
    val stream = input.toDF().toDF("qid", "qv")
    val q = graft.streaming.Streams.ivfServeStream(stream, centers,
        spark.table(cellsT))
      .writeStream.format("memory").queryName("ivf_serve_stream")
      .outputMode("complete").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val got = spark.table("ivf_serve_stream")
        .orderBy($"qid", $"rank")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSeq
      val want = VectorQueries.qAnnIvf(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSeq
      assert(got === want,
        "streamed IVF serve differs from the batch q_ann_ivf chain")
    } finally q.stop()
  }

  test("xmodalServeStream: micro-batched text queries against the " +
      "frozen persisted media index emit the batch true-pair ranks " +
      "row-for-row (merge law; per-row keys+norm ≡ the batch chain)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // tagged prefix (ADVICE r20) — the exit sweep reclaims the tmpdir dirs
    val xmPre = ServeOps.sfPrefix("graft_xm_st", sf)
    SrpIndex.write(XModalOps.mediaCorpus(spark, sf), xmPre, "doc_id", "mv")
    val q = XModalOps.retrievalQueries(spark, sf).localCheckpoint()
    // the batch rule, independently re-derived: probe the SAME tables,
    // rank with the SAME kernel, keep the true pair's rank
    graft.functions.Native.install(spark)
    val qkeys = VectorQueries.srpKeys(
      q.select($"qid".as("vec_id"), $"qv".as("embedding")))
    val probes = VectorQueries.srpProbes(qkeys)
      .select($"vec_id".as("qid"), ($"tbl" * 256 + $"bk").as("bkey"))
    val cand = probes.join(spark.table(s"${xmPre}_postings"), "bkey")
      .select($"qid", $"doc_id").distinct()
    val want = cand.join(spark.table(s"${xmPre}_vectors"), "doc_id")
      .join(broadcast(q), "qid")
      .withColumn("cs", expr("round(decimal_dot9(qv, mv) / (qn * mn), 6)"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"qid").orderBy($"cs".desc, $"doc_id".asc)))
      .filter($"doc_id" === $"qid")
      .select($"qid", $"rk")
      .orderBy($"qid")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(want.nonEmpty)
    val arriving = q.select($"qid".as[Long], $"qv".as[Array[Float]])
      .collect().toSeq.sortBy(_._1)
    val (b1, b2) = arriving.splitAt(arriving.size / 2)
    val input = MemoryStream[(Long, Array[Float])]
    val stream = input.toDF().toDF("qid", "qv")
    val sq = graft.streaming.Streams.xmodalServeStream(stream,
        spark.table(s"${xmPre}_postings"),
        spark.table(s"${xmPre}_vectors"))
      .writeStream.format("memory").queryName("xm_serve_stream")
      .outputMode("complete").start()
    try {
      input.addData(b1); sq.processAllAvailable()
      input.addData(b2); sq.processAllAvailable()
      val got = spark.table("xm_serve_stream").orderBy($"qid")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(got === want,
        "streamed true-pair ranks differ from the batch serve chain")
    } finally sq.stop()
  }

  test("q_xmodal_compact: serving from the compacted tables is " +
      "Exchange-free on both bucketed index scans under forced-shuffle " +
      "static plans (the persisted layout is USED, not just read)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import PlanShapes.scanThroughTransparent
    // tables exist from the row-identity test's qXmodalCompact run in
    // this JVM; rebuild defensively in case of test-order changes
    val pre = ServeOps.sfPrefix("graft_xm_s", sf)
    if (!spark.catalog.tableExists(s"${pre}_c_postings"))
      XModalOps.qXmodalCompact(spark, sf).collect()
    val docsrc = Tables.df(spark, sf, "documents")
      .select($"doc_id", $"source")
    val q = XModalOps.retrievalQueries(spark, sf).localCheckpoint()
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val served = XModalOps.xmodalRetrieve(q,
        SrpIndex.stored(spark, s"${pre}_c"), docsrc)
      val bucketedScans = served.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec if s.relation.bucketSpec.isDefined => s
      }
      assert(bucketedScans.size >= 2,
        s"expected both compacted scans bucketed, found ${bucketedScans.size}")
      val exchangesOverBucketed =
        served.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec if scanThroughTransparent(e.child)
            .exists(_.relation.bucketSpec.isDefined) => e
        }
      assert(exchangesOverBucketed.isEmpty,
        s"${exchangesOverBucketed.size} shuffle Exchange(s) above a " +
          "compacted bucketed scan — the rewrite produced a layout the " +
          "serve plan does not consume")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("delta lambda reads: the join-distributed split keeps every " +
      "bucketed base scan Exchange-free under forced-shuffle static " +
      "plans (the union-below-join re-shuffle is gone)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import PlanShapes.scanThroughTransparent
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      for ((name, df) <- Seq(
          "q_ann_delta" -> ServeOps.qAnnDelta(spark, sf),
          "q_ann_compact" -> ServeOps.qAnnCompact(spark, sf),
          "q_ivf_delta" -> ServeOps.qIvfDelta(spark, sf),
          "q_semcache_delta" -> ServeOps.qSemcacheDelta(spark, sf),
          "q_semcache_served" -> ServeOps.qSemcacheServed(spark, sf),
          "q_semcache_compact" -> ServeOps.qSemcacheCompact(spark, sf),
          "q_xmodal_delta" -> XModalOps.qXmodalDelta(spark, sf))) {
        val plan = df.queryExecution.executedPlan
        val bucketed = plan.collect {
          case s: FileSourceScanExec if s.relation.bucketSpec.isDefined => s
        }
        assert(bucketed.nonEmpty, s"$name: no bucketed base scan in plan")
        val reshuffled = plan.collect {
          case e: ShuffleExchangeExec if scanThroughTransparent(e.child)
            .exists(_.relation.bucketSpec.isDefined) => e
        }
        assert(reshuffled.isEmpty,
          s"$name: ${reshuffled.size} Exchange(s) directly above a " +
            "bucketed base scan — the delta read re-shuffles the index")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("q_media_blob: the ≥0x80 ingest-guard branch fires NONZERO on " +
      "the deterministic md5-chain blobs, the payload is BinaryType, " +
      "and every asset is exactly 64 bytes") {
    import spark.implicits._
    val blob = Tables.df(spark, sf, "documents")
      .select(unhex(md5(concat(lit("blob:"), $"doc_id".cast("string"),
        lit(":0")))).as("payload"))
    assert(blob.schema("payload").dataType ===
      org.apache.spark.sql.types.BinaryType)
    val rows = XModalOps.qMediaBlob(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_nonascii_bytes") > 0L,
        s"source ${r.getAs[String]("source")}: the blob arm exists to " +
          "exercise the non-ASCII guard — zero means it is still vacuous")
      assert(r.getAs[Long]("total_bytes") ===
        r.getAs[Long]("n_assets") * 64L,
        "four chained md5 images are exactly 64 bytes per asset")
      // 64 bytes hashed by (byte + pos) % 64 stay far from the 2.0-nat
      // degenerate bar — the blob arm must not trip the filler gate
      assert(r.getAs[Long]("n_degenerate") === 0L)
    }
    // roughly half of md5 output bytes have the high bit set; on the
    // corpus aggregate this is a tight band (binomial over 64·n draws)
    val totB = rows.map(_.getAs[Long]("total_bytes")).sum
    val totN = rows.map(_.getAs[Long]("n_nonascii_bytes")).sum
    val frac = totN.toDouble / totB
    assert(frac > 0.4 && frac < 0.6,
      s"non-ASCII fraction $frac is out of the md5 half-band")
  }

  test("q_compact_advisor: the advisor's counts are the split layouts' " +
      "structural sizes, and the decision is the exact quarter bar") {
    import spark.implicits._
    val rows = ServeOps.qCompactAdvisor(spark, sf).collect()
    assert(rows.map(_.getAs[String]("family")).toSeq ===
      Seq("cache", "ivf", "srp", "xm"))
    val emb = Tables.df(spark, sf, "embeddings")
    val nHalf = emb.filter($"vec_id" % 2 === 0).count()
    val nQuarter = emb.filter($"vec_id" % 4 === 0).count()
    val nAll = emb.count()
    val n50 = emb.filter($"vec_id" % 50 === 0).count()
    val n100 = emb.filter($"vec_id" % 100 === 0).count()
    val nDense = XModalOps.mediaDense(spark, sf).count()
    val nDenseEven = XModalOps.mediaDense(spark, sf)
      .filter($"doc_id" % 2 === 0).count()
    val want = Map(
      "cache" -> (8 * n100, 8 * (n50 - n100)),
      "ivf" -> (nHalf, nAll - nHalf),
      "srp" -> (8 * nQuarter, 8 * (nHalf - nQuarter)),
      "xm" -> (8 * nDenseEven, 8 * (nDense - nDenseEven)))
    rows.foreach { r =>
      val (b, d) = want(r.getAs[String]("family"))
      assert(r.getAs[Long]("base_rows") === b)
      assert(r.getAs[Long]("delta_rows") === d)
      assert(r.getAs[String]("decision") ===
        (if (d * 4 >= b) "compact" else "defer"))
    }
  }

  test("q_semcache_delta: snapshot postings + in-plan delta keys serve " +
      "the identical per-τ report to q_semcache_lsh, and the snapshot " +
      "really is a strict half of the stream") {
    import spark.implicits._
    val got = ServeOps.qSemcacheDelta(spark, sf).collect().map(_.toSeq).toSeq
    val want = ServeOps.qSemcacheLsh(spark, sf).collect().map(_.toSeq).toSeq
    assert(got === want,
      "cache base ∪ delta report differs from the in-plan bucket-keyed cache")
    val pre = ServeOps.sfPrefix("graft_sc_s", sf)
    val baseN = spark.table(s"${pre}_vectors").count()
    val fullN = Tables.df(spark, sf, "embeddings")
      .filter($"vec_id" % 50 === 0).count()
    assert(baseN < fullN && baseN > 0,
      s"cache snapshot holds $baseN of $fullN — the delta path must be " +
        "exercised, not vacuous")
  }

  test("q_semcache_compact: the performed snapshot∪delta → fresh-cache " +
      "rewrite serves the identical per-τ report, and the compacted " +
      "tables hold the whole %50 stream") {
    import spark.implicits._
    val got = ServeOps.qSemcacheCompact(spark, sf)
      .collect().map(_.toSeq).toSeq
    val want = ServeOps.qSemcacheLsh(spark, sf).collect().map(_.toSeq).toSeq
    assert(got === want,
      "post-compaction cache report differs from the in-plan cache")
    val pre = ServeOps.sfPrefix("graft_sc_s", sf)
    val fullN = Tables.df(spark, sf, "embeddings")
      .filter($"vec_id" % 50 === 0).count()
    assert(spark.table(s"${pre}_c_vectors").count() === fullN,
      "compacted cache must hold every %50 query vector")
    assert(spark.table(s"${pre}_c_postings").count() === fullN * 8,
      "compacted postings must hold 8 rows per cached vector")
    assert(spark.table(s"${pre}_vectors").count() < fullN,
      "the pre-compaction snapshot must be a strict half")
  }

  test("BPE vocab artifact built by one JVM applies identically in a " +
      "FRESH JVM (cross-JVM, derby-backed catalog — the 'tokenize " +
      "fleet loads the table' claim)", Heavy) {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bpe_probe").toString
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
    assert(probe("tbuild").contains("PROBE_OK tbuild"))
    assert(probe("tserve").contains("PROBE_OK tserve"))
    val served = spark.read.parquet(s"$dir/tserved")
      .orderBy($"source").collect().map(_.toSeq).toSeq
    val want = Corpus2Ops.qBpeApply(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(served === want,
      "cold-JVM fertility report differs from the in-application apply")
  }

  test("BPE artifact tables: all four queries read ONE training run — " +
      "the persisted trajectory equals a fresh in-plan train, and the " +
      "vocab table applies identically to an in-plan lens relation") {
    import spark.implicits._
    val pre = Corpus2Ops.bpeArtifacts(spark, sf)
    // trajectory table ≡ a fresh loop run (the artifact cannot drift
    // from what training would produce today on the frozen fixture)
    val fresh = Corpus2Ops.bpeTrainRoundsOf(
      Tables.df(spark, sf, "documents"))
    val wantTraj = fresh._1.reduce(_ unionAll _).orderBy($"round")
      .collect().map(_.toSeq).toSeq
    val gotTraj = Corpus2Ops.qBpeTrain(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(gotTraj === wantTraj,
      "persisted trajectory differs from a fresh training run")
    // vocab table ≡ the fresh final state's per-token symbol counts
    val wantVocab = fresh._2.groupBy($"tok")
      .agg(count(lit(1)).as("n_syms"))
      .orderBy($"tok").collect().map(_.toSeq).toSeq
    val gotVocab = spark.table(s"${pre}_vocab")
      .orderBy($"tok").collect().map(_.toSeq).toSeq
    assert(gotVocab === wantVocab,
      "persisted vocab differs from the fresh final symbol state")
    // apply and served are now the same artifact read by construction
    assert(Corpus2Ops.qBpeApply(spark, sf).collect().map(_.toSeq).toSeq ===
      Corpus2Ops.qBpeServed(spark, sf).collect().map(_.toSeq).toSeq)
    // the totals table carries the advisor's char baseline
    val tot = spark.table(s"${pre}_tot").collect()(0)
    val wantTot = fresh._3.collect()(0)
    assert(tot.getAs[Long]("n_tokens") === wantTot.getAs[Long]("n_tokens"))
    assert(tot.getAs[Long]("n_chars") === wantTot.getAs[Long]("n_chars"))
  }
}
