package graft

import graft.queries.{Corpus2Ops, ServeOps, SrpIndex, VectorQueries,
  XModalOps}
import org.apache.spark.sql.functions._

/** Round-19 contracts: the persisted media-tower index (q_xmodal_served
  * — Exchange-free probe + row-identity + cold-JVM), the compaction
  * executor (q_ann_compact — the rewrite is invisible in the answer),
  * the streaming ANN serve twin (annServeStream merge law), the BPE
  * vocab advisor's exact-integer elbow arithmetic, and the BinaryType
  * byte path (q_media_bytes — real bytes reproduce the ASCII stand-in,
  * and the payload column really is BinaryType). */
class R19OpsSpec extends SparkSpec {

  import org.apache.spark.sql.execution.FileSourceScanExec
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
  import PlanShapes.scanThroughTransparent

  test("q_xmodal_served: the persisted media-tower index serves " +
      "row-identically to the in-plan q_xmodal_retrieval_ann chain, " +
      "Exchange-free on both bucketed index scans") {
    import spark.implicits._
    SrpIndex.write(XModalOps.mediaCorpus(spark, sf), "graft_xm_t",
      "doc_id", "mv")
    val docsrc = Tables.df(spark, sf, "documents")
      .select($"doc_id", $"source")
    val q = XModalOps.retrievalQueries(spark, sf).localCheckpoint()
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // force shuffle joins + static plans (the AnnServedSpec rationale:
      // the property under test is the static 100 TB scale shape, not
      // what the planner does to fixture-sized tables)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val served = XModalOps.xmodalRetrieve(q,
        SrpIndex.stored(spark, "graft_xm_t"), docsrc)
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
      val got = served.collect().map(_.toSeq).toSeq
      val want = XModalOps.qXmodalRetrievalAnn(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(got === want,
        "served report differs from the in-plan q_xmodal_retrieval_ann")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("media-tower index built by one JVM serves an identical report " +
      "in a FRESH JVM (cross-JVM, derby-backed catalog)", Heavy) {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_xm_probe").toString
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
    assert(probe("xbuild").contains("PROBE_OK xbuild"))
    assert(probe("xserve").contains("PROBE_OK xserve"))
    val served = spark.read.parquet(s"$dir/xserved")
      .orderBy(col("source")).collect().map(_.toSeq).toSeq
    val want = XModalOps.qXmodalRetrievalAnn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(served === want,
      "cold-JVM served report differs from the in-plan chain")
  }

  test("q_ann_compact: the performed base∪delta → fresh-base rewrite " +
      "serves row-identically to the full in-plan q_ann_lsh chain, and " +
      "the compacted tables really hold the union") {
    import spark.implicits._
    val got = ServeOps.qAnnCompact(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = VectorQueries.qAnnLsh(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === want,
      "post-compaction served result differs from the full-index chain")
    // the rewrite actually happened and holds the WHOLE %2 corpus (base
    // was only the %4 half — AnnServedSpec pins that split)
    val pre = ServeOps.sfPrefix("graft_ann_s", sf)
    val compactN = spark.table(s"${pre}_c_vectors").count()
    val fullN = Tables.df(spark, sf, "embeddings")
      .filter($"vec_id" % 2 === 0).count()
    assert(compactN === fullN,
      s"compacted base holds $compactN of $fullN vectors")
    val baseN = spark.table(s"${pre}_vectors").count()
    assert(baseN < fullN, "the pre-compaction base must be a strict half")
  }

  test("q_ivf_delta: persisted base cells + in-plan delta serve the " +
      "identical answer to the full in-plan q_ann_ivf chain, and the " +
      "base really is a strict half") {
    import spark.implicits._
    val got = ServeOps.qIvfDelta(spark, sf).collect().map(_.toSeq).toSeq
    val want = VectorQueries.qAnnIvf(spark, sf).collect().map(_.toSeq).toSeq
    assert(got === want,
      "IVF base ∪ delta result differs from the full inverted file")
    val pre = ServeOps.sfPrefix("graft_ivf_s", sf)
    val baseN = spark.table(s"${pre}_cells").count()
    val fullN = Tables.df(spark, sf, "embeddings").count()
    assert(baseN < fullN && baseN > 0,
      s"base cell table holds $baseN of $fullN — the delta path must " +
        "be exercised, not vacuous")
  }

  test("q_ivf_compact: the performed cells∪delta → fresh-cell-table " +
      "rewrite serves row-identically to q_ann_ivf, and the compacted " +
      "table holds the whole corpus") {
    import spark.implicits._
    val got = ServeOps.qIvfCompact(spark, sf).collect().map(_.toSeq).toSeq
    val want = VectorQueries.qAnnIvf(spark, sf).collect().map(_.toSeq).toSeq
    assert(got === want,
      "post-compaction IVF result differs from the full inverted file")
    val pre = ServeOps.sfPrefix("graft_ivf_s", sf)
    val compactN = spark.table(s"${pre}_c_cells").count()
    val fullN = Tables.df(spark, sf, "embeddings").count()
    assert(compactN === fullN,
      s"compacted cell table holds $compactN of $fullN vectors")
    assert(spark.table(s"${pre}_cells").count() < fullN,
      "the pre-compaction base must be a strict half")
  }

  test("annServeStream: micro-batched queries against the frozen " +
      "persisted index reproduce the batch serve row-for-row " +
      "(merge law; per-row SRP keys ≡ the relational srpKeys chain)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // tagged prefix (ADVICE r20): the per-JVM exit sweep reclaims the
    // fixture's tmpdir directories; an untagged literal lived forever
    val pre = ServeOps.sfPrefix("graft_ann_st", sf)
    SrpIndex.write(ServeOps.annCorpus(spark, sf), pre)
    val arriving = Tables.df(spark, sf, "embeddings")
      .filter($"vec_id" % 100 === 0)
      .select($"vec_id".as[Long], $"embedding".as[Array[Float]])
      .collect().toSeq.sortBy(_._1)
    assert(arriving.size >= 4)
    val (b1, b2) = arriving.splitAt(arriving.size / 2)
    val input = MemoryStream[(Long, Array[Float])]
    val stream = input.toDF().toDF("qid", "qv")
    val q = graft.streaming.Streams.annServeStream(stream,
        spark.table(s"${pre}_postings"),
        spark.table(s"${pre}_vectors"))
      .writeStream.format("memory").queryName("ann_serve_stream")
      .outputMode("complete").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val got = spark.table("ann_serve_stream")
        .orderBy($"qid", $"vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      val want = VectorQueries.qAnnLsh(spark, sf).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got === want,
        "streamed serve differs from the batch q_ann_lsh chain")
    } finally q.stop()
  }

  test("q_bpe_served: the persisted tokenizer artifact applies " +
      "row-identically to the in-plan q_bpe_apply, and the vocab table " +
      "really is the vocabulary") {
    import spark.implicits._
    val got = Corpus2Ops.qBpeServed(spark, sf).collect().map(_.toSeq).toSeq
    val want = Corpus2Ops.qBpeApply(spark, sf).collect().map(_.toSeq).toSeq
    assert(got === want,
      "table-served fertility report differs from the in-plan apply")
    val pre = ServeOps.sfPrefix("graft_bpe", sf)
    val vocab = spark.table(s"${pre}_vocab")
    assert(vocab.count() > 0)
    // every vocab row is (tok, n_syms >= 1) — a real read model, not a
    // passthrough
    assert(vocab.filter($"n_syms" < 1).count() === 0L)
  }

  test("q_semcache_served: the persisted cache index serves the " +
      "identical per-τ report to the in-plan q_semcache_lsh") {
    val got = ServeOps.qSemcacheServed(spark, sf).collect().map(_.toSeq).toSeq
    val want = ServeOps.qSemcacheLsh(spark, sf).collect().map(_.toSeq).toSeq
    assert(got === want,
      "served cache report differs from the in-plan bucket-keyed cache")
    assert(got.nonEmpty)
  }

  test("bpe loop: a vocabulary that collapses before round 6 degrades " +
      "to EMPTY rounds without crashing — matching the oracle's empty " +
      "t_k chain (review r19: the driver-side merge pick threw here)") {
    import spark.implicits._
    // every token is "aa": round 1 merges (a,a) into one symbol; round
    // 2 has no adjacent pair anywhere
    val docs = Seq("aa aa", "aa").toDF("text")
    val (outs, finalState, nt) = Corpus2Ops.bpeTrainRoundsOf(docs)
    val traj = outs.reduce(_ unionAll _).orderBy($"round").collect()
    assert(traj.length === 1, "only round 1 learns a merge")
    assert(traj(0).getAs[String]("sym_a") === "a")
    assert(traj(0).getAs[String]("sym_b") === "a")
    assert(traj(0).getAs[Long]("pair_count") === 3L)
    // the exhausted state is EMPTY — the oracle's f_k = m_k × (empty
    // t_k) chain empties the same way, so downstream reads (q_bpe_apply
    // shape) degrade identically in both engines
    assert(finalState.count() === 0L)
    val ntr = nt.collect()(0)
    assert(ntr.getAs[Long]("n_tokens") === 3L)
    assert(ntr.getAs[Long]("n_chars") === 6L)
  }

  test("q_bpe_advisor: exact-integer elbow — saved telescopes to the " +
      "char-baseline minus the final symbol total, round 1 anchors " +
      "saved_frac at 1, and recommended_rounds counts exactly the " +
      "rounds clearing the quarter bar") {
    import spark.implicits._
    val rows = Corpus2Ops.qBpeAdvisor(spark, sf)
      .orderBy($"round").collect()
    assert(rows.map(_.getAs[Int]("round")).toSeq === (1 to 6))
    val saved = rows.map(_.getAs[Long]("saved"))
    assert(saved.forall(_ >= 0), "a merge round cannot add symbols")
    assert(rows.head.getAs[Double]("saved_frac") === 1.0)
    val s1 = saved.head
    rows.foreach { r =>
      val dim = r.getAs[Int]("diminishing")
      assert((dim == 1) === (r.getAs[Long]("saved") * 4 < s1))
    }
    val wantRec = saved.count(_ * 4 >= s1)
    assert(rows.map(_.getAs[Int]("recommended_rounds")).distinct.toSeq
      === Seq(wantRec))
    // telescoping: chars0 − symbols₆ = Σ saved (all exact integers)
    val chars0 = Tables.df(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokens($"text"))
        .as("tok"))
      .agg(sum(length($"tok"))).collect()(0).getLong(0)
    val sym6 = rows.last.getAs[Long]("corpus_symbols")
    assert(saved.sum === chars0 - sym6,
      "per-round saved must telescope exactly")
  }

  test("q_media_bytes: the payload column is genuinely BinaryType, and " +
      "on the ASCII fixture the real-byte histogram entropy reproduces " +
      "the char stand-in channel exactly") {
    import spark.implicits._
    // the scanned relation carries BinaryType end-to-end
    val bin = Tables.df(spark, sf, "documents")
      .select(encode($"text", "UTF-8").as("payload"))
    assert(bin.schema("payload").dataType ===
      org.apache.spark.sql.types.BinaryType)
    val rows = XModalOps.qMediaBytes(spark, sf).collect()
    assert(rows.nonEmpty)
    // byte values ≡ char codes on the ASCII fixture, so the byte-path
    // per-source mean entropy must equal q_media_entropy's channel 1
    val charSide = XModalOps.qMediaEntropy(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        r.getAs[Double]("mean_entropy")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_nonascii_bytes") === 0L,
        "the fixture is pure ASCII — any non-ASCII byte is a bug in " +
          "the hex-pair extraction")
      assert(r.getAs[Double]("mean_entropy_bytes") ===
        charSide(r.getAs[String]("source")),
        s"byte path diverges from the char stand-in for source " +
          r.getAs[String]("source"))
      assert(r.getAs[Long]("total_bytes") > 0)
      assert(r.getAs[Long]("n_distinct_payloads") <= r.getAs[Long]("n_assets"))
    }
  }
}
