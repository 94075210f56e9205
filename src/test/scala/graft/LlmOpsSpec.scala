package graft

import graft.functions.{SimHash64, TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._

class LlmOpsSpec extends SparkSpec {

  test("exact dedup is idempotent and keeps the lowest id per text") {
    import spark.implicits._
    val df = Seq((3L, "x"), (1L, "x"), (2L, "y"), (5L, "x"))
      .toDF("doc_id", "text")
    val d1 = Dedup.exactDedup(df, "text", "doc_id")
    assert(d1.count() === 2)
    assert(d1.filter($"text" === "x").select($"doc_id").head().getLong(0) === 1L)
    val d2 = Dedup.exactDedup(d1, "text", "doc_id")
    assert(d2.collect().toSet === d1.collect().toSet)
  }

  test("simhash: identical docs share fingerprints, near-dups are close") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (4L, "completely unrelated totally different words describing assorted machinery parts")
    ).toDF("doc_id", "text")
    val fps = Dedup.simhashGroups(docs).select($"doc_id", $"fp").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) === fps(2L))
    val nearDist = SimHash64.hamming(fps(1L), fps(3L))
    val farDist = SimHash64.hamming(fps(1L), fps(4L))
    assert(nearDist < farDist, s"near=$nearDist far=$farDist")
    assert(nearDist <= 16)
  }

  test("minhash LSH finds the high-jaccard pairs that exact jaccard finds") {
    import spark.implicits._
    val docs = Tables.df(spark, sf, "documents").filter($"doc_id" < 100)
    val exact = Dedup.jaccardPairs(docs, 0.9)
      .select($"id1", $"id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashCandidates(docs, 0.2)
      .select($"id1", $"id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test needs some high-jaccard pairs")
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall over ${exact.size} pairs")
  }

  test("the length band keeps a pair whose Jaccard equals the threshold") {
    import spark.implicits._
    // B is 55 of A's 100 distinct tokens, so J = 0.55 exactly, but
    // fl(100 · 0.55) > 55: without the band's slack the pair never meets
    assert(100 * 0.55 > 55)
    val a = (1 to 100).map(i => s"w$i")
    val docs = Seq(1L -> a.mkString(" "), 2L -> a.take(55).mkString(" "))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, 0.55).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0.55)))
  }

  test("simhash band retrieval is EXACTLY brute force at hamming <= 3") {
    import spark.implicits._
    // pigeonhole: 3 flipped bits touch at most 3 of the 4 16-bit bands,
    // so the band equi-join + verify must reproduce the full quadratic
    // scan exactly — recall 1.0, not approximately
    val fps = graft.queries.TextOps.md5SimhashFps(spark, sf)
    val a = fps.select($"doc_id".as("id1"), $"fp".as("fp1"))
    val b = fps.select($"doc_id".as("id2"), $"fp".as("fp2"))
    val brute = a.join(b, $"id1" < $"id2")
      .select($"id1", $"id2", expr("bit_count(fp1 ^ fp2)").as("h"))
      .filter($"h" <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = graft.queries.TextOps.qSimhashNear(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded === brute,
      s"band retrieval diverged: ${banded.size} vs brute ${brute.size}")
  }

  test("cosine similarity: bounds, symmetry, self-similarity") {
    import spark.implicits._
    val emb = Tables.df(spark, sf, "embeddings").limit(50)
    val a = emb.select($"vec_id".as("ida"), $"embedding".as("va"))
    val b = emb.select($"vec_id".as("idb"), $"embedding".as("vb"))
    val sims = a.join(b, $"ida" <= $"idb")
      .select($"ida", $"idb",
        VectorFunctions.cosineSim($"va", $"vb").as("s1"),
        VectorFunctions.cosineSim($"vb", $"va").as("s2"))
      .collect()
    sims.foreach { r =>
      val (s1, s2) = (r.getDouble(2), r.getDouble(3))
      assert(s1 === s2)
      assert(s1 >= -1.0 - 1e-9 && s1 <= 1.0 + 1e-9)
      if (r.getLong(0) == r.getLong(1)) assert(math.abs(s1 - 1.0) < 1e-9)
    }
  }

  test("ANN LSH candidates achieve decent recall vs brute-force top-k") {
    import spark.implicits._
    val emb = Tables.df(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" % 100 === 0)
    val exact = Similarity.knnBruteForce(emb, queries, 5)
      .select($"qid", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Similarity.annLshCandidates(emb, queries, 1.5)
      .select($"qid", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(cand.contains).toDouble / exact.size
    assert(recall >= 0.4, s"ANN recall $recall")
  }

  test("epsilon-grid cosine pairs == brute force exactly (complete, not approximate)") {
    import spark.implicits._
    // clustered synthetic corpus: 20 cluster centers, 3 members each with
    // small perturbations → plenty of true pairs above the threshold, and
    // members land near (sometimes across) grid-cell boundaries, which
    // exercises the neighbor-cell replication
    val rng = new scala.util.Random(123)
    val dim = 8
    val rows = (0 until 20).flatMap { c =>
      val center = Array.fill(dim)(rng.nextGaussian())
      (0 until 3).map { m =>
        val v = center.map(x => (x + 0.05 * rng.nextGaussian()).toFloat)
        (c * 3L + m, v)
      }
    }
    val emb = rows.toDF("vec_id", "embedding")
    val brute = Similarity.cosinePairsBrute(emb, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val grid = Similarity.cosinePairsComplete(emb, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty, "test needs pairs above the threshold")
    assert(grid === brute,
      s"missed=${(brute -- grid).take(5)} extra=${(grid -- brute).take(5)}")
    // no duplicate pair rows from the neighbor replication
    val pairRows = Similarity.cosinePairsComplete(emb, 0.8)
      .select($"id1", $"id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairRows.length === pairRows.toSet.size, "duplicate pairs emitted")
  }

  test("IVF top-k achieves decent recall vs brute force") {
    import spark.implicits._
    val emb = Tables.df(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" % 100 === 0)
    val exact = Similarity.knnBruteForce(emb, queries, 5)
      .select($"qid", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, 5)
      .select($"qid", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall $recall")
  }

  test("frame sampling covers the payload exactly once, in order") {
    import spark.implicits._
    val docs = Seq((1L, "abcdefghij"), (2L, "xy"), (3L, "k")).toDF("doc_id", "text")
    val frames = Multimodal.frameSample(Multimodal.asMediaTable(docs), 4)
      .collect().groupBy(_.doc_id)
    // 10 bytes / 4 frames → lengths 2,3,2,3; boundaries contiguous
    assert(frames(1L).sortBy(_.frame_idx).map(_.f_len).toSeq === Seq(2, 3, 2, 3))
    assert(frames(1L).map(_.f_len).sum === 10)
    assert(frames(1L).minBy(_.frame_idx).f_first === 'a'.toInt)
    assert(frames(1L).maxBy(_.frame_idx).f_last === 'j'.toInt)
    // short payloads yield fewer frames, never empty ones
    assert(frames(2L).length === 2 && frames(2L).forall(_.f_len == 1))
    assert(frames(3L).length === 1 && frames(3L).head.f_len === 1)
  }

  test("resize stub emits fixed-width normalized vectors that feed cosine") {
    import spark.implicits._
    val docs = Seq((1L, "aaaa"), (2L, "aaab"), (3L, "zzzz")).toDF("doc_id", "text")
    val thumbs = Multimodal.resizeStub(Multimodal.asMediaTable(docs), bins = 16)
    val byId = thumbs.collect().map(t => t.doc_id -> t.thumb).toMap
    assert(byId.values.forall(_.length == 16), "fixed width")
    assert(byId.values.forall(v => math.abs(v.sum - 1f) < 1e-6), "normalized")
    // similar payloads are cosine-closer than dissimilar ones
    graft.functions.Native.install(spark)
    val sims = thumbs.toDF().as("a")
      .crossJoin(thumbs.toDF().as("b"))
      .filter($"a.doc_id" === 1 && $"b.doc_id" =!= 1)
      .select($"b.doc_id",
        expr("cosine_similarity(a.thumb, b.thumb)").as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sims(2L) > sims(3L), s"near-dup must be closer: $sims")
  }

  test("multimodal decode stub produces exact byte statistics") {
    import spark.implicits._
    val docs = Seq((7L, "abc")).toDF("doc_id", "text")
    val f = Multimodal.decodeFeatures(Multimodal.asMediaTable(docs)).head()
    assert(f.n_bytes === 3 && f.first_byte === 97 && f.last_byte === 99)
    assert(math.abs(f.byte_mean - 98.0) < 1e-9)
  }

  test("fingerprint is order-sensitive and deterministic") {
    import spark.implicits._
    val df = Seq((1L, "ab"), (2L, "ba"), (3L, "ab"))
      .toDF("doc_id", "text")
    val fps = df.select($"doc_id",
      TextFunctions.fingerprint($"text").as("fp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) === fps(3L))
    assert(fps(1L) !== fps(2L))
    assert(fps(1L) === (97L * 31 + 98) % 1000000007L)
  }

  test("language id picks the language with most marker words") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat is on the mat and a dog"),
      (2L, "der hund und die katze ist da"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
    val preds = df.select($"doc_id", TextFunctions.langId($"text").as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(1L) === "en")
    assert(preds(2L) === "de")
    assert(preds(3L) === "und")
  }
  test("decontamination excludes the benchmark set and flags real overlap") {
    import spark.implicits._
    val out = graft.queries.TextOps.qDecontaminate(spark, sf).collect()
    assert(out.nonEmpty)
    // benchmark docs themselves are never in the decision output
    assert(out.forall(_.getLong(0) % 97 != 0))
    // planting a verbatim copy of a benchmark doc must come back flagged
    val docs = Tables.df(spark, sf, "documents")
    val benchText = docs.filter($"doc_id" % 97 === 0)
      .orderBy($"doc_id").select($"text").head().getString(0)
    val planted = docs.select($"doc_id", $"text")
      .unionAll(Seq((999983L, benchText)).toDF("doc_id", "text"))
      .withColumn("lang", lit("en")).withColumn("source", lit("x"))
      .withColumn("n_chars", length($"text").cast("long"))
    planted.createOrReplaceTempView("graft_planted")
    // rerun the same decision over the planted corpus via the operator's
    // own logic (re-read from the temp view through a same-shape frame)
    val sh = planted.select($"doc_id",
      explode(TextFunctions.shingles($"text", 5)).as("s"))
    val bench = sh.filter($"doc_id" % 97 === 0).select($"s").distinct()
    val hit = sh.filter($"doc_id" === 999983L)
      .join(bench, Seq("s"), "left_semi").limit(1).count()
    assert(hit === 1L, "verbatim benchmark copy must share a shingle")
  }

  test("repetition filter: verdicts recompute exactly on the JVM side") {
    import spark.implicits._
    val out = graft.queries.TextOps.qRepetition(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(4)))).toMap
    val want = Tables.df(spark, sf, "documents")
      .select($"doc_id", $"text").collect().map { r =>
        val toks = r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty)
        val n = toks.length
        val dup = if (n == 0) 0.0 else 1.0 - toks.distinct.length.toDouble / n
        val top = if (n == 0) 0.0
          else toks.groupBy(identity).values.map(_.size).max.toDouble / n
        def r6(x: Double) = BigDecimal(x)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        r.getLong(0) -> ((n.toLong, r6(dup) <= 0.3 && r6(top) <= 0.2))
      }.toMap
    assert(out === want)
  }
}
