package graft.queries

import graft.Decimals._
import graft.Tables
import graft.functions.{SortedIntersectSize, TextFunctions}
import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data text pipeline: dedup (exact / Jaccard / SimHash /
  * MinHash-LSH), language ID, quality scoring, token counting,
  * fingerprinting, tf-idf. The `documents` fixture is the corpus.
  *
  * Oracle policy: everything built from engine-portable primitives is
  * hash-checked against DuckDB (including the full pairwise-Jaccard dedup
  * decision); the two sketch-based dedup paths (SimHash grouping summary is
  * checkable in principle but depends on xxhash64 internals; MinHash LSH is
  * seed-dependent) are rows-only + property-tested in ScalaTest.
  */
object TextOps extends QueryPack {

  /** Exact dedup summary: corpus size vs survivors after
    * keep-lowest-doc_id-per-distinct-text. */
  def qDedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val survivors = Dedup.exactDedup(docs, "text", "doc_id")
    docs.agg(count(lit(1)).as("n_total"))
      .crossJoin(survivors.agg(count(lit(1)).as("n_survivors")))
  }

  /** Pairwise token-set Jaccard near-dup decision (threshold 0.9) on a
    * doc_id % 5 block: per doc, partner count and the keep/drop verdict
    * (drop iff a lower-id near-duplicate exists). */
  def qDedupJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
      .filter($"doc_id" % 5 === 0)
    val pairs = Dedup.jaccardPairs(docs, 0.9)
    val partnerCounts = pairs.select($"id1".as("doc_id"))
      .unionAll(pairs.select($"id2".as("doc_id")))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_partners"))
    val hasLower = pairs.select($"id2".as("doc_id")).distinct()
      .withColumn("__dropped", lit(true))
    docs.select($"doc_id")
      .join(partnerCounts, Seq("doc_id"), "left")
      .join(hasLower, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_partners", lit(0L)).as("n_partners"),
        coalesce(!$"__dropped", lit(true)).as("keep"))
      .orderBy($"doc_id")
  }

  /** SimHash fingerprint near-dup summary (rows-only: depends on xxhash64
    * bit patterns; properties unit-tested). */
  def qDedupSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Dedup.simhashGroups(Tables.df(spark, sfDir, "documents"))
      .groupBy($"fp").agg(count(lit(1)).as("bucket_size"))
      .agg(count(lit(1)).as("n_fingerprints"),
        sum($"bucket_size").as("n_docs"),
        max($"bucket_size").as("max_bucket"))
  }

  /** (doc_id, fp): the md5-keyed SimHash fingerprint table shared by
    * [[qSimhashMd5]] and [[qSimhashNear]] — the same Charikar bit-majority
    * sketch as [[qDedupSimhash]], but with the token hash taken from the
    * first 64 bits of md5, computable bit-identically in any engine with
    * md5 and bit ops (the xxhash64 codegen Expression stays the
    * production fingerprint; this is the portability/verification twin).
    * The per-doc fingerprint folds inside one nested higher-order
    * aggregate (bits × token hashes), so there is no 64× row explosion;
    * the inner ±1 sum is commutative, so collect_list's nondeterministic
    * order cannot change the result. Package-visible so the exact-recall
    * property test can brute-force against it. */
  private[graft] def md5SimhashFps(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val t = docs.select($"doc_id",
        explode(TextFunctions.tokenSet($"text")).as("tok"))
      .select($"doc_id",
        shiftleft(conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring(md5($"tok"), 9, 8), 16, 10).cast("long"))
          .as("h"))
    t.groupBy($"doc_id")
      .agg(collect_list($"h").as("hs"))
      .select($"doc_id", expr(
        """aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, b) ->
          |  acc | IF(aggregate(hs, 0, (a, h) ->
          |             a + IF((shiftright(h, b) & 1) = 1, 1, -1)) > 0,
          |           shiftleft(CAST(1 AS BIGINT), b),
          |           CAST(0 AS BIGINT)))""".stripMargin).as("fp"))
  }

  /** Fingerprint bucket sizes over the md5-SimHash table — the grouping
    * summary whose every fp value hash-checks against DuckDB. */
  def qSimhashMd5(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    md5SimhashFps(spark, sfDir)
      .groupBy($"fp").agg(count(lit(1)).as("bucket_size"))
      .orderBy($"fp")
  }

  /** SimHash NEAR-duplicate retrieval (Manku/Jain/Sarma, WWW'07 shape —
    * public paper, no code): split each 64-bit fingerprint into 4 16-bit
    * bands and bucket-join on (band, value); by pigeonhole, any pair at
    * Hamming distance ≤ 3 shares at least one untouched band, so the
    * band join has EXACT recall at the ≤3 threshold — not probabilistic —
    * while candidate generation stays a linear equi-join (the trick that
    * made web-scale crawl dedup feasible). Verify = one codegen'd
    * `bit_count(fp1 ^ fp2)` per candidate. */
  def qSimhashNear(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // both sides of the band self-join derive from the fingerprint table;
    // materialize it once (5k skinny rows) so the token-hash fold doesn't
    // run twice
    val fps = md5SimhashFps(spark, sfDir).localCheckpoint()
    val bands = fps.select($"doc_id", $"fp",
        explode(sequence(lit(0), lit(3))).as("b"))
      .select($"doc_id", $"fp", $"b",
        expr("shiftright(fp, 16 * b) & 65535").as("bk"))
    val cand = bands.select($"doc_id".as("id1"), $"fp".as("fp1"),
        $"b", $"bk")
      .join(bands.select($"doc_id".as("id2"), $"fp".as("fp2"),
        $"b", $"bk"), Seq("b", "bk"))
      .filter($"id1" < $"id2")
      .select($"id1", $"id2", $"fp1", $"fp2").distinct()
    cand.select($"id1", $"id2",
        expr("bit_count(fp1 ^ fp2)").as("hamming"))
      .filter($"hamming" <= 3)
      .orderBy($"id1", $"id2")
  }

  /** Cross-engine-checkable MinHash-LSH: the full band-bucket-verify
    * pipeline (8 md5-keyed min-hashes → 4 bands of 2 → bucket equi-join →
    * exact-Jaccard verify at 0.2) with every stage expressible in plain
    * SQL, so the PAIR LIST itself is under the DuckDB hash gate — not just
    * recall properties. Each min-hash is the first 15 hex chars (60 bits,
    * sign-safe in BIGINT) of md5("i:" || token), so both engines compute
    * identical signatures; the verify reuses the sorted-hash merge-walk
    * kernel. The xxhash64 variant ([[qDedupMinhash]]) remains the
    * production path — same plan shape, cheaper hashes. */
  /** The deterministic (md5-seeded) 8-perm / 4-band / 2-row MinHash
    * candidate pairs over the doc_id%5 subset — shared by [[qMinhashMd5]]
    * (which verifies them at J ≥ 0.2) and CurateOps.qMinhashEval (which
    * grades their recall against the exact prefix-filter truth). */
  private[queries] def minhashMd5Candidates(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
      .filter($"doc_id" % 5 === 0)
    val s = docs.select($"doc_id", TextFunctions.tokenSet($"text").as("ts"))
    val m = s.select($"doc_id", explode($"ts").as("tok"))
      .select($"doc_id", explode(sequence(lit(0), lit(7))).as("i"), $"tok")
      .select($"doc_id", $"i",
        conv(substring(md5(concat($"i".cast("string"), lit(":"), $"tok")),
          1, 15), 16, 10).cast("long").as("h"))
      .groupBy($"doc_id", $"i").agg(min($"h").as("mh"))
    val b = m.groupBy($"doc_id", expr("i div 2").as("band"))
      .agg(min(when($"i" % 2 === 0, $"mh")).as("m0"),
        min(when($"i" % 2 === 1, $"mh")).as("m1"))
    b.select($"doc_id".as("id1"), $"band", $"m0", $"m1")
      .join(b.select($"doc_id".as("id2"), $"band", $"m0", $"m1"),
        Seq("band", "m0", "m1"))
      .filter($"id1" < $"id2")
      .select($"id1", $"id2").distinct()
  }

  def qMinhashMd5(spark: SparkSession, sfDir: String): DataFrame =
    minhashMd5Verify(spark, sfDir, minhashMd5Candidates(spark, sfDir))

  /** The J ≥ 0.2 exact-Jaccard verify stage over a PRECOMPUTED candidate
    * pair relation — split out (ADVICE r9) so CurateOps.qMinhashEval can
    * feed its already-localCheckpointed candidates here instead of
    * silently rebuilding the identical band join a second time. */
  private[queries] def minhashMd5Verify(spark: SparkSession, sfDir: String,
      c: DataFrame): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
      .filter($"doc_id" % 5 === 0)
    val s = docs.select($"doc_id", TextFunctions.tokenSet($"text").as("ts"))
      .withColumn("th",
        sort_array(array_distinct(transform($"ts", t => xxhash64(t)))))
      .withColumn("sz", size($"th"))
    c.join(s.select($"doc_id".as("id1"), $"th".as("t1"), $"sz".as("s1")),
        "id1")
      .join(s.select($"doc_id".as("id2"), $"th".as("t2"), $"sz".as("s2")),
        "id2")
      .withColumn("li", SortedIntersectSize.of($"t1", $"t2").cast("double"))
      .withColumn("j", $"li" / ($"s1" + $"s2" - $"li"))
      .filter($"j" >= 0.2)
      .select($"id1", $"id2", round($"j", 6).as("j"))
      .orderBy($"id1", $"id2")
  }

  /** Fuzzy-match verify stage: character-level edit distance between
    * length-blocked doc pairs, over a fixed 80-char prefix. Levenshtein is
    * O(L²) PER PAIR, so at corpus scale this runs strictly downstream of a
    * candidate generator (banding / LSH / length blocking — here the
    * |Δn_chars| ≤ 40 block), never as the pair source; the prefix cap
    * bounds the kernel. The length block is realized as an EQUI-join on
    * floor(n_chars/40) buckets — one side explodes to its bucket ±1, so
    * every |Δ| ≤ 40 pair shares a key (|Δ| ≤ 40 ⇒ bucket diff ≤ 1) and
    * the plan shuffles on the bucket instead of nested-looping all pairs;
    * the exact |Δ| predicate then prunes the ≤3× superset. Each pair
    * joins at most once (the probe side keeps its single true bucket).
    * Output is the distance plus a [0,1] prefix similarity for downstream
    * thresholding — emitting the measure rather than a keep flag keeps
    * the whole surface under the hash gate with no cutoff-boundary risk. */
  def qFuzzyDist(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
      .filter($"doc_id" % 10 === 0)
      .select($"doc_id", substring($"text", 1, 80).as("t"), $"n_chars")
    val a = docs.select($"doc_id".as("id1"), $"t".as("t1"),
      $"n_chars".as("n1"))
      .withColumn("bkt", explode(array(
        floor($"n1" / 40) - 1, floor($"n1" / 40), floor($"n1" / 40) + 1)))
    // the bucket join broadcasts the tiny exploded side, so parallelism
    // is the PROBE side's partitioning — and the subset scan is one
    // parquet task, concentrating every O(L²) levenshtein pair in a
    // single thread (r8 telemetry: 5 tasks, wall ≈ run core-seconds).
    // Pinned keyed repartition spreads the probe rows — the established
    // parallelize-before-the-fan-out idiom; each probe row carries its
    // one true bucket so the pair set is unchanged. Keyed on id2 (the
    // same values as the projected-away doc_id) so the key is an actual
    // output column — repartitioning on doc_id only analyzed via the
    // analyzer's missing-attribute recovery, which re-added the column
    // and an extra Project (ADVICE r9).
    val b = docs.select($"doc_id".as("id2"), $"t".as("t2"),
      $"n_chars".as("n2"), floor($"n_chars" / 40).as("bkt"))
      .repartition(Tables.shufflePartitions(spark), $"id2")
    a.join(b, "bkt")
      .filter($"id1" < $"id2" && abs($"n1" - $"n2") <= 40)
      .select($"id1", $"id2", levenshtein($"t1", $"t2").as("d"))
      .withColumn("prefix_sim", lit(1.0) - $"d" / 80.0)
      .orderBy($"id1", $"id2")
  }

  /** MinHash-LSH near-dup candidates (rows-only: banding is seed-dependent;
    * recall vs exact Jaccard is unit-tested). */
  def qDedupMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Dedup.minhashCandidates(
      Tables.df(spark, sfDir, "documents").filter($"doc_id" % 5 === 0), 0.2)
      .orderBy($"id1", $"id2")
  }

  /** Heuristic language ID vs the labeled lang column. */
  def qLangId(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"lang",
        TextFunctions.langId($"text").as("pred"))
      .withColumn("agree", $"pred" === $"lang")
      .orderBy($"doc_id")
  }

  // ---- q_lang_confusion --------------------------------------------------
  /** Per-class evaluation of the language-ID classifier against the
    * fixture's gold labels — the confusion-derived precision / recall /
    * F1 report every deployed quality/language filter ships next to its
    * predictions (the q_ann_eval / q_minhash_eval "price the component
    * you trust" discipline, applied to a classifier). F1 is computed
    * from the once-rounded 6dp precision and recall — a documented
    * choice keeping every division cross-engine deterministic.
    *
    * Scale shape: predictions are a per-row projection; the confusion
    * matrix is one (lang, pred) partial-agg bounded by the label-domain
    * square, and all metric arithmetic runs on that tiny relation (one
    * more thin agg + a class-keyed left join). NULL precision marks a
    * class the model never predicts (undefined, not zero — the honest
    * reading). */
  def qLangConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cm = Tables.df(spark, sfDir, "documents")
      .select($"lang", TextFunctions.langId($"text").as("pred"))
      .groupBy($"lang", $"pred").agg(count(lit(1)).as("n"))
    val byTrue = cm.groupBy($"lang")
      .agg(sum($"n").as("support"),
        sum(when($"pred" === $"lang", $"n").otherwise(0L)).as("tp"))
    val byPred = cm.groupBy($"pred").agg(sum($"n").as("predicted"))
    byTrue.join(byPred, byTrue("lang") === byPred("pred"), "left")
      .select(byTrue("lang"), $"support", $"tp",
        coalesce($"predicted", lit(0L)).as("predicted"))
      .withColumn("prec",
        when($"predicted" > 0,
          round($"tp".cast("double") / $"predicted", 6)))
      .withColumn("rec", round($"tp".cast("double") / $"support", 6))
      .withColumn("f1",
        when($"prec".isNotNull && ($"prec" + $"rec") > 0,
          round(lit(2) * $"prec" * $"rec" / ($"prec" + $"rec"), 6)))
      .orderBy($"lang")
  }

  /** Quality metrics + composite score + bucket. */
  def qQuality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "documents")
      .select($"doc_id",
        TextFunctions.tokenCount($"text").as("n_tok"),
        TextFunctions.avgTokenLen($"text").as("avg_len"),
        TextFunctions.stopwordRatio($"text").as("stop_ratio"),
        TextFunctions.punctCount($"text").as("punct_cnt"),
        TextFunctions.qualityScore($"text").as("score"))
      .withColumn("bucket",
        when($"score" >= 0.8, "high")
          .when($"score" >= 0.5, "mid").otherwise("low"))
      .orderBy($"doc_id")
  }

  // ---- q_blocking_eval ---------------------------------------------------
  /** Record-linkage blocking quality (Christen's reduction ratio / pair
    * completeness / pairs quality) for the qFuzzyDist-style |Δlength| ≤
    * 40 blocking window, evaluated corpus-wide against REAL near-dup
    * truth (the exact prefix-filtered Jaccard ≥ 0.8 pairs) — the
    * eval-everything discipline (q_minhash_eval / q_ann_eval /
    * q_winnow_eval) applied to the blocking step every fuzzy matcher
    * runs first. The scale move: NO pair relation is ever materialized
    * for the denominator side — total pairs are n(n−1)/2 arithmetic and
    * the candidate count comes from a banded self-join of the
    * LENGTH-HISTOGRAM relation (|distinct lengths|² band pairs, never
    * documents), so the report costs one histogram plus the truth
    * relation it prices. And the gate FIRES on this fixture (the
    * q_ann_eval precedent): set-similar docs here differ in length by
    * a median 86 chars, so the 40-char window recalls only ~25% of
    * them — the measured warning that a blocking key must match the
    * match definition, which is exactly what this report exists to
    * catch before a linkage run trusts its blocking. */
  def qBlockingEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the %3 eval subset (the q_winnow_eval envelope): the truth side
    // prices exact pairs, so the eval frame is bounded like every other
    // eval op rather than run corpus-wide
    val docs = Tables.df(spark, sfDir, "documents")
      .filter($"doc_id" % 3 === 0)
      .select($"doc_id", $"n_chars")
    val hist = docs.groupBy($"n_chars".as("len"))
      .agg(count(lit(1)).as("cnt")).localCheckpoint()
    val nTot = docs.agg(count(lit(1)).as("n"))
    // candidate pairs under |Δlen| <= 40: same-length C(c,2) plus the
    // strictly-ordered cross terms within the band
    // `div`, not `/`: Column./ is double division — the counts must
    // stay BIGINT to match the oracle's // arithmetic
    val same = hist.agg(sum(expr("cnt * (cnt - 1) div 2")).as("c_same"))
    val cross = hist.select($"len".as("l1"), $"cnt".as("c1"))
      .join(hist.select($"len".as("l2"), $"cnt".as("c2")),
        $"l1" < $"l2" && $"l2" - $"l1" <= 40)
      .agg(coalesce(sum($"c1" * $"c2"), lit(0L)).as("c_cross"))
    val truth = CurateOps
      .prefixPairs(spark, sfDir, subsetMod = 3, num = 8, den = 10)
      .select($"id1", $"id2")
      .join(docs.select($"doc_id".as("id1"), $"n_chars".as("n1")), "id1")
      .join(docs.select($"doc_id".as("id2"), $"n_chars".as("n2")), "id2")
      .agg(count(lit(1)).as("n_truth"),
        sum(when(abs($"n1" - $"n2") <= 40, 1L).otherwise(0L))
          .as("n_truth_cand"))
    nTot.crossJoin(same).crossJoin(cross).crossJoin(truth)
      .select(expr("n * (n - 1) div 2").as("n_pairs"),
        ($"c_same" + $"c_cross").as("n_cand"), $"n_truth",
        $"n_truth_cand")
      .select($"n_pairs", $"n_cand", $"n_truth",
        round(lit(1.0) - $"n_cand".cast("double") / $"n_pairs", 6)
          .as("reduction_ratio"),
        when($"n_truth" > 0,
          round($"n_truth_cand".cast("double") / $"n_truth", 6))
          .as("pair_completeness"),
        when($"n_cand" > 0,
          round($"n_truth_cand".cast("double") / $"n_cand", 6))
          .as("pairs_quality"))
  }

  // ---- q_quality_sweep ---------------------------------------------------
  /** Threshold-sensitivity report for the quality gate (the
    * q_dedup_sweep discipline applied to [[qQuality]]'s score): before
    * a pipeline commits to "drop everything under q", this prices each
    * candidate threshold's cost — documents kept, token mass kept, and
    * the mean score of the survivors — from ONE corpus pass (per-doc
    * score + token count, a 3× threshold explode, one aggregate).
    * Thresholds compare the once-rounded score, so the cut is the
    * exact cut q_quality buckets by. */
  def qQualitySweep(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val scored = Tables.df(spark, sfDir, "documents")
      .select(TextFunctions.qualityScore($"text").as("score"),
        TextFunctions.tokenCount($"text").cast("long").as("n_tok"))
    scored
      .select($"score", $"n_tok",
        explode(array(lit(0.3), lit(0.5), lit(0.7))).as("thr"))
      .groupBy($"thr")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").as("tokens_total"),
        sum(when($"score" >= $"thr", 1L).otherwise(0L)).as("docs_kept"),
        sum(when($"score" >= $"thr", $"n_tok").otherwise(0L))
          .as("tokens_kept"),
        sum(when($"score" >= $"thr", $"score".cast(dec18_6))).as("s_kept"))
      .select($"thr", $"docs_kept",
        round($"docs_kept".cast("double") / $"n_docs", 6).as("frac_docs"),
        $"tokens_kept",
        round($"tokens_kept".cast("double") / $"tokens_total", 6)
          .as("frac_tokens"),
        when($"docs_kept" > 0,
          round($"s_kept".cast("double") / $"docs_kept", 6))
          .as("mean_score_kept"))
      .orderBy($"thr")
  }

  /** Whitespace vs BPE-ish token counts. The pinned keyed repartition
    * before the projection is the q_fuzzy_dist starvation fix again
    * (r10 telemetry: 4.99 s wall ≈ 4.3 run core-s on the scan's 4
    * tasks): the regexp_extract_all kernel is the whole cost and the
    * parquet scan gives it almost no parallelism — one shuffle of the
    * raw text buys a 32-way regex stage, and the final orderBy
    * re-ranges either way. */
  def qTokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"text")
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
      .select($"doc_id",
        TextFunctions.tokenCount($"text").as("ws_tokens"),
        TextFunctions.bpeishTokenCount($"text").as("bpe_tokens"),
        length($"text").as("n_chars"))
      .orderBy($"doc_id")
  }

  // ---- q_tok_fertility ---------------------------------------------------
  /** Tokenizer fertility per language — the fairness report behind a
    * vocab budget (Ahia et al. 2023 framing: languages whose subword
    * tokenizer fragments words pay more context and more compute per
    * sentence): per lang, BPE-ish tokens per whitespace word and chars
    * per BPE-ish token, from exact integer sums over q_token_count's
    * per-doc projection. Scale shape: the regex kernel runs behind the
    * same pinned keyed repartition as q_token_count (single-row-group
    * starvation fix), then ONE lang-keyed partial-agg; ratios are single
    * double divisions rounded once. */
  def qTokFertility(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"lang", $"text")
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
      .select($"lang",
        TextFunctions.tokenCount($"text").cast("long").as("ws"),
        TextFunctions.bpeishTokenCount($"text").cast("long").as("bpe"),
        length($"text").cast("long").as("chars"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("docs"), sum($"ws").as("ws_tokens"),
        sum($"bpe").as("bpe_tokens"), sum($"chars").as("n_chars"))
      .withColumn("fertility",
        round($"bpe_tokens".cast("double") / $"ws_tokens", 6))
      .withColumn("chars_per_tok",
        round($"n_chars".cast("double") / $"bpe_tokens", 6))
      .orderBy($"lang")
  }

  /** Rolling-hash content fingerprint. */
  def qFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "documents")
      .select($"doc_id", TextFunctions.fingerprint($"text").as("fp"))
      .orderBy($"doc_id")
  }

  /** tf-idf: corpus-wide document frequencies, per-doc term frequencies,
    * reported for a doc_id % 50 sample. The N scalar is computed in-plan
    * (agg + broadcast cross join), never collected to the driver. */
  def qTfIdf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val toks = docs.select($"doc_id",
      explode(TextFunctions.tokens($"text")).as("tok"))
    val tf = toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    // df falls out of tf (one tf row per (doc, tok)) — avoids a second
    // explode + countDistinct shuffle over the raw token stream
    val dfreq = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(n))
      .filter($"doc_id" % 50 === 0)
      .select($"doc_id", $"tok", $"tf",
        round(log($"n_docs" / $"df"), 6).as("idf"),
        round($"tf" * log($"n_docs" / $"df"), 6).as("tfidf"))
      .orderBy($"doc_id", $"tok")
  }

  /** Corpus-LM perplexity filter (the CCNet-style quality gate: score each
    * doc by a language model trained on the corpus itself, drop the
    * high-perplexity tail). The LM is a unigram model — token counts are
    * one partial-aggregable groupBy, and scoring is a shuffle join on the
    * token key, so both stages scale linearly; swapping in a KenLM-grade
    * model changes the lp table, not the plan.
    *
    * Determinism engineering: a doc's score sums per-token log-probs, and
    * double summation is order-dependent, so the hash gate would flake on
    * shuffle order. Instead each token's ln(cnt/N) is rounded once to 6
    * decimals and cast to DECIMAL(18,6) — the per-doc SUM is then exact
    * integer arithmetic (order-independent), and the only double ops left
    * (final divide + round) have deterministic operands. The 3.41 nll
    * cutoff sits 1.2e-4 from the nearest doc on this fixture — far outside
    * FP drift. */
  def qPerplexity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", explode(TextFunctions.tokens($"text")).as("tok"))
    val counts = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val n = toks.agg(count(lit(1)).as("n_total"))
    val lp = counts.crossJoin(broadcast(n))
      .select($"tok", round(log($"cnt" / $"n_total"), 6)
        .cast(dec18_6).as("lp"))
    toks.join(lp, "tok")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_toks"), sum($"lp").as("slp"))
      .select($"doc_id", $"n_toks",
        (-($"slp".cast("double")) / $"n_toks").as("nll"),
        (-($"slp".cast("double")) / $"n_toks" <= 3.41).as("keep"))
      .orderBy($"doc_id")
  }

  /** Interpolated bigram-LM perplexity — the context-sensitive upgrade of
    * [[qPerplexity]] (the KenLM-style shape CCNet actually filters with):
    * p(cur|prev) = 0.7·p_bigram + 0.3·p_unigram, the interpolation
    * damping noisy low-count bigram estimates toward the corpus-wide
    * unigram rate. (Under this resubstitution protocol every scored
    * bigram was also trained on, so the joins are inner — a held-out
    * scorer would left-join and let p_bigram go to zero.) Training is
    * two count groupBys (bigram + context) over the adjacent-pair fan-out,
    * scoring joins on the (prev, cur) key — everything shuffles on token
    * keys, nothing is collected. Same DECIMAL(18,6) pre-sum rounding as
    * the unigram filter; the 3.45 cutoff sits 3e-4 from the nearest doc. */
  def qPerplexityBigram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val toks = docs.select($"doc_id",
      explode(TextFunctions.tokens($"text")).as("tok"))
    val uni = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val n = toks.agg(count(lit(1)).as("n_total"))
    // adjacent (prev, cur) pairs via an in-row HOF fan-out — no window,
    // no shuffle to form the sequence
    val bi = docs.select($"doc_id", TextFunctions.tokens($"text").as("T"))
      .filter(size($"T") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(T) - 1),
          |  i -> struct(element_at(T, i) AS prev,
          |              element_at(T, i + 1) AS cur))""".stripMargin))
        .as("p"))
      .select($"doc_id", $"p.prev", $"p.cur")
    val bc = bi.groupBy($"prev", $"cur").agg(count(lit(1)).as("bcnt"))
    val ctx = bi.groupBy($"prev").agg(count(lit(1)).as("ccnt"))
    bi.join(bc, Seq("prev", "cur"))
      .join(ctx, "prev")
      .join(uni.withColumnRenamed("tok", "cur"), "cur")
      .crossJoin(broadcast(n))
      .select($"doc_id",
        round(log(lit(0.7) * ($"bcnt" / $"ccnt")
          + lit(0.3) * ($"cnt" / $"n_total")), 6).cast(dec18_6).as("lp"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_scored"), sum($"lp").as("slp"))
      .select($"doc_id", $"n_scored",
        (-($"slp".cast("double")) / $"n_scored").as("nll"),
        (-($"slp".cast("double")) / $"n_scored" <= 3.45).as("keep"))
      .orderBy($"doc_id")
  }

  /** Word-bigram hashed-shingle Jaccard pairs at `threshold` over the %10
    * doc sample — shared pair generator for the n-gram near-dup query and
    * the connected-components clustering query.
    *
    * Per-pair cost engineering (the pair count is quadratic, so the per-
    * pair kernel is everything):
    *  1. hash each distinct shingle to a long ONCE per doc and sort, so a
    *     pair costs a primitive merge-walk (sorted_intersect_size) instead
    *     of a string hash-set build — Jaccard over hashed distinct
    *     shingles equals Jaccard over the shingles themselves (64-bit
    *     collisions are negligible);
    *  2. repartition materializes that projection BEFORE the self-join —
    *     otherwise the non-equi join recomputes the chain per pair;
    *  3. length-ratio block in the JOIN condition: J ≥ t forces
    *     max(|A|,|B|) ≤ min(|A|,|B|)/t, so over-ratio pairs are pruned
    *     before the intersect ever runs (content-based blocking — the same
    *     bound drives band-bucketing at cluster scale). The +1e-9 slack
    *     keeps the block safe for thresholds where size·t rounds above the
    *     integer bound (same guard as [[graft.operators.Dedup]]).
    */
  private def bigramPairs(spark: SparkSession, sfDir: String,
      threshold: Double): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
      .filter($"doc_id" % 10 === 0)
    val sh = docs.select($"doc_id",
      sort_array(array_distinct(
        transform(array_distinct(TextFunctions.shingles($"text", 2)),
          s => xxhash64(s)))).as("t"))
      .withColumn("sz", size($"t"))
      // explicit count (ADVICE r7): keyless keyed repartition is an AQE
      // coalesce target right before the pair join
      .repartition(Tables.shufflePartitions(spark), col("doc_id"))
    val a = sh.select($"doc_id".as("id1"), $"t".as("t1"), $"sz".as("s1"))
    val b = sh.select($"doc_id".as("id2"), $"t".as("t2"), $"sz".as("s2"))
    a.join(b, $"id1" < $"id2"
        && $"s1" * threshold <= $"s2" + 1e-9
        && $"s2" * threshold <= $"s1" + 1e-9)
      .withColumn("li", SortedIntersectSize.of($"t1", $"t2").cast("double"))
      .withColumn("j", $"li" / ($"s1" + $"s2" - $"li"))
      .filter($"j" >= threshold)
      .select($"id1", $"id2", $"j")
  }

  /** Word-bigram (shingle) Jaccard near-dup — n-gram variant of the
    * token-set dedup; shingles catch word-order changes that bag-of-words
    * Jaccard misses. */
  def qDedupNgram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    bigramPairs(spark, sfDir, 0.5)
      .groupBy($"id1")
      .agg(count(lit(1)).as("n_partners"),
        round(max($"j"), 6).as("max_j"))
      .orderBy($"id1")
  }

  /** Near-dup clustering: similarity pairs → connected components → one
    * canonical doc per cluster (the lowest id) — the step that turns
    * pairwise dedup verdicts into a consistent keep/drop decision when
    * A~B and B~C but A≁C. Components come from the alternating-star
    * contraction in [[graft.operators.Components]] (agg+join rounds, no
    * neighbor lists). The 0.08 bigram-Jaccard threshold is tuned to this
    * fixture's similarity density so the graph has multi-hop components
    * (chains of 2-4 docs) rather than only isolated pairs; a production
    * corpus would use the dedup threshold its pair stage ran at. */
  def qDedupCluster(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
      .filter($"doc_id" % 10 === 0)
    val edges = bigramPairs(spark, sfDir, 0.08)
      .select($"id1".as("u"), $"id2".as("v"))
    val cc = graft.operators.Components.connectedComponents(
      docs.select($"doc_id".as("id")), edges)
    cc.select($"node".as("doc_id"), $"component".as("cluster_id"))
      .withColumn("csize", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")))
      .withColumn("keep", $"doc_id" === $"cluster_id")
      .orderBy($"doc_id")
  }

  /** Embedding-cosine near-dup: vector pairs above a similarity threshold,
    * with the keep/drop verdict (drop iff a lower-id near-dup exists) —
    * the semantic-dedup stage of a training-data pipeline. Pair generation
    * is [[graft.operators.Similarity.cosinePairsBrute]] — deliberately the
    * undisguised O(n²) oracle twin, because exact sub-quadratic cosine-pair
    * enumeration at dim=64/t=0.8 is not achievable (projection spread
    * ~1/√d ≈ 0.125 vs cell width √(2(1−t)) ≈ 0.632 — concentration of
    * measure defeats grid/tree blocking; measured round 3). The PRODUCTION
    * path for this decision at corpus scale is q_ann_lsh: LSH-routed
    * candidates + the same exact cosine verify, trading a little recall
    * for a bucket equi-join plan. */
  def qDedupEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.df(spark, sfDir, "embeddings")
    val pairs =
      graft.operators.Similarity.cosinePairsBrute(emb, 0.8)
    val dropped = pairs.select($"id2".as("vec_id")).distinct()
      .withColumn("__dropped", lit(true))
    emb.select($"vec_id")
      .join(dropped, Seq("vec_id"), "left")
      .select($"vec_id", coalesce(!$"__dropped", lit(true)).as("keep"))
      .orderBy($"vec_id")
  }

  /** Overlapping-window document chunking — the context-window prep step
    * of a training pipeline: token windows of `size` advancing by
    * `size - overlap`, emitted one row per chunk with its index. Pure HOF
    * composition (sequence → slice → posexplode), so the fan-out stays in
    * whole-stage codegen and shuffles nothing. */
  def qChunk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val chunkSize = 30; val overlap = 10; val stride = chunkSize - overlap
    val docs = Tables.df(spark, sfDir, "documents")
      .filter($"doc_id" % 20 === 0)
    docs.select($"doc_id", TextFunctions.tokens($"text").as("T"))
      .filter(size($"T") > 0)
      .select($"doc_id", posexplode(
        transform(sequence(lit(0), size($"T") - 1, lit(stride)),
          st => slice($"T", st + 1, lit(chunkSize)))))
      .select($"doc_id", $"pos".cast("int").as("chunk_idx"),
        size($"col").as("n_tok"),
        array_join($"col", " ").as("chunk_text"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** PII-style redaction pass — the scrub step every released training set
    * runs: email replacement, digit masking, pattern extraction. The PII
    * line is synthesized deterministically from fixture columns (the
    * fixtures carry no real contact fields), and every regex is codegen'd
    * per row; no shuffle at all. */
  def qRedact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val line = concat($"c_name", lit(" <user"),
      $"c_custkey".cast("string"), lit("@example.com> +1-"),
      $"c_nationkey".cast("string"), lit("-"),
      $"c_custkey".cast("string"))
    Tables.df(spark, sfDir, "customer")
      .filter($"c_custkey" % 40 === 0)
      .withColumn("pii", line)
      .select($"c_custkey",
        regexp_replace($"pii", "[a-z0-9.]+@[a-z0-9.]+", "[EMAIL]")
          .as("no_email"),
        regexp_replace($"pii", "[0-9]", "X").as("masked"),
        regexp_extract($"pii", "@([a-z.]+)>", 1).as("domain"),
        length(regexp_replace($"pii", "[^0-9]", "")).as("n_digits"),
        ($"pii" rlike "\\+[0-9]+-").as("has_phone"))
      .orderBy($"c_custkey")
  }

  /** Keyword-lexicon sentiment scoring (SURVEY §2.11's last text-analysis
    * row; cf. the EDBT-2016 Spark sentiment pattern): explode tokens, join
    * a broadcast lexicon, sum per doc, label by sign. Scores are dyadic
    * (k/2) so the floating sums are exact and hash-stable across engines.
    * At 100 TB the lexicon is still a broadcast and the shuffle is one
    * doc-keyed partial aggregation. */
  def qSentiment(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lexicon = Seq(
      ("fast", 2.0), ("small", 1.0), ("big", 0.5),
      ("slow", -2.0), ("dup", -1.0), ("filter", 0.5)
    ).toDF("tok", "score")
    val docs = Tables.df(spark, sfDir, "documents")
    val hits = docs
      .select($"doc_id", explode(TextFunctions.tokens($"text")).as("tok"))
      .join(broadcast(lexicon), Seq("tok"))
      .groupBy($"doc_id")
      .agg(sum($"score").as("sentiment"), count(lit(1)).as("n_hits"))
    docs.select($"doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"sentiment", lit(0.0)).as("sentiment"),
        coalesce($"n_hits", lit(0L)).as("n_hits"))
      .withColumn("label",
        when($"sentiment" > 0.5, "pos")
          .when($"sentiment" < -0.5, "neg").otherwise("neutral"))
      .orderBy($"doc_id")
  }

  /** Benchmark decontamination — the held-out-set hygiene step of every
    * training pipeline: a document is contaminated iff it shares any
    * 5-gram shingle with the benchmark set (stood in for here by the
    * `doc_id % 97 = 0` docs — the decision logic is identical for a real
    * eval set). Shape at 100 TB: the benchmark shingle set is tiny and
    * broadcast, the corpus side meets it in a LEFT SEMI equi-join on the
    * shingle string right above the scan — no corpus self-join, no
    * all-to-all; the fixture's planted near-duplicates give the decision
    * real positives. */
  def qDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    // explicit-count keyed repartition before the expensive 5-gram HOF
    // fan-out: the fixture table is one parquet row-group, so the whole
    // shingle construction otherwise runs in the single scan task (and
    // AQE would coalesce an unpinned keyed repartition of 5k small rows
    // right back to one partition). Measured r7 under the noop-sink
    // bench: 3.0 → ~1 s at sf0.1. Same rows, oracle untouched.
    val sh = docs
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
      .select($"doc_id",
        explode(TextFunctions.shingles($"text", 5)).as("s"))
    val bench = sh.filter($"doc_id" % 97 === 0).select($"s").distinct()
    val flagged = sh.filter($"doc_id" % 97 =!= 0)
      .join(broadcast(bench), Seq("s"), "left_semi")
      .select($"doc_id").distinct()
      .withColumn("__hit", lit(true))
    docs.filter($"doc_id" % 97 =!= 0).select($"doc_id")
      .join(flagged, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"__hit", lit(false)).as("contaminated"))
      .orderBy($"doc_id")
  }

  /** Gopher-style repetition filter: per-document duplicate-token ratio
    * (1 − distinct/total) and top-token fraction, with the keep verdict.
    * Two doc-keyed aggregations — fully partial-aggregable, no self-join;
    * the quality-filter family's repetition axis (q_quality covers the
    * length/punctuation/stopword axes). */
  def qRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val stats = docs
      .select($"doc_id", explode(TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(
        sum($"c").as("n_tok"),
        count(lit(1)).as("n_distinct"),
        max($"c").as("top_c"))
    docs.select($"doc_id")
      .join(stats, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_tok", lit(0L)).as("n_tok"),
        round(coalesce(
          lit(1.0) - $"n_distinct".cast("double") / $"n_tok",
          lit(0.0)), 6).as("dup_ratio"),
        round(coalesce(
          $"top_c".cast("double") / $"n_tok", lit(0.0)), 6)
          .as("top_ratio"))
      .withColumn("keep", $"dup_ratio" <= 0.3 && $"top_ratio" <= 0.2)
      .orderBy($"doc_id")
  }

  /** Incremental batch-vs-corpus dedup — the shape a production ingest
    * pipeline actually runs: a NEW batch (doc_id % 7 = 3 stands in for
    * "today's crawl") is checked against the existing corpus only, never
    * against itself, and each batch doc is labeled `exact` (md5(text)
    * already in the corpus), `near` (some corpus doc within SimHash
    * Hamming ≤ 3, retrieved via the Manku 4×16-bit band equi-join — the
    * same index [[qSimhashNear]] builds), or `new`. Both probes are
    * batch-side-small joins: at 100 TB the corpus side is the standing
    * md5/fingerprint index (vocabulary-thin, id + 16 bytes), the batch
    * side is a day's crawl, and nothing ever pairs corpus×corpus. The
    * fixture has no exact text duplicates, so `exact` is latently
    * exercised (the branch is still plan-checked and oracled); near/new
    * both fire. */
  def qDedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val isBatch = col("doc_id") % 7 === 3
    val docs = Tables.df(spark, sfDir, "documents")
    val h = docs.select($"doc_id", md5($"text").as("h"))
    val exactIds = h.filter(isBatch)
      .join(h.filter(!isBatch).select($"h").distinct(), "h")
      .select($"doc_id").distinct()
    val fps = md5SimhashFps(spark, sfDir).localCheckpoint()
    def bands(df: DataFrame) = df
      .select($"doc_id", $"fp", explode(sequence(lit(0), lit(3))).as("b"))
      .select($"doc_id", $"fp", $"b",
        expr("shiftright(fp, 16 * b) & 65535").as("bk"))
    val nearIds = bands(fps.filter(isBatch))
      .select($"doc_id", $"fp".as("fp1"), $"b", $"bk")
      .join(bands(fps.filter(!isBatch))
        .select($"fp".as("fp2"), $"b", $"bk"), Seq("b", "bk"))
      .filter(expr("bit_count(fp1 ^ fp2)") <= 3)
      .select($"doc_id").distinct()
    docs.filter(isBatch).select($"doc_id")
      .join(exactIds.withColumn("ex", lit(1)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("nr", lit(1)), Seq("doc_id"), "left")
      .select($"doc_id",
        when($"ex" === 1, "exact").when($"nr" === 1, "near")
          .otherwise("new").as("status"))
      .orderBy($"doc_id")
  }

  /** Normalization-sensitive dedup delta: exact-hash duplicate counts on
    * the raw text vs on its canonical form (lowercase, punctuation
    * stripped, whitespace collapsed, trimmed) — the report that tells a
    * curation pipeline how many "distinct" documents are really just
    * case/punctuation variants, per source. Both passes are one
    * md5-keyed aggregate; the normalizer is a pure regexp projection the
    * DuckDB oracle mirrors pattern-for-pattern (char classes only — no
    * dialect-divergent regex features). Scale: two thin
    * (source, hash)-keyed counts, no joins wider than the source spine. */
  def qNormDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
      .select($"source", $"text",
        trim(regexp_replace(
          regexp_replace(lower($"text"), "[^a-z0-9 ]", ""),
          "  +", " ")).as("norm"))
    def dupCount(c: Column, name: String): DataFrame =
      docs.groupBy($"source", md5(c).as("h"))
        .agg(count(lit(1)).as("c"))
        .groupBy($"source")
        .agg(sum($"c").as("n_docs_" + name),
          sum($"c" - 1).as("dup_" + name))
    dupCount($"text", "raw")
      .join(dupCount($"norm", "norm").withColumnRenamed("n_docs_norm", "nd2"),
        "source")
      .select($"source", $"n_docs_raw".as("n_docs"), $"dup_raw",
        $"dup_norm", ($"dup_norm" - $"dup_raw").as("extra_norm_dups"))
      .orderBy($"source")
  }

  /** Uncertainty sampling for active learning: the 20 documents whose
    * language-ID decision is least confident — margin = top1 − top2 of
    * the five marker scores — are the ones a labeling budget should buy
    * first. Margins are exact integers (marker counts), so the ranking
    * itself hash-checks; the second-best score comes from a descending
    * sort_array (list_sort in the oracle), not nested greatest/least.
    * Pure per-row projection + distributed top-k. */
  def qUncertainty(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val scores = TextFunctions.langMarkers.map { case (l, m) =>
      l -> TextFunctions.langScore($"text", m)
    }
    val arr = array(scores.map(_._2.cast("int")): _*)
    Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"lang",
        TextFunctions.langId($"text").as("pred"),
        element_at(sort_array(arr, asc = false), 1).as("top1"),
        element_at(sort_array(arr, asc = false), 2).as("top2"))
      .select($"doc_id", $"lang", $"pred",
        ($"top1" - $"top2").as("margin"), $"top1", $"top2")
      .orderBy($"margin".asc, $"doc_id".asc)
      .limit(20)
  }

  /** 5-fold cross-validated language-ID accuracy with fold variance —
    * the evaluation discipline that turns a single accuracy number into
    * accuracy ± noise: folds come from the family's md5 coin (identical
    * to q_kfold's), the per-fold metric is exact-integer agreement, and
    * the cross-fold mean/std derive from decimal pre-sums. Everything
    * after the per-doc projection runs on the 5-row fold relation. */
  def qCvMetric(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val folds = Tables.df(spark, sfDir, "documents")
      .select($"lang", TextFunctions.langId($"text").as("pred"),
        (conv(substring(md5(concat(lit("fold:"),
          $"doc_id".cast("string"))), 1, 15), 16, 10).cast("long") % 5)
          .cast("int").as("fold"))
      .groupBy($"fold")
      .agg(count(lit(1)).as("n"),
        sum(when($"pred" === $"lang", 1L).otherwise(0L)).as("n_correct"))
      .select($"fold", $"n", $"n_correct",
        round($"n_correct".cast("double") / $"n", 6).as("acc"))
    val cv = folds.agg(count(lit(1)).as("k"),
        sum($"acc".cast(dec18_6)).as("sa"),
        sum(round($"acc" * $"acc", 9)
          .cast(dec18_9)).as("sa2"))
      .select(round($"sa".cast("double") / $"k", 6).as("cv_mean"),
        round(sqrt(($"sa2".cast("double")
          - $"sa".cast("double") * $"sa".cast("double") / $"k")
          / ($"k" - 1)), 6).as("cv_std"))
    folds.crossJoin(broadcast(cv))
      .orderBy($"fold")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_uncertainty" -> qUncertainty,
    "q_cv_metric" -> qCvMetric,
    "q_norm_dedup" -> qNormDedup,
    "q_dedup_incremental" -> qDedupIncremental,
    "q_decontaminate" -> qDecontaminate,
    "q_repetition" -> qRepetition,
    "q_sentiment" -> qSentiment,
    "q_chunk" -> qChunk,
    "q_redact" -> qRedact,
    "q_dedup_ngram" -> qDedupNgram,
    "q_dedup_cluster" -> qDedupCluster,
    "q_perplexity" -> qPerplexity,
    "q_perplexity_bigram" -> qPerplexityBigram,
    "q_simhash_md5" -> qSimhashMd5,
    "q_simhash_near" -> qSimhashNear,
    "q_minhash_md5" -> qMinhashMd5,
    "q_fuzzy_dist" -> qFuzzyDist,
    "q_dedup_embedding" -> qDedupEmbedding,
    "q_dedup_exact" -> qDedupExact,
    "q_dedup_jaccard" -> qDedupJaccard,
    "q_dedup_simhash" -> qDedupSimhash,
    "q_dedup_minhash" -> qDedupMinhash,
    "q_lang_id" -> qLangId,
    "q_lang_confusion" -> qLangConfusion,
    "q_quality" -> qQuality,
    "q_quality_sweep" -> qQualitySweep,
    "q_blocking_eval" -> qBlockingEval,
    "q_token_count" -> qTokenCount,
    "q_tok_fertility" -> qTokFertility,
    "q_fingerprint" -> qFingerprint,
    "q_tfidf" -> qTfIdf
  )

  private val toksSql =
    "list_filter(string_split(lower(text), ' '), x -> x != '')"
  private val tokSetSql = s"list_distinct($toksSql)"

  /** The q_quality composite score as one SQL expression over a `text`
    * column — shared by the q_quality_sweep oracle and CurateOps's
    * end-to-end curation funnel so the gate definition cannot drift
    * from the standalone op (TextFunctions.qualityScore is the Spark
    * home; this is its oracle twin). */
  private[queries] def qualityScoreSql: String =
    s"""round(0.5 * least(CAST(len($toksSql) AS INT) / 20.0, 1.0)
       |        + 0.3 * least((CAST(len(list_filter($toksSql,
       |            x -> list_contains(['the','a','is','and','of','to',
       |              'in','that','it'], x))) AS DOUBLE)
       |            / greatest(len($toksSql), 1)) * 5.0, 1.0)
       |        + 0.2 * (1.0 - least(
       |            CAST(len(regexp_extract_all(lower(text),
       |              '[^a-z0-9 ]')) AS INT)
       |            / greatest(CAST(length(text) AS INT), 1), 1.0)), 6)"""
      .stripMargin

  /** The q_decontaminate 5-gram shingle stream over a filtered slice of
    * `documents` — shared with CurateOps's end-to-end curation funnel so
    * the contamination rule cannot drift from the standalone op. */
  private[queries] def shingleSql(pred: String): String =
    s"""SELECT doc_id, unnest(list_filter(
       |    list_transform(range(0, greatest(len(T) - 4, 1)),
       |      i -> array_to_string(T[(i+1):(i+5)], ' ')),
       |    s -> s != '')) AS s
       |  FROM (SELECT doc_id, $toksSql AS T FROM documents
       |        WHERE $pred)""".stripMargin

  /** The language-ID prediction CTE (→ relation `pr`: doc_id, lang,
    * pred) — shared by the q_lang_id and q_lang_confusion oracles so the
    * classifier definition cannot drift from its own evaluation (mirrors
    * TextFunctions.langId: marker-count argmax, en→de→es→fr→zh tie
    * order, 'und' on zero evidence). */
  /** The per-language marker-score subquery (doc_id, lang, s_en…s_zh) —
    * the shared base of every language-ID oracle here, so the scorer
    * definition cannot drift between prediction, evaluation,
    * uncertainty, and cross-validation. */
  private lazy val langScoresSub: String =
    s"""SELECT doc_id, lang,
      |      len(list_intersect(t, ['the','a','is','and','of','to'])) AS s_en,
      |      len(list_intersect(t, ['der','die','das','und','ist'])) AS s_de,
      |      len(list_intersect(t, ['el','la','los','es','y'])) AS s_es,
      |      len(list_intersect(t, ['le','la','les','est','et'])) AS s_fr,
      |      len(list_intersect(t, ['de5','shi4','le5'])) AS s_zh
      |    FROM (SELECT doc_id, lang, $tokSetSql AS t FROM documents)"""
      .stripMargin

  /** The argmax CASE over the five marker scores (mirrors
    * TextFunctions.langId's en→de→es→fr→zh tie order, 'und' on zero). */
  private val langArgmaxCase: String =
    """CASE WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'und'
      |         WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
      |         WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
      |         WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
      |         WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
      |         ELSE 'zh' END""".stripMargin

  private[queries] lazy val langPredCte: String =
    s"""pr AS (
      |  SELECT doc_id, lang,
      |    $langArgmaxCase AS pred
      |  FROM (
      |    $langScoresSub))""".stripMargin

  /** Shared CTE chain producing `f(doc_id, fp)` — the md5-SimHash
    * fingerprint table (see the q_simhash_md5 oracle comment for the
    * HUGEINT signed-fold rationale). */
  /** The md5 MinHash band-candidate CTE chain (→ relations `s` with the
    * distinct token lists and `c` with the candidate id pairs) — shared
    * by the q_minhash_md5 oracle here and CurateOps's q_minhash_eval
    * oracle so the banding rule can never drift between them (the Scala
    * side shares [[minhashMd5Candidates]] the same way). */
  private[queries] val minhashCandCtes =
    s"""s AS (
       |  SELECT doc_id, $tokSetSql AS t
       |  FROM documents WHERE doc_id % 5 = 0),
       |tk AS (SELECT doc_id, unnest(t) AS tok FROM s),
       |m AS (
       |  SELECT doc_id, i,
       |    min(('0x' || substr(md5(i::VARCHAR || ':' || tok), 1, 15))
       |        ::BIGINT) AS mh
       |  FROM tk, range(0, 8) r(i) GROUP BY doc_id, i),
       |b AS (
       |  SELECT doc_id, i // 2 AS band,
       |    min(CASE WHEN i % 2 = 0 THEN mh END) AS m0,
       |    min(CASE WHEN i % 2 = 1 THEN mh END) AS m1
       |  FROM m GROUP BY doc_id, i // 2),
       |c AS (
       |  SELECT DISTINCT a.doc_id AS id1, bb.doc_id AS id2
       |  FROM b a JOIN b bb ON a.band = bb.band
       |    AND a.m0 = bb.m0 AND a.m1 = bb.m1 AND a.doc_id < bb.doc_id)""".stripMargin

  private[queries] val simhashFpCtes =
    s"""t AS (
      |  SELECT doc_id,
      |    CASE WHEN hu >= 9223372036854775808::HUGEINT
      |         THEN (hu - 18446744073709551616::HUGEINT)::BIGINT
      |         ELSE hu::BIGINT END AS h
      |  FROM (SELECT doc_id,
      |          ((('0x' || substr(md5(tok), 1, 8))::BIGINT)::HUGEINT
      |            << 32)
      |            | (('0x' || substr(md5(tok), 9, 8))::BIGINT)::HUGEINT
      |            AS hu
      |        FROM (SELECT doc_id, unnest($tokSetSql) AS tok
      |              FROM documents))),
      |d AS (SELECT doc_id, list(h) AS hs FROM t GROUP BY doc_id),
      |f0 AS (
      |  SELECT doc_id, list_sum(list_transform(range(0, 64), b ->
      |    CASE WHEN list_sum(list_transform(hs, h ->
      |           CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |    THEN (1::HUGEINT << b) ELSE 0::HUGEINT END)) AS fpu
      |  FROM d),
      |f AS (SELECT doc_id,
      |  CASE WHEN fpu >= 9223372036854775808::HUGEINT
      |       THEN (fpu - 18446744073709551616::HUGEINT)::BIGINT
      |       ELSE fpu::BIGINT END AS fp FROM f0)""".stripMargin

  val oracle: Map[String, String] = Map(
    // same marker scores, same argmax, same integer margins from a
    // descending list sort and (margin, doc_id) top-20
    "q_uncertainty" ->
      (s"""WITH sc AS (
        |  $langScoresSub),
        |pr AS (
        |  SELECT doc_id, lang,
        |    $langArgmaxCase AS pred,
        |    CAST(list_sort([s_en, s_de, s_es, s_fr, s_zh], 'DESC')[1]
        |      AS INT) AS top1,
        |    CAST(list_sort([s_en, s_de, s_es, s_fr, s_zh], 'DESC')[2]
        |      AS INT) AS top2
        |  FROM sc)
        |SELECT doc_id, lang, pred, top1 - top2 AS margin, top1, top2
        |FROM pr
        |ORDER BY margin ASC, doc_id ASC LIMIT 20""".stripMargin),

    // same md5 fold coin as q_kfold, same exact-integer agreement and
    // decimal pre-sum cross-fold moments
    "q_cv_metric" ->
      (s"""WITH sc AS (
        |  $langScoresSub),
        |pr AS (
        |  SELECT doc_id, lang,
        |    $langArgmaxCase AS pred
        |  FROM sc),
        |folds AS (
        |  SELECT CAST(('0x' || substr(md5('fold:'
        |      || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5 AS INT)
        |      AS fold,
        |    count(*) AS n,
        |    CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_correct
        |  FROM pr GROUP BY 1),
        |f2 AS (
        |  SELECT fold, n, n_correct,
        |    round(CAST(n_correct AS DOUBLE) / n, 6) AS acc
        |  FROM folds),
        |cv AS (
        |  SELECT count(*) AS k,
        |    CAST(sum(CAST(acc AS DECIMAL(18,6))) AS DOUBLE) AS sa,
        |    CAST(sum(CAST(round(acc * acc, 9) AS DECIMAL(18,9)))
        |      AS DOUBLE) AS sa2
        |  FROM f2),
        |cv2 AS (
        |  SELECT round(sa / k, 6) AS cv_mean,
        |    round(sqrt((sa2 - sa * sa / k) / (k - 1)), 6) AS cv_std
        |  FROM cv)
        |SELECT f2.fold, f2.n, f2.n_correct, f2.acc, cv2.cv_mean,
        |  cv2.cv_std
        |FROM f2 CROSS JOIN cv2
        |ORDER BY f2.fold""".stripMargin),

    // same two md5-keyed (source, hash) counts; the normalizer regexes
    // are char-class-only so both dialects apply them identically
    // (DuckDB needs the explicit 'g' flag Spark applies by default)
    "q_norm_dedup" ->
      """WITH d AS (
        |  SELECT source, text,
        |    trim(regexp_replace(
        |      regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |      '  +', ' ', 'g')) AS norm
        |  FROM documents),
        |raw AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |    CAST(sum(c - 1) AS BIGINT) AS dup_raw
        |  FROM (SELECT source, md5(text) AS h, count(*) AS c
        |        FROM d GROUP BY 1, 2) GROUP BY source),
        |nrm AS (
        |  SELECT source, CAST(sum(c - 1) AS BIGINT) AS dup_norm
        |  FROM (SELECT source, md5(norm) AS h, count(*) AS c
        |        FROM d GROUP BY 1, 2) GROUP BY source)
        |SELECT raw.source, raw.n_docs, raw.dup_raw, nrm.dup_norm,
        |  nrm.dup_norm - raw.dup_raw AS extra_norm_dups
        |FROM raw JOIN nrm USING (source)
        |ORDER BY raw.source""".stripMargin,

    "q_sentiment" ->
      s"""WITH lex(tok, score) AS (VALUES
        |  ('fast', 2.0), ('small', 1.0), ('big', 0.5),
        |  ('slow', -2.0), ('dup', -1.0), ('filter', 0.5)),
        |t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
        |h AS (SELECT doc_id, CAST(SUM(score) AS DOUBLE) AS sentiment,
        |        CAST(COUNT(*) AS BIGINT) AS n_hits
        |      FROM t JOIN lex USING (tok) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(h.sentiment, 0.0) AS sentiment,
        |  COALESCE(h.n_hits, 0) AS n_hits,
        |  CASE WHEN COALESCE(h.sentiment, 0.0) > 0.5 THEN 'pos'
        |       WHEN COALESCE(h.sentiment, 0.0) < -0.5 THEN 'neg'
        |       ELSE 'neutral' END AS label
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN h USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_chunk" ->
      s"""WITH d AS (
        |  SELECT doc_id, $toksSql AS T
        |  FROM documents WHERE doc_id % 20 = 0),
        |c AS (
        |  SELECT doc_id, T, unnest(range(0, len(T), 20)) AS st
        |  FROM d WHERE len(T) > 0)
        |SELECT doc_id, CAST(st // 20 AS INT) AS chunk_idx,
        |  CAST(len(T[st+1 : st+30]) AS INT) AS n_tok,
        |  array_to_string(T[st+1 : st+30], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_redact" ->
      """WITH p AS (
        |  SELECT c_custkey,
        |    c_name || ' <user' || CAST(c_custkey AS VARCHAR)
        |      || '@example.com> +1-' || CAST(c_nationkey AS VARCHAR)
        |      || '-' || CAST(c_custkey AS VARCHAR) AS pii
        |  FROM customer WHERE c_custkey % 40 = 0)
        |SELECT c_custkey,
        |  regexp_replace(pii, '[a-z0-9.]+@[a-z0-9.]+', '[EMAIL]')
        |    AS no_email,
        |  regexp_replace(pii, '[0-9]', 'X', 'g') AS masked,
        |  regexp_extract(pii, '@([a-z.]+)>', 1) AS domain,
        |  CAST(length(regexp_replace(pii, '[^0-9]', '', 'g')) AS INT)
        |    AS n_digits,
        |  regexp_matches(pii, '\+[0-9]+-') AS has_phone
        |FROM p ORDER BY c_custkey""".stripMargin,

    "q_decontaminate" ->
      s"""WITH sh AS (
        |  ${shingleSql("TRUE")}),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
        |SELECT d.doc_id,
        |  d.doc_id IN (SELECT DISTINCT doc_id FROM sh
        |               WHERE doc_id % 97 <> 0 AND s IN (SELECT s FROM bench))
        |    AS contaminated
        |FROM documents d WHERE d.doc_id % 97 <> 0
        |ORDER BY d.doc_id""".stripMargin,

    "q_repetition" ->
      s"""WITH t AS (
        |  SELECT doc_id, unnest(T) AS tok
        |  FROM (SELECT doc_id, $toksSql AS T FROM documents)),
        |c AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
        |s AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
        |        COUNT(*) AS n_distinct, MAX(c) AS top_c
        |      FROM c GROUP BY doc_id),
        |r AS (
        |  SELECT d.doc_id,
        |    COALESCE(s.n_tok, 0) AS n_tok,
        |    round(COALESCE(1.0 - CAST(s.n_distinct AS DOUBLE) / s.n_tok,
        |      0.0), 6) AS dup_ratio,
        |    round(COALESCE(CAST(s.top_c AS DOUBLE) / s.n_tok, 0.0), 6)
        |      AS top_ratio
        |  FROM documents d LEFT JOIN s USING (doc_id))
        |SELECT doc_id, n_tok, dup_ratio, top_ratio,
        |  dup_ratio <= 0.3 AND top_ratio <= 0.2 AS keep
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_dedup_ngram" ->
      s"""WITH sh AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    list_transform(range(0, greatest(len(T) - 1, 1)),
        |      i -> array_to_string(T[(i+1):(i+2)], ' ')),
        |    s -> s != '')) AS t
        |  FROM (SELECT doc_id, $toksSql AS T
        |        FROM documents WHERE doc_id % 10 = 0)),
        |p AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
        |      / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id1, COUNT(*) AS n_partners, round(MAX(j), 6) AS max_j
        |FROM p WHERE j >= 0.5
        |GROUP BY id1 ORDER BY id1""".stripMargin,

    // adjacent pairs via list_transform(range(...)) (DuckDB's range can't
    // lateral-join on a column, but the scalar list form can); same
    // decimal pre-sum rounding as q_perplexity
    "q_perplexity_bigram" ->
      s"""WITH s0 AS (SELECT doc_id, $toksSql AS T FROM documents
        |            WHERE len($toksSql) >= 2),
        |t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
        |uni AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
        |n AS (SELECT count(*) AS n_total FROM t),
        |bi AS (SELECT doc_id, p[1] AS prev, p[2] AS cur FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(T)),
        |    i -> [T[i], T[i+1]])) AS p FROM s0)),
        |bc AS (SELECT prev, cur, count(*) AS bcnt FROM bi
        |       GROUP BY prev, cur),
        |ctx AS (SELECT prev, count(*) AS ccnt FROM bi GROUP BY prev),
        |lp AS (
        |  SELECT b.doc_id,
        |    CAST(round(ln(
        |      CAST(0.7 AS DOUBLE) * (bc.bcnt / ctx.ccnt)
        |      + CAST(0.3 AS DOUBLE) * (uni.cnt / n.n_total)), 6)
        |      AS DECIMAL(18,6)) AS lp
        |  FROM bi b
        |  JOIN bc ON bc.prev = b.prev AND bc.cur = b.cur
        |  JOIN ctx ON ctx.prev = b.prev
        |  JOIN uni ON uni.tok = b.cur
        |  CROSS JOIN n),
        |s AS (SELECT doc_id, count(*) AS n_scored, SUM(lp) AS slp
        |      FROM lp GROUP BY doc_id)
        |SELECT doc_id, n_scored,
        |  -CAST(slp AS DOUBLE) / n_scored AS nll,
        |  -CAST(slp AS DOUBLE) / n_scored <= 3.45 AS keep
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_fuzzy_dist" ->
      """WITH s AS (
        |  SELECT doc_id, substr(text, 1, 80) AS t, n_chars
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(levenshtein(a.t, b.t) AS INT) AS d,
        |  CAST(1 AS DOUBLE)
        |    - levenshtein(a.t, b.t) / CAST(80 AS DOUBLE) AS prefix_sim
        |FROM s a JOIN s b
        |  ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 40
        |ORDER BY id1, id2""".stripMargin,

    // identical 60-bit md5 min-hashes and banding in both engines; the
    // Jaccard verify mirrors q_dedup_jaccard's list_intersect form
    "q_minhash_md5" ->
      s"""WITH $minhashCandCtes,
        |v AS (
        |  SELECT id1, id2,
        |    CAST(len(list_intersect(sa.t, sb.t)) AS DOUBLE)
        |      / (len(sa.t) + len(sb.t) - len(list_intersect(sa.t, sb.t)))
        |      AS j
        |  FROM c JOIN s sa ON sa.doc_id = id1 JOIN s sb ON sb.doc_id = id2)
        |SELECT id1, id2, round(j, 6) AS j FROM v WHERE j >= 0.2
        |ORDER BY id1, id2""".stripMargin,

    // 64-bit token hash = first 16 hex chars of md5. Spark's shiftleft
    // wraps silently into the signed bit pattern; DuckDB raises on shift
    // overflow, so the unsigned assembly and the bit-sum run in HUGEINT
    // and fold back to signed BIGINT (x >= 2^63 → x - 2^64) — verified
    // bit-identical against an independent reference implementation
    // NOTE: concatenation, not interpolation-into-stripMargin — the CTE
    // body contains lines whose first non-blank char is the bitwise `|`,
    // which a second stripMargin pass would eat
    "q_simhash_md5" ->
      (s"WITH $simhashFpCtes\n" +
        """SELECT fp, COUNT(*) AS bucket_size
          |FROM f GROUP BY fp ORDER BY fp""".stripMargin),

    // same fp table; band keys extract identically because both engines'
    // arithmetic >> followed by & 65535 yields the same 16 bits, and
    // bit_count counts the two's-complement pattern in both
    // same fp table split batch/corpus; the exact probe is a plain md5
    // semi-join and the near probe the identical band retrieval
    "q_dedup_incremental" ->
      (s"WITH $simhashFpCtes,\n" +
        """bh AS (SELECT doc_id, md5(text) AS h
          |       FROM documents WHERE doc_id % 7 = 3),
          |ch AS (SELECT DISTINCT md5(text) AS h
          |       FROM documents WHERE doc_id % 7 != 3),
          |ex AS (SELECT DISTINCT doc_id FROM bh JOIN ch USING (h)),
          |bb AS (SELECT doc_id, fp, b, (fp >> (16 * b)) & 65535 AS bk
          |       FROM f, range(0, 4) r(b) WHERE doc_id % 7 = 3),
          |cb AS (SELECT fp AS fp2, b, (fp >> (16 * b)) & 65535 AS bk
          |       FROM f, range(0, 4) r(b) WHERE doc_id % 7 != 3),
          |nr AS (SELECT DISTINCT bb.doc_id
          |       FROM bb JOIN cb ON bb.b = cb.b AND bb.bk = cb.bk
          |       WHERE bit_count(xor(bb.fp, cb.fp2)) <= 3)
          |SELECT d.doc_id,
          |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
          |       WHEN nr.doc_id IS NOT NULL THEN 'near'
          |       ELSE 'new' END AS status
          |FROM documents d
          |LEFT JOIN ex ON d.doc_id = ex.doc_id
          |LEFT JOIN nr ON d.doc_id = nr.doc_id
          |WHERE d.doc_id % 7 = 3
          |ORDER BY d.doc_id""".stripMargin),

    "q_simhash_near" ->
      (s"WITH $simhashFpCtes,\n" +
        """bands AS (
          |  SELECT doc_id, fp, b, (fp >> (16 * b)) & 65535 AS bk
          |  FROM f, range(0, 4) r(b)),
          |cand AS (
          |  SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2,
          |    a.fp AS fp1, c.fp AS fp2
          |  FROM bands a JOIN bands c
          |    ON a.b = c.b AND a.bk = c.bk AND a.doc_id < c.doc_id)
          |SELECT id1, id2, CAST(bit_count(xor(fp1, fp2)) AS INT) AS hamming
          |FROM cand WHERE bit_count(xor(fp1, fp2)) <= 3
          |ORDER BY id1, id2""".stripMargin),

    // per-token log-probs rounded to DECIMAL(18,6) BEFORE the per-doc sum,
    // so the summation is exact and order-independent in both engines;
    // ln() 1-ulp libm drift is absorbed by the 6-decimal round
    "q_perplexity" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
        |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
        |n AS (SELECT count(*) AS n_total FROM t),
        |lp AS (SELECT tok, CAST(round(ln(cnt / n_total), 6)
        |         AS DECIMAL(18,6)) AS lp FROM c, n),
        |s AS (SELECT doc_id, count(*) AS n_toks, SUM(lp) AS slp
        |      FROM t JOIN lp USING (tok) GROUP BY doc_id)
        |SELECT doc_id, n_toks,
        |  -CAST(slp AS DOUBLE) / n_toks AS nll,
        |  -CAST(slp AS DOUBLE) / n_toks <= 3.41 AS keep
        |FROM s ORDER BY doc_id""".stripMargin,

    // min-reachable-label via recursive CTE == component minimum: the edge
    // set is symmetric, so the transitive closure reaches the whole
    // component and MIN over it is exactly the star root Spark converges to
    "q_dedup_cluster" ->
      s"""WITH RECURSIVE s0 AS (
        |  SELECT doc_id, $toksSql AS T
        |  FROM documents WHERE doc_id % 10 = 0),
        |s AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    list_transform(range(0, greatest(len(T) - 1, 1)),
        |      i -> array_to_string(T[(i+1):(i+2)], ' ')),
        |    x -> x != '')) AS t
        |  FROM s0),
        |p AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
        |    / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)))
        |    >= 0.08),
        |e AS (SELECT id1 AS u, id2 AS v FROM p
        |      UNION ALL SELECT id2, id1 FROM p),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM s
        |  UNION
        |  SELECT e.v, r.lbl FROM reach r JOIN e ON e.u = r.node),
        |lab AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
        |SELECT node AS doc_id, cluster_id,
        |  COUNT(*) OVER (PARTITION BY cluster_id) AS csize,
        |  node = cluster_id AS keep
        |FROM lab ORDER BY doc_id""".stripMargin,

    "q_dedup_embedding" ->
      """WITH p AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])), 6) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT e.vec_id,
        |  e.vec_id NOT IN (SELECT id2 FROM p WHERE sim >= 0.8) AS keep
        |FROM embeddings e ORDER BY e.vec_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT COUNT(*) AS n_total, COUNT(DISTINCT text) AS n_survivors
        |FROM documents""".stripMargin,

    // NOTE (ADVICE r7): the Spark side computes Jaccard over
    // xxhash64-HASHED token sets (Dedup.jaccardPairs) while this oracle
    // intersects the raw STRING sets — equality holds only absent a
    // 64-bit hash collision inside one pair's union (~2^-64 per pair).
    // If this row ever hash-flakes, suspect a collision before a logic
    // bug: re-run with the hash removed on the Spark side first.
    "q_dedup_jaccard" ->
      s"""WITH d AS (
        |  SELECT doc_id, $tokSetSql AS t
        |  FROM documents WHERE doc_id % 5 = 0),
        |p AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
        |        / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) >= 0.9)
        |SELECT d.doc_id,
        |  COALESCE(c.n, 0) AS n_partners,
        |  d.doc_id NOT IN (SELECT id2 FROM p) AS keep
        |FROM d
        |LEFT JOIN (SELECT doc_id, COUNT(*) AS n FROM
        |  (SELECT id1 AS doc_id FROM p UNION ALL SELECT id2 FROM p)
        |  GROUP BY doc_id) c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_lang_id" ->
      (s"WITH $langPredCte" + """
        |SELECT doc_id, lang, pred, pred = lang AS agree
        |FROM pr ORDER BY doc_id""".stripMargin),

    // same prediction CTE; tiny-relation metric arithmetic, F1 from the
    // once-rounded P and R (lateral aliases), NULL where undefined
    "q_lang_confusion" ->
      (s"WITH $langPredCte" + """,
        |cm AS (SELECT lang, pred, count(*) AS n FROM pr GROUP BY 1, 2),
        |bt AS (
        |  SELECT lang, CAST(SUM(n) AS BIGINT) AS support,
        |    CAST(SUM(CASE WHEN pred = lang THEN n ELSE 0 END) AS BIGINT)
        |      AS tp
        |  FROM cm GROUP BY 1),
        |bp AS (
        |  SELECT pred, CAST(SUM(n) AS BIGINT) AS predicted
        |  FROM cm GROUP BY 1)
        |SELECT bt.lang, support, tp,
        |  COALESCE(predicted, 0) AS predicted,
        |  CASE WHEN COALESCE(predicted, 0) > 0
        |    THEN round(CAST(tp AS DOUBLE) / predicted, 6) END AS prec,
        |  round(CAST(tp AS DOUBLE) / support, 6) AS rec,
        |  CASE WHEN prec IS NOT NULL AND prec + rec > 0
        |    THEN round(2 * prec * rec / (prec + rec), 6) END AS f1
        |FROM bt LEFT JOIN bp ON bp.pred = bt.lang
        |ORDER BY bt.lang""".stripMargin),

    // same arithmetic candidate count from the length histogram; truth
    // = brute raw-string J >= 0.8 pairs (the prefixPairs standing
    // collision-free assumption, zero-token docs dropped both sides)
    "q_blocking_eval" ->
      s"""WITH d AS (SELECT doc_id, n_chars FROM documents
        |  WHERE doc_id % 3 = 0),
        |hist AS (
        |  SELECT n_chars AS len, count(*) AS cnt FROM d GROUP BY 1),
        |ntot AS (SELECT count(*) AS n FROM d),
        |same AS (
        |  SELECT CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS c_same
        |  FROM hist),
        |crossb AS (
        |  SELECT CAST(COALESCE(sum(a.cnt * b.cnt), 0) AS BIGINT)
        |    AS c_cross
        |  FROM hist a JOIN hist b
        |    ON a.len < b.len AND b.len - a.len <= 40),
        |sh AS (
        |  SELECT doc_id, $tokSetSql AS t FROM documents
        |  WHERE doc_id % 3 = 0 AND len($tokSetSql) > 0),
        |tp AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
        |    / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)))
        |    >= 0.8),
        |tr AS (
        |  SELECT count(*) AS n_truth,
        |    CAST(sum(CASE WHEN abs(d1.n_chars - d2.n_chars) <= 40
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_truth_cand
        |  FROM tp JOIN d d1 ON d1.doc_id = tp.id1
        |  JOIN d d2 ON d2.doc_id = tp.id2)
        |SELECT n * (n - 1) // 2 AS n_pairs,
        |  c_same + c_cross AS n_cand, n_truth,
        |  round(1.0 - CAST(c_same + c_cross AS DOUBLE)
        |    / (n * (n - 1) // 2), 6) AS reduction_ratio,
        |  CASE WHEN n_truth > 0 THEN
        |    round(CAST(n_truth_cand AS DOUBLE) / n_truth, 6) END
        |    AS pair_completeness,
        |  CASE WHEN c_same + c_cross > 0 THEN
        |    round(CAST(n_truth_cand AS DOUBLE) / (c_same + c_cross), 6)
        |    END AS pairs_quality
        |FROM ntot CROSS JOIN same CROSS JOIN crossb CROSS JOIN tr""".stripMargin,

    // the q_quality score formula verbatim, swept over three cuts
    "q_quality_sweep" ->
      s"""WITH sc AS (
        |  SELECT
        |    $qualityScoreSql
        |      AS score,
        |    CAST(len($toksSql) AS BIGINT) AS n_tok
        |  FROM documents),
        |x AS (
        |  SELECT score, n_tok, unnest([0.3, 0.5, 0.7]) AS thr FROM sc),
        |g AS (
        |  SELECT thr, count(*) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS tokens_total,
        |    CAST(sum(CASE WHEN score >= thr THEN 1 ELSE 0 END) AS BIGINT)
        |      AS docs_kept,
        |    CAST(sum(CASE WHEN score >= thr THEN n_tok ELSE 0 END)
        |      AS BIGINT) AS tokens_kept,
        |    sum(CASE WHEN score >= thr
        |      THEN CAST(score AS DECIMAL(18,6)) END) AS s_kept
        |  FROM x GROUP BY thr)
        |SELECT thr, docs_kept,
        |  round(CAST(docs_kept AS DOUBLE) / n_docs, 6) AS frac_docs,
        |  tokens_kept,
        |  round(CAST(tokens_kept AS DOUBLE) / tokens_total, 6)
        |    AS frac_tokens,
        |  CASE WHEN docs_kept > 0 THEN
        |    round(CAST(s_kept AS DOUBLE) / docs_kept, 6) END
        |    AS mean_score_kept
        |FROM g ORDER BY thr""".stripMargin,

    "q_quality" ->
      s"""SELECT doc_id, n_tok, avg_len, round(stop_raw, 6) AS stop_ratio,
        |  punct_cnt, score,
        |  CASE WHEN score >= 0.8 THEN 'high'
        |       WHEN score >= 0.5 THEN 'mid' ELSE 'low' END AS bucket
        |FROM (
        |  SELECT doc_id, n_tok, avg_len, stop_raw, punct_cnt,
        |    round(0.5 * least(n_tok / 20.0, 1.0)
        |        + 0.3 * least(stop_raw * 5.0, 1.0)
        |        + 0.2 * (1.0 - least(CAST(punct_cnt AS DOUBLE)
        |                             / greatest(n_chars, 1), 1.0)), 6)
        |      AS score
        |  FROM (
        |    SELECT doc_id,
        |      CAST(len($toksSql) AS INT) AS n_tok,
        |      round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |            / greatest(len($toksSql), 1), 6) AS avg_len,
        |      CAST(len(list_filter($toksSql,
        |          x -> list_contains(['the','a','is','and','of','to','in','that','it'], x))) AS DOUBLE)
        |            / greatest(len($toksSql), 1) AS stop_raw,
        |      CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS INT)
        |        AS punct_cnt,
        |      CAST(length(text) AS INT) AS n_chars
        |    FROM documents))
        |ORDER BY doc_id""".stripMargin,

    "q_token_count" ->
      s"""SELECT doc_id,
        |  CAST(len($toksSql) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS bpe_tokens,
        |  CAST(length(text) AS INT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_tok_fertility" ->
      s"""SELECT lang, count(*) AS docs,
        |  CAST(SUM(len($toksSql)) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(len(regexp_extract_all(lower(text),
        |    '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS bpe_tokens,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |  round(CAST(SUM(len(regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS DOUBLE)
        |    / SUM(len($toksSql)), 6) AS fertility,
        |  round(CAST(SUM(length(text)) AS DOUBLE)
        |    / SUM(len(regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]+|[^a-z0-9\\s]'))), 6) AS chars_per_tok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''),
        |        ch -> CAST(ascii(ch) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_tfidf" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.tok, tf.tf,
        |  round(ln(n_docs / df), 6) AS idf,
        |  round(tf * ln(n_docs / df), 6) AS tfidf
        |FROM tf JOIN dfreq USING (tok) CROSS JOIN n
        |WHERE tf.doc_id % 50 = 0
        |ORDER BY tf.doc_id, tf.tok""".stripMargin
    // q_dedup_simhash / q_dedup_minhash: rows-only (sketch/seed dependent)
  )
}
