package graft.queries

import graft.Decimals._
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-assembly operators of a training-data pipeline — the steps
  * BETWEEN cleaning/dedup and the trainer: stratified sampling, sequence
  * packing, deterministic corpus shuffling, weighted source mixing.
  *
  * All four key their pseudo-randomness on `md5(tag || doc_id)` rather
  * than an engine RNG: the hash is bit-identical in Spark and DuckDB, so
  * every "random" decision is oracle-checkable, reproducible across
  * reruns (a training-data must-have: the same recipe re-emits the same
  * dataset), and — because it is a per-row projection — embarrassingly
  * parallel at 100 TB with no seed-state coordination across executors.
  */
object PipelineOps extends QueryPack {

  /** Exact stratified sample: ceil(10%) of every `source` stratum,
    * members chosen by hash order (deterministic, uniform). One window
    * shuffle partitioned by stratum; at 100 TB strata are large, so the
    * per-stratum rank is the textbook use of a partitioned window — no
    * global sort, no driver-side stratum loop. Integer `(n+9) div 10`
    * avoids the `ceil(n*0.1)` FP boundary (20*0.1 is not exactly 2.0). */
  def qSampleStratified(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val wRank = Window.partitionBy($"source").orderBy($"h", $"doc_id")
    val wAll = Window.partitionBy($"source")
    docs
      .select($"source", $"doc_id",
        md5(concat(lit("strat:"), $"doc_id".cast("string"))).as("h"))
      .withColumn("rn", row_number().over(wRank).cast("int"))
      .withColumn("n_strat", count(lit(1)).over(wAll).cast("int"))
      .filter($"rn" <= expr("(n_strat + 9) div 10"))
      .select($"source", $"doc_id", $"rn", $"n_strat")
      .orderBy($"source", $"doc_id")
  }

  /** Sequence packing: assemble shuffled docs into fixed-capacity
    * training sequences (capacity 4000 chars) by cumulative size, one
    * running-sum window per shard. Packing per `doc_id % 8` shard — not
    * globally — is the 100 TB shape: each shard packs independently
    * inside its own partition, so there is no global sort and no
    * single-partition window; shards map 1:1 onto output files. */
  def qPackSequences(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cap = 4000L
    val docs = Tables.df(spark, sfDir, "documents")
    val w = Window.partitionBy($"shard").orderBy($"h", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(($"doc_id" % 8).as("shard"), $"doc_id", $"n_chars",
        md5(concat(lit("pack:"), $"doc_id".cast("string"))).as("h"))
      .withColumn("cum", sum($"n_chars").over(w))
      // a doc belongs to the pack its START offset falls in — the
      // streaming first-fit rule (docs longer than cap spill over,
      // intentionally: packing never drops data)
      .withColumn("pack_id", expr(s"(cum - n_chars) div $cap"))
      .groupBy($"shard", $"pack_id")
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum($"n_chars").as("chars"))
      .orderBy($"shard", $"pack_id")
  }

  /** Deterministic global corpus shuffle — the training-order step.
    * ORDER BY a salted hash is a full range-partitioned sort at scale
    * (Spark samples range bounds, each partition sorts locally — the
    * standard distributed shuffle-by-sort); rerunning the recipe emits
    * the identical order, unlike an RNG shuffle. */
  def qShuffleGlobal(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "documents")
      .select($"doc_id",
        md5(concat(lit("shuf:"), $"doc_id".cast("string"))).as("h"))
      .orderBy($"h", $"doc_id")
  }

  /** Per-language target mixing weights, and their 8-hex-digit keep
    * thresholds: doc kept iff the first 8 hex chars of its mixing hash
    * compare below floor(w·2³²) in hex — a pure string comparison both
    * engines order identically. */
  private[graft] val mixWeights: Seq[(String, Double)] =
    Seq("de" -> 0.6, "en" -> 0.9, "es" -> 0.25, "fr" -> 0.5, "zh" -> 0.1)
  private[graft] def mixThreshold(w: Double): String = {
    // w ≥ 1 would grow the hex to 9 digits and lexicographically INVERT
    // the 8-char comparison (keeping ~1/16 instead of all); keep-all is
    // "don't filter", not a threshold
    require(w > 0.0 && w < 1.0, s"mix weight must be in (0,1), got $w")
    f"${(w * 4294967296L).toLong}%08x"
  }

  /** Weighted source mixing: down-sample each language stratum to its
    * target mixture weight by hash-thresholding — per-row projection +
    * one aggregation shuffle, no RNG state, exactly reproducible. The
    * shape every multi-corpus training mix uses (e.g. up-weight en,
    * down-weight crawl): at 100 TB the keep decision never leaves the
    * scan stage. */
  def qMixWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val thr = typedLit(mixWeights.map { case (l, w) => l -> mixThreshold(w) }.toMap)
    // try_element_at: a lang outside the weight map means keep=false (the
    // DuckDB CASE yields NULL → 0 the same way); plain element_at would
    // THROW under Spark 4's default ANSI mode instead
    Tables.df(spark, sfDir, "documents")
      .select($"lang",
        (substring(md5(concat(lit("mix:"), $"doc_id".cast("string"))), 1, 8)
          < try_element_at(thr, $"lang")).as("keep"))
      .groupBy($"lang")
      .agg(count(lit(1)).cast("int").as("n_total"),
        sum(when($"keep", 1).otherwise(0)).cast("int").as("n_kept"))
      .orderBy($"lang")
  }

  /** Weighted reservoir sample (Efraimidis–Spirakis A-ES, IPL 2006 —
    * public algorithm): each doc draws key = ln(u)/w with u an md5-keyed
    * uniform and w = n_chars; the k largest keys are a weighted sample
    * without replacement. Fully distributed — the draw is a per-row
    * projection and the top-k is `TakeOrderedAndProject`, so 1000
    * executors each keep a local k and merge — and exactly reproducible,
    * so the oracle checks the SAMPLE ITSELF, not just its size. ln's
    * 1-ulp drift cannot flip the selection: adjacent random keys are
    * ~1e-3 apart, 13 orders above libm noise. */
  def qSampleWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "documents")
      // weight domain must be strictly positive: at n_chars = 0 Spark
      // (non-ANSI) yields NULL for ln(u)/0 while DuckDB (IEEE) yields
      // -inf, so the engines would order such rows differently. The
      // fixture has no empty docs; the filter makes that explicit in
      // BOTH engines rather than latent.
      .filter($"n_chars" > 0)
      .select($"doc_id", $"n_chars",
        // u ∈ (0, 1]: 60-bit md5 value + 1 over 2^60
        ((conv(substring(md5(concat(lit("res:"), $"doc_id".cast("string"))),
          1, 15), 16, 10).cast("long") + 1) / lit(1152921504606846976.0))
          .as("u"))
      .select($"doc_id", $"n_chars",
        round(log($"u") / $"n_chars", 9).as("key"))
      .orderBy($"key".desc, $"doc_id")
      .limit(50)
  }

  // ---- q_rebalance -------------------------------------------------------
  /** Language-mixture rebalancing: downsample overrepresented languages to
    * an equal-share target — the pretraining-mix correction that stops one
    * dominant language from swamping the schedule. target = n_total / k
    * languages; rate_l = min(1, target / n_l); each doc keeps iff its
    * md5-keyed uniform u < rate_l (u ∈ (0,1], the A-ES uniform shape, so
    * the kept subset is exactly reproducible and the oracle checks the
    * rebalanced COUNTS per language). Everything is one count aggregation,
    * a k-row broadcast of the rate table, and a map-side keep projection —
    * the same plan at any corpus size. The fixture's en share (~44%)
    * makes the en rate genuinely < 1, so the sampling arm is exercised,
    * not just the rate=1 passthrough. */
  def qRebalance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val byLang = docs.groupBy($"lang").agg(count(lit(1)).as("n_lang"))
    val tot = docs.agg(count(lit(1)).as("n_total"),
      countDistinct($"lang").as("k"))
    val rates = byLang.crossJoin(broadcast(tot))
      .select($"lang", $"n_lang",
        least(lit(1.0), ($"n_total".cast("double") / $"k") / $"n_lang")
          .as("rate"))
    docs.select($"doc_id", $"lang",
        ((conv(substring(md5(concat(lit("rb:"), $"doc_id".cast("string"))),
          1, 15), 16, 10).cast("long") + 1) / lit(1152921504606846976.0))
          .as("u"))
      .join(broadcast(rates), "lang")
      .withColumn("keep", $"u" < $"rate")
      .groupBy($"lang")
      .agg(min($"n_lang").as("n_before"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_after"),
        round(min($"rate"), 6).as("rate"))
      .orderBy($"lang")
  }

  /** DSIR-shaped targeted data selection (the shape of Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every document OUTSIDE the target domain by its lexical
    * affinity to the target's unigram language model, then keep each
    * source's top-10 — the "find more data that looks like my target
    * domain" step of a pretraining-mix pipeline. `src0` stands in for
    * the target domain (in production: the high-quality seed corpus).
    *
    * The importance weight is libm-free by design: instead of DSIR's
    * sum of per-token log-probability ratios (logs are not bit-portable
    * across engines), the score is the mean-unigram-likelihood ratio
    *   score(d) = (Σ_t c_tgt(t) / N_tgt) / (Σ_t c_raw(t) / N_raw)
    * computed as ONE double division of two exact integer products
    * (Σ c_tgt × N_raw) / (Σ c_raw × N_tgt) — the arithmetic-mean
    * analogue of the geometric-mean DSIR weight, monotone in the same
    * target-affinity signal, and hash-exact in both engines (products
    * bounded ≪ 2^53 at every fixture SF).
    *
    * Scale shape: token counts are vocabulary-thin aggregates (the
    * target table broadcasts; the corpus table equi-joins by token);
    * per-doc scoring is one explode + two joins + a (doc_id)-keyed
    * partial-agg sum; selection is a per-source-partitioned rank
    * window, never a global sort. At 100 TB the raw-count join is the
    * only wide stage and it shuffles (tok, count) pairs, not text. */
  def qDsirSelect(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val target = "src0"
    val docs = Tables.df(spark, sfDir, "documents")
    val toks = docs.select($"doc_id", $"source",
      explode(graft.functions.TextFunctions.tokens($"text")).as("tok"))
    val tgtCounts = toks.filter($"source" === target)
      .groupBy($"tok").agg(count(lit(1)).as("c_t"))
    val rawCounts = toks.groupBy($"tok").agg(count(lit(1)).as("c_r"))
    val totals = toks.agg(count(lit(1)).as("n_r"),
      sum(when($"source" === target, 1L).otherwise(0L)).as("n_t"))
    val scored = toks.filter($"source" =!= target)
      .join(rawCounts, "tok")
      .join(broadcast(tgtCounts), Seq("tok"), "left")
      .groupBy($"doc_id", $"source")
      .agg(sum(coalesce($"c_t", lit(0L))).as("st"), sum($"c_r").as("sr"))
      .crossJoin(broadcast(totals))
      .select($"doc_id", $"source", $"st", $"sr",
        (($"st" * $"n_r").cast("double") / ($"sr" * $"n_t")).as("score"))
    scored.withColumn("rk", row_number().over(
        Window.partitionBy($"source").orderBy($"score".desc, $"doc_id")))
      .filter($"rk" <= 10)
      .select($"source", $"rk", $"doc_id", $"st", $"sr", $"score")
      .orderBy($"source", $"rk")
  }

  /** RAG/context-window chunking with overlap: split each document into
    * 32-token windows on a 24-token stride (8-token overlap), keeping
    * provenance (doc_id, chunk_idx, start_tok) and an md5 chunk key for
    * downstream chunk-level dedup. The 100 TB shape is the whole point:
    * tokenize + windowing is a pure per-row projection and the explode
    * fan-out is ceil(tokens/stride) per document — zero shuffles, zero
    * joins, no state; the only exchange in the plan is the deterministic
    * final ORDER BY, which a production writer would replace with a
    * partitioned write. `sequence`/`generate_series` are both
    * end-inclusive and `slice`/`list_slice` both tolerate a short tail,
    * so the last (possibly partial) chunk is identical cross-engine. */
  def qChunkOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val win = 32
    val stride = 24
    Tables.df(spark, sfDir, "documents")
      .select($"doc_id", graft.functions.TextFunctions.tokens($"text").as("tk"))
      .select($"doc_id", $"tk",
        posexplode(sequence(lit(0), greatest(size($"tk") - 1, lit(0)),
          lit(stride))).as(Seq("chunk_idx", "start_tok")))
      .select($"doc_id",
        $"chunk_idx".cast("long").as("chunk_idx"),
        $"start_tok".cast("long").as("start_tok"),
        slice($"tk", $"start_tok" + 1, lit(win)).as("ck"))
      .select($"doc_id", $"chunk_idx", $"start_tok",
        size($"ck").cast("long").as("n_tok"),
        array_join($"ck", " ").as("chunk_text"),
        md5(array_join($"ck", " ")).as("chunk_key"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** Content-defined chunking over the documents table — see
    * [[graft.operators.Chunking.cdcSegments]] for the semantics and the
    * shift-invariance property its spec proves. */
  def qCdcChunks(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Chunking.cdcSegments(
      Tables.df(spark, sfDir, "documents").select($"doc_id", $"text"))
      .orderBy($"doc_id", $"seg_idx")
  }

  /** Length-bucketed inference batching with a padding-waste report: the
    * dynamic-batching planner of a serving/eval pipeline. Docs bucket by
    * token count rounded up to a multiple of 16 (the pad-to-multiple
    * grid), order deterministically inside each bucket by md5 hash, and
    * fill batches of 32; each batch pays capacity = 32 × its max token
    * count, and the report prices the padding that length-SORTED
    * batching wastes vs what arrival-order batching would. Scale shape:
    * one per-row projection, one window + one aggregate both partitioned
    * by the bucket key — no global sort; buckets are independent, which
    * is exactly why serving systems bucket by length. Utilization is ONE
    * double division of exact integers, rounded once to 6dp. */
  def qBatchPadding(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val batch = 32
    val docs = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", graft.functions.TextFunctions.tokenCount($"text")
        .cast("long").as("n_tok"))
      .select($"doc_id", $"n_tok",
        (ceil($"n_tok" / lit(16.0)) * 16).cast("long").as("bucket"),
        md5(concat(lit("batch:"), $"doc_id".cast("string"))).as("h"))
    val w = Window.partitionBy($"bucket").orderBy($"h", $"doc_id")
    docs
      .withColumn("batch_id", ((row_number().over(w) - 1) / batch)
        .cast("long"))
      .groupBy($"bucket", $"batch_id")
      .agg(count(lit(1)).as("n_docs"),
        max($"n_tok").as("max_tok"),
        sum($"n_tok").as("sum_tok"))
      .select($"bucket", $"batch_id", $"n_docs", $"max_tok", $"sum_tok",
        ($"n_docs" * $"max_tok" - $"sum_tok").as("padding"),
        // zero-token docs land in bucket 0 with max_tok 0; 0/0 is NaN in
        // Spark but engine-dependent elsewhere — NULL on both sides
        // (the qMinhashEval guard pattern) keeps the hash gate stable
        when($"n_docs" * $"max_tok" === 0, lit(null).cast("double"))
          .otherwise(
            round($"sum_tok".cast("double") / ($"n_docs" * $"max_tok"), 6))
          .as("utilization"))
      .orderBy($"bucket", $"batch_id")
  }

  /** The CDC payoff report: how much storage a segment-level dedup store
    * saves on this corpus. Near-identical docs share every segment after
    * their first divergence (the shift-invariance the spec proves), so
    * repeated seg_keys are exactly the bytes a content-addressed store
    * writes once. Output is the dedup-ratio curve: per copy-count, the
    * number of distinct segments and the chars a store-once policy
    * saves. Scale shape: the segmenter's per-doc windows, then two
    * vocabulary-thin aggregates (seg_key, then n_copies) — the classic
    * mergeable-relation form. */
  def qCdcSavings(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Chunking.cdcSegments(
      Tables.df(spark, sfDir, "documents").select($"doc_id", $"text"))
      .groupBy($"seg_key")
      .agg(count(lit(1)).as("n_copies"),
        min(length($"seg_text")).as("len"))
      .groupBy($"n_copies")
      .agg(count(lit(1)).as("n_segs"),
        sum(($"n_copies" - 1) * $"len").as("chars_saved"))
      .orderBy($"n_copies")
  }

  /** Temperature-smoothed source sampling (the mC4/XLM-R α = 0.7
    * multilingual recipe, applied to sources): sampling weights
    * ∝ n_src^α flatten the mixture — big crawls shrink, small curated
    * sources grow — and the corpus downsamples to ~20% with those
    * shares. Arithmetic discipline: the α-power is one libm pow rounded
    * once to DECIMAL(18,6), so the normalizer Z is an EXACT decimal sum
    * (a raw double Σ would be order-dependent); share and rate are
    * shared double formulas rounded once; keep decisions use the
    * family's (md5 + 1)/2^60 uniform, so kept counts match row-for-row.
    * Scale shape: an S-row aggregate, a broadcast rate table, and one
    * per-row keep projection — no shuffle of the corpus at all. */
  def qTempSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val rates = tempRates(docs)
    docs.select($"doc_id", $"source", tempUniform($"doc_id").as("u"))
      .join(broadcast(rates), "source")
      .groupBy($"source")
      .agg(min($"n_src").as("n_src"),
        round(min($"share"), 6).as("share"),
        round(min($"rate"), 6).as("rate"),
        sum(when($"u" < $"rate", 1L).otherwise(0L)).as("n_kept"))
      .orderBy($"source")
  }

  /** One DoReMi-flavored domain-reweighting step (multiplicative
    * weights on excess loss — Xie et al. 2023 "DoReMi", deterministic
    * single-round form): score every doc with the corpus-trained
    * unigram LM (q_perplexity's exact-decimal discipline), aggregate
    * mean NLL per source, and upweight sources whose loss EXCEEDS the
    * corpus mean — w₁ ∝ n_src · exp(excess) — the "give hard/underfit
    * domains more sampling mass" update that DoReMi iterates with a
    * proxy model. Output: per source, the loss profile and the before/
    * after mixture shares. Scale shape: LM training is one token-keyed
    * count + a broadcast log-prob table; doc scoring shuffles on the
    * token key; everything after is S-row arithmetic. Determinism:
    * per-token log-probs and per-doc NLLs round once to DECIMAL(18,6)
    * so every sum is exact; exp() rounds once to 6dp (the q_temp_sample
    * pow discipline); both normalizers are exact integer/decimal sums. */
  def qMixReweight(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val toks = docs.select($"doc_id",
      explode(graft.functions.TextFunctions.tokens($"text")).as("tok"))
    val counts = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val n = toks.agg(count(lit(1)).as("n_total"))
    val lp = counts.crossJoin(broadcast(n))
      .select($"tok", round(log($"cnt" / $"n_total"), 6).cast(dec18_6).as("lp"))
    val docNll = toks.join(lp, "tok")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_toks"), sum($"lp").as("slp"))
      .select($"doc_id",
        round(-($"slp".cast("double")) / $"n_toks", 6).cast(dec18_6).as("nll"))
    val bySrc = docs.select($"doc_id", $"source").join(docNll, "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"nll").as("snll"))
    val tot = bySrc.agg(sum($"n_docs").as("nd"), sum($"snll").as("stot"))
    val e = bySrc.crossJoin(broadcast(tot))
      .select($"source", $"n_docs",
        round($"snll".cast("double") / $"n_docs", 6).as("mean_nll"),
        round($"snll".cast("double") / $"n_docs"
          - $"stot".cast("double") / $"nd", 6).as("excess"))
    val scored = e.select($"source", $"n_docs", $"mean_nll", $"excess",
      ($"n_docs" * round(exp($"excess"), 6).cast(dec18_6)).as("w1"))
    val z = scored.agg(sum($"w1").as("z1"), sum($"n_docs").as("ndt"))
    scored.crossJoin(broadcast(z))
      .select($"source", $"n_docs", $"mean_nll", $"excess",
        round($"n_docs".cast("double") / $"ndt", 6).as("share0"),
        round($"w1".cast("double") / $"z1".cast("double"), 6).as("share1"))
      .orderBy($"source")
  }

  /** The temperature-sampling RATE TABLE (source, n_src, share, rate)
    * from a corpus snapshot — split out of [[qTempSample]] so the
    * streaming twin (Streams.tempSampleStream) applies the identical
    * rates per micro-batch: a production sampler freezes rates from a
    * snapshot and streams the keep decision. */
  private[graft] def tempRates(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bySrc = docs.groupBy($"source").agg(count(lit(1)).as("n_src"))
    val wts = bySrc.select($"source", $"n_src",
      round(pow($"n_src".cast("double"), 0.7), 6).cast(dec18_6).as("w"))
    val z = wts.agg(sum($"w").as("z"))
      .crossJoin(docs.agg(count(lit(1)).as("n_total")))
    wts.crossJoin(broadcast(z))
      .select($"source", $"n_src",
        round($"w".cast("double") / $"z".cast("double"), 6).as("share"))
      .crossJoin(broadcast(z.select($"n_total")))
      .select($"source", $"n_src", $"share",
        least(lit(1.0),
          round($"share" * $"n_total" / 5.0 / $"n_src", 6)).as("rate"))
  }

  /** The family's deterministic uniform in (0, 1] for the temperature
    * sampler: (first-15-hex-digits of md5("ts:" || doc_id) + 1) / 2^60 —
    * a pure per-row projection, identical in batch and per micro-batch. */
  private[graft] def tempUniform(docId: Column): Column =
    (conv(substring(md5(concat(lit("ts:"), docId.cast("string"))),
      1, 15), 16, 10).cast("long") + 1) / lit(1152921504606846976.0)

  // ---- q_truncation_loss -------------------------------------------------
  /** Context-length truncation report — what a fixed max-sequence-length
    * policy costs, per source, at three candidate context lengths (32 /
    * 64 / 128 tokens around the fixture's 10–99-token docs): documents
    * clipped, tokens lost, and the loss fraction. This is the report that
    * picks a training context length (or flags sources needing chunking
    * instead of truncation — compare q_chunk_overlap, which keeps the
    * tail this policy discards).
    *
    * Scale shape: one per-row token count (no explode to token level), a
    * constant ×3 capacity fan-out, and one (source, cap)-keyed partial-agg
    * — the corpus is scanned once and never shuffled wider than the
    * 60-row report. Loss fraction is ONE double division of exact-integer
    * sums, rounded once to 6dp. */
  def qTruncationLoss(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
      .select($"source",
        size(graft.functions.TextFunctions.tokens($"text"))
          .cast("long").as("n_tok"))
    docs
      .select($"source", $"n_tok",
        explode(array(lit(32), lit(64), lit(128))).as("cap"))
      .groupBy($"source", $"cap")
      .agg(count(lit(1)).as("docs"),
        sum(when($"n_tok" > $"cap", 1L).otherwise(0L)).as("docs_truncated"),
        sum($"n_tok").as("tokens_total"),
        sum(greatest($"n_tok" - $"cap", lit(0L))).as("tokens_lost"))
      .withColumn("loss_frac",
        round($"tokens_lost".cast("double") / $"tokens_total", 6))
      .orderBy($"source", $"cap")
  }

  // ---- q_curriculum ------------------------------------------------------
  /** Curriculum-learning phase assignment (easy→hard ordering shapes,
    * cf. Bengio et al. ICML'09): each document's difficulty proxy is its
    * type-token ratio (distinct/total tokens — low TTR = repetitive =
    * easy), phases are the proxy's exact quartiles, and the report gives
    * per-phase document/token budgets — the schedule a staged training
    * run consumes.
    *
    * Scale shape: the proxy is a per-row HOF projection (no token
    * explode); quartile boundaries come from the DISTRIBUTED exact-
    * quantile kernel (operators/Quantiles.scala — histogram-refine, never
    * a global sort or single-group percentile buffer), collected into a
    * 1-row array and broadcast into a map-side 3-comparison phase
    * projection (the q_bin_quantile discipline: boundaries 6dp-rounded so
    * the comparison is over deterministic doubles; ties at a boundary all
    * land in one phase). The final aggregate is 4 rows. */
  def qCurriculum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", graft.functions.TextFunctions.tokens($"text").as("tk"))
      .filter(size($"tk") > 0)
      .select($"doc_id", size($"tk").cast("long").as("n_tok"),
        round(size(array_distinct($"tk")).cast("double") / size($"tk"), 6)
          .as("diff"))
    val bounds = graft.operators.Quantiles
      .exactQuantiles(docs, $"diff", Seq(0.25, 0.5, 0.75))
      .agg(array_sort(collect_list(round($"b", 6))).as("bs"))
    val phaseExpr = (1 to 3)
      .map(i => when($"diff" > element_at($"bs", i), 1).otherwise(0))
      .reduce(_ + _) + 1
    docs.crossJoin(broadcast(bounds))
      .select($"diff", $"n_tok", phaseExpr.as("phase"))
      .groupBy($"phase")
      .agg(count(lit(1)).as("n_docs"),
        min($"diff").as("min_diff"), max($"diff").as("max_diff"),
        sum($"diff".cast(dec18_6)).as("sd"),
        sum($"n_tok").as("tokens"))
      .withColumn("mean_diff", round($"sd".cast("double") / $"n_docs", 6))
      .select($"phase", $"n_docs", $"min_diff", $"max_diff", $"mean_diff",
        $"tokens")
      .orderBy($"phase")
  }

  // ---- q_mix_unimax ------------------------------------------------------
  /** UniMax mixture allocation (Chung et al., 2023, arXiv:2304.09151
    * shape): a token budget B = 1.9 × corpus tokens is spread as
    * uniformly as possible across sources subject to an epoch cap C = 2
    * (no source repeats more than twice) — the mixing policy that avoids
    * both temperature sampling's overweighting of tiny sources and
    * uniform sampling's starvation of them. Exact water-filling: sources
    * ascending by size, a source is capped while its cap C·n sits below
    * the running water level (budget left after capping every smaller
    * source, shared by the rest); everyone else gets the final level τ*.
    *
    * Scale shape: the corpus collapses to an S-row (source, tokens)
    * partial-agg; ranking, the running-AND capping scan, and the water
    * level all run on that S-row relation (the unpartitioned windows see
    * S rows, never the corpus); the 1-row τ* broadcasts back. Shared
    * IEEE formulas with the 6dp-round-before-compare discipline, so the
    * capped set — an inherently sequential decision — is still
    * cross-engine exact. */
  def qMixUnimax(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bySrc = Tables.df(spark, sfDir, "documents")
      .select($"source",
        size(graft.functions.TextFunctions.tokens($"text"))
          .cast("long").as("n_tok"))
      .groupBy($"source").agg(sum($"n_tok").as("n"))
    val tot = bySrc.agg(sum($"n").as("T"), count(lit(1)).as("S"))
    val w = Window.orderBy($"n", $"source")
    val ranked = bySrc.crossJoin(broadcast(tot))
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("c", sum($"n").over(w))
      .withColumn("tau_prev",
        (lit(1.9) * $"T" - lit(2.0) * ($"c" - $"n")) / ($"S" - $"i" + 1))
      .withColumn("cap_here", lit(2.0) * $"n" <= round($"tau_prev", 6))
      .withColumn("capped",
        min(when($"cap_here", 1).otherwise(0)).over(w) === 1)
    val water = ranked.groupBy()
      .agg(first($"T").as("T"), first($"S").as("S"),
        sum(when($"capped", 1L).otherwise(0L)).as("k"),
        sum(when($"capped", $"n").otherwise(0L)).as("cs"))
      .select(round((lit(1.9) * $"T" - lit(2.0) * $"cs") / ($"S" - $"k"), 6)
        .as("tau_star"))
    ranked.crossJoin(broadcast(water))
      .select($"source", $"n".as("n_tok"), $"capped",
        round(when($"capped", lit(2.0) * $"n").otherwise($"tau_star"), 2)
          .as("alloc_tokens"),
        when($"capped", lit(2.0))
          .otherwise(round($"tau_star" / $"n", 6)).as("epochs"))
      .orderBy($"source")
  }

  /** T5-style span-corruption planning report (Raffel et al., JMLR'20 —
    * public algorithm): tokens group into 3-token blocks, each block is
    * masked by an md5-keyed coin at p = 38/256 ≈ 0.148, and the report
    * aggregates per language what a denoising-objective batch builder
    * needs to size its targets: docs/tokens/masked tokens/span count,
    * the realized mask ratio, and the mean masked-span length. Scale
    * shape: the mask decision is a PER-BLOCK projection (the md5-keyed
    * randomness family — no seed coordination, no shuffle to decide),
    * then two partial-aggregable groupBys (block → doc → lang); cost ∝
    * tokens, nothing wider than the language list is ever held.
    * Determinism: the coin is a hex-string compare; every output is
    * exact-integer arithmetic except the two once-rounded quotients. */
  def qSpanCorrupt(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val blocks = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"lang",
        posexplode(graft.functions.TextFunctions.tokens($"text"))
          .as(Seq("pos", "tok")))
      .select($"doc_id", $"lang", expr("pos div 3").as("blk"))
      .groupBy($"doc_id", $"lang", $"blk")
      .agg(count(lit(1)).as("n"))
      .withColumn("m",
        substring(md5(concat(lit("span:"), $"doc_id".cast("string"),
          lit(":"), $"blk".cast("string"))), 1, 2) < "26")
    val perDoc = blocks.groupBy($"doc_id", $"lang").agg(
      sum($"n").as("n_toks"),
      sum(when($"m", $"n").otherwise(0L)).as("n_masked"),
      sum(when($"m", 1L).otherwise(0L)).as("n_spans"))
    perDoc.groupBy($"lang").agg(
        count(lit(1)).as("n_docs"),
        sum($"n_toks").as("n_tokens"),
        sum($"n_masked").as("n_masked"),
        sum($"n_spans").as("n_spans"))
      .withColumn("mask_ratio",
        round($"n_masked".cast("double") / $"n_tokens", 6))
      .withColumn("mean_span",
        when($"n_spans" === 0, lit(null).cast("double"))
          .otherwise(round($"n_masked".cast("double") / $"n_spans", 6)))
      .orderBy($"lang")
  }

  /** Deterministic 5-fold cross-validation assignment with a stratum
    * balance report: fold = md5("fold:" || doc_id) mod 5 (the family's
    * md5-keyed randomness — a per-row projection, no seed coordination,
    * stable under any partitioning), then for every (fold, lang) cell the
    * within-fold share vs the corpus-wide share and their difference —
    * the check that hash folds are in fact stratification-free estimates
    * a modeler can trust. All aggregates re-derive from the fold×lang
    * cell relation (≤ 5·|langs| rows). */
  def qKfold(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.df(spark, sfDir, "documents")
      .select($"lang",
        (conv(substring(md5(concat(lit("fold:"),
          $"doc_id".cast("string"))), 1, 15), 16, 10).cast("long") % 5)
          .cast("int").as("fold"))
      .groupBy($"fold", $"lang").agg(count(lit(1)).as("n"))
      .localCheckpoint() // 5×|langs| rows; feeds three re-aggregations
    val perFold = cells.groupBy($"fold").agg(sum($"n").as("n_fold"))
    val perLang = cells.groupBy($"lang").agg(sum($"n").as("n_lang"))
    val tot = perLang.agg(sum($"n_lang").as("n_all"))
    cells.join(broadcast(perFold), "fold")
      .join(broadcast(perLang), "lang")
      .crossJoin(broadcast(tot))
      .select($"fold", $"lang", $"n",
        round($"n".cast("double") / $"n_fold", 6).as("fold_share"),
        round($"n_lang".cast("double") / $"n_all", 6).as("global_share"),
        round($"n".cast("double") / $"n_fold"
          - $"n_lang".cast("double") / $"n_all", 6).as("dev"))
      .orderBy($"fold", $"lang")
  }

  // ---- q_raking ----------------------------------------------------------
  /** Survey raking / iterative proportional fitting (Deming & Stephan
    * '40) of the corpus's (lang, source) cell table to UNIFORM lang and
    * source marginals — the principled version of the mixture-reweight
    * family: q_rebalance equalizes ONE margin by dropping rows; raking
    * fits BOTH margins simultaneously with per-cell weights and no data
    * loss. Two full IPF cycles (lang, source, lang, source), unrolled:
    * each adjustment scales every cell's weight by target/current for
    * its margin, with weights re-rounded to 9dp decimals after every
    * step so both engines carry identical values. Output: the weighted
    * cell table plus each cell's final weight — multiply by it and the
    * corpus is (approximately, to IPF convergence) balanced on both
    * axes.
    *
    * Scale shape: ONE corpus pass builds the L×S cell relation
    * (≤ hundreds of rows at any corpus size); all four adjustments run
    * on it with broadcast margins. The weights apply back to the corpus
    * as a broadcast-join projection — never a second corpus pass per
    * iteration. */
  def qRaking(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.df(spark, sfDir, "documents")
      .groupBy($"lang", $"source").agg(count(lit(1)).as("n"))
      .localCheckpoint() // the four adjustment rounds re-read it
    val tot = cells.agg(sum($"n").as("nAll"),
      countDistinct($"lang").as("nl"),
      countDistinct($"source").as("ns"))
    var w = cells.crossJoin(broadcast(tot))
      .select($"lang", $"source", $"n", $"nAll", $"nl", $"ns",
        lit(BigDecimal(1)).cast(dec18_9).as("w"))
    for (axis <- Seq("lang", "source", "lang", "source")) {
      val tgt = if (axis == "lang") $"nAll".cast("double") / $"nl"
        else $"nAll".cast("double") / $"ns"
      val cur = w.groupBy(col(axis))
        .agg(sum($"n" * $"w").as("cur"))
      w = w.join(broadcast(cur), axis)
        .select($"lang", $"source", $"n", $"nAll", $"nl", $"ns",
          round($"w".cast("double")
            * (tgt / $"cur".cast("double")), 9).cast(dec18_9).as("w"))
    }
    w.select($"lang", $"source", $"n", round($"w".cast("double"), 6)
        .as("weight"),
      round($"n" * $"w".cast("double"), 4).as("weighted_n"))
      .orderBy($"lang", $"source")
  }

  // ---- q_pps_sample ------------------------------------------------------
  /** Probability-proportional-to-size Poisson sampling + the
    * Horvitz–Thompson estimator (Horvitz & Thompson '52) — the sampling
    * theory a pipeline needs when it wants an UNBIASED total from a
    * skewed population (uniform sampling of orders wastes budget on
    * pennies; PPS samples dollars): each order enters with probability
    * π = min(1, k·price/total) (expected sample size ≈ k = 200), keyed
    * on the md5 uniform so the sample replays bit-for-bit, and the HT
    * estimate Σ price/π is reported beside the true total and its
    * relative error. One corpus pass for the total (broadcast back),
    * one for the draw + HT sum; per-row terms round once to 4dp into
    * exact decimal sums. */
  def qPpsSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = 200
    val o = Tables.df(spark, sfDir, "orders")
      .select($"o_orderkey",
        round($"o_totalprice", 2).cast(dec18_2).as("p"))
    val tot = o.agg(sum($"p").as("ptot"), count(lit(1)).as("n_pop"))
    val drawn = o.crossJoin(broadcast(tot))
      .withColumn("pi", least(lit(1.0),
        lit(k) * $"p".cast("double") / $"ptot".cast("double")))
      .withColumn("u",
        (conv(substring(md5(concat(lit("pps:"),
          $"o_orderkey".cast("string"))), 1, 15), 16, 10).cast("long")
          + 0.5) / lit(1152921504606846976.0))
      .filter($"u" < $"pi")
    drawn.agg(
        min($"n_pop").as("n_pop"),
        count(lit(1)).as("n_sample"),
        min($"ptot").as("ptot"),
        sum(round($"p".cast("double") / $"pi", 4).cast(dec28_4)).as("ht"))
      .select($"n_pop", $"n_sample",
        round($"ptot".cast("double"), 2).as("total_true"),
        round($"ht".cast("double"), 2).as("ht_estimate"),
        round(abs($"ht".cast("double") - $"ptot".cast("double"))
          / $"ptot".cast("double"), 6).as("rel_err"))
  }

  // ---- q_quantile_norm ---------------------------------------------------
  /** Cross-source quantile normalization (the batch-effect correction of
    * Bolstad et al. '03, in its CDF-matching form): every document's
    * quality score maps to the POOLED corpus distribution's value at
    * its within-source percentile, so per-source scorer drift stops
    * masquerading as quality signal — the prerequisite for any global
    * quality threshold over heterogeneous sources. Percentile
    * p = (2r−1)/(2·n_source) (mid-rank); normalized = the smallest
    * pooled value whose CDF exceeds p, found by the REUSED as-of
    * operator (operators/AsOf — the leakage-free temporal join IS a
    * step-function lookup when "time" is the CDF fraction, negated for
    * the forward direction).
    *
    * Scale shape: within-source ranks are source-partitioned windows;
    * the pooled CDF lives on the value-grouped relation (bounded by
    * score cardinality, the rank-statistics exemption) and replicates
    * once per source (S×|values| rows) so the as-of's window stays
    * source-partitioned — no global corpus sort anywhere. Determinism:
    * p and F compare as the identical IEEE doubles on both engines;
    * ties are impossible within a partition (ranks are distinct). */
  def qQuantileNorm(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sc = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"source",
        graft.functions.TextFunctions.qualityScore($"text").as("v"))
    val ns = sc.groupBy($"source").agg(count(lit(1)).as("nsrc"))
    val ranked = sc
      .withColumn("r", row_number().over(
        Window.partitionBy($"source").orderBy($"v", $"doc_id")))
      .join(broadcast(ns), "source")
      .withColumn("negp",
        -(($"r" * 2 - 1).cast("double") / (lit(2) * $"nsrc")))
      .select($"doc_id", $"source", $"v", $"negp")
    val vg = sc.groupBy($"v".as("pv")).agg(count(lit(1)).as("nv"))
    val np = sc.agg(count(lit(1)).as("np"))
    val cdf = vg
      .withColumn("cum", sum($"nv").over(Window.orderBy($"pv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(np))
      .select($"pv", (-($"cum".cast("double") / $"np")).as("negp"))
    val pooledPerSource = ns.select($"source")
      .crossJoin(cdf)
    graft.operators.AsOf.asOfJoin(ranked, pooledPerSource,
        "source", "negp", Seq("pv"))
      .select($"doc_id", $"source", $"v".as("score"),
        round($"prior_pv", 6).as("normalized"))
      .orderBy($"doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_quantile_norm" -> qQuantileNorm,
    "q_raking" -> qRaking,
    "q_pps_sample" -> qPpsSample,
    "q_kfold" -> qKfold,
    "q_span_corrupt" -> qSpanCorrupt,
    "q_mix_unimax" -> qMixUnimax,
    "q_truncation_loss" -> qTruncationLoss,
    "q_curriculum" -> qCurriculum,
    "q_mix_reweight" -> qMixReweight,
    "q_temp_sample" -> qTempSample,
    "q_cdc_savings" -> qCdcSavings,
    "q_cdc_chunks" -> qCdcChunks,
    "q_batch_padding" -> qBatchPadding,
    "q_chunk_overlap" -> qChunkOverlap,
    "q_dsir_select" -> qDsirSelect,
    "q_rebalance" -> qRebalance,
    "q_sample_weighted" -> qSampleWeighted,
    "q_sample_stratified" -> qSampleStratified,
    "q_pack_sequences" -> qPackSequences,
    "q_shuffle_global" -> qShuffleGlobal,
    "q_mix_weighted" -> qMixWeighted
  )

  private def mixCaseSql: String =
    mixWeights.map { case (l, w) =>
      s"WHEN '$l' THEN '${mixThreshold(w)}'"
    }.mkString("CASE lang ", " ", " END")

  /** Shared CDC segmentation CTE chain (→ relation `g`: doc_id, seg_idx,
    * n_tok, seg_text) — interpolated into BOTH the q_cdc_chunks and
    * q_cdc_savings oracles so the boundary rule can never drift between
    * them (the Scala side shares `Chunking.cdcSegments` the same way). */
  private val cdcCtesSql =
    """WITH tk AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), x -> x != '') AS tk
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, unnest(tk) AS tok,
      |    generate_subscripts(tk, 1) - 1 AS p
      |  FROM tk),
      |w AS (
      |  SELECT doc_id, p, tok,
      |    concat_ws(' ',
      |      lag(tok, 3) OVER win, lag(tok, 2) OVER win,
      |      lag(tok, 1) OVER win, tok) AS win4
      |  FROM t WINDOW win AS (PARTITION BY doc_id ORDER BY p)),
      |b AS (
      |  SELECT doc_id, p, tok,
      |    CASE WHEN p >= 3 AND substring(md5(win4), 1, 2) < '08'
      |      THEN 1 ELSE 0 END AS boundary
      |  FROM w),
      |s AS (
      |  SELECT doc_id, p, tok,
      |    COALESCE(CAST(sum(boundary) OVER (PARTITION BY doc_id
      |      ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS BIGINT), 0) AS seg
      |  FROM b),
      |g AS (
      |  SELECT doc_id, seg AS seg_idx, count(*) AS n_tok,
      |    string_agg(tok, ' ' ORDER BY p) AS seg_text
      |  FROM s GROUP BY 1, 2)""".stripMargin

  /** One IPF adjustment for the q_raking oracle: margin `axis` rescaled
    * to `tgt`, weights re-rounded to 9dp (the Spark loop's twin). */
  private def rakeStepSql(prev: String, cur: String, axis: String,
      tgt: String): String =
    s"""m$cur AS (
       |  SELECT $axis, sum(n * w) AS cur FROM w$prev GROUP BY $axis),
       |w$cur AS (
       |  SELECT w$prev.lang, w$prev.source, n, nall, nl, ns,
       |    CAST(round(CAST(w AS DOUBLE)
       |      * (($tgt) / CAST(cur AS DOUBLE)), 9) AS DECIMAL(18,9)) AS w
       |  FROM w$prev JOIN m$cur ON m$cur.$axis = w$prev.$axis)"""
      .stripMargin

  val oracle: Map[String, String] = Map(
    // same mid-rank percentile and strictly-greater CDF lookup, in the
    // identical IEEE double comparison space; the score is
    // TextOps.qualityScoreSql verbatim
    "q_quantile_norm" ->
      (s"""WITH sc AS (
        |  SELECT doc_id, source,
        |    ${TextOps.qualityScoreSql}
        |      AS v
        |  FROM documents),""".stripMargin + """
        |rk AS (
        |  SELECT doc_id, source, v,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY v, doc_id) AS r,
        |    count(*) OVER (PARTITION BY source) AS nsrc
        |  FROM sc),
        |vg AS (SELECT v AS pv, count(*) AS nv FROM sc GROUP BY v),
        |cdf AS (
        |  SELECT pv, sum(nv) OVER (ORDER BY pv
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM vg),
        |np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM sc),
        |j AS (
        |  SELECT rk.doc_id, rk.source, rk.v, MIN(c.pv) AS normalized
        |  FROM rk CROSS JOIN np CROSS JOIN cdf c
        |  WHERE CAST(c.cum AS DOUBLE) / np
        |    > CAST(2 * rk.r - 1 AS DOUBLE) / (2 * rk.nsrc)
        |  GROUP BY 1, 2, 3)
        |SELECT doc_id, source, v AS score,
        |  round(normalized, 6) AS normalized
        |FROM j ORDER BY doc_id""".stripMargin),

    "q_raking" ->
      (s"""WITH cells AS (
        |  SELECT lang, source, count(*) AS n FROM documents
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nall,
        |    count(DISTINCT lang) AS nl, count(DISTINCT source) AS ns
        |  FROM cells),
        |w0 AS (
        |  SELECT lang, source, n, nall, nl, ns,
        |    CAST(1 AS DECIMAL(18,9)) AS w
        |  FROM cells CROSS JOIN tot),
        |${rakeStepSql("0", "1", "lang", "CAST(nall AS DOUBLE) / nl")},
        |${rakeStepSql("1", "2", "source", "CAST(nall AS DOUBLE) / ns")},
        |${rakeStepSql("2", "3", "lang", "CAST(nall AS DOUBLE) / nl")},
        |${rakeStepSql("3", "4", "source", "CAST(nall AS DOUBLE) / ns")}
        |SELECT lang, source, n,
        |  round(CAST(w AS DOUBLE), 6) AS weight,
        |  round(n * CAST(w AS DOUBLE), 4) AS weighted_n
        |FROM w4 ORDER BY lang, source""".stripMargin),

    "q_pps_sample" ->
      """WITH o AS (
        |  SELECT o_orderkey,
        |    CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS p
        |  FROM orders),
        |tot AS (SELECT sum(p) AS ptot, CAST(count(*) AS BIGINT) AS n_pop
        |        FROM o),
        |d AS (
        |  SELECT p, pi FROM (
        |    SELECT p,
        |      least(1.0, 200 * CAST(p AS DOUBLE) / CAST(ptot AS DOUBLE))
        |        AS pi,
        |      (('0x' || substr(md5('pps:' || CAST(o_orderkey AS VARCHAR)),
        |        1, 15))::BIGINT + 0.5) / 1152921504606846976.0 AS u
        |    FROM o CROSS JOIN tot)
        |  WHERE u < pi)
        |SELECT (SELECT n_pop FROM tot) AS n_pop,
        |  CAST(count(*) AS BIGINT) AS n_sample,
        |  round(CAST((SELECT ptot FROM tot) AS DOUBLE), 2) AS total_true,
        |  round(CAST(sum(CAST(round(CAST(p AS DOUBLE) / pi, 4)
        |    AS DECIMAL(28,4))) AS DOUBLE), 2) AS ht_estimate,
        |  round(abs(CAST(sum(CAST(round(CAST(p AS DOUBLE) / pi, 4)
        |      AS DECIMAL(28,4))) AS DOUBLE)
        |      - CAST((SELECT ptot FROM tot) AS DOUBLE))
        |    / CAST((SELECT ptot FROM tot) AS DOUBLE), 6) AS rel_err
        |FROM d""".stripMargin,
    // same md5-mod-5 fold coin, same cell/marginal re-aggregation and
    // once-rounded shares
    "q_kfold" ->
      """WITH cells AS (
        |  SELECT CAST(('0x' || substr(md5('fold:'
        |      || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5 AS INT)
        |    AS fold, lang, count(*) AS n
        |  FROM documents GROUP BY 1, 2),
        |pf AS (SELECT fold, CAST(sum(n) AS BIGINT) AS n_fold
        |       FROM cells GROUP BY 1),
        |pl AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang
        |       FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_lang) AS BIGINT) AS n_all FROM pl)
        |SELECT c.fold, c.lang, c.n,
        |  round(CAST(c.n AS DOUBLE) / pf.n_fold, 6) AS fold_share,
        |  round(CAST(pl.n_lang AS DOUBLE) / tot.n_all, 6) AS global_share,
        |  round(CAST(c.n AS DOUBLE) / pf.n_fold
        |    - CAST(pl.n_lang AS DOUBLE) / tot.n_all, 6) AS dev
        |FROM cells c JOIN pf USING (fold) JOIN pl USING (lang)
        |CROSS JOIN tot
        |ORDER BY c.fold, c.lang""".stripMargin,

    // same 3-token blocks, same hex-string md5 coin, same two-level
    // integer aggregation with the two once-rounded quotients
    "q_span_corrupt" ->
      """WITH t AS (
        |  SELECT doc_id, lang, unnest(range(0, len(T))) AS pos
        |  FROM (SELECT doc_id, lang,
        |          list_filter(string_split(lower(text), ' '), x -> x != '')
        |            AS T
        |        FROM documents)),
        |b0 AS (SELECT doc_id, lang, pos // 3 AS blk FROM t),
        |blocks AS (
        |  SELECT doc_id, lang, blk, count(*) AS n,
        |    substring(md5('span:' || CAST(doc_id AS VARCHAR) || ':'
        |      || CAST(blk AS VARCHAR)), 1, 2) < '26' AS m
        |  FROM b0 GROUP BY 1, 2, 3),
        |perdoc AS (
        |  SELECT doc_id, lang, sum(n) AS n_toks,
        |    sum(CASE WHEN m THEN n ELSE 0 END) AS n_masked,
        |    sum(CASE WHEN m THEN 1 ELSE 0 END) AS n_spans
        |  FROM blocks GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_masked) AS BIGINT) AS n_masked,
        |  CAST(sum(n_spans) AS BIGINT) AS n_spans,
        |  round(CAST(sum(n_masked) AS DOUBLE) / sum(n_toks), 6)
        |    AS mask_ratio,
        |  CASE WHEN sum(n_spans) = 0 THEN NULL
        |    ELSE round(CAST(sum(n_masked) AS DOUBLE) / sum(n_spans), 6)
        |  END AS mean_span
        |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin,

    // identical ascending scan, 6dp-rounded water-level comparisons and
    // the same running-AND prefix capping
    "q_mix_unimax" ->
      """WITH s AS (
        |  SELECT source,
        |    CAST(SUM(len(list_filter(string_split(lower(text), ' '),
        |      x -> x != ''))) AS BIGINT) AS n
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS T, count(*) AS S FROM s),
        |r AS (
        |  SELECT s.source, s.n, t.T, t.S,
        |    row_number() OVER (ORDER BY s.n, s.source) AS i,
        |    SUM(s.n) OVER (ORDER BY s.n, s.source
        |      ROWS UNBOUNDED PRECEDING) AS c
        |  FROM s CROSS JOIN t),
        |p AS (
        |  SELECT *,
        |    CASE WHEN 2.0 * n <=
        |        round((1.9 * T - 2.0 * (c - n)) / (S - i + 1), 6)
        |      THEN 1 ELSE 0 END AS cap_here
        |  FROM r),
        |q AS (
        |  SELECT *, min(cap_here) OVER (ORDER BY i
        |    ROWS UNBOUNDED PRECEDING) = 1 AS capped
        |  FROM p),
        |wl AS (
        |  SELECT round((1.9 * any_value(T)
        |      - 2.0 * SUM(CASE WHEN capped THEN n ELSE 0 END))
        |    / (any_value(S) - SUM(CASE WHEN capped THEN 1 ELSE 0 END)), 6)
        |    AS tau_star
        |  FROM q)
        |SELECT source, n AS n_tok, capped,
        |  round(CASE WHEN capped THEN 2.0 * n ELSE tau_star END, 2)
        |    AS alloc_tokens,
        |  CASE WHEN capped THEN 2.0 ELSE round(tau_star / n, 6) END
        |    AS epochs
        |FROM q CROSS JOIN wl
        |ORDER BY source""".stripMargin,

    // exact-integer sums; the one double division rounded once, guarded
    // NULL on a zero token total (no such source in the fixture)
    "q_truncation_loss" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      x -> x != '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT unnest([32, 64, 128]) AS cap)
        |SELECT source, cap,
        |  count(*) AS docs,
        |  CAST(SUM(CASE WHEN n_tok > cap THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_truncated,
        |  CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
        |  CAST(SUM(CASE WHEN n_tok > cap THEN n_tok - cap ELSE 0 END)
        |    AS BIGINT) AS tokens_lost,
        |  round(CAST(SUM(CASE WHEN n_tok > cap THEN n_tok - cap ELSE 0 END)
        |    AS DOUBLE) / SUM(n_tok), 6) AS loss_frac
        |FROM d CROSS JOIN c
        |GROUP BY source, cap
        |ORDER BY source, cap""".stripMargin,

    // quantile_cont boundaries rounded to 6dp before the comparison (the
    // q_bin_quantile discipline — absorbs kernel-vs-quantile_cont double
    // drift); phase = 1 + #{boundaries strictly below diff}
    "q_curriculum" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
        |    round(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6)
        |      AS diff
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(lower(text), ' '), x -> x != '')
        |            AS tk
        |        FROM documents)
        |  WHERE len(tk) > 0),
        |b AS (
        |  SELECT list_transform(
        |    quantile_cont(diff, [0.25, 0.5, 0.75]), x -> round(x, 6)) AS bs
        |  FROM d),
        |p AS (
        |  SELECT diff, n_tok,
        |    1 + CAST(len(list_filter(bs, x -> diff > x)) AS INT) AS phase
        |  FROM d CROSS JOIN b)
        |SELECT phase, count(*) AS n_docs,
        |  min(diff) AS min_diff, max(diff) AS max_diff,
        |  round(CAST(SUM(CAST(round(diff, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS mean_diff,
        |  CAST(SUM(n_tok) AS BIGINT) AS tokens
        |FROM p GROUP BY phase ORDER BY phase""".stripMargin,

    // the q_perplexity unigram-LM discipline (log-probs and per-doc
    // NLLs rounded once to DECIMAL(18,6) so sums are exact), then
    // S-row arithmetic with exp() rounded once and exact normalizers
    "q_mix_reweight" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '),
        |      x -> x != '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n_total FROM toks),
        |lp AS (
        |  SELECT tok, CAST(round(ln(CAST(cnt AS DOUBLE) / n_total), 6)
        |    AS DECIMAL(18,6)) AS lp
        |  FROM cnt CROSS JOIN n),
        |dn AS (
        |  SELECT t.doc_id, CAST(round(-CAST(SUM(l.lp) AS DOUBLE)
        |    / count(*), 6) AS DECIMAL(18,6)) AS nll
        |  FROM toks t JOIN lp l USING (tok) GROUP BY 1),
        |bs AS (
        |  SELECT d.source, count(*) AS n_docs, SUM(dn.nll) AS snll
        |  FROM documents d JOIN dn USING (doc_id) GROUP BY 1),
        |tot AS (SELECT SUM(n_docs) AS nd, SUM(snll) AS stot FROM bs),
        |e AS (
        |  SELECT source, n_docs,
        |    round(CAST(snll AS DOUBLE) / n_docs, 6) AS mean_nll,
        |    round(CAST(snll AS DOUBLE) / n_docs
        |      - CAST(tot.stot AS DOUBLE) / tot.nd, 6) AS excess
        |  FROM bs CROSS JOIN tot),
        |s AS (
        |  SELECT source, n_docs, mean_nll, excess,
        |    n_docs * CAST(round(exp(excess), 6) AS DECIMAL(18,6)) AS w1
        |  FROM e),
        |z AS (SELECT SUM(w1) AS z1, SUM(n_docs) AS ndt FROM s)
        |SELECT s.source, s.n_docs, s.mean_nll, s.excess,
        |  round(CAST(s.n_docs AS DOUBLE) / z.ndt, 6) AS share0,
        |  round(CAST(s.w1 AS DOUBLE) / CAST(z.z1 AS DOUBLE), 6) AS share1
        |FROM s CROSS JOIN z ORDER BY s.source""".stripMargin,
    // same once-rounded decimal α-power weights (exact decimal Z), same
    // shared double share/rate formulas, same (md5 + 1)/2^60 uniform
    "q_temp_sample" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
        |w AS (
        |  SELECT source, n_src,
        |    CAST(round(pow(CAST(n_src AS DOUBLE), 0.7), 6)
        |      AS DECIMAL(18,6)) AS w
        |  FROM s),
        |z AS (
        |  SELECT sum(w) AS z,
        |    (SELECT count(*) FROM documents) AS n_total
        |  FROM w),
        |r AS (
        |  SELECT source, n_src,
        |    round(CAST(w AS DOUBLE) / CAST(z.z AS DOUBLE), 6) AS share,
        |    least(CAST(1.0 AS DOUBLE),
        |      round(round(CAST(w AS DOUBLE) / CAST(z.z AS DOUBLE), 6)
        |        * z.n_total / 5.0 / n_src, 6)) AS rate
        |  FROM w CROSS JOIN z),
        |d AS (
        |  SELECT d.source,
        |    (('0x' || substr(md5('ts:' || CAST(d.doc_id AS VARCHAR)),
        |        1, 15))::BIGINT + 1)
        |      / CAST(1152921504606846976 AS DOUBLE) AS u
        |  FROM documents d)
        |SELECT r.source, min(r.n_src) AS n_src,
        |  round(min(r.share), 6) AS share,
        |  round(min(r.rate), 6) AS rate,
        |  CAST(sum(CASE WHEN d.u < r.rate THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept
        |FROM d JOIN r ON r.source = d.source
        |GROUP BY r.source
        |ORDER BY r.source""".stripMargin,

    // same 4-token md5 rolling window, same first-two-hex-chars bar,
    // same boundaries-strictly-before-p segment numbering; seg_text
    // reassembles in token order in both engines
    "q_cdc_chunks" ->
      s"""$cdcCtesSql
        |SELECT doc_id, seg_idx, n_tok, seg_text, md5(seg_text) AS seg_key
        |FROM g
        |ORDER BY doc_id, seg_idx""".stripMargin,

    // same segmentation, then the same two vocabulary-thin aggregates
    "q_cdc_savings" ->
      s"""$cdcCtesSql,
        |k AS (
        |  SELECT md5(seg_text) AS seg_key, count(*) AS n_copies,
        |    min(length(seg_text)) AS len
        |  FROM g GROUP BY 1)
        |SELECT n_copies, count(*) AS n_segs,
        |  CAST(sum((n_copies - 1) * len) AS BIGINT) AS chars_saved
        |FROM k GROUP BY 1
        |ORDER BY n_copies""".stripMargin,

    // same pad-to-16 bucket grid, same (md5, doc_id) in-bucket order,
    // same 32-doc fill; utilization one double division rounded once
    "q_batch_padding" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      x -> x != '')) AS BIGINT) AS n_tok,
        |    md5('batch:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tok,
        |    CAST(ceil(n_tok / 16.0) * 16 AS BIGINT) AS bucket, h
        |  FROM d),
        |a AS (
        |  SELECT bucket, n_tok,
        |    CAST((row_number() OVER (PARTITION BY bucket
        |      ORDER BY h, doc_id) - 1) // 32 AS BIGINT) AS batch_id
        |  FROM r)
        |SELECT bucket, batch_id, count(*) AS n_docs,
        |  CAST(max(n_tok) AS BIGINT) AS max_tok,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tok,
        |  CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS padding,
        |  CASE WHEN count(*) * max(n_tok) = 0 THEN NULL
        |    ELSE round(CAST(sum(n_tok) AS DOUBLE)
        |      / (count(*) * max(n_tok)), 6) END AS utilization
        |FROM a GROUP BY 1, 2
        |ORDER BY bucket, batch_id""".stripMargin,

    // same tokenizer, same end-inclusive series, same 1-based inclusive
    // slice; chunk_idx = start/stride exactly because starts are the
    // stride multiples the series emits
    "q_chunk_overlap" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t != '') AS tk
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, tk,
        |    unnest(generate_series(0, greatest(len(tk) - 1, 0), 24)) AS s
        |  FROM tk),
        |ck AS (
        |  SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_idx,
        |    CAST(s AS BIGINT) AS start_tok,
        |    list_slice(tk, s + 1, s + 32) AS ck
        |  FROM st)
        |SELECT doc_id, chunk_idx, start_tok,
        |  CAST(len(ck) AS BIGINT) AS n_tok,
        |  array_to_string(ck, ' ') AS chunk_text,
        |  md5(array_to_string(ck, ' ')) AS chunk_key
        |FROM ck
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // integer token-count sums (CAST to BIGINT: DuckDB SUM(BIGINT) is
    // HUGEINT) and ONE double division of exact integer products — no
    // logs, so the score and its ranking are bit-portable
    "q_dsir_select" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    unnest(list_filter(string_split(lower(text), ' '),
        |      x -> x != '')) AS tok
        |  FROM documents),
        |tgt AS (
        |  SELECT tok, count(*) AS c_t FROM toks
        |  WHERE source = 'src0' GROUP BY 1),
        |raw AS (SELECT tok, count(*) AS c_r FROM toks GROUP BY 1),
        |tot AS (
        |  SELECT count(*) AS n_r,
        |    SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS n_t
        |  FROM toks),
        |sc AS (
        |  SELECT t.doc_id, t.source,
        |    CAST(SUM(COALESCE(g.c_t, 0)) AS BIGINT) AS st,
        |    CAST(SUM(r.c_r) AS BIGINT) AS sr
        |  FROM toks t
        |  JOIN raw r ON r.tok = t.tok
        |  LEFT JOIN tgt g ON g.tok = t.tok
        |  WHERE t.source <> 'src0'
        |  GROUP BY 1, 2)
        |SELECT source, CAST(rk AS INT) AS rk, doc_id, st, sr, score
        |FROM (
        |  SELECT s.source, s.doc_id, s.st, s.sr,
        |    CAST(s.st * tot.n_r AS DOUBLE) / (s.sr * tot.n_t) AS score,
        |    row_number() OVER (PARTITION BY s.source
        |      ORDER BY CAST(s.st * tot.n_r AS DOUBLE)
        |          / (s.sr * tot.n_t) DESC,
        |        s.doc_id) AS rk
        |  FROM sc s, tot)
        |WHERE rk <= 10
        |ORDER BY source, rk""".stripMargin,

    // identical rate arithmetic (min(1, (n_total/k)/n_lang) in the same
    // double shape) and the same (md5 + 1) / 2^60 uniform as the A-ES
    // sampler, so keep decisions match row-for-row
    "q_rebalance" ->
      """WITH bl AS (
        |  SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
        |tot AS (
        |  SELECT count(*) AS n_total, count(DISTINCT lang) AS k
        |  FROM documents),
        |r AS (
        |  SELECT lang, n_lang,
        |    least(CAST(1.0 AS DOUBLE),
        |      (CAST(n_total AS DOUBLE) / k) / n_lang) AS rate
        |  FROM bl CROSS JOIN tot),
        |d AS (
        |  SELECT d.lang,
        |    (('0x' || substr(md5('rb:' || CAST(d.doc_id AS VARCHAR)),
        |        1, 15))::BIGINT + 1)
        |      / CAST(1152921504606846976 AS DOUBLE) AS u
        |  FROM documents d)
        |SELECT r.lang, min(r.n_lang) AS n_before,
        |  CAST(sum(CASE WHEN d.u < r.rate THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_after,
        |  round(min(r.rate), 6) AS rate
        |FROM d JOIN r ON r.lang = d.lang
        |GROUP BY r.lang
        |ORDER BY r.lang""".stripMargin,

    // identical md5-keyed uniforms; the 2^60 divisor is CAST AS DOUBLE so
    // DuckDB doesn't run the division in DECIMAL
    "q_sample_weighted" ->
      """SELECT doc_id, n_chars,
        |  round(ln((('0x' || substr(md5('res:' || CAST(doc_id AS VARCHAR)),
        |      1, 15))::BIGINT + 1)
        |    / CAST(1152921504606846976 AS DOUBLE)) / n_chars, 9) AS key
        |FROM documents
        |WHERE n_chars > 0
        |ORDER BY key DESC, doc_id
        |LIMIT 50""".stripMargin,

    "q_sample_stratified" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    md5('strat:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id,
        |    CAST(ROW_NUMBER() OVER
        |      (PARTITION BY source ORDER BY h, doc_id) AS INT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY source) AS INT) AS n_strat
        |  FROM d)
        |SELECT source, doc_id, rn, n_strat FROM r
        |WHERE rn <= (n_strat + 9) // 10
        |ORDER BY source, doc_id""".stripMargin,
    "q_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id % 8 AS shard, doc_id, n_chars,
        |    md5('pack:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (
        |  SELECT shard, n_chars,
        |    SUM(n_chars) OVER (PARTITION BY shard ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT shard, CAST((cum - n_chars) // 4000 AS BIGINT) AS pack_id,
        |  CAST(COUNT(*) AS INT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM c GROUP BY 1, 2 ORDER BY shard, pack_id""".stripMargin,
    "q_shuffle_global" ->
      """SELECT doc_id, md5('shuf:' || CAST(doc_id AS VARCHAR)) AS h
        |FROM documents ORDER BY h, doc_id""".stripMargin,
    "q_mix_weighted" ->
      s"""SELECT lang, CAST(COUNT(*) AS INT) AS n_total,
         |  CAST(SUM(CASE WHEN
         |      substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)
         |        < $mixCaseSql
         |    THEN 1 ELSE 0 END) AS INT) AS n_kept
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  )
}
