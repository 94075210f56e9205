package graft.queries

import graft.Decimals._
import graft.Tables
import graft.functions.TextFunctions.tokensSql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-health additions (r14–r15). */
object Corpus2Ops extends QueryPack {

  /** The (source, tok, c) count relation + per-source totals shared by
    * the r15 distributional ops — one tokenization home, the
    * q_kl_sources scan shape. */
  private def sourceTokenCounts(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "documents")
      .select($"source",
        explode(graft.functions.TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"source", $"tok")
      .agg(count(lit(1)).as("c"))
  }

  // ---- q_entropy_rate ------------------------------------------------------
  /** Character-level entropy rate per source (Shannon '51's estimate at
    * bigram order): unigram entropy H1, bigram entropy H2, and the
    * conditional rate H(c₂|c₁) = H2 − H1 over the first 64 characters
    * of every document — the CHARACTER-side complement of q_entropy's
    * token diversity: a source whose rate collapses is template/markup
    * spam even when its token vocabulary looks healthy, and a rate near
    * the uniform bound is noise/obfuscation. Characters come from a
    * position spine (substr at i — the engine-portable form; the
    * fixture is ASCII so bytes ≡ chars in both engines, the
    * q_frame_sample precedent); −p·ln p terms round once to 9dp into
    * exact decimal sums (the q_kl_sources ln discipline). Scale: cost
    * is docs × 64 positions; the entropy aggregates are
    * (source, gram)-keyed — fully partial-aggregable. */
  def qEntropyRate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val chars = Tables.df(spark, sfDir, "documents")
      .select($"source", $"text",
        explode(sequence(lit(1), lit(64))).as("i"))
      .filter(length($"text") >= $"i")
      .select($"source", $"i", $"text",
        substring($"text", 1, 64).as("head"))
      .select($"source", $"i",
        expr("substr(head, i, 1)").as("c1"),
        when(expr("i < 64 AND length(head) >= i + 1"),
          expr("substr(head, i, 2)")).as("c2"))
      .localCheckpoint() // unigram + bigram aggregations
    def entropy(df: DataFrame, col: String): DataFrame = {
      val cnt = df.filter(org.apache.spark.sql.functions.col(col).isNotNull)
        .groupBy($"source", org.apache.spark.sql.functions.col(col))
        .agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy($"source").agg(sum($"c").as("tn"),
        count(lit(1)).as("vocab"))
      cnt.join(tot, "source")
        .select($"source", $"tn", $"vocab",
          round(($"c".cast("double") / $"tn")
            * log($"c".cast("double") / $"tn"), 9).cast(dec28_9).as("tm"))
        .groupBy($"source", $"tn", $"vocab")
        .agg((-sum($"tm").cast("double")).as("h"))
    }
    val h1 = entropy(chars, "c1")
      .select($"source", $"tn".as("n_chars"), $"vocab".as("vocab_chars"),
        $"h".as("h1r"))
    val h2 = entropy(chars, "c2")
      .select($"source".as("s2"), $"vocab".as("vocab_bigrams"),
        $"h".as("h2r"))
    h1.join(h2, $"source" === $"s2")
      .select($"source", $"n_chars", $"vocab_chars", $"vocab_bigrams",
        round($"h1r", 6).as("h1"),
        round($"h2r", 6).as("h2"),
        round($"h2r" - $"h1r", 6).as("h_rate"))
      .orderBy($"source")
  }

  // ---- q_js_sources --------------------------------------------------------
  /** Pairwise Jensen–Shannon divergence between per-source unigram LMs —
    * q_kl_sources' SYMMETRIC, BOUNDED companion (Lin '91): JSD(a,b) =
    * ½KL(a‖m) + ½KL(b‖m) with m the midpoint mixture, always finite and
    * ≤ ln 2, plus its metric square root (Endres–Schindelin '03) — the
    * number a mixture-rebalancing pipeline can actually threshold and
    * triangulate on, where KL's asymmetry and unboundedness make
    * cross-source dashboards unreadable. Same Laplace-smoothed LM spine
    * as q_kl_sources (the one smoothing definition); per-token terms
    * round once to 9dp into exact decimal sums (the house ln
    * discipline), only the UPPER triangle src1 < src2 is emitted (JSD
    * is symmetric — half the rows of the KL matrix). Scale:
    * vocabulary-thin spine (S × V), never doc-grain. */
  def qJsSources(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val counts = sourceTokenCounts(spark, sfDir)
    val totals = counts.groupBy($"source").agg(sum($"c").as("n"))
    val vocab = counts.select($"tok").distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val spine = totals.crossJoin(vocab)
      .join(counts, Seq("source", "tok"), "left")
      .crossJoin(broadcast(vsize))
      .select($"source", $"tok",
        ((coalesce($"c", lit(0L)) + 1).cast("double")
          / ($"n" + $"v")).as("p"))
    val a = spine.select($"source".as("src1"), $"tok", $"p".as("p1"))
    val b = spine.select($"source".as("src2"), $"tok", $"p".as("p2"))
    a.join(b, "tok")
      .filter($"src1" < $"src2")
      .withColumn("m", ($"p1" + $"p2") / 2)
      .select($"src1", $"src2",
        round(lit(0.5) * ($"p1" * log($"p1" / $"m")
          + $"p2" * log($"p2" / $"m")), 9).cast(dec18_9).as("term"))
      .groupBy($"src1", $"src2")
      .agg(sum($"term").cast("double").as("js"))
      .withColumn("js_dist", round(sqrt($"js"), 6))
      .orderBy($"src1", $"src2")
  }

  // ---- q_burrows_delta -----------------------------------------------------
  /** Burrows' Delta stylometric distance between sources (Burrows LLC
    * '02, the standard authorship-attribution measure): over the
    * corpus's 32 most frequent tokens — the "function word" band where
    * style lives and topic does not — each source's relative frequency
    * z-scores against the cross-source distribution, and Delta(a,b) is
    * the mean |z_a − z_b|. A source whose Delta to every sibling spikes
    * is template spam or a scraper mis-label even when its vocabulary
    * and quality scores look healthy — the provenance check beside
    * q_kl_sources' topical read. Determinism: relative frequencies
    * round once to 9dp decimals, the z moments are exact decimal sums
    * with one shared double mean/std formula, z rounds to 6dp, and the
    * |Δz| terms round to 6dp decimals before the exact mean — no float
    * summation anywhere. Zero-variance tokens z to NULL in both engines
    * and drop from the mean (count(term) semantics). Scale: the
    * top-32 pick is a distributed TakeOrdered over the vocabulary-thin
    * count relation; everything downstream is S × 32. */
  def qBurrowsDelta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val counts = sourceTokenCounts(spark, sfDir).localCheckpoint()
    val totals = counts.groupBy($"source").agg(sum($"c").as("n"))
    val top = counts.groupBy($"tok").agg(sum($"c").as("ct"))
      .orderBy($"ct".desc, $"tok".asc).limit(32)
      .select($"tok")
    val f = totals.crossJoin(broadcast(top))
      .join(counts, Seq("source", "tok"), "left")
      .select($"source", $"tok",
        round(coalesce($"c", lit(0L)).cast("double") / $"n", 9)
          .cast(dec12_9).as("f"))
      .localCheckpoint() // moment pass + both z arms
    val mom = f.groupBy($"tok").agg(count(lit(1)).as("k"),
      sum($"f").as("sx"), sum($"f" * $"f").as("sx2"))
    val z = f.join(broadcast(mom), "tok")
      .withColumn("mu", $"sx".cast("double") / $"k")
      .withColumn("sd", sqrt(
        ($"sx2".cast("double")
          - $"sx".cast("double") * $"sx".cast("double") / $"k")
          / ($"k" - 1)))
      .select($"source", $"tok",
        when($"sd" =!= 0.0,
          round(($"f".cast("double") - $"mu") / $"sd", 6)).as("z"))
    val za = z.select($"source".as("src1"), $"tok", $"z".as("z1"))
    val zb = z.select($"source".as("src2"), $"tok", $"z".as("z2"))
    za.join(zb, "tok")
      .filter($"src1" < $"src2")
      .select($"src1", $"src2",
        round(abs($"z1" - $"z2"), 6).cast(dec18_6).as("dz"))
      .groupBy($"src1", $"src2")
      .agg(count($"dz").as("n_tokens"),
        round(sum($"dz").cast("double") / count($"dz"), 6).as("delta"))
      .orderBy($"src1", $"src2")
  }

  // ---- q_chao1 -------------------------------------------------------------
  /** Chao1 vocabulary-richness estimation per source (Chao '84, the
    * bias-corrected form) + Good's sample coverage: from the token-type
    * abundance counts alone — D observed types, f1 singletons, f2
    * doubletons, N tokens — estimate the TRUE vocabulary size
    * D + f1(f1−1)/(2(f2+1)) and the fraction of the token mass already
    * seen (C = 1 − f1/N). The "how much corpus is still unseen" read
    * that q_heaps_growth extrapolates by curve shape and q_good_turing
    * prices per frequency class: a source whose chao1 vastly exceeds D
    * at low coverage needs more crawl before its LM stats stabilize.
    * Everything is exact integers until one shared double formula per
    * source, rounded once — trivially hash-stable. Scale: one
    * vocabulary-thin pass; the abundance histogram is (source, c)
    * grain. */
  def qChao1(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    sourceTokenCounts(spark, sfDir)
      .groupBy($"source")
      .agg(sum($"c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when($"c" === 1, 1L).otherwise(0L)).as("f1"),
        sum(when($"c" === 2, 1L).otherwise(0L)).as("f2"))
      .select($"source", $"n_tokens", $"n_types", $"f1", $"f2",
        round($"n_types"
          + $"f1".cast("double") * ($"f1" - 1)
            / (lit(2.0) * ($"f2" + 1)), 6).as("chao1"),
        round(lit(1.0)
          - $"f1".cast("double") / $"n_tokens", 6).as("coverage"))
      .orderBy($"source")
  }

  // ---- q_rbo_drift ---------------------------------------------------------
  /** Rank-biased overlap between the two release halves' top-50 token
    * rankings (Webber–Moffat–Zobel TOIS '10): split the corpus by
    * doc_id parity (the q_dataset_diff two-snapshot frame), rank each
    * half's tokens by count, and score the ranking agreement at depths
    * 5/10/25/50 three ways — raw prefix overlap, prefix Jaccard, and
    * truncated RBO at p = 0.9, the top-weighted measure that notices a
    * head-token reshuffle set-based overlap cannot see. The
    * release-over-release drift gate for tokenizer vocab and mixture
    * decisions keyed on "did the head of the distribution move".
    * Determinism: counts are exact integers with (count desc, tok)
    * ties; p^(d−1) weights round once to 12dp (the q_srp_bands shared
    * pow discipline); per-depth contributions are 9dp decimals under an
    * exact 50-row running sum. Scale: ranking windows run on the
    * vocabulary-thin per-half count relation; everything after the
    * rank-50 cut is ≤ 50 × 50 rows. */
  def qRboDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.df(spark, sfDir, "documents")
      .select(($"doc_id" % 2).cast("int").as("half"),
        explode(graft.functions.TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"half", $"tok")
      .agg(count(lit(1)).as("c"))
    val wR = Window.partitionBy($"half").orderBy($"c".desc, $"tok".asc)
    val ranked = counts.withColumn("rk", row_number().over(wR))
      .filter($"rk" <= 50)
      .localCheckpoint() // both half arms
    val joined = ranked.filter($"half" === 0)
      .select($"tok", $"rk".as("ra"))
      .join(ranked.filter($"half" === 1)
        .select($"tok", $"rk".as("rb")), "tok")
      .select(greatest($"ra", $"rb").as("mr"))
    val depths = spark.range(1, 51).select($"id".cast("int").as("d"))
    val ov = depths.join(joined, $"mr" <= $"d", "left")
      .groupBy($"d").agg(count($"mr").as("ov"))
      .select($"d", $"ov",
        round(round(pow(lit(0.9), $"d" - 1), 12)
          * $"ov" / $"d", 9).cast(dec18_9).as("contrib"))
    val wC = Window.orderBy($"d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ov.withColumn("cum", sum($"contrib").over(wC))
      .filter($"d".isin(5, 10, 25, 50))
      .select($"d".as("depth"), $"ov".as("overlap"),
        round($"ov".cast("double") / (lit(2) * $"d" - $"ov"), 6)
          .as("jaccard"),
        round(lit(0.1) * $"cum".cast("double"), 6).as("rbo"))
      .orderBy($"depth")
  }

  // ---- q_rouge_lite --------------------------------------------------------
  /** ROUGE-1/ROUGE-2 overlap (Lin '04) between each document and the
    * NEXT doc_id within its source — the standard summarization-eval
    * metric repurposed as boilerplate forensics: a source whose
    * adjacent documents score high ROUGE is template-stamped even when
    * exact/MinHash dedup passes (the n-gram-multiset view q_containment
    * 's set view can't see — clipped counts catch REPEATED shared
    * phrases). Per pair and n ∈ {1,2}: overlap = Σ_g min(c_ref, c_cand)
    * (the clipped-count form), P = ov/|cand|, R = ov/|ref|, F = 2PR/
    * (P+R); per-source means reported per n. Scale shape: every doc
    * joins ≤ 2 pairs (the lead() chain), so the (pair, gram) join is
    * corpus-linear; counts/overlaps are exact integers, P/R/F round
    * once to 9dp into decimal means, each mean rounds once to 6dp.
    * Pairs missing a side's grams (single-token docs at n=2) drop via
    * the inner total joins identically in both engines. */
  def qRougeLite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"source",
        graft.functions.TextFunctions.tokens($"text").as("T"))
    val uni = docs.select($"doc_id", explode($"T").as("g"))
      .withColumn("n", lit(1))
    val big = docs.filter(size($"T") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(T) - 1),
          |  i -> concat(element_at(T, i), ' ', element_at(T, i + 1)))"""
          .stripMargin)).as("g"))
      .withColumn("n", lit(2))
    val cnt = uni.unionByName(big)
      .groupBy($"doc_id", $"n", $"g").agg(count(lit(1)).as("c"))
      .localCheckpoint() // totals + both pair sides
    val tot = cnt.groupBy($"doc_id", $"n").agg(sum($"c").as("tot"))
    val pairs = docs.select($"source", $"doc_id")
      .withColumn("b", lead($"doc_id", 1).over(
        Window.partitionBy($"source").orderBy($"doc_id")))
      .filter($"b".isNotNull)
      .select($"source", $"doc_id".as("a"), $"b")
    val ov = pairs
      .join(cnt.select($"doc_id".as("a"), $"n", $"g", $"c".as("ca")), "a")
      .join(cnt.select($"doc_id".as("b"), $"n", $"g", $"c".as("cb")),
        Seq("b", "n", "g"))
      .groupBy($"source", $"a", $"b", $"n")
      .agg(sum(least($"ca", $"cb")).as("ovl"))
    pairs
      .join(tot.select($"doc_id".as("a"), $"n", $"tot".as("ta")), "a")
      .join(tot.select($"doc_id".as("b"), $"n", $"tot".as("tb")),
        Seq("b", "n"))
      .join(ov, Seq("source", "a", "b", "n"), "left")
      .select($"source", $"n", coalesce($"ovl", lit(0L)).as("ovl"),
        $"ta", $"tb")
      .select($"source", $"n",
        round($"ovl".cast("double") / $"tb", 9).cast(dec18_9).as("p"),
        round($"ovl".cast("double") / $"ta", 9).cast(dec18_9).as("r"),
        $"ovl")
      .withColumn("f", when($"ovl" > 0,
        round(lit(2.0) * $"p".cast("double") * $"r".cast("double")
          / ($"p".cast("double") + $"r".cast("double")), 9).cast(dec18_9))
        .otherwise(lit(0).cast(dec18_9)))
      .groupBy($"source", $"n")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum($"p").cast("double") / count(lit(1)), 6).as("rouge_p"),
        round(sum($"r").cast("double") / count(lit(1)), 6).as("rouge_r"),
        round(sum($"f").cast("double") / count(lit(1)), 6).as("rouge_f"))
      .select($"source", $"n".as("ngram"), $"n_pairs",
        $"rouge_p", $"rouge_r", $"rouge_f")
      .orderBy($"source", $"ngram")
  }

  // ---- q_prefix_cache ------------------------------------------------------
  /** KV-cache prefix-sharing audit (the vLLM/SGLang prefix-caching cost
    * lever): within each source, bucket documents by their first-8-token
    * prefix — every doc after the first in a bucket would reuse the
    * cached prefix KV state, so the savings fraction is
    * Σ_buckets (c−1)·prefix_tokens / Σ doc_tokens. A source with high
    * sharing is template/system-prompt shaped — serve it with prefix
    * caching ON; near-zero sharing says the cache buys nothing. The
    * inference-side twin of q_semcache's whole-answer cache. Scale:
    * one tokenize pass → (source, prefix)-keyed counts (bounded by doc
    * count) → source-thin; exact integer token accounting. */
  def qPrefixCache(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
      .select($"source",
        graft.functions.TextFunctions.tokens($"text").as("T"))
      .select($"source", size($"T").as("n_tok"),
        concat_ws(" ", slice($"T", 1, 8)).as("prefix"),
        least(size($"T"), lit(8)).as("plen"))
    val buckets = docs.groupBy($"source", $"prefix")
      .agg(count(lit(1)).as("c"), min($"plen").as("plen"),
        sum($"n_tok").as("toks"))
    buckets.groupBy($"source")
      .agg(sum($"c").as("n_docs"), count(lit(1)).as("n_prefixes"),
        sum(when($"c" > 1, $"c").otherwise(0L)).as("docs_shared"),
        sum(($"c" - 1) * $"plen").as("cached_tokens"),
        sum($"toks").as("total_tokens"))
      .select($"source", $"n_docs", $"n_prefixes", $"docs_shared",
        round($"docs_shared".cast("double") / $"n_docs", 6)
          .as("shared_frac"),
        $"cached_tokens",
        round($"cached_tokens".cast("double") / $"total_tokens", 6)
          .as("savings_frac"))
      .orderBy($"source")
  }

  // ---- q_bpe_train -----------------------------------------------------------
  /** BPE merge TRAINING, unrolled (VERDICT r17 #4 — [[CorpusOps.qBpeMerges]]
    * computes one step's pair statistics; this runs the loop): 6 merge
    * rounds over the vocabulary-thin symbol relation (Sennrich ACL'16),
    * each round picking the max-count adjacent pair (count desc, pair
    * asc) and APPLYING it leftmost-greedy before re-counting — the
    * q_pagerank/q_logreg static-unroll discipline, one localCheckpoint
    * per round so round N's plan never embeds round N−1's tree. Output:
    * per round the learned merge, its corpus-weighted pair count, the
    * corpus symbol total after applying it, and the fertility
    * (symbols per corpus token) — the trajectory a tokenizer build
    * reads to pick its vocab size, and the re-read under the trained
    * vocab that q_tok_fertility/q_vocab_coverage motivate.
    *
    * Leftmost-greedy non-overlap is RELATIONAL, not sequential: a merge
    * at position p consumes p+1, so only runs of CONSECUTIVE matches
    * (possible only when a = b) interact; within each run (grouped by
    * the p − row_number() constant) selecting every other position from
    * the run head is exactly the left-to-right scan's choice. Scale:
    * the corpus collapses to the (tok, cnt) vocabulary FIRST (the
    * q_bpe_merges order-of-magnitude cut), so every round is windows +
    * thin joins over |vocab|·len symbol rows; the 1-row merge decision
    * broadcasts. */
  /** EAGER-CONSTRUCTION CONTRACT (ADVICE r19): calling any of the four
    * BPE queries runs the whole training loop — 6 driver-side merge
    * decisions plus per-round localCheckpoints — at DataFrame-
    * CONSTRUCTION time (via [[bpeArtifacts]], which trains once per
    * (application, fixture) and persists the artifact tables), so the
    * returned plan reads a frozen snapshot of the corpus as of that
    * first call, not a lazy view. Acceptable by design for immutable
    * bench fixtures (A/B'd in PERF.md round-19); callers over mutable
    * relations must re-train explicitly. */
  def qBpeTrain(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pre = bpeArtifacts(spark, sfDir)
    spark.table(s"${pre}_traj").orderBy($"round")
  }

  /** Train-once-per-(application, fixture) artifact build (r20, VERDICT
    * r19 #2/Missing #4): the four registered BPE queries each re-ran
    * [[bpeTrainRoundsOf]] in-plan — four compile tails and four eager
    * 6-collect loops for ONE tokenizer. Now the FIRST caller in a JVM
    * pays the training (the q_ann_served honesty: a production fleet
    * trains once per build, never per consumer) and persists three
    * bucketed artifact tables — `<pre>_vocab(tok, n_syms)` (the read
    * model a tokenize fleet loads), `<pre>_traj` (the 6-round merge
    * trajectory), `<pre>_tot(n_tokens, n_chars)` (the char baseline) —
    * and every subsequent BPE query in the same application reads the
    * TABLES. One loop home still: all four surfaces derive from the one
    * [[bpeTrainRoundsOf]] run, so the served artifact, the trajectory,
    * the advice, and the apply report cannot describe different
    * tokenizers. Returns the table-name prefix. */
  private[graft] def bpeArtifacts(spark: SparkSession, sfDir: String)
      : String = {
    // r21 (ADVICE r20): routed through the ONE ServeOps.buildOnce memo
    // (the key and String.hashCode-collision notes live there): the
    // training loop runs inside a lazy cell OUTSIDE the CHM bin lock,
    // so a concurrent same-bin caller never blocks on seconds of Spark
    // jobs and re-entry cannot IllegalStateException.
    ServeOps.buildOnce(spark, sfDir, "graft_bpe") { pre =>
      import spark.implicits._
      val (outs, finalState, nt) = bpeTrainRounds(spark, sfDir)
      val n = Tables.shufflePartitions(spark)
      graft.sources.Sources.writeBucketed(
        finalState.groupBy($"tok").agg(count(lit(1)).as("n_syms")),
        s"${pre}_vocab", n, "tok")
      graft.sources.Sources.writeBucketed(
        outs.reduce(_ unionAll _), s"${pre}_traj", 1, "round")
      graft.sources.Sources.writeBucketed(nt, s"${pre}_tot",
        1, "n_tokens")
    }
  }

  /** The 6-round merge-train loop — per-round report rows + the FINAL
    * symbol state, shared by [[qBpeTrain]] (the trajectory) and
    * [[qBpeApply]] (the per-source fertility read under the trained
    * vocab). One loop home = the applied merges cannot drift from the
    * reported ones. */
  private def bpeTrainRounds(spark: SparkSession, sfDir: String)
      : (Seq[DataFrame], DataFrame, DataFrame) =
    bpeTrainRoundsOf(Tables.df(spark, sfDir, "documents"))

  /** The loop over an arbitrary (text) relation — factored (r19) so
    * R19OpsSpec can pin the vocabulary-collapse path on a crafted
    * corpus. Returns (per-round trajectory rows, final symbol state,
    * the 1-row (n_tokens, n_chars) totals — the char baseline
    * [[qBpeAdvisor]] reads, computed off the SAME tc relation instead
    * of a second corpus scan). */
  private[graft] def bpeTrainRoundsOf(docs: DataFrame)
      : (Seq[DataFrame], DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tc = docs
      .select(explode(graft.functions.TextFunctions.tokens($"text"))
        .as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val nt = tc.agg(sum($"cnt").as("n_tokens"),
      sum($"cnt" * length($"tok")).as("n_chars")).localCheckpoint()
    val wTok = Window.partitionBy($"tok").orderBy($"p")
    var state = tc
      .repartition(Tables.shufflePartitions(spark), $"tok")
      .select($"tok", $"cnt",
        explode(sequence(lit(1), length($"tok"))).as("p"))
      .select($"tok", $"cnt", $"p", expr("substring(tok, p, 1)").as("sym"))
      .localCheckpoint()
    var outs = Seq.empty[DataFrame]
    for (r <- 1 to 6) {
      val withNext = state
        .withColumn("next", lead($"sym", 1).over(wTok))
      // the 1-row merge DECISION is read driver-side (the bounded
      // single-row dimension-read precedent, Similarity.scala): the
      // pick itself stays a distributed agg, but materializing it as
      // three literals removes a per-round localCheckpoint + a
      // broadcast-crossJoin replan — two of the three per-round driver
      // actions VERDICT r18 #2 measured as the q_bpe wall tax. The
      // un-checkpointed withNext window is recomputed where consumed
      // (the topArr collect, plus up to three references through the
      // flagged/sel rebuild below — all windows over the
      // vocabulary-thin symbol relation, executor-cheap at any scale;
      // the A/B against checkpointing it is in PERF.md round-19).
      val topArr = withNext.filter($"next".isNotNull)
        .groupBy($"sym".as("a"), $"next".as("b"))
        .agg(sum($"cnt").as("total"))
        .orderBy($"total".desc, $"a".asc, $"b".asc).limit(1)
        .collect()
      if (topArr.isEmpty) {
        // vocabulary exhausted before round 6 — every token is down to
        // one symbol, no adjacent pair exists (review r19: the
        // driver-side pick crashed here; the prior in-plan form and the
        // oracle's t_k/f_k/s_k chain both degrade to an EMPTY round).
        // Reproduce that degradation exactly: state empties and the
        // round emits no trajectory row.
        state = state.limit(0).localCheckpoint()
        outs = outs :+ nt
          .select(lit(r).as("round"), lit("").as("sym_a"),
            lit("").as("sym_b"), lit(0L).as("pair_count"),
            lit(0L).as("corpus_symbols"), lit(0.0).as("fertility"))
          .limit(0)
      } else {
        val topRow = topArr(0)
        val (aV, bV, totV) =
          (topRow.getString(0), topRow.getString(1), topRow.getLong(2))
        val flagged = withNext
          .withColumn("flg",
            ($"sym" === lit(aV) && $"next" === lit(bV)).cast("int"))
        val sel = flagged.filter($"flg" === 1)
          .withColumn("grp", $"p" - row_number().over(wTok))
          .withColumn("p0m",
            min($"p").over(Window.partitionBy($"tok", $"grp")))
          .filter((($"p" - $"p0m") % 2) === 0)
          .select($"tok", $"p".as("ps"))
        state = flagged
          .join(sel.select($"tok", $"ps".as("p"), lit(1).as("is_sel")),
            Seq("tok", "p"), "left")
          .join(sel.select($"tok", ($"ps" + 1).as("p"), lit(1).as("is_con")),
            Seq("tok", "p"), "left")
          .filter($"is_con".isNull)
          .select($"tok", $"cnt", $"p",
            when($"is_sel" === 1, concat($"sym", $"next"))
              .otherwise($"sym").as("sym"))
          .withColumn("p2", row_number().over(wTok))
          .select($"tok", $"cnt", $"p2".as("p"), $"sym")
          .localCheckpoint()
        val cs = state.agg(sum($"cnt").as("corpus_symbols"))
        outs = outs :+ cs.crossJoin(broadcast(nt))
          .select(lit(r).as("round"), lit(aV).as("sym_a"),
            lit(bV).as("sym_b"), lit(totV).as("pair_count"),
            $"corpus_symbols",
            round($"corpus_symbols".cast("double") / $"n_tokens", 6)
              .as("fertility"))
      }
    }
    (outs, state, nt)
  }

  // ---- q_bpe_apply -----------------------------------------------------------
  /** The trained vocabulary APPLIED, read per source — the projection
    * pass q_bpe_train's trajectory promises: tokenize under the 6
    * learned merges and report each source's fertility (symbols per
    * token) and compression vs the character baseline. A source whose
    * fertility stays near its raw character count is out-of-domain for
    * the trained vocab (the multilingual-tokenizer tax, the read
    * q_tok_fertility/q_vocab_coverage motivate) — the number a mixture
    * decision consults before committing a tokenizer. Scale: the merge
    * loop runs once over the GLOBAL vocabulary (the trained tokenizer —
    * per-source state would train 20 tokenizers); per-source grain
    * arrives only at the end, via a (source, tok)-thin count join
    * against the |vocab|-row final symbol lengths. */
  /** The per-source fertility/compression report off a (tok, n_syms)
    * vocabulary relation — shared verbatim by [[qBpeApply]] (vocab
    * in-plan) and [[qBpeServed]] (vocab read from the persisted
    * tokenizer-artifact table), so the two reads cannot drift. */
  private[graft] def bpeApplyReport(spark: SparkSession, sfDir: String,
      lens: DataFrame): DataFrame = {
    import spark.implicits._
    val stc = Tables.df(spark, sfDir, "documents")
      .select($"source",
        explode(graft.functions.TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("c"))
    stc.join(lens, "tok")
      .groupBy($"source")
      .agg(sum($"c").as("n_tokens"),
        sum($"c" * length($"tok")).as("n_chars"),
        sum($"c" * $"n_syms").as("n_syms"))
      .select($"source", $"n_tokens", $"n_chars", $"n_syms",
        round($"n_syms".cast("double") / $"n_tokens", 6).as("fertility"),
        round(lit(1.0) - $"n_syms".cast("double") / $"n_chars", 6)
          .as("compression"))
      .orderBy($"source")
  }

  /** Reads the persisted vocab artifact (r20, VERDICT r19 #2): the
    * apply pass is a production CONSUMER of the trained tokenizer, so
    * it loads the [[bpeArtifacts]] table like any other fleet member
    * instead of re-running the training loop in-plan — same rows by
    * construction (one loop home), three compile tails cheaper. The
    * eager-construction contract on [[qBpeTrain]] applies. */
  def qBpeApply(spark: SparkSession, sfDir: String): DataFrame = {
    val pre = bpeArtifacts(spark, sfDir)
    bpeApplyReport(spark, sfDir, spark.table(s"${pre}_vocab"))
  }

  // ---- q_bpe_served ----------------------------------------------------------
  /** The trained tokenizer PERSISTED as an artifact and applied from the
    * table (r19 — the q_ann_served discipline for the text side): train
    * once, write the (tok, n_syms) vocabulary read model as a bucketed
    * table — the artifact a production tokenize fleet loads, versioned
    * by the build, never retrained per consumer — then produce the
    * per-source fertility report FROM THE TABLE. One loop home
    * ([[bpeTrainRounds]]) and one report home ([[bpeApplyReport]]) make
    * it row-identical to [[qBpeApply]] by construction, so it shares
    * that oracle: the persisted artifact is invisible in the answer.
    * Scale: the vocab table is vocabulary-thin (|vocab| rows), written
    * once per training run; every apply pass is a (source, tok)-thin
    * count join against the bucketed scan. */
  def qBpeServed(spark: SparkSession, sfDir: String): DataFrame = {
    val pre = bpeArtifacts(spark, sfDir)
    bpeApplyReport(spark, sfDir, spark.table(s"${pre}_vocab"))
  }

  // ---- q_bpe_advisor ---------------------------------------------------------
  /** The vocab-size advisor over the BPE trajectory (VERDICT r18 #6 —
    * the q_ivf_advisor elbow pattern applied to the tokenizer):
    * q_bpe_train emits the fertility trajectory "a tokenizer build
    * reads to pick its vocab size"; this is that read, registered. Per
    * merge round: the corpus symbol total, fertility, the symbols
    * SAVED by that round's merge (round 1 saves against the raw
    * character baseline), the saved fraction vs round 1's haul, a
    * diminishing-returns flag (this round saved under a quarter of
    * round 1 — all EXACT integer comparisons, saved·4 < saved₁, so the
    * elbow cannot drift on rounding), and the resulting recommendation:
    * train as many merge rounds as still clear the quarter bar.
    * Shares [[bpeTrainRounds]] — one loop home — so the advice can
    * never describe a different tokenizer than the one trained. Scale:
    * the advisor itself reads the 6-row trajectory plus one
    * vocabulary-thin character-count agg; cost is the shared training
    * loop. */
  def qBpeAdvisor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // one loop home AND one scan home (review r19): the char baseline
    // rides out of bpeTrainRounds' own tc relation instead of a second
    // full tokenize pass; r20 — both now read the persisted artifact
    // tables (the advice is a consumer of the build, like the apply
    // pass), so the training loop compiles and collects exactly once
    // per application
    val pre = bpeArtifacts(spark, sfDir)
    val traj = spark.table(s"${pre}_traj")
    val chars0 = spark.table(s"${pre}_tot").select($"n_chars".as("c0"))
    val w = Window.orderBy($"round")
    val wAll = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    traj.crossJoin(broadcast(chars0))
      .withColumn("saved",
        coalesce(lag($"corpus_symbols", 1).over(w), $"c0")
          - $"corpus_symbols")
      .withColumn("saved1", first($"saved").over(wAll))
      .select($"round", $"corpus_symbols", $"fertility", $"saved",
        round($"saved".cast("double") / $"saved1", 6).as("saved_frac"),
        when($"saved" * 4 < $"saved1", 1).otherwise(0).as("diminishing"),
        sum(when($"saved" * 4 >= $"saved1", 1).otherwise(0)).over(wAll)
          .cast("int").as("recommended_rounds"))
      .orderBy($"round")
  }

  /** One BPE training round's oracle CTEs (m/t/f/g/sel/s/o at index
    * `k`) — generated so the 6 rounds cannot drift from each other;
    * mirrors [[qBpeTrain]]'s window/parity apply exactly. */
  private def bpeRoundSql(k: Int): String = {
    val prev = if (k == 1) "s0" else s"s${k - 1}"
    s"""m$k AS MATERIALIZED (
       |  SELECT tok, cnt, p, sym,
       |    lead(sym) OVER (PARTITION BY tok ORDER BY p) AS next
       |  FROM $prev),
       |t$k AS MATERIALIZED (
       |  SELECT sym AS a, next AS b, CAST(SUM(cnt) AS BIGINT) AS total
       |  FROM m$k WHERE next IS NOT NULL GROUP BY 1, 2
       |  ORDER BY total DESC, a, b LIMIT 1),
       |f$k AS MATERIALIZED (
       |  SELECT m.tok, m.cnt, m.p, m.sym, m.next,
       |    CASE WHEN m.sym = t.a AND m.next = t.b THEN 1 ELSE 0 END AS flg
       |  FROM m$k m CROSS JOIN t$k t),
       |g$k AS MATERIALIZED (
       |  SELECT tok, p,
       |    p - row_number() OVER (PARTITION BY tok ORDER BY p) AS grp
       |  FROM f$k WHERE flg = 1),
       |sel$k AS MATERIALIZED (
       |  SELECT tok, p FROM (
       |    SELECT tok, p, min(p) OVER (PARTITION BY tok, grp) AS p0
       |    FROM g$k)
       |  WHERE (p - p0) % 2 = 0),
       |s$k AS MATERIALIZED (
       |  SELECT tok, cnt,
       |    row_number() OVER (PARTITION BY tok ORDER BY p) AS p, sym
       |  FROM (
       |    SELECT f.tok, f.cnt, f.p,
       |      CASE WHEN s.p IS NOT NULL THEN f.sym || f.next
       |        ELSE f.sym END AS sym
       |    FROM f$k f
       |    LEFT JOIN sel$k s ON s.tok = f.tok AND s.p = f.p
       |    LEFT JOIN sel$k c ON c.tok = f.tok AND c.p = f.p - 1
       |    WHERE c.p IS NULL)),
       |o$k AS (
       |  SELECT CAST($k AS INT) AS round, a AS sym_a, b AS sym_b,
       |    total AS pair_count,
       |    (SELECT CAST(SUM(cnt) AS BIGINT) FROM s$k) AS corpus_symbols
       |  FROM t$k)""".stripMargin
  }

  /** The full train-then-apply oracle (the 6-round bpeRoundSql chain,
    * then the per-source fertility/compression read off s6) — ONE home
    * for q_bpe_apply and q_bpe_served, which differ only in the
    * vocabulary's physical layout. */
  private lazy val bpeApplyOracleSql: String =
    s"""WITH tc AS (
      |  SELECT tok, count(*) AS cnt
      |  FROM (SELECT unnest($tokensSql) AS tok FROM documents)
      |  GROUP BY tok),
      |s0a AS (
      |  SELECT tok, cnt, unnest(range(1, length(tok) + 1)) AS p FROM tc),
      |s0 AS MATERIALIZED (
      |  SELECT tok, cnt, p, substr(tok, p, 1) AS sym FROM s0a),
      |""".stripMargin +
      (1 to 6).map(bpeRoundSql).mkString(",\n") + s""",
      |lens AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_syms
      |  FROM s6 GROUP BY tok),
      |stc AS (
      |  SELECT source, tok, count(*) AS c
      |  FROM (SELECT source, unnest($tokensSql) AS tok FROM documents)
      |  GROUP BY 1, 2)
      |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
      |  CAST(sum(c * length(tok)) AS BIGINT) AS n_chars,
      |  CAST(sum(c * n_syms) AS BIGINT) AS n_syms,
      |  round(CAST(sum(c * n_syms) AS DOUBLE) / sum(c), 6) AS fertility,
      |  round(1.0 - CAST(sum(c * n_syms) AS DOUBLE)
      |    / sum(c * length(tok)), 6) AS compression
      |FROM stc JOIN lens USING (tok)
      |GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bpe_train" -> qBpeTrain,
    "q_bpe_apply" -> qBpeApply,
    "q_bpe_served" -> qBpeServed,
    "q_bpe_advisor" -> qBpeAdvisor,
    "q_prefix_cache" -> qPrefixCache,
    "q_entropy_rate" -> qEntropyRate,
    "q_js_sources" -> qJsSources,
    "q_burrows_delta" -> qBurrowsDelta,
    "q_chao1" -> qChao1,
    "q_rbo_drift" -> qRboDrift,
    "q_rouge_lite" -> qRougeLite
  )

  val oracle: Map[String, String] = Map(
    // the 6-round chained merge train: identical window/parity apply per
    // round (bpeRoundSql), identical (total desc, pair asc) pick
    "q_bpe_train" ->
      (s"""WITH tc AS (
        |  SELECT tok, count(*) AS cnt
        |  FROM (SELECT unnest($tokensSql) AS tok FROM documents)
        |  GROUP BY tok),
        |nt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM tc),
        |s0a AS (
        |  SELECT tok, cnt, unnest(range(1, length(tok) + 1)) AS p FROM tc),
        |s0 AS MATERIALIZED (
        |  SELECT tok, cnt, p, substr(tok, p, 1) AS sym FROM s0a),
        |""".stripMargin
        + (1 to 6).map(bpeRoundSql).mkString(",\n") + """
        |SELECT round, sym_a, sym_b, pair_count, corpus_symbols,
        |  round(CAST(corpus_symbols AS DOUBLE) / n_tokens, 6) AS fertility
        |FROM (SELECT * FROM o1 UNION ALL SELECT * FROM o2
        |  UNION ALL SELECT * FROM o3 UNION ALL SELECT * FROM o4
        |  UNION ALL SELECT * FROM o5 UNION ALL SELECT * FROM o6)
        |CROSS JOIN nt ORDER BY round""".stripMargin),

    // the SAME 6-round chain (bpeRoundSql), then the trajectory read
    // with exact-integer saved/elbow arithmetic (saved·4 vs round 1)
    "q_bpe_advisor" ->
      (s"""WITH tc AS (
        |  SELECT tok, count(*) AS cnt
        |  FROM (SELECT unnest($tokensSql) AS tok FROM documents)
        |  GROUP BY tok),
        |nt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM tc),
        |chars0 AS (
        |  SELECT CAST(SUM(cnt * length(tok)) AS BIGINT) AS c0 FROM tc),
        |s0a AS (
        |  SELECT tok, cnt, unnest(range(1, length(tok) + 1)) AS p FROM tc),
        |s0 AS MATERIALIZED (
        |  SELECT tok, cnt, p, substr(tok, p, 1) AS sym FROM s0a),
        |""".stripMargin
        + (1 to 6).map(bpeRoundSql).mkString(",\n") + """,
        |traj AS (
        |  SELECT round, corpus_symbols,
        |    round(CAST(corpus_symbols AS DOUBLE) / n_tokens, 6)
        |      AS fertility
        |  FROM (SELECT * FROM o1 UNION ALL SELECT * FROM o2
        |    UNION ALL SELECT * FROM o3 UNION ALL SELECT * FROM o4
        |    UNION ALL SELECT * FROM o5 UNION ALL SELECT * FROM o6)
        |  CROSS JOIN nt),
        |adv AS (
        |  SELECT round, corpus_symbols, fertility,
        |    COALESCE(lag(corpus_symbols) OVER (ORDER BY round), c0)
        |      - corpus_symbols AS saved
        |  FROM traj CROSS JOIN chars0),
        |sv1 AS (SELECT saved AS saved1 FROM adv WHERE round = 1)
        |SELECT round, corpus_symbols, fertility, saved,
        |  round(CAST(saved AS DOUBLE) / saved1, 6) AS saved_frac,
        |  CASE WHEN saved * 4 < saved1 THEN 1 ELSE 0 END AS diminishing,
        |  CAST((SELECT count(*) FROM adv a2 CROSS JOIN sv1
        |    WHERE a2.saved * 4 >= sv1.saved1) AS INT)
        |    AS recommended_rounds
        |FROM adv CROSS JOIN sv1 ORDER BY round""".stripMargin),

    // the SAME 6-round chain (bpeRoundSql), then the per-source
    // fertility/compression read off the final symbol state s6
    "q_bpe_apply" -> bpeApplyOracleSql,

    // row-identical to q_bpe_apply by construction (one loop home, one
    // report home — only the vocabulary's physical layout differs), so
    // the persisted-artifact read shares that oracle verbatim
    "q_bpe_served" -> bpeApplyOracleSql,
    // same first-8-token buckets, exact integer token accounting
    "q_prefix_cache" ->
      s"""WITH d0 AS (
        |  SELECT source, $tokensSql AS T FROM documents),
        |docs_ AS (
        |  SELECT source, len(T) AS n_tok,
        |    array_to_string(T[1:8], ' ') AS prefix,
        |    least(len(T), 8) AS plen
        |  FROM d0),
        |buckets AS (
        |  SELECT source, prefix, count(*) AS c,
        |    CAST(min(plen) AS BIGINT) AS plen,
        |    CAST(sum(n_tok) AS BIGINT) AS toks
        |  FROM docs_ GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |  count(*) AS n_prefixes,
        |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
        |    AS docs_shared,
        |  round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
        |    / sum(c), 6) AS shared_frac,
        |  CAST(sum((c - 1) * plen) AS BIGINT) AS cached_tokens,
        |  round(CAST(sum((c - 1) * plen) AS DOUBLE) / sum(toks), 6)
        |    AS savings_frac
        |FROM buckets GROUP BY source ORDER BY source""".stripMargin,

    // same lead()-chained pairs, clipped-count overlaps as exact
    // integers, the identical 9dp P/R/F rounds into decimal means
    "q_rouge_lite" ->
      s"""WITH d0 AS (
        |  SELECT doc_id, source, $tokensSql AS T FROM documents),
        |uni AS (
        |  SELECT doc_id, 1 AS n, unnest(T) AS g FROM d0),
        |big AS (
        |  SELECT doc_id, 2 AS n,
        |    unnest(list_transform(range(1, len(T)),
        |      i -> T[i] || ' ' || T[i + 1])) AS g
        |  FROM d0 WHERE len(T) >= 2),
        |cnt AS (
        |  SELECT doc_id, n, g, count(*) AS c
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
        |  GROUP BY 1, 2, 3),
        |tot AS (SELECT doc_id, n, CAST(sum(c) AS BIGINT) AS tot
        |        FROM cnt GROUP BY 1, 2),
        |pairs AS (
        |  SELECT source, doc_id AS a,
        |    lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS b
        |  FROM d0),
        |pp AS (SELECT source, a, b FROM pairs WHERE b IS NOT NULL),
        |ov AS (
        |  SELECT p.source, p.a, p.b, ca.n,
        |    CAST(sum(least(ca.c, cb.c)) AS BIGINT) AS ovl
        |  FROM pp p
        |  JOIN cnt ca ON ca.doc_id = p.a
        |  JOIN cnt cb ON cb.doc_id = p.b AND cb.n = ca.n AND cb.g = ca.g
        |  GROUP BY 1, 2, 3, 4),
        |prf AS (
        |  SELECT p.source, ca.n, coalesce(ov.ovl, 0) AS ovl,
        |    CAST(round(CAST(coalesce(ov.ovl, 0) AS DOUBLE) / cb.tot, 9)
        |      AS DECIMAL(18,9)) AS pr,
        |    CAST(round(CAST(coalesce(ov.ovl, 0) AS DOUBLE) / ca.tot, 9)
        |      AS DECIMAL(18,9)) AS rc
        |  FROM pp p
        |  JOIN tot ca ON ca.doc_id = p.a
        |  JOIN tot cb ON cb.doc_id = p.b AND cb.n = ca.n
        |  LEFT JOIN ov ON ov.a = p.a AND ov.b = p.b AND ov.n = ca.n),
        |f AS (
        |  SELECT source, n, pr, rc,
        |    CASE WHEN ovl > 0
        |      THEN CAST(round(2.0 * CAST(pr AS DOUBLE) * CAST(rc AS DOUBLE)
        |        / (CAST(pr AS DOUBLE) + CAST(rc AS DOUBLE)), 9)
        |        AS DECIMAL(18,9))
        |      ELSE CAST(0 AS DECIMAL(18,9)) END AS ff
        |  FROM prf)
        |SELECT source, n AS ngram, count(*) AS n_pairs,
        |  round(CAST(sum(pr) AS DOUBLE) / count(*), 6) AS rouge_p,
        |  round(CAST(sum(rc) AS DOUBLE) / count(*), 6) AS rouge_r,
        |  round(CAST(sum(ff) AS DOUBLE) / count(*), 6) AS rouge_f
        |FROM f GROUP BY 1, 2 ORDER BY source, ngram""".stripMargin,

    // same position spine, same 9dp -p ln p terms, same h2 - h1 rate
    "q_entropy_rate" ->
      """WITH pos AS (
        |  SELECT source, substr(text, 1, 64) AS head,
        |    CAST(unnest(range(1, 65)) AS INT) AS i, length(text) AS L
        |  FROM documents),
        |chars AS (
        |  SELECT source, i, substr(head, i, 1) AS c1,
        |    CASE WHEN i < 64 AND length(head) >= i + 1
        |      THEN substr(head, i, 2) END AS c2
        |  FROM pos WHERE L >= i),
        |u1 AS (
        |  SELECT source, c1 AS g, count(*) AS c FROM chars
        |  WHERE c1 IS NOT NULL GROUP BY 1, 2),
        |t1 AS (SELECT source, CAST(sum(c) AS BIGINT) AS tn,
        |       count(*) AS vocab FROM u1 GROUP BY 1),
        |h1 AS (
        |  SELECT u1.source, t1.tn, t1.vocab,
        |    -CAST(sum(CAST(round((CAST(c AS DOUBLE) / tn)
        |      * ln(CAST(c AS DOUBLE) / tn), 9) AS DECIMAL(28,9)))
        |      AS DOUBLE) AS h
        |  FROM u1 JOIN t1 ON t1.source = u1.source
        |  GROUP BY 1, 2, 3),
        |u2 AS (
        |  SELECT source, c2 AS g, count(*) AS c FROM chars
        |  WHERE c2 IS NOT NULL GROUP BY 1, 2),
        |t2 AS (SELECT source, CAST(sum(c) AS BIGINT) AS tn,
        |       count(*) AS vocab FROM u2 GROUP BY 1),
        |h2 AS (
        |  SELECT u2.source, t2.vocab,
        |    -CAST(sum(CAST(round((CAST(c AS DOUBLE) / tn)
        |      * ln(CAST(c AS DOUBLE) / tn), 9) AS DECIMAL(28,9)))
        |      AS DOUBLE) AS h
        |  FROM u2 JOIN t2 ON t2.source = u2.source
        |  GROUP BY 1, 2)
        |SELECT h1.source, h1.tn AS n_chars, h1.vocab AS vocab_chars,
        |  h2.vocab AS vocab_bigrams,
        |  round(h1.h, 6) AS h1, round(h2.h, 6) AS h2,
        |  round(h2.h - h1.h, 6) AS h_rate
        |FROM h1 JOIN h2 ON h2.source = h1.source
        |ORDER BY h1.source""".stripMargin,

    // the q_kl_sources Laplace spine verbatim; midpoint mixture, 9dp
    // once-rounded JS terms, upper triangle only
    "q_js_sources" ->
      s"""WITH t AS (
        |  SELECT source, unnest($tokensSql) AS tok FROM documents),
        |counts AS (
        |  SELECT source, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |totals AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM counts
        |  GROUP BY 1),
        |vocab AS (SELECT DISTINCT tok FROM counts),
        |vsize AS (SELECT count(*) AS v FROM vocab),
        |spine AS (
        |  SELECT s.source, vo.tok,
        |    CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) / (s.n + vs.v) AS p
        |  FROM totals s CROSS JOIN vocab vo CROSS JOIN vsize vs
        |  LEFT JOIN counts c ON c.source = s.source AND c.tok = vo.tok),
        |pr AS (
        |  SELECT a.source AS src1, b.source AS src2,
        |    a.p AS p1, b.p AS p2, (a.p + b.p) / 2 AS m
        |  FROM spine a JOIN spine b ON a.tok = b.tok
        |  WHERE a.source < b.source),
        |js AS (
        |  SELECT src1, src2,
        |    CAST(sum(CAST(round(0.5 * (p1 * ln(p1 / m)
        |      + p2 * ln(p2 / m)), 9) AS DECIMAL(18,9))) AS DOUBLE) AS js
        |  FROM pr GROUP BY 1, 2)
        |SELECT src1, src2, js, round(sqrt(js), 6) AS js_dist
        |FROM js ORDER BY src1, src2""".stripMargin,

    // same top-32 TakeOrdered pick, 9dp decimal relative frequencies,
    // shared mean/std double formula, 6dp z and |dz| decimal mean
    "q_burrows_delta" ->
      s"""WITH t AS (
        |  SELECT source, unnest($tokensSql) AS tok FROM documents),
        |counts AS (
        |  SELECT source, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |totals AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM counts
        |  GROUP BY 1),
        |top AS (
        |  SELECT tok FROM (
        |    SELECT tok, sum(c) AS ct FROM counts GROUP BY tok
        |    ORDER BY ct DESC, tok ASC LIMIT 32)),
        |f AS (
        |  SELECT s.source, top.tok,
        |    CAST(round(CAST(COALESCE(c.c, 0) AS DOUBLE) / s.n, 9)
        |      AS DECIMAL(12,9)) AS f
        |  FROM totals s CROSS JOIN top
        |  LEFT JOIN counts c ON c.source = s.source AND c.tok = top.tok),
        |mom AS (
        |  SELECT tok, count(*) AS k, sum(f) AS sx, sum(f * f) AS sx2
        |  FROM f GROUP BY tok),
        |z AS (
        |  SELECT f.source, f.tok,
        |    CASE WHEN sqrt((CAST(sx2 AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / k)
        |        / (k - 1)) != 0
        |      THEN round((CAST(f AS DOUBLE) - CAST(sx AS DOUBLE) / k)
        |        / sqrt((CAST(sx2 AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / k)
        |          / (k - 1)), 6) END AS z
        |  FROM f JOIN mom ON mom.tok = f.tok),
        |dz AS (
        |  SELECT a.source AS src1, b.source AS src2,
        |    CAST(round(abs(a.z - b.z), 6) AS DECIMAL(18,6)) AS dz
        |  FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source)
        |SELECT src1, src2, CAST(count(dz) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(dz) AS DOUBLE) / count(dz), 6) AS delta
        |FROM dz GROUP BY 1, 2 ORDER BY src1, src2""".stripMargin,

    // exact-integer abundance histogram, one shared double formula
    "q_chao1" ->
      s"""WITH t AS (
        |  SELECT source, unnest($tokensSql) AS tok FROM documents),
        |counts AS (
        |  SELECT source, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |a AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS f1,
        |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS f2
        |  FROM counts GROUP BY source)
        |SELECT source, n_tokens, n_types, f1, f2,
        |  round(n_types
        |    + CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1)), 6)
        |    AS chao1,
        |  round(1.0 - CAST(f1 AS DOUBLE) / n_tokens, 6) AS coverage
        |FROM a ORDER BY source""".stripMargin,

    // same (count desc, tok) per-half ranking, 12dp pow weights, 9dp
    // decimal contributions under an exact running sum
    "q_rbo_drift" ->
      s"""WITH t AS (
        |  SELECT CAST(doc_id % 2 AS INT) AS half,
        |    unnest($tokensSql) AS tok
        |  FROM documents),
        |counts AS (
        |  SELECT half, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |ranked AS (
        |  SELECT half, tok, rk FROM (
        |    SELECT half, tok, row_number() OVER (PARTITION BY half
        |      ORDER BY c DESC, tok ASC) AS rk
        |    FROM counts) WHERE rk <= 50),
        |joined AS (
        |  SELECT greatest(a.rk, b.rk) AS mr
        |  FROM ranked a JOIN ranked b ON b.tok = a.tok
        |  WHERE a.half = 0 AND b.half = 1),
        |depths AS (SELECT CAST(unnest(range(1, 51)) AS INT) AS d),
        |ov AS (
        |  SELECT d, CAST(count(mr) AS BIGINT) AS ov,
        |    CAST(round(round(pow(0.9, d - 1), 12)
        |      * count(mr) / d, 9) AS DECIMAL(18,9)) AS contrib
        |  FROM depths LEFT JOIN joined ON mr <= d
        |  GROUP BY d),
        |cums AS (
        |  SELECT d, ov, sum(contrib) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM ov)
        |SELECT d AS depth, ov AS overlap,
        |  round(CAST(ov AS DOUBLE) / (2 * d - ov), 6) AS jaccard,
        |  round(0.1 * CAST(cum AS DOUBLE), 6) AS rbo
        |FROM cums WHERE d IN (5, 10, 25, 50)
        |ORDER BY depth""".stripMargin
  )
}
