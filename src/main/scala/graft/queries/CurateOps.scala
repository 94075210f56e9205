package graft.queries

import graft.Decimals._
import graft.Tables
import graft.functions.{CosineSimilarity, SortedIntersectSize, TextFunctions}
import graft.operators.Similarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation pack: an exact set-similarity join with prefix
  * filtering (the All-Pairs / PPJoin candidate scheme — Bayardo et al.,
  * WWW'07; Xiao et al., WWW'08), deterministic k-means over the embedding
  * table (the SemDeDup-style cluster-then-curate step), and quality-ranked
  * survivorship over near-duplicate clusters.
  *
  * The prefix-filter pair source is the scale-relevant piece: unlike a
  * length-banded theta join (which plans as a nested-loop), candidates come
  * from an EQUI-join on a prefix token, so the work shuffles by key and
  * grows with the candidate count, not n². Canonical token order here is
  * ascending xxhash64 (frequency-agnostic, keeps the DuckDB oracle exact);
  * a production corpus would sort by ascending document frequency instead —
  * same theorem, strictly fewer candidates — at the cost of one extra
  * corpus pass to count frequencies.
  */
object CurateOps extends QueryPack {

  /** Exact Jaccard-threshold pairs via prefix filtering.
    *
    * For sets sorted in one global order, |A∩B| >= a requires the first
    * (|A| - a + 1) elements of A to intersect the first (|B| - a + 1) of B;
    * J(A,B) >= num/den implies |A∩B| >= ceil(t|A|) and >= ceil(t|B|), so
    * exploding only each set's (sz - ceil(t*sz) + 1)-element prefix and
    * equi-joining on the prefix token is candidate-complete. The length
    * band (t*s1 <= s2 <= s1/t) is applied in exact integer arithmetic
    * (s2*den >= s1*num) so no boundary pair is lost to float rounding.
    * Verification reuses the codegen merge-walk kernel over the full
    * sorted-hash arrays.
    */
  private[queries] def prefixPairs(spark: SparkSession, sfDir: String,
      subsetMod: Int, num: Int, den: Int): DataFrame = {
    import spark.implicits._
    // tokenSet is the shared dedup-family tokenizer; the outer
    // array_distinct guards the (~2^-64 per token pair) case of two
    // DISTINCT tokens colliding under xxhash64 — sizes and intersections
    // are computed over hashes, so the raw-string oracle only matches
    // collision-free (same standing assumption as q_dedup_ngram)
    val sh = Tables.df(spark, sfDir, "documents")
      .filter($"doc_id" % subsetMod === 0)
      .select($"doc_id",
        sort_array(array_distinct(transform(
          TextFunctions.tokenSet($"text"),
          t => xxhash64(t)))).as("t"))
      .withColumn("sz", size($"t"))
      .filter($"sz" > 0)
    // prefix length = sz - ceil(t*sz) + 1, all-integer: ceil(num*sz/den)
    // = (num*sz + den - 1) div den
    val pref = sh.select($"doc_id", $"sz",
      explode(slice($"t", lit(1),
        ($"sz" - expr(s"(sz * $num + $den - 1) div $den") + 1)
          .cast("int"))).as("tok"))
    val a = pref.select($"tok", $"doc_id".as("id1"), $"sz".as("s1"))
    val b = pref.select($"tok".as("tok2"), $"doc_id".as("id2"), $"sz".as("s2"))
    val cand = a.join(b, $"tok" === $"tok2"
        && $"id1" < $"id2"
        && $"s2" * den >= $"s1" * num
        && $"s1" * den >= $"s2" * num)
      .select($"id1", $"id2").distinct()
    cand
      .join(sh.select($"doc_id".as("id1"), $"t".as("t1"), $"sz".as("s1")), "id1")
      .join(sh.select($"doc_id".as("id2"), $"t".as("t2"), $"sz".as("s2")), "id2")
      .withColumn("li", SortedIntersectSize.of($"t1", $"t2").cast("double"))
      .withColumn("j", $"li" / ($"s1" + $"s2" - $"li"))
      .filter($"j" >= lit(num.toDouble / den))
      .select($"id1", $"id2", $"j",
        ($"li" / least($"s1", $"s2")).as("containment"))
  }

  // ---- q_prefix_join -----------------------------------------------------
  /** Token-set similarity self-join at J >= 0.9 over the doc_id%5 subset,
    * reporting Jaccard and containment per surviving pair. */
  def qPrefixJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    prefixPairs(spark, sfDir, subsetMod = 5, num = 9, den = 10)
      .select($"id1", $"id2", round($"j", 6).as("j"),
        round($"containment", 6).as("containment"))
      .orderBy($"id1", $"id2")
  }

  // ---- q_dedup_sweep -----------------------------------------------------
  /** Threshold-sensitivity report for the near-dup policy decision: the
    * same prefix-filtered pair graph evaluated at J ≥ 0.7 / 0.8 / 0.9,
    * reporting per threshold the surviving pairs, the documents touched,
    * and the drops under the aggressive "discard the lower-quality member
    * of every pair" policy (id order as the quality proxy, matching the
    * family's min-id survivor convention). One candidate generation at
    * the LOOSEST threshold is candidate-complete for every tighter one,
    * so the sweep costs one pair join + a ×3 broadcast fan-out + three
    * thin aggregates — not three dedup runs. The left join from the
    * threshold spine keeps a zero row when a threshold eliminates
    * everything. */
  def qDedupSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = prefixPairs(spark, sfDir, subsetMod = 5, num = 7, den = 10)
      .select($"id1", $"id2", $"j")
    val th = Seq(("0.70", 0.7), ("0.80", 0.8), ("0.90", 0.9))
      .toDF("threshold", "t")
    val f = pairs.crossJoin(broadcast(th)).filter($"j" >= $"t")
      .select($"threshold", $"id1", $"id2")
      .localCheckpoint() // referenced by three aggregates below
    val np = f.groupBy($"threshold").agg(count(lit(1)).as("n_pairs"))
    val nd = f.select($"threshold", explode(array($"id1", $"id2")).as("id"))
      .distinct().groupBy($"threshold").agg(count(lit(1)).as("n_docs"))
    val dr = f.select($"threshold", $"id2").distinct()
      .groupBy($"threshold").agg(count(lit(1)).as("n_dropped"))
    th.select($"threshold")
      .join(np, Seq("threshold"), "left")
      .join(nd, Seq("threshold"), "left")
      .join(dr, Seq("threshold"), "left")
      .select($"threshold",
        coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_docs", lit(0L)).as("n_docs"),
        coalesce($"n_dropped", lit(0L)).as("n_dropped"))
      .orderBy($"threshold")
  }

  // ---- q_minhash_eval ----------------------------------------------------
  /** Sketch-quality gate: grade the md5 MinHash banding (8 perms, 4
    * bands × 2 rows — TextOps.minhashMd5Candidates) against exact
    * ground truth BEFORE trusting it at corpus scale. Reports candidate
    * recall of the exact J ≥ 0.7 pair set (prefix-filter truth — the
    * pairs a production dedup must not miss) and verify-stage precision
    * at the family's J ≥ 0.2 working threshold. Everything is
    * deterministic (md5 seeds), so unlike the seed-dependent MLlib
    * variants this evaluation itself hash-checks. Scale shape: the two
    * pair relations are the already-scale-safe candidate generators;
    * the eval on top is a semi-join plus four 1-row aggregates. */
  def qMinhashEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val truth = prefixPairs(spark, sfDir, subsetMod = 5, num = 7, den = 10)
      .select($"id1", $"id2").localCheckpoint()
    val cand = TextOps.minhashMd5Candidates(spark, sfDir).localCheckpoint()
    // verify over the SAME checkpointed candidates (ADVICE r9): calling
    // qMinhashMd5 here re-ran the identical band join a second time
    val verified = TextOps.minhashMd5Verify(spark, sfDir, cand)
    val counts = truth.agg(count(lit(1)).as("n_exact"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(truth.join(cand, Seq("id1", "id2"), "left_semi")
        .agg(count(lit(1)).as("n_tp")))
      .crossJoin(verified.agg(count(lit(1)).as("n_verified")))
    counts.select($"n_exact", $"n_cand", $"n_tp", $"n_verified",
      when($"n_exact" === 0, lit(null).cast("double"))
        .otherwise(round($"n_tp".cast("double") / $"n_exact", 6))
        .as("recall07"),
      when($"n_cand" === 0, lit(null).cast("double"))
        .otherwise(round($"n_verified".cast("double") / $"n_cand", 6))
        .as("precision02"))
  }

  // ---- q_minhash_miss ----------------------------------------------------
  /** The MISS SET behind [[qMinhashEval]]'s recall scalar (VERDICT r9
    * #4): the exact J ≥ 0.7 pairs broken down by Jaccard decile, with
    * how many of each decile the 8-perm/4-band md5 sketch failed to
    * produce as candidates. The banding theory says the miss mass must
    * concentrate in the lowest decile (P[candidate] = 1−(1−J²)⁴ rises
    * steeply in J), and this report is what turns the threshold-vs-bands
    * tradeoff into a data-driven choice: if misses appear ABOVE the
    * working decile, add bands; if they sit at the 0.7 boundary, the
    * sketch is doing its job. Scale shape: both pair relations are the
    * already-scale-safe generators; on top is one left join + one
    * ≤3-row aggregate. Decile boundaries compare the SAME shared-formula
    * double in both engines, so the bucketing is exact. */
  def qMinhashMiss(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val truth = prefixPairs(spark, sfDir, subsetMod = 5, num = 7, den = 10)
      .select($"id1", $"id2", $"j")
    val cand = TextOps.minhashMd5Candidates(spark, sfDir)
    truth
      .join(cand.withColumn("hit", lit(true)), Seq("id1", "id2"), "left")
      .select(
        concat(lit("0."), least(floor($"j" * 10), lit(9L)).cast("int")
          .cast("string")).as("j_decile"),
        coalesce($"hit", lit(false)).as("hit"))
      .groupBy($"j_decile")
      .agg(count(lit(1)).as("n_exact"),
        sum(when($"hit", 1L).otherwise(0L)).as("n_hit"))
      .select($"j_decile", $"n_exact", $"n_hit",
        ($"n_exact" - $"n_hit").as("n_missed"),
        round(($"n_exact" - $"n_hit").cast("double") / $"n_exact", 6)
          .as("miss_rate"))
      .orderBy($"j_decile")
  }

  // ---- q_minhash_bands ---------------------------------------------------
  /** Banding-parameter advisor completing the sketch-quality trio
    * ([[qMinhashEval]] grades the shipped 4×2 config, [[qMinhashMiss]]
    * localizes its misses; this one prices the ALTERNATIVES): for every
    * (bands b, rows r) split of a ≤16-permutation budget, the S-curve
    * candidate probability P(J) = 1 − (1 − J^r)^b at J = 0.5/0.7/0.9,
    * and the EXPECTED candidate recall over the corpus's own exact
    * J ≥ 0.7 pair distribution (mean of P(j) over the truth pairs) —
    * theory evaluated against the observed duplicate profile, which is
    * how the bands-vs-rows tradeoff is actually chosen before a corpus
    * run. Scale shape: the truth relation is the scale-safe prefix
    * filter; the grid is 12 broadcast rows; everything else is one
    * partial-aggregable mean per cell. Determinism: each P value is a
    * shared pow() formula rounded once to 6dp (the qTempSample pow
    * discipline); the mean is an exact DECIMAL sum with one final
    * double division. */
  def qMinhashBands(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val grid = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1),
        (1, 8), (2, 4), (4, 2), (8, 1), (1, 4), (2, 2), (4, 1))
      .toDF("b", "r")
    val truth = prefixPairs(spark, sfDir, subsetMod = 5, num = 7, den = 10)
      .select($"j")
    val scored = truth.crossJoin(broadcast(grid))
      .select($"b", $"r",
        round(Similarity.bandCollision($"j", $"b", $"r"), 6).cast(dec18_6)
          .as("p"))
      .groupBy($"b", $"r")
      .agg(round(sum($"p").cast("double") / count(lit(1)), 6)
        .as("exp_recall07"))
    grid.join(scored, Seq("b", "r"), "left")
      .select($"b", $"r", ($"b" * $"r").as("n_perms"),
        round(Similarity.bandCollision(lit(0.5), $"b", $"r"), 6).as("p50"),
        round(Similarity.bandCollision(lit(0.7), $"b", $"r"), 6).as("p70"),
        round(Similarity.bandCollision(lit(0.9), $"b", $"r"), 6).as("p90"),
        $"exp_recall07")
      .orderBy($"n_perms".desc, $"b")
  }

  // ---- q_canonical -------------------------------------------------------
  /** Near-duplicate survivorship: connected components over the J >= 0.75
    * unigram pair graph (doc_id%10 subset), then ONE kept document per
    * cluster chosen by quality rank (longest n_chars, doc_id tiebreak) —
    * the "which copy do we keep" policy layer that follows any dedup pass.
    * Distinct from q_dedup_cluster, which labels components and keeps the
    * min-id representative: survivorship ranks members by a quality signal
    * and emits the full keep/drop manifest. */
  def qCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    sharedManifest(spark, sfDir, mod = 10).orderBy($"doc_id")
  }

  /** Per-process memoized MATERIALIZATION of the survivorship manifest
    * (VERDICT r7 #3 / r9 #6): the components fixpoint + quality-rank
    * used to run once per consumer — q_canonical, q_split_leakproof
    * (both mod 10) and q_dedup_savings (mod 7) each paid it. A
    * production pipeline computes the dedup manifest ONCE, writes it,
    * and every consumer reads the artifact; this mirrors that shape —
    * the first use per (application, fixture, mod) — the
    * [[ServeOps.buildOnce]] memo — writes a parquet manifest under
    * java.io.tmpdir (PID-scoped, so no cross-process staleness or
    * clashes), later uses read it. Parquet-backed, so it survives
    * `spark.catalog.clearCache()` and the bench's between-query
    * unpersist sweep, unlike a cached/localCheckpointed plan. Row
    * order is NOT part of the artifact's contract — consumers apply
    * their own final sort. */
  private def sharedManifest(spark: SparkSession, sfDir: String,
      mod: Int): DataFrame = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_manifest_" +
      s"${ProcessHandle.current().pid()}_${mod}_" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    ServeOps.buildOnce(spark, sfDir, s"graft_manifest_$mod") { _ =>
      canonicalManifest(spark, sfDir, mod).write.mode("overwrite").parquet(p)
    }
    spark.read.parquet(p)
  }

  /** The survivorship manifest over the doc_id%`mod` subset — the plan
    * behind [[sharedManifest]]; consumers: [[qCanonical]] and
    * [[qSplitLeakproof]] (mod 10, the established oracle twins) and
    * [[qDedupSavings]] (mod 7: coprime with the fixture's 20-source
    * round-robin, so the report covers EVERY source — mod 10 hits 2). */
  private def canonicalManifest(spark: SparkSession, sfDir: String,
      mod: Int): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
      .filter($"doc_id" % mod === 0)
    val edges = prefixPairs(spark, sfDir, subsetMod = mod, num = 3, den = 4)
      .select($"id1".as("u"), $"id2".as("v"))
    val cc = graft.operators.Components.connectedComponents(
      docs.select($"doc_id".as("id")), edges)
    val ranked = cc.select($"node".as("doc_id"), $"component".as("cluster_id"))
      .join(docs.select($"doc_id", $"n_chars"), "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"cluster_id")
          .orderBy($"n_chars".desc, $"doc_id".asc)))
      .withColumn("csize",
        count(lit(1)).over(Window.partitionBy($"cluster_id")))
    val kept = ranked.filter($"rk" === 1)
      .select($"cluster_id", $"doc_id".as("kept_id"))
    ranked.join(kept, "cluster_id")
      .select($"doc_id", $"cluster_id", $"csize", $"kept_id",
        ($"doc_id" === $"kept_id").as("keep"))
  }

  /** Dedup-savings planning report: the q_canonical keep/drop manifest
    * aggregated per source — documents, drops, near-dup clusters touched,
    * and the bytes a canonical-only corpus would save. The number a data
    * program reads BEFORE paying for a full dedup pass: which sources
    * carry redundant mass and how much. Built strictly downstream of the
    * manifest (shared plan: components + survivorship rank); the report
    * itself is two thin key-partitioned aggregates (a two-level
    * (source, cluster) → source pass for the distinct-cluster count —
    * never countDistinct in a wide agg) plus one broadcast-size join. */
  def qDedupSavings(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val j = sharedManifest(spark, sfDir, mod = 7)
      .join(docs.select($"doc_id", $"source", $"n_chars"), "doc_id")
    val clusters = j.filter($"csize" >= 2)
      .groupBy($"source", $"cluster_id").agg(count(lit(1)).as("n_in"))
      .groupBy($"source").agg(count(lit(1)).as("n_clusters"))
    j.groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(!$"keep", 1L).otherwise(0L)).as("n_dropped"),
        sum($"n_chars").as("chars_total"),
        sum(when(!$"keep", $"n_chars").otherwise(0L)).as("chars_saved"))
      .join(clusters, Seq("source"), "left")
      .select($"source", $"n_docs", $"n_dropped",
        coalesce($"n_clusters", lit(0L)).as("n_clusters"),
        $"chars_total", $"chars_saved",
        round($"chars_saved".cast("double") / $"chars_total", 6)
          .as("savings_frac"))
      .orderBy($"source")
  }

  // ---- q_dup_spans -------------------------------------------------------
  /** ExactSubstr-flavored duplicated-span detection (the signal behind
    * substring-level dedup, Lee et al. ACL'22 "Deduplicating Training Data
    * Makes Language Models Better"): for every document, how many of its
    * 8-token windows also occur verbatim in ANOTHER document, and the
    * duplicated fraction. The paper finds spans of any length with a
    * suffix array; the fixed-k rolling window is the distributable
    * relational core of the same signal (k=8 fits the short fixture docs;
    * the paper uses 50 BPE tokens).
    *
    * Scale shape: windows come from 7 lead() columns in ONE per-doc window
    * pass (row count = token count, partitions bounded by doc length);
    * span identity is xxhash64 of the window text (8 shuffled bytes, not a
    * ~50-char string; counts equal the raw-string oracle's collision-free
    * — the standing hashed-shingle assumption); cross-doc occurrence is a
    * two-level (span, doc) → span aggregation and one span-keyed join
    * back. No pair join anywhere — cost grows with corpus token count,
    * never docs². */
  def qDupSpans(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = 8
    val docs = Tables.df(spark, sfDir, "documents")
    // Pin a keyed repartition before the per-doc window pass: without it AQE
    // coalesces the ~17 MB token shuffle to a handful of partitions and the
    // expensive window+agg serializes (r10: 9.0 s wall at parallelism 1.7 on
    // 32 cores — the q_token_count starvation signature, fixed the same way).
    val toks = docs.select($"doc_id",
      posexplode(TextFunctions.tokens($"text")).as(Seq("pos", "tok")))
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val leads = (1 until k).map(i => lead($"tok", i).over(w))
    // concat_ws skips NULLs, so a tail window short of k tokens would
    // silently concat short — the lead(k-1) non-null filter removes them
    val spans = toks
      .select($"doc_id", concat_ws(" ", ($"tok" +: leads): _*).as("span"),
        leads.last.isNotNull.as("full"))
      .filter($"full")
      .select($"doc_id", xxhash64($"span").as("h"))
    val nd = spans.groupBy($"h").agg(countDistinct($"doc_id").as("nd"))
    val perDoc = spans.join(nd, "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when($"nd" > 1, 1L).otherwise(0L)).as("n_dup"))
    docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_windows", lit(0L)).as("n_windows"),
        coalesce($"n_dup", lit(0L)).as("n_dup"),
        coalesce(round($"n_dup".cast("double") / $"n_windows", 6), lit(0.0))
          .as("dup_frac"))
      .withColumn("flag_dup", $"dup_frac" >= 0.5)
      .orderBy($"doc_id")
  }

  // ---- q_split_leakproof -------------------------------------------------
  /** Near-dup-aware train/val/test split: the split is a deterministic
    * md5 bucket of the near-duplicate CLUSTER id, not the document id, so
    * two near-duplicate documents can never land in different splits —
    * the standard guard against train→test contamination through
    * surviving near-copies. Components over the J >= 0.75 prefix-filtered
    * pair graph (doc_id%10 subset, same edges as q_canonical), then
    * bucket = first 4 md5 hex digits of "split:"+cluster_id mod 10 →
    * 0-7 train / 8 val / 9 test. Everything is key-partitioned: the
    * cluster labeling is the star-contraction loop, the assignment is a
    * map-side projection of the label. */
  def qSplitLeakproof(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // same clustering as q_canonical (mod 10, J >= 0.75) — read the
    // shared manifest artifact instead of re-running the fixpoint
    sharedManifest(spark, sfDir, mod = 10)
      .select($"doc_id", $"cluster_id")
      .withColumn("bkt",
        conv(substring(md5(concat(lit("split:"),
          $"cluster_id".cast("string"))), 1, 4), 16, 10).cast("long") % 10)
      .select($"doc_id", $"cluster_id",
        when($"bkt" <= 7, "train").when($"bkt" === 8, "val")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  // ---- q_capture_recapture -----------------------------------------------
  /** Capture–recapture estimation of the duplicate population
    * (Lincoln–Petersen with Chapman's correction; the wildlife-census
    * estimator applied to corpus QA): two INDEPENDENT near-dup
    * detectors — the md5-MinHash band candidates and the SimHash ≤3-bit
    * band retrieval, both restricted to the %5 audit subset — each
    * capture a sample of the true J ≥ 0.7 duplicate pairs; from the two
    * sample sizes and their overlap, N̂ = (n1+1)(n2+1)/(m+1) − 1
    * estimates how many duplicates EXIST, including the ones neither
    * detector saw. At 100 TB this is how you answer "how much dup mass
    * is left after dedup" without exact truth; here the fixture is
    * small enough to ALSO compute the exact truth (the prefix-filter
    * relation both sketch evals already price against), so the
    * estimator itself is graded — rel_err closes the loop. All counts
    * exact integers; one shared closed form. */
  def qCaptureRecapture(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val truth = prefixPairs(spark, sfDir, subsetMod = 5, num = 7, den = 10)
      .select($"id1", $"id2")
      .localCheckpoint() // three probes below
    val a = TextOps.minhashMd5Candidates(spark, sfDir)
      .join(truth, Seq("id1", "id2"), "left_semi")
      .select($"id1", $"id2", lit(true).as("ina"))
    val b = TextOps.qSimhashNear(spark, sfDir)
      .filter($"id1" % 5 === 0 && $"id2" % 5 === 0)
      .join(truth, Seq("id1", "id2"), "left_semi")
      .select($"id1", $"id2", lit(true).as("inb"))
    val s = truth
      .join(a, Seq("id1", "id2"), "left")
      .join(b, Seq("id1", "id2"), "left")
      .select(coalesce($"ina", lit(false)).as("ina"),
        coalesce($"inb", lit(false)).as("inb"))
      .agg(count(lit(1)).as("n_true"),
        sum(when($"ina", 1L).otherwise(0L)).as("n1"),
        sum(when($"inb", 1L).otherwise(0L)).as("n2"),
        sum(when($"ina" && $"inb", 1L).otherwise(0L)).as("m"))
    val chapman =
      ($"n1" + 1).cast("double") * ($"n2" + 1) / ($"m" + 1) - lit(1.0)
    s.select($"n_true", $"n1", $"n2", $"m",
      round(chapman, 4).as("chapman_est"),
      round(abs(chapman - $"n_true".cast("double")) / $"n_true", 6)
        .as("rel_err"))
  }

  // ---- q_dbscan_grid -----------------------------------------------------
  /** Grid-blocked DBSCAN (Ester et al. '96) over the embedding table's
    * leading two dimensions — the density-based member the clustering
    * family was missing (k-means assumes convex equal-variance blobs;
    * DBSCAN finds arbitrary-shape density peaks and, critically for
    * curation, an explicit NOISE class worth down-weighting). eps=0.02,
    * minPts=4; neighbor candidates come from the epsilon-grid blocking
    * equi-join (each qualifying pair meets in exactly one of the 3×3
    * cell offsets — the cosinePairsComplete grid-file shape in 2-D,
    * never an all-pairs join); core points (≥ minPts eps-neighbors)
    * cluster via the shared star-contraction connectedComponents
    * operator; border points attach to their minimum core component;
    * the rest is noise. Output: per-cluster core/border counts beside
    * the noise row.
    *
    * Determinism: coordinates quantize once to exact integer
    * micro-units (round(x·1e6) — the annMd5Pairs nano-unit trick), so
    * the d² ≤ (eps·1e6)² test is pure integer arithmetic in both
    * engines; cells are truncating div on shifted-positive ints
    * (Spark `div` truncates, DuckDB `//` floors — identical once
    * shifted); the cluster label is the component's min vec_id. */
  /** The grid-neighbor stage of [[qDbscanGrid]], pre-checkpoint, so
    * R13PlanAuditSpec can assert the 3×3 cell-offset join plans as a
    * hash equi-join on (cx, cy) with the ε-disc verify ABOVE it — never
    * a cartesian. Returns (pts checkpointed, nbr un-checkpointed). */
  private[graft] def dbscanGridStage(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val epsI = 20000L // 0.02 in micro-units
    val eps2 = epsI * epsI
    val pts = Tables.df(spark, sfDir, "embeddings")
      .filter(size($"embedding") >= 2)
      .select($"vec_id",
        (round(round($"embedding".getItem(0).cast("double"), 6)
          * 1e6, 0).cast("long") + 1000000L).as("ix"),
        (round(round($"embedding".getItem(1).cast("double"), 6)
          * 1e6, 0).cast("long") + 1000000L).as("iy"))
      .select($"vec_id", $"ix", $"iy",
        expr(s"ix div $epsI").as("cx"), expr(s"iy div $epsI").as("cy"))
      .localCheckpoint() // both sides of the grid join + 3 consumers
    val offsets = Seq(-1L, 0L, 1L)
    val bSide = pts.withColumn("off", explode(array(
        offsets.flatMap(dx => offsets.map(dy =>
          struct(lit(dx).as("dx"), lit(dy).as("dy")))): _*)))
      .select($"vec_id".as("id2"), $"ix".as("ix2"), $"iy".as("iy2"),
        ($"cx" + $"off.dx").as("cx"), ($"cy" + $"off.dy").as("cy"))
    val nbr = pts.join(bSide, Seq("cx", "cy"))
      .filter($"vec_id" =!= $"id2"
        && ($"ix" - $"ix2") * ($"ix" - $"ix2")
          + ($"iy" - $"iy2") * ($"iy" - $"iy2") <= eps2)
      .select($"vec_id", $"id2")
    (pts, nbr)
  }

  def qDbscanGrid(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (pts, nbrPre) = dbscanGridStage(spark, sfDir)
    val nbr = nbrPre
      .localCheckpoint() // feeds counts, core edges, border attach
    val ncnt = nbr.groupBy($"vec_id").agg(count(lit(1)).as("nc"))
    val core = ncnt.filter($"nc" >= 4).select($"vec_id")
      .localCheckpoint()
    val coreEdges = nbr
      .join(core.select($"vec_id"), "vec_id")
      .join(core.select($"vec_id".as("id2")), "id2")
      .filter($"vec_id" < $"id2")
      .select($"vec_id".as("u"), $"id2".as("v"))
    val comp = graft.operators.Components.connectedComponents(
        core.select($"vec_id".as("id")), coreEdges)
      .select($"node", $"component")
      .localCheckpoint() // cluster sizes + border attachment
    val border = nbr
      .join(core.select($"vec_id".as("id2")), "id2") // neighbor is core
      .join(comp.select($"node".as("id2"), $"component"), "id2")
      .join(core.select($"vec_id", lit(true).as("isc")),
        Seq("vec_id"), "left_anti") // self is NOT core
      .groupBy($"vec_id").agg(min($"component").as("component"))
    val clusters = comp.groupBy($"component")
      .agg(count(lit(1)).as("n_core"))
      .join(border.groupBy($"component").agg(count(lit(1)).as("n_border")),
        Seq("component"), "left")
      .select($"component".cast("string").as("cluster_id"), $"n_core",
        coalesce($"n_border", lit(0L)).as("n_border"))
    val assigned = comp.select($"node".as("vec_id"))
      .union(border.select($"vec_id"))
    val noise = pts.join(assigned, Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit("noise").as("cluster_id"), $"n".as("n_points"),
        lit(0L).as("n_core"), lit(0L).as("n_border"))
    clusters
      .select($"cluster_id", ($"n_core" + $"n_border").as("n_points"),
        $"n_core", $"n_border")
      .union(noise)
      .orderBy($"cluster_id")
  }

  // ---- q_fellegi_sunter --------------------------------------------------
  /** Probabilistic record linkage (Fellegi & Sunter '69) over the
    * document corpus — the decision-theoretic layer ABOVE the dedup
    * family's similarity scores: block candidates on (lang, 40-char
    * length bucket) (the q_blocking_eval key), compare each pair on
    * four cheap field agreements (same source, |char-length diff| ≤ 10,
    * equal 12-char head, equal min-md5 token — a 1-permutation MinHash, whose agreement probability IS the pair Jaccard), estimate each
    * feature's m = P(agree | match) and u = P(agree | non-match)
    * against the exact Jaccard ≥ 0.7 truth with Laplace (+0.5)
    * smoothing, and score every pair by the summed log-likelihood-ratio
    * weights. Pairs then classify by the classic two-threshold rule
    * (link / possible / non-link); the report prices each decision
    * class against truth — the precision a clerical-review queue is
    * actually sized by.
    *
    * Scale shape: candidates come from a blocking equi-join (never a
    * corpus cross join); m/u are ONE 10-sum aggregate over the pair
    * relation; the 1-row weight table broadcasts back; scoring is a
    * projection. Determinism: m, u are smoothed integer ratios; each
    * ln() weight rounds once to 9dp into an exact decimal sum (the
    * DDSketch libm discipline); the class thresholds compare the
    * summed decimals cast once to double. */
  def qFellegiSunter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"lang", $"source", $"n_chars",
        substring($"text", 1, 12).as("head12"),
        array_min(transform(TextFunctions.tokenSet($"text"),
          t => md5(t))).as("mh"),
        sort_array(array_distinct(transform(
          TextFunctions.tokenSet($"text"), t => xxhash64(t)))).as("t"))
      .withColumn("sz", size($"t"))
      .withColumn("blk",
        concat($"lang", lit(":"), expr("n_chars div 40")))
      .localCheckpoint() // both sides of the blocking self-join
    val p = d.select($"blk", $"doc_id".as("id1"), $"source".as("src1"),
        $"n_chars".as("nc1"), $"head12".as("h1"), $"mh".as("mh1"),
        $"t".as("t1"), $"sz".as("s1"))
      .join(d.select($"blk", $"doc_id".as("id2"), $"source".as("src2"),
        $"n_chars".as("nc2"), $"head12".as("h2"), $"mh".as("mh2"),
        $"t".as("t2"), $"sz".as("s2")), Seq("blk"))
      .filter($"id1" < $"id2")
      .withColumn("li", SortedIntersectSize.of($"t1", $"t2").cast("double"))
      .select(
        ($"src1" === $"src2").as("f1"),
        (abs($"nc1" - $"nc2") <= 10).as("f2"),
        ($"h1" === $"h2").as("f3"),
        ($"mh1" === $"mh2").as("f4"),
        coalesce(when($"s1" + $"s2" - $"li" > 0,
          $"li" / ($"s1" + $"s2" - $"li") >= 0.7), lit(false)).as("mt"))
      .localCheckpoint() // feeds the m/u aggregate AND the scoring pass
    val mu = p.agg(
      sum(when($"mt", 1L).otherwise(0L)).as("nm"),
      sum(when(!$"mt", 1L).otherwise(0L)).as("nu"),
      sum(when($"mt" && $"f1", 1L).otherwise(0L)).as("a1"),
      sum(when(!$"mt" && $"f1", 1L).otherwise(0L)).as("b1"),
      sum(when($"mt" && $"f2", 1L).otherwise(0L)).as("a2"),
      sum(when(!$"mt" && $"f2", 1L).otherwise(0L)).as("b2"),
      sum(when($"mt" && $"f3", 1L).otherwise(0L)).as("a3"),
      sum(when(!$"mt" && $"f3", 1L).otherwise(0L)).as("b3"),
      sum(when($"mt" && $"f4", 1L).otherwise(0L)).as("a4"),
      sum(when(!$"mt" && $"f4", 1L).otherwise(0L)).as("b4"))
    def m(a: Column) = (a + 0.5) / ($"nm" + 1)
    def uu(b: Column) = (b + 0.5) / ($"nu" + 1)
    def wa(a: Column, b: Column) =
      round(log(m(a) / uu(b)), 9).cast(dec18_9)
    def wd(a: Column, b: Column) =
      round(log((lit(1.0) - m(a)) / (lit(1.0) - uu(b))), 9).cast(dec18_9)
    val w = mu.select(
      wa($"a1", $"b1").as("w1a"), wd($"a1", $"b1").as("w1d"),
      wa($"a2", $"b2").as("w2a"), wd($"a2", $"b2").as("w2d"),
      wa($"a3", $"b3").as("w3a"), wd($"a3", $"b3").as("w3d"),
      wa($"a4", $"b4").as("w4a"), wd($"a4", $"b4").as("w4d"))
    val scored = p.crossJoin(broadcast(w))
      .select($"mt",
        (when($"f1", $"w1a").otherwise($"w1d")
          + when($"f2", $"w2a").otherwise($"w2d")
          + when($"f3", $"w3a").otherwise($"w3d")
          + when($"f4", $"w4a").otherwise($"w4d")).as("s"))
      .withColumn("sd", $"s".cast("double"))
    scored
      .select(when($"sd" >= 1.5, "link")
        .when($"sd" >= 0.0, "possible")
        .otherwise("non_link").as("decision"), $"mt", $"s")
      .groupBy($"decision")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"mt", 1L).otherwise(0L)).as("n_match"),
        round(sum(when($"mt", 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("precision"),
        round(sum($"s").cast("double") / count(lit(1)), 6)
          .as("mean_score"))
      .orderBy($"decision")
  }

  // ---- q_curation_e2e ----------------------------------------------------
  /** End-to-end curation funnel (VERDICT r12 #5) — the per-stage
    * attrition manifest a production curation run ships, composed from
    * the EXISTING shared gates rather than re-deriving any of them:
    * quality (TextFunctions.qualityScore, the q_quality/q_quality_sweep
    * gate at the 0.5 cut) → near-dup survivorship (the mod-10
    * [[sharedManifest]] artifact q_canonical / q_split_leakproof read)
    * → benchmark decontamination (the q_decontaminate 5-gram rule
    * against the full-corpus doc_id%97 benchmark set) → the leak-proof
    * cluster-bucketed train/val/test split (the q_split_leakproof md5
    * rule). One row per stage with doc and token attrition, then one
    * row per split partition of the final survivors. This is the one
    * axis 330 individually-green queries don't test: that the gates
    * COMPOSE — shared relations, one per-doc flags pass, one aggregate.
    *
    * Scale shape: every gate is a per-doc flag computed by equi-joins
    * against artifacts (manifest parquet, broadcast benchmark shingle
    * set); the funnel itself is ONE aggregate over the flags relation —
    * no stage rescans the corpus, exactly how the production run prices
    * attrition. */
  def qCurationE2e(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val full = Tables.df(spark, sfDir, "documents")
    val docs = full.filter($"doc_id" % 10 === 0)
    val scored = docs.select($"doc_id",
      TextFunctions.qualityScore($"text").as("score"),
      TextFunctions.tokenCount($"text").cast("long").as("n_tok"))
    val man = sharedManifest(spark, sfDir, mod = 10)
      .select($"doc_id", $"cluster_id", $"keep")
    // benchmark shingles from the FULL corpus (the eval set is external
    // to any training subset); corpus side only the subset's non-bench
    // docs — the q_decontaminate shapes on the funnel's grain
    def shing(d: DataFrame) = d
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
      .select($"doc_id", explode(TextFunctions.shingles($"text", 5)).as("s"))
    val bench = shing(full.filter($"doc_id" % 97 === 0))
      .select($"s").distinct()
    val contam = shing(docs.filter($"doc_id" % 97 =!= 0))
      .join(broadcast(bench), Seq("s"), "left_semi")
      .select($"doc_id").distinct()
      .withColumn("__hit", lit(true))
    val bkt = conv(substring(md5(concat(lit("split:"),
      $"cluster_id".cast("string"))), 1, 4), 16, 10).cast("long") % 10
    val flags = scored
      .join(man, "doc_id")
      .join(contam, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tok",
        ($"score" >= 0.5).as("g1"),
        $"keep", ($"doc_id" % 97 === 0).as("is_bench"),
        coalesce($"__hit", lit(false)).as("contaminated"),
        when(bkt <= 7, "train").when(bkt === 8, "val")
          .otherwise("test").as("split"))
      .withColumn("g2", $"g1" && $"keep")
      .withColumn("g3", $"g2" && !$"is_bench" && !$"contaminated")
    def kept(g: Column) = sum(when(g, 1L).otherwise(0L))
    def toks(g: Column) = sum(when(g, $"n_tok").otherwise(0L))
    flags.agg(
        count(lit(1)).as("n0"), sum($"n_tok").as("t0"),
        kept($"g1").as("k1"), toks($"g1").as("t1"),
        kept($"g2").as("k2"), toks($"g2").as("t2"),
        kept($"g3").as("k3"), toks($"g3").as("t3"),
        kept($"g3" && $"split" === "train").as("ktr"),
        toks($"g3" && $"split" === "train").as("ttr"),
        kept($"g3" && $"split" === "val").as("kva"),
        toks($"g3" && $"split" === "val").as("tva"),
        kept($"g3" && $"split" === "test").as("kte"),
        toks($"g3" && $"split" === "test").as("tte"))
      .select(expr("""stack(7,
          '0_subset',      n0, n0, t0,
          '1_quality',     n0, k1, t1,
          '2_near_dup',    k1, k2, t2,
          '3_decontam',    k2, k3, t3,
          '4_split_test',  k3, kte, tte,
          '4_split_train', k3, ktr, ttr,
          '4_split_val',   k3, kva, tva)""")
        .as(Seq("stage", "n_in", "n_kept", "tokens_kept")))
      .select($"stage", $"n_in", $"n_kept",
        ($"n_in" - $"n_kept").as("n_dropped"), $"tokens_kept")
      .orderBy($"stage")
  }

  // ---- q_kmeans ----------------------------------------------------------
  /** Deterministic k-means (k=4, 2 Lloyd iterations) over the embedding
    * table, reporting per-cluster size and dominant label — the clustering
    * step of cluster-based data curation. Every arithmetic step is
    * cross-engine exact: md5-ranked seeding, per-dimension squared-diff
    * terms rounded once to DECIMAL(20,9) and summed exactly, argmin with a
    * (dist, cid) tiebreak, and centroid means as one double division of an
    * exact decimal sum by the member count.
    *
    * Scale shape: centroids are k*d rows broadcast into a dimension-keyed
    * join; assignment aggregates partial-combine on (vec, cid) then (vec);
    * recompute is one (cid, d)-keyed aggregation. No window over the
    * corpus, no collect — the same plan runs at any corpus size (k-means++
    * init and more iterations change constants, not shape). */
  /** The (vec_id, cid) assignment after 2 deterministic Lloyd iterations —
    * shared by [[qKmeans]] (which reports cluster composition) and
    * [[qSemdedup]] (which prunes within the clusters). See [[qKmeans]] for
    * the determinism and scale-shape notes. */
  /** The final-iteration point×centroid distance relation (the `t2` of
    * the oracle chain): every vector's exact decimal squared distance to
    * each of the 4 round-1 centroids. [[kmeansAssign]] argmins it; the
    * silhouette takes its best AND second-best entries. */
  private def kmeansFinalDists(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val k = 4
    val emb = Tables.df(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    // deliberately NOT checkpointed/cached: the unrolled plan re-reads
    // dims 5x, but re-deriving scan+posexplode measured the same as a
    // localCheckpoint materialization (the NB-classifier lesson again —
    // recompute from a pruned columnar scan beats materializing)
    val dims = emb.select($"vec_id", posexplode($"v").as(Seq("d", "x")))

    // orderBy+limit BEFORE the ranking window: the top-k runs distributed
    // (TakeOrderedAndProject, per-partition heaps) and the unpartitioned
    // row_number only ever sees k rows — a global window over the corpus
    // would funnel every row through one partition at scale
    val seeds = emb.select($"vec_id",
        md5(concat(lit("km:"), $"vec_id".cast("string"))).as("h"))
      .orderBy($"h", $"vec_id").limit(k)
      .withColumn("cid", row_number().over(Window.orderBy($"h", $"vec_id")))
      .select($"vec_id", $"cid")
    val c0 = dims.join(seeds, "vec_id").select($"cid", $"d", $"x".as("c"))

    def distTo(cent: DataFrame): DataFrame =
      dims.join(broadcast(cent), "d")
        .select($"vec_id", $"cid",
          round(($"x" - $"c") * ($"x" - $"c"), 9)
            .cast(dec20_9).as("t"))
        .groupBy($"vec_id", $"cid").agg(sum($"t").as("dist"))

    def assign(cent: DataFrame): DataFrame =
      distTo(cent)
        .groupBy($"vec_id").agg(min(struct($"dist", $"cid")).as("m"))
        .select($"vec_id", $"m.cid".as("cid"))

    def recompute(asg: DataFrame): DataFrame =
      dims.join(asg, "vec_id")
        .select($"cid", $"d", round($"x", 6).cast(dec18_6).as("xd"))
        .groupBy($"cid", $"d")
        .agg((sum($"xd").cast("double") / count(lit(1))).as("c"))

    val a1 = assign(c0)
    val c1 = recompute(a1)
    distTo(c1)
  }

  /** Per-process memoized MATERIALIZATION of [[kmeansFinalDists]]
    * (VERDICT r10 #2): the 5-scan seed→assign→recompute→dist chain used
    * to be re-derived by each of its four consumers — q_kmeans,
    * q_silhouette, q_semdedup, q_coreset — at ~9.8 s combined. Same
    * compute-once/read-many shape as the survivorship manifest
    * ([[sharedManifest]]): the first use per (application, fixture)
    * writes the n×k point×centroid distance relation (vec_id, cid, dist
    * DECIMAL(30,9)) to a PID-scoped parquet under java.io.tmpdir; later
    * uses read the
    * artifact. Parquet-backed so it survives `clearCache()` and the
    * bench's between-query unpersist sweep. The relation is n×k rows —
    * thin at any corpus scale — and fully deterministic, so every
    * consumer's oracle hash is unchanged. */
  private def kmeansFinalDistsShared(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_kmdist_" +
      s"${ProcessHandle.current().pid()}_" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    ServeOps.buildOnce(spark, sfDir, "graft_kmdist") { _ =>
      kmeansFinalDists(spark, sfDir).write.mode("overwrite").parquet(p)
    }
    spark.read.parquet(p)
  }

  private def kmeansAssign(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    kmeansFinalDistsShared(spark, sfDir)
      .groupBy($"vec_id").agg(min(struct($"dist", $"cid")).as("m"))
      .select($"vec_id", $"m.cid".as("cid"))
  }

  /** Centroid-silhouette quality gate for the k-means clustering — the
    * "trust the clusters before curating on them" evaluation (the
    * q_minhash_eval framing applied to q_kmeans / q_semdedup /
    * q_coreset, which all consume this assignment): per point, a = the
    * assigned centroid's squared distance, b = the runner-up's, and
    * s = (b − a)/max(a, b) ∈ [0, 1] for the centroid variant (a is the
    * min by construction); per-cluster mean and minimum. Low mean
    * silhouette means the SemDeDup-style within-cluster dedup is
    * operating on arbitrary boundaries. Costs nothing extra at scale:
    * the point×k distance relation already exists in the assignment
    * plan; the best/runner-up pick is a k-bounded sorted collect. */
  def qSilhouette(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val per = kmeansFinalDistsShared(spark, sfDir)
      .groupBy($"vec_id")
      .agg(sort_array(collect_list(struct($"dist", $"cid"))).as("ds"))
      // ADVICE r10 #2: if round-1 k-means ever collapsed to one surviving
      // centroid, ds would have a single entry and ds(1) would emit null-b
      // rows Spark-side while the oracle's rk=2 inner join drops them —
      // filter to >= 2 entries so both engines agree by construction
      .filter(size($"ds") >= 2)
      .select($"vec_id",
        $"ds"(0)("cid").as("cid"),
        $"ds"(0)("dist").cast("double").as("a"),
        $"ds"(1)("dist").cast("double").as("b"))
      .select($"vec_id", $"cid",
        when(greatest($"a", $"b") === 0, 0.0)
          .otherwise(round(($"b" - $"a") / greatest($"a", $"b"), 6))
          .as("s"))
    per.groupBy($"cid")
      .agg(count(lit(1)).as("n"),
        round(sum($"s".cast(dec18_6)).cast("double") / count(lit(1)), 6)
          .as("mean_sil"),
        min($"s").as("min_sil"))
      .orderBy($"cid")
  }

  def qKmeans(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.df(spark, sfDir, "embeddings")
    val a2 = kmeansAssign(spark, sfDir)

    val byLab = a2.join(emb.select($"vec_id", $"label"), "vec_id")
      .groupBy($"cid", $"label").agg(count(lit(1)).as("label_n"))
    byLab
      .withColumn("n", sum($"label_n").over(Window.partitionBy($"cid")))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"cid").orderBy($"label_n".desc, $"label".asc)))
      .filter($"rk" === 1)
      .select($"cid", $"n", $"label".as("top_label"), $"label_n".as("top_n"))
      .orderBy($"cid")
  }

  // ---- q_semdedup --------------------------------------------------------
  /** SemDeDup-shape semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * k-means partitions the embedding space, then the cosine-threshold
    * prune runs ONLY within clusters — pairwise work drops from n² to
    * Σ n_c², the whole point of the method at corpus scale. Survivorship
    * is keep-lowest-id per qualifying pair, matching q_dedup_embedding's
    * policy so the two disagree only where a near-dup pair straddles a
    * cluster boundary (the documented, measured recall cost of the
    * approximation — SemdedupSpec pins dropped_sem ⊆ dropped_brute and a
    * recall floor against the exact q_dedup_embedding truth).
    *
    * Scale shape: the pair join is an EQUI-join on cid (each side
    * pre-partitioned by cid), so candidates shuffle by cluster key and the
    * per-task working set is one cluster's vectors — never an all-pairs
    * nested loop. Cosine is the codegen'd native expression rounded once
    * to 6dp (cross-engine exact, as q_dedup_embedding established); the
    * k-means assignment is the deterministic [[kmeansAssign]] chain, so
    * the whole output hash-checks against DuckDB. */
  def qSemdedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val asg = kmeansAssign(spark, sfDir)
    val emb = Tables.df(spark, sfDir, "embeddings")
    val v = emb.select($"vec_id", $"embedding").join(asg, "vec_id")
    val a = v.select($"cid", $"vec_id".as("id1"), $"embedding".as("v1"))
      .repartition(Tables.shufflePartitions(spark), $"cid")
    val b = v.select($"cid", $"vec_id".as("id2"), $"embedding".as("v2"))
    val pairs = a.join(b, "cid")
      .filter($"id1" < $"id2")
      .withColumn("sim", round(CosineSimilarity.of($"v1", $"v2"), 6))
      // τ = 0.4: the fixture embeddings are near-isotropic (max pairwise
      // cosine ≈ 0.6), so the production-typical 0.9x thresholds match
      // nothing; 0.4 yields a real pair graph (59 pairs / sf0.01) while
      // keeping the plan identical to what any τ would run
      .filter($"sim" >= 0.4)
    val dropped = pairs.select($"id2".as("vec_id")).distinct()
      .withColumn("__dropped", lit(true))
    v.select($"vec_id", $"cid")
      .join(dropped, Seq("vec_id"), "left")
      .select($"vec_id", $"cid",
        coalesce(!$"__dropped", lit(true)).as("keep"))
      .orderBy($"vec_id")
  }

  // ---- q_coreset ---------------------------------------------------------
  /** Coreset selection — the 5 vectors nearest their cluster's final
    * centroid, per cluster: the representative subset a cluster-then-
    * curate pipeline keeps when it wants one exemplar set instead of the
    * full corpus (the k-center/herding shape; SemDeDup's companion "keep
    * the prototypes" move). Centroids are recomputed from the shared
    * [[kmeansAssign]] assignment with the same rounding discipline, so
    * the whole selection hash-checks.
    *
    * Scale shape: one dimension-keyed join against the broadcast k×d
    * centroid table + the partial-agg distance sum (the assign kernel),
    * then a rank window PARTITIONED BY cluster — bounded per-partition
    * work, no global sort. */
  def qCoreset(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val asg = kmeansAssign(spark, sfDir)
    val dims = Tables.df(spark, sfDir, "embeddings")
      .select($"vec_id", posexplode($"embedding".cast("array<double>"))
        .as(Seq("d", "x")))
    val cent = dims.join(asg, "vec_id")
      .select($"cid", $"d", round($"x", 6).cast(dec18_6).as("xd"))
      .groupBy($"cid", $"d")
      .agg((sum($"xd").cast("double") / count(lit(1))).as("c"))
    val dist = dims.join(asg, "vec_id")
      .join(broadcast(cent), Seq("cid", "d"))
      .select($"vec_id", $"cid",
        round(($"x" - $"c") * ($"x" - $"c"), 9)
          .cast(dec20_9).as("t"))
      .groupBy($"vec_id", $"cid").agg(sum($"t").as("dist"))
    dist
      .withColumn("rk", row_number().over(
        Window.partitionBy($"cid").orderBy($"dist", $"vec_id")))
      .filter($"rk" <= 5)
      .select($"cid", $"rk", $"vec_id",
        round($"dist".cast("double"), 6).as("dist"))
      .orderBy($"cid", $"rk")
  }

  // ---- q_boilerplate -----------------------------------------------------
  /** Per-source boilerplate stripping, the vocabulary-level analog of
    * CCNet's cross-document paragraph dedup: a token carried by >= 80% of
    * a source's documents is that source's boilerplate (navigation,
    * legalese, template filler); drop every occurrence and reassemble the
    * survivors in original order. The 80% cut compares exact integers
    * (n_docs_with_tok * 10 >= n_docs_in_source * 8) so no ratio double is
    * ever materialized. Scale shape: one explode, one (source, tok)-keyed
    * distinct-doc aggregate, one equi-join back, one per-doc ordered
    * reassembly — every stage partitions by a real key and the per-doc
    * collect is bounded by document size. (The sentence-hash variant is
    * the same plan keyed on lines; this fixture's synthetic sentences are
    * all unique, so the token form is the one with observable behavior.) */
  def qBoilerplate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val toks = docs
      .select($"doc_id", $"source",
        posexplode(TextFunctions.tokens($"text")).as(Seq("pos", "tok")))
    val srcSize = docs.groupBy($"source").agg(count(lit(1)).as("n_src"))
    val df = toks.groupBy($"source", $"tok")
      .agg(countDistinct($"doc_id").as("n_docs"))
    val kept = toks.join(df, Seq("source", "tok"))
      .join(broadcast(srcSize), "source")
      .filter($"n_docs" * 10 < $"n_src" * 8)
    val reassembled = kept.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct($"pos", $"tok"))),
            s => s("tok")),
          " ").as("cleaned"))
    docs.select($"doc_id",
        size(TextFunctions.tokens($"text")).cast("long").as("n_toks"))
      .join(reassembled, Seq("doc_id"), "left")
      .select($"doc_id", $"n_toks",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        length(coalesce($"cleaned", lit(""))).cast("long").as("cleaned_len"),
        substring(coalesce($"cleaned", lit("")), 1, 60).as("cleaned_head"))
      .orderBy($"doc_id")
  }

  // ---- q_containment -----------------------------------------------------
  /** Asymmetric containment dedup: |A ∩ B| / min(|A|, |B|) over distinct
    * 3-gram shingle sets — the quote-inclusion / subset-duplicate case
    * symmetric Jaccard misses (a doc fully embedded in a 10× longer one
    * has J ≈ 0.1 but containment 1.0), so no length-ratio blocking is
    * applied on purpose. Candidates come from the inverted shingle index
    * (one equi-join keyed by shingle); shingles carried by more than 1000
    * documents are dropped on BOTH sides first — the stop-shingle cut that
    * bounds per-key fan-out at corpus scale (df² per shingle, never
    * doc×doc; a no-op on this fixture where max df = 7, asserted in the
    * spec so a fixture change is noticed). Reported pairs: containment
    * ≥ 0.8, top-50.
    *
    * Plan shape (the r10 bench rewrite — 6.9 s → see PERF.md): shingles
    * come from the codegen lead()-window stream (the shingleStream
    * discipline; the HOF transform/slice form evaluates interpreted and
    * dominated the first cut's profile), carry xxhash64 keys instead of
    * ~20-char strings through the distinct + self-join (counts are
    * collision-exact under the family's standing xxhash64 assumption),
    * and the distinct (doc, shingle-hash) relation localCheckpoints —
    * it feeds the df cut, both self-join sides, and the set sizes. */
  def qContainment(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val sh = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"text")
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
      .select($"doc_id",
        posexplode(TextFunctions.tokens($"text")).as(Seq("pos", "tok")),
        size(TextFunctions.tokens($"text")).as("len"))
      .select($"doc_id", $"pos", $"len",
        concat_ws(" ", $"tok", lead($"tok", 1).over(w),
          lead($"tok", 2).over(w)).as("s"))
      .filter($"pos" <= $"len" - 3)
      .select($"doc_id", xxhash64($"s").as("s"))
      .distinct()
      .localCheckpoint()
    val df = sh.groupBy($"s").agg(count(lit(1)).as("df"))
    val kept = sh.join(df.filter($"df" <= 1000), "s")
      .select($"doc_id", $"s")
    val sz = kept.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = kept.select($"doc_id".as("id_a"), $"s")
      .join(kept.select($"doc_id".as("id_b"), $"s"), "s")
      .filter($"id_a" < $"id_b")
      .groupBy($"id_a", $"id_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sz.select($"doc_id".as("id_a"), $"n".as("n_a")), "id_a")
      .join(sz.select($"doc_id".as("id_b"), $"n".as("n_b")), "id_b")
      .select($"id_a", $"id_b", $"n_inter", $"n_a", $"n_b",
        round($"n_inter".cast("double") / least($"n_a", $"n_b"), 6)
          .as("containment"))
      .filter($"containment" >= 0.8)
      .orderBy($"containment".desc, $"id_a".asc, $"id_b".asc)
      .limit(50)
  }

  // ---- q_containment_dir ---------------------------------------------------
  /** Source-pair containment DIRECTIONALITY (VERDICT r15 #7): which
    * source is a subset/copy of which. [[qContainment]]'s doc-grain
    * min-normalized score says "these two overlap"; at the source-pair
    * grain the two one-directional fractions C(A→B) = |S_A ∩ S_B| / |S_A|
    * and C(B→A) = |S_A ∩ S_B| / |S_B| answer the provenance question —
    * a mirror/scrape of an origin shows C(mirror→origin) ≈ 1 while
    * C(origin→mirror) stays small, which the symmetric overlap reads of
    * q_source_overlap / q_minhash_source cannot distinguish from mutual
    * borrowing. Rides the same inverted shingle index (3-gram
    * lead()-window stream, xxhash64 keys, the shingleStream discipline)
    * aggregated to DISTINCT (source, shingle): per-shingle equi-join
    * fan-out is bounded by the SOURCE count squared (a handful), so the
    * df ≤ 1000 stop-shingle cut the doc-grain op needs does not apply at
    * this grain — there is no hub problem when a "node" is a whole
    * source. Verdicts at the 0.5 bar on the once-rounded fractions:
    * a_in_b / b_in_a / mutual / distinct. Output is source-pair thin
    * (≤ S² rows); zero-overlap pairs drop out of the inner index join
    * in both engines. Invariant (spec-pinned): C(A→B) ≥ C(B→A) ⟺
    * n_a ≤ n_b, since both share the one n_inter numerator. */
  def qContainmentDir(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val sh = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"source", $"text")
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
      .select($"doc_id", $"source",
        posexplode(TextFunctions.tokens($"text")).as(Seq("pos", "tok")),
        size(TextFunctions.tokens($"text")).as("len"))
      .select($"source", $"pos", $"len",
        concat_ws(" ", $"tok", lead($"tok", 1).over(w),
          lead($"tok", 2).over(w)).as("s"))
      .filter($"pos" <= $"len" - 3)
      .select($"source", xxhash64($"s").as("s"))
      .distinct()
      .localCheckpoint() // feeds the sizes + both index-join sides
    val sz = sh.groupBy($"source").agg(count(lit(1)).as("n"))
    val inter = sh.select($"source".as("src_a"), $"s")
      .join(sh.select($"source".as("src_b"), $"s"), "s")
      .filter($"src_a" < $"src_b")
      .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sz.select($"source".as("src_a"), $"n".as("n_a")), "src_a")
      .join(sz.select($"source".as("src_b"), $"n".as("n_b")), "src_b")
      .select($"src_a", $"src_b", $"n_a", $"n_b", $"n_inter",
        round($"n_inter".cast("double") / $"n_a", 6).as("c_a_in_b"),
        round($"n_inter".cast("double") / $"n_b", 6).as("c_b_in_a"),
        round($"n_inter".cast("double") / $"n_a"
          - $"n_inter".cast("double") / $"n_b", 6).as("asym"))
      .withColumn("verdict",
        when($"c_a_in_b" >= 0.5 && $"c_b_in_a" >= 0.5, "mutual")
          .when($"c_a_in_b" >= 0.5, "a_in_b")
          .when($"c_b_in_a" >= 0.5, "b_in_a")
          .otherwise("distinct"))
      .orderBy($"src_a", $"src_b")
  }

  // ---- q_watermark -------------------------------------------------------
  /** Statistical greenlist watermark detection (the Kirchenbauer-style
    * detector re-expressed relationally): a deterministic coin keyed on
    * each bigram — md5(prev || '|' || tok), 60-bit value, parity — marks
    * a token "green"; for genuinely unwatermarked text the green fraction
    * is Binomial(T, 1/2), so z = (2g − T)/√T is ≈ N(0,1) and the fixture
    * must NOT flag (pinned in the spec: flag count 0 at the detector's
    * published z ≥ 4 bar — z ≥ 3 would false-positive ≈ 0.7 docs per 500
    * by multiple testing alone, observed on the sf0.001 fixture; on
    * watermarked model output z explodes, which is the point of the
    * gate). Plan: doc-keyed repartition BEFORE the token explode (the
    * shingleStream discipline), one lag window, two thin aggregations —
    * a single corpus pass at any scale. */
  def qWatermark(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val scored = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"source", $"text")
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
      .select($"doc_id", $"source",
        posexplode(TextFunctions.tokens($"text")).as(Seq("pos", "tok")))
      .withColumn("prev", lag($"tok", 1).over(w))
      .filter($"prev".isNotNull)
      .withColumn("green",
        conv(substring(md5(concat($"prev", lit("|"), $"tok")), 1, 15),
          16, 10).cast("long") % 2 === 0)
    val perDoc = scored.groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("t"),
        sum($"green".cast("long")).as("g"))
      .select($"doc_id", $"source",
        round((lit(2.0) * $"g" - $"t") / sqrt($"t"), 6).as("z"))
    perDoc.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        round(sum($"z".cast(dec18_6)).cast("double") / count(lit(1)), 6)
          .as("mean_z"),
        max($"z").as("max_z"),
        sum(when($"z" >= 4.0, 1L).otherwise(0L)).as("n_flagged"))
      .orderBy($"source")
  }

  // ---- q_dedup_winnow ----------------------------------------------------
  /** Near-dup candidate pairs via winnowing fingerprints (Schleimer et
    * al., SIGMOD'03 — see [[graft.operators.Dedup.winnowFingerprints]]):
    * 4-gram hashes, window w = 5, so any shared run ≥ 8 tokens is
    * guaranteed a shared fingerprint while the index holds ~1/5 of the
    * shingle count — the cheap local-fingerprint alternative to MinHash
    * when CONTIGUOUS overlap (plagiarism, boilerplate, quotation) is the
    * target rather than bag-of-words similarity. Pairs sharing ≥ 2
    * fingerprints with overlap ≥ 0.5 of the smaller set survive.
    * Hub fingerprints (> 100 docs — license paragraphs at corpus scale)
    * are cut before the pair join, the stop-shingle discipline that
    * keeps the equi-join candidate-bounded at 100 TB. */
  /** The winnowing pair policy (shared ≥ 2 fingerprints, overlap ≥ 0.5
    * of the smaller set, hub fingerprints cut at df 100) over the
    * doc_id % `subsetMod` subset — shared by [[qDedupWinnow]] (whole
    * corpus) and [[qWinnowEval]] (the %3 eval subset) so the policy
    * being evaluated is the policy being shipped. */
  private def winnowPairSet(spark: SparkSession, sfDir: String,
      subsetMod: Int): DataFrame = {
    import spark.implicits._
    val fps = graft.operators.Dedup.winnowFingerprints(
      Tables.df(spark, sfDir, "documents")
        .filter($"doc_id" % subsetMod === 0)
        .select($"doc_id", $"text"),
      k = 4, w = 5)
      // feeds the df cut, both sides of the pair self-join, and sizes —
      // without the checkpoint the tokenize→explode→md5→window chain
      // re-executes per consumer (the qWinnowEval `sh` discipline)
      .localCheckpoint()
    val rare = fps.groupBy($"fp").agg(count(lit(1)).as("df"))
      .filter($"df" <= 100)
    val kept = fps.join(rare.select($"fp"), "fp")
    val sizes = kept.groupBy($"doc_id").agg(count(lit(1)).as("nf"))
    val shared = kept.select($"fp", $"doc_id".as("id1"))
      .join(kept.select($"fp", $"doc_id".as("id2")), "fp")
      .filter($"id1" < $"id2")
      .groupBy($"id1", $"id2").agg(count(lit(1)).as("shared"))
      .filter($"shared" >= 2)
    shared
      .join(sizes.select($"doc_id".as("id1"), $"nf".as("n1")), "id1")
      .join(sizes.select($"doc_id".as("id2"), $"nf".as("n2")), "id2")
      .withColumn("overlap",
        round($"shared".cast("double") / least($"n1", $"n2"), 6))
      .filter($"overlap" >= 0.5)
      .select($"id1", $"id2", $"n1", $"n2", $"shared", $"overlap")
  }

  def qDedupWinnow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    winnowPairSet(spark, sfDir, subsetMod = 1).orderBy($"id1", $"id2")
  }

  // ---- q_winnow_eval -----------------------------------------------------
  /** The winnowing index priced against exact truth at ITS OWN grain
    * (the q_minhash_eval / q_ann_eval discipline — no sketch ships
    * unevaluated, and an index must be judged on the similarity it
    * targets): recall of [[qDedupWinnow]]'s shipped pair policy
    * against exact 4-gram-shingle containment ≥ 0.5 pairs, per
    * containment decile, on the %3 subset. Winnowing stores ~1/w of
    * the shingle index; the guarantee says runs ≥ w+k−1 tokens always
    * leave a shared fingerprint, so high-containment pairs (long
    * shared runs) must recall near 1 while pairs whose overlap is
    * scattered short runs may escape — the curve measures that trade.
    * The truth side is the full inverted shingle index (equi-join with
    * the df ≤ 1000 stop-shingle cut, the q_containment shape) — the
    * eval pays for its own ground truth. */
  def qWinnowEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sh = Tables.df(spark, sfDir, "documents")
      .filter($"doc_id" % 3 === 0)
      // match the oracle's wt grain (len(T) >= 4): shingles() emits one
      // sub-4-token stub shingle for 1-3-token docs, which would create
      // Spark-only truth pairs if two such short docs ever matched
      // (ADVICE r11); no current fixture has one, but the grain must be
      // pinned in code, not by fixture luck
      .filter(size(TextFunctions.tokens($"text")) >= 4)
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
      .select($"doc_id",
        explode(array_distinct(TextFunctions.shingles($"text", 4)))
          .as("g"))
      .select($"doc_id", xxhash64($"g").as("s"))
      .distinct()
      .localCheckpoint() // feeds df cut + sizes + the pair join
    val df = sh.groupBy($"s").agg(count(lit(1)).as("df"))
    val kept = sh.join(df.filter($"df" <= 1000).select($"s"), "s")
    val sz = kept.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val truth = kept.select($"doc_id".as("id1"), $"s")
      .join(kept.select($"doc_id".as("id2"), $"s"), "s")
      .filter($"id1" < $"id2")
      .groupBy($"id1", $"id2").agg(count(lit(1)).as("ni"))
      .join(sz.select($"doc_id".as("id1"), $"n".as("n1")), "id1")
      .join(sz.select($"doc_id".as("id2"), $"n".as("n2")), "id2")
      .select($"id1", $"id2",
        ($"ni".cast("double") / least($"n1", $"n2")).as("cont"))
      .filter($"cont" >= 0.5)
    val win = winnowPairSet(spark, sfDir, subsetMod = 3)
      .select($"id1", $"id2", lit(1L).as("found"))
    truth.join(win, Seq("id1", "id2"), "left")
      .select(least(floor($"cont" * 10), lit(9L)).cast("int").as("band"),
        coalesce($"found", lit(0L)).as("found"))
      .groupBy($"band")
      .agg(count(lit(1)).as("n_truth"), sum($"found").as("n_found"))
      .select($"band", $"n_truth", $"n_found",
        round($"n_found".cast("double") / $"n_truth", 6).as("recall"))
      .orderBy($"band")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_winnow" -> qDedupWinnow,
    "q_winnow_eval" -> qWinnowEval,
    "q_silhouette" -> qSilhouette,
    "q_containment" -> qContainment,
    "q_containment_dir" -> qContainmentDir,
    "q_watermark" -> qWatermark,
    "q_minhash_eval" -> qMinhashEval,
    "q_minhash_miss" -> qMinhashMiss,
    "q_minhash_bands" -> qMinhashBands,
    "q_dedup_sweep" -> qDedupSweep,
    "q_prefix_join" -> qPrefixJoin,
    "q_canonical" -> qCanonical,
    "q_dedup_savings" -> qDedupSavings,
    "q_kmeans" -> qKmeans,
    "q_semdedup" -> qSemdedup,
    "q_coreset" -> qCoreset,
    "q_boilerplate" -> qBoilerplate,
    "q_dup_spans" -> qDupSpans,
    "q_split_leakproof" -> qSplitLeakproof,
    "q_curation_e2e" -> qCurationE2e,
    "q_fellegi_sunter" -> qFellegiSunter,
    "q_dbscan_grid" -> qDbscanGrid,
    "q_capture_recapture" -> qCaptureRecapture
  )

  private val toksDdb =
    "list_filter(string_split(lower(text), ' '), x -> x != '')"
  private val tokSetSql =
    "list_distinct(list_filter(string_split(lower(text), ' '), x -> x != ''))"

  /** Brute-force oracle pair CTEs (the oracle may be O(n^2); the Spark
    * side must not be): `sh` = (doc_id, distinct token list), `p` = pairs
    * with exact double jaccard/containment. Intersection size over raw
    * string sets equals the Spark side's over xxhash64-hashed sets
    * PROVIDED no two distinct tokens collide under xxhash64 (probability
    * ~n_tokens^2/2^64 — the documented standing assumption of the whole
    * hashed-shingle dedup family). */
  private def pairCtes(mod: Int): String =
    s"""sh AS (
       |  SELECT doc_id, $tokSetSql AS t
       |  FROM documents WHERE doc_id % $mod = 0 AND len($tokSetSql) > 0),
       |p AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2,
       |    CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
       |      / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) AS j,
       |    CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
       |      / least(len(a.t), len(b.t)) AS containment
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)""".stripMargin

  /** Shared q_canonical CTE chain through `kept` (requires WITH
    * RECURSIVE at the call site) — interpolated into both the
    * q_canonical and q_dedup_savings oracles so the clustering and
    * survivorship rule can never drift between them. */
  private def canonicalCtes(mod: Int): String =
    s"""${pairCtes(mod)},
      |e AS (SELECT id1 AS u, id2 AS v FROM p WHERE j >= 0.75
      |      UNION ALL SELECT id2, id1 FROM p WHERE j >= 0.75),
      |reach(node, lbl) AS (
      |  -- seed from ALL subset docs (NOT from sh, which drops
      |  -- zero-token docs): the Spark side hands every doc_id%$mod node
      |  -- to connectedComponents, so a token-less doc must still label
      |  -- itself a singleton here or row counts diverge
      |  SELECT doc_id, doc_id FROM documents WHERE doc_id % $mod = 0
      |  UNION
      |  SELECT e.v, r.lbl FROM reach r JOIN e ON e.u = r.node),
      |lab AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
      |        FROM reach GROUP BY node),
      |ranked AS (
      |  SELECT l.doc_id, l.cluster_id, d.n_chars,
      |    row_number() OVER (PARTITION BY l.cluster_id
      |      ORDER BY d.n_chars DESC, l.doc_id ASC) AS rk,
      |    COUNT(*) OVER (PARTITION BY l.cluster_id) AS csize
      |  FROM lab l JOIN documents d ON d.doc_id = l.doc_id),
      |kept AS (SELECT cluster_id, doc_id AS kept_id FROM ranked
      |         WHERE rk = 1)""".stripMargin

  /** The winnowing fingerprint/pair CTE chain over the doc_id % `mod`
    * subset (→ relation `wpairs`: id1, id2, n1, n2, shared, overlap ≥
    * 0.5) — shared by the q_dedup_winnow and q_winnow_eval oracles so
    * the evaluated policy is the shipped policy. Same positional
    * 4-gram stream, same md5 60-bit hash, same 5-window min as the
    * Spark side; the p index aligns because the only filtered element
    * ('' from an empty token list) implies an empty stream. */
  private def winnowCtes(mod: Int): String =
    s"""wt AS (SELECT doc_id, $toksDdb AS T FROM documents
      |  WHERE doc_id % $mod = 0 AND len($toksDdb) >= 4),
      |sh0 AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(0, len(T) - 3),
      |    i -> struct_pack(p := i,
      |      g := array_to_string(T[(i+1):(i+4)], ' ')))) AS s
      |  FROM wt),
      |h AS (
      |  SELECT doc_id, s.p AS p,
      |    ('0x' || substr(md5(s.g), 1, 15))::BIGINT AS h
      |  FROM sh0),
      |fpw AS (
      |  SELECT doc_id, p,
      |    count(*) OVER (PARTITION BY doc_id) AS n_grams,
      |    MIN(h) OVER (PARTITION BY doc_id ORDER BY p
      |      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS mn
      |  FROM h),
      |fps AS (
      |  SELECT DISTINCT doc_id, mn AS fp FROM fpw
      |  WHERE p <= greatest(n_grams - 5, 0)),
      |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 100),
      |kept AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp)),
      |sizes AS (SELECT doc_id, count(*) AS nf FROM kept GROUP BY 1),
      |shared AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
      |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |wpairs AS (
      |  SELECT id1, id2, s1.nf AS n1, s2.nf AS n2, shared,
      |    round(CAST(shared AS DOUBLE) / least(s1.nf, s2.nf), 6)
      |      AS overlap
      |  FROM shared
      |  JOIN sizes s1 ON s1.doc_id = id1
      |  JOIN sizes s2 ON s2.doc_id = id2
      |  WHERE round(CAST(shared AS DOUBLE) / least(s1.nf, s2.nf), 6)
      |    >= 0.5)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_dedup_winnow" ->
      s"""WITH ${winnowCtes(1)}
        |SELECT id1, id2, n1, n2, shared, overlap FROM wpairs
        |ORDER BY id1, id2""".stripMargin,

    // truth = exact distinct-4-gram containment >= 0.5 on the %3
    // subset (raw-string shingle sets ≡ Spark's xxhash64 sets,
    // collision-free — the pairCtes standing assumption); found =
    // membership in the shipped winnow policy over the same subset
    "q_winnow_eval" ->
      s"""WITH ${winnowCtes(3)},
        |tsh AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    list_transform(range(0, greatest(len(T) - 3, 1)),
        |      i -> array_to_string(T[(i+1):(i+4)], ' ')),
        |    s -> s != '')) AS gs
        |  FROM wt),
        |tex AS (SELECT doc_id, unnest(gs) AS g FROM tsh),
        |tdf AS (SELECT g FROM tex GROUP BY g HAVING count(*) <= 1000),
        |tk AS (SELECT doc_id, g FROM tex JOIN tdf USING (g)),
        |tsz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY 1),
        |ti AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS ni
        |  FROM tk a JOIN tk b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS (
        |  SELECT id1, id2,
        |    CAST(ni AS DOUBLE) / least(s1.n, s2.n) AS cont
        |  FROM ti JOIN tsz s1 ON s1.doc_id = id1
        |  JOIN tsz s2 ON s2.doc_id = id2
        |  WHERE CAST(ni AS DOUBLE) / least(s1.n, s2.n) >= 0.5),
        |joined AS (
        |  SELECT CAST(least(floor(t.cont * 10), 9) AS INT) AS band,
        |    CASE WHEN w.id1 IS NOT NULL THEN 1 ELSE 0 END AS found
        |  FROM truth t
        |  LEFT JOIN wpairs w ON w.id1 = t.id1 AND w.id2 = t.id2)
        |SELECT band, count(*) AS n_truth,
        |  CAST(sum(found) AS BIGINT) AS n_found,
        |  round(CAST(sum(found) AS DOUBLE) / count(*), 6) AS recall
        |FROM joined GROUP BY band ORDER BY band""".stripMargin,

    "q_prefix_join" ->
      s"""WITH ${pairCtes(5)}
        |SELECT id1, id2, round(j, 6) AS j,
        |  round(containment, 6) AS containment
        |FROM p WHERE j >= 0.9
        |ORDER BY id1, id2""".stripMargin,

    // the exact pair relation from pairCtes + the shared md5 banding
    // CTEs from TextOps (no name clash: sh/p vs s/tk/m/b/c); both
    // numerators and denominators are exact integers, ratios rounded
    // once, NULL-guarded like the Spark side
    "q_minhash_eval" ->
      s"""WITH ${TextOps.minhashCandCtes},
        |${pairCtes(5)},
        |truth AS (SELECT id1, id2 FROM p WHERE j >= 0.7),
        |v AS (
        |  SELECT c.id1, c.id2 FROM c
        |  JOIN s sa ON sa.doc_id = c.id1 JOIN s sb ON sb.doc_id = c.id2
        |  WHERE CAST(len(list_intersect(sa.t, sb.t)) AS DOUBLE)
        |    / (len(sa.t) + len(sb.t) - len(list_intersect(sa.t, sb.t)))
        |    >= 0.2),
        |k AS (
        |  SELECT
        |    (SELECT count(*) FROM truth) AS n_exact,
        |    (SELECT count(*) FROM c) AS n_cand,
        |    (SELECT count(*) FROM truth t
        |       WHERE EXISTS (SELECT 1 FROM c
        |         WHERE c.id1 = t.id1 AND c.id2 = t.id2)) AS n_tp,
        |    (SELECT count(*) FROM v) AS n_verified)
        |SELECT n_exact, n_cand, n_tp, n_verified,
        |  CASE WHEN n_exact = 0 THEN NULL
        |    ELSE round(CAST(n_tp AS DOUBLE) / n_exact, 6) END AS recall07,
        |  CASE WHEN n_cand = 0 THEN NULL
        |    ELSE round(CAST(n_verified AS DOUBLE) / n_cand, 6)
        |    END AS precision02
        |FROM k""".stripMargin,

    // same exact pair relation; each S-curve value is the same pow()
    // composition rounded once to 6dp on both sides, the mean an exact
    // DECIMAL(18,6) sum with one final double division
    "q_minhash_bands" ->
      s"""WITH ${pairCtes(5)},
        |truth AS (SELECT j FROM p WHERE j >= 0.7),
        |grid(b, r) AS (VALUES (1,16),(2,8),(4,4),(8,2),(16,1),
        |  (1,8),(2,4),(4,2),(8,1),(1,4),(2,2),(4,1)),
        |sc AS (
        |  SELECT g.b, g.r,
        |    round(CAST(SUM(CAST(round(
        |        1 - pow(1 - pow(t.j, g.r), g.b), 6) AS DECIMAL(18,6)))
        |      AS DOUBLE) / count(*), 6) AS exp_recall07
        |  FROM truth t CROSS JOIN grid g GROUP BY 1, 2)
        |SELECT g.b, g.r, g.b * g.r AS n_perms,
        |  round(1 - pow(1 - pow(0.5, g.r), g.b), 6) AS p50,
        |  round(1 - pow(1 - pow(0.7, g.r), g.b), 6) AS p70,
        |  round(1 - pow(1 - pow(0.9, g.r), g.b), 6) AS p90,
        |  sc.exp_recall07
        |FROM grid g LEFT JOIN sc ON sc.b = g.b AND sc.r = g.r
        |ORDER BY n_perms DESC, g.b""".stripMargin,

    // the same exact pair relation + shared md5 banding CTEs as
    // q_minhash_eval; the decile key applies least/floor to the SAME
    // once-computed double j on both sides, so bucket edges are exact
    "q_minhash_miss" ->
      s"""WITH ${TextOps.minhashCandCtes},
        |${pairCtes(5)},
        |truth AS (SELECT id1, id2, j FROM p WHERE j >= 0.7),
        |mk AS (
        |  SELECT
        |    '0.' || CAST(least(CAST(floor(j * 10) AS BIGINT), 9)
        |      AS VARCHAR) AS j_decile,
        |    EXISTS (SELECT 1 FROM c
        |      WHERE c.id1 = truth.id1 AND c.id2 = truth.id2) AS hit
        |  FROM truth)
        |SELECT j_decile,
        |  CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  CAST(count(*) - sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_missed,
        |  round(CAST(count(*) - sum(CASE WHEN hit THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*), 6) AS miss_rate
        |FROM mk GROUP BY 1 ORDER BY 1""".stripMargin,

    // same exact-double jaccard pair relation, the same three thin
    // aggregates off a threshold spine (left-joined so an empty
    // threshold still reports a zero row)
    "q_dedup_sweep" ->
      s"""WITH ${pairCtes(5)},
        |th(threshold, t) AS (
        |  VALUES ('0.70', 0.7), ('0.80', 0.8), ('0.90', 0.9)),
        |f AS (
        |  SELECT th.threshold, p.id1, p.id2
        |  FROM p CROSS JOIN th WHERE p.j >= th.t),
        |np AS (SELECT threshold, count(*) AS n_pairs FROM f GROUP BY 1),
        |nd AS (
        |  SELECT threshold, count(DISTINCT id) AS n_docs FROM (
        |    SELECT threshold, id1 AS id FROM f
        |    UNION ALL SELECT threshold, id2 FROM f) GROUP BY 1),
        |dr AS (
        |  SELECT threshold, count(DISTINCT id2) AS n_dropped
        |  FROM f GROUP BY 1)
        |SELECT th.threshold,
        |  COALESCE(np.n_pairs, 0) AS n_pairs,
        |  COALESCE(nd.n_docs, 0) AS n_docs,
        |  COALESCE(dr.n_dropped, 0) AS n_dropped
        |FROM th
        |LEFT JOIN np ON np.threshold = th.threshold
        |LEFT JOIN nd ON nd.threshold = th.threshold
        |LEFT JOIN dr ON dr.threshold = th.threshold
        |ORDER BY th.threshold""".stripMargin,

    // same reach-fixpoint labeling as the q_dedup_cluster oracle, then the
    // quality-rank survivorship window on top
    "q_canonical" ->
      s"""WITH RECURSIVE ${canonicalCtes(10)}
        |SELECT r.doc_id, r.cluster_id, r.csize, k.kept_id,
        |  r.doc_id = k.kept_id AS keep
        |FROM ranked r JOIN kept k ON k.cluster_id = r.cluster_id
        |ORDER BY r.doc_id""".stripMargin,

    // the q_canonical manifest aggregated per source; cluster counts via
    // a two-level (source, cluster) -> source aggregation, the exact
    // savings quotient rounded once on both sides
    "q_dedup_savings" ->
      s"""WITH RECURSIVE ${canonicalCtes(7)},
        |man AS (
        |  SELECT r.doc_id, r.cluster_id, r.csize, r.n_chars,
        |    r.doc_id = k.kept_id AS keep
        |  FROM ranked r JOIN kept k ON k.cluster_id = r.cluster_id),
        |jt AS (
        |  SELECT m.*, d.source FROM man m
        |  JOIN documents d ON d.doc_id = m.doc_id),
        |cl AS (SELECT source, cluster_id FROM jt WHERE csize >= 2
        |       GROUP BY 1, 2),
        |nc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_clusters
        |       FROM cl GROUP BY 1)
        |SELECT jt.source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped,
        |  COALESCE(nc.n_clusters, 0) AS n_clusters,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
        |  CAST(SUM(CASE WHEN NOT keep THEN n_chars ELSE 0 END) AS BIGINT)
        |    AS chars_saved,
        |  round(CAST(SUM(CASE WHEN NOT keep THEN n_chars ELSE 0 END)
        |      AS DOUBLE) / SUM(n_chars), 6) AS savings_frac
        |FROM jt LEFT JOIN nc ON nc.source = jt.source
        |GROUP BY jt.source, nc.n_clusters
        |ORDER BY jt.source""".stripMargin,

    // same explode/count/join/reassemble chain; DuckDB's ordered
    // string_agg mirrors the sorted-struct collect_list, and the 1-based
    // range positions only order tokens, so the 0-based Spark posexplode
    // yields the identical sequence; the 80% cut is exact-integer on both
    // sides
    // same 3-gram shingle sets (short-doc stub filtered identically on
    // both sides), same df <= 1000 stop-shingle cut, same min-side
    // containment and top-50 order
    "q_containment" ->
      s"""WITH sh0 AS (
        |  SELECT DISTINCT doc_id, unnest(
        |    list_filter(
        |      list_transform(range(0, greatest(len(T) - 2, 1)),
        |        i -> array_to_string(T[(i+1):(i+3)], ' ')),
        |      s -> s != '')) AS s
        |  FROM (SELECT doc_id, $toksDdb AS T FROM documents)),
        |sh3 AS (
        |  SELECT doc_id, s FROM sh0
        |  WHERE len(string_split(s, ' ')) = 3),
        |df AS (SELECT s, count(*) AS df FROM sh3 GROUP BY s),
        |kept AS (
        |  SELECT sh3.doc_id, sh3.s FROM sh3 JOIN df USING (s)
        |  WHERE df.df <= 1000),
        |sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.id_a, i.id_b, i.n_inter, sa.n AS n_a, sb.n AS n_b,
        |  round(CAST(i.n_inter AS DOUBLE) / least(sa.n, sb.n), 6)
        |    AS containment
        |FROM inter i
        |JOIN sz sa ON sa.doc_id = i.id_a
        |JOIN sz sb ON sb.doc_id = i.id_b
        |WHERE round(CAST(i.n_inter AS DOUBLE) / least(sa.n, sb.n), 6)
        |  >= 0.8
        |ORDER BY containment DESC, id_a ASC, id_b ASC
        |LIMIT 50""".stripMargin,

    // same 3-gram shingle stream at the SOURCE grain (string shingles
    // where Spark carries xxhash64 keys — distinct counts agree under
    // the family's standing collision-exactness assumption), same
    // once-rounded directional fractions and 0.5-bar verdict CASE
    "q_containment_dir" ->
      s"""WITH sh0 AS (
        |  SELECT DISTINCT source, unnest(
        |    list_filter(
        |      list_transform(range(0, greatest(len(T) - 2, 1)),
        |        i -> array_to_string(T[(i+1):(i+3)], ' ')),
        |      s -> s != '')) AS s
        |  FROM (SELECT source, $toksDdb AS T FROM documents)),
        |sh3 AS (
        |  SELECT source, s FROM sh0
        |  WHERE len(string_split(s, ' ')) = 3),
        |sz AS (SELECT source, count(*) AS n FROM sh3 GROUP BY source),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    count(*) AS n_inter
        |  FROM sh3 a JOIN sh3 b ON a.s = b.s AND a.source < b.source
        |  GROUP BY 1, 2),
        |f AS (
        |  SELECT i.src_a, i.src_b, sa.n AS n_a, sb.n AS n_b, i.n_inter,
        |    round(CAST(i.n_inter AS DOUBLE) / sa.n, 6) AS c_a_in_b,
        |    round(CAST(i.n_inter AS DOUBLE) / sb.n, 6) AS c_b_in_a,
        |    round(CAST(i.n_inter AS DOUBLE) / sa.n
        |      - CAST(i.n_inter AS DOUBLE) / sb.n, 6) AS asym
        |  FROM inter i
        |  JOIN sz sa ON sa.source = i.src_a
        |  JOIN sz sb ON sb.source = i.src_b)
        |SELECT src_a, src_b, n_a, n_b, n_inter, c_a_in_b, c_b_in_a,
        |  asym,
        |  CASE WHEN c_a_in_b >= 0.5 AND c_b_in_a >= 0.5 THEN 'mutual'
        |    WHEN c_a_in_b >= 0.5 THEN 'a_in_b'
        |    WHEN c_b_in_a >= 0.5 THEN 'b_in_a'
        |    ELSE 'distinct' END AS verdict
        |FROM f ORDER BY src_a, src_b""".stripMargin,

    // same md5-parity greenlist coin over the same 1-indexed bigram
    // walk, same z formula and DECIMAL(18,6) pre-sum mean
    "q_watermark" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, $toksDdb AS toks FROM documents),
        |u AS (
        |  SELECT doc_id, source, toks, unnest(range(1, len(toks))) AS i
        |  FROM t WHERE len(toks) >= 2),
        |b AS (
        |  SELECT doc_id, source,
        |    (('0x' || substr(md5(toks[i] || '|' || toks[i+1]), 1, 15))
        |      ::BIGINT % 2 = 0) AS green
        |  FROM u),
        |pd AS (
        |  SELECT doc_id, source, count(*) AS t,
        |    CAST(sum(CASE WHEN green THEN 1 ELSE 0 END) AS BIGINT) AS g
        |  FROM b GROUP BY 1, 2),
        |z AS (
        |  SELECT doc_id, source, round((2.0 * g - t) / sqrt(t), 6) AS z
        |  FROM pd)
        |SELECT source, count(*) AS n_docs,
        |  round(CAST(sum(CAST(z AS DECIMAL(18,6))) AS DOUBLE) / count(*),
        |    6) AS mean_z,
        |  max(z) AS max_z,
        |  CAST(sum(CASE WHEN z >= 4.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged
        |FROM z GROUP BY source ORDER BY source""".stripMargin,

    "q_boilerplate" ->
      s"""WITH ls AS (
        |  SELECT doc_id, source, $toksDdb AS arr FROM documents),
        |t AS (
        |  SELECT doc_id, source,
        |    unnest(list_transform(range(1, len(arr) + 1),
        |      i -> struct_pack(pos := i, tok := arr[i]))) AS s
        |  FROM ls),
        |toks AS (
        |  SELECT doc_id, source, s.pos AS pos, s.tok AS tok FROM t),
        |src AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
        |df AS (
        |  SELECT source, tok, count(DISTINCT doc_id) AS n_docs
        |  FROM toks GROUP BY 1, 2),
        |kept AS (
        |  SELECT k.doc_id, k.pos, k.tok
        |  FROM toks k
        |  JOIN df ON df.source = k.source AND df.tok = k.tok
        |  JOIN src ON src.source = k.source
        |  WHERE df.n_docs * 10 < src.n_src * 8),
        |re AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY pos) AS cleaned
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len($toksDdb) AS BIGINT) AS n_toks,
        |  COALESCE(re.n_kept, 0) AS n_kept,
        |  length(COALESCE(re.cleaned, '')) AS cleaned_len,
        |  substr(COALESCE(re.cleaned, ''), 1, 60) AS cleaned_head
        |FROM documents d LEFT JOIN re ON re.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // raw-string spans stand in for the xxhash64 span keys (counts are
    // identical collision-free); unnest(range) generates the same
    // 1..len-7 window starts the Spark lead() pass produces
    "q_dup_spans" ->
      s"""WITH t AS (SELECT doc_id, $toksDdb AS toks FROM documents),
        |u AS (
        |  SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
        |  FROM t WHERE len(toks) >= 8),
        |w AS (
        |  SELECT doc_id, array_to_string(list_slice(toks, i, i + 7), ' ')
        |    AS span
        |  FROM u),
        |s AS (SELECT span, count(DISTINCT doc_id) AS nd FROM w GROUP BY 1),
        |d AS (
        |  SELECT w.doc_id, count(*) AS n_windows,
        |    CAST(sum(CASE WHEN s.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup
        |  FROM w JOIN s USING (span) GROUP BY 1)
        |SELECT t.doc_id,
        |  COALESCE(d.n_windows, 0) AS n_windows,
        |  COALESCE(d.n_dup, 0) AS n_dup,
        |  COALESCE(round(CAST(d.n_dup AS DOUBLE) / d.n_windows, 6), 0.0)
        |    AS dup_frac,
        |  COALESCE(round(CAST(d.n_dup AS DOUBLE) / d.n_windows, 6), 0.0)
        |    >= 0.5 AS flag_dup
        |FROM t LEFT JOIN d USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    // same reach-fixpoint labels as q_canonical, then the identical
    // md5-of-cluster bucket arithmetic on both sides
    // composes three existing oracle chains verbatim: pairCtes(5) for
    // truth, TextOps.minhashCandCtes for detector A, TextOps
    // .simhashFpCtes + the band retrieval for detector B
    "q_capture_recapture" ->
      // concatenation, not interpolation-into-stripMargin: simhashFpCtes
      // contains a line starting with the bitwise `|` that a second
      // stripMargin pass would eat (the q_simhash_md5 precedent)
      (s"""WITH ${pairCtes(5)},
        |truthp AS (SELECT id1, id2 FROM p WHERE j >= 0.7),
        |""".stripMargin +
      TextOps.minhashCandCtes + ",\n" +
      TextOps.simhashFpCtes + ",\n" +
      """bands AS (
        |  SELECT doc_id, fp, r.b AS b, (fp >> (16 * r.b)) & 65535 AS bk
        |  FROM f, range(0, 4) r(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id1, cc.doc_id AS id2,
        |    a.fp AS fp1, cc.fp AS fp2
        |  FROM bands a JOIN bands cc
        |    ON a.b = cc.b AND a.bk = cc.bk AND a.doc_id < cc.doc_id),
        |bn AS (
        |  SELECT id1, id2 FROM cand
        |  WHERE bit_count(xor(fp1, fp2)) <= 3
        |    AND id1 % 5 = 0 AND id2 % 5 = 0),
        |marks AS (
        |  SELECT tp.id1, tp.id2,
        |    cpair.id1 IS NOT NULL AS ina,
        |    bn2.id1 IS NOT NULL AS inb
        |  FROM truthp tp
        |  LEFT JOIN c cpair
        |    ON cpair.id1 = tp.id1 AND cpair.id2 = tp.id2
        |  LEFT JOIN bn bn2 ON bn2.id1 = tp.id1 AND bn2.id2 = tp.id2),
        |agg1 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_true,
        |    CAST(sum(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN inb THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN ina AND inb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS m
        |  FROM marks)
        |SELECT n_true, n1, n2, m,
        |  round(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1.0, 4)
        |    AS chapman_est,
        |  round(abs(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1.0
        |    - n_true) / n_true, 6) AS rel_err
        |FROM agg1""".stripMargin),

    // brute-force neighbor pairs (the oracle may be O(n²)); the same
    // integer micro-unit distance test and min-id component rule
    "q_dbscan_grid" ->
      """WITH RECURSIVE pt AS (
        |  SELECT vec_id,
        |    CAST(round(round(CAST(embedding[1] AS DOUBLE), 6)
        |      * 1000000, 0) AS BIGINT) + 1000000 AS ix,
        |    CAST(round(round(CAST(embedding[2] AS DOUBLE), 6)
        |      * 1000000, 0) AS BIGINT) + 1000000 AS iy
        |  FROM embeddings WHERE len(embedding) >= 2),
        |nbr AS (
        |  SELECT a.vec_id, b.vec_id AS id2
        |  FROM pt a JOIN pt b ON a.vec_id <> b.vec_id
        |    AND (a.ix - b.ix) * (a.ix - b.ix)
        |      + (a.iy - b.iy) * (a.iy - b.iy) <= 400000000),
        |core AS (
        |  SELECT vec_id FROM nbr GROUP BY vec_id HAVING count(*) >= 4),
        |e AS (
        |  SELECT n.vec_id AS u, n.id2 AS v FROM nbr n
        |  WHERE n.vec_id IN (SELECT vec_id FROM core)
        |    AND n.id2 IN (SELECT vec_id FROM core)),
        |reach(node, lbl) AS (
        |  SELECT vec_id, vec_id FROM core
        |  UNION
        |  SELECT e.v, r.lbl FROM reach r JOIN e ON e.u = r.node),
        |lab AS (SELECT node, MIN(lbl) AS component FROM reach
        |        GROUP BY node),
        |border AS (
        |  SELECT n.vec_id, MIN(l.component) AS component
        |  FROM nbr n JOIN lab l ON l.node = n.id2
        |  WHERE n.vec_id NOT IN (SELECT vec_id FROM core)
        |  GROUP BY n.vec_id),
        |cl AS (
        |  SELECT CAST(c.component AS VARCHAR) AS cluster_id,
        |    c.n_core, coalesce(b.n_border, 0) AS n_border
        |  FROM (SELECT component, count(*) AS n_core FROM lab
        |        GROUP BY 1) c
        |  LEFT JOIN (SELECT component, count(*) AS n_border FROM border
        |             GROUP BY 1) b USING (component)),
        |noise AS (
        |  SELECT count(*) AS n FROM pt
        |  WHERE vec_id NOT IN (SELECT node FROM lab)
        |    AND vec_id NOT IN (SELECT vec_id FROM border))
        |SELECT cluster_id,
        |  CAST(n_core + n_border AS BIGINT) AS n_points,
        |  CAST(n_core AS BIGINT) AS n_core,
        |  CAST(n_border AS BIGINT) AS n_border
        |FROM cl
        |UNION ALL
        |SELECT 'noise', n, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |FROM noise
        |ORDER BY cluster_id""".stripMargin,

    // string token sets mirror the xxhash64 sets collision-free (the
    // standing dedup-family assumption); m/u/weights are the identical
    // smoothed-ratio + once-rounded ln() chain
    "q_fellegi_sunter" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    substr(text, 1, 12) AS head12,
        |    list_aggregate(list_transform(
        |      list_distinct(list_filter(string_split(lower(text), ' '),
        |        x -> x != '')), x -> md5(x)), 'min') AS mh,
        |    list_distinct(list_filter(string_split(lower(text), ' '),
        |      x -> x != '')) AS t
        |  FROM documents),
        |d2 AS (
        |  SELECT doc_id, lang, source, n_chars, head12, mh, t,
        |    len(t) AS sz,
        |    lang || ':' || CAST(n_chars // 40 AS VARCHAR) AS blk
        |  FROM d),
        |p AS (
        |  SELECT
        |    a.source = b.source AS f1,
        |    abs(a.n_chars - b.n_chars) <= 10 AS f2,
        |    a.head12 = b.head12 AS f3,
        |    a.mh = b.mh AS f4,
        |    coalesce(CASE WHEN a.sz + b.sz - len(list_intersect(a.t, b.t))
        |        > 0 THEN
        |      CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
        |        / (a.sz + b.sz - len(list_intersect(a.t, b.t))) >= 0.7
        |      END, FALSE) AS mt
        |  FROM d2 a JOIN d2 b ON a.blk = b.blk AND a.doc_id < b.doc_id),
        |mu AS (
        |  SELECT
        |    CAST(sum(CASE WHEN mt THEN 1 ELSE 0 END) AS BIGINT) AS nm,
        |    CAST(sum(CASE WHEN NOT mt THEN 1 ELSE 0 END) AS BIGINT) AS nu,
        |    CAST(sum(CASE WHEN mt AND f1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
        |    CAST(sum(CASE WHEN NOT mt AND f1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
        |    CAST(sum(CASE WHEN mt AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
        |    CAST(sum(CASE WHEN NOT mt AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
        |    CAST(sum(CASE WHEN mt AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS a3,
        |    CAST(sum(CASE WHEN NOT mt AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
        |    CAST(sum(CASE WHEN mt AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS a4,
        |    CAST(sum(CASE WHEN NOT mt AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS b4
        |  FROM p),
        |w AS (
        |  SELECT
        |    CAST(round(ln(((a1 + 0.5) / (nm + 1)) / ((b1 + 0.5) / (nu + 1))), 9) AS DECIMAL(18,9)) AS w1a,
        |    CAST(round(ln((1.0 - (a1 + 0.5) / (nm + 1)) / (1.0 - (b1 + 0.5) / (nu + 1))), 9) AS DECIMAL(18,9)) AS w1d,
        |    CAST(round(ln(((a2 + 0.5) / (nm + 1)) / ((b2 + 0.5) / (nu + 1))), 9) AS DECIMAL(18,9)) AS w2a,
        |    CAST(round(ln((1.0 - (a2 + 0.5) / (nm + 1)) / (1.0 - (b2 + 0.5) / (nu + 1))), 9) AS DECIMAL(18,9)) AS w2d,
        |    CAST(round(ln(((a3 + 0.5) / (nm + 1)) / ((b3 + 0.5) / (nu + 1))), 9) AS DECIMAL(18,9)) AS w3a,
        |    CAST(round(ln((1.0 - (a3 + 0.5) / (nm + 1)) / (1.0 - (b3 + 0.5) / (nu + 1))), 9) AS DECIMAL(18,9)) AS w3d,
        |    CAST(round(ln(((a4 + 0.5) / (nm + 1)) / ((b4 + 0.5) / (nu + 1))), 9) AS DECIMAL(18,9)) AS w4a,
        |    CAST(round(ln((1.0 - (a4 + 0.5) / (nm + 1)) / (1.0 - (b4 + 0.5) / (nu + 1))), 9) AS DECIMAL(18,9)) AS w4d
        |  FROM mu),
        |sc AS (
        |  SELECT mt,
        |    (CASE WHEN f1 THEN w1a ELSE w1d END)
        |      + (CASE WHEN f2 THEN w2a ELSE w2d END)
        |      + (CASE WHEN f3 THEN w3a ELSE w3d END)
        |      + (CASE WHEN f4 THEN w4a ELSE w4d END) AS s
        |  FROM p CROSS JOIN w),
        |g AS (
        |  SELECT CASE WHEN CAST(s AS DOUBLE) >= 1.5 THEN 'link'
        |              WHEN CAST(s AS DOUBLE) >= 0.0 THEN 'possible'
        |              ELSE 'non_link' END AS decision, mt, s
        |  FROM sc)
        |SELECT decision,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN mt THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        |  round(CAST(sum(CASE WHEN mt THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS precision,
        |  round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS mean_score
        |FROM g GROUP BY decision ORDER BY decision""".stripMargin,

    // the funnel's oracle is pure composition: canonicalCtes (the
    // q_canonical clustering + survivorship, verbatim), TextOps's
    // qualityScoreSql (the q_quality_sweep score, verbatim) and
    // shingleSql (the q_decontaminate rule, verbatim), and the
    // q_split_leakproof md5 bucket literal — nothing re-derived
    "q_curation_e2e" ->
      s"""WITH RECURSIVE ${canonicalCtes(10)},
        |man AS (
        |  SELECT r.doc_id, r.cluster_id, r.doc_id = k.kept_id AS keep
        |  FROM ranked r JOIN kept k ON k.cluster_id = r.cluster_id),
        |sc AS (
        |  SELECT doc_id,
        |    ${TextOps.qualityScoreSql} AS score,
        |    CAST(len($toksDdb) AS BIGINT) AS n_tok
        |  FROM documents WHERE doc_id % 10 = 0),
        |shing AS (
        |  ${TextOps.shingleSql("doc_id % 97 = 0 OR doc_id % 10 = 0")}),
        |bench AS (SELECT DISTINCT s FROM shing WHERE doc_id % 97 = 0),
        |contam AS (
        |  SELECT DISTINCT doc_id FROM shing
        |  WHERE doc_id % 10 = 0 AND doc_id % 97 <> 0
        |    AND s IN (SELECT s FROM bench)),
        |g AS (
        |  SELECT sc.doc_id, sc.n_tok,
        |    sc.score >= 0.5 AS g1,
        |    sc.score >= 0.5 AND m.keep AS g2,
        |    sc.score >= 0.5 AND m.keep AND sc.doc_id % 97 <> 0
        |      AND sc.doc_id NOT IN (SELECT doc_id FROM contam) AS g3,
        |    CASE WHEN ('0x' || substr(md5('split:'
        |          || CAST(m.cluster_id AS VARCHAR)), 1, 4))::BIGINT % 10
        |          <= 7 THEN 'train'
        |      WHEN ('0x' || substr(md5('split:'
        |          || CAST(m.cluster_id AS VARCHAR)), 1, 4))::BIGINT % 10
        |          = 8 THEN 'val' ELSE 'test' END AS split
        |  FROM sc JOIN man m ON m.doc_id = sc.doc_id),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n0,
        |    CAST(sum(n_tok) AS BIGINT) AS t0,
        |    CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
        |    CAST(sum(CASE WHEN g1 THEN n_tok ELSE 0 END) AS BIGINT) AS t1,
        |    CAST(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
        |    CAST(sum(CASE WHEN g2 THEN n_tok ELSE 0 END) AS BIGINT) AS t2,
        |    CAST(sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS k3,
        |    CAST(sum(CASE WHEN g3 THEN n_tok ELSE 0 END) AS BIGINT) AS t3,
        |    CAST(sum(CASE WHEN g3 AND split = 'train' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ktr,
        |    CAST(sum(CASE WHEN g3 AND split = 'train' THEN n_tok ELSE 0
        |      END) AS BIGINT) AS ttr,
        |    CAST(sum(CASE WHEN g3 AND split = 'val' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS kva,
        |    CAST(sum(CASE WHEN g3 AND split = 'val' THEN n_tok ELSE 0
        |      END) AS BIGINT) AS tva,
        |    CAST(sum(CASE WHEN g3 AND split = 'test' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS kte,
        |    CAST(sum(CASE WHEN g3 AND split = 'test' THEN n_tok ELSE 0
        |      END) AS BIGINT) AS tte
        |  FROM g)
        |SELECT stage, n_in, n_kept, n_in - n_kept AS n_dropped,
        |  tokens_kept
        |FROM (
        |  SELECT '0_subset' AS stage, n0 AS n_in, n0 AS n_kept,
        |    t0 AS tokens_kept FROM a
        |  UNION ALL SELECT '1_quality', n0, k1, t1 FROM a
        |  UNION ALL SELECT '2_near_dup', k1, k2, t2 FROM a
        |  UNION ALL SELECT '3_decontam', k2, k3, t3 FROM a
        |  UNION ALL SELECT '4_split_test', k3, kte, tte FROM a
        |  UNION ALL SELECT '4_split_train', k3, ktr, ttr FROM a
        |  UNION ALL SELECT '4_split_val', k3, kva, tva FROM a)
        |ORDER BY stage""".stripMargin,

    "q_split_leakproof" ->
      s"""WITH RECURSIVE ${pairCtes(10)},
        |e AS (SELECT id1 AS u, id2 AS v FROM p WHERE j >= 0.75
        |      UNION ALL SELECT id2, id1 FROM p WHERE j >= 0.75),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents WHERE doc_id % 10 = 0
        |  UNION
        |  SELECT e.v, r.lbl FROM reach r JOIN e ON e.u = r.node),
        |lab AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
        |        FROM reach GROUP BY node),
        |b AS (
        |  SELECT doc_id, cluster_id,
        |    ('0x' || substr(md5('split:' || CAST(cluster_id AS VARCHAR)),
        |      1, 4))::BIGINT % 10 AS bkt
        |  FROM lab)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN bkt <= 7 THEN 'train' WHEN bkt = 8 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    // identical seeding, term rounding, argmin tiebreak, and centroid
    // division; DuckDB's row_number stands in for Spark's min(struct)
    // argmin — both compute argmin by (dist, cid)
    // the same assignment chain's t2 distances; best/runner-up via the
    // identical (dist, cid) order; same zero-guard and decimal pre-sums
    "q_silhouette" ->
      (kmeansAsgSql + """,
        |rkd AS (
        |  SELECT vec_id, cid, dist, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY dist, cid) AS rk
        |  FROM t2),
        |per AS (
        |  SELECT a.vec_id, a.cid, CAST(a.dist AS DOUBLE) AS a,
        |    CAST(b.dist AS DOUBLE) AS b
        |  FROM rkd a JOIN rkd b
        |    ON a.vec_id = b.vec_id AND a.rk = 1 AND b.rk = 2),
        |sil AS (
        |  SELECT vec_id, cid,
        |    CASE WHEN greatest(a, b) = 0 THEN 0.0
        |      ELSE round((b - a) / greatest(a, b), 6) END AS s
        |  FROM per)
        |SELECT CAST(cid AS INT) AS cid, count(*) AS n,
        |  round(CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS mean_sil,
        |  min(s) AS min_sil
        |FROM sil GROUP BY cid ORDER BY cid""".stripMargin),

    "q_kmeans" ->
      (kmeansAsgSql + """,
        |bylab AS (
        |  SELECT a.cid, e.label, count(*) AS label_n
        |  FROM a2 a JOIN embeddings e ON e.vec_id = a.vec_id
        |  GROUP BY 1, 2)
        |SELECT CAST(cid AS INT) AS cid, CAST(n AS BIGINT) AS n,
        |  top_label, label_n AS top_n
        |FROM (
        |  SELECT cid, label AS top_label, label_n,
        |    SUM(label_n) OVER (PARTITION BY cid) AS n,
        |    row_number() OVER (PARTITION BY cid
        |      ORDER BY label_n DESC, label ASC) AS rk
        |  FROM bylab)
        |WHERE rk = 1
        |ORDER BY cid""".stripMargin),

    // the same assignment chain; centroids recomputed from a2 with the
    // c1 rounding form; distance = the assign kernel; per-cluster rank
    "q_coreset" ->
      (kmeansAsgSql + """,
        |c2b AS (
        |  SELECT a.cid, v.d,
        |    CAST(SUM(CAST(round(v.x, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(*) AS c
        |  FROM v JOIN a2 a ON a.vec_id = v.vec_id GROUP BY 1, 2),
        |dd AS (
        |  SELECT v.vec_id, a.cid,
        |    SUM(CAST(round((v.x - c.c) * (v.x - c.c), 9)
        |      AS DECIMAL(20,9))) AS dist
        |  FROM v JOIN a2 a ON a.vec_id = v.vec_id
        |  JOIN c2b c ON c.cid = a.cid AND c.d = v.d
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT vec_id, cid, dist, row_number() OVER (
        |    PARTITION BY cid ORDER BY dist, vec_id) AS rk
        |  FROM dd)
        |SELECT CAST(cid AS INT) AS cid, CAST(rk AS INT) AS rk, vec_id,
        |  round(CAST(dist AS DOUBLE), 6) AS dist
        |FROM rk WHERE rk <= 5
        |ORDER BY cid, rk""".stripMargin),

    // the same assignment chain; pairs joined within cluster only, the
    // same keep-lowest-id policy and 6dp cosine round as q_dedup_embedding
    "q_semdedup" ->
      (kmeansAsgSql + """,
        |pairs AS (
        |  SELECT x.vec_id AS id1, y.vec_id AS id2,
        |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])), 6) AS sim
        |  FROM a2 x JOIN a2 y ON x.cid = y.cid AND x.vec_id < y.vec_id
        |  JOIN embeddings a ON a.vec_id = x.vec_id
        |  JOIN embeddings b ON b.vec_id = y.vec_id)
        |SELECT e.vec_id, CAST(g.cid AS INT) AS cid,
        |  e.vec_id NOT IN (SELECT id2 FROM pairs WHERE sim >= 0.4) AS keep
        |FROM embeddings e JOIN a2 g ON g.vec_id = e.vec_id
        |ORDER BY e.vec_id""".stripMargin)
  )

  /** The 2-Lloyd-iteration deterministic assignment CTE chain (WITH v …
    * a2), shared by the q_kmeans and q_semdedup oracles so the assignment
    * rule cannot drift between them — mirrors [[kmeansAssign]] exactly. */
  // lazy: referenced by the oracle map above, which initializes first
  private lazy val kmeansAsgSql: String =
    """WITH v AS (
      |  SELECT vec_id, label, r.d,
      |    CAST(embedding[r.d + 1] AS DOUBLE) AS x
      |  FROM embeddings CROSS JOIN range(0, 64) r(d)),
      |seeds AS (
      |  SELECT vec_id, row_number() OVER (
      |    ORDER BY md5('km:' || CAST(vec_id AS VARCHAR)), vec_id) AS cid
      |  FROM embeddings),
      |c0 AS (
      |  SELECT s.cid, v.d, v.x AS c
      |  FROM v JOIN seeds s ON s.vec_id = v.vec_id WHERE s.cid <= 4),
      |t1 AS (
      |  SELECT v.vec_id, c.cid,
      |    SUM(CAST(round((v.x - c.c) * (v.x - c.c), 9)
      |      AS DECIMAL(20,9))) AS dist
      |  FROM v JOIN c0 c ON c.d = v.d GROUP BY 1, 2),
      |a1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist, cid) AS rk FROM t1) WHERE rk = 1),
      |c1 AS (
      |  SELECT a.cid, v.d,
      |    CAST(SUM(CAST(round(v.x, 6) AS DECIMAL(18,6))) AS DOUBLE)
      |      / count(*) AS c
      |  FROM v JOIN a1 a ON a.vec_id = v.vec_id GROUP BY 1, 2),
      |t2 AS (
      |  SELECT v.vec_id, c.cid,
      |    SUM(CAST(round((v.x - c.c) * (v.x - c.c), 9)
      |      AS DECIMAL(20,9))) AS dist
      |  FROM v JOIN c1 c ON c.d = v.d GROUP BY 1, 2),
      |a2 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist, cid) AS rk FROM t2) WHERE rk = 1)""".stripMargin
}
