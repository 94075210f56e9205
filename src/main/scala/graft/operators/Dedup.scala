package graft.operators

import graft.functions.Md5Hash.h60
import graft.functions.{SimHash64, SortedIntersectSize, TextFunctions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * scalability order:
  *
  *  1. exact       — hash/group on content: one shuffle, fully scalable;
  *  2. simhash     — 64-bit fingerprint + group-by: one shuffle, scalable,
  *                   catches near-dups that differ in few tokens;
  *  3. minhash LSH — banding via MLlib MinHashLSH: shuffles per hash table,
  *                   candidate pairs only — the 100 TB near-dup path;
  *  4. pairwise Jaccard — exact O(n²) token-set comparison: ONLY for
  *                   small/blocked candidate sets (we use it both as the
  *                   oracle-checkable reference semantics and as the
  *                   verifier for LSH recall).
  */
object Dedup {

  /** Exact dedup: deterministic keep-lowest-id per distinct `col`.
    * Equivalent to Hive's row_number-over-partition idiom; at scale this is
    * one hash shuffle on the dedup key. */
  def exactDedup(df: DataFrame, col: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(df(col)).orderBy(df(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(expr("__rn = 1"))
      .drop("__rn")
  }

  /** All near-duplicate pairs (id1 < id2) with token-set Jaccard ≥
    * `threshold`. O(n²) in the candidate set — caller must pre-block. */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // EXPLICIT-count repartition materializes the token-set chain before
    // the non-equi self-join (else it recomputes per PAIR, SURVEY
    // §7.4.10) AND spreads the single-row-group scan across cores — AQE
    // would coalesce an unpinned keyed repartition of the small doc rows
    // back to one partition, single-threading the whole pair loop.
    val toks = docs.select($"doc_id",
        TextFunctions.tokenSet($"text").as("ts"))
      .withColumn("t",
        sort_array(array_distinct(transform($"ts", x => xxhash64(x)))))
      .withColumn("sz", size($"t"))
      .drop("ts")
      .repartition(graft.Tables.shufflePartitions(spark), $"doc_id")
    val a = toks.select($"doc_id".as("id1"), $"t".as("t1"), $"sz".as("s1"))
    val b = toks.select($"doc_id".as("id2"), $"t".as("t2"), $"sz".as("s2"))
    // length-ratio block in the JOIN condition (same bound as the ngram
    // path): J ≥ t forces t·max(|A|,|B|) ≤ min(|A|,|B|), so over-ratio
    // pairs are pruned before the intersect ever runs. The bound holds in
    // exact arithmetic; fl(n·t) can round just above an integer size for
    // an arbitrary caller threshold, so a 1e-9 slack keeps a boundary pair
    // (J exactly = t) in the candidate set — the exact j filter below
    // still removes every false candidate.
    a.join(b, $"id1" < $"id2" &&
        $"s1" * threshold <= $"s2" + 1e-9 &&
        $"s2" * threshold <= $"s1" + 1e-9)
      // per-pair kernel: the codegen'd O(a+b) merge walk over sorted
      // xxhash64'd token sets (the q_prefix_join / q_minhash_md5 idiom),
      // NOT array_intersect over string arrays — the interpreted string
      // intersect measured 8.9 s vs ~1 s for this shape once the noop-sink
      // bench stopped letting count() skip the pair join. Hash-set Jaccard
      // equals string-set Jaccard collision-free (~2^-64, documented).
      .withColumn("li",
        SortedIntersectSize.of($"t1", $"t2").cast("double"))
      .withColumn("j", $"li" / ($"s1" + $"s2" - $"li"))
      .filter($"j" >= threshold)
      .select($"id1", $"id2", round($"j", 6).as("j"))
  }

  /** SimHash near-dup grouping: fingerprint every doc, group identical
    * fingerprints. One projection + one shuffle — the cheapest near-dup
    * signal at scale. */
  def simhashGroups(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id", $"text")
      .withColumn("toks", TextFunctions.tokenSet($"text"))
      .withColumn("fp", SimHash64.of($"toks"))
  }

  /** MinHash-LSH near-dup pairs at Jaccard distance ≤ `maxDistance`,
    * band-and-group style (no all-pairs step anywhere):
    *
    *  1. map side: distinct tokens, hashed to a SORTED long array once per
    *     doc (the cheap exact-verify representation), plus `numTables`
    *     seeded minhash signatures;
    *  2. explode per (table, minhash) bucket key and EQUI-join docs within
    *     a bucket — candidate generation is linear in docs × tables, and
    *     the bucket join is an ordinary shuffled join, so it scales like
    *     any groupBy;
    *  3. verify every candidate with the exact Jaccard via the codegen'd
    *     sorted-long merge-walk ([[graft.functions.SortedIntersectSize]])
    *     and keep dist ≤ maxDistance; `distinct` collapses pairs that met
    *     in several tables.
    *
    * Fully deterministic (xxhash64-seeded), no MLlib model fit, and the
    * per-candidate verify is a primitive merge instead of a sparse-vector
    * UDF — this replaced an MLlib approxSimilarityJoin that spent its time
    * materializing vectors and keyDistance calls on a dense-candidate
    * corpus. False-negative rate at J ≥ 1-maxDistance is (1-J)^numTables
    * per pair (single-row bands), unit-bounded by the recall test. */
  def minhashCandidates(docs: DataFrame, maxDistance: Double,
      numTables: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // repartition materializes the tokenize/hash/sort chain ONCE — base
    // fans out to both sides of the bucket join plus two verify rejoins,
    // which would otherwise recompute it four times (SURVEY §7.4.10)
    val base = docs.select($"doc_id", TextFunctions.tokenSet($"text").as("tk"))
      .filter(size($"tk") > 0)
      // array_distinct AFTER hashing establishes SortedIntersectSize's
      // duplicate-free contract even under a 64-bit collision
      .withColumn("t",
        sort_array(array_distinct(transform($"tk", s => xxhash64(s)))))
      .withColumn("sz", size($"t"))
      // explicit count (ADVICE r7): a keyless keyed repartition is an AQE
      // coalesce target — at small SF it collapses to ~1 partition right
      // before the minhash fan-out, serializing it
      .repartition(graft.Tables.shufflePartitions(
        docs.sparkSession), $"doc_id")
    // one minhash per table: min over tokens of a table-seeded xxhash64
    // the bucket self-join moves ONLY (bucket key, id): a pair that
    // collides in several tables is deduplicated before any array is
    // attached, and the token arrays rejoin afterwards keyed by id (a
    // map-side join while the doc table broadcasts; an ordinary shuffle
    // join at cluster scale) — candidate volume, not payload volume,
    // flows through the wide join
    val banded = base
      .withColumn("bd", explode(array((0 until numTables).map { i =>
        struct(lit(i).as("b"),
          array_min(transform($"tk", s => xxhash64(lit(i), s))).as("h"))
      }: _*)))
      .select($"doc_id", $"bd.b".as("b"), $"bd.h".as("h"))
    val candidates = banded.select($"b", $"h", $"doc_id".as("id1"))
      .join(banded.select($"b", $"h", $"doc_id".as("id2")), Seq("b", "h"))
      .filter($"id1" < $"id2")
      .select($"id1", $"id2")
      .distinct()
    val toks = base.select($"doc_id", $"t", $"sz")
    candidates
      .join(toks.select($"doc_id".as("id1"), $"t".as("t1"), $"sz".as("s1")),
        Seq("id1"))
      .join(toks.select($"doc_id".as("id2"), $"t".as("t2"), $"sz".as("s2")),
        Seq("id2"))
      .withColumn("li", SortedIntersectSize.of($"t1", $"t2").cast("double"))
      .withColumn("jaccard_dist",
        round(lit(1.0) - $"li" / ($"s1" + $"s2" - $"li"), 6))
      .filter($"jaccard_dist" <= maxDistance)
      .select($"id1", $"id2", $"jaccard_dist")
  }

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD'03 — the
    * MOSS local document fingerprinting scheme): hash every word k-gram,
    * then keep the MINIMUM hash of each sliding window of `w` consecutive
    * k-gram positions. The winnowing guarantee: any shared token run of
    * at least w+k−1 tokens between two documents produces at least one
    * SHARED fingerprint — so matching on the (w+k)⁻¹-sized fingerprint
    * set has full recall for long overlaps, at ~1/w the index size of
    * full shingling. Shift-invariant by construction (a prefix edit
    * re-aligns fingerprints after the next window), spec-pinned.
    *
    * Returns the DISTINCT (doc_id, fp) relation. Hash = the md5 60-bit
    * family form, portable to the DuckDB oracle verbatim. Scale shape:
    * one ×positions explode, one doc-keyed window min, one distinct —
    * cost ∝ tokens, no joins. */
  def winnowFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wMin = Window.partitionBy($"doc_id").orderBy($"p")
      .rowsBetween(0, w - 1)
    val wCnt = Window.partitionBy($"doc_id")
    docs
      .select($"doc_id", TextFunctions.tokens($"text").as("T"))
      // docs shorter than k tokens carry no k-gram (canonical winnowing
      // fingerprints full k-grams only — a sub-k trailing fragment is
      // not a gram)
      .filter(size($"T") >= k)
      .select($"doc_id",
        explode(sequence(lit(0), size($"T") - k)).as("p"), $"T")
      .select($"doc_id", $"p",
        array_join(slice($"T", $"p" + 1, lit(k)), " ").as("g"))
      .select($"doc_id", $"p", h60($"g").as("h"))
      // windows are FULL w-windows only (positions 0..n_grams-w): a
      // truncated trailing frame could select a hash no full window
      // selects, breaking the w+k-1 guarantee's converse — two docs
      // sharing only a sub-threshold suffix must not pair. Docs with
      // fewer than w grams keep the single degenerate window at p = 0
      // (the min of all their grams), the scheme's standard short-doc
      // case.
      .withColumn("n_grams", count(lit(1)).over(wCnt))
      .withColumn("mn", min($"h").over(wMin))
      .filter($"p" <= greatest($"n_grams" - w, lit(0)))
      .select($"doc_id", $"mn".as("fp"))
      .distinct()
  }
}
