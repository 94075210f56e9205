package graft.operators

import graft.functions.Md5Hash.h60
import graft.functions.SortedIntersectSize.hashedSet
import graft.functions.{SimHash64, SortedIntersectSize, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
    bandedPairs(docs.select($"doc_id",
        hashedSet(TextFunctions.tokenSet($"text")).as("t"))
      .withColumn("sz", size($"t")), threshold)
      .select($"id1", $"id2", round($"j", 6).as("j"))
  }

  /** J = li / (s1 + s2 − li): the Jaccard of two hashed sets of sizes s1,
    * s2 whose intersection size is li. */
  private[graft] val jaccard: Column =
    col("li") / (col("s1") + col("s2") - col("li"))

  /** One side of a pair: the (doc_id, t, sz) set relation renamed to
    * (id`i`, t`i`, s`i`). */
  private def side(sets: DataFrame, i: Int): DataFrame =
    sets.select(col("doc_id").as(s"id$i"), col("t").as(s"t$i"),
      col("sz").as(s"s$i"))

  /** Adds `li` (the codegen'd O(a+b) merge walk over the sorted hashed
    * sets t1, t2, [[SortedIntersectSize]]) and the exact [[jaccard]] `j`
    * to a relation of pairs that carries t1, s1, t2, s2. The merge walk,
    * NOT array_intersect over string arrays: the interpreted string
    * intersect measured 8.9 s vs ~1 s for the jaccardPairs shape once the
    * noop-sink bench stopped letting count() skip the pair join. */
  private def withJaccard(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("li",
        SortedIntersectSize.of(col("t1"), col("t2")).cast("double"))
      .withColumn("j", jaccard)

  /** The verify step of a filter-then-verify set-similarity join: joins
    * the (doc_id, t, sz) hashed sets (t from
    * [[SortedIntersectSize.hashedSet]], sz = size(t)) onto the candidate
    * pairs' id1, then onto their id2, and adds `li` and `j`. Callers keep
    * their own threshold and final projection. */
  private[graft] def verify(pairs: DataFrame, sets: DataFrame): DataFrame =
    withJaccard(pairs.join(side(sets, 1), Seq("id1"))
      .join(side(sets, 2), Seq("id2")))

  /** Every pair id1 < id2 of the (doc_id, t, sz) hashed sets with
    * j ≥ `threshold`, as the length-banded non-equi self-join — O(n²) in
    * the set relation, so callers pass a blocked or sampled one.
    *
    * The EXPLICIT-count repartition materializes the caller's set
    * projection before the self-join (else the non-equi join recomputes
    * it per PAIR, SURVEY §7.4.10) AND spreads a single-row-group scan
    * across cores — AQE would coalesce an unpinned keyed repartition of
    * the small set rows back to one partition, single-threading the whole
    * pair loop. The length-ratio band sits in the JOIN condition: J ≥ t
    * forces t·max(|A|,|B|) ≤ min(|A|,|B|), so over-ratio pairs are pruned
    * before the intersect ever runs. The bound holds in exact arithmetic;
    * fl(n·t) can round just above an integer size for an arbitrary
    * threshold, so a 1e-9 slack keeps a boundary pair (J exactly = t) in
    * the candidate set — the exact j filter still removes every false
    * candidate. */
  private[graft] def bandedPairs(sets: DataFrame, threshold: Double)
      : DataFrame = {
    val sh = sets.repartition(
      graft.Tables.shufflePartitions(sets.sparkSession), col("doc_id"))
    withJaccard(side(sh, 1).join(side(sh, 2), col("id1") < col("id2")
        && col("s1") * threshold <= col("s2") + 1e-9
        && col("s2") * threshold <= col("s1") + 1e-9))
      .filter(col("j") >= threshold)
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
      .withColumn("t", hashedSet($"tk"))
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
    verify(candidates, base)
      .withColumn("jaccard_dist", round(lit(1.0) - $"j", 6))
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
