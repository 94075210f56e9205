package graft.queries

import graft.Tables
import graft.sources.Sources
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The sign-random-projection (SRP) index — ONE home for every SRP
  * candidate search, persisted or in-plan. Three families serve from
  * it: the radius search (`q_ann_*`, [[ServeOps]]), the semantic cache
  * (`q_semcache_*`, [[ServeOps]]) and the media tower (`q_xmodal_*`,
  * [[XModalOps]]); their in-plan twins (q_ann_lsh, q_semcache_lsh,
  * q_xmodal_retrieval_ann) probe an in-plan index ([[inPlan]], or their
  * own keys as the one postings part) through the same [[probe]], and
  * the self-join pair lists ([[VectorQueries.annMd5Pairs]], both
  * [[VectorQueries.qAnnMultiprobe]] arms) run its [[candidates]] step.
  * The families differ only in their input relation (an id column and a
  * vector column) and in how they score the candidates this chain
  * returns. The persisted index is a pair of BUCKETED TABLES, the way
  * Hive stores a `CLUSTERED BY … INTO n BUCKETS` table:
  *
  *  - `<pre>_postings(bkey, id)`, bucketed by the combined probe key
  *    [[bkey]] — the scan itself exposes HashPartitioning(bkey), so the
  *    probe join consumes the layout with NO exchange on the (large)
  *    index side; only the query fan-out (|Q|·8·9 probe rows) shuffles.
  *  - `<pre>_vectors(id, vector, …)`, bucketed by id — the verify join
  *    reads full vectors for bucket-collision candidates only, again
  *    exchange-free on the stored side.
  *
  * A SPLIT layout adds `<pre>_delta`, the plain (un-bucketed) buffer of
  * vectors that arrived since the last build: vectors are STORED at
  * ingest, only their keys wait for read or compaction time, computed
  * through the same [[VectorQueries.srpKeys]] hyperplanes — keys are
  * per-vector, so base ∪ delta ≡ the full index by construction. The
  * pruning-by-reference-projection idea follows REPOSE (ICDE 2021). */
private[graft] object SrpIndex {

  /** The (postings parts, vectors parts) a read probes: one part each
    * for a stored index, base + delta for a lambda read. */
  type Parts = (Seq[DataFrame], Seq[DataFrame])

  /** The combined probe key `tbl·256 + bk` of an srpKeys-shaped
    * relation — injective for bk ∈ [0,256), tbl ∈ [0,8). The ONE
    * encoding base postings, delta postings and query-side probes all
    * use ([[graft.streaming.Streams]] keeps its per-row twin, pinned by
    * the merge-law specs). */
  def bkey: Column = (col("tbl") * 256 + col("bk")).as("bkey")

  /** The srpKeys (vec_id, tbl, bk) of an (`id`, `vec`, …) relation —
    * by default of fresh (qid, qv, …) queries. */
  def keys(rel: DataFrame, id: String = "qid", vec: String = "qv")
      : DataFrame =
    VectorQueries.srpKeys(
      rel.select(col(id).as("vec_id"), col(vec).as("embedding")))

  /** (bkey, `id`) postings of an (`id`, `vec`, …) relation. */
  def postings(rel: DataFrame, id: String = "vec_id",
      vec: String = "embedding"): DataFrame =
    keys(rel, id, vec).select(bkey, col("vec_id").as(id))

  /** Write `<pre>_postings` and `<pre>_vectors` from `rel`; with a
    * `split`, only the rows it keeps form the bucketed base and the rest
    * become the `<pre>_delta` buffer. */
  def write(rel: DataFrame, pre: String, id: String = "vec_id",
      vec: String = "embedding", split: Option[Column] = None): Unit = {
    val n = Tables.shufflePartitions(rel.sparkSession)
    val base = split.fold(rel)(rel.filter)
    Sources.writeBucketed(postings(base, id, vec), s"${pre}_postings",
      n, "bkey")
    Sources.writeBucketed(base, s"${pre}_vectors", n, id)
    split.foreach(s => Sources.writeTable(rel.filter(!s), s"${pre}_delta"))
  }

  /** The stored tables under `pre` as single parts. */
  def stored(spark: SparkSession, pre: String): Parts =
    (Seq(spark.table(s"${pre}_postings")),
      Seq(spark.table(s"${pre}_vectors")))

  /** The lambda read's parts: the stored base plus the delta, keyed at
    * READ time — the cost a serving process pays between rebuilds. */
  def withDelta(spark: SparkSession, pre: String, id: String = "vec_id",
      vec: String = "embedding"): Parts = {
    val delta = spark.table(s"${pre}_delta")
    val (p, v) = stored(spark, pre)
    (p :+ postings(delta, id, vec), v :+ delta)
  }

  /** The nightly rewrite, PERFORMED per call (the compaction queries'
    * measured op): stored ∪ delta → fresh bucketed `<pre>_c_postings` /
    * `<pre>_c_vectors`. The stored keys are READ from the table, never
    * rehashed — pure I/O plus one bucket shuffle per table, which is what
    * makes compaction affordable at 100 TB. Returns the compacted
    * tables' parts. */
  def compact(spark: SparkSession, pre: String, id: String = "vec_id",
      vec: String = "embedding"): Parts = {
    val n = Tables.shufflePartitions(spark)
    val (Seq(p, d), Seq(v, delta)) = withDelta(spark, pre, id, vec)
    Sources.writeBucketed(p.unionAll(d), s"${pre}_c_postings", n, "bkey")
    Sources.writeBucketed(v.unionAll(delta), s"${pre}_c_vectors", n, id)
    stored(spark, s"${pre}_c")
  }

  /** An in-plan index over `rel`: its postings, keyed in the plan, and
    * `rel` itself as the one vectors part. */
  def inPlan(rel: DataFrame, id: String = "vec_id",
      vec: String = "embedding"): Parts =
    (Seq(postings(rel, id, vec)), Seq(rel))

  /** The Hamming-1 probes (qid, bkey) of srpKeys-shaped keys. */
  def probes(keys: DataFrame): DataFrame =
    VectorQueries.srpProbes(keys).select(col("vec_id").as("qid"), bkey)

  /** The ONE candidate step: join the (qid, bkey) `probes` with each
    * postings part on bkey, keep the candidates the family's `keep`
    * admits, dedup (qid, `id` AS `as`). bkey is injective on (tbl, bk),
    * so this is the (tbl, bk) bucket equi-join. */
  def candidates(probes: DataFrame, postingsParts: Seq[DataFrame],
      keep: Column = lit(true), id: String = "vec_id",
      as: String = "vec_id"): DataFrame = {
    val p = if (postingsParts.size > 1) probes.localCheckpoint() else probes
    postingsParts.map(p.join(_, "bkey"))
      .reduce(_ unionAll _)
      .filter(keep)
      .select(col("qid"), col(id).as(as)).distinct()
  }

  /** The ONE probe chain: the queries' Hamming-1 [[probes]] (from
    * `qkeys`, or keyed fresh through the srpKeys home — a self-join
    * caller passes the keys it already built its postings from, so it
    * keys its relation once), the [[candidates]] step, then the verify
    * join: each vectors part (projected to `vcols`; all columns when
    * empty) on `as`, then `broadcast(q)` on qid.
    *
    * Join-distributed (r20): a lambda read must probe base ∪ delta, but
    * a union BELOW the join destroys the bucketed layout's output
    * partitioning and re-shuffles the WHOLE base index per read.
    * Equi-joins distribute over UNION ALL, so each part joins separately
    * and the JOIN RESULTS union: the base keeps consuming its bucketed
    * scan Exchange-free (R20OpsSpec audits the executed plans) and only
    * the small delta plus the probe fan-out shuffle. Row-identical to the
    * union-below form — the base and delta id sets are disjoint. A
    * multi-part read consumes the probe fan-out and the candidates once
    * PER PART, so those are checkpointed only when there is more than
    * one part; single-part plans stay untouched. */
  def probe(q: DataFrame, parts: Parts, keep: Column = lit(true),
      id: String = "vec_id", as: String = "vec_id",
      vcols: Seq[Column] = Nil, qkeys: Option[DataFrame] = None)
      : DataFrame = {
    val (postingsParts, vectorParts) = parts
    val cand0 = candidates(probes(qkeys.getOrElse(keys(q))), postingsParts,
      keep, id, as)
    val cand =
      if (vectorParts.size > 1) cand0.localCheckpoint() else cand0
    vectorParts.map(v =>
        cand.join(if (vcols.isEmpty) v else v.select(vcols: _*), as))
      .reduce(_ unionAll _)
      .join(broadcast(q), "qid")
  }
}
