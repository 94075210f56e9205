package graft.queries

import graft.Decimals._
import graft.Tables
import graft.functions.DecimalDot9
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-modal curation ops (r16, VERDICT r15 #3): the CLIP-gate family —
  * text↔media alignment scoring, cross-modal retrieval eval, and an
  * embedding-space distribution divergence between release halves.
  *
  * The two "towers" stand in for a real dual encoder (reference surface:
  * the curation step every multimodal pipeline runs between decode and
  * training-set assembly; the container has no model runtimes, the same
  * situation as [[graft.operators.Multimodal.decodeStub]]):
  *  - the TEXT tower is the embeddings fixture vector (vec_id = doc_id);
  *  - the MEDIA tower is a deterministic 64-bin positional char histogram
  *    of the payload (the documents fixture's payload is the UTF-8 text
  *    bytes, pure ASCII, so char codes ≡ payload bytes — asserted in
  *    spec). Swapping in real encoders replaces only the two tower
  *    relations; every downstream shape (exact-decimal cosine, threshold
  *    gate, attrition report, retrieval rank) is the production plumbing.
  */
object XModalOps extends QueryPack {

  /** MEDIA tower: sparse (doc_id, dim, h) 64-bin histogram over
    * (charcode + position) % 64 — position-mixed so byte REORDERING
    * changes the vector, not just byte frequencies (a real media
    * embedding is order-sensitive too). One corpus pass; the doc-keyed
    * repartition lands BEFORE the char explode (the shingleStream
    * discipline) so the ×L fan-out runs parallel. h counts are exact
    * integers — the media-side norm Σh² needs no rounding at all. */
  private def mediaHist(spark: SparkSession, sfDir: String): DataFrame =
    mediaHistOf(Tables.df(spark, sfDir, "documents"))

  /** Channel 1 over an arbitrary (doc_id, text) relation — factored out
    * (r18) so XModalSpec can feed CRAFTED payloads that sit in each
    * channel's blind spot. */
  private[graft] def mediaHistOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"doc_id", $"text")
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
      .select($"doc_id", $"text",
        explode(sequence(lit(1), length($"text"))).as("p"))
      .select($"doc_id",
        ((ascii(expr("substr(text, p, 1)")) + $"p") % 64).cast("int")
          .as("dim"))
      .groupBy($"doc_id", $"dim").agg(count(lit(1)).as("h"))
  }

  /** MEDIA tower channel 2 (r18, VERDICT r17 #6): sparse (doc_id, dim, h)
    * 64-bin histogram over byte BIGRAMS — (c₁·7 + c₂) % 64 for every
    * adjacent char pair. Positional channel 1 is blind to swapping two
    * equal-class bytes exactly 64 positions apart ((c+p) % 64 collides);
    * the bigram channel sees the changed neighborhoods — and vice versa,
    * channel 2 is blind to Eulerian re-orderings that preserve the
    * bigram multiset ("abaca" ↔ "acaba"), which channel 1 sees. Two
    * deterministic views with DISJOINT blind spots make the cross-modal
    * gate strictly harder to fool (XModalSpec crafts both fixtures).
    * Same scale shape as channel 1: doc-keyed repartition BEFORE the
    * ×(L−1) pair explode; exact integer counts. */
  private[graft] def mediaHist2Of(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"doc_id", $"text")
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
      .filter(length($"text") >= 2)
      .select($"doc_id", $"text",
        explode(sequence(lit(1), length($"text") - 1)).as("p"))
      .select($"doc_id",
        ((ascii(expr("substr(text, p, 1)")) * 7
          + ascii(expr("substr(text, p + 1, 1)"))) % 64).cast("int")
          .as("dim"))
      .groupBy($"doc_id", $"dim").agg(count(lit(1)).as("h"))
  }

  /** TEXT tower: (doc_id, dim, x) with x the embedding element rounded
    * once to 6dp (the q_centroid_drift element discipline). */
  private def textVec(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "embeddings")
      .select($"vec_id".as("doc_id"),
        posexplode($"embedding").as(Seq("dim", "xe")))
      .select($"doc_id", $"dim",
        round($"xe".cast("double"), 6).cast(dec18_6).as("x"))
  }

  // ---- q_xmodal_align ------------------------------------------------------
  /** Cross-modal alignment gate — the CLIP-gate curation step: per
    * (doc, media) pair the exact-decimal cosine between the text-tower
    * and media-tower vectors, a fixed keep threshold (cos ≥ 0 — "the
    * towers must at least agree in direction"; on this fixture the
    * pair cosine is zero-centered spanning ±0.38, so the gate actually
    * discriminates), and the per-source attrition report a curation run
    * reads to see which sources bleed. Determinism: 6dp text elements ×
    * exact integer media counts → 9dp once-rounded products into
    * DECIMAL(28,9) dot/norm sums (the q_embed_health norm discipline;
    * the media norm Σh² is exact integers), one shared cosine formula
    * rounded once to 6dp; mean_cos sums the 6dp cosines exactly.
    * Scale: one corpus pass per tower meeting in (doc, dim) equi-joins
    * (dim fan-out bounded at 64), then a per-row gate and a source-thin
    * aggregate — no pair joins anywhere, posture unchanged at 100 TB. */
  /** The per-doc two-channel cosine relation (doc_id, cs, cs2) over
    * arbitrary docs/text-vector relations — factored (r19) so XModalSpec
    * can pin the short-payload behavior on crafted fixtures. cs2 is
    * LEFT-joined (ADVICE r18): a 1-char payload has no bigram histogram
    * at all, and an inner join silently dropped it from n_pairs — the
    * most trivially degenerate asset bypassing the gate by absence. A
    * missing cs2 is NULL here and FAILS the two-channel gate downstream
    * (null comparison → not kept); a zero-length payload has no
    * channel-1 histogram either and stays an ingest-level reject (no
    * row in either tower — not this gate's input). */
  private[graft] def docAlignCos(docs: DataFrame, txtv: DataFrame)
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val txt = txtv.localCheckpoint() // two dot arms + the text-norm arm
    val nt = txt
      .select($"doc_id",
        round($"x".cast("double") * $"x".cast("double"), 9).cast(dec28_9)
          .as("tm"))
      .groupBy($"doc_id").agg(sum($"tm").as("n2t"))
    // per-channel cosine against the SAME text vector (both channels bin
    // into the text tower's 64 dims) — the r18 two-channel gate: a pair
    // must agree in direction in BOTH views to survive, and the two
    // views have disjoint blind spots (see mediaHist2)
    def chanCos(med: DataFrame, out: String): DataFrame = {
      val dot = txt.join(med, Seq("doc_id", "dim"))
        .select($"doc_id",
          round($"x".cast("double") * $"h", 9).cast(dec28_9).as("tm"))
        .groupBy($"doc_id").agg(sum($"tm").as("dot"))
      val nm = med.groupBy($"doc_id").agg(sum($"h" * $"h").as("n2m"))
      dot.join(nt, "doc_id").join(nm, "doc_id")
        .select($"doc_id",
          round($"dot".cast("double")
            / (sqrt($"n2t".cast("double")) * sqrt($"n2m".cast("double"))),
            6).as(out))
    }
    val cs1 = chanCos(mediaHistOf(docs).localCheckpoint(), "cs")
    val cs2 = chanCos(mediaHist2Of(docs).localCheckpoint(), "cs2")
    cs1.join(cs2, Seq("doc_id"), "left")
  }

  def qXmodalAlign(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    docAlignCos(Tables.df(spark, sfDir, "documents"),
        textVec(spark, sfDir))
      .join(Tables.df(spark, sfDir, "documents")
        .select($"doc_id", $"source"), "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"cs".cast(dec18_6)).as("csum"),
        sum(coalesce($"cs2", lit(0.0)).cast(dec18_6)).as("csum2"),
        sum(when($"cs" >= 0.0 && $"cs2" >= 0.0, 1L).otherwise(0L))
          .as("n_keep"))
      .select($"source", $"n_pairs",
        round($"csum".cast("double") / $"n_pairs", 6).as("mean_cos"),
        round($"csum2".cast("double") / $"n_pairs", 6).as("mean_cos2"),
        $"n_keep", ($"n_pairs" - $"n_keep").as("n_drop"),
        round($"n_keep".cast("double") / $"n_pairs", 6).as("keep_rate"))
      .orderBy($"source")
  }

  // ---- q_xmodal_retrieval --------------------------------------------------
  /** Cross-modal retrieval eval — "given the text, can the index find
    * its own media?": every %25 query doc's text vector is ranked
    * against ALL media vectors by exact-decimal cosine; the true pair's
    * rank yields per-source recall@1, recall@10, and MRR — the standard
    * dual-encoder health check beside [[qXmodalAlign]]'s per-pair gate
    * (alignment says the pair agrees; retrieval says the pair agrees
    * MORE than the distractors do). Media vectors densify to 64-wide
    * arrays so the pair kernel is the codegen zip_with dot (the
    * knnBruteForce shape). Scale: the query side is the %25 decile
    * (broadcast over the partitioned corpus — never all-to-all); this
    * is the eval twin, so it stays brute-force on purpose — the serving
    * path at corpus scale feeds the same rank/recall stages from the
    * IVF/SRP candidate joins (the q_ann_eval pattern). */
  /** The dense (doc_id, mv, mn) media-vector relation — channel-1
    * histograms densified to 64-wide arrays with the norm hoisted to doc
    * grain (r17); factored out (r18) so the ANN-fed serving variant
    * [[qXmodalRetrievalAnn]] reads the SAME vectors it indexes. */
  private[graft] def mediaDense(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val spine = spark.range(0, 64).select($"id".cast("int").as("dim"))
    Tables.df(spark, sfDir, "documents").select($"doc_id")
      .crossJoin(broadcast(spine))
      .join(mediaHist(spark, sfDir), Seq("doc_id", "dim"), "left")
      .select($"doc_id", $"dim", coalesce($"h", lit(0L)).as("h"))
      .groupBy($"doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(dim, h)))," +
        " s -> s.h)").as("mv"))
      // a zero-norm media vector (empty payload) would divide-by-zero to
      // a NULL cosine and stay ranked last, while the oracle's sparse
      // hist join drops the doc entirely — mirror the exclusion here.
      // The norm is hoisted to doc grain (r17): computing it inside the
      // pair kernel re-ran the 64-element fold |queries|× per doc —
      // measured 69.8 run core-s on the fixture; both norms are
      // per-SIDE quantities, so each folds once and rides the join.
      .withColumn("mn", expr(
        "sqrt(CAST(aggregate(transform(mv, a -> a * a)," +
          " CAST(0 AS BIGINT), (acc, t) -> acc + t) AS DOUBLE))"))
      .filter($"mn" > 0.0)
  }

  /** The 9dp once-rounded decimal query-norm fold over a `qv` array —
    * ONE formula home (r20) shared by [[retrievalQueries]] (batch, norm
    * hoisted to query grain) and [[graft.streaming.Streams
    * .xmodalServeStream]] (per-row, a cold streaming query has no
    * precomputed norm), so the two sides cannot drift. */
  private[graft] val qNormSql: String =
    """sqrt(CAST(aggregate(
         transform(qv, a ->
           CAST(round(CAST(a AS DOUBLE) * CAST(a AS DOUBLE), 9)
             AS DECIMAL(20,9))),
         CAST(0 AS DECIMAL(28,9)),
         (acc, t) -> CAST(acc + t AS DECIMAL(28,9))) AS DOUBLE))"""

  /** The %25 text-query relation (qid, qv, qn) with the norm hoisted to
    * query grain — shared by the brute eval and the ANN-fed variant. */
  private[graft] def retrievalQueries(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "embeddings")
      .filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
      // query norm hoisted to query grain — same 9dp once-rounded
      // decimal fold, identical double by construction
      .withColumn("qn", expr(qNormSql))
  }

  /** The q_ann_lsh-discipline pair cosine (raw-double elements, 9dp
    * once-rounded terms, exact decimal sums) — only IT is pair-grain. */
  private def xmodalCs(pairs: DataFrame): DataFrame = {
    // r18: the pair dot runs as the NATIVE codegen'd DecimalDot9
    // expression instead of the interpreted zip_with/aggregate HOF —
    // bit-identical by construction (DecimalDot9Spec replays the HOF),
    // and the per-candidate lambda/boxing cost disappears from the only
    // pair-grain stage these queries have
    pairs.withColumn("cs",
      round(DecimalDot9.of(col("qv"), col("mv")) /
        (col("qn") * col("mn")), 6))
  }

  def qXmodalRetrieval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docsrc = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"source")
    val dense = mediaDense(spark, sfDir)
    val q = retrievalQueries(spark, sfDir)
    val pairs = xmodalCs(dense.join(broadcast(q)))
    val wq = Window.partitionBy($"qid").orderBy($"cs".desc, $"doc_id".asc)
    val tr = pairs.select($"qid", $"doc_id", $"cs")
      .withColumn("rk", row_number().over(wq))
      .filter($"doc_id" === $"qid")
    tr.join(docsrc.select($"doc_id".as("qid"), $"source"), "qid")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_q"),
        sum(when($"rk" === 1, 1L).otherwise(0L)).as("h1"),
        sum(when($"rk" <= 10, 1L).otherwise(0L)).as("h10"),
        sum(round(lit(1.0) / $"rk", 9).cast(dec18_9)).as("rrsum"))
      .select($"source", $"n_q",
        round($"h1".cast("double") / $"n_q", 6).as("r_at_1"),
        round($"h10".cast("double") / $"n_q", 6).as("r_at_10"),
        round($"rrsum".cast("double") / $"n_q", 6).as("mrr"))
      .orderBy($"source")
  }

  // ---- q_xmodal_retrieval_ann ------------------------------------------------
  /** The ANN-FED cross-modal retrieval path — the serving shape
    * [[qXmodalRetrieval]]'s scaladoc promised (VERDICT r17 Watch #1,
    * last member): both towers are keyed through the SAME
    * [[VectorQueries.srpKeys]] hyperplanes (SRP is scale-invariant per
    * vector, so text embeddings and integer media histograms hash into
    * comparable sign buckets — exactly what a shared-projection
    * cross-modal LSH is), each query probes its Hamming-1 buckets
    * against the media-key index, and the SAME rank/recall stages run
    * on candidates only. A true pair the index never surfaces counts
    * as a miss — `n_found` prices the recall attrition against the
    * brute eval twin, the q_ann_eval methodology. Scale: the pair
    * kernel touches bucket-collision candidates only (never query ×
    * corpus). It is [[xmodalRetrieve]] over an in-plan index of
    * [[mediaCorpus]] ([[SrpIndex.inPlan]]) — the served chain with the
    * media keys built in the plan instead of read from tables. */
  /** The candidate-fed retrieval report tail (rank the true pair inside
    * each query's candidate cosines, price the misses per source) —
    * shared verbatim by [[qXmodalRetrievalAnn]] and [[qXmodalServed]],
    * which differ ONLY in where the media keys/vectors come from (an
    * in-plan relation vs the persisted bucketed tables), so the two
    * reports cannot drift. `pairs` must carry (qid, doc_id, cs). */
  private def annRetrievalReport(q: DataFrame, pairs: DataFrame,
      docsrc: DataFrame): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val wq = Window.partitionBy($"qid").orderBy($"cs".desc, $"doc_id".asc)
    val tr = pairs.select($"qid", $"doc_id", $"cs")
      .withColumn("rk", row_number().over(wq))
      .filter($"doc_id" === $"qid")
      .select($"qid", $"rk")
    q.select($"qid")
      .join(tr, Seq("qid"), "left")
      .join(docsrc.select($"doc_id".as("qid"), $"source"), "qid")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_q"),
        sum(when($"rk".isNotNull, 1L).otherwise(0L)).as("n_found"),
        sum(when($"rk" === 1, 1L).otherwise(0L)).as("h1"),
        sum(when($"rk" <= 10, 1L).otherwise(0L)).as("h10"),
        sum(when($"rk".isNotNull, round(lit(1.0) / $"rk", 9).cast(dec18_9))
          .otherwise(lit(0).cast(dec18_9))).as("rrsum"))
      .select($"source", $"n_q", $"n_found",
        round($"h1".cast("double") / $"n_q", 6).as("r_at_1"),
        round($"h10".cast("double") / $"n_q", 6).as("r_at_10"),
        round($"rrsum".cast("double") / $"n_q", 6).as("mrr"))
      .orderBy($"source")
  }

  def qXmodalRetrievalAnn(spark: SparkSession, sfDir: String): DataFrame =
    xmodalServe(spark, sfDir,
      SrpIndex.inPlan(mediaCorpus(spark, sfDir), "doc_id", "mv"))

  // ---- q_xmodal_served -------------------------------------------------------
  /** The media tower's [[SrpIndex]] input: the dense (doc_id, mv, mn)
    * vectors WITH their hoisted norms, keyed on `mv` — the SAME vectors
    * [[qXmodalRetrievalAnn]] keys in-plan, so the served and in-plan
    * candidate sets are identical by construction. Checkpointed: the
    * key arm and the vector writes both read it. */
  private[graft] def mediaCorpus(spark: SparkSession, sfDir: String): DataFrame =
    mediaDense(spark, sfDir).localCheckpoint()

  /** Serve the cross-modal retrieval eval for the fresh text queries `q`
    * from the media index `parts` through the one [[SrpIndex.probe]]
    * chain (no candidate filter: the true pair is a legal hit) — the
    * pair cosine reads candidate media vectors+norms from the vectors
    * parts, exchange-free on the bucketed doc_id layout. Only the query
    * fan-out and the candidate set ever shuffle — O(candidates) at any
    * corpus size. */
  private[graft] def xmodalRetrieve(q: DataFrame, parts: SrpIndex.Parts,
      docsrc: DataFrame): DataFrame =
    annRetrievalReport(q,
      xmodalCs(SrpIndex.probe(q, parts, id = "doc_id", as = "doc_id")),
      docsrc)

  /** [[xmodalRetrieve]] over the %25 text queries of `sfDir`. */
  private def xmodalServe(spark: SparkSession, sfDir: String,
      parts: SrpIndex.Parts): DataFrame = {
    import spark.implicits._
    val docsrc = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"source")
    val q = retrievalQueries(spark, sfDir)
      .localCheckpoint() // key arm + verify arm + the miss spine
    xmodalRetrieve(q, parts, docsrc)
  }

  /** The persisted-index cross-modal serving chain end-to-end (VERDICT
    * r18 #1): pay the bucketed index WRITE inside the measured time —
    * the q_ann_served honesty; this is exactly the ~20 M-term-row
    * srpKeys build q_xmodal_retrieval_ann re-ran on EVERY execution,
    * now written once and probed from tables (PERF.md records how the
    * serve half prices after the build amortizes) — then answer the
    * %25 retrieval eval by probing the TABLES. Row-identical to
    * [[qXmodalRetrievalAnn]] by construction (same hyperplanes, same
    * probe rule, same candidate cosine/rank), so it shares that oracle
    * verbatim: the persisted layout is pure physical design, invisible
    * in the answer. */
  def qXmodalServed(spark: SparkSession, sfDir: String): DataFrame = {
    // build once per (application, fixture) — see ServeOps.buildOnce
    val pre = ServeOps.buildOnce(spark, sfDir, "graft_xm_q")(
      SrpIndex.write(mediaCorpus(spark, sfDir), _, "doc_id", "mv"))
    xmodalServe(spark, sfDir, SrpIndex.stored(spark, pre))
  }

  // ---- q_xmodal_delta --------------------------------------------------------
  /** Build the media-tower SPLIT layout once per (application, fixture)
    * under the family's ONE shared prefix (r20 structure, r21 memoized
    * via [[ServeOps.buildOnce]] — through r20 qXmodalDelta,
    * qXmodalCompact, and qCompactAdvisor each re-ran the mediaDense
    * histogram pass, the ~20 M-term-row srpKeys build, and both
    * bucketed writes under separate prefixes): the doc_id-even half of
    * the dense media vectors as the bucketed index, the odd half as the
    * `<pre>_delta` buffer — media vectors are computed at INGEST and
    * stored; only their index keys wait for read/compact time, computed
    * through the one srpKeys home ([[VectorQueries.srpKeys]] is
    * deterministic PER VECTOR — no corpus statistics anywhere in the
    * hyperplanes — so base ∪ delta ≡ the full index by construction).
    * Shared by [[qXmodalDelta]] (the lambda read), [[qXmodalCompact]]
    * (the nightly rewrite), and [[ServeOps.qCompactAdvisor]]. Returns
    * the prefix. */
  private[graft] def xmSplit(spark: SparkSession, sfDir: String): String =
    ServeOps.buildOnce(spark, sfDir, "graft_xm_s")(
      SrpIndex.write(mediaCorpus(spark, sfDir), _, "doc_id", "mv",
        split = Some(col("doc_id") % 2 === 0)))

  /** Media-tower index FRESHNESS — the lambda read for the THIRD
    * persisted index family (VERDICT r19 #1: SRP and IVF each have the
    * full served→delta→compact triad; the media tower had serve only):
    * answer the %25 retrieval eval against the persisted base tables
    * plus the in-flight delta keyed at read time, under the one
    * srpKeys home. Base ∪ delta ≡ the full media index, so the answer
    * is row-identical to [[qXmodalRetrievalAnn]] — same oracle, one
    * more physical layout proven invisible in the result. Scale: the
    * delta is small by definition (it compacts away at the next
    * build) and shuffles only itself; the base side stays the
    * Exchange-free bucketed scans [[qXmodalServed]] proves. */
  def qXmodalDelta(spark: SparkSession, sfDir: String): DataFrame =
    xmodalServe(spark, sfDir,
      SrpIndex.withDelta(spark, xmSplit(spark, sfDir), "doc_id", "mv"))

  // ---- q_xmodal_compact ------------------------------------------------------
  /** The compaction executor for the media tower (r20 — completing the
    * served→delta→compact triad for the third index family, the top
    * VERDICT r19 item): build the split layout, perform the
    * [[SrpIndex.compact]] rewrite — the stored side's keys and vectors
    * are READ from the tables, never re-derived (no srpKeys pass, no
    * histogram pass) — then serve the %25 eval from the COMPACTED
    * tables only. Row-identical to [[qXmodalRetrievalAnn]] (base ∪
    * delta ≡ the full index under the one srpKeys home, and the rewrite
    * is a set-preserving union), so it shares that oracle: two physical
    * layouts and a rewrite between them, all invisible in the answer. */
  def qXmodalCompact(spark: SparkSession, sfDir: String): DataFrame =
    xmodalServe(spark, sfDir,
      SrpIndex.compact(spark, xmSplit(spark, sfDir), "doc_id", "mv"))

  // ---- q_mauve_lite --------------------------------------------------------
  /** MAUVE-style embedding-space divergence between the doc_id-parity
    * release halves (Pillutla et al. '21, the quantize-then-diverge
    * reduction: MAUVE clusters both samples in embedding space and
    * compares the cluster histograms — here the quantizer is the
    * SHARED md5-ordered 8-cell IVF assignment, one home with
    * q_ann_ivf/q_ivf_advisor, and the comparison is Laplace-smoothed
    * Jensen–Shannon over the 8 cells). The distribution-level drift
    * gate beside q_centroid_drift's mean-level one: a mode the new half
    * lost shows up here even when the global centroid barely moves.
    * Determinism: exact decimal L2² assignment ([[VectorQueries.decL2Sq]],
    * ties (d2, cell)), exact integer cell counts, the q_js_sources
    * 9dp-once-rounded JS terms under an exact decimal sum. Scale: one
    * corpus × 8-centroid broadcast pass with a partial-aggregable
    * min(struct) argmin; everything after is cell-thin (8 rows). */
  def qMauveLite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.df(spark, sfDir, "embeddings")
    val cents = emb
      .select($"vec_id", $"embedding",
        md5(concat(lit("ivf:"), $"vec_id".cast("string"))).as("hh"))
      .orderBy($"hh", $"vec_id").limit(8)
      .withColumn("cell", row_number().over(Window.orderBy($"vec_id")) - 1)
      .select($"cell", $"embedding".as("center"))
      .localCheckpoint() // one 8-row broadcast
    val asg = emb.crossJoin(broadcast(cents))
      .withColumn("d2", VectorQueries.decL2Sq("embedding", "center"))
      .groupBy($"vec_id")
      .agg(min(struct($"d2", $"cell")).as("m"))
      .select($"vec_id", $"m.cell".as("cell"))
    val cnt = asg
      .groupBy($"cell")
      .agg(sum(when($"vec_id" % 2 === 0, 1L).otherwise(0L)).as("na"),
        sum(when($"vec_id" % 2 =!= 0, 1L).otherwise(0L)).as("nb"))
    val dense = spark.range(0, 8).select($"id".cast("int").as("cell"))
      .join(cnt, Seq("cell"), "left")
      .select($"cell", coalesce($"na", lit(0L)).as("n_even"),
        coalesce($"nb", lit(0L)).as("n_odd"))
    val tot = dense.agg(sum($"n_even").as("ta"), sum($"n_odd").as("tb"))
    val terms = dense.crossJoin(broadcast(tot))
      .withColumn("pa", ($"n_even" + 1).cast("double") / ($"ta" + 8))
      .withColumn("pb", ($"n_odd" + 1).cast("double") / ($"tb" + 8))
      .withColumn("mm", ($"pa" + $"pb") / 2)
      .withColumn("term",
        round(lit(0.5) * $"pa" * log($"pa" / $"mm")
          + lit(0.5) * $"pb" * log($"pb" / $"mm"), 9).cast(dec18_9))
      .localCheckpoint() // row output + the total
    val js = terms.agg(sum($"term").as("s"))
    terms.crossJoin(broadcast(js))
      .select($"cell", $"n_even", $"n_odd",
        round($"pa", 6).as("p_even"), round($"pb", 6).as("p_odd"),
        $"term".cast("double").as("js_term"),
        round($"s".cast("double"), 6).as("jsd"),
        round(sqrt(greatest($"s".cast("double"), lit(0.0))), 6)
          .as("js_dist"))
      .orderBy($"cell")
  }

  // ---- q_media_entropy -----------------------------------------------------
  /** Media-payload entropy audit — the corrupt/blank-asset gate a
    * multimodal ingest runs BEFORE paying for decode/embedding: Shannon
    * entropy of each payload's 64-bin media-tower histogram (one home
    * with [[qXmodalAlign]]'s tower — a payload whose signature
    * concentrates in a few bins is a constant/filler asset; the uniform
    * bound is ln 64 ≈ 4.159), rolled up per source with the sub-2.0-nat
    * degenerate count. The media-side sibling of
    * [[Corpus2Ops.qEntropyRate]]'s text read. Scale shape: the shared
    * doc-keyed histogram pass, then −(h/H)ln(h/H) terms rounded once to
    * 9dp into exact decimal sums; everything after is source-thin. */
  /** The per-doc two-channel entropy relation (doc_id, entropy,
    * entropy2) over an arbitrary docs relation — factored (r19) for
    * XModalSpec's crafted short-payload fixtures. Channel 2 is
    * LEFT-joined (ADVICE r18): a 1-char payload has no bigrams, and an
    * inner join dropped it from n_docs entirely — the degenerate case
    * the gate exists for. Missing entropy2 defaults to 0 nats (a
    * one-symbol distribution's exact entropy), which both counts it
    * degenerate and is the value a single-bin histogram would score. */
  private[graft] def docEntropies(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def chanEnt(hist: DataFrame, out: String): DataFrame = {
      val tot = hist.groupBy($"doc_id").agg(sum($"h").as("ht"))
      hist.join(tot, "doc_id")
        .select($"doc_id",
          round(-($"h".cast("double") / $"ht")
            * log($"h".cast("double") / $"ht"), 9).cast(dec18_9).as("term"))
        .groupBy($"doc_id")
        .agg(round(sum($"term").cast("double"), 6).as(out))
    }
    // r18 two-channel gate: an asset is degenerate when EITHER view
    // concentrates — a payload can fool one featurizer (see mediaHist2's
    // disjoint-blind-spot note) but must now fool both
    chanEnt(mediaHistOf(docs), "entropy")
      .join(chanEnt(mediaHist2Of(docs), "entropy2"),
        Seq("doc_id"), "left")
      .select($"doc_id", $"entropy",
        coalesce($"entropy2", lit(0.0)).as("entropy2"))
  }

  def qMediaEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ent = docEntropies(Tables.df(spark, sfDir, "documents"))
    ent.join(Tables.df(spark, sfDir, "documents")
        .select($"doc_id", $"source"), "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        round(sum($"entropy".cast(dec18_6)).cast("double")
          / count(lit(1)), 6).as("mean_entropy"),
        round(sum($"entropy2".cast(dec18_6)).cast("double")
          / count(lit(1)), 6).as("mean_entropy2"),
        min($"entropy").as("min_entropy"),
        max($"entropy").as("max_entropy"),
        sum(when(least($"entropy", $"entropy2") < 2.0, 1L).otherwise(0L))
          .as("n_degenerate"))
      .orderBy($"source")
  }

  // ---- q_media_bytes ---------------------------------------------------------
  /** BinaryType end-to-end (VERDICT r18 #5): SURVEY §1.2's type map
    * sends Hive BINARY → Spark BinaryType, but no registered query ever
    * scanned one — multimodal payloads rode the ASCII text stand-in.
    * Here the payload IS a BinaryType column (encode(text, 'UTF-8') —
    * deterministic real bytes; on this fixture byte values ≡ char
    * codes, the stand-in assumption XModalSpec already pins) and the
    * whole read operates on BYTES: octet length, a per-byte positional
    * 64-bin histogram ((byte + pos) % 64 — channel 1's formula over
    * actual bytes, via hex-pair extraction so the kernel stays pure
    * codegen'd string/arithmetic ops), Shannon entropy over that
    * histogram, the non-ASCII byte count a real ingest guards on
    * (exactly 0 on this fixture — the oracle enforces it), and a
    * distinct-payload count keyed by md5 of the hex image. Swapping in
    * real media blobs changes ONLY the encode() derivation. Scale: the
    * doc-keyed repartition lands before the ×L byte explode
    * (the shingleStream discipline); everything after the histogram is
    * doc- then source-thin. */
  /** The byte-level asset audit over an arbitrary (doc_id, source,
    * payload BinaryType) relation — factored (r20) so the ASCII
    * stand-in read ([[qMediaBytes]]) and the genuinely non-UTF8 blob
    * arm ([[qMediaBlob]]) share ONE kernel: octet length, positional
    * 64-bin byte histogram via hex-pair extraction, Shannon entropy,
    * the ≥0x80 non-ASCII ingest guard, md5-of-hex payload identity. */
  private def byteAudit(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val bin = payloads
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
      .localCheckpoint() // byte-explode arm + the rollup spine
    val bytes = bin
      .select($"doc_id", hex($"payload").as("hx"),
        length($"payload").as("nb"))
      // nb >= 1 guard (review r19): Spark's sequence(1, 0) is the
      // DESCENDING [1, 0] (step defaults to -1), which would fabricate
      // phantom byte rows for a zero-length payload; DuckDB's
      // range(1, 1) is empty and the inner joins below drop the doc —
      // the filter reproduces that exclusion exactly (an empty blob is
      // an ingest-level reject, the mediaHistOf posture)
      .filter($"nb" >= 1)
      .select($"doc_id", explode(sequence(lit(1), $"nb")).as("p"), $"hx")
      .select($"doc_id", $"p",
        conv(expr("substr(hx, 2 * p - 1, 2)"), 16, 10).cast("int").as("b"))
      .localCheckpoint() // histogram arm + the non-ASCII audit arm
    val hist = bytes
      .select($"doc_id", (($"b" + $"p") % 64).cast("int").as("dim"))
      .groupBy($"doc_id", $"dim").agg(count(lit(1)).as("h"))
    val tot = hist.groupBy($"doc_id").agg(sum($"h").as("ht"))
    val ent = hist.join(tot, "doc_id")
      .select($"doc_id",
        round(-($"h".cast("double") / $"ht")
          * log($"h".cast("double") / $"ht"), 9).cast(dec18_9).as("term"))
      .groupBy($"doc_id")
      .agg(round(sum($"term").cast("double"), 6).as("entropy"))
    val nna = bytes.groupBy($"doc_id")
      .agg(sum(when($"b" >= 128, 1L).otherwise(0L)).as("nna"))
    bin.join(ent, "doc_id").join(nna, "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_assets"),
        sum(length($"payload").cast("long")).as("total_bytes"),
        countDistinct(md5(hex($"payload"))).as("n_distinct_payloads"),
        sum($"nna").as("n_nonascii_bytes"),
        round(sum($"entropy".cast(dec18_6)).cast("double") / count(lit(1)), 6)
          .as("mean_entropy_bytes"),
        sum(when($"entropy" < 2.0, 1L).otherwise(0L)).as("n_degenerate"))
      .orderBy($"source")
  }

  def qMediaBytes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    byteAudit(Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"source", encode($"text", "UTF-8").as("payload")))
  }

  // ---- q_media_blob ----------------------------------------------------------
  /** The NON-UTF8 blob arm (r20, VERDICT r19 #4): [[qMediaBytes]]'
    * `n_nonascii_bytes` is oracle-pinned to exactly 0 on the all-ASCII
    * fixture, so the ≥0x80 ingest-guard branch never fired non-zero
    * anywhere in the tree — a guard whose alarm path is untested. Here
    * each doc's payload is a DETERMINISTIC 64-byte binary blob —
    * unhex of four chained md5 images keyed by doc_id — whose bytes
    * cover the full 0–255 range (≈half are ≥0x80), so the audit's
    * non-ASCII count, byte histogram, and entropy all run on genuinely
    * binary content, exactly the situation a real media ingest faces.
    * Same [[byteAudit]] kernel as the stand-in read, same scale shape
    * (doc-keyed repartition before the ×64 byte explode, doc- then
    * source-thin after). Swapping in real blobs changes ONLY the
    * payload derivation, as qMediaBytes' scaladoc promised. */
  def qMediaBlob(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    byteAudit(Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"source",
        unhex(concat_ws("", (0 until 4).map(i =>
          md5(concat(lit("blob:"), $"doc_id".cast("string"),
            lit(":"), lit(i.toString)))): _*)).as("payload")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_xmodal_align" -> qXmodalAlign,
    "q_xmodal_retrieval" -> qXmodalRetrieval,
    "q_mauve_lite" -> qMauveLite,
    "q_xmodal_retrieval_ann" -> qXmodalRetrievalAnn,
    "q_xmodal_served" -> qXmodalServed,
    "q_xmodal_delta" -> qXmodalDelta,
    "q_xmodal_compact" -> qXmodalCompact,
    "q_media_entropy" -> qMediaEntropy,
    "q_media_bytes" -> qMediaBytes,
    "q_media_blob" -> qMediaBlob
  )

  /** The media-tower histogram CTEs, shared verbatim by both cross-modal
    * oracles (one home, the survivalPrefixCtes lesson). */
  private val histCtesSql =
    """pos AS (
      |  SELECT doc_id, unnest(range(1, len(text) + 1)) AS p, text
      |  FROM documents),
      |hist AS (
      |  SELECT doc_id,
      |    CAST((ascii(substr(text, CAST(p AS INT), 1)) + p) % 64 AS INT)
      |      AS dim,
      |    count(*) AS h
      |  FROM pos GROUP BY 1, 2)""".stripMargin

  /** Channel-2 (byte-bigram) histogram CTEs — mirrors [[mediaHist2]]. */
  private val hist2CtesSql =
    """pos2 AS (
      |  SELECT doc_id, unnest(range(1, len(text))) AS p, text
      |  FROM documents WHERE len(text) >= 2),
      |hist2 AS (
      |  SELECT doc_id,
      |    CAST((ascii(substr(text, CAST(p AS INT), 1)) * 7
      |      + ascii(substr(text, CAST(p AS INT) + 1, 1))) % 64 AS INT)
      |      AS dim,
      |    count(*) AS h
      |  FROM pos2 GROUP BY 1, 2)""".stripMargin

  val oracle: Map[String, String] = Map(
    // same shared histogram CTEs, 9dp once-rounded −(h/H)ln(h/H) terms
    // into decimal sums, source-thin rollup
    "q_media_entropy" ->
      (s"""WITH $histCtesSql,
        |$hist2CtesSql,
        |ht AS (SELECT doc_id, CAST(sum(h) AS BIGINT) AS ht
        |       FROM hist GROUP BY 1),
        |ht2 AS (SELECT doc_id, CAST(sum(h) AS BIGINT) AS ht
        |       FROM hist2 GROUP BY 1),
        |ent AS (
        |  SELECT h.doc_id,
        |    round(CAST(sum(CAST(round(-(CAST(h.h AS DOUBLE) / ht.ht)
        |      * ln(CAST(h.h AS DOUBLE) / ht.ht), 9) AS DECIMAL(18,9)))
        |      AS DOUBLE), 6) AS entropy
        |  FROM hist h JOIN ht ON ht.doc_id = h.doc_id
        |  GROUP BY h.doc_id),
        |ent2 AS (
        |  SELECT h.doc_id,
        |    round(CAST(sum(CAST(round(-(CAST(h.h AS DOUBLE) / ht2.ht)
        |      * ln(CAST(h.h AS DOUBLE) / ht2.ht), 9) AS DECIMAL(18,9)))
        |      AS DOUBLE), 6) AS entropy2
        |  FROM hist2 h JOIN ht2 ON ht2.doc_id = h.doc_id
        |  GROUP BY h.doc_id)
        |SELECT d.source, count(*) AS n_docs,
        |  round(CAST(sum(CAST(e.entropy AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS mean_entropy,
        |  round(CAST(sum(CAST(coalesce(e2.entropy2, 0)
        |    AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS mean_entropy2,
        |  min(e.entropy) AS min_entropy,
        |  max(e.entropy) AS max_entropy,
        |  CAST(sum(CASE WHEN least(e.entropy, coalesce(e2.entropy2, 0))
        |    < 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate
        |FROM ent e LEFT JOIN ent2 e2 ON e2.doc_id = e.doc_id
        |JOIN documents d ON d.doc_id = e.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin),

    // same 6dp text elements × integer media counts, 9dp once-rounded
    // products into exact decimal dot/norm sums, same shared cosine
    // formula and cos >= 0 gate
    "q_xmodal_align" ->
      (s"""WITH $histCtesSql,
        |$hist2CtesSql,
        |txt AS (
        |  SELECT vec_id AS doc_id, CAST(r.d AS INT) AS dim,
        |    CAST(round(CAST(embedding[r.d + 1] AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) AS x
        |  FROM embeddings CROSS JOIN range(0, 64) r(d)),
        |nt AS (
        |  SELECT doc_id,
        |    sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9)
        |      AS DECIMAL(28,9))) AS n2t
        |  FROM txt GROUP BY 1),
        |dt AS (
        |  SELECT t.doc_id,
        |    sum(CAST(round(CAST(t.x AS DOUBLE) * h.h, 9)
        |      AS DECIMAL(28,9))) AS dot
        |  FROM txt t JOIN hist h
        |    ON h.doc_id = t.doc_id AND h.dim = t.dim
        |  GROUP BY 1),
        |dt2 AS (
        |  SELECT t.doc_id,
        |    sum(CAST(round(CAST(t.x AS DOUBLE) * h.h, 9)
        |      AS DECIMAL(28,9))) AS dot
        |  FROM txt t JOIN hist2 h
        |    ON h.doc_id = t.doc_id AND h.dim = t.dim
        |  GROUP BY 1),
        |nm AS (SELECT doc_id, sum(h * h) AS n2m FROM hist GROUP BY 1),
        |nm2 AS (SELECT doc_id, sum(h * h) AS n2m FROM hist2 GROUP BY 1),
        |cs AS (
        |  SELECT dt.doc_id,
        |    round(CAST(dt.dot AS DOUBLE)
        |      / (sqrt(CAST(nt.n2t AS DOUBLE))
        |         * sqrt(CAST(nm.n2m AS DOUBLE))), 6) AS cs
        |  FROM dt JOIN nt USING (doc_id) JOIN nm USING (doc_id)),
        |cs2 AS (
        |  SELECT dt2.doc_id,
        |    round(CAST(dt2.dot AS DOUBLE)
        |      / (sqrt(CAST(nt.n2t AS DOUBLE))
        |         * sqrt(CAST(nm2.n2m AS DOUBLE))), 6) AS cs2
        |  FROM dt2 JOIN nt USING (doc_id) JOIN nm2 USING (doc_id))
        |SELECT d.source, count(*) AS n_pairs,
        |  round(CAST(sum(CAST(cs.cs AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS mean_cos,
        |  round(CAST(sum(CAST(coalesce(cs2.cs2, 0) AS DECIMAL(18,6)))
        |    AS DOUBLE) / count(*), 6) AS mean_cos2,
        |  CAST(sum(CASE WHEN cs.cs >= 0.0 AND cs2.cs2 >= 0.0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  CAST(count(*) - sum(CASE WHEN cs.cs >= 0.0 AND cs2.cs2 >= 0.0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_drop,
        |  round(CAST(sum(CASE WHEN cs.cs >= 0.0 AND cs2.cs2 >= 0.0
        |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS keep_rate
        |FROM cs LEFT JOIN cs2 USING (doc_id)
        |JOIN documents d USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // same sparse-dot identity (zero-count dims contribute exact 0 to
    // the zip_with sum, so the sparse histogram join reproduces the
    // dense-array dot), same rank/tie rule, same per-source metrics
    "q_xmodal_retrieval" ->
      (s"""WITH $histCtesSql,
        |q AS (
        |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id % 25 = 0),
        |pd AS (
        |  SELECT q.qid, h.doc_id,
        |    sum(CAST(round(CAST(q.qv[h.dim + 1] AS DOUBLE) * h.h, 9)
        |      AS DECIMAL(20,9))) AS dot
        |  FROM q CROSS JOIN hist h
        |  GROUP BY 1, 2),
        |nq AS (
        |  SELECT vec_id AS qid,
        |    sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9)
        |      AS DECIMAL(20,9))) AS n2
        |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings
        |        WHERE vec_id % 25 = 0)
        |  GROUP BY 1),
        |nm AS (SELECT doc_id, sum(h * h) AS n2m FROM hist GROUP BY 1),
        |cs AS (
        |  SELECT pd.qid, pd.doc_id,
        |    round(CAST(pd.dot AS DOUBLE)
        |      / (sqrt(CAST(nq.n2 AS DOUBLE))
        |         * sqrt(CAST(nm.n2m AS DOUBLE))), 6) AS cs
        |  FROM pd JOIN nq USING (qid) JOIN nm USING (doc_id)),
        |rk AS (
        |  SELECT qid, doc_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY cs DESC, doc_id) AS rk
        |  FROM cs),
        |tr AS (SELECT qid, rk FROM rk WHERE doc_id = qid)
        |SELECT d.source, count(*) AS n_q,
        |  round(CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS r_at_1,
        |  round(CAST(sum(CASE WHEN rk <= 10 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS r_at_10,
        |  round(CAST(sum(CAST(round(1.0 / rk, 9) AS DECIMAL(18,9)))
        |    AS DOUBLE) / count(*), 6) AS mrr
        |FROM tr JOIN documents d ON d.doc_id = tr.qid
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // both towers keyed through the SAME md5 plane formula
    // (annMd5KeysCtesSql's term/bit/key chain, re-derived here over the
    // dense media histogram and the %25 text queries), Hamming-1 probe
    // fan-out, then the SAME sparse-dot cosine/rank stages restricted
    // to bucket-collision candidates; missed true pairs COALESCE to 0
    "q_xmodal_retrieval_ann" -> xmodalAnnOracleSql,

    // row-identical to q_xmodal_retrieval_ann by construction (same
    // hyperplanes, probe rule, candidate cosine/rank) — ONE oracle home
    // so the served and in-plan results can never drift apart unnoticed
    "q_xmodal_served" -> xmodalAnnOracleSql,

    // base ∪ delta ≡ the full media index (srpKeys is deterministic per
    // vector), so the freshness read shares the same oracle — the
    // layout split is pure physical design
    "q_xmodal_delta" -> xmodalAnnOracleSql,

    // the compaction rewrite is a set-preserving union of the same two
    // halves — same oracle again: build, rewrite, and serve all leave
    // the ANSWER untouched or the run hashes red
    "q_xmodal_compact" -> xmodalAnnOracleSql,

    // the q_ann_ivf centroid/assignment CTEs (md5-ordered pick, exact
    // decimal L2², (d2, cell) ties), then Laplace(+1) cell histograms
    // and the q_js_sources 9dp JS terms
    "q_mauve_lite" -> mauveLiteOracleSql,

    // the same encode → hex-pair byte extraction, positional histogram,
    // 9dp once-rounded entropy terms, and md5-of-hex payload identity
    "q_media_bytes" -> byteAuditOracleSql(
      "SELECT doc_id, source, encode(text) AS payload FROM documents"),

    // the same audit kernel over the deterministic 64-byte md5-chain
    // blob — the arm where n_nonascii_bytes is nonzero by construction
    // (single-line on purpose: the outer template strips margins, so a
    // line-leading || would be eaten down to a bitwise |)
    "q_media_blob" -> byteAuditOracleSql(
      "SELECT doc_id, source, unhex(" +
        "md5('blob:' || doc_id::VARCHAR || ':0') || " +
        "md5('blob:' || doc_id::VARCHAR || ':1') || " +
        "md5('blob:' || doc_id::VARCHAR || ':2') || " +
        "md5('blob:' || doc_id::VARCHAR || ':3')) AS payload " +
        "FROM documents")
  )

  /** The byte-audit oracle parameterized by the payload derivation —
    * ONE kernel home mirroring [[byteAudit]] for q_media_bytes and
    * q_media_blob. */
  private def byteAuditOracleSql(binSelect: String): String =
      s"""WITH bin AS (
        |  $binSelect),
        |bytes AS MATERIALIZED (
        |  SELECT doc_id, p,
        |    ('0x' || substr(hex(payload), CAST(2 * p - 1 AS INT), 2))::INT
        |      AS b
        |  FROM (SELECT doc_id, payload,
        |          unnest(range(1, octet_length(payload) + 1)) AS p
        |        FROM bin)),
        |hist AS (
        |  SELECT doc_id, CAST((b + p) % 64 AS INT) AS dim, count(*) AS h
        |  FROM bytes GROUP BY 1, 2),
        |ht AS (SELECT doc_id, CAST(sum(h) AS BIGINT) AS ht
        |       FROM hist GROUP BY 1),
        |ent AS (
        |  SELECT h.doc_id,
        |    round(CAST(sum(CAST(round(-(CAST(h.h AS DOUBLE) / ht.ht)
        |      * ln(CAST(h.h AS DOUBLE) / ht.ht), 9) AS DECIMAL(18,9)))
        |      AS DOUBLE), 6) AS entropy
        |  FROM hist h JOIN ht USING (doc_id)
        |  GROUP BY h.doc_id),
        |nna AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN b >= 128 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nna
        |  FROM bytes GROUP BY 1)
        |SELECT b.source, count(*) AS n_assets,
        |  CAST(sum(octet_length(b.payload)) AS BIGINT) AS total_bytes,
        |  CAST(count(DISTINCT md5(hex(b.payload))) AS BIGINT)
        |    AS n_distinct_payloads,
        |  CAST(sum(nna.nna) AS BIGINT) AS n_nonascii_bytes,
        |  round(CAST(sum(CAST(e.entropy AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS mean_entropy_bytes,
        |  CAST(sum(CASE WHEN e.entropy < 2.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_degenerate
        |FROM bin b JOIN ent e USING (doc_id) JOIN nna USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The shared candidate-fed retrieval oracle — one home for
    * q_xmodal_retrieval_ann AND q_xmodal_served (the annLshOracleSql
    * discipline: a persisted layout must be invisible in the answer). */
  private lazy val xmodalAnnOracleSql: String =
      (s"""WITH $histCtesSql,
        |docs64 AS (
        |  SELECT d.doc_id, CAST(r.d AS INT) AS dim
        |  FROM documents d CROSS JOIN range(0, 64) r(d)),
        |mdims AS MATERIALIZED (
        |  SELECT g.doc_id, g.dim AS d, CAST(COALESCE(h.h, 0) AS DOUBLE) AS x
        |  FROM docs64 g LEFT JOIN hist h
        |    ON h.doc_id = g.doc_id AND h.dim = g.dim),
        |mterms AS (
        |  SELECT doc_id, t.i // 8 AS tbl, t.i,
        |    CAST(round(round(x * ((('0x' || substr(md5(t.i::VARCHAR || ':'
        |        || d::VARCHAR), 1, 15))::BIGINT
        |      / CAST(576460752303423488 AS DOUBLE)) - 1.0), 9)
        |      * CAST(1000000000 AS DOUBLE), 0) AS BIGINT) AS term
        |  FROM mdims CROSS JOIN range(0, 64) t(i)),
        |mbits AS (
        |  SELECT doc_id, tbl, i, SUM(term) > 0 AS bit
        |  FROM mterms GROUP BY 1, 2, 3),
        |mkeys AS MATERIALIZED (
        |  SELECT doc_id, tbl,
        |    SUM(CASE WHEN bit THEN (1::BIGINT << (i % 8))
        |        ELSE 0 END)::BIGINT AS bk
        |  FROM mbits GROUP BY 1, 2),
        |qdims AS (
        |  SELECT vec_id, r.d, CAST(embedding[r.d + 1] AS DOUBLE) AS x
        |  FROM embeddings CROSS JOIN range(0, 64) r(d)
        |  WHERE vec_id % 25 = 0),
        |qterms AS (
        |  SELECT vec_id, t.i // 8 AS tbl, t.i,
        |    CAST(round(round(x * ((('0x' || substr(md5(t.i::VARCHAR || ':'
        |        || d::VARCHAR), 1, 15))::BIGINT
        |      / CAST(576460752303423488 AS DOUBLE)) - 1.0), 9)
        |      * CAST(1000000000 AS DOUBLE), 0) AS BIGINT) AS term
        |  FROM qdims CROSS JOIN range(0, 64) t(i)),
        |qbits AS (
        |  SELECT vec_id, tbl, i, SUM(term) > 0 AS bit
        |  FROM qterms GROUP BY 1, 2, 3),
        |qkeys AS MATERIALIZED (
        |  SELECT vec_id, tbl,
        |    SUM(CASE WHEN bit THEN (1::BIGINT << (i % 8))
        |        ELSE 0 END)::BIGINT AS bk
        |  FROM qbits GROUP BY 1, 2),
        |qprobes AS (
        |  SELECT vec_id AS qid, tbl,
        |    CASE WHEN p.j = -1 THEN bk
        |      ELSE xor(bk, (1::BIGINT << p.j)) END AS bk
        |  FROM qkeys CROSS JOIN range(-1, 8) p(j)),
        |xcand AS MATERIALIZED (
        |  SELECT DISTINCT p.qid, m.doc_id
        |  FROM qprobes p JOIN mkeys m ON m.tbl = p.tbl AND m.bk = p.bk),
        |q AS (
        |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id % 25 = 0),
        |nq AS (
        |  SELECT vec_id AS qid,
        |    sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9)
        |      AS DECIMAL(20,9))) AS n2
        |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings
        |        WHERE vec_id % 25 = 0)
        |  GROUP BY 1),
        |nm AS (SELECT doc_id, sum(h * h) AS n2m FROM hist GROUP BY 1),
        |pd AS (
        |  SELECT c.qid, c.doc_id,
        |    sum(CAST(round(CAST(q.qv[h.dim + 1] AS DOUBLE) * h.h, 9)
        |      AS DECIMAL(20,9))) AS dot
        |  FROM xcand c JOIN q ON q.qid = c.qid
        |  JOIN hist h ON h.doc_id = c.doc_id
        |  GROUP BY 1, 2),
        |cs AS (
        |  SELECT pd.qid, pd.doc_id,
        |    round(CAST(pd.dot AS DOUBLE)
        |      / (sqrt(CAST(nq.n2 AS DOUBLE))
        |         * sqrt(CAST(nm.n2m AS DOUBLE))), 6) AS cs
        |  FROM pd JOIN nq USING (qid) JOIN nm USING (doc_id)),
        |rk AS (
        |  SELECT qid, doc_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY cs DESC, doc_id) AS rk
        |  FROM cs),
        |tr AS (SELECT qid, rk FROM rk WHERE doc_id = qid)
        |SELECT d.source, count(*) AS n_q,
        |  CAST(sum(CASE WHEN tr.rk IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_found,
        |  round(CAST(sum(CASE WHEN tr.rk = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS r_at_1,
        |  round(CAST(sum(CASE WHEN tr.rk <= 10 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS r_at_10,
        |  round(CAST(sum(COALESCE(CAST(round(1.0 / tr.rk, 9)
        |      AS DECIMAL(18,9)), CAST(0 AS DECIMAL(18,9)))) AS DOUBLE)
        |    / count(*), 6) AS mrr
        |FROM q LEFT JOIN tr USING (qid)
        |JOIN documents d ON d.doc_id = q.qid
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  private lazy val mauveLiteOracleSql: String =
      """WITH scent AS (
        |  SELECT vec_id, embedding, row_number() OVER (
        |    ORDER BY md5('ivf:' || vec_id::VARCHAR), vec_id) AS rn
        |  FROM embeddings),
        |centers AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
        |    embedding AS center
        |  FROM scent WHERE rn <= 8),
        |cd AS MATERIALIZED (
        |  SELECT e.vec_id, c.cell,
        |    SUM(CAST(round(
        |      (CAST(e.embedding[r.d + 1] AS DOUBLE)
        |        - CAST(c.center[r.d + 1] AS DOUBLE)) *
        |      (CAST(e.embedding[r.d + 1] AS DOUBLE)
        |        - CAST(c.center[r.d + 1] AS DOUBLE)), 9)
        |      AS DECIMAL(20,9))) AS d2
        |  FROM embeddings e CROSS JOIN centers c
        |  CROSS JOIN range(0, 64) r(d)
        |  GROUP BY e.vec_id, c.cell),
        |asg AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |    FROM cd) WHERE rn = 1),
        |cnt AS (
        |  SELECT cell,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nb
        |  FROM asg GROUP BY 1),
        |dense AS (
        |  SELECT CAST(r.c AS INT) AS cell,
        |    coalesce(na, 0) AS n_even, coalesce(nb, 0) AS n_odd
        |  FROM range(0, 8) r(c) LEFT JOIN cnt ON cnt.cell = r.c),
        |tot AS (
        |  SELECT CAST(sum(n_even) AS BIGINT) AS ta,
        |    CAST(sum(n_odd) AS BIGINT) AS tb
        |  FROM dense),
        |terms AS (
        |  SELECT cell, n_even, n_odd,
        |    CAST(n_even + 1 AS DOUBLE) / (ta + 8) AS pa,
        |    CAST(n_odd + 1 AS DOUBLE) / (tb + 8) AS pb
        |  FROM dense CROSS JOIN tot),
        |t2 AS (
        |  SELECT cell, n_even, n_odd, pa, pb,
        |    CAST(round(0.5 * pa * ln(pa / ((pa + pb) / 2))
        |      + 0.5 * pb * ln(pb / ((pa + pb) / 2)), 9)
        |      AS DECIMAL(18,9)) AS term
        |  FROM terms),
        |js AS (SELECT sum(term) AS s FROM t2)
        |SELECT cell, n_even, n_odd,
        |  round(pa, 6) AS p_even, round(pb, 6) AS p_odd,
        |  CAST(term AS DOUBLE) AS js_term,
        |  round(CAST(s AS DOUBLE), 6) AS jsd,
        |  round(sqrt(greatest(CAST(s AS DOUBLE), 0.0)), 6) AS js_dist
        |FROM t2 CROSS JOIN js ORDER BY cell""".stripMargin
}
