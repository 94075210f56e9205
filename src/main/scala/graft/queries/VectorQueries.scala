package graft.queries

import graft.Decimals._
import graft.Tables
import graft.functions.Md5Hash.signedUnit
import graft.functions.{CosineSimilarity, Round9Nano}
import graft.operators.{Multimodal, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search + multimodal column plumbing over the
  * `embeddings` and `documents` fixtures. */
object VectorQueries extends QueryPack {

  /** Exact top-10 cosine neighbors for every vec_id % 100 query vector
    * (oracle: DuckDB list_cosine_similarity). */
  def qKnnCosine(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    knnTruthTop10(spark, sfDir).orderBy($"qid", $"rank")
  }

  // ---- q_semcache ----------------------------------------------------------
  /** Semantic-cache hit-rate simulation (the GPTCache-style inference
    * cost lever): replay the %25 query stream in vec_id arrival order —
    * each query HITS at threshold τ if any EARLIER query sits within
    * cosine ≥ τ, so hit_rate(τ) is exactly the fraction of inference
    * calls a cosine-keyed answer cache would absorb; the τ ∈ {0.70,
    * 0.80, 0.90, 0.95} sweep is the knob sheet (looser = cheaper +
    * staler). The first arrival misses at every τ by construction.
    * Scale shape: the pair join is strictly-earlier × query-decile
    * (bounded log window, broadcast), the brute-force eval twin — a
    * production cache keys the same decision off the q_ann_lsh/
    * q_ann_ivf bucket joins; exact 6dp shared cosine, exact integer
    * hit counts. */
  def qSemcache(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val q = Tables.df(spark, sfDir, "embeddings")
      .filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val best = ServeOps.semcacheBestExact(q)
    val taus = Seq("0.70", "0.80", "0.90", "0.95").toDF("tau_s")
      .select($"tau_s".cast("double").as("tau"))
    q.select($"qid").join(best, Seq("qid"), "left")
      .crossJoin(broadcast(taus))
      .groupBy($"tau")
      .agg(count(lit(1)).as("n_queries"),
        sum(when($"best_exact" >= $"tau", 1L).otherwise(0L)).as("hits"))
      .select($"tau", $"n_queries", $"hits",
        round($"hits".cast("double") / $"n_queries", 6).as("hit_rate"))
      .orderBy($"tau")
  }

  /** The exact top-10 cosine relation for the %100 query decile —
    * (qid, vec_id, sim, rank), ranked (round(sim,6) desc, vec_id) with
    * self excluded. The ONE home of the brute-force ground truth:
    * [[qKnnCosine]] publishes it verbatim, and the eval ops that price
    * an approximate index against exact truth
    * ([[Vector2Ops.qBinaryQuantize]]'s recall@10 sheet) consume it
    * instead of re-deriving their own q×n pass (VERDICT r14 #6 — the
    * q_curation_e2e compute-once discipline). */
  private[graft] def knnTruthTop10(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val emb = Tables.df(spark, sfDir, "embeddings")
    val queries = emb.filter($"vec_id" % 100 === 0)
    Similarity.knnBruteForce(emb, queries, 10)
  }

  /** kNN label classification: majority vote over the exact top-10 cosine
    * neighbors' labels, with deterministic tie-breaks (votes desc, label
    * asc). The embedding fixture's `label` column is the ground truth, so
    * the result carries prediction + correctness per query — the
    * label-propagation step of a semi-supervised tagging pipeline. Scale
    * shape: identical to [[qKnnCosine]] (broadcast query set over the
    * partitioned corpus; no all-to-all) plus two vocabulary-thin
    * aggregations; swap the brute-force neighbor source for
    * [[qAnnLsh]]/[[qAnnIvf]] candidates at corpus scale. */
  def qKnnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.df(spark, sfDir, "embeddings")
    val queries = emb.filter($"vec_id" % 100 === 0)
    val nn = Similarity.knnBruteForce(emb, queries, 10)
    val votes = nn
      .join(emb.select($"vec_id", $"label".as("pred")), "vec_id")
      .groupBy($"qid", $"pred")
      .agg(count(lit(1)).cast("int").as("votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"votes".desc, $"pred".asc)
    votes.withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .join(emb.select($"vec_id".as("qid"), $"label".as("truth")), "qid")
      .select($"qid", $"pred", $"votes", $"truth",
        ($"pred" === $"truth").as("correct"))
      .orderBy($"qid")
  }

  /** Radius search on an in-plan index: the %100 query decile against
    * the indexed %2 subset, candidates from the md5-SRP Hamming-1
    * multiprobe bucket join, verified by EXACT euclidean distance
    * ≤ 1.5 — [[ServeOps.annRadius]] over [[SrpIndex.inPlan]], the
    * cold-query shape q_ann_served runs against the stored tables.
    * GRADUATED from the rows-only allowlist in r14 (VERDICT r13 #7):
    * hyperplanes, probe rule, and the distance are all engine-
    * portable — each squared-difference term rounds once to 9dp and
    * sums as DECIMAL(20,9) (the q_embed_health norm discipline), so
    * dist = round(sqrt(double), 6) is bit-identical cross-engine. The
    * JVM-seeded [[Similarity.annLshCandidates]] stays the library path
    * (AnnConsumersSpec). Scale: probing fans out only the 20-row query
    * side; candidates meet in the bucket equi-join — never all-pairs. */
  def qAnnLsh(spark: SparkSession, sfDir: String): DataFrame =
    ServeOps.annRadius(ServeOps.queryDecile(spark, sfDir),
      SrpIndex.inPlan(ServeOps.annCorpus(spark, sfDir)))

  /** Multimodal pipeline: binary payload + metadata → partition-parallel
    * decode (stubbed codec) → typed features. Metadata/byte features are
    * oracle-checkable because the stub is a pure function of the bytes. */
  def qMultimodal(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.asMediaTable(Tables.df(spark, sfDir, "documents"))
    Multimodal.decodeFeatures(media).toDF()
      .orderBy($"doc_id")
  }

  /** IVF-cell ANN top-k, md5-deterministic end to end (graduated from
    * the rows-only allowlist in r15, the q_ann_knn/q_ann_lsh
    * discipline): the FAISS IVF-Flat shape — 8 coarse cells, assign
    * every vector to its nearest cell, probe the 2 cells nearest each
    * query, exact-rerank only inside probed cells — with every
    * engine-divergent ingredient re-seated on portable arithmetic so
    * the neighbor lists themselves hash-check against the DuckDB twin:
    * centroids are the 8 corpus vectors minimizing md5("ivf:"||vec_id)
    * (hex-string order, the house seeded-sample key), assignment/probe
    * distances are EXACT decimal L2² sums of 9dp-rounded per-dim terms
    * (the q_embed_health norm discipline — no float summation order
    * anywhere near an argmin), ties break (d2, cell), and the rerank is
    * the established codegen cosine + round(6). The JVM-seeded
    * [[Similarity.ivfTopK]] stays the library path under its recall
    * unit tests. Scale shape unchanged: corpus never all-pairs —
    * one pass × 8 broadcast centroids with a map-side-combinable
    * argmin, candidates are |corpus| × nProbes / nCells per query. */
  /** Exact decimal L2² between two float-array columns: per-dim squared
    * differences round once to 9dp into a DECIMAL(28,9) sum — no float
    * summation order anywhere near an argmin, so cell assignments and
    * probe ranks are bit-identical cross-engine. Shared by [[qAnnIvf]]
    * and [[Vector2Ops.qIvfAdvisor]], the radius searches and both
    * streaming serve twins (one home for the decimal L2²). */
  private[graft] def decL2Sq(a: String, b: String)
      : org.apache.spark.sql.Column = expr(decL2SqSql(a, b))

  /** [[decL2Sq]] as SQL text over the SQL expressions `a` and `b`, for
    * callers that embed it in a larger SQL expression. */
  private[graft] def decL2SqSql(a: String, b: String): String =
    s"""CAST(aggregate(
        zip_with($a, $b, (x, y) ->
          CAST(round((CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
                     (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)), 9)
            AS DECIMAL(20,9))),
        CAST(0 AS DECIMAL(28,9)),
        (acc, t) -> CAST(acc + t AS DECIMAL(28,9))) AS DECIMAL(28,9))"""

  def qAnnIvf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.df(spark, sfDir, "embeddings")
    val centers = ivfCenters(emb)
      .localCheckpoint() // assignment arm + probe arm
    val queries = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    ivfServe(queries, centers, ivfAssigned(emb, centers))
  }

  /** The md5-ordered 8-centroid pick — stage 1 of the IVF chain,
    * factored out (r18) so [[ServeOps.qIvfServed]] builds its persisted
    * cell table from the IDENTICAL centroids. */
  private[graft] def ivfCenters(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb
      .orderBy(md5(concat(lit("ivf:"), $"vec_id".cast("string"))),
        $"vec_id")
      .limit(8)
      .withColumn("cell",
        row_number().over(Window.orderBy($"vec_id")) - 1)
      .select($"cell", $"embedding".as("center"))
  }

  /** Exact-decimal L2² cell assignment with (d2, cell) ties — stage 2. */
  private[graft] def ivfAssigned(emb: DataFrame, centers: DataFrame)
      : DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.crossJoin(broadcast(centers))
      .withColumn("d2", decL2Sq("embedding", "center"))
      .groupBy($"vec_id")
      .agg(min(struct($"d2", $"cell")).as("m"),
        first($"embedding").as("embedding"))
      .select($"vec_id", $"m.cell".as("cell"), $"embedding")
  }

  /** The 2-probe serve stage: nearest-2 cells per query (d2, cell ties),
    * candidates from the cell-keyed equi-join, exact-cosine top-10 —
    * shared by [[qAnnIvf]] (in-plan assignment) and
    * [[ServeOps.qIvfServed]] (persisted cell table), so the serve rule
    * cannot drift between the eval and the served layout. */
  private[graft] def ivfServe(queries: DataFrame, centers: DataFrame,
      assigned: DataFrame): DataFrame =
    ivfServeSplit(queries, centers, Seq(assigned))

  /** Join-distributed IVF serve (r20 — the [[SrpIndex.probe]]
    * rationale for the cell table): a base∪delta union BELOW the cell
    * join re-shuffled the whole bucketed cell table on every delta
    * read; joining each part separately and unioning the JOIN RESULTS
    * keeps the base cells Exchange-free while the delta joins only
    * itself. Row-identical (equi-joins distribute over UNION ALL). */
  private[graft] def ivfServeSplit(queries: DataFrame, centers: DataFrame,
      assignedParts: Seq[DataFrame]): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val wProbe = Window.partitionBy($"qid")
      .orderBy($"d2".asc, $"cell".asc)
    val probes0 = queries
      .crossJoin(broadcast(centers))
      .withColumn("d2", decL2Sq("qv", "center"))
      .withColumn("pr", row_number().over(wProbe))
      .filter($"pr" <= 2)
      .select($"qid", $"qv", $"cell")
    // per-part consumption — see SrpIndex.probe's checkpoint note
    val probes =
      if (assignedParts.size > 1) probes0.localCheckpoint() else probes0
    val cand = assignedParts.map(a => probes.join(a, "cell"))
      .reduce(_ unionAll _)
      .filter($"vec_id" =!= $"qid")
      .withColumn("sim",
        round(CosineSimilarity.of($"qv", $"embedding"), 6))
    val wTop = Window.partitionBy($"qid")
      .orderBy($"sim".desc, $"vec_id".asc)
    cand.withColumn("rank", row_number().over(wTop))
      .filter($"rank" <= 10)
      .select($"qid", $"vec_id", $"sim", $"rank")
      .orderBy($"qid", $"rank")
  }

  /** Frame sampling over the media table (video-pipeline UDTF shape):
    * 4 evenly-spaced payload slices per doc, boundary-byte stats — fully
    * oracle-checkable because the stub slicing is pure byte arithmetic
    * and the fixture text is ASCII (bytes ≡ chars for DuckDB substr). */
  def qFrameSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.asMediaTable(
      Tables.df(spark, sfDir, "documents").filter($"doc_id" % 25 === 0))
    Multimodal.frameSample(media, 4).toDF()
      .orderBy($"doc_id", $"frame_idx")
  }

  /** Cross-engine-checkable ANN: sign-random-projection LSH (Charikar's
    * hyperplane family) whose every ingredient is engine-portable, so the
    * approximate neighbor PAIRS themselves sit under the DuckDB hash gate
    * — the strongest verification an ANN path can get. 8 tables × 8
    * hyperplanes over the %2 corpus sample; each hyperplane component is
    * an md5-keyed uniform in [−1, 1), and each projection's dot-product
    * terms round once to integer nano-units before the sum, so even the
    * SIGN of every projection (where a 1-ulp summation difference could
    * flip a bucket) is exact integer arithmetic in both engines.
    * Candidates meet in a (table, 8-bit key) equi-join and rerank with
    * the exact cosine; the xxhash-seeded [[qAnnLsh]] stays the cheap
    * production path. */
  /** Per-dimension feature standardization (the preprocessing step before
    * any distance-based curation): z-score every embedding coordinate
    * against its corpus column, and emit a 64-row moment signature — per
    * dimension the count, mean, std, and the exact decimal sums of z and
    * z² — which hash-checks the ENTIRE standardized matrix without
    * shipping it. All moment sums follow the q_zscore discipline (values
    * rounded once to DECIMAL(18,6); mean/std as one shared double
    * formula); z and z² round to 6dp per term so their sums stay exact
    * AND narrow enough for a clean decimal→double cast. Scale shape:
    * explode → 64-key agg (map-side partials) → 64-row broadcast back →
    * 64-key agg; no window, no global sort. */
  def qStandardize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dims = Tables.df(spark, sfDir, "embeddings")
      .select($"vec_id", posexplode($"embedding".cast("array<double>"))
        .as(Seq("d", "x")))
      .select($"d", round($"x", 6).cast(dec18_6).as("xd"))
    val stats = dims.groupBy($"d").agg(
      count(lit(1)).as("n"), sum($"xd").as("sx"), sum($"xd" * $"xd").as("sx2"))
    val z = dims.join(broadcast(stats), "d")
      .withColumn("mu", $"sx".cast("double") / $"n")
      .withColumn("sd", sqrt(
        ($"sx2".cast("double") - $"sx".cast("double") * $"sx".cast("double") / $"n")
          / ($"n" - 1)))
      .withColumn("z", round(($"xd".cast("double") - $"mu") / $"sd", 6)
        .cast(dec18_6))
    z.groupBy($"d").agg(
        min($"n").as("n"),
        round(min($"mu"), 6).as("mu"),
        round(min($"sd"), 6).as("sd"),
        sum($"z").cast("double").as("sum_z"),
        sum(round($"z".cast("double") * $"z".cast("double"), 6).cast(dec18_6))
          .cast("double").as("sum_z2"))
      .orderBy($"d")
  }

  /** Distributed PCA, first principal direction: covariance of the
    * leading 16 embedding dimensions + 3 fixed power-method iterations
    * (Mises iteration), every step a relational op. The 100 TB shape is
    * the point of the demo: the corpus is touched by exactly two
    * map-side-partial aggregations — a per-dim moment pass and a per-row
    * HOF outer product (d² = 256 struct terms per row, no self-join of
    * the exploded relation on vec_id) — after which covariance and the
    * iteration run on d²-row relations a driver never loops over.
    * Numeric discipline: inputs round once to DECIMAL(18,6); every
    * decimal product stays under precision 38 (18,6 × 18,6 → 37,12 and
    * 20,9 × 12,9 → 33,18), so all sums are exact integers in both
    * engines; each division is a shared double formula rounded once
    * (covariance to 9dp, the per-iteration max-|u| normalization to
    * 9dp). Eigenvector sign is pinned by the all-ones start and the
    * positive max-abs normalizer. Full-d is the identical plan with a
    * 4096-term fan-out; subsetting keeps the oracle's pairwise CTE
    * tractable. */
  /** Int8 scalar quantization of the embedding store (the simple 4×
    * compression path next to [[Similarity]]'s PQ/ADC 64× path): per-dim
    * affine [min, max] → 0..255 grid over the leading 16 dims, with the
    * reconstruction-error report that decides whether SQ suffices or PQ
    * is needed. Scale shape: one map-side-partial per-dim min/max pass,
    * a 16-row broadcast of the grids, then one partial-aggregable error
    * pass — two corpus scans, no shuffle of the vectors. Determinism:
    * min/max of identical doubles are identical; scale/code/recon are
    * shared IEEE formulas (round() ties-away in both engines on the
    * non-negative code argument); errors round once to 9dp into an
    * exact DECIMAL sum. The zero-spread guard (scale = 0 → code 0,
    * error 0) keeps a constant dimension from dividing by zero. */
  def qQuantizeSq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = 16
    val x = Tables.df(spark, sfDir, "embeddings")
      .filter(size($"embedding") >= d)
      .select(posexplode(slice($"embedding".cast("array<double>"), 1, d))
        .as(Seq("k", "x")))
    val grids = x.groupBy($"k")
      .agg(min($"x").as("mn"), max($"x").as("mx"))
      .select($"k", $"mn", $"mx", (($"mx" - $"mn") / 255.0).as("scale"))
    x.join(broadcast(grids), "k")
      .select($"k", $"mn", $"mx", $"scale",
        when($"scale" === 0.0, lit(0.0))
          .otherwise(round(($"x" - $"mn") / $"scale", 0)).as("code"), $"x")
      .select($"k", $"mn", $"mx", $"scale",
        abs($"x" - ($"mn" + $"code" * $"scale")).as("err"))
      .groupBy($"k")
      .agg(min($"mn").as("mn"), min($"mx").as("mx"),
        min($"scale").as("scale"),
        count(lit(1)).as("n"),
        sum(round($"err", 9).cast(dec20_9)).as("serr"),
        max($"err").as("maxerr"))
      .select($"k".cast("int").as("dim"),
        round($"mn", 6).as("mn"), round($"mx", 6).as("mx"),
        round($"scale", 9).as("scale"),
        round($"serr".cast("double") / $"n", 9).as("mean_abs_err"),
        round($"maxerr", 9).as("max_abs_err"))
      .orderBy($"dim")
  }

  /** The (sums, cov) relations over the leading 16 dims — factored out
    * of [[qPcaPower]] (identical arithmetic) so
    * [[Vector2Ops.qPcaDeflate]] reuses the SAME covariance definition
    * (one home, the annMd5Keys discipline). Both are checkpointed
    * 16/256-row relations. */
  private[graft] def pcaCovSums(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val d = 16
    val xd = transform(slice($"embedding".cast("array<double>"), 1, d),
      e => round(e, 6).cast(dec18_6))
    // size >= d filter on BOTH sides (ADVICE r9): a short embedding
    // would emit fewer posexplode rows here while the oracle's fixed
    // range(0,16) still counts the NULL element's row — filtering the
    // same rows out everywhere removes the silent-divergence path
    // NO pinned repartition before the 16×16 outer product (r22,
    // measured): the single-task-scan fix was tried here and REVERTED —
    // the cells kernel is only ~0.8 core-s, and the added exchange plus
    // the extra wide stages cost more than they spread (q_pca_power
    // 1.11→1.58 s, q_pca_deflate 2.40→3.39 s on matched windows).
    val emb = Tables.df(spark, sfDir, "embeddings")
      .filter(size($"embedding") >= d)
      .select(xd.as("x"))
    // localCheckpoint the two tiny aggregates (16 + 256 rows): the
    // iteration below references cov three times and the report twice
    // more — without lineage truncation each reference re-runs the full
    // corpus outer-product scan (measured 3.1 s → the checkpointed form
    // scans the corpus exactly twice)
    val sums = emb.select(posexplode($"x").as(Seq("k", "xk")))
      .groupBy($"k").agg(sum($"xk").as("sx"), count(lit(1)).as("n"))
      .localCheckpoint()
    val cells = emb.select(explode(flatten(
        transform($"x", (xi, i) => transform($"x", (xj, j) =>
          struct(i.as("i"), j.as("j"), (xi * xj).as("t")))))).as("c"))
      .select($"c.i", $"c.j", $"c.t")
      .groupBy($"i", $"j").agg(sum($"t").as("sxy"))
    val cov = cells
      .join(broadcast(sums.select($"k".as("i"), $"sx".as("sxi"), $"n")), "i")
      .join(broadcast(sums.select($"k".as("j"), $"sx".as("sxj"))), "j")
      .select($"i", $"j",
        round($"sxy".cast("double") / $"n"
          - ($"sxi".cast("double") / $"n") * ($"sxj".cast("double") / $"n"),
          9).cast(dec20_9).as("c"))
      .localCheckpoint()
    (sums, cov)
  }

  /** Three max-abs-normalized power iterations over a checkpointed cov
    * relation, from the all-ones start — the [[qPcaPower]] iteration,
    * shared with [[Vector2Ops.qPcaDeflate]]. Returns (j, v DECIMAL). */
  private[graft] def pcaPowerIters(spark: SparkSession, cov: DataFrame,
      dims: Int): DataFrame = {
    import spark.implicits._
    var v = spark.range(dims).select($"id".cast("int").as("j"),
      lit(1).cast(dec12_9).as("v"))
    for (_ <- 1 to 3) {
      val u = cov.join(broadcast(v), "j")
        .groupBy($"i").agg(sum($"c" * $"v").as("u"))
      val nrm = u.agg(max(abs($"u")).as("m"))
      v = u.crossJoin(broadcast(nrm))
        .select($"i".as("j"),
          round($"u".cast("double") / $"m".cast("double"), 9)
            .cast(dec12_9).as("v"))
    }
    v
  }

  def qPcaPower(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (sums, cov) = pcaCovSums(spark, sfDir)
    val v = pcaPowerIters(spark, cov, 16)
    v.select($"j".cast("long").as("dim"), $"v".cast("double").as("pc1"))
      .join(broadcast(sums.select($"k".cast("long").as("dim"),
        round($"sx".cast("double") / $"n", 9).as("mu"))), "dim")
      .join(broadcast(cov.filter($"i" === $"j")
        .select($"i".cast("long").as("dim"),
          $"c".cast("double").as("var_d"))), "dim")
      .select($"dim", $"mu", $"var_d", $"pc1")
      .orderBy($"dim")
  }

  /** Local Outlier Factor (Breunig et al., SIGMOD'00) over the vec_id%2
    * embedding subset with k=5 cosine-distance neighbors — the
    * density-based "weird sample" detector of an embedding-curation
    * pipeline (a point's density is compared to its NEIGHBORS' densities,
    * so a sparse-but-uniform region doesn't false-positive the way a
    * global z-score does). Simplified top-k neighborhood (row_number
    * tie-break, not distance-ties-inclusive) keeps every step a
    * deterministic relational op: kNN window → k-distance aggregate →
    * reachability join → two exact decimal sums. Distances, lrd, and lof
    * round once to 6dp so every aggregate is engine-exact. The pair
    * source is parameterized: this oracle twin feeds the broadcast
    * brute-force kNN into [[lofStages]]; the corpus-scale path [[lofAnn]]
    * feeds the same stages from [[Similarity.annKnnCosine]]'s LSH-routed
    * candidates (AnnConsumersSpec measures its outlier recall vs this
    * exact answer) — downstream stages are already key-partitioned
    * joins/aggregates, identical in both. */
  def qLof(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = 5
    // pinned keyed repartition before the |sub|² brute-force cosine
    // kernel (r22, the cosinePairsBrute r7 fix applied to this caller):
    // the single-row-group scan ran the ~1M-pair kernel in ONE task
    // (profiled 2.9 s stage at 1 task). Applied at the call site, not
    // inside knnBruteForce — the operator's other callers feed ≤40k
    // pairs, where the extra exchange costs more than it spreads.
    val sub = Tables.df(spark, sfDir, "embeddings")
      .filter($"vec_id" % 2 === 0)
      .repartition(graft.Tables.shufflePartitions(spark), $"vec_id")
    val nn = Similarity.knnBruteForce(sub, sub, k)
      .select($"qid", $"vec_id".as("nid"),
        (lit(1.0) - $"sim").cast(dec18_6).as("d"))
    lofStages(spark, k, nn)
  }

  /** q_lof at corpus scale: the SAME LOF stages fed by the LSH-routed
    * ANN pair source instead of the broadcast brute-force kNN. Not a
    * driver query (the seeded Gaussian projections have no DuckDB twin);
    * AnnConsumersSpec asserts the measured outlier-recall floor vs
    * [[qLof]] on the real fixture. Defaults: radius 1.4 keeps every
    * fixture top-5 cosine neighborhood (observed max neighbor distance
    * 1.27 ≪ the 1.414 random-pair median, so the radius verify prunes
    * roughly half of all candidate pairs even on this
    * concentration-hostile fixture); 8 OR-ed tables carry recall. */
  def lofAnn(spark: SparkSession, sfDir: String, radius: Double = 1.4,
      numTables: Int = 8): DataFrame = {
    import spark.implicits._
    val k = 5
    val sub = Tables.df(spark, sfDir, "embeddings")
      .filter($"vec_id" % 2 === 0)
    val nn = Similarity.annKnnCosine(sub, sub, k, radius, numTables)
      .select($"qid", $"vec_id".as("nid"),
        (lit(1.0) - $"sim").cast(dec18_6).as("d"))
    lofStages(spark, k, nn)
  }

  /** LOF stages downstream of the kNN pair list `nn` = (qid, nid,
    * d DECIMAL(18,6)): k-distance aggregate → reachability join → lrd →
    * lof — every stage a key-partitioned join/aggregate, shared verbatim
    * by the brute-force oracle twin [[qLof]] and the ANN-fed [[lofAnn]]. */
  private[graft] def lofStages(spark: SparkSession, k: Int,
      nn: DataFrame): DataFrame = {
    import spark.implicits._
    val kdist = nn.groupBy($"qid".as("p")).agg(max($"d").as("kdist"))
    val reach = nn.join(kdist.withColumnRenamed("p", "nid"), "nid")
      .select($"qid", $"nid", greatest($"kdist", $"d").as("reach"))
    // CASE guard: >= k+1 identical vectors make a neighborhood's reach
    // sum 0 — lrd must go NULL in both engines (Spark would cast Inf to
    // NULL/throw under ANSI, DuckDB would throw on CAST(inf AS DECIMAL));
    // NULL lrd propagates to NULL lof for the affected points only
    val lrd = reach.groupBy($"qid")
      .agg(sum($"reach").as("sr"))
      .select($"qid",
        when($"sr" > 0,
          round(lit(k.toDouble) / $"sr".cast("double"), 6).cast(dec18_6))
          .as("lrd"))
    val lof = nn.select($"qid", $"nid")
      .join(lrd.select($"qid".as("nid"), $"lrd".as("lrd_n")), "nid")
      .groupBy($"qid").agg(sum($"lrd_n").as("slrd"))
      .join(lrd, "qid")
      .select($"qid".as("vec_id"),
        round(($"slrd".cast("double") / k) / $"lrd".cast("double"), 6)
          .as("lof"))
    lof.join(kdist.select($"p".as("vec_id"), $"kdist"), "vec_id")
      .select($"vec_id", $"kdist".cast("double").as("kdist"), $"lof",
        ($"lof" > 1.3).as("outlier"))
      .orderBy($"vec_id")
  }

  def qAnnMd5(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    annMd5Pairs(spark, sfDir).orderBy($"id1", $"id2")
  }

  // ---- q_ann_rerank ------------------------------------------------------
  /** The full ANN SERVING chain — md5-LSH candidate generation +
    * exact-cosine rerank to top-3 per query — under the hash oracle:
    * this is the query-time shape q_ann_knn benches (candidates from
    * the index, rerank by true similarity), built on [[annMd5Pairs]]'s
    * engine-portable hyperplane discipline so the whole chain is
    * oracle-checked end to end (the MLlib-backed q_ann_lsh/q_ann_knn
    * variants stay rows-only by necessity — their bucket boundaries are
    * engine-private). Queries = the id%10 decile of the indexed subset;
    * rank ties break on (sim desc, nid asc) in both engines.
    * Scale: candidates arrive pre-bucketed from the banded equi-join;
    * the rerank window partitions by query — no all-pairs anywhere. */
  def qAnnRerank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // checkpointed: both direction-arms below read the same pair list
    val pairs = annMd5Pairs(spark, sfDir).localCheckpoint()
    val cands = pairs.filter($"id1" % 10 === 0)
      .select($"id1".as("qid"), $"id2".as("nid"), $"sim")
      .unionAll(pairs.filter($"id2" % 10 === 0)
        .select($"id2".as("qid"), $"id1".as("nid"), $"sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"sim".desc, $"nid".asc)
    cands.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"qid", $"rank", $"nid", $"sim")
      .orderBy($"qid", $"rank")
  }

  // ---- q_matryoshka ------------------------------------------------------
  /** Matryoshka dimension-truncation evaluation (Kusupati et al. '22):
    * recall@10 of cosine top-k computed on the first 16 and 32 of 64
    * dimensions against the full-dimension truth — the report that
    * prices "store/search a prefix of the embedding" before an index
    * chooses a cheaper dimensionality (MRL-trained models concentrate
    * signal in the prefix; this measures how much THIS embedding table
    * does). Same brute-force envelope as [[qKnnCosine]] (broadcast
    * query decile against the partitioned corpus, one pair pass
    * computing all three similarities, three per-query rank windows) —
    * an evaluation op prices its own ground truth, the q_ann_eval
    * precedent. */
  /** The one brute-force pair pass computing all three similarity
    * widths — separate so R11PlanAuditSpec can assert its broadcast
    * shape (the registered query checkpoints it, which hides the join
    * from the final plan). */
  private[graft] def matryoshkaPairs(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val emb = Tables.df(spark, sfDir, "embeddings")
    val q = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    emb.join(broadcast(q), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id",
        round(CosineSimilarity.of($"qv", $"embedding"), 6).as("sim64"),
        round(CosineSimilarity.of(
          slice($"qv", 1, 16), slice($"embedding", 1, 16)),
          6).as("sim16"),
        round(CosineSimilarity.of(
          slice($"qv", 1, 32), slice($"embedding", 1, 32)),
          6).as("sim32"))
  }

  def qMatryoshka(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val q = Tables.df(spark, sfDir, "embeddings")
      .filter($"vec_id" % 100 === 0).select($"vec_id".as("qid"))
    val pairs = matryoshkaPairs(spark, sfDir)
      .localCheckpoint() // feeds the three rank windows
    def topk(c: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid").orderBy(col(c).desc, $"vec_id".asc)
      pairs.withColumn("r", row_number().over(w)).filter($"r" <= 10)
        .select($"qid", $"vec_id")
    }
    val full = topk("sim64")
    def recallRow(dims: Int, t: DataFrame): DataFrame = {
      val hits = full.join(t, Seq("qid", "vec_id"))
        .groupBy($"qid").agg(count(lit(1)).as("hit"))
      q.select($"qid").join(hits, Seq("qid"), "left")
        .na.fill(0L, Seq("hit"))
        .agg(count(lit(1)).as("n_queries"), sum($"hit").as("sh"),
          min($"hit").as("mn"))
        .select(lit(dims).as("dims"), $"n_queries",
          round($"sh".cast("double") / (lit(10.0) * $"n_queries"), 6)
            .as("mean_recall"),
          round($"mn".cast("double") / 10.0, 6).as("min_recall"))
    }
    recallRow(16, topk("sim16"))
      .unionAll(recallRow(32, topk("sim32")))
      .orderBy($"dims")
  }

  /** The md5-deterministic SRP bucket keys (vec_id, tbl, bk) over the
    * %2 subset — 8 tables × 8 hyperplane sign bits per vector, every
    * projection an exact integer nano-unit sum. Factored out of
    * [[annMd5Pairs]] so the single-probe index and the multi-probe
    * variant ([[qAnnMultiprobe]]) hash the SAME keys. */
  private[graft] def annMd5Keys(spark: SparkSession, sfDir: String)
      : DataFrame =
    srpKeys(Tables.df(spark, sfDir, "embeddings")
      .filter(col("vec_id") % 2 === 0))

  /** The 8×8 SRP key computation over an arbitrary (vec_id, embedding)
    * relation — extracted from [[annMd5Keys]] (r18) so the PERSISTED
    * index serving path ([[ServeOps.qAnnServed]]) can key fresh query
    * vectors with the exact hyperplanes the stored index was built
    * with. One definition = the build-time and query-time hashes cannot
    * drift, the invariant a real ANN service must hold across deploys. */
  private[graft] def srpKeys(vectors: DataFrame): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val emb = vectors
    // pinned keyed repartition before the ×64 dim explode and the ×64
    // plane join (the single-row-group trap, PERF.md): without it the
    // whole 10M-row projection pipeline runs in the ONE scan task —
    // r8 telemetry showed wall ≈ run core-seconds, i.e. parallelism 1
    val dims = emb
      .repartition(Tables.shufflePartitions(spark), $"vec_id")
      .select($"vec_id",
        posexplode($"embedding").as(Seq("d", "x")))
      .select($"vec_id", $"d", $"x".cast("double").as("x"))
    // hyperplane components materialize ONCE (64 planes × 64 dims = 4096
    // rows) and broadcast — hashing them per (vector, dim, plane) row
    // recomputed each md5 n_vectors times and was 8× slower. (A nested
    // transform/aggregate HOF over a literal plane array was tried and
    // was 6× slower STILL: higher-order functions evaluate interpreted,
    // outside whole-stage codegen — keep sketch folds in relational
    // explode+groupBy form, which stays codegen'd.)
    val planes = spark.range(0, 64).toDF("i")
      .select($"i", explode(sequence(lit(0), lit(63))).as("d"))
      .select($"i", $"d",
        signedUnit($"i".cast("string"), lit(":"), $"d".cast("string"))
          .as("r"))
    // integer nano-units instead of DECIMAL(18,9): round(x·r, 9) is the
    // engine-portable quantity (established round-6/9 discipline); the
    // second round snaps its ×1e9 image onto the exact integer, so the
    // per-projection sum is cheap long arithmetic, still exact and
    // order-independent (per-term BigDecimal was the hot spot).
    // r22: the two rounds fuse into the native round9_nano expression —
    // BIT-IDENTICAL terms (Round9NanoSpec fuzzes the equality; the
    // artifact ≡ fresh-derivation laws and the ANN oracles pin the
    // consumers) with the double fast path replacing the two
    // Double.toString+BigDecimal parses per term, which were the
    // measured bulk of every key build (~26 run core-s of
    // q_xmodal_retrieval_ann's term stage at sf0.1, ×4096 terms/vector)
    val terms = dims.join(broadcast(planes), "d")
      .select($"vec_id", expr("i div 8").as("tbl"), $"i",
        Round9Nano.of($"x" * $"r").as("term"))
    val bits = terms.groupBy($"vec_id", $"tbl", $"i")
      .agg((sum($"term") > 0).as("bit"))
    bits.groupBy($"vec_id", $"tbl")
      .agg(sum(when($"bit", expr("shiftleft(CAST(1 AS BIGINT), i % 8)"))
        .otherwise(0L)).as("bk"))
  }

  /** The Hamming-1 multiprobe fan-out over an [[srpKeys]]-shaped
    * (vec_id, tbl, bk) relation: each key row expands to itself plus
    * the 8 one-bit flips — (vec_id, tbl, bk) × 9. The ONE probe rule of
    * the batch chain: its only caller is [[SrpIndex.probes]], which every
    * SRP candidate search reads — the served and in-plan radius search,
    * semantic cache and media tower, and the [[annMd5Pairs]] /
    * [[qAnnMultiprobe]] self-joins. ([[graft.streaming.Streams]]'
    * `srpProbeRows` keeps its per-row expression twin by design — a
    * streaming plan gets one stateful operator — and its merge-law spec
    * pins it to this rule.) */
  private[graft] def srpProbes(keys: DataFrame): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    keys
      .select($"vec_id", $"tbl",
        explode(sequence(lit(-1), lit(7))).as("j"), $"bk")
      .select($"vec_id", $"tbl",
        when($"j" === -1, $"bk")
          .otherwise(expr("bk ^ shiftleft(CAST(1 AS BIGINT), j)"))
          .as("bk"))
  }

  /** The md5-deterministic LSH pair list (id1, id2, sim ≥ 0.25) backing
    * [[qAnnMd5]] and evaluated against exact truth by [[qAnnEval]].
    *
    * Serving config (r14, closing the q_ann_eval gap open since r10):
    * the 8×8 SRP keys of [[annMd5Keys]] queried with HAMMING-1
    * MULTIPROBE — each vector probes its own 8-bit key plus the 8 keys
    * one bit-flip away in every table, so a pair is a candidate when
    * its keys differ by ≤ 1 bit in some table. q_ann_srp_advisor math
    * (q_srp_bands) and the measured q_ann_multiprobe trade both priced
    * this as the fix over re-splitting to (16,4): probing multiplies
    * only the QUERY side of the bucket equi-join by (bits+1) — the
    * stored index does not grow, and on this near-isotropic fixture the
    * (16,4) split would admit ~64% of ALL pairs (p^4 = 1/16 per table
    * at cosine 0 × 16 tables) vs multiprobe's ~25%, i.e. (16,4) is
    * near-brute-force at corpus scale while multiprobe stays bucket-
    * routed. Measured effect (q_ann_eval): weak-band recall 0.09–0.19
    * → 0.50–0.68 across the fixtures (sf0.1: 0.537/0.621/0.683 by
    * band; sf0.01's lowest band reads 0.498 — sampling noise on 486
    * pairs around the theoretical ≈0.52). AnnConsumersSpec pins the
    * 0.45-per-band / 0.5-overall floor. */
  private[graft] def annMd5Pairs(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val emb = Tables.df(spark, sfDir, "embeddings")
      .filter($"vec_id" % 2 === 0)
    val keys = annMd5Keys(spark, sfDir)
      .localCheckpoint() // probe arm + build arm read the same keys
    selfPairs(keys, SrpIndex.probes(keys))
      .join(emb.select($"vec_id".as("id1"), $"embedding".as("e1")), "id1")
      .join(emb.select($"vec_id".as("id2"), $"embedding".as("e2")), "id2")
      .select($"id1", $"id2",
        round(CosineSimilarity.of($"e1", $"e2"), 6).as("sim"))
      .filter($"sim" >= 0.25)
  }

  /** The (id1 < id2) candidate pairs of a keyed relation probed by its own
    * (qid, bkey) `probes` — the self-join [[annMd5Pairs]] and both
    * [[qAnnMultiprobe]] arms run: `keys` is the one postings part, so the
    * relation is keyed once. */
  private def selfPairs(keys: DataFrame, probes: DataFrame): DataFrame =
    SrpIndex.candidates(probes,
        Seq(keys.select(SrpIndex.bkey, col("vec_id"))),
        keep = col("qid") < col("vec_id"))
      .toDF("id1", "id2")

  // ---- q_ann_multiprobe --------------------------------------------------
  /** Multi-probe SRP candidate stage, priced by the q_ann_eval
    * methodology (Lv et al., VLDB'07 — probe the neighboring buckets
    * instead of building more tables): each vector probes its own 8-bit
    * key PLUS the 8 keys at Hamming distance 1 in every table, so a
    * truth pair is a candidate if its keys differ by ≤ 1 bit somewhere —
    * the recall knob q_ann_eval showed the plain 8×8 config needs at
    * weak cosine (0.09–0.19 recall below 0.5). The 100 TB story is the
    * point: probing multiplies only the QUERY side of the bucket
    * equi-join by (bits+1) — the stored index (the keys relation) does
    * not grow, unlike adding tables, and candidate verification still
    * touches only bucket-collision pairs. Output: per-similarity-decile
    * truth recall of the single-probe vs multi-probe CANDIDATE sets,
    * with the global candidate-set sizes carried on every row as the
    * cost side of the trade. Everything is md5-deterministic, so the
    * whole report hash-checks cross-engine. ADOPTED in r14: the serving
    * chain ([[annMd5Pairs]] → q_ann_md5/q_ann_rerank/q_ann_knn) now
    * runs exactly this probe rule; this report remains the standing
    * single- vs multi-probe price sheet that justified the flip. */
  def qAnnMultiprobe(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sub = Tables.df(spark, sfDir, "embeddings")
      .filter($"vec_id" % 2 === 0)
    val keys = annMd5Keys(spark, sfDir)
      .localCheckpoint() // probe side, build side, and single-probe arm
    // each candidate set feeds the truth join + the cost count
    val cand1 = selfPairs(keys, keys.select($"vec_id".as("qid"),
      SrpIndex.bkey)).localCheckpoint()
    val candMp = selfPairs(keys, SrpIndex.probes(keys)).localCheckpoint()
    val costs = cand1.agg(count(lit(1)).as("n_cand_1p"))
      .crossJoin(candMp.agg(count(lit(1)).as("n_cand_mp")))
    val truth = Similarity.cosinePairsBrute(sub, 0.25)
    truth
      .join(cand1.withColumn("f1", lit(1L)), Seq("id1", "id2"), "left")
      .join(candMp.withColumn("fm", lit(1L)), Seq("id1", "id2"), "left")
      .select(floor($"sim" * 10).cast("int").as("band"),
        coalesce($"f1", lit(0L)).as("f1"),
        coalesce($"fm", lit(0L)).as("fm"))
      .groupBy($"band")
      .agg(count(lit(1)).as("n_truth"),
        sum($"f1").as("n_found_1p"), sum($"fm").as("n_found_mp"))
      .crossJoin(broadcast(costs))
      .select($"band", $"n_truth", $"n_found_1p", $"n_found_mp",
        round($"n_found_1p".cast("double") / $"n_truth", 6)
          .as("recall_1p"),
        round($"n_found_mp".cast("double") / $"n_truth", 6)
          .as("recall_mp"),
        $"n_cand_1p", $"n_cand_mp")
      .orderBy($"band")
  }

  // ---- q_embed_health ----------------------------------------------------
  /** Embedding-store ingest health gate — the one-row audit a vector
    * index runs before accepting a shipment: vector count, wrong-
    * dimension count, zero vectors (undefined cosine — they poison
    * normalization), and the L2-norm envelope (min / max / mean). A
    * shipment failing this gate never reaches the ANN build.
    *
    * Scale shape: one dimension explode → per-vector exact-decimal
    * norm² partial-agg → a single 1-row aggregate. sqrt() is exactly
    * specified by IEEE 754 (unlike the transcendental libm calls), so
    * the rounded norms are cross-engine exact by construction. */
  def qEmbedHealth(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val norms = Tables.df(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .select($"vec_id", size($"v").as("dim"),
        posexplode($"v").as(Seq("d", "x")))
      .select($"vec_id", $"dim",
        round($"x" * $"x", 9)
          .cast(dec20_9).as("t"))
      .groupBy($"vec_id", $"dim").agg(sum($"t").as("n2"))
      .select($"vec_id", $"dim",
        round(sqrt($"n2".cast("double")), 6).as("norm"))
    norms.agg(
      count(lit(1)).as("n_vectors"),
      sum(when($"dim" =!= 64, 1L).otherwise(0L)).as("n_wrong_dim"),
      sum(when($"norm" === 0.0, 1L).otherwise(0L)).as("n_zero"),
      min($"norm").as("min_norm"), max($"norm").as("max_norm"),
      round(sum($"norm".cast(dec18_6)).cast("double") / count(lit(1)), 6)
        .as("mean_norm"))
  }

  // ---- q_ann_eval --------------------------------------------------------
  /** ANN index quality gate — the q_minhash_eval analog for the vector
    * side: the md5-deterministic LSH's verified pairs measured against
    * the EXACT cosine ≥ 0.25 truth over the same subset, per similarity
    * decile. Precision is 1.0 by construction (candidates are exact-
    * verified); what the index can lose is recall, and the report prices
    * it per band BEFORE anyone trusts the routing at corpus scale. On
    * the plain 8×8 single-probe config this gate FIRED from r10 through
    * r13 (0.09 → 0.19 at weak cosines — exactly the SRP S-curve
    * P = 1−(1−(1−θ/π)⁸)⁸ predicts for 0.25–0.5 similarities); r14
    * adopted the Hamming-1 multiprobe serving config ([[annMd5Pairs]])
    * the q_srp_bands / q_ann_multiprobe advisors priced, and the same
    * gate now reads ≥ 0.5 at every band — the eval→advisor→fix loop
    * closed, with this query as the regression sentinel
    * (AnnConsumersSpec pins the recovered floor). The q_minhash_eval
    * story, vector-side: measure the sketch against exact truth,
    * deterministically, so the verdict itself hash-checks.
    *
    * Scale shape: truth is the documented-honest O(n²) verify on the
    * audited subset (an EVALUATION op prices its own ground truth — the
    * q_minhash_eval precedent); the ANN arm reuses the production bucket
    * equi-join; the comparison is one pair-keyed left join + a ≤5-row
    * aggregate. */
  def qAnnEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sub = Tables.df(spark, sfDir, "embeddings")
      .filter($"vec_id" % 2 === 0)
    val truth = Similarity.cosinePairsBrute(sub, 0.25)
    val ann = annMd5Pairs(spark, sfDir)
      .select($"id1", $"id2", lit(true).as("found"))
    truth.join(ann, Seq("id1", "id2"), "left")
      .select(floor($"sim" * 10).cast("int").as("band"),
        coalesce($"found", lit(false)).as("found"))
      .groupBy($"band")
      .agg(count(lit(1)).as("n_truth"),
        sum(when($"found", 1L).otherwise(0L)).as("n_found"))
      .withColumn("recall",
        round($"n_found".cast("double") / $"n_truth", 6))
      .orderBy($"band")
  }

  // ---- q_srp_bands -------------------------------------------------------
  /** SRP banding advisor (VERDICT r12 #6) — the q_minhash_bands analog
    * for the sign-random-projection index, closing the gap q_ann_eval
    * has been reporting since r10: recall 0.09–0.19 at weak cosines on
    * the configured 8 tables × 8 bits, with nothing in the repo advising
    * a better (tables, bits) split. For Charikar's hyperplane family the
    * per-plane collision probability at cosine s is p = 1 − arccos(s)/π,
    * so a (b tables, r bits) split admits a pair with
    * P(s) = 1 − (1 − p^r)^b — the SRP S-curve. This scores every split
    * of the 64/32/16-plane budgets at s = 0.25/0.5/0.9 AND as the
    * EXPECTED recall over the corpus's own exact cosine ≥ 0.25 truth
    * distribution (the same truth relation q_ann_eval prices the index
    * against — theory evaluated on the observed similarity profile).
    * The (8,8) row's p90 is the configured index's predicted recall at
    * the dup-detection band it is actually used for (≥ 0.93); its
    * exp_recall025 reproduces the weak-similarity failure q_ann_eval
    * measures, and rows like (16,4) price the fix.
    *
    * Determinism: p rounds once to 9dp after the one acos() libm call
    * (the DDSketch ln discipline), π is a shared 16-digit literal, each
    * P value is a shared pow() formula rounded once to 6dp, and the
    * expected recall is an exact DECIMAL sum with one double division
    * (the q_minhash_bands discipline verbatim). Scale shape: truth is
    * the documented-honest O(n²) verify on the audited %2 subset (an
    * evaluation op prices its own ground truth); the grid is 14
    * broadcast rows; everything else is one partial-aggregable mean
    * per cell. */
  def qSrpBands(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val PI = 3.141592653589793
    val grid = Seq((1, 64), (2, 32), (4, 16), (8, 8), (16, 4), (32, 2),
        (64, 1), (2, 16), (4, 8), (8, 4), (16, 2), (2, 8), (4, 4), (8, 2))
      .toDF("b", "r")
    def pcoll(s: org.apache.spark.sql.Column) =
      round(lit(1.0) - acos(s) / PI, 9)
    val truth = Similarity.cosinePairsBrute(
        Tables.df(spark, sfDir, "embeddings").filter($"vec_id" % 2 === 0),
        0.25)
      .select($"sim")
    val scored = truth.crossJoin(broadcast(grid))
      .select($"b", $"r",
        round(Similarity.bandCollision(pcoll($"sim"), $"b", $"r"), 6)
          .cast(dec18_6).as("p"))
      .groupBy($"b", $"r")
      .agg(round(sum($"p").cast("double") / count(lit(1)), 6)
        .as("exp_recall025"))
    grid.join(scored, Seq("b", "r"), "left")
      .select($"b", $"r", ($"b" * $"r").as("n_planes"),
        round(Similarity.bandCollision(pcoll(lit(0.25)), $"b", $"r"), 6)
          .as("p25"),
        round(Similarity.bandCollision(pcoll(lit(0.5)), $"b", $"r"), 6)
          .as("p50"),
        round(Similarity.bandCollision(pcoll(lit(0.9)), $"b", $"r"), 6)
          .as("p90"),
        $"exp_recall025")
      .orderBy($"n_planes".desc, $"b")
  }

  // ---- q_quantize --------------------------------------------------------
  /** Int8 scalar quantization of the embedding table — the index-
    * compression step of a vector store: per dimension an affine code
    * q = floor((x − mn)/scale + 0.5) in 0..255 with scale = (mx − mn)/255,
    * the reconstruction xq = mn + q·scale, and the per-dimension error
    * profile (max and mean absolute reconstruction error) that tells you
    * whether int8 is safe for this corpus. floor(z + 0.5) rather than
    * round(): engine round() semantics can differ at exact halves, floor
    * of the shifted value is the same IEEE expression everywhere. Mean
    * errors are per-term 6dp-rounded decimal sums (order-free exact);
    * max error is a plain max of deterministic doubles; the final mean is
    * an exact-decimal ÷ count IEEE quotient, left unrounded.
    *
    * Scale shape: posexplode → 64-key min/max aggregation → broadcast of
    * the 64-row code book back onto the stream → 64-key error aggregation.
    * Nothing shuffles more than once and the code book is O(dims). A
    * degenerate constant dimension (mx == mn) codes to 0 with scale 0 and
    * reconstructs exactly. */
  def qQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dims = Tables.df(spark, sfDir, "embeddings")
      .select($"vec_id", posexplode($"embedding".cast("array<double>"))
        .as(Seq("d", "x")))
    val mm = dims.groupBy($"d").agg(min($"x").as("mn"), max($"x").as("mx"))
      .withColumn("scale", ($"mx" - $"mn") / 255)
    val coded = dims.join(broadcast(mm), "d")
      .withColumn("q",
        when($"scale" === 0, lit(0L))
          .otherwise(floor(($"x" - $"mn") / $"scale" + 0.5)))
      .withColumn("err", abs($"x" - ($"mn" + $"q" * $"scale")))
    coded.groupBy($"d").agg(
        count(lit(1)).as("n"),
        round(min($"mn"), 6).as("mn"),
        round(min($"scale"), 6).as("scale"),
        max($"q").as("max_code"),
        round(max($"err"), 6).as("max_abs_err"),
        (sum(round($"err", 6).cast(dec18_6)).cast("double") / count(lit(1)))
          .as("mean_abs_err"))
      .orderBy($"d")
  }

  // ---- q_hard_negatives --------------------------------------------------
  /** Hard-negative mining for contrastive training: for every anchor in
    * the vec_id%4 subset, the most-similar vector carrying a DIFFERENT
    * label (the hard negative), the most-similar vector with the SAME
    * label (the positive), and the margin pos_sim − neg_sim; anchors with
    * margin < 0.05 are the training pairs worth scheduling. Similarities
    * round to 6dp BEFORE the rank windows so both engines order identical
    * values (bid ties the rank). The margin is a subtraction of two
    * already-rounded doubles — exact IEEE, left unrounded.
    *
    * Scale shape: the pair source is parameterized over [[hardNegStages]].
    * This oracle twin broadcasts the (fixture-sized) pool against the
    * anchor stream; the corpus-scale path [[hardNegativesAnn]] feeds the
    * SAME mining windows from the LSH bucket equi-join — wired and
    * recall-tested (AnnConsumersSpec), not just documented. */
  def qHardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val s = Tables.df(spark, sfDir, "embeddings")
      .filter($"vec_id" % 4 === 0)
    val a = s.select($"vec_id".as("aid"), $"embedding".as("av"),
      $"label".as("alab"))
    val b = s.select($"vec_id".as("bid"), $"embedding".as("bv"),
      $"label".as("blab"))
    val pairs = a.join(broadcast(b), $"aid" =!= $"bid")
      .select($"aid", $"bid",
        ($"alab" === $"blab").as("same"),
        round(CosineSimilarity.of($"av", $"bv"), 6).as("sim"))
    hardNegStages(spark, s, pairs)
  }

  /** q_hard_negatives at corpus scale: the SAME mining windows fed by
    * [[Similarity.annLshCandidates]]'s bucket-routed candidate pairs
    * instead of the full-pool broadcast — no side is ever broadcast
    * whole, candidates meet in a (table, bucket) equi-join carrying ids
    * only, and the exact cosine runs per candidate pair. Not a driver
    * query (seeded projections have no DuckDB twin); AnnConsumersSpec
    * asserts the measured recall floor vs [[qHardNegatives]]. Default
    * radius 1.5 spans sim ≥ −0.125 — wide enough to catch best-same-label
    * matches even in small label pools, while still cutting the
    * beyond-random tail. */
  def hardNegativesAnn(spark: SparkSession, sfDir: String,
      radius: Double = 1.5, numTables: Int = 8): DataFrame = {
    import spark.implicits._
    val s = Tables.df(spark, sfDir, "embeddings")
      .filter($"vec_id" % 4 === 0)
    val cand = Similarity.annLshCandidates(s, s, radius, numTables)
      .select($"qid".as("aid"), $"vec_id".as("bid"))
    val pairs = cand
      .join(s.select($"vec_id".as("aid"), $"embedding".as("av"),
        $"label".as("alab")), Seq("aid"))
      .join(s.select($"vec_id".as("bid"), $"embedding".as("bv"),
        $"label".as("blab")), Seq("bid"))
      .select($"aid", $"bid",
        ($"alab" === $"blab").as("same"),
        round(CosineSimilarity.of($"av", $"bv"), 6).as("sim"))
    hardNegStages(spark, s, pairs)
  }

  /** ANN kNN end-to-end on the SERVING index: every vector of the
    * indexed %2 subset as a query, candidates from the md5-SRP
    * Hamming-1 multiprobe bucket join ([[annMd5Pairs]], both pair
    * directions), exact-cosine re-rank, top-5 window. GRADUATED from
    * the rows-only allowlist in r14 (VERDICT r13 #7): the chain is
    * md5-deterministic end to end, so the neighbor lists themselves
    * hash-check against the DuckDB twin — the JVM-seeded
    * [[Similarity.annKnnCosine]] stays the library path feeding
    * [[lofAnn]]/[[hardNegativesAnn]] under AnnConsumersSpec's recall
    * floors. Neighbors are the verified sim ≥ 0.25 serving pairs, so a
    * query's list is its top-5 AMONG retrievable neighbors (queries
    * with no qualifying pair emit no rows — the honest serving answer).
    * Scale: candidates arrive pre-bucketed from the probe equi-join;
    * the re-rank window partitions by query — no all-pairs anywhere. */
  def qAnnKnn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = annMd5Pairs(spark, sfDir).localCheckpoint()
    val cands = pairs.select($"id1".as("qid"), $"id2".as("vec_id"), $"sim")
      .unionAll(pairs.select($"id2".as("qid"), $"id1".as("vec_id"), $"sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"sim".desc, $"vec_id".asc)
    cands.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"qid", $"vec_id", $"sim", $"rank")
      .orderBy($"qid", $"rank")
  }

  /** Mining windows downstream of the scored candidate pairs `pairs` =
    * (aid, bid, same, sim): two (anchor, same-label?) rank windows pick
    * the extremes, then a left join back to every anchor — shared
    * verbatim by the brute-force oracle twin [[qHardNegatives]] and the
    * ANN-fed [[hardNegativesAnn]]. */
  private[graft] def hardNegStages(spark: SparkSession, s: DataFrame,
      pairs: DataFrame): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"aid", $"same")
      .orderBy($"sim".desc, $"bid".asc)
    val top = pairs.withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
    val pos = top.filter($"same")
      .select($"aid", $"bid".as("pos_id"), $"sim".as("pos_sim"))
    val neg = top.filter(!$"same")
      .select($"aid", $"bid".as("neg_id"), $"sim".as("neg_sim"))
    s.select($"vec_id".as("aid"), $"label")
      .join(neg, Seq("aid"), "left")
      .join(pos, Seq("aid"), "left")
      .select($"aid".as("vec_id"), $"label", $"pos_id", $"pos_sim",
        $"neg_id", $"neg_sim",
        ($"pos_sim" - $"neg_sim").as("margin"),
        (($"pos_sim" - $"neg_sim") < 0.05).as("hard"))
      .orderBy($"vec_id")
  }

  /** Product-quantization ANN with asymmetric distance computation and
    * exact re-rank (the IVFADC+R shape of Jégou/Douze/Schmid, TPAMI
    * 2011): split the 64-dim embedding into m=16 subspaces of 4 dims,
    * learn a 16-centroid codebook per subspace (one md5-seeded Lloyd
    * iteration — the [[graft.queries.CurateOps.qKmeans]] kernel with a
    * subspace key), encode every corpus vector as 16 4-bit codes, answer
    * queries by summing per-subspace lookup-table entries (no floats
    * touched during the scan), keep the ADC top-100 shortlist, and
    * re-rank it by exact L2 — only the shortlist ever reads full
    * vectors.
    *
    * Why this is THE memory technique for corpus-scale ANN: the encoded
    * corpus is m small codes per vector — at production parameters
    * (m=8–16, k=256) a 256-byte float vector becomes 8–16 bytes, so a
    * 100 TB embedding corpus scans as ~3–6 TB of codes, and each query
    * computes only m×k float distances (the LUT) before the scan
    * becomes integer lookups + m adds per candidate; full vectors are
    * read for the ~100-candidate shortlist only. Scale shape here: the
    * codebook (m×k×4 values) and the per-query LUT (|Q|×m×k decimal
    * entries) broadcast; the code table streams partition-parallel
    * through one equi-join on (subspace, code) and a (qid, vec_id)
    * partial-agg sum; shortlist and final top-5 are qid-partitioned
    * windows; the re-rank is a thin (qid, cand, d)-keyed join touching
    * |Q|×100×64 values. IVF composes on top by keying the code table
    * with the [[qAnnIvf]] coarse cell and probing cells instead of
    * full-scanning — same join, narrower scan.
    *
    * Unlike the JVM-seeded LSH/IVF rows this is fully deterministic
    * (md5-ranked seeds, squared-diff terms rounded once to
    * DECIMAL(20,9) and summed exactly, (dist, cid)/(dist, cand) argmin
    * tiebreaks), so the approximate neighbors themselves are
    * DuckDB-oracled; recall vs exact L2 is additionally floor-tested in
    * PqAdcSpec (measured 1.0 on the fixture at this operating point —
    * ADC alone ranks poorly on this unit-norm near-random fixture, 0.32
    * at m=16/k=16, which is WHY the production shape carries the
    * re-rank stage). */
  def qPqAdc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = 16 // centroids per subspace; 4-bit codes (256 at prod scale)
    // pinned keyed repartition BEFORE the ×64 explode: the embeddings
    // parquet is one row group, so without it the whole ×64×k assignment
    // fan-out runs inside a single scan task (the q_ann_md5 trap —
    // PERF.md r8; measured here 9.7 → 1.4 s warm at sf0.1)
    val emb = Tables.df(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .repartition(Tables.shufflePartitions(spark), $"vec_id")
    val dims = emb.select($"vec_id", posexplode($"v").as(Seq("d", "x")))
      .withColumn("s", ($"d" / 4).cast("int"))
    // distributed top-k (TakeOrderedAndProject) BEFORE the tiny ranking
    // window — same seeding discipline as qKmeans
    val seeds = emb.select($"vec_id",
        md5(concat(lit("pq:"), $"vec_id".cast("string"))).as("h"))
      .orderBy($"h", $"vec_id").limit(k)
      .withColumn("cid", row_number().over(Window.orderBy($"h", $"vec_id")))
      .select($"vec_id", $"cid")
    val c0 = dims.join(seeds, "vec_id").select($"cid", $"d", $"x".as("c"))

    // per-subspace argmin: the qKmeans assignment kernel with the
    // subspace in the grouping key (d determines s, so the broadcast
    // codebook join stays a plain d-equi-join)
    def assign(inp: DataFrame, cent: DataFrame): DataFrame =
      inp.join(broadcast(cent), "d")
        .select($"vec_id", $"s", $"cid",
          round(($"x" - $"c") * ($"x" - $"c"), 9)
            .cast(dec20_9).as("t"))
        .groupBy($"vec_id", $"s", $"cid").agg(sum($"t").as("dist"))
        .groupBy($"vec_id", $"s").agg(min(struct($"dist", $"cid")).as("m"))
        .select($"vec_id", $"s", $"m.cid".as("cid"))

    // codebook and code table are materialized once (localCheckpoint):
    // unlike qKmeans' 5-reference unroll, this tree reuses c1 in three
    // downstream branches and codes in two, and the ×64×k assignment
    // kernel re-derived per reference measured 3× the whole query's
    // cost. The checkpointed tables are exactly what a production index
    // build persists: m×k×4 codebook values + m codes per vector.
    // train on a deterministic 20% sample (faiss-style: codebooks come
    // from a training subsample, the full corpus is only ENCODED once);
    // c1's inner join against the sampled assignment restricts the
    // centroid means to training members automatically
    val a1 = assign(dims.filter($"vec_id" % 5 === 0), c0)
    val c1 = dims.join(a1, Seq("vec_id", "s"))
      .select($"cid", $"d",
        round($"x", 6).cast(dec18_6)
          .as("xd"))
      .groupBy($"cid", $"d")
      .agg((sum($"xd").cast("double") / count(lit(1))).as("c"))
      .localCheckpoint()
    val codes = assign(dims, c1).localCheckpoint()

    // ADC: per-query lookup table of partial distances to every
    // (subspace, centroid), then the code scan sums m LUT entries
    val lut = dims.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"s", $"d", $"x")
      .join(broadcast(c1), "d")
      .select($"qid", $"s", $"cid",
        round(($"x" - $"c") * ($"x" - $"c"), 9)
          .cast(dec20_9).as("t"))
      .groupBy($"qid", $"s", $"cid").agg(sum($"t").as("pdist"))
    val adc = codes.join(broadcast(lut), Seq("s", "cid"))
      .filter($"vec_id" =!= $"qid")
      .groupBy($"qid", $"vec_id").agg(sum($"pdist").as("adist"))
    val shortlist = adc.withColumn("rk", row_number().over(
        Window.partitionBy($"qid").orderBy($"adist", $"vec_id")))
      .filter($"rk" <= 100)
      .select($"qid", $"vec_id".as("cand"))

    // exact re-rank: only the shortlist reads full vectors
    val qd = dims.select($"vec_id".as("qid"), $"d", $"x".as("qx"))
    val cd = dims.select($"vec_id".as("cand"), $"d", $"x".as("cx"))
    val rr = shortlist.join(qd, "qid").join(cd, Seq("cand", "d"))
      .select($"qid", $"cand",
        round(($"qx" - $"cx") * ($"qx" - $"cx"), 9)
          .cast(dec20_9).as("t"))
      .groupBy($"qid", $"cand").agg(sum($"t").as("dist"))
    rr.withColumn("rk", row_number().over(
        Window.partitionBy($"qid").orderBy($"dist", $"cand")))
      .filter($"rk" <= 5)
      .select($"qid", $"rk", $"cand", $"dist".cast("double").as("dist"))
      .orderBy($"qid", $"rk")
  }

  /** Per-class embedding centroid drift matrix: the pairwise cosine
    * similarity between every two label centroids — the embedding-space
    * twin of q_kl_sources' token-distribution drift, and the standard
    * read before mixing corpora ("are these sources the same
    * distribution?") or debugging a classifier ("which classes
    * collide?"). Scale shape: the corpus collapses to k×d centroid cells
    * in ONE map-side-partial aggregate (explode → groupBy(label, dim));
    * everything after — norms, the k²/2 pairwise dots — runs on the
    * k×d = 640-row relation, so 100 TB of vectors costs one pass.
    * Determinism: elements round once to DECIMAL(18,6); the centroid is
    * the exact decimal sum cast to double, divided and rounded once to
    * DECIMAL(18,9); dots/norms are exact decimal sums of decimal
    * products; the final cosine is one shared double formula (sqrt is
    * IEEE-exact) rounded once. */
  def qCentroidDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val comps = Tables.df(spark, sfDir, "embeddings")
      .select($"label", posexplode($"embedding".cast("array<double>"))
        .as(Seq("dim", "x")))
      .select($"label", $"dim", round($"x", 6).cast(dec18_6).as("xd"))
    val cent = comps.groupBy($"label", $"dim")
      .agg(round(sum($"xd").cast("double") / count(lit(1)), 9)
        .cast(dec18_9).as("c"))
    val norms = cent.groupBy($"label")
      .agg(sum($"c" * $"c").as("n2"))
    val pairs = cent.select($"label".as("la"), $"dim", $"c".as("ca"))
      .join(cent.select($"label".as("lb"), $"dim", $"c".as("cb")), "dim")
      .filter($"la" < $"lb")
      .groupBy($"la", $"lb").agg(sum($"ca" * $"cb").as("dot"))
    pairs
      .join(norms.select($"label".as("la"), $"n2".as("na")), "la")
      .join(norms.select($"label".as("lb"), $"n2".as("nb")), "lb")
      .select($"la", $"lb",
        round($"dot".cast("double")
          / (sqrt($"na".cast("double")) * sqrt($"nb".cast("double"))), 6)
          .as("cos_sim"))
      .orderBy($"la", $"lb")
  }

  /** Media-payload dedup report over the multimodal table: exact
    * duplicate groups by md5 of the raw payload bytes, plus
    * perceptual-style near-dup BUCKETS keyed on the decoded feature
    * signature (byte-length band × first × last byte — the stub stands
    * in for a real pHash; swapping the decoder changes the signature,
    * not the plan). Exercises the real multimodal path end to end:
    * binary column → mapPartitions batch decode → relational dedup —
    * exactly how a 100 TB image corpus deduplicates (hash shuffle on
    * signatures, candidate pairs bounded per bucket, payloads never
    * pairwise-compared). One-row planning summary. */
  def qMediaDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.asMediaTable(
      Tables.df(spark, sfDir, "documents"))
    val feats = Multimodal.decodeFeatures(media).toDF()
      .select($"doc_id", expr("n_bytes div 16").as("nb"),
        $"first_byte", $"last_byte")
    val ex = media.toDF().select($"doc_id", md5($"payload").as("h"))
    val j = feats.join(ex, "doc_id")
      .localCheckpoint() // doc-thin; feeds both groupings
    val ea = j.groupBy($"h").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_exact_groups"),
        sum($"c").as("n_media"),
        sum($"c" - 1).as("n_exact_dups"))
    val ba = j.groupBy($"nb", $"first_byte", $"last_byte")
      .agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_buckets"), max($"c").as("max_bucket"),
        sum(expr("c * (c - 1) div 2")).as("near_pairs"))
    ea.crossJoin(broadcast(ba))
  }

  // ---- q_ecod ------------------------------------------------------------
  /** ECOD outlier scoring (Li et al. '22, TKDE — "unsupervised outlier
    * detection using empirical cumulative distribution functions"), the
    * two-tailed variant, over the first 8 embedding dimensions: per
    * dimension the empirical tail probability of each value is an exact
    * integer rank ratio (min of left/right tail counts — the 2R
    * grouped-rank machinery, no per-row sort), and the score sums
    * −ln(tail prob) across dimensions. Parameter-free, distribution-
    * free, embarrassingly parallel by dimension — the complement to
    * q_lof (density-based) for flagging corrupt vectors before they
    * poison an ANN index. The ln terms round once to 9dp into exact
    * decimal sums; top 20 orders by the rounded score with the vec_id
    * tie-break. */
  def qEcod(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.df(spark, sfDir, "embeddings")
    val dims = emb.select($"vec_id",
        explode(array((1 to 8).map(j =>
          struct(lit(j).as("j"),
            element_at($"embedding", j).cast("double").as("x"))): _*))
          .as("e"))
      .select($"vec_id", $"e.j".as("j"), $"e.x".as("x"))
      .localCheckpoint() // grouped ranks + the per-row join read it
    val nn = emb.agg(count(lit(1)).as("n"))
    val cum = dims.groupBy($"j", $"x").agg(count(lit(1)).as("cv"))
      .withColumn("cle", sum($"cv").over(
        Window.partitionBy($"j").orderBy($"x")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val scored = dims.join(cum, Seq("j", "x"))
      .crossJoin(broadcast(nn))
      .withColumn("term",
        round(-log(least($"cle", $"n" - $"cle" + $"cv").cast("double")
          / $"n"), 9).cast(dec28_9))
    scored.groupBy($"vec_id")
      .agg(sum($"term").as("score"))
      .join(emb.select($"vec_id", $"label"), "vec_id")
      .select($"vec_id", $"label",
        round($"score".cast("double"), 6).as("ecod_score"))
      .orderBy($"ecod_score".desc, $"vec_id".asc)
      .limit(20)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ecod" -> qEcod,
    "q_ann_multiprobe" -> qAnnMultiprobe,
    "q_media_dedup" -> qMediaDedup,
    "q_centroid_drift" -> qCentroidDrift,
    "q_pq_adc" -> qPqAdc,
    "q_hard_negatives" -> qHardNegatives,
    "q_quantize" -> qQuantize,
    "q_pca_power" -> qPcaPower,
    "q_quantize_sq" -> qQuantizeSq,
    "q_standardize" -> qStandardize,
    "q_lof" -> qLof,
    "q_ann_md5" -> qAnnMd5,
    "q_ann_rerank" -> qAnnRerank,
    "q_matryoshka" -> qMatryoshka,
    "q_ann_eval" -> qAnnEval,
    "q_srp_bands" -> qSrpBands,
    "q_embed_health" -> qEmbedHealth,
    "q_knn_cosine" -> qKnnCosine,
    "q_semcache" -> qSemcache,
    "q_knn_classify" -> qKnnClassify,
    "q_ann_lsh" -> qAnnLsh,
    "q_ann_ivf" -> qAnnIvf,
    "q_ann_knn" -> qAnnKnn,
    "q_multimodal" -> qMultimodal,
    "q_frame_sample" -> qFrameSample
  )

  val oracle: Map[String, String] = Map(
    // same once-rounded elements → exact-decimal centroid/dot/norm sums →
    // one shared cosine formula rounded once (sqrt is IEEE-exact)
    "q_centroid_drift" ->
      """WITH comps AS (
        |  SELECT label, r.d AS dim,
        |    CAST(round(CAST(embedding[r.d + 1] AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) AS xd
        |  FROM embeddings CROSS JOIN range(0, 64) r(d)),
        |cent AS (
        |  SELECT label, dim,
        |    CAST(round(CAST(sum(xd) AS DOUBLE) / count(*), 9)
        |      AS DECIMAL(18,9)) AS c
        |  FROM comps GROUP BY 1, 2),
        |norms AS (SELECT label, sum(c * c) AS n2 FROM cent GROUP BY 1),
        |pairs AS (
        |  SELECT a.label AS la, b.label AS lb, sum(a.c * b.c) AS dot
        |  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT p.la, p.lb,
        |  round(CAST(p.dot AS DOUBLE)
        |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
        |    6) AS cos_sim
        |FROM pairs p
        |JOIN norms na ON na.label = p.la
        |JOIN norms nb ON nb.label = p.lb
        |ORDER BY p.la, p.lb""".stripMargin,

    // same once-rounded DECIMAL(18,6) inputs; the pairwise CTE self-join
    // computes the identical exact cross-moment sums the Spark HOF outer
    // product emits; covariance and each normalization are the same
    // double formula rounded once to 9dp, so v3 matches bit-for-bit
    // identical affine grid (raw-double min/max/scale), identical
    // ties-away round() on the non-negative code, errors rounded once
    // into an exact decimal sum; the same len>=16 filter as q_pca_power
    "q_quantize_sq" ->
      """WITH x AS (
        |  SELECT r.k AS k, CAST(embedding[r.k + 1] AS DOUBLE) AS x
        |  FROM embeddings CROSS JOIN range(0, 16) r(k)
        |  WHERE len(embedding) >= 16),
        |mm AS (SELECT k, min(x) AS mn, max(x) AS mx FROM x GROUP BY 1),
        |sc AS (SELECT k, mn, mx, (mx - mn) / 255.0 AS scale FROM mm),
        |c AS (
        |  SELECT x.k, sc.mn, sc.mx, sc.scale,
        |    abs(x.x - (sc.mn + (CASE WHEN sc.scale = 0 THEN 0.0
        |      ELSE round((x.x - sc.mn) / sc.scale, 0) END) * sc.scale))
        |      AS err
        |  FROM x JOIN sc USING (k)),
        |a AS (
        |  SELECT k, mn, mx, scale, count(*) AS n,
        |    SUM(CAST(round(err, 9) AS DECIMAL(20,9))) AS serr,
        |    max(err) AS maxerr
        |  FROM c GROUP BY 1, 2, 3, 4)
        |SELECT CAST(k AS INT) AS dim,
        |  round(mn, 6) AS mn, round(mx, 6) AS mx,
        |  round(scale, 9) AS scale,
        |  round(CAST(serr AS DOUBLE) / n, 9) AS mean_abs_err,
        |  round(maxerr, 9) AS max_abs_err
        |FROM a ORDER BY dim""".stripMargin,

    "q_pca_power" ->
      """WITH x AS (
        |  SELECT vec_id, CAST(r.k AS INT) AS k,
        |    CAST(round(CAST(embedding[r.k + 1] AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) AS xd
        |  FROM embeddings CROSS JOIN range(0, 16) r(k)
        |  WHERE len(embedding) >= 16),
        |sums AS (SELECT k, sum(xd) AS sx, count(*) AS n FROM x GROUP BY 1),
        |cells AS (
        |  SELECT a.k AS i, b.k AS j, sum(a.xd * b.xd) AS sxy
        |  FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2),
        |cov AS (
        |  SELECT i, j,
        |    CAST(round(CAST(sxy AS DOUBLE) / si.n
        |      - (CAST(si.sx AS DOUBLE) / si.n)
        |        * (CAST(sj.sx AS DOUBLE) / si.n), 9)
        |      AS DECIMAL(20,9)) AS c
        |  FROM cells JOIN sums si ON si.k = i JOIN sums sj ON sj.k = j),
        |v0 AS (SELECT k AS j, CAST(1 AS DECIMAL(12,9)) AS v FROM sums),
        |u1 AS (SELECT i, sum(c * v) AS u FROM cov JOIN v0 USING (j)
        |  GROUP BY 1),
        |v1 AS (SELECT i AS j, CAST(round(CAST(u AS DOUBLE) /
        |    (SELECT CAST(max(abs(u)) AS DOUBLE) FROM u1), 9)
        |    AS DECIMAL(12,9)) AS v FROM u1),
        |u2 AS (SELECT i, sum(c * v) AS u FROM cov JOIN v1 USING (j)
        |  GROUP BY 1),
        |v2 AS (SELECT i AS j, CAST(round(CAST(u AS DOUBLE) /
        |    (SELECT CAST(max(abs(u)) AS DOUBLE) FROM u2), 9)
        |    AS DECIMAL(12,9)) AS v FROM u2),
        |u3 AS (SELECT i, sum(c * v) AS u FROM cov JOIN v2 USING (j)
        |  GROUP BY 1),
        |v3 AS (SELECT i AS j, CAST(round(CAST(u AS DOUBLE) /
        |    (SELECT CAST(max(abs(u)) AS DOUBLE) FROM u3), 9)
        |    AS DECIMAL(12,9)) AS v FROM u3)
        |SELECT CAST(v3.j AS BIGINT) AS dim,
        |  round(CAST(s.sx AS DOUBLE) / s.n, 9) AS mu,
        |  CAST(cd.c AS DOUBLE) AS var_d,
        |  CAST(v3.v AS DOUBLE) AS pc1
        |FROM v3 JOIN sums s ON s.k = v3.j
        |JOIN cov cd ON cd.i = v3.j AND cd.j = v3.j
        |ORDER BY dim""".stripMargin,

    // the qKmeans decimal discipline with a subspace key: squared-diff
    // terms round once to DECIMAL(20,9) and sum exactly, centroid means
    // are one exact-decimal-over-count IEEE quotient, argmins tiebreak
    // (dist, cid)/(dist, cand) — so codebooks, codes, LUT, the ADC
    // shortlist, and the exact re-rank are all engine-portable
    "q_pq_adc" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(r.d AS INT) AS d, CAST(r.d // 4 AS INT) AS s,
        |    CAST(embedding[r.d + 1] AS DOUBLE) AS x
        |  FROM embeddings CROSS JOIN range(0, 64) r(d)),
        |seeds AS (
        |  SELECT vec_id, row_number() OVER (
        |    ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)), vec_id) AS cid
        |  FROM embeddings),
        |c0 AS (
        |  SELECT s.cid, v.d, v.x AS c
        |  FROM v JOIN seeds s ON s.vec_id = v.vec_id WHERE s.cid <= 16),
        |t1 AS (
        |  SELECT v.vec_id, v.s, c.cid,
        |    SUM(CAST(round((v.x - c.c) * (v.x - c.c), 9)
        |      AS DECIMAL(20,9))) AS dist
        |  FROM v JOIN c0 c ON c.d = v.d
        |  WHERE v.vec_id % 5 = 0 GROUP BY 1, 2, 3),
        |a1 AS (
        |  SELECT vec_id, s, cid FROM (
        |    SELECT vec_id, s, cid, row_number() OVER (
        |      PARTITION BY vec_id, s ORDER BY dist, cid) AS rk FROM t1)
        |  WHERE rk = 1),
        |c1 AS (
        |  SELECT a.cid, v.d,
        |    CAST(SUM(CAST(round(v.x, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(*) AS c
        |  FROM v JOIN a1 a ON a.vec_id = v.vec_id AND a.s = v.s
        |  GROUP BY 1, 2),
        |t2 AS (
        |  SELECT v.vec_id, v.s, c.cid,
        |    SUM(CAST(round((v.x - c.c) * (v.x - c.c), 9)
        |      AS DECIMAL(20,9))) AS dist
        |  FROM v JOIN c1 c ON c.d = v.d GROUP BY 1, 2, 3),
        |codes AS (
        |  SELECT vec_id, s, cid FROM (
        |    SELECT vec_id, s, cid, row_number() OVER (
        |      PARTITION BY vec_id, s ORDER BY dist, cid) AS rk FROM t2)
        |  WHERE rk = 1),
        |lut AS (
        |  SELECT v.vec_id AS qid, v.s, c.cid,
        |    SUM(CAST(round((v.x - c.c) * (v.x - c.c), 9)
        |      AS DECIMAL(20,9))) AS pdist
        |  FROM v JOIN c1 c ON c.d = v.d
        |  WHERE v.vec_id % 100 = 0 GROUP BY 1, 2, 3),
        |adc AS (
        |  SELECT l.qid, k.vec_id AS cand, SUM(l.pdist) AS adist
        |  FROM codes k JOIN lut l ON l.s = k.s AND l.cid = k.cid
        |  WHERE k.vec_id <> l.qid GROUP BY 1, 2),
        |sl AS (
        |  SELECT qid, cand FROM (
        |    SELECT qid, cand, row_number() OVER (PARTITION BY qid
        |      ORDER BY adist, cand) AS rk FROM adc)
        |  WHERE rk <= 100),
        |rr AS (
        |  SELECT s.qid, s.cand,
        |    SUM(CAST(round((a.x - b.x) * (a.x - b.x), 9)
        |      AS DECIMAL(20,9))) AS dist
        |  FROM sl s
        |  JOIN v a ON a.vec_id = s.qid
        |  JOIN v b ON b.vec_id = s.cand AND b.d = a.d
        |  GROUP BY 1, 2)
        |SELECT qid, CAST(rk AS INT) AS rk, cand,
        |  CAST(dist AS DOUBLE) AS dist
        |FROM (
        |  SELECT qid, cand, dist, row_number() OVER (PARTITION BY qid
        |    ORDER BY dist, cand) AS rk FROM rr)
        |WHERE rk <= 5
        |ORDER BY qid, rk""".stripMargin,

    // same rounded-then-ranked similarity discipline as q_lof; the margin
    // is the identical subtraction of two 6dp doubles on both sides
    "q_hard_negatives" ->
      """WITH s AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  WHERE vec_id % 4 = 0),
        |p AS (
        |  SELECT a.vec_id AS aid, a.label AS alab, b.vec_id AS bid,
        |    a.label = b.label AS same,
        |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])), 6) AS sim
        |  FROM s a JOIN s b ON a.vec_id != b.vec_id),
        |t AS (
        |  SELECT aid, bid, sim, same, row_number() OVER (
        |    PARTITION BY aid, same ORDER BY sim DESC, bid ASC) AS rk
        |  FROM p),
        |pos AS (SELECT aid, bid AS pos_id, sim AS pos_sim
        |        FROM t WHERE same AND rk = 1),
        |neg AS (SELECT aid, bid AS neg_id, sim AS neg_sim
        |        FROM t WHERE NOT same AND rk = 1)
        |SELECT s.vec_id, s.label, p.pos_id, p.pos_sim, n.neg_id, n.neg_sim,
        |  p.pos_sim - n.neg_sim AS margin,
        |  (p.pos_sim - n.neg_sim) < 0.05 AS hard
        |FROM s
        |LEFT JOIN neg n ON n.aid = s.vec_id
        |LEFT JOIN pos p ON p.aid = s.vec_id
        |ORDER BY s.vec_id""".stripMargin,

    // identical affine code book, floor(z + 0.5) code arithmetic, and
    // once-rounded decimal error sums; the mean is the same exact-decimal
    // over count IEEE quotient
    "q_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, r.d, CAST(embedding[r.d + 1] AS DOUBLE) AS x
        |  FROM embeddings CROSS JOIN range(0, 64) r(d)),
        |mm AS (
        |  SELECT d, min(x) AS mn, max(x) AS mx,
        |    (max(x) - min(x)) / 255 AS scale
        |  FROM v GROUP BY d),
        |c AS (
        |  SELECT v.d, v.x, mm.mn, mm.scale,
        |    CASE WHEN mm.scale = 0 THEN 0
        |         ELSE CAST(floor((v.x - mm.mn) / mm.scale + 0.5) AS BIGINT)
        |    END AS q
        |  FROM v JOIN mm ON mm.d = v.d),
        |e AS (
        |  SELECT d, mn, scale, q, abs(x - (mn + q * scale)) AS err FROM c)
        |SELECT CAST(d AS INT) AS d, count(*) AS n,
        |  round(min(mn), 6) AS mn, round(min(scale), 6) AS scale,
        |  max(q) AS max_code, round(max(err), 6) AS max_abs_err,
        |  CAST(SUM(CAST(round(err, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*) AS mean_abs_err
        |FROM e GROUP BY d
        |ORDER BY d""".stripMargin,

    // same q_zscore-discipline moment sums per dimension; min() collapses
    // the per-group-constant mu/sd/n, and both z terms round to 6dp before
    // their exact decimal sums
    "q_standardize" ->
      """WITH v AS (
        |  SELECT vec_id, r.d,
        |    CAST(round(CAST(embedding[r.d + 1] AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) AS xd
        |  FROM embeddings CROSS JOIN range(0, 64) r(d)),
        |s AS (
        |  SELECT d, count(*) AS n, SUM(xd) AS sx, SUM(xd * xd) AS sx2
        |  FROM v GROUP BY d),
        |z AS (
        |  SELECT v.d, s.n,
        |    CAST(s.sx AS DOUBLE) / s.n AS mu,
        |    sqrt((CAST(s.sx2 AS DOUBLE)
        |        - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE) / s.n)
        |      / (s.n - 1)) AS sd,
        |    CAST(round((CAST(v.xd AS DOUBLE)
        |        - CAST(s.sx AS DOUBLE) / s.n)
        |      / sqrt((CAST(s.sx2 AS DOUBLE)
        |          - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE) / s.n)
        |        / (s.n - 1)), 6) AS DECIMAL(18,6)) AS z
        |  FROM v JOIN s ON s.d = v.d)
        |SELECT CAST(d AS INT) AS d, min(n) AS n,
        |  round(min(mu), 6) AS mu, round(min(sd), 6) AS sd,
        |  CAST(SUM(z) AS DOUBLE) AS sum_z,
        |  CAST(SUM(CAST(round(CAST(z AS DOUBLE) * CAST(z AS DOUBLE), 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS sum_z2
        |FROM z GROUP BY d
        |ORDER BY d""".stripMargin,

    // same simplified-top-k neighborhood (d asc = sim desc, nid
    // tie-break), same 6dp rounding of d/lrd/lof, same exact decimal
    // sums between the double steps
    "q_lof" ->
      """WITH s AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
        |p AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    CAST(1.0 - round(list_cosine_similarity(
        |      CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])), 6) AS DECIMAL(18,6)) AS d
        |  FROM s a JOIN s b ON a.vec_id != b.vec_id),
        |nn AS (
        |  SELECT qid, nid, d FROM (
        |    SELECT qid, nid, d, row_number() OVER (PARTITION BY qid
        |      ORDER BY d ASC, nid ASC) AS rk FROM p)
        |  WHERE rk <= 5),
        |kd AS (SELECT qid AS p, max(d) AS kdist FROM nn GROUP BY 1),
        |re AS (
        |  SELECT nn.qid, nn.nid, greatest(kd.kdist, nn.d) AS reach
        |  FROM nn JOIN kd ON kd.p = nn.nid),
        |lrd AS (
        |  SELECT qid, CASE WHEN SUM(reach) > 0 THEN
        |      CAST(round(5.0 / CAST(SUM(reach) AS DOUBLE), 6)
        |        AS DECIMAL(18,6)) END AS lrd
        |  FROM re GROUP BY 1),
        |lf AS (
        |  SELECT nn.qid, SUM(l2.lrd) AS slrd
        |  FROM nn JOIN lrd l2 ON l2.qid = nn.nid GROUP BY 1)
        |SELECT lf.qid AS vec_id, CAST(kd2.kdist AS DOUBLE) AS kdist,
        |  round((CAST(lf.slrd AS DOUBLE) / 5) / CAST(l1.lrd AS DOUBLE), 6)
        |    AS lof,
        |  round((CAST(lf.slrd AS DOUBLE) / 5) / CAST(l1.lrd AS DOUBLE), 6)
        |    > 1.3 AS outlier
        |FROM lf JOIN lrd l1 ON l1.qid = lf.qid
        |JOIN kd kd2 ON kd2.p = lf.qid
        |ORDER BY vec_id""".stripMargin,

    // identical md5 hyperplanes and integer nano-unit projection terms,
    // so bucket keys match bit-for-bit; the rerank reuses the established
    // CAST(... AS DOUBLE[]) cosine + round(6) pattern
    "q_ann_md5" ->
      (annMd5CtesSql + """
        |SELECT id1, id2, sim FROM ann
        |ORDER BY id1, id2""".stripMargin),

    // the same LSH chain, every indexed vector as a query: union both
    // pair directions, rank on (sim desc, vec_id), top-5
    "q_ann_knn" ->
      (annMd5CtesSql + """,
        |kcands AS (
        |  SELECT id1 AS qid, id2 AS vec_id, sim FROM ann
        |  UNION ALL
        |  SELECT id2 AS qid, id1 AS vec_id, sim FROM ann)
        |SELECT qid, vec_id, sim, CAST(r AS INT) AS rank FROM (
        |  SELECT qid, vec_id, sim, row_number() OVER (
        |    PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
        |  FROM kcands)
        |WHERE r <= 5 ORDER BY qid, rank""".stripMargin),

    // the shared key chain + the query-decile probe fan-out; the exact
    // euclidean verify sums 9dp-rounded squared-difference terms as
    // DECIMAL (the q_embed_health norm discipline) so dist is
    // bit-identical cross-engine
    "q_ann_lsh" -> annLshOracleSql,

    // md5-ordered centroid pick, exact decimal L2² assignment/probe
    // distances (ties on (d2, cell)), list_cosine rerank — the chain
    // qAnnIvf walks, re-seated from the JVM kmeans seed in r15
    "q_ann_ivf" -> annIvfOracleSql,

    // the same LSH chain + the serving-time rerank: union both pair
    // directions for the query decile, rank on (sim desc, nid)
    "q_ann_rerank" ->
      (annMd5CtesSql + """,
        |cands AS (
        |  SELECT id1 AS qid, id2 AS nid, sim FROM ann WHERE id1 % 10 = 0
        |  UNION ALL
        |  SELECT id2 AS qid, id1 AS nid, sim FROM ann WHERE id2 % 10 = 0)
        |SELECT qid, r AS rank, nid, sim FROM (
        |  SELECT qid, nid, sim, row_number() OVER (
        |    PARTITION BY qid ORDER BY sim DESC, nid) AS r
        |  FROM cands)
        |WHERE r <= 3 ORDER BY qid, rank""".stripMargin),

    // same brute-force pair pass with all three similarity widths, same
    // rank windows, per-query hit counts left-joined so zero-recall
    // queries count
    "q_matryoshka" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id % 100 = 0),
        |p AS (
        |  SELECT q.qid, e.vec_id,
        |    round(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])), 6) AS sim64,
        |    round(list_cosine_similarity((CAST(q.qv AS DOUBLE[]))[1:16],
        |      (CAST(e.embedding AS DOUBLE[]))[1:16]), 6) AS sim16,
        |    round(list_cosine_similarity((CAST(q.qv AS DOUBLE[]))[1:32],
        |      (CAST(e.embedding AS DOUBLE[]))[1:32]), 6) AS sim32
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.qid),
        |f AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY sim64 DESC, vec_id) AS r FROM p)
        |  WHERE r <= 10),
        |t16 AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY sim16 DESC, vec_id) AS r FROM p)
        |  WHERE r <= 10),
        |t32 AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY sim32 DESC, vec_id) AS r FROM p)
        |  WHERE r <= 10),
        |h16 AS (SELECT f.qid, count(*) AS hit FROM f
        |  JOIN t16 USING (qid, vec_id) GROUP BY f.qid),
        |h32 AS (SELECT f.qid, count(*) AS hit FROM f
        |  JOIN t32 USING (qid, vec_id) GROUP BY f.qid),
        |r16 AS (SELECT q.qid, COALESCE(h.hit, 0) AS hit
        |  FROM q LEFT JOIN h16 h USING (qid)),
        |r32 AS (SELECT q.qid, COALESCE(h.hit, 0) AS hit
        |  FROM q LEFT JOIN h32 h USING (qid)),
        |a16 AS (SELECT 16 AS dims, count(*) AS n_queries,
        |  round(CAST(sum(hit) AS DOUBLE) / (10.0 * count(*)), 6)
        |    AS mean_recall,
        |  round(CAST(min(hit) AS DOUBLE) / 10.0, 6) AS min_recall
        |  FROM r16),
        |a32 AS (SELECT 32 AS dims, count(*) AS n_queries,
        |  round(CAST(sum(hit) AS DOUBLE) / (10.0 * count(*)), 6)
        |    AS mean_recall,
        |  round(CAST(min(hit) AS DOUBLE) / 10.0, 6) AS min_recall
        |  FROM r32)
        |SELECT * FROM a16 UNION ALL SELECT * FROM a32
        |ORDER BY dims""".stripMargin,

    // the shared key chain (annMd5KeysCtesSql) + the probe fan-out:
    // xor() is DuckDB's integer XOR (its ^ is power), Spark's ^ is XOR;
    // truth is the same exact-cosine CTE q_ann_eval prices against
    "q_ann_multiprobe" ->
      (annMd5KeysCtesSql + ",\n" + annTruthCteSql + """,
        |cand1 AS (
        |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
        |  FROM keys a JOIN keys b ON a.tbl = b.tbl AND a.bk = b.bk
        |    AND a.vec_id < b.vec_id),
        |probes AS (
        |  SELECT vec_id AS id1, tbl,
        |    CASE WHEN p.j = -1 THEN bk
        |      ELSE xor(bk, (1::BIGINT << p.j)) END AS bk
        |  FROM keys CROSS JOIN range(-1, 8) p(j)),
        |candmp AS (
        |  SELECT DISTINCT p.id1, b.vec_id AS id2
        |  FROM probes p JOIN keys b ON b.tbl = p.tbl AND b.bk = p.bk
        |    AND p.id1 < b.vec_id),
        |costs AS (
        |  SELECT (SELECT count(*) FROM cand1) AS n_cand_1p,
        |    (SELECT count(*) FROM candmp) AS n_cand_mp),
        |ev AS (
        |  SELECT CAST(floor(t.sim * 10) AS INT) AS band,
        |    CASE WHEN c1.id1 IS NOT NULL THEN 1 ELSE 0 END AS f1,
        |    CASE WHEN cm.id1 IS NOT NULL THEN 1 ELSE 0 END AS fm
        |  FROM truth t
        |  LEFT JOIN cand1 c1 ON c1.id1 = t.id1 AND c1.id2 = t.id2
        |  LEFT JOIN candmp cm ON cm.id1 = t.id1 AND cm.id2 = t.id2)
        |SELECT band, count(*) AS n_truth,
        |  CAST(sum(f1) AS BIGINT) AS n_found_1p,
        |  CAST(sum(fm) AS BIGINT) AS n_found_mp,
        |  round(CAST(sum(f1) AS DOUBLE) / count(*), 6) AS recall_1p,
        |  round(CAST(sum(fm) AS DOUBLE) / count(*), 6) AS recall_mp,
        |  n_cand_1p, n_cand_mp
        |FROM ev CROSS JOIN costs
        |GROUP BY band, n_cand_1p, n_cand_mp
        |ORDER BY band""".stripMargin),

    // same 8 dims, same exact tail-count ranks, same 9dp ln terms
    "q_ecod" ->
      ("""WITH d AS (
        |  SELECT vec_id, j, CAST(embedding[j] AS DOUBLE) AS x
        |  FROM embeddings
        |  CROSS JOIN (SELECT CAST(unnest(range(1, 9)) AS INT) AS j)),
        |nn AS (SELECT count(*) AS n FROM embeddings),
        |bv AS (SELECT j, x, count(*) AS cv FROM d GROUP BY 1, 2),
        |cum AS (
        |  SELECT j, x, cv, sum(cv) OVER (PARTITION BY j ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cle
        |  FROM bv),
        |sc AS (
        |  SELECT d.vec_id,
        |    CAST(round(-ln(CAST(least(cle, n - cle + cv) AS DOUBLE)
        |      / n), 9) AS DECIMAL(28,9)) AS term
        |  FROM d JOIN cum ON cum.j = d.j AND cum.x = d.x
        |  CROSS JOIN nn),
        |agg AS (
        |  SELECT vec_id, round(CAST(sum(term) AS DOUBLE), 6)
        |    AS ecod_score
        |  FROM sc GROUP BY 1)
        |SELECT a.vec_id, e.label, a.ecod_score
        |FROM agg a JOIN embeddings e ON e.vec_id = a.vec_id
        |ORDER BY ecod_score DESC, a.vec_id ASC LIMIT 20""".stripMargin),

    "q_embed_health" ->
      """WITH d AS (
        |  SELECT vec_id, len(embedding) AS dim,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, dim,
        |    round(sqrt(CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(20,9)))
        |      AS DOUBLE)), 6) AS norm
        |  FROM d GROUP BY 1, 2)
        |SELECT count(*) AS n_vectors,
        |  CAST(SUM(CASE WHEN dim != 64 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_wrong_dim,
        |  CAST(SUM(CASE WHEN norm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero,
        |  min(norm) AS min_norm, max(norm) AS max_norm,
        |  round(CAST(SUM(CAST(norm AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS mean_norm
        |FROM n""".stripMargin,

    // the same LSH chain; exact truth over the same even-id subset;
    // per-decile recall = one pair-keyed left join + a tiny aggregate
    "q_ann_eval" ->
      (annMd5CtesSql + ",\n" + annTruthCteSql + """
        |SELECT CAST(floor(t.sim * 10) AS INT) AS band,
        |  count(*) AS n_truth,
        |  CAST(SUM(CASE WHEN n.id1 IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_found,
        |  round(CAST(SUM(CASE WHEN n.id1 IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS recall
        |FROM truth t
        |LEFT JOIN ann n ON n.id1 = t.id1 AND n.id2 = t.id2
        |GROUP BY band ORDER BY band""".stripMargin),
    // same truth CTE as q_ann_eval; the SRP S-curve is one shared
    // acos/pow formula (p rounded once to 9dp, P once to 6dp) on both
    // engines, the expected recall an exact decimal mean over truth
    "q_srp_bands" ->
      (s"""WITH $annTruthCteSql,
        |grid AS (SELECT * FROM (VALUES (1,64),(2,32),(4,16),(8,8),
        |  (16,4),(32,2),(64,1),(2,16),(4,8),(8,4),(16,2),(2,8),(4,4),
        |  (8,2)) g(b, r)),
        |sc AS (
        |  SELECT g.b, g.r,
        |    CAST(${srpPSql("t.sim")} AS DECIMAL(18,6)) AS p
        |  FROM truth t CROSS JOIN grid g),
        |er AS (
        |  SELECT b, r,
        |    round(CAST(sum(p) AS DOUBLE) / count(*), 6) AS exp_recall025
        |  FROM sc GROUP BY b, r)
        |SELECT g.b, g.r, g.b * g.r AS n_planes,
        |  ${srpPSql("0.25")} AS p25,
        |  ${srpPSql("0.5")} AS p50,
        |  ${srpPSql("0.9")} AS p90,
        |  er.exp_recall025
        |FROM grid g LEFT JOIN er ON er.b = g.b AND er.r = g.r
        |ORDER BY n_planes DESC, g.b""".stripMargin),

    // same strictly-earlier pair join, same 6dp shared cosine, same
    // tau spine and exact hit counts
    "q_semcache" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv
        |  FROM embeddings WHERE vec_id % 25 = 0),
        |best AS (
        |  SELECT a.qid, max(round(list_cosine_similarity(
        |      CAST(a.qv AS DOUBLE[]), CAST(b.qv AS DOUBLE[])), 6))
        |    AS best
        |  FROM q a JOIN q b ON b.qid < a.qid GROUP BY a.qid),
        |taus AS (SELECT unnest([0.70, 0.80, 0.90, 0.95]) AS tau)
        |SELECT tau, count(*) AS n_queries,
        |  CAST(sum(CASE WHEN best.best >= tau THEN 1 ELSE 0 END)
        |    AS BIGINT) AS hits,
        |  round(CAST(sum(CASE WHEN best.best >= tau THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS hit_rate
        |FROM q LEFT JOIN best ON best.qid = q.qid CROSS JOIN taus
        |GROUP BY tau ORDER BY tau""".stripMargin,

    "q_knn_cosine" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id % 100 = 0),
        |p AS (
        |  SELECT q.qid, e.vec_id,
        |    round(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])), 6) AS sim
        |  FROM q JOIN embeddings e ON e.vec_id != q.qid),
        |r AS (
        |  SELECT qid, vec_id, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC)
        |      AS rank
        |  FROM p)
        |SELECT qid, vec_id, sim, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // same neighbor CTE as q_knn_cosine; the vote and the argmax are
    // integer-exact, tie-broken (votes DESC, label ASC) in both engines
    "q_knn_classify" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv, label AS truth
        |  FROM embeddings WHERE vec_id % 100 = 0),
        |p AS (
        |  SELECT q.qid, e.vec_id,
        |    round(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])), 6) AS sim
        |  FROM q JOIN embeddings e ON e.vec_id != q.qid),
        |r AS (
        |  SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC)
        |      AS rank
        |  FROM p),
        |v AS (
        |  SELECT r.qid, e.label AS pred, CAST(count(*) AS INT) AS votes
        |  FROM r JOIN embeddings e ON r.vec_id = e.vec_id
        |  WHERE r.rank <= 10 GROUP BY 1, 2),
        |top AS (
        |  SELECT qid, pred, votes,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY votes DESC, pred ASC) AS rk
        |  FROM v)
        |SELECT t.qid, t.pred, t.votes, q.truth,
        |  t.pred = q.truth AS correct
        |FROM top t JOIN q ON t.qid = q.qid
        |WHERE t.rk = 1 ORDER BY t.qid""".stripMargin,

    // same md5-of-payload-bytes exact groups (md5(text) hashes the same
    // UTF-8 bytes), same decoded-signature buckets via the q_multimodal
    // ascii mapping. ASCII-FIXTURE ASSUMPTION (ADVICE r10 #4): ascii()
    // reads the first CHARACTER's code point (0 for empty) while the
    // Spark path signs the first raw UTF-8 payload BYTE (-1 for empty);
    // the two agree only because fixture text is non-empty ASCII, where
    // code point = octet. A multi-byte or empty-document corpus needs an
    // octet-level oracle signature instead.
    "q_media_dedup" ->
      """WITH m AS (
        |  SELECT doc_id, md5(text) AS h,
        |    CAST(octet_length(encode(text)) AS INT) // 16 AS nb,
        |    ascii(substr(text, 1, 1)) AS fb,
        |    ascii(substr(text, length(text), 1)) AS lb
        |  FROM documents),
        |ex AS (SELECT h, count(*) AS c FROM m GROUP BY 1),
        |bk AS (SELECT nb, fb, lb, count(*) AS c FROM m GROUP BY 1, 2, 3),
        |ea AS (
        |  SELECT count(*) AS n_exact_groups,
        |    CAST(sum(c) AS BIGINT) AS n_media,
        |    CAST(sum(c - 1) AS BIGINT) AS n_exact_dups
        |  FROM ex),
        |ba AS (
        |  SELECT count(*) AS n_buckets, max(c) AS max_bucket,
        |    CAST(sum(c * (c - 1) // 2) AS BIGINT) AS near_pairs
        |  FROM bk)
        |SELECT ea.n_exact_groups, ea.n_media, ea.n_exact_dups,
        |  ba.n_buckets, ba.max_bucket, ba.near_pairs
        |FROM ea CROSS JOIN ba""".stripMargin,

    "q_multimodal" ->
      """SELECT doc_id, 'text/plain' AS mime,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  ascii(substr(text, 1, 1)) AS first_byte,
        |  ascii(substr(text, length(text), 1)) AS last_byte,
        |  round(CAST(list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(text, ''),
        |          ch -> CAST(ascii(ch) AS BIGINT))),
        |      (a, b) -> a + b) AS DOUBLE)
        |    / octet_length(encode(text)), 6) AS byte_mean
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_frame_sample" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS L
        |  FROM documents WHERE doc_id % 25 = 0),
        |f AS (
        |  SELECT doc_id, text, L, unnest(range(0, 4)) AS fi FROM d),
        |b AS (
        |  SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |    CAST(fi * L // 4 AS INT) AS lo,
        |    CAST((fi + 1) * L // 4 AS INT) AS hi, text
        |  FROM f)
        |SELECT doc_id, frame_idx, hi - lo AS f_len,
        |  ascii(substr(text, lo + 1, 1)) AS f_first,
        |  ascii(substr(text, hi, 1)) AS f_last
        |FROM b WHERE hi > lo
        |ORDER BY doc_id, frame_idx""".stripMargin
  )

  /** The SRP admission probability P(s) = 1 − (1 − p^r)^b with
    * p = round(1 − acos(s)/π, 9) as one SQL expression over a grid row
    * `g` — the oracle twin of qSrpBands' shared Spark formula. */
  private def srpPSql(s: String): String =
    s"round(1.0 - pow(1.0 - pow(round(1.0 - acos($s) " +
      "/ 3.141592653589793, 9), CAST(g.r AS DOUBLE)), " +
      "CAST(g.b AS DOUBLE)), 6)"

  /** The exact cosine ≥ 0.25 truth-pair CTE over the %2 subset, shared
    * by the q_ann_eval and q_srp_bands oracles so the index's evaluation
    * and its advisor price the SAME ground truth — mirrors
    * Similarity.cosinePairsBrute on the audited subset. */
  private lazy val annTruthCteSql: String =
    """truth AS (
      |  SELECT a.vec_id AS id1, b.vec_id AS id2,
      |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |      CAST(b.embedding AS DOUBLE[])), 6) AS sim
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 0
      |    AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |      CAST(b.embedding AS DOUBLE[])), 6) >= 0.25)""".stripMargin

  /** The md5-SRP chain through bucket keys (WITH dims … keys) — the
    * oracle twin of [[annMd5Keys]], shared by the single-probe chain
    * ([[annMd5CtesSql]]) and the q_ann_multiprobe oracle so one key
    * definition serves both. */
  private[queries] lazy val annMd5KeysCtesSql: String =
    """WITH dims AS (
      |  SELECT vec_id, r.d, CAST(embedding[r.d + 1] AS DOUBLE) AS x
      |  FROM embeddings CROSS JOIN range(0, 64) r(d)
      |  WHERE vec_id % 2 = 0),
      |terms AS (
      |  SELECT vec_id, t.i // 8 AS tbl, t.i,
      |    CAST(round(round(x * ((('0x' || substr(md5(t.i::VARCHAR || ':'
      |        || d::VARCHAR), 1, 15))::BIGINT
      |      / CAST(576460752303423488 AS DOUBLE)) - 1.0), 9)
      |      * CAST(1000000000 AS DOUBLE), 0) AS BIGINT) AS term
      |  FROM dims CROSS JOIN range(0, 64) t(i)),
      |bits AS (
      |  SELECT vec_id, tbl, i, SUM(term) > 0 AS bit
      |  FROM terms GROUP BY vec_id, tbl, i),
      |keys AS (
      |  SELECT vec_id, tbl,
      |    SUM(CASE WHEN bit THEN (1::BIGINT << (i % 8))
      |        ELSE 0 END)::BIGINT AS bk
      |  FROM bits GROUP BY vec_id, tbl)""".stripMargin

  /** The q_ann_lsh oracle — the shared key chain + the query-decile probe
    * fan-out; the exact euclidean verify sums 9dp-rounded squared-
    * difference terms as DECIMAL (the q_embed_health norm discipline) so
    * dist is bit-identical cross-engine. `private[queries]` because
    * [[ServeOps]]' q_ann_served is row-identical BY CONSTRUCTION (same
    * keys, same probe rule, same verify — only the physical layout
    * changes), so it reuses this oracle verbatim: one SQL home means the
    * served result and the in-plan result can never drift apart
    * unnoticed. */
  private[queries] lazy val annLshOracleSql: String =
    annMd5KeysCtesSql + """,
      |qprobes AS (
      |  SELECT vec_id AS qid, tbl,
      |    CASE WHEN p.j = -1 THEN bk
      |      ELSE xor(bk, (1::BIGINT << p.j)) END AS bk
      |  FROM keys CROSS JOIN range(-1, 8) p(j)
      |  WHERE vec_id % 100 = 0),
      |lcand AS (
      |  SELECT DISTINCT q.qid, b.vec_id
      |  FROM qprobes q JOIN keys b ON b.tbl = q.tbl AND b.bk = q.bk
      |    AND q.qid != b.vec_id),
      |ldist AS (
      |  SELECT c.qid, c.vec_id,
      |    round(sqrt(CAST(SUM(CAST(round(
      |      (CAST(ea.embedding[r.d + 1] AS DOUBLE)
      |        - CAST(eb.embedding[r.d + 1] AS DOUBLE)) *
      |      (CAST(ea.embedding[r.d + 1] AS DOUBLE)
      |        - CAST(eb.embedding[r.d + 1] AS DOUBLE)), 9)
      |      AS DECIMAL(20,9))) AS DOUBLE)), 6) AS dist
      |  FROM lcand c
      |  JOIN embeddings ea ON ea.vec_id = c.qid
      |  JOIN embeddings eb ON eb.vec_id = c.vec_id
      |  CROSS JOIN range(0, 64) r(d)
      |  GROUP BY c.qid, c.vec_id)
      |SELECT qid, vec_id, dist FROM ldist WHERE dist <= 1.5
      |ORDER BY qid, vec_id""".stripMargin

  /** The q_ann_ivf oracle — md5-ordered centroid pick, exact decimal
    * L2² assignment/probe distances (ties on (d2, cell)), list_cosine
    * rerank. `private[queries]` because [[ServeOps]]' q_ivf_served is
    * row-identical by construction (same centroids, assignment, and
    * 2-probe serve rule — only the physical layout changes), so it
    * reuses this oracle verbatim. */
  private[queries] lazy val annIvfOracleSql: String =
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
        |assigned AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |    FROM cd) WHERE rn = 1),
        |iprobes AS (
        |  SELECT qid, cell FROM (
        |    SELECT vec_id AS qid, cell, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |    FROM cd WHERE vec_id % 100 = 0) WHERE rn <= 2),
        |icand AS (
        |  SELECT p.qid, a.vec_id,
        |    round(list_cosine_similarity(
        |      CAST(eq.embedding AS DOUBLE[]),
        |      CAST(ev.embedding AS DOUBLE[])), 6) AS sim
        |  FROM iprobes p
        |  JOIN assigned a ON a.cell = p.cell AND a.vec_id != p.qid
        |  JOIN embeddings eq ON eq.vec_id = p.qid
        |  JOIN embeddings ev ON ev.vec_id = a.vec_id)
        |SELECT qid, vec_id, sim, CAST(r AS INT) AS rank FROM (
        |  SELECT qid, vec_id, sim, row_number() OVER (
        |    PARTITION BY qid ORDER BY sim DESC, vec_id) AS r
        |  FROM icand)
        |WHERE r <= 10 ORDER BY qid, rank""".stripMargin

  /** Oracle for [[Vector2Ops.qAnnFiltered]] — assembled here because it
    * shares the private [[annMd5CtesSql]] multiprobe chain (one home
    * for the index definition, the q_ann_eval discipline). */
  private[queries] lazy val annFilteredOracleSql: String =
    annMd5CtesSql + """,
      |fcands AS (
      |  SELECT id1 AS qid, id2 AS nid, sim FROM ann WHERE id1 % 10 = 0
      |  UNION ALL
      |  SELECT id2 AS qid, id1 AS nid, sim FROM ann WHERE id2 % 10 = 0)
      |SELECT qid, r AS rank, nid, sim, label FROM (
      |  SELECT c.qid, c.nid, c.sim, eq.label,
      |    row_number() OVER (PARTITION BY c.qid
      |      ORDER BY c.sim DESC, c.nid) AS r
      |  FROM fcands c
      |  JOIN embeddings eq ON eq.vec_id = c.qid
      |  JOIN embeddings en ON en.vec_id = c.nid
      |  WHERE eq.label = en.label)
      |WHERE r <= 3 ORDER BY qid, rank""".stripMargin

  /** The md5-LSH chain through verified pairs (WITH dims … ann), shared
    * by the q_ann_md5 and q_ann_eval oracles so the index definition
    * cannot drift from its own evaluation — mirrors [[annMd5Pairs]],
    * including the r14 Hamming-1 multiprobe serving config (probe CTE:
    * xor() is DuckDB's integer XOR, its ^ is power; Spark's ^ is XOR). */
  private[queries] lazy val annMd5CtesSql: String =
    annMd5KeysCtesSql + ",\n" + """sprobes AS (
      |  SELECT vec_id AS id1, tbl,
      |    CASE WHEN p.j = -1 THEN bk
      |      ELSE xor(bk, (1::BIGINT << p.j)) END AS bk
      |  FROM keys CROSS JOIN range(-1, 8) p(j)),
      |cand AS (
      |  SELECT DISTINCT a.id1, b.vec_id AS id2
      |  FROM sprobes a JOIN keys b ON a.tbl = b.tbl AND a.bk = b.bk
      |    AND a.id1 < b.vec_id),
      |ann AS (
      |  SELECT id1, id2, round(list_cosine_similarity(
      |      CAST(ea.embedding AS DOUBLE[]),
      |      CAST(eb.embedding AS DOUBLE[])), 6) AS sim
      |  FROM cand JOIN embeddings ea ON ea.vec_id = id1
      |  JOIN embeddings eb ON eb.vec_id = id2
      |  WHERE round(list_cosine_similarity(
      |      CAST(ea.embedding AS DOUBLE[]),
      |      CAST(eb.embedding AS DOUBLE[])), 6) >= 0.25)""".stripMargin
}
