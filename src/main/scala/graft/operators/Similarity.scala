package graft.operators

import graft.functions.{CosineSimilarity, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an `array<float>` embedding column.
  *
  *  - Brute-force top-k cosine: exact, O(|queries| × |corpus|) — correct
  *    baseline, oracle-checkable, and still the right choice when the
  *    query set is small (broadcast the queries, scan the corpus once).
  *  - Bucketed random-projection LSH: approximate, candidates only meet
  *    inside matching buckets — the scale path when both sides are large.
  *
  * An IVF-style variant falls out of the LSH shape (cluster → join on
  * cluster id); at 100 TB the corpus side stays partitioned and only the
  * query side is broadcast, so no all-to-all shuffle ever happens.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector (self excluded).
    * Ranking is on round(cos, 6) with id tie-break so results are
    * engine-portable; the query side should be small (it is broadcast). */
  def knnBruteForce(embeddings: DataFrame, queries: DataFrame, k: Int)
      : DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = queries.select($"vec_id".as("qid"), $"embedding".as("qv"))
    // codegen'd native expression; bit-identical to VectorFunctions.cosineSim
    // (asserted in CosineSpec) but ~BLAS-loop-shaped in generated code
    val pairs = embeddings.join(broadcast(q), $"vec_id" =!= $"qid")
      .withColumn("sim",
        round(CosineSimilarity.of($"qv", $"embedding"), 6))
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id".asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"qid", $"vec_id", $"sim", $"rank")
  }

  /** IVF-style ANN: pick `nCells` corpus vectors as cell centroids (a
    * deterministic hash-ordered sample — the FAISS practice of training on
    * a subset, taken to its one-pass limit), assign every vector to its
    * nearest centroid, then search only the `nProbes` cells nearest to
    * each query — the inverted-file index shape (FAISS IVF-Flat) expressed
    * relationally, with no iterative fit: centroid choice is one top-k,
    * assignment is one broadcast-join pass over the corpus. At scale the
    * corpus stays partitioned by cell id and only the (tiny) centroid
    * table and query set move; candidate volume is |corpus| × nProbes /
    * nCells per query instead of |corpus|. */
  def ivfTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 8, nProbes: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // hash-ordered sample = seeded pseudo-random, engine-reproducible
    val centers = embeddings
      .orderBy(xxhash64($"vec_id"), $"vec_id").limit(nCells)
      .withColumn("center_cell",
        row_number().over(Window.orderBy($"vec_id")) - 1)
      .select($"center_cell", $"embedding".as("center"))
    // nearest-centroid via min_by: partial-aggregable (map-side combine
    // collapses the ×nCells blowup before any shuffle), deterministic
    // tie-break on (dist, cell)
    val assigned = embeddings.crossJoin(broadcast(centers))
      .withColumn("center_dist", VectorFunctions.l2Sq($"embedding", $"center"))
      .groupBy($"vec_id")
      .agg(
        min_by($"center_cell", struct($"center_dist", $"center_cell"))
          .as("cell"),
        first($"embedding").as("embedding"))
    // probe list: nProbes nearest cells per query (tiny cross join)
    val q = queries.select($"vec_id".as("qid"), $"embedding".as("qv"))
    val wProbe = Window.partitionBy($"qid")
      .orderBy($"center_dist".asc, $"center_cell".asc)
    val probes = q.crossJoin(broadcast(centers))
      .withColumn("center_dist", VectorFunctions.l2Sq($"qv", $"center"))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter($"probe_rank" <= nProbes)
      .select($"qid", $"qv", $"center_cell".as("cell"))
    // exact rerank within probed cells only
    val cand = probes.join(assigned, "cell").filter($"vec_id" =!= $"qid")
      .withColumn("sim", round(VectorFunctions.cosineSim($"qv", $"embedding"), 6))
    val wTop = Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id".asc)
    cand.withColumn("rank", row_number().over(wTop))
      .filter($"rank" <= k)
      .select($"qid", $"vec_id", $"sim", $"rank")
  }

  /** ALL pairs with cosine similarity ≥ `threshold`, as a plain
    * id-ordered self-join + exact verify — the brute-force oracle twin of
    * the near-dup decision. O(n²): correct and DuckDB-checkable at any n,
    * the right choice only when n is small or the caller pre-blocked. The
    * production path at corpus scale is [[annLshCandidates]] (recall-traded
    * LSH-routed candidates + the same exact verify); the exact-but-blocked
    * alternative [[cosinePairsComplete]] measurably does NOT prune on
    * realistic high-dim embeddings (see its doc), so for the exact
    * semantics this undisguised brute force is the honest plan. */
  def cosinePairsBrute(embeddings: DataFrame, threshold: Double)
      : DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // the O(n²) loop deserves the fast kernel and full parallelism even
    // though its complexity is honest: the native codegen'd expression
    // (bit-identical to VectorFunctions.cosineSim, asserted in
    // CosineSpec) beats the interpreted HOF fold 6-8×, and the explicit
    // keyed repartition spreads the streamed side across cores (the
    // fixture is one parquet row-group = one scan task; AQE would
    // coalesce an unpinned repartition of the small vector rows).
    // Measured r7 under the noop-sink bench: 86 → ~2 s at sf0.1.
    val a = embeddings.select($"vec_id".as("id1"), $"embedding".as("v1"))
      .repartition(graft.Tables.shufflePartitions(spark), $"id1")
    val b = embeddings.select($"vec_id".as("id2"), $"embedding".as("v2"))
    a.join(b, $"id1" < $"id2")
      .withColumn("sim",
        round(CosineSimilarity.of($"v1", $"v2"), 6))
      .filter($"sim" >= threshold)
      .select($"id1", $"id2", $"sim")
  }

  /** ALL pairs with cosine similarity ≥ `threshold` — exact, but without
    * an all-pairs join: an epsilon-grid blocking join (the classic grid-file
    * spatial-join shape, cf. the epsilon-grid-order of Böhm et al.,
    * SIGMOD'01) that is provably COMPLETE for the threshold:
    *
    *  - cosine is invariant under normalization, and for unit vectors
    *    cos(a,b) ≥ t  ⟺  ‖â−b̂‖ ≤ √(2(1−t)) = L;
    *  - a projection onto a unit vector u is 1-Lipschitz, so a qualifying
    *    pair differs by ≤ L in every projection, i.e. its cell ids
    *    (⌊p/L⌋) differ by ≤ 1 per axis;
    *  - side A keeps its own cell, side B replicates into the 3^k
    *    neighbor cells, and candidates meet in an ordinary composite-key
    *    EQUI-join (no nested loop, no cartesian); the tight |Δp| ≤ L
    *    range predicates ride in the join condition and prune before the
    *    O(d) exact verify runs.
    *
    * Unlike LSH banding this never misses a pair — recall is 1 by
    * construction — so the result is bit-identical to brute force and
    * stays oracle-checkable. SCALE HONESTY: the pruning factor is
    * geometry-limited, and for realistic high-dim embeddings it is ~none.
    * A projection of a roughly-unit d-dim vector concentrates with spread
    * ~1/√d (≈0.125 at d=64), while the cell width at t=0.8 is
    * √(2·0.2)≈0.632 — five spreads inside ONE cell — so on the repo's own
    * sf0.1 fixture every vector lands in ~2 cells per axis and the
    * "equi-join" degenerates to a skewed blocked join that is still
    * quadratic (measured round 3: slower than brute force). Keep this as
    * the completeness-preserving building block it is; for production use
    * [[annLshCandidates]], and for exact oracle semantics use the
    * undisguised [[cosinePairsBrute]].
    * Rows with zero-norm / non-finite / null embeddings are out of domain
    * (same contract as [[VectorFunctions.cosineSim]]). The one driver-side
    * action is the same one-row dimension read as the LSH index build. */
  def cosinePairsComplete(embeddings: DataFrame, threshold: Double,
      nProj: Int = 2, seed: Long = 7L): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0,1), got $threshold")
    // Pad the radius below the nominal threshold: the final filter keeps
    // round(sim, 6) >= t, which admits true cosines down to t - 5e-7; a
    // boundary pair's chordal distance can exceed √(2(1−t)) by ~8e-7, and
    // the dot/norm arithmetic has its own half-ulp slack. Deriving the
    // cell width from (t − 1e-6) covers both, preserving completeness for
    // every pair the rounded filter can keep at negligible candidate cost.
    val cellWidth = math.sqrt(2.0 * (1.0 - (threshold - 1e-6)))
    val dimRow = embeddings.filter($"embedding".isNotNull)
      .limit(1).select(size($"embedding")).collect()
    if (dimRow.isEmpty)
      return embeddings.select($"vec_id".as("id1"), $"vec_id".as("id2"),
        lit(0.0).as("sim")).limit(0)
    val dim = dimRow.head.getInt(0)
    // seeded Gaussian directions, unit-normalized driver-side (they are
    // plan literals, not data); java.util.Random's LCG is specified, so
    // the grid is deterministic across runs and engines
    val projs: Seq[Seq[Double]] = (0 until nProj).map { i =>
      val rng = new java.util.Random(seed + i)
      val v = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }
    val axes = 0 until nProj
    // repartition materializes the norm + k projections ONCE before the
    // self-join fans the base out to both sides (SURVEY §7.4.10)
    val base = projs.zipWithIndex.foldLeft(
        embeddings.select($"vec_id", $"embedding")
          .withColumn("nrm", VectorFunctions.norm($"embedding"))) {
        case (df, (u, i)) =>
          df.withColumn(s"p$i",
            VectorFunctions.dot($"embedding", typedLit(u)) / $"nrm")
      }
      .select(col("vec_id") +: col("embedding") +: axes.flatMap(i =>
        Seq(col(s"p$i"),
          floor(col(s"p$i") / cellWidth).cast("long").as(s"c$i"))): _*)
      // explicit count (ADVICE r7): keyless keyed repartition is an AQE
      // coalesce target right before the neighbor-offset fan-out
      .repartition(graft.Tables.shufflePartitions(
        embeddings.sparkSession), $"vec_id")
    val aSide = base.select(
      col("vec_id").as("id1") +: col("embedding").as("v1") +:
        axes.flatMap(i =>
          Seq(col(s"p$i").as(s"pa$i"), col(s"c$i").as(s"ca$i"))): _*)
    // every {-1,0,1}^k neighbor-offset combination; a qualifying pair
    // meets in exactly ONE of them, so no post-join dedup is needed
    val offsets = axes.foldLeft(Seq(Seq.empty[Int]))((acc, _) =>
      acc.flatMap(s => Seq(-1, 0, 1).map(s :+ _)))
    val bSide = base
      .withColumn("nb", explode(array(offsets.map(off =>
        struct(axes.map(i => (col(s"c$i") + off(i)).as(s"cb$i")): _*)): _*)))
      .select(col("vec_id").as("id2") +: col("embedding").as("v2") +:
        axes.flatMap(i =>
          Seq(col(s"p$i").as(s"pb$i"), col(s"nb.cb$i").as(s"cb$i"))): _*)
    val cellsMatch = axes.map(i => col(s"ca$i") === col(s"cb$i"))
      .reduce(_ && _)
    val withinL = axes.map(i =>
      abs(col(s"pa$i") - col(s"pb$i")) <= cellWidth).reduce(_ && _)
    aSide.join(bSide, $"id1" < $"id2" && cellsMatch && withinL)
      .withColumn("sim", round(VectorFunctions.cosineSim($"v1", $"v2"), 6))
      .filter($"sim" >= threshold)
      .select($"id1", $"id2", $"sim")
  }

  /** Approximate neighbor candidate pairs within `radius` (euclidean),
    * via random-projection LSH buckets (Datar et al. p-stable LSH, the
    * same scheme as MLlib's BucketedRandomProjectionLSH), implemented
    * natively: seeded Gaussian projection vectors broadcast to every
    * partition, `floor(v·r / bucketLength)` bucket ids, candidates meet in
    * an ordinary (table, bucket) equi-join carrying IDS ONLY, then the
    * exact distance verifies rejoined vectors. Fully deterministic
    * (java.util.Random's LCG is specified), no model fit, no all-to-all.
    * The one driver-side action is reading the vector dimension off a
    * single row — the index-build step. */
  def annLshCandidates(embeddings: DataFrame, queries: DataFrame,
      radius: Double, numTables: Int = 3, bucketLength: Double = 2.0)
      : DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // index-build step: read the (fixed — API contract) vector dimension
    // off one non-null row; an empty corpus has no neighbors at all
    val dimRow = embeddings.filter($"embedding".isNotNull)
      .limit(1).select(size($"embedding")).collect()
    if (dimRow.isEmpty)
      return queries.select($"vec_id".as("qid"), $"vec_id",
        lit(0.0).as("dist")).limit(0)
    val dim = dimRow.head.getInt(0)
    val projections = (0 until numTables).map { i =>
      val rng = new java.util.Random(42L + i)
      (i, Seq.fill(dim)(rng.nextGaussian()))
    }.toDF("tbl", "proj")
    def bucketed(df: DataFrame, idAs: String) =
      df.crossJoin(broadcast(projections))
        .select(col("vec_id").as(idAs), $"tbl",
          floor(VectorFunctions.dot($"embedding", $"proj") / bucketLength)
            .as("bucket"))
    val candidates = bucketed(queries, "qid")
      .join(bucketed(embeddings, "vec_id"), Seq("tbl", "bucket"))
      .filter($"qid" =!= $"vec_id")
      .select($"qid", $"vec_id")
      // pinned keyed repartition (the q_token_count/q_dup_spans
      // starvation fix, 4th instance): the fixture's single parquet
      // row-group leaves the bucket join on ≤14 tasks and AQE coalesces
      // the candidate shuffle, serializing the distinct + exact-verify
      // stage (wall ≈ run at 32 cores). Pinning the pair-key shuffle
      // spreads verification; distinct's required HashPartitioning is
      // already satisfied, so this adds no extra Exchange.
      .repartition(graft.Tables.shufflePartitions(spark), $"qid", $"vec_id")
      .distinct()
    candidates
      .join(queries.select($"vec_id".as("qid"), $"embedding".as("qv")),
        Seq("qid"))
      .join(embeddings.select($"vec_id", $"embedding"), Seq("vec_id"))
      .withColumn("dist",
        round(sqrt(VectorFunctions.l2Sq($"qv", $"embedding")), 6))
      .filter($"dist" <= radius)
      .select($"qid", $"vec_id", $"dist")
  }

  /** ANN top-k cosine neighbors: [[annLshCandidates]]'s bucket-routed
    * candidate pairs (ids only meet in the equi-join) + exact cosine
    * rerank + per-query top-k. Output columns and the round-to-6dp /
    * id-tie-break ranking discipline are IDENTICAL to [[knnBruteForce]],
    * so pair-list consumers (LOF, hard-negative mining) take either
    * source interchangeably — brute force for the oracle twin, this for
    * corpus scale. Recall is measured, not assumed: AnnConsumersSpec
    * asserts the floor vs the brute-force answer on the real fixture.
    *
    * `radius` bounds the euclidean candidate verify; for unit vectors
    * d = √(2−2·cos), so a cosine floor t maps to radius √(2−2t).
    * `numTables` ORs more hash tables into the candidate set (recall ↑,
    * candidates ↑). A query with fewer than k surviving candidates
    * returns a shorter neighbor list — the recall trade, which the
    * downstream consumers already tolerate (smaller neighborhood). */
  def annKnnCosine(embeddings: DataFrame, queries: DataFrame, k: Int,
      radius: Double, numTables: Int = 8, bucketLength: Double = 2.0)
      : DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cand = annLshCandidates(embeddings, queries, radius, numTables,
        bucketLength)
      .select($"qid", $"vec_id")
    val scored = cand
      .join(queries.select($"vec_id".as("qid"), $"embedding".as("qv")),
        Seq("qid"))
      .join(embeddings.select($"vec_id", $"embedding"), Seq("vec_id"))
      .withColumn("sim",
        round(CosineSimilarity.of($"qv", $"embedding"), 6))
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"qid", $"vec_id", $"sim", $"rank")
  }
}
