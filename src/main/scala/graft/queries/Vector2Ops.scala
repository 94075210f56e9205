package graft.queries

import graft.Decimals._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector-store additions (r14): binary quantization with its recall
  * price sheet, a moment-based kernel two-sample test over embedding
  * space, and label-filtered ANN serving — three capabilities every
  * production vector platform ships beside the core index.
  *
  * Determinism discipline: bit codes come from exact comparisons
  * against exact middle-two medians, Hamming distance is integer
  * xor+popcount, and the MMD moments are once-rounded decimal sums —
  * nothing here calls libm, so every output hash-checks cross-engine.
  */
object Vector2Ops extends QueryPack {

  // ---- q_binary_quantize ---------------------------------------------------
  /** Binary (1-bit) embedding quantization + its retrieval price sheet:
    * each dimension thresholds at its exact per-dimension median (the
    * balanced-bit rule), the 64 bits pack into ONE long per vector
    * (64× compression vs float32), and the report prices what that
    * costs: for the %100 query decile, recall@10 of Hamming-distance
    * top-10 (xor + popcount on the codes) against the exact-cosine
    * top-10 truth, plus the mean Hamming distance of the true
    * neighbors. This is the bit-sliced first-pass filter every modern
    * vector store offers (binary quantization + exact re-rank); the
    * report is the evidence for/against enabling it on THIS corpus.
    *
    * Scale shape: medians are per-dimension middle-two order statistics
    * (64 value-partitioned rank windows — never a global sort); codes
    * are one groupBy; the eval scans q×n CODE pairs (longs, not
    * vectors — the honest documented cost, 64× cheaper than the float
    * brute force it replaces); truth reuses the broadcast-query exact
    * pass (an evaluation op prices its own ground truth). */
  def qBinaryQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.df(spark, sfDir, "embeddings")
    val dims = emb.select($"vec_id",
        posexplode($"embedding".cast("array<double>")).as(Seq("i", "x")))
      .localCheckpoint() // median rank pass + the bit pass
    val cnt = dims.groupBy($"i").agg(count(lit(1)).as("n"))
    val wD = Window.partitionBy($"i").orderBy($"x", $"vec_id")
    val med = dims.withColumn("rn", row_number().over(wD))
      .join(broadcast(cnt), "i")
      .filter($"rn" === expr("(n + 1) div 2")
        || $"rn" === expr("(n + 2) div 2"))
      .groupBy($"i")
      .agg((sum($"x") / count(lit(1))).as("med"))
    val codes = dims.join(broadcast(med), "i")
      .groupBy($"vec_id")
      .agg(sum(when($"x" > $"med",
        expr("shiftleft(CAST(1 AS BIGINT), i)")).otherwise(0L))
        .as("code"))
      .localCheckpoint() // query side + corpus side of the code scan
    val q = codes.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"code".as("qc"))
    val ham = codes.join(broadcast(q), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id",
        expr("bit_count(code ^ qc)").as("hd"))
      .localCheckpoint() // top-10 window + the truth-distance join
    val wH = Window.partitionBy($"qid").orderBy($"hd".asc, $"vec_id".asc)
    val hamTop = ham.withColumn("r", row_number().over(wH))
      .filter($"r" <= 10).select($"qid", $"vec_id")
    // exact-cosine top-10 ground truth from its ONE home (the relation
    // q_knn_cosine publishes — VERDICT r14 #6: no per-eval re-derivation)
    val truth = VectorQueries.knnTruthTop10(spark, sfDir)
      .select($"qid", $"vec_id")
    val hits = truth.join(hamTop.withColumn("f", lit(1L)),
        Seq("qid", "vec_id"), "left")
      .groupBy($"qid").agg(sum(coalesce($"f", lit(0L))).as("hit"))
    val hamOfTrue = truth.join(ham, Seq("qid", "vec_id"))
      .groupBy($"qid").agg(sum($"hd").as("hsum"))
    hits.join(hamOfTrue, Seq("qid"))
      .select($"qid", $"hit".as("hits10"),
        round($"hit".cast("double") / 10.0, 6).as("recall10"),
        round($"hsum".cast("double") / 10.0, 6).as("mean_hamming_true"))
      .orderBy($"qid")
  }

  // ---- q_mmd_poly ----------------------------------------------------------
  /** Kernel two-sample test between label groups in embedding space,
    * WITHOUT pair joins (Gretton et al. '12 MMD, degree-2 polynomial
    * kernel): for k(x,y) = x·y, MMD² = ‖μ_A − μ_B‖²; for k(x,y) =
    * (x·y)², MMD² = ‖E_A[xx'] − E_B[xx']‖_F² — both are CLOSED FORMS in
    * per-group first/second moment matrices, so the whole test is one
    * corpus pass to a (label, i, j) cell relation plus a 45-row pair
    * join of 36-cell signatures. That is the 100 TB point: the usual
    * MMD estimator is O(n²) kernel evaluations; the polynomial-kernel
    * moment form ships k×d² numbers per group and nothing else. Scored
    * over the first 8 dimensions (d² = 36 upper-triangle cells).
    * Moment terms round once to 12dp into exact decimal sums; the two
    * MMD² values are per-cell squared diffs (off-diagonals ×2 for the
    * Frobenius count), once-rounded into decimal sums, ×1e6 for a
    * readable scale. */
  def qMmdPoly(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dims = Tables.df(spark, sfDir, "embeddings")
      .select($"vec_id", $"label",
        posexplode(slice($"embedding".cast("array<double>"), 1, 8))
          .as(Seq("i", "x")))
      .localCheckpoint() // first-moment pass + the pair-cell pass
    val m1 = dims.groupBy($"label", $"i")
      .agg((sum(round($"x", 12).cast(dec38_12)).cast("double")
        / count(lit(1))).as("m"))
    val cells = dims.join(
        dims.select($"vec_id", $"i".as("j"), $"x".as("xj")),
        Seq("vec_id"))
      .filter($"i" <= $"j")
      .groupBy($"label", $"i", $"j")
      .agg((sum(round($"x" * $"xj", 12).cast(dec38_12)).cast("double")
        / count(lit(1))).as("m2"))
    def pairs(df: DataFrame, cols: Seq[String], v: String): DataFrame = {
      val a = df.toDF(("la" +: cols :+ (v + "a")): _*)
      val b = df.toDF(("lb" +: cols :+ (v + "b")): _*)
      a.join(b, cols).filter($"la" < $"lb")
    }
    val lin = pairs(m1, Seq("i"), "m")
      .select($"la", $"lb",
        round(($"ma" - $"mb") * ($"ma" - $"mb"), 12).cast(dec38_12).as("t"))
      .groupBy($"la", $"lb")
      .agg(round(sum($"t").cast("double") * 1e6, 6).as("mmd2_lin_e6"))
    // Frobenius ×2 multiplies INSIDE the single rounding (a decimal ×
    // int would widen past precision 38 and silently drop the scale)
    val quad = pairs(cells, Seq("i", "j"), "m2")
      .select($"la", $"lb",
        round(($"m2a" - $"m2b") * ($"m2a" - $"m2b")
          * when($"i" === $"j", 1.0).otherwise(2.0), 12)
          .cast(dec38_12).as("t"))
      .groupBy($"la", $"lb")
      .agg(round(sum($"t").cast("double") * 1e6, 6).as("mmd2_quad_e6"))
    lin.join(quad, Seq("la", "lb"))
      .select($"la".as("label_a"), $"lb".as("label_b"),
        $"mmd2_lin_e6", $"mmd2_quad_e6")
      .orderBy($"label_a", $"label_b")
  }

  // ---- q_ann_filtered ------------------------------------------------------
  /** Label-FILTERED ANN serving — the "vector search with a metadata
    * predicate" feature every vector store advertises: the %10 query
    * decile's top-3 SAME-LABEL neighbors, candidates from the md5-SRP
    * multiprobe serving chain ([[VectorQueries.annMd5Pairs]] — the
    * post-filter strategy: retrieve by similarity, then apply the
    * predicate before the rank window). Deterministic end to end, so
    * the filtered neighbor lists themselves hash-check. Scale: the
    * filter is a projection over the already-bucket-routed pair list —
    * filtered search costs nothing beyond the unfiltered chain until
    * selectivity gets so low that probing must widen (that trade is
    * exactly what q_ann_multiprobe prices). */
  def qAnnFiltered(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lab = Tables.df(spark, sfDir, "embeddings")
      .select($"vec_id", $"label")
    val pairs = VectorQueries.annMd5Pairs(spark, sfDir).localCheckpoint()
    val cands = pairs.filter($"id1" % 10 === 0)
      .select($"id1".as("qid"), $"id2".as("nid"), $"sim")
      .unionAll(pairs.filter($"id2" % 10 === 0)
        .select($"id2".as("qid"), $"id1".as("nid"), $"sim"))
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid".asc)
    cands
      .join(lab.select($"vec_id".as("qid"), $"label".as("ql")), "qid")
      .join(lab.select($"vec_id".as("nid"), $"label".as("nl")), "nid")
      .filter($"ql" === $"nl")
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"qid", $"rank", $"nid", $"sim", $"ql".as("label"))
      .orderBy($"qid", $"rank")
  }

  // ---- q_pca_deflate -------------------------------------------------------
  /** Second principal direction by Hotelling deflation (the classical
    * power-method extension): pc1 from [[VectorQueries.pcaCovSums]] +
    * [[VectorQueries.pcaPowerIters]] (the SAME covariance and iteration
    * q_pca_power publishes), Rayleigh λ₁ = v₁ᵀCv₁/v₁ᵀv₁ reported, and
    * 3 power iterations over the MATERIALIZED projection-deflated
    * operator (I−P₁)C (entries c_ij − v₁_i·(Cv₁)_j/v₁ᵀv₁, one 256-row
    * checkpoint), which keeps pc2 ⊥ pc1 by construction even though
    * the 3-step pc1 is itself approximate (λ-subtraction deflation
    * measured cos ≈ 0.13 residue on this fixture; projection ≈ 0) —
    * the top-2 embedding map a curation UI plots. The report carries pc1,
    * pc2, λ₁, and the pc1·pc2 dot product as its own orthogonality
    * certificate (spec floor: |dot| small relative to the vector
    * norms). Determinism: the triple-product Rayleigh terms and every
    * deflated matrix-vector step round once to 9dp (the house
    * iteration discipline — parameters re-round each round so drift
    * cannot compound); all relations are ≤256 rows after the one
    * corpus scan inside pcaCovSums. */
  def qPcaDeflate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (_, cov) = VectorQueries.pcaCovSums(spark, sfDir)
    val v1 = VectorQueries.pcaPowerIters(spark, cov, 16)
      .localCheckpoint() // cv1, covD, lambda, and the report
    // the deflated OPERATOR materializes once as a 256-row relation:
    // ((I − v₁v₁ᵀ/v₁ᵀv₁)C)_ij = c_ij − v₁_i·(Cv₁)_j/v₁ᵀv₁ — then the 3
    // second-component iterations are literally pcaPowerIters again.
    // (The first cut re-derived the projection inside every iteration:
    // 3× the tiny-stage dispatch, 7.2 s wall for 1.2 core-s.)
    val cv1 = cov.join(broadcast(v1), "j")
      .groupBy($"i").agg(sum($"c" * $"v").as("cv"))
      .localCheckpoint() // covD + the Rayleigh numerator
    val den = v1.select(($"v" * $"v").as("t")).agg(sum($"t").as("den"))
    val covD = cov
      .join(broadcast(v1.select($"j".as("i"), $"v".as("v1i"))), "i")
      .join(broadcast(cv1.select($"i".as("j"), $"cv".as("cv1j"))), "j")
      .crossJoin(broadcast(den))
      .select($"i", $"j",
        round($"c".cast("double") - $"v1i".cast("double")
          * ($"cv1j".cast("double") / $"den".cast("double")), 9)
          .cast(dec20_9).as("c"))
      .localCheckpoint() // the 3 iterations below
    val w = VectorQueries.pcaPowerIters(spark, covD, 16)
    // Rayleigh λ₁ = v₁ᵀ(Cv₁)/v₁ᵀv₁ from the same cv1 relation
    val lam = v1.join(cv1.select($"i".as("j"), $"cv"), "j")
      .select(round($"v".cast("double") * $"cv".cast("double"), 9)
        .cast(dec28_9).as("t"))
      .agg(sum($"t").as("num"))
      .crossJoin(broadcast(den))
      .select(round(round($"num".cast("double")
        / $"den".cast("double"), 9), 6).as("lambda1"))
    // + 0.0 sign-normalizes a −0.0 rounded residue (IEEE −0.0 + 0.0 = +0.0):
    // Spark's BigDecimal round already yields +0.0 but DuckDB's round() keeps
    // the sign, so BOTH engines add 0.0 to make the certificate bit-identical.
    val dot = w.join(v1.select($"j", $"v".as("v1")), "j")
      .select(($"v" * $"v1").as("t"))
      .agg((round(sum($"t").cast("double"), 6) + lit(0.0)).as("dot12"))
    w.join(v1.select($"j", $"v".as("p1")), "j")
      .crossJoin(broadcast(lam))
      .crossJoin(broadcast(dot))
      .select($"j".cast("long").as("dim"),
        $"p1".cast("double").as("pc1"),
        $"v".cast("double").as("pc2"),
        $"lambda1", $"dot12")
      .orderBy($"dim")
  }

  // ---- q_ivf_advisor -------------------------------------------------------
  /** IVF configuration advisor (r15) — the price sheet beside the
    * graduated q_ann_ivf, completing the per-index-family advisor trio
    * (q_srp_bands for SRP-LSH, q_minhash_bands for MinHash banding):
    * every (n_cells ∈ 4/8/16, n_probes ∈ 1/2/4) config scored by
    * MEASURED recall@10 against the shared exact-cosine truth
    * ([[VectorQueries.knnTruthTop10]] — the one ground-truth home) and
    * by its candidate fraction (the cost side: what share of the corpus
    * each query touches). The (4,4) row probes every cell and anchors
    * recall 1.0 at cost ≈ 1 — the brute-force corner the trade curve
    * bends away from.
    *
    * One corpus×16 distance pass serves ALL configs: md5-ordered
    * centroids have the PREFIX property (the top-4 set ⊂ top-8 ⊂
    * top-16), so per-config assignment is an argmin over rn ≤ n_cells
    * of the same checkpointed (vec_id, rn, d2) relation — a
    * partial-aggregable min(struct), never a re-scan. Distances are
    * [[VectorQueries.decL2Sq]] exact decimals, so every assignment,
    * probe rank, and therefore the whole report hash-checks
    * cross-engine. Scale: the config fan-out multiplies only the thin
    * (vec_id, rn, d2) relation and the ≤(queries × cells) probe side;
    * candidate enumeration is a (n_cells, cell) equi-join; the eval
    * runs on the %100 query decile with the cost carried per row. */
  def qIvfAdvisor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.df(spark, sfDir, "embeddings")
    val cents = emb
      .select($"vec_id", $"embedding",
        md5(concat(lit("ivf:"), $"vec_id".cast("string"))).as("h"))
      .orderBy($"h", $"vec_id").limit(16)
      .withColumn("rn",
        row_number().over(Window.orderBy($"h", $"vec_id")))
      .select($"rn", $"embedding".as("center"))
      .localCheckpoint() // one 16-row broadcast serves every config
    // pinned keyed repartition before the ×16 exact-decimal distance
    // fan-out (r22, guide §2.5 input-skew remedy — the srpKeys /
    // cosinePairsBrute single-split trap): the fixture's embeddings
    // parquet is ONE row group, so this pass ran its 3.3 s of decimal
    // kernel in ONE task (profiled: stage dur ≈ run, 1 task, the row's
    // whole wall≫run gap); the repartition ships the thin (vec_id,
    // embedding) rows once and spreads the kernel across the session's
    // shuffle width
    val cd = emb.repartition(Tables.shufflePartitions(spark), $"vec_id")
      .crossJoin(broadcast(cents))
      .withColumn("d2", VectorQueries.decL2Sq("embedding", "center"))
      .select($"vec_id", $"rn", $"d2")
      .localCheckpoint() // corpus assignment arm + query probe arm
    val cfgC = Seq(4, 8, 16).toDF("n_cells")
    val asg = cd.crossJoin(broadcast(cfgC))
      .filter($"rn" <= $"n_cells")
      .groupBy($"n_cells", $"vec_id")
      .agg(min(struct($"d2", $"rn")).as("m"))
      .select($"n_cells", $"vec_id", $"m.rn".as("cell"))
    val wp = Window.partitionBy($"n_cells", $"qid")
      .orderBy($"d2".asc, $"rn".asc)
    val probeCells = cd.filter($"vec_id" % 100 === 0)
      .crossJoin(broadcast(cfgC))
      .filter($"rn" <= $"n_cells")
      .select($"n_cells", $"vec_id".as("qid"), $"rn", $"d2")
      .withColumn("pr", row_number().over(wp))
      .filter($"pr" <= 4)
    val cfgP = Seq(1, 2, 4).toDF("n_probes")
    val cand = probeCells.crossJoin(broadcast(cfgP))
      .filter($"pr" <= $"n_probes")
      .select($"n_cells", $"n_probes", $"qid", $"rn".as("cell"))
      .join(asg, Seq("n_cells", "cell"))
      .filter($"vec_id" =!= $"qid")
      .select($"n_cells", $"n_probes", $"qid", $"vec_id")
      .localCheckpoint() // cost count + the truth hit join
    val candN = cand.groupBy($"n_cells", $"n_probes", $"qid")
      .agg(count(lit(1)).as("nc"))
    val n = emb.agg(count(lit(1)).as("n"))
    val truth = VectorQueries.knnTruthTop10(spark, sfDir)
      .select($"qid", $"vec_id")
    val grid = cfgC.crossJoin(cfgP)
    val hits = truth.crossJoin(broadcast(grid))
      .join(cand.withColumn("f", lit(1L)),
        Seq("n_cells", "n_probes", "qid", "vec_id"), "left")
      .groupBy($"n_cells", $"n_probes", $"qid")
      .agg(sum(coalesce($"f", lit(0L))).as("hit"))
    hits.join(candN, Seq("n_cells", "n_probes", "qid"), "left")
      .crossJoin(broadcast(n))
      .groupBy($"n_cells", $"n_probes")
      .agg(count(lit(1)).as("n_queries"),
        round(avg($"hit".cast("double") / 10.0), 6).as("recall10"),
        round(avg(coalesce($"nc", lit(0L)).cast("double")
          / ($"n" - 1)), 6).as("cand_frac"))
      .orderBy($"n_cells", $"n_probes")
  }

  // ---- q_isotropy ----------------------------------------------------------
  /** Embedding-space anisotropy audit (Ethayarajh '19; Mu & Viswanath
    * '18's all-but-the-top motivation): the mean pairwise cosine over
    * ALL n(n−1) normalized-vector pairs, raw and after mean-centering —
    * WITHOUT a pair join, because Σ_{i≠j} x̂_i·x̂_j = ‖Σx̂‖² − Σ‖x̂_i‖²
    * turns the quadratic sum into two linear passes. A raw mean cosine
    * far above ~0 says the store shares a dominant direction (cosine
    * thresholds/IVF cells degrade); the centered value is what the
    * geometry looks like after the standard fix, and the gap prices the
    * fix. Scale shape: dimension explode → per-vector exact-decimal
    * norms → dim-thin component sums → closed form; the centering pass
    * broadcasts the 64-row mean. Zero vectors (undefined direction)
    * and mean-equal vectors drop from their respective passes
    * identically in both engines. */
  def qIsotropy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val comps = Tables.df(spark, sfDir, "embeddings")
      .select($"vec_id", posexplode($"embedding".cast("array<double>"))
        .as(Seq("dim", "x")))
      .select($"vec_id", $"dim", round($"x", 6).cast(dec18_6).as("xd"))
    val n2 = comps.groupBy($"vec_id")
      .agg(sum($"xd" * $"xd").as("n2")).filter($"n2" > 0)
    val xhat = comps.join(n2, "vec_id")
      .select($"vec_id", $"dim",
        round($"xd".cast("double") / sqrt($"n2".cast("double")), 9)
          .cast(dec18_9).as("xh"))
      .localCheckpoint() // raw moments + mean + centered pass
    def meanCos(unit: DataFrame): DataFrame = {
      // component sums fit (18,9) by magnitude (|xh| ≤ 1, n ≤ 1e9), and
      // the tightened precision keeps every square inside exact decimal
      // range in BOTH engines (a (28,9)² would overflow precision 38)
      val s = unit.groupBy($"dim")
        .agg(sum($"xh").cast(dec18_9).as("sd"))
        .agg(sum($"sd" * $"sd").as("ss2"))
      val h = unit.groupBy($"vec_id").agg(sum($"xh" * $"xh").as("h2"))
        .agg(sum($"h2").as("sh"), count(lit(1)).as("nv"))
      s.crossJoin(h).select($"nv",
        round(($"ss2".cast("double") - $"sh".cast("double"))
          / ($"nv".cast("double") * ($"nv" - 1)), 6).as("mean_cos"))
    }
    val raw = meanCos(xhat)
    val nvRaw = xhat.select($"vec_id").distinct()
      .agg(count(lit(1)).as("nv0"))
    val mu = xhat.groupBy($"dim").agg(sum($"xh").as("sd"))
      .crossJoin(broadcast(nvRaw))
      .select($"dim", round($"sd".cast("double") / $"nv0", 9)
        .cast(dec18_9).as("mu"))
    val cen = xhat.join(broadcast(mu), "dim")
      .select($"vec_id", $"dim",
        ($"xh" - $"mu").cast(dec18_9).as("yd")) // |yd| ≤ 2 — exact recast
    val yn2 = cen.groupBy($"vec_id")
      .agg(sum($"yd" * $"yd").as("yn2")).filter($"yn2" > 0)
    val yhat = cen.join(yn2, "vec_id")
      .select($"vec_id", $"dim",
        round($"yd".cast("double") / sqrt($"yn2".cast("double")), 9)
          .cast(dec18_9).as("xh"))
    val ctr = meanCos(yhat)
    raw.select($"nv".as("n_raw"), $"mean_cos".as("mean_cos_raw"))
      .crossJoin(ctr.select($"nv".as("n_centered"),
        $"mean_cos".as("mean_cos_centered")))
      .withColumn("anisotropy_gap",
        round($"mean_cos_raw" - $"mean_cos_centered", 6))
  }

  // ---- q_cka ---------------------------------------------------------------
  /** Linear centered-kernel alignment (Kornblith '19) between the first
    * and second 32-dim halves of the embedding — CKA(X, Y) = ‖XᵀY‖²_F /
    * (‖XᵀX‖_F·‖YᵀY‖_F) over mean-centered features — the
    * representation-similarity read behind "are these two embedding
    * blocks redundant": a CKA near 1 says half the vector (and half the
    * ANN index cost) is informationally free to drop; the
    * dimension-block twin of q_matryoshka's prefix-truncation sheet.
    * The feature-space (not sample-space) form keeps everything linear:
    * one 64×64 Gram relation from a vec-keyed self-join (constant 64²
    * fan-out per row, partial-aggregable into 4,096 cells — never a
    * sample×sample kernel), then three conditional sums over the cell
    * grid. 6dp components → exact decimal centered products → Gram
    * cells rounded once to 6dp → exact decimal squares. */
  def qCka(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val comps = Tables.df(spark, sfDir, "embeddings")
      .select($"vec_id", posexplode($"embedding".cast("array<double>"))
        .as(Seq("dim", "x")))
      .select($"vec_id", $"dim", round($"x", 6).cast(dec18_6).as("xd"))
    val nv = comps.select($"vec_id").distinct()
      .agg(count(lit(1)).as("n"))
    val mu = comps.groupBy($"dim").agg(sum($"xd").as("sx"))
      .crossJoin(broadcast(nv))
      .select($"dim",
        round($"sx".cast("double") / $"n", 9).cast(dec18_9).as("mu"))
    val cen = comps.join(broadcast(mu), "dim")
      .select($"vec_id", $"dim", ($"xd" - $"mu").cast(dec18_9).as("c"))
      .localCheckpoint() // both sides of the Gram self-join
    val gram = cen.select($"vec_id", $"dim".as("da"), $"c".as("ca"))
      .join(cen.select($"vec_id", $"dim".as("db"), $"c".as("cb")),
        "vec_id")
      .groupBy($"da", $"db").agg(sum($"ca" * $"cb").as("g"))
      .select($"da", $"db",
        round($"g".cast("double"), 6).cast(dec18_6).as("g6"))
    gram.agg(
        sum(when($"da" < 32 && $"db" >= 32, $"g6" * $"g6")).as("nxy"),
        sum(when($"da" < 32 && $"db" < 32, $"g6" * $"g6")).as("nxx"),
        sum(when($"da" >= 32 && $"db" >= 32, $"g6" * $"g6")).as("nyy"))
      .crossJoin(broadcast(nv))
      .select($"n".as("n_vecs"),
        round($"nxy".cast("double"), 6).as("hsic_xy"),
        round(sqrt($"nxx".cast("double")), 6).as("norm_x"),
        round(sqrt($"nyy".cast("double")), 6).as("norm_y"),
        round($"nxy".cast("double")
          / (sqrt($"nxx".cast("double")) * sqrt($"nyy".cast("double"))),
          6).as("cka"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pca_deflate" -> qPcaDeflate,
    "q_binary_quantize" -> qBinaryQuantize,
    "q_mmd_poly" -> qMmdPoly,
    "q_ann_filtered" -> qAnnFiltered,
    "q_ivf_advisor" -> qIvfAdvisor,
    "q_isotropy" -> qIsotropy,
    "q_cka" -> qCka
  )

  /** One power step over the materialized deflated operator for the
    * oracle chain (MATERIALIZED: DuckDB-only syntax — without it DuckDB
    * inlines every scalar subquery's upstream chain, exploding to
    * thousands of parquet opens). */
  private def deflateIterSql(prev: String, cur: String): String =
    s"""wu$cur AS MATERIALIZED (
       |  SELECT i, sum(c * v) AS u FROM covd
       |  JOIN $prev w ON w.j = covd.j GROUP BY i),
       |w$cur AS MATERIALIZED (
       |  SELECT i AS j, CAST(round(CAST(u AS DOUBLE) /
       |    (SELECT CAST(max(abs(u)) AS DOUBLE) FROM wu$cur), 9)
       |    AS DECIMAL(12,9)) AS v
       |  FROM wu$cur)""".stripMargin

  /** The q_pca_power x/sums/cells/cov/v0..v3 chain verbatim (one home
    * for the covariance + first-component definition). */
  private val pcaChainSql: String =
    """x AS (
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
      |    AS DECIMAL(12,9)) AS v FROM u3)""".stripMargin

  val oracle: Map[String, String] = Map(
    // same 6dp components, 9dp centered means, vec-keyed Gram self-join
    // into 6dp cells, exact decimal squares, one shared double chain
    "q_cka" ->
      """WITH comps AS (
        |  SELECT vec_id, r.d AS dim,
        |    CAST(round(CAST(embedding[r.d + 1] AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) AS xd
        |  FROM embeddings CROSS JOIN range(0, 64) r(d)),
        |nv AS (SELECT count(DISTINCT vec_id) AS n FROM comps),
        |mu AS (
        |  SELECT dim, CAST(round(CAST(sum(xd) AS DOUBLE)
        |      / (SELECT n FROM nv), 9) AS DECIMAL(18,9)) AS mu
        |  FROM comps GROUP BY dim),
        |cen AS (
        |  SELECT c.vec_id, c.dim,
        |    CAST(c.xd - m.mu AS DECIMAL(18,9)) AS c
        |  FROM comps c JOIN mu m ON m.dim = c.dim),
        |gram AS (
        |  SELECT a.dim AS da, b.dim AS db,
        |    CAST(round(CAST(sum(a.c * b.c) AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) AS g6
        |  FROM cen a JOIN cen b ON b.vec_id = a.vec_id
        |  GROUP BY 1, 2),
        |parts AS (
        |  SELECT
        |    sum(CASE WHEN da < 32 AND db >= 32 THEN g6 * g6 END) AS nxy,
        |    sum(CASE WHEN da < 32 AND db < 32 THEN g6 * g6 END) AS nxx,
        |    sum(CASE WHEN da >= 32 AND db >= 32 THEN g6 * g6 END) AS nyy
        |  FROM gram)
        |SELECT CAST((SELECT n FROM nv) AS BIGINT) AS n_vecs,
        |  round(CAST(nxy AS DOUBLE), 6) AS hsic_xy,
        |  round(sqrt(CAST(nxx AS DOUBLE)), 6) AS norm_x,
        |  round(sqrt(CAST(nyy AS DOUBLE)), 6) AS norm_y,
        |  round(CAST(nxy AS DOUBLE)
        |    / (sqrt(CAST(nxx AS DOUBLE)) * sqrt(CAST(nyy AS DOUBLE))), 6)
        |    AS cka
        |FROM parts""".stripMargin,

    // same 6dp components → exact decimal norms → 9dp unit vectors →
    // the identical ‖Σx̂‖² − Σ‖x̂‖² closed form, raw and mean-centered
    "q_isotropy" ->
      """WITH comps AS (
        |  SELECT vec_id, r.d AS dim,
        |    CAST(round(CAST(embedding[r.d + 1] AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) AS xd
        |  FROM embeddings CROSS JOIN range(0, 64) r(d)),
        |n2 AS (
        |  SELECT vec_id, sum(xd * xd) AS n2 FROM comps GROUP BY 1
        |  HAVING sum(xd * xd) > 0),
        |xhat AS (
        |  SELECT c.vec_id, c.dim,
        |    CAST(round(CAST(c.xd AS DOUBLE) / sqrt(CAST(n2.n2 AS DOUBLE)),
        |      9) AS DECIMAL(18,9)) AS xh
        |  FROM comps c JOIN n2 ON n2.vec_id = c.vec_id),
        |sraw AS (
        |  SELECT sum(sd * sd) AS ss2 FROM (
        |    SELECT CAST(sum(xh) AS DECIMAL(18,9)) AS sd
        |    FROM xhat GROUP BY dim)),
        |hraw AS (
        |  SELECT sum(h2) AS sh, count(*) AS nv FROM (
        |    SELECT vec_id, sum(xh * xh) AS h2 FROM xhat GROUP BY 1)),
        |nv0 AS (SELECT count(DISTINCT vec_id) AS nv0 FROM xhat),
        |mu AS (
        |  SELECT dim, CAST(round(CAST(sum(xh) AS DOUBLE)
        |      / (SELECT nv0 FROM nv0), 9) AS DECIMAL(18,9)) AS mu
        |  FROM xhat GROUP BY dim),
        |cen AS (
        |  SELECT x.vec_id, x.dim,
        |    CAST(x.xh - m.mu AS DECIMAL(18,9)) AS yd
        |  FROM xhat x JOIN mu m ON m.dim = x.dim),
        |yn2 AS (
        |  SELECT vec_id, sum(yd * yd) AS yn2 FROM cen GROUP BY 1
        |  HAVING sum(yd * yd) > 0),
        |yhat AS (
        |  SELECT c.vec_id, c.dim,
        |    CAST(round(CAST(c.yd AS DOUBLE) / sqrt(CAST(y.yn2 AS DOUBLE)),
        |      9) AS DECIMAL(18,9)) AS xh
        |  FROM cen c JOIN yn2 y ON y.vec_id = c.vec_id),
        |sc AS (
        |  SELECT sum(sd * sd) AS ss2 FROM (
        |    SELECT CAST(sum(xh) AS DECIMAL(18,9)) AS sd
        |    FROM yhat GROUP BY dim)),
        |hc AS (
        |  SELECT sum(h2) AS sh, count(*) AS nv FROM (
        |    SELECT vec_id, sum(xh * xh) AS h2 FROM yhat GROUP BY 1))
        |SELECT CAST(hraw.nv AS BIGINT) AS n_raw,
        |  round((CAST(sraw.ss2 AS DOUBLE) - CAST(hraw.sh AS DOUBLE))
        |    / (CAST(hraw.nv AS DOUBLE) * (hraw.nv - 1)), 6)
        |    AS mean_cos_raw,
        |  CAST(hc.nv AS BIGINT) AS n_centered,
        |  round((CAST(sc.ss2 AS DOUBLE) - CAST(hc.sh AS DOUBLE))
        |    / (CAST(hc.nv AS DOUBLE) * (hc.nv - 1)), 6)
        |    AS mean_cos_centered,
        |  round(round((CAST(sraw.ss2 AS DOUBLE) - CAST(hraw.sh AS DOUBLE))
        |      / (CAST(hraw.nv AS DOUBLE) * (hraw.nv - 1)), 6)
        |    - round((CAST(sc.ss2 AS DOUBLE) - CAST(hc.sh AS DOUBLE))
        |      / (CAST(hc.nv AS DOUBLE) * (hc.nv - 1)), 6), 6)
        |    AS anisotropy_gap
        |FROM sraw CROSS JOIN hraw CROSS JOIN sc CROSS JOIN hc""".stripMargin,

    // the q_pca_power chain + Rayleigh lambda1 + 3 deflated steps, all
    // terms 9dp once-rounded exactly as the Spark plan
    "q_pca_deflate" ->
      (s"""WITH ${pcaChainSql
          .replace("cov AS (", "cov AS MATERIALIZED (")
          .replace("v3 AS (", "v3 AS MATERIALIZED (")},
        |cv1 AS MATERIALIZED (
        |  SELECT i, sum(c * v) AS cv FROM cov
        |  JOIN v3 ON v3.j = cov.j GROUP BY i),
        |denc AS MATERIALIZED (
        |  SELECT CAST(sum(v * v) AS DOUBLE) AS dend FROM v3),
        |covd AS MATERIALIZED (
        |  SELECT cov.i, cov.j,
        |    CAST(round(CAST(cov.c AS DOUBLE) - CAST(t.v AS DOUBLE)
        |      * (CAST(cj.cv AS DOUBLE) / (SELECT dend FROM denc)), 9)
        |      AS DECIMAL(20,9)) AS c
        |  FROM cov JOIN v3 t ON t.j = cov.i
        |  JOIN cv1 cj ON cj.i = cov.j),
        |w0 AS (SELECT k AS j, CAST(1 AS DECIMAL(12,9)) AS v FROM sums),
        |${deflateIterSql("w0", "1")},
        |${deflateIterSql("w1", "2")},
        |${deflateIterSql("w2", "3")},
        |lam AS MATERIALIZED (
        |  SELECT round(round(CAST(sum(CAST(round(CAST(t.v AS DOUBLE)
        |    * CAST(c.cv AS DOUBLE), 9) AS DECIMAL(28,9))) AS DOUBLE)
        |    / (SELECT dend FROM denc), 9), 6) AS lambda1
        |  FROM v3 t JOIN cv1 c ON c.i = t.j),
        |dot AS (
        |  SELECT round(CAST(sum(w3.v * v3.v) AS DOUBLE), 6) + 0.0 AS dot12
        |  FROM w3 JOIN v3 ON v3.j = w3.j)
        |SELECT CAST(w3.j AS BIGINT) AS dim,
        |  CAST(v3.v AS DOUBLE) AS pc1,
        |  CAST(w3.v AS DOUBLE) AS pc2,
        |  (SELECT lambda1 FROM lam) AS lambda1,
        |  (SELECT dot12 FROM dot) AS dot12
        |FROM w3 JOIN v3 ON v3.j = w3.j
        |ORDER BY dim""".stripMargin),
    // same exact medians, same bit packing (1::BIGINT << i two's
    // complement in both engines), xor+bit_count Hamming, same windows
    "q_binary_quantize" ->
      """WITH dims AS (
        |  SELECT vec_id, r.i, CAST(embedding[r.i + 1] AS DOUBLE) AS x
        |  FROM embeddings CROSS JOIN range(0, 64) r(i)),
        |cnt AS (SELECT i, count(*) AS n FROM dims GROUP BY i),
        |med AS (
        |  SELECT i, sum(x) / count(*) AS med FROM (
        |    SELECT d.i, d.x, row_number() OVER (PARTITION BY d.i
        |      ORDER BY d.x, d.vec_id) AS rn, c.n
        |    FROM dims d JOIN cnt c ON c.i = d.i)
        |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |  GROUP BY i),
        |codes AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN d.x <= m.med THEN 0
        |      WHEN d.i = 63 THEN -9223372036854775808
        |      ELSE (1::BIGINT << d.i) END) AS BIGINT) AS code
        |  FROM dims d JOIN med m ON m.i = d.i
        |  GROUP BY vec_id),
        |q AS (SELECT vec_id AS qid, code AS qc FROM codes
        |      WHERE vec_id % 100 = 0),
        |ham AS (
        |  SELECT q.qid, c.vec_id,
        |    bit_count(xor(c.code, q.qc)) AS hd
        |  FROM codes c JOIN q ON c.vec_id != q.qid),
        |hamtop AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY hd ASC, vec_id ASC) AS r FROM ham)
        |  WHERE r <= 10),
        |truth AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qe.vec_id AS qid, e.vec_id,
        |      row_number() OVER (PARTITION BY qe.vec_id
        |        ORDER BY round(list_cosine_similarity(
        |          CAST(qe.embedding AS DOUBLE[]),
        |          CAST(e.embedding AS DOUBLE[])), 6) DESC,
        |        e.vec_id ASC) AS r
        |    FROM embeddings e
        |    JOIN embeddings qe ON qe.vec_id % 100 = 0
        |      AND e.vec_id != qe.vec_id)
        |  WHERE r <= 10),
        |hits AS (
        |  SELECT t.qid,
        |    CAST(sum(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hit
        |  FROM truth t LEFT JOIN hamtop h
        |    ON h.qid = t.qid AND h.vec_id = t.vec_id
        |  GROUP BY t.qid),
        |hot AS (
        |  SELECT t.qid, CAST(sum(ham.hd) AS BIGINT) AS hsum
        |  FROM truth t JOIN ham ON ham.qid = t.qid
        |    AND ham.vec_id = t.vec_id
        |  GROUP BY t.qid)
        |SELECT hits.qid, hits.hit AS hits10,
        |  round(CAST(hits.hit AS DOUBLE) / 10.0, 6) AS recall10,
        |  round(CAST(hot.hsum AS DOUBLE) / 10.0, 6) AS mean_hamming_true
        |FROM hits JOIN hot ON hot.qid = hits.qid
        |ORDER BY hits.qid""".stripMargin,

    // same 12dp moment terms, same upper-triangle cells with the x2
    // Frobenius weight, same 1e6 output scale
    "q_mmd_poly" ->
      """WITH dims AS (
        |  SELECT vec_id, label, r.i,
        |    CAST(embedding[r.i + 1] AS DOUBLE) AS x
        |  FROM embeddings CROSS JOIN range(0, 8) r(i)),
        |m1 AS (
        |  SELECT label, i,
        |    CAST(sum(CAST(round(x, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      / count(*) AS m
        |  FROM dims GROUP BY label, i),
        |cells AS (
        |  SELECT a.label, a.i, b.i AS j,
        |    CAST(sum(CAST(round(a.x * b.x, 12) AS DECIMAL(38,12)))
        |      AS DOUBLE) / count(*) AS m2
        |  FROM dims a JOIN dims b ON b.vec_id = a.vec_id AND a.i <= b.i
        |  GROUP BY a.label, a.i, b.i),
        |lin AS (
        |  SELECT a.label AS la, b.label AS lb,
        |    round(CAST(sum(CAST(round((a.m - b.m) * (a.m - b.m), 12)
        |      AS DECIMAL(38,12))) AS DOUBLE) * 1000000.0, 6)
        |      AS mmd2_lin_e6
        |  FROM m1 a JOIN m1 b ON b.i = a.i AND a.label < b.label
        |  GROUP BY a.label, b.label),
        |quad AS (
        |  SELECT a.label AS la, b.label AS lb,
        |    round(CAST(sum(CAST(round((a.m2 - b.m2) * (a.m2 - b.m2)
        |      * (CASE WHEN a.i = a.j THEN 1.0 ELSE 2.0 END), 12)
        |      AS DECIMAL(38,12))) AS DOUBLE)
        |      * 1000000.0, 6) AS mmd2_quad_e6
        |  FROM cells a JOIN cells b ON b.i = a.i AND b.j = a.j
        |    AND a.label < b.label
        |  GROUP BY a.label, b.label)
        |SELECT lin.la AS label_a, lin.lb AS label_b,
        |  lin.mmd2_lin_e6, quad.mmd2_quad_e6
        |FROM lin JOIN quad ON quad.la = lin.la AND quad.lb = lin.lb
        |ORDER BY label_a, label_b""".stripMargin
  ) ++ Map(
    // the serving multiprobe chain + label equality before the rank
    // window — the post-filter strategy, deterministic end to end
    "q_ann_filtered" ->
      (VectorQueries.annFilteredOracleSql),

    // the same md5-prefix centroid relation and exact decimal L2² as
    // q_ann_ivf, fanned across the (n_cells, n_probes) grid; truth is
    // the q_knn_cosine top-10 chain verbatim
    "q_ivf_advisor" ->
      """WITH scent AS (
        |  SELECT vec_id, embedding, row_number() OVER (
        |    ORDER BY md5('ivf:' || vec_id::VARCHAR), vec_id) AS rn
        |  FROM embeddings),
        |cents AS (SELECT rn, embedding AS center FROM scent
        |  WHERE rn <= 16),
        |cd AS MATERIALIZED (
        |  SELECT e.vec_id, c.rn,
        |    SUM(CAST(round(
        |      (CAST(e.embedding[r.d + 1] AS DOUBLE)
        |        - CAST(c.center[r.d + 1] AS DOUBLE)) *
        |      (CAST(e.embedding[r.d + 1] AS DOUBLE)
        |        - CAST(c.center[r.d + 1] AS DOUBLE)), 9)
        |      AS DECIMAL(20,9))) AS d2
        |  FROM embeddings e CROSS JOIN cents c
        |  CROSS JOIN range(0, 64) r(d)
        |  GROUP BY e.vec_id, c.rn),
        |cfgc AS (SELECT unnest([4, 8, 16]) AS n_cells),
        |cfgp AS (SELECT unnest([1, 2, 4]) AS n_probes),
        |asg AS MATERIALIZED (
        |  SELECT n_cells, vec_id, rn AS cell FROM (
        |    SELECT f.n_cells, cd.vec_id, cd.rn, row_number() OVER (
        |      PARTITION BY f.n_cells, cd.vec_id
        |      ORDER BY cd.d2, cd.rn) AS a
        |    FROM cd CROSS JOIN cfgc f WHERE cd.rn <= f.n_cells)
        |  WHERE a = 1),
        |pc AS (
        |  SELECT n_cells, qid, rn, pr FROM (
        |    SELECT f.n_cells, cd.vec_id AS qid, cd.rn,
        |      row_number() OVER (PARTITION BY f.n_cells, cd.vec_id
        |        ORDER BY cd.d2, cd.rn) AS pr
        |    FROM cd CROSS JOIN cfgc f
        |    WHERE cd.rn <= f.n_cells AND cd.vec_id % 100 = 0)
        |  WHERE pr <= 4),
        |cand AS MATERIALIZED (
        |  SELECT p.n_cells, g.n_probes, p.qid, a.vec_id
        |  FROM pc p CROSS JOIN cfgp g
        |  JOIN asg a ON a.n_cells = p.n_cells AND a.cell = p.rn
        |  WHERE p.pr <= g.n_probes AND a.vec_id != p.qid),
        |candn AS (
        |  SELECT n_cells, n_probes, qid, count(*) AS nc FROM cand
        |  GROUP BY 1, 2, 3),
        |nn AS (SELECT count(*) AS n FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id % 100 = 0),
        |p2 AS (
        |  SELECT q.qid, e.vec_id,
        |    round(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])), 6) AS sim
        |  FROM q JOIN embeddings e ON e.vec_id != q.qid),
        |truth AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, vec_id ASC) AS rank FROM p2)
        |  WHERE rank <= 10),
        |hits AS (
        |  SELECT g.n_cells, g.n_probes, t.qid,
        |    CAST(sum(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hit
        |  FROM truth t
        |  CROSS JOIN (SELECT * FROM cfgc CROSS JOIN cfgp) g
        |  LEFT JOIN cand c ON c.n_cells = g.n_cells
        |    AND c.n_probes = g.n_probes AND c.qid = t.qid
        |    AND c.vec_id = t.vec_id
        |  GROUP BY 1, 2, 3)
        |SELECT h.n_cells, h.n_probes,
        |  CAST(count(*) AS BIGINT) AS n_queries,
        |  round(avg(h.hit / 10.0), 6) AS recall10,
        |  round(avg(COALESCE(cn.nc, 0)
        |    / CAST((SELECT n FROM nn) - 1 AS DOUBLE)), 6) AS cand_frac
        |FROM hits h LEFT JOIN candn cn ON cn.n_cells = h.n_cells
        |  AND cn.n_probes = h.n_probes AND cn.qid = h.qid
        |GROUP BY 1, 2 ORDER BY h.n_cells, h.n_probes""".stripMargin
  )
}
