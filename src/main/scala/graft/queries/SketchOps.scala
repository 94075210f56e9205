package graft.queries

import graft.Decimals._
import graft.Tables
import graft.functions.Md5Hash.h60
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic cross-engine sketches. Spark's own approx_count_distinct
  * is engine-private (its HLL++ register layout isn't reproducible
  * outside the JVM), so q_approx is rows-only — this pack shows the
  * stronger claim: a sketch whose ESTIMATE is bit-identical across
  * engines, because every ingredient is pinned down:
  *
  *  - value hash = first 15 hex chars of md5 (60 bits, sign-safe);
  *  - register index = top 8 bits, rho = leading-zero count of the
  *    remaining 52 bits via `length(bin(x))` — an exact integer in both
  *    engines, where `floor(log2(x))` would be at the mercy of libm;
  *  - the harmonic-mean denominator Σ 2^(-M_j) is computed as the
  *    INTEGER Σ 2^(53-M_j) (max 256·2^52 < 2^63 — overflow-free), so
  *    the only floating-point steps are a handful of scalar ops on
  *    identical operands.
  *
  * The same determinism makes the sketch mergeable by construction: the
  * register table is a plain (bucket, max-rho) relation, so unioning two
  * corpora's registers with another max-groupBy IS the merge — the
  * property that lets 1000 executors sketch partitions independently.
  */
object SketchOps extends QueryPack {

  /** HyperLogLog (m=256, Flajolet et al. 2007) estimate of the distinct
    * ordering customers, reported beside the exact distinct count and the
    * relative error. One row. The customer-key cardinality (1.5k at
    * sf0.01, 15k at sf0.1) exercises the raw-HLL branch; at sf0.001 the
    * estimate drops into the linear-counting correction, so both branches
    * are oracle-covered across the fixture ladder. */
  def qHllMd5(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.df(spark, sfDir, "orders")
      .select($"o_custkey".cast("string").as("tok"))
    // register build + estimate are the shared [[hllRegs]]/[[hllEstRaw]]
    // chain (ONE home for the alpha-256 constants and the 640-threshold
    // linear-counting fallback; q_hll_setops reuses them for set algebra)
    hllEstRaw(hllRegs(toks))
      .crossJoin(broadcast(toks.agg(countDistinct($"tok").as("exact"))))
      // est and rel_err each round the UNROUNDED estimate once — deriving
      // rel_err from the rounded est would re-manufacture the
      // round-half boundary class the determinism rules forbid
      .select($"exact", round($"est_raw", 6).as("est"),
        round(abs($"est_raw" - $"exact") / $"exact", 6).as("rel_err"))
  }

  /** The CMS row hash — d independent md5-keyed hashes into w=1024
    * buckets, shared by [[qCountMin]] and the streaming twin
    * (Streams.cmsStream) so the batch and stream sketches are the SAME
    * sketch (merge law spec-replayed in R12OpsSpec). */
  private[graft] def cmsRowHash(r: Column, item: Column): Column =
    pmod(h60(r.cast("string"), lit(":"), item), lit(1024L))

  /** Count-Min sketch (Cormode & Muthukrishnan 2005) frequency estimates
    * for the corpus's top-20 tokens, beside exact counts. d=4 rows ×
    * w=1024 buckets, md5-keyed row hashes — the counter matrix is a plain
    * (row, bucket, count) relation built by one groupBy, so two corpora's
    * sketches merge by summing counters (the map-side-combine property
    * that makes CMS the standard distributed heavy-hitter sketch). The
    * estimate min-over-rows never underestimates; the oracle checks the
    * estimates themselves, not just the bound. */
  def qCountMin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.df(spark, sfDir, "documents")
      .select(explode(TextFunctions.tokens($"text")).as("tok"))
    def rowHash(r: Column, tok: Column): Column = cmsRowHash(r, tok)
    // aggregate to (tok, count) FIRST: the 4× seed explode and the md5
    // hashing then run over the vocabulary, not the corpus — one pass
    // over the token stream total (was 2.2 s at sf0.1 with the explode
    // before the groupBy, 4 corpus-sized md5 passes)
    val tokCounts = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val cms = tokCounts
      .select(explode(sequence(lit(0), lit(3))).as("r"), $"tok", $"cnt")
      .select($"r", rowHash($"r", $"tok").as("b"), $"cnt")
      .groupBy($"r", $"b").agg(sum($"cnt").as("c"))
    val top = tokCounts.withColumnRenamed("cnt", "exact")
      .orderBy($"exact".desc, $"tok").limit(20)
    top.select($"tok", $"exact",
        explode(sequence(lit(0), lit(3))).as("r"))
      .select($"tok", $"exact", $"r", rowHash($"r", $"tok").as("b"))
      .join(cms, Seq("r", "b"))
      .groupBy($"tok", $"exact")
      .agg(min($"c").as("est"))
      .orderBy($"exact".desc, $"tok")
  }

  // ---- q_bloom_filter ----------------------------------------------------
  /** Bloom-filter membership pre-screen for incremental ingest dedup
    * (Bloom, CACM'70): the standing corpus's 3-gram shingles populate an
    * m=65536-bit / k=4-hash filter, the new batch's shingles probe it,
    * and the report prices the filter against exact truth — true-positive
    * count (MUST equal the present count: a Bloom filter has no false
    * negatives, spec-pinned), measured false-positive rate, and the
    * fill-ratio theory FPR ≈ fill^k it should track. At corpus scale
    * this is the cheap gate in front of q_dedup_incremental's shingle
    * probes: only shingles the filter admits pay for the shuffle.
    *
    * Scale shape: the filter IS a mergeable relation — the distinct set
    * of set bit positions (executors filter partitions independently;
    * union-distinct is the OR). Build = one vocabulary-thin distinct +
    * a ×k projection; probe = one pos-keyed semi-join + per-key count;
    * the verdict aggregate is one row. All hashes md5-keyed (the
    * family's portable 60-bit form); theory FPR = fill·fill·fill·fill
    * by explicit multiplication — pow() is libm, products of identical
    * doubles are not. */
  /** Filter geometry shared by the batch report and the streaming probe. */
  private[graft] val bloomM = 65536
  private[graft] val bloomK = 4

  /** The i-th md5 bit position of `key` — the shared hashing rule of the
    * batch build and the stream probe. */
  private[graft] def bloomPos(i: Column, key: Column): Column =
    h60(lit("bf"), i.cast("string"), lit(":"), key) % bloomM

  /** The k bit positions of every `key` row (other columns kept). */
  private[graft] def bloomPositions(keys: DataFrame): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    keys.crossJoin(broadcast(spark.range(0, bloomK).toDF("i")))
      .withColumn("pos", bloomPos($"i", $"key"))
      .drop("i")
  }

  /** The standing-corpus filter: the distinct set-bit positions (the
    * mergeable relation form of the bitmap). */
  private[graft] def bloomBits(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val corpus = Tables.df(spark, sfDir, "documents")
      .filter($"doc_id" % 4 =!= 0)
      .select(explode(TextFunctions.shingles($"text", 3)).as("key"))
      .distinct()
    bloomPositions(corpus).select($"pos").distinct()
  }

  def qBloomFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val m = bloomM; val k = bloomK
    // pinned keyed repartition before the shingle explode (r22, guide
    // §2.5): the single-split documents scan ran shingling + the ×4 md5
    // position fan-out in one task per pass (profiled: 2.0/0.8/0.8 s
    // single-task stages). Raw rows ship once per pass; the exploded
    // shingle stream they feed is ~10× larger.
    val sh = Tables.df(spark, sfDir, "documents")
      .repartition(graft.Tables.shufflePartitions(spark), $"doc_id")
      .select($"doc_id",
        explode(TextFunctions.shingles($"text", 3)).as("key"))
    // checkpoint the corpus key set (3 consumers: bit build, membership
    // join, n_keys count) — halves run core-seconds (6.5 → 3.8 at
    // sf0.1), wall-neutral locally because the stage graph is already
    // serialized; at cluster scale the saved recomputation is the bill.
    // Probe/bits checkpoints measured NET-negative on wall (+0.5 s of
    // eager-job latency for little reuse) and stay un-materialized.
    // NO pinned repartition after the distincts (r22, measured A/B):
    // re-widening the AQE-coalesced distinct output for the ×4 md5
    // position fan-out was tried and dropped — same-window walls
    // overlap (2.14–2.56 s with vs 2.24–2.34 s without) while the
    // extra same-key exchanges add +132 tasks / +7 run core-s; the
    // narrow checkpoint is a fixture-size phenomenon (the key set is
    // ~2 MB here; at scale AQE's advisory already leaves it wide).
    val corpus = sh.filter($"doc_id" % 4 =!= 0).select($"key").distinct()
      .localCheckpoint()
    val probe = sh.filter($"doc_id" % 4 === 0).select($"key").distinct()
    def positions(keys: DataFrame): DataFrame =
      bloomPositions(keys).select($"key", $"pos")
    val bits = positions(corpus).select($"pos").distinct()
    val hits = positions(probe)
      .join(bits, Seq("pos"), "left_semi")
      .groupBy($"key").agg(count(lit(1)).as("nhit"))
    val verdict = probe
      .join(hits, Seq("key"), "left")
      .join(corpus.select($"key", lit(true).as("in_corpus")),
        Seq("key"), "left")
      .select(
        (coalesce($"nhit", lit(0L)) === k).as("member"),
        coalesce($"in_corpus", lit(false)).as("in_corpus"))
    verdict
      .agg(
        coalesce(sum(when($"in_corpus", 1L)), lit(0L)).as("n_present"),
        coalesce(sum(when(!$"in_corpus", 1L)), lit(0L)).as("n_absent"),
        coalesce(sum(when($"in_corpus" && $"member", 1L)), lit(0L))
          .as("tp"),
        coalesce(sum(when(!$"in_corpus" && $"member", 1L)), lit(0L))
          .as("fp"))
      .crossJoin(broadcast(bits.agg(count(lit(1)).as("bits_set"))))
      .crossJoin(broadcast(corpus.agg(count(lit(1)).as("n_keys"))))
      .withColumn("fill", round($"bits_set".cast("double") / m, 6))
      .withColumn("fpr_measured",
        when($"n_absent" > 0,
          round($"fp".cast("double") / $"n_absent", 6)))
      .withColumn("fpr_theory",
        round(($"fill" * $"fill") * ($"fill" * $"fill"), 6))
      .select($"n_keys", $"bits_set", $"fill", $"n_present", $"n_absent",
        $"tp", $"fp", $"fpr_measured", $"fpr_theory")
  }

  // ---- q_ddsketch --------------------------------------------------------
  /** ln(γ) for γ = 1.02 and the bucket-midpoint factor 2/(γ+1), as
    * 16-digit literals shared verbatim by both engines (the BM25
    * libm-free-constant discipline): relative accuracy α = (γ−1)/(γ+1)
    * ≈ 0.99 %. */
  private[graft] val ddLnGamma = 0.0198026272961797
  private val ddMid = 0.9900990099009901

  /** The DDSketch bucket rule, shared verbatim by [[qDdsketch]] and the
    * streaming twin (Streams.ddsketchStream) so the two sketches merge. */
  private[graft] def ddBucket(x: Column): Column =
    ceil(round(log(x) / ddLnGamma, 9)).cast("long")

  /** DDSketch relative-error quantiles (Masson, Lee & Rim, VLDB'19)
    * over order totals — THE mergeable quantile sketch for a metrics
    * pipeline: bucket i = ⌈ln(x)/ln γ⌉ guarantees every estimate within
    * γ-relative error of the true quantile, and the sketch is a plain
    * (bucket, count) relation, so partial sketches merge by summing
    * counts (unlike exact percentile, which needs the full sort). The
    * report prices the sketch against the engine's exact percentile at
    * q ∈ {0.5, 0.9, 0.99}: estimate, exact, and measured relative error
    * (spec-pinned ≤ α plus interpolation slack).
    *
    * Scale shape: one scan → bucket-thin groupBy (≈ ln(range)/ln γ ≈
    * 600 buckets for any money-scaled column) → window cumsum over the
    * bucket relation only → 3-row quantile lookup. Determinism: the
    * ln(x) quotient rounds to 9 digits before the ceil (the established
    * libm-boundary discipline); bucket counts are exact integers. */
  def qDdsketch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val x = Tables.df(spark, sfDir, "orders")
      .select($"o_totalprice".cast("double").as("x"))
    val buckets = x
      .select(ddBucket($"x").as("b"))
      .groupBy($"b").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy($"b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = buckets.withColumn("cum", sum($"cnt").over(w))
    val tot = buckets.agg(sum($"cnt").as("n"))
    val qs = spark.range(0, 3).toDF("i")
      .select(element_at(array(lit(0.5), lit(0.9), lit(0.99)),
        $"i".cast("int") + 1).as("q"))
    val picked = cum.crossJoin(broadcast(tot))
      .crossJoin(broadcast(qs))
      .filter($"cum" >= ceil($"q" * $"n"))
      .groupBy($"q", $"n").agg(min($"b").as("b"))
    val exact = x.agg(
      expr("percentile(x, 0.5)").as("e1"),
      expr("percentile(x, 0.9)").as("e2"),
      expr("percentile(x, 0.99)").as("e3"))
    val est = round(exp($"b".cast("double") * ddLnGamma) * ddMid, 4)
    picked.crossJoin(broadcast(exact))
      .select($"q", $"n", $"b".as("bucket"), est.as("est"),
        round(when($"q" === 0.5, $"e1").when($"q" === 0.9, $"e2")
          .otherwise($"e3"), 4).as("exact"))
      .select($"q", $"n", $"bucket", $"est", $"exact",
        round(abs($"est" - $"exact") / $"exact", 6).as("rel_err"))
      .orderBy($"q")
  }

  // ---- q_join_cardest ----------------------------------------------------
  /** Sketch-based join-cardinality estimation (the AGMS "tug-of-war"
    * inner-product estimator with CountSketch bucketing, Alon–Matias–
    * Szegedy '96 §3 / Charikar–Chen–Farach-Colton '02) — the optimizer
    * statistic that decides broadcast-vs-shuffle before a join runs:
    * hash each side's key-count relation into 1024 md5 buckets with a
    * ±1 md5 sign per key, and Σ_b yA(b)·yB(b) (y = Σ sign·count) is an
    * UNBIASED estimate of |A ⋈ B| = Σ_k a_k·b_k (self-join F2 when
    * A = B): colliding keys cancel in expectation instead of inflating
    * (the unsigned variant measured 3× high on this fixture). The
    * report prices both estimators against exact truth computed from
    * the same key relations: a filtered dimension join (lineitem ×
    * small parts) and the partkey self-join.
    *
    * Scale shape: everything is key-grouped first (vocabulary-thin),
    * bucket aggregates are 1024 rows, and the exact truths join group
    * relations — the corpus is scanned once per side, never paired. */
  def qJoinCardest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def bucketed(keyed: DataFrame): DataFrame =
      keyed.select(
        pmod(h60(lit("jc:"), $"k".cast("string")), lit(1024L)).as("b"),
        (($"cnt" * (pmod(h60(lit("sg:"), $"k".cast("string")), lit(2L))
          * 2L - 1L))).as("sc"))
        .groupBy($"b").agg(sum($"sc").as("c"))
    val li = Tables.df(spark, sfDir, "lineitem")
      .groupBy($"l_partkey".as("k")).agg(count(lit(1)).as("cnt"))
    val pt = Tables.df(spark, sfDir, "part")
      .filter($"p_size" <= 5)
      .groupBy($"p_partkey".as("k")).agg(count(lit(1)).as("cnt"))
    val liB = bucketed(li)
    val ptB = bucketed(pt)
    val estDim = liB.join(ptB.withColumnRenamed("c", "c2"), "b")
      .agg(sum($"c" * $"c2").as("est"))
    val exactDim = li.join(pt.withColumnRenamed("cnt", "cnt2"), "k")
      .agg(sum($"cnt" * $"cnt2").as("exact"))
    val estSelf = liB.agg(sum($"c" * $"c").as("est"))
    val exactSelf = li.agg(sum($"cnt" * $"cnt").as("exact"))
    val dim = exactDim.crossJoin(estDim)
      .select(lit("lineitem_x_small_parts").as("join_name"),
        $"exact", $"est")
    val slf = exactSelf.crossJoin(estSelf)
      .select(lit("lineitem_selfjoin_partkey").as("join_name"),
        $"exact", $"est")
    dim.unionAll(slf)
      .select($"join_name", $"exact", $"est",
        round($"est".cast("double") / $"exact", 6).as("inflation"))
      .orderBy($"join_name")
  }

  // ---- q_selectivity_est -------------------------------------------------
  /** Histogram-based predicate-selectivity estimation — the second
    * optimizer statistic beside [[qJoinCardest]]: a 20-bin equi-width
    * histogram on order totals estimates three range predicates'
    * cardinalities by uniform intra-bin interpolation, priced against
    * the exact counts. This is precisely the model behind ANALYZE
    * TABLE ... FOR COLUMNS bin_counts and Catalyst's
    * FilterEstimation; the report shows where uniformity holds and
    * where it lies. Shape: one min/max/count pass, one 20-row bin
    * aggregate, and a 3×20 broadcast overlap relation — all exact
    * integers under one shared interpolation formula. */
  def qSelectivityEst(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val x = Tables.df(spark, sfDir, "orders")
      .select($"o_totalprice".cast("double").as("x"))
    val stats = x.agg(min($"x").as("mn"), max($"x").as("mx"),
      count(lit(1)).as("n"),
      sum(when($"x" < 100000.0, 1L).otherwise(0L)).as("a1"),
      sum(when($"x" >= 100000.0 && $"x" < 200000.0, 1L).otherwise(0L))
        .as("a2"),
      sum(when($"x" >= 400000.0, 1L).otherwise(0L)).as("a3"))
    val hist = x.crossJoin(broadcast(stats))
      .select(least(floor(($"x" - $"mn")
        / (($"mx" - $"mn") / lit(20.0))), lit(19.0)).cast("int").as("b"))
      .groupBy($"b").agg(count(lit(1)).as("cnt"))
    val preds = stats.selectExpr(
      """stack(3,
        |  'p1_lt_100k',      mn,       CAST(100000.0 AS DOUBLE), a1,
        |  'p2_100k_to_200k', CAST(100000.0 AS DOUBLE), CAST(200000.0 AS DOUBLE), a2,
        |  'p3_ge_400k',      CAST(400000.0 AS DOUBLE), mx, a3
        |) AS (pred, lo, hi, actual)""".stripMargin.replace("\n", " "),
      "mn", "mx")
    val est = hist.crossJoin(broadcast(preds))
      .withColumn("w", ($"mx" - $"mn") / lit(20.0))
      .withColumn("blo", $"mn" + $"b" * $"w")
      .withColumn("ov", greatest(lit(0.0),
        (least($"hi", $"blo" + $"w") - greatest($"lo", $"blo")) / $"w"))
      .groupBy($"pred", $"actual")
      .agg(sum(round($"cnt" * least($"ov", lit(1.0)), 4).cast(dec18_4))
        .as("est"))
    est.select($"pred", round($"est".cast("double"), 1).as("est_rows"),
      $"actual",
      round($"est".cast("double") / greatest($"actual", lit(1L)), 4)
        .as("ratio"))
      .orderBy($"pred")
  }

  // ---- q_zonemap_prune ---------------------------------------------------
  /** Zone-map (min/max statistics) pruning report — the data-skipping
    * model behind parquet row-group and Delta file pruning, measured on
    * two physical layouts of the SAME rows: 32 zones in arrival
    * (orderkey) order vs 32 zones after clustering by the predicate
    * column. For `o_totalprice > 450000`, a zone skips iff its max ≤
    * the threshold; the report counts skippable zones, the fraction of
    * rows those zones avoid scanning, and proves soundness (matches
    * lost to skipping = 0, spec-pinned). The point a table designer
    * reads off: identical data, identical predicate — the clustered
    * layout prunes almost everything, the arrival layout almost
    * nothing. That delta IS the zorder/cluster-by payoff at 100 TB. */
  def qZonemapPrune(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val thr = 450000.0
    val o = Tables.df(spark, sfDir, "orders")
      .select($"o_orderkey".as("k"), $"o_totalprice".cast("double").as("x"))
    val stats = o.agg(max($"k").as("mxk"), min($"x").as("mn"),
      max($"x").as("mx"))
    val zoned = o.crossJoin(broadcast(stats))
      .select($"x",
        expr("(k * 32) div (mxk + 1)").cast("int").as("z_arrival"),
        least(floor(($"x" - $"mn") / (($"mx" - $"mn") / lit(32.0))),
          lit(31.0)).cast("int").as("z_clustered"))
    def report(zc: String, label: String): DataFrame = {
      val zm = zoned.groupBy(col(zc).as("z")).agg(
        count(lit(1)).as("rows"), max($"x").as("zmax"),
        sum(when($"x" > thr, 1L).otherwise(0L)).as("matches"))
      zm.agg(
        count(lit(1)).as("n_zones"),
        sum(when($"zmax" <= thr, 1L).otherwise(0L)).as("n_skippable"),
        sum($"rows").as("rows_total"),
        sum(when($"zmax" <= thr, $"rows").otherwise(0L))
          .as("rows_skipped"),
        sum(when($"zmax" <= thr, $"matches").otherwise(0L))
          .as("matches_missed"))
        .select(lit(label).as("layout"), $"n_zones", $"n_skippable",
          round($"rows_skipped".cast("double") / $"rows_total", 4)
            .as("frac_rows_skipped"), $"matches_missed")
    }
    report("z_arrival", "arrival_order")
      .unionAll(report("z_clustered", "clustered_by_price"))
      .orderBy($"layout")
  }

  // ---- q_hll_setops ------------------------------------------------------
  /** The q_hll_md5 register chain factored for reuse: token relation →
    * (bucket, m_j). Registers over the RAW stream equal registers over
    * the distinct set (max is idempotent), the q_hll_md5 standing
    * note. */
  /** The HLL register rule — md5 hash → (bucket, rho) struct, shared by
    * [[hllRegs]] (q_hll_md5 / q_hll_setops) and the streaming twin
    * (Streams.hllStream) so the batch and stream sketches are the SAME
    * sketch (the cmsRowHash precedent; merge law spec-replayed in
    * R13OpsSpec). */
  private[graft] def hllReg(tok: Column): Column = {
    val h = h60(tok)
    val rest = h.bitwiseAND(lit((1L << 52) - 1))
    struct(
      shiftrightunsigned(h, 52).as("bucket"),
      when(rest === 0L, lit(53))
        .otherwise(lit(53) - length(bin(rest))).as("rho"))
  }

  private[graft] def hllRegs(toks: DataFrame): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    toks
      .select(hllReg($"tok").as("reg"))
      .select($"reg.bucket".as("bucket"), $"reg.rho".as("rho"))
      .groupBy($"bucket").agg(max($"rho").as("m_j"))
  }

  /** Register relation → the 1-row raw HLL estimate (same α₂₅₆ constant
    * chain and linear-counting fallback as q_hll_md5). */
  private def hllEstRaw(regs: DataFrame): DataFrame = {
    val spark = regs.sparkSession
    import spark.implicits._
    regs.agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - m_j)")).as("s_present"),
        count(lit(1)).as("n_present"))
      .select(
        ($"s_present" + (lit(256L) - $"n_present") * lit(1L << 53))
          .as("s_total"),
        (lit(256L) - $"n_present").as("zeros"))
      .select($"zeros",
        ((lit(0.7213) / (lit(1.0) + lit(1.079) / 256.0))
          * lit(256.0) * lit(256.0) * lit(9007199254740992.0)
          / $"s_total").as("e_raw"))
      .select(
        when($"e_raw" <= 640.0 && $"zeros" > 0L,
          lit(256.0) * log(lit(256.0) / $"zeros"))
          .otherwise($"e_raw").as("est_raw"))
  }

  /** HLL set algebra (Flajolet et al. '07 §4): the sketch's defining
    * operational property is that the UNION of two sets' sketches is
    * the per-bucket max of their registers — no rescan — and
    * intersections follow by inclusion–exclusion. Estimates for two
    * overlapping customer populations (even- vs odd-numbered orders),
    * their union (merged registers), and their intersection
    * (Ĥ(A)+Ĥ(B)−Ĥ(A∪B)) are each priced against exact truth. The
    * intersection row shows the known weakness honestly: I-E error
    * compounds three sketch errors, the reason intersection-heavy
    * workloads move to theta sketches. Shape: two register relations
    * (one scan each), a 256-row merge, four 1-row estimates. */
  def qHllSetops(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.df(spark, sfDir, "orders")
    def keys(parity: Int): DataFrame = o
      .filter($"o_orderkey" % 2 === parity)
      .select($"o_custkey".cast("string").as("tok"))
    val a = keys(0); val b = keys(1)
    val ra = hllRegs(a).localCheckpoint() // feeds own estimate + merge
    val rb = hllRegs(b).localCheckpoint()
    val ru = ra.unionAll(rb).groupBy($"bucket").agg(max($"m_j").as("m_j"))
    val one = hllEstRaw(ra).select($"est_raw".as("ea"))
      .crossJoin(hllEstRaw(rb).select($"est_raw".as("eb")))
      .crossJoin(hllEstRaw(ru).select($"est_raw".as("eu")))
      .crossJoin(broadcast(a.agg(countDistinct($"tok").as("xa"))))
      .crossJoin(broadcast(b.agg(countDistinct($"tok").as("xb"))))
      .crossJoin(broadcast(
        a.unionAll(b).agg(countDistinct($"tok").as("xu"))))
      .crossJoin(broadcast(a.distinct().join(b.distinct(), "tok")
        .agg(count(lit(1)).as("xi"))))
    one.selectExpr(
      """stack(4,
        |  'a_even_orders', xa, round(ea, 6), round(abs(ea - xa) / xa, 6),
        |  'b_odd_orders',  xb, round(eb, 6), round(abs(eb - xb) / xb, 6),
        |  'union',         xu, round(eu, 6), round(abs(eu - xu) / xu, 6),
        |  'intersection',  xi, round(ea + eb - eu, 6),
        |    round(abs(ea + eb - eu - xi) / xi, 6)
        |) AS (set_name, exact, est, rel_err)""".stripMargin
        .replace("\n", " "))
      .orderBy($"set_name")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hll_setops" -> qHllSetops,
    "q_selectivity_est" -> qSelectivityEst,
    "q_zonemap_prune" -> qZonemapPrune,
    "q_bloom_filter" -> qBloomFilter,
    "q_hll_md5" -> qHllMd5,
    "q_countmin" -> qCountMin,
    "q_ddsketch" -> qDdsketch,
    "q_join_cardest" -> qJoinCardest
  )

  /** One HLL register chain for the q_hll_setops oracle (mirrors the
    * q_hll_md5 CTEs; generated per set so the chains cannot drift). */
  private def hllSetSql(n: String, where: String): String =
    s"""h_$n AS (
       |  SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
       |  FROM (SELECT DISTINCT o_custkey::VARCHAR AS tok FROM orders
       |        WHERE $where)),
       |regs_$n AS (
       |  SELECT h >> 52 AS bucket,
       |    CASE WHEN (h & ((1::BIGINT << 52) - 1)) = 0 THEN 53
       |         ELSE 53 - length(bin(h & ((1::BIGINT << 52) - 1)))
       |    END AS rho
       |  FROM h_$n),
       |bb_$n AS (SELECT bucket, max(rho) AS m_j FROM regs_$n
       |          GROUP BY bucket)""".stripMargin

  /** bb_<n> register relation → 1-row est_<n>(est) CTE text. */
  private def hllEstSql(n: String): String =
    s"""est_$n AS (
       |  SELECT CASE WHEN e_raw <= 640.0 AND zeros > 0
       |    THEN 256.0 * ln(256.0 / zeros) ELSE e_raw END AS est
       |  FROM (
       |    SELECT (256 - n_present) AS zeros,
       |      (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
       |         + CAST(1.079 AS DOUBLE) / 256.0))
       |        * 256.0 * 256.0 * 9007199254740992.0
       |        / (s_present + (256 - n_present) * (1::BIGINT << 53))
       |        AS e_raw
       |    FROM (SELECT SUM(1::BIGINT << (53 - m_j))::BIGINT
       |            AS s_present, count(*) AS n_present
       |          FROM bb_$n)))""".stripMargin

  private def hllSetopsOracle: String =
    s"""WITH ${hllSetSql("a", "o_orderkey % 2 = 0")},
       |${hllSetSql("b", "o_orderkey % 2 = 1")},
       |bb_u AS (
       |  SELECT bucket, max(m_j) AS m_j FROM (
       |    SELECT * FROM bb_a UNION ALL SELECT * FROM bb_b)
       |  GROUP BY bucket),
       |${hllEstSql("a")},
       |${hllEstSql("b")},
       |${hllEstSql("u")},
       |xa AS (SELECT count(*) AS xa FROM (
       |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 2 = 0)),
       |xb AS (SELECT count(*) AS xb FROM (
       |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 2 = 1)),
       |xu AS (SELECT count(DISTINCT o_custkey) AS xu FROM orders),
       |xi AS (SELECT count(*) AS xi FROM (
       |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 2 = 0)
       |  t1 JOIN (
       |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 2 = 1)
       |  t2 USING (o_custkey)),
       |one AS (
       |  SELECT ea.est AS ea, eb.est AS eb, eu.est AS eu,
       |    xa.xa, xb.xb, xu.xu, xi.xi
       |  FROM est_a ea CROSS JOIN est_b eb CROSS JOIN est_u eu
       |  CROSS JOIN xa CROSS JOIN xb CROSS JOIN xu CROSS JOIN xi)
       |SELECT * FROM (
       |  SELECT 'a_even_orders' AS set_name, xa AS exact,
       |    round(ea, 6) AS est, round(abs(ea - xa) / xa, 6) AS rel_err
       |  FROM one
       |  UNION ALL SELECT 'b_odd_orders', xb, round(eb, 6),
       |    round(abs(eb - xb) / xb, 6) FROM one
       |  UNION ALL SELECT 'union', xu, round(eu, 6),
       |    round(abs(eu - xu) / xu, 6) FROM one
       |  UNION ALL SELECT 'intersection', xi, round(ea + eb - eu, 6),
       |    round(abs(ea + eb - eu - xi) / xi, 6) FROM one)
       |ORDER BY set_name""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_hll_setops" -> hllSetopsOracle,

    // same 20-bin equi-width histogram, same clamped-overlap
    // interpolation terms rounded to DECIMAL(18,4) before the sum
    "q_selectivity_est" ->
      """WITH x AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders),
        |stats AS (
        |  SELECT min(x) AS mn, max(x) AS mx, count(*) AS n,
        |    CAST(sum(CASE WHEN x < 100000.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a1,
        |    CAST(sum(CASE WHEN x >= 100000.0 AND x < 200000.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS a2,
        |    CAST(sum(CASE WHEN x >= 400000.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a3
        |  FROM x),
        |hist AS (
        |  SELECT CAST(least(floor((x - mn) / ((mx - mn) / 20.0)), 19.0)
        |    AS INT) AS b, count(*) AS cnt
        |  FROM x CROSS JOIN stats GROUP BY 1),
        |preds AS (
        |  SELECT 'p1_lt_100k' AS pred, mn AS lo,
        |    CAST(100000.0 AS DOUBLE) AS hi, a1 AS actual, mn, mx
        |  FROM stats
        |  UNION ALL SELECT 'p2_100k_to_200k', CAST(100000.0 AS DOUBLE),
        |    CAST(200000.0 AS DOUBLE), a2, mn, mx FROM stats
        |  UNION ALL SELECT 'p3_ge_400k', CAST(400000.0 AS DOUBLE), mx,
        |    a3, mn, mx FROM stats),
        |wb AS (
        |  SELECT pred, actual, lo, hi, cnt, b,
        |    (mx - mn) / 20.0 AS w, mn
        |  FROM hist CROSS JOIN preds),
        |ov_t AS (
        |  SELECT pred, actual, cnt,
        |    greatest(0.0, (least(hi, (mn + b * w) + w)
        |      - greatest(lo, mn + b * w)) / w) AS ov
        |  FROM wb),
        |est AS (
        |  SELECT pred, actual,
        |    sum(CAST(round(cnt * least(ov, 1.0), 4) AS DECIMAL(18,4)))
        |      AS est
        |  FROM ov_t GROUP BY 1, 2)
        |SELECT pred, round(CAST(est AS DOUBLE), 1) AS est_rows, actual,
        |  round(CAST(est AS DOUBLE) / greatest(actual, 1), 4) AS ratio
        |FROM est ORDER BY pred""".stripMargin,

    // same two zone assignments over the same rows; // is BIGINT floor
    // division on positives, matching Spark's div
    "q_zonemap_prune" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS x
        |  FROM orders),
        |stats AS (SELECT max(k) AS mxk, min(x) AS mn, max(x) AS mx
        |  FROM o),
        |z AS (
        |  SELECT x,
        |    CAST((k * 32) // (mxk + 1) AS INT) AS z_arrival,
        |    CAST(least(floor((x - mn) / ((mx - mn) / 32.0)), 31.0)
        |      AS INT) AS z_clustered
        |  FROM o CROSS JOIN stats),
        |za AS (
        |  SELECT z_arrival AS z, count(*) AS rows_, max(x) AS zmax,
        |    CAST(sum(CASE WHEN x > 450000.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS matches
        |  FROM z GROUP BY 1),
        |zc AS (
        |  SELECT z_clustered AS z, count(*) AS rows_, max(x) AS zmax,
        |    CAST(sum(CASE WHEN x > 450000.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS matches
        |  FROM z GROUP BY 1),
        |ra AS (
        |  SELECT 'arrival_order' AS layout, count(*) AS n_zones,
        |    CAST(sum(CASE WHEN zmax <= 450000.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_skippable,
        |    CAST(sum(rows_) AS BIGINT) AS rows_total,
        |    CAST(sum(CASE WHEN zmax <= 450000.0 THEN rows_ ELSE 0 END)
        |      AS BIGINT) AS rows_skipped,
        |    CAST(sum(CASE WHEN zmax <= 450000.0 THEN matches ELSE 0 END)
        |      AS BIGINT) AS matches_missed
        |  FROM za),
        |rc AS (
        |  SELECT 'clustered_by_price', count(*),
        |    CAST(sum(CASE WHEN zmax <= 450000.0 THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    CAST(sum(rows_) AS BIGINT),
        |    CAST(sum(CASE WHEN zmax <= 450000.0 THEN rows_ ELSE 0 END)
        |      AS BIGINT),
        |    CAST(sum(CASE WHEN zmax <= 450000.0 THEN matches ELSE 0 END)
        |      AS BIGINT)
        |  FROM zc)
        |SELECT layout, n_zones, n_skippable,
        |  round(CAST(rows_skipped AS DOUBLE) / rows_total, 4)
        |    AS frac_rows_skipped, matches_missed
        |FROM (SELECT * FROM ra UNION ALL SELECT * FROM rc)
        |ORDER BY layout""".stripMargin,

    // same 16-digit ln(γ)/midpoint literals; ln() is natural log in
    // DuckDB (its log() is base-10 — do not swap); cum/ceil comparisons
    // run on identical IEEE doubles in both engines
    "q_ddsketch" ->
      """WITH x AS (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders),
        |b AS (
        |  SELECT CAST(ceil(round(ln(x) / 0.0198026272961797, 9))
        |    AS BIGINT) AS b, count(*) AS cnt
        |  FROM x GROUP BY 1),
        |c AS (
        |  SELECT b, cnt, SUM(cnt) OVER (ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM b),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM b),
        |qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
        |picked AS (
        |  SELECT q, n, min(b) AS b
        |  FROM c CROSS JOIN tot CROSS JOIN qs
        |  WHERE cum >= ceil(q * n)
        |  GROUP BY q, n),
        |exact AS (
        |  SELECT quantile_cont(x, 0.5) AS e1, quantile_cont(x, 0.9) AS e2,
        |    quantile_cont(x, 0.99) AS e3
        |  FROM x),
        |f AS (
        |  SELECT q, n, b AS bucket,
        |    round(exp(CAST(b AS DOUBLE) * 0.0198026272961797)
        |      * 0.9900990099009901, 4) AS est,
        |    round(CASE WHEN q = 0.5 THEN e1 WHEN q = 0.9 THEN e2
        |      ELSE e3 END, 4) AS exact
        |  FROM picked CROSS JOIN exact)
        |SELECT q, n, bucket, est, exact,
        |  round(abs(est - exact) / exact, 6) AS rel_err
        |FROM f ORDER BY q""".stripMargin,

    // md5 keys are 60-bit positive, so DuckDB's % equals Spark's pmod
    "q_join_cardest" ->
      """WITH li AS (
        |  SELECT l_partkey AS k, count(*) AS cnt FROM lineitem
        |  GROUP BY 1),
        |pt AS (
        |  SELECT p_partkey AS k, count(*) AS cnt FROM part
        |  WHERE p_size <= 5 GROUP BY 1),
        |lib AS (
        |  SELECT ('0x' || substr(md5('jc:' || k::VARCHAR), 1, 15))::BIGINT
        |    % 1024 AS b,
        |    CAST(sum(cnt * ((('0x' || substr(md5('sg:' || k::VARCHAR),
        |      1, 15))::BIGINT % 2) * 2 - 1)) AS BIGINT) AS c
        |  FROM li GROUP BY 1),
        |ptb AS (
        |  SELECT ('0x' || substr(md5('jc:' || k::VARCHAR), 1, 15))::BIGINT
        |    % 1024 AS b,
        |    CAST(sum(cnt * ((('0x' || substr(md5('sg:' || k::VARCHAR),
        |      1, 15))::BIGINT % 2) * 2 - 1)) AS BIGINT) AS c
        |  FROM pt GROUP BY 1),
        |estd AS (SELECT CAST(sum(a.c * p.c) AS BIGINT) AS est
        |  FROM lib a JOIN ptb p USING (b)),
        |exd AS (SELECT CAST(sum(a.cnt * p.cnt) AS BIGINT) AS exact
        |  FROM li a JOIN pt p USING (k)),
        |ests AS (SELECT CAST(sum(c * c) AS BIGINT) AS est FROM lib),
        |exs AS (SELECT CAST(sum(cnt * cnt) AS BIGINT) AS exact FROM li),
        |u AS (
        |  SELECT 'lineitem_x_small_parts' AS join_name, exact, est
        |  FROM exd CROSS JOIN estd
        |  UNION ALL
        |  SELECT 'lineitem_selfjoin_partkey', exact, est
        |  FROM exs CROSS JOIN ests)
        |SELECT join_name, exact, est,
        |  round(CAST(est AS DOUBLE) / exact, 6) AS inflation
        |FROM u ORDER BY join_name""".stripMargin,

    "q_bloom_filter" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x != '') AS T
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(list_filter(
        |      list_transform(range(0, greatest(len(T) - 2, 1)),
        |        i -> array_to_string(T[(i+1):(i+3)], ' ')),
        |      s -> s != '')) AS key
        |  FROM t),
        |corpus AS (
        |  SELECT DISTINCT key FROM sh WHERE doc_id % 4 != 0),
        |probe AS (
        |  SELECT DISTINCT key FROM sh WHERE doc_id % 4 = 0),
        |bits AS (
        |  SELECT DISTINCT
        |    ('0x' || substr(md5('bf' || i || ':' || key), 1, 15))::BIGINT
        |      % 65536 AS pos
        |  FROM corpus CROSS JOIN range(0, 4) r(i)),
        |hits AS (
        |  SELECT p.key, count(*) AS nhit
        |  FROM (SELECT key,
        |          ('0x' || substr(md5('bf' || i || ':' || key), 1, 15))
        |            ::BIGINT % 65536 AS pos
        |        FROM probe CROSS JOIN range(0, 4) r(i)) p
        |  WHERE p.pos IN (SELECT pos FROM bits)
        |  GROUP BY p.key),
        |v AS (
        |  SELECT COALESCE(h.nhit, 0) = 4 AS member,
        |    c.key IS NOT NULL AS in_corpus
        |  FROM probe p
        |  LEFT JOIN hits h ON h.key = p.key
        |  LEFT JOIN corpus c ON c.key = p.key),
        |agg AS (
        |  SELECT
        |    CAST(COALESCE(SUM(CASE WHEN in_corpus THEN 1 END), 0)
        |      AS BIGINT) AS n_present,
        |    CAST(COALESCE(SUM(CASE WHEN NOT in_corpus THEN 1 END), 0)
        |      AS BIGINT) AS n_absent,
        |    CAST(COALESCE(SUM(CASE WHEN in_corpus AND member THEN 1 END),
        |      0) AS BIGINT) AS tp,
        |    CAST(COALESCE(SUM(CASE WHEN NOT in_corpus AND member THEN 1
        |      END), 0) AS BIGINT) AS fp
        |  FROM v)
        |SELECT
        |  (SELECT count(*) FROM corpus) AS n_keys,
        |  (SELECT count(*) FROM bits) AS bits_set,
        |  round(CAST((SELECT count(*) FROM bits) AS DOUBLE) / 65536, 6)
        |    AS fill,
        |  n_present, n_absent, tp, fp,
        |  CASE WHEN n_absent > 0
        |    THEN round(CAST(fp AS DOUBLE) / n_absent, 6) END
        |    AS fpr_measured,
        |  round(power_fill, 6) AS fpr_theory
        |FROM agg CROSS JOIN (
        |  SELECT fill2 * fill2 AS power_fill FROM (
        |    SELECT f * f AS fill2 FROM (
        |      SELECT round(CAST((SELECT count(*) FROM bits) AS DOUBLE)
        |        / 65536, 6) AS f)))""".stripMargin,
    // same md5 row hashes; DuckDB % on the positive 60-bit hash equals
    // Spark's pmod
    "q_countmin" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '),
        |    x -> x != '')) AS tok
        |  FROM documents),
        |cms AS (
        |  SELECT sd.r,
        |    ('0x' || substr(md5(sd.r::VARCHAR || ':' || tok), 1, 15))
        |      ::BIGINT % 1024 AS b,
        |    count(*) AS c
        |  FROM toks CROSS JOIN range(0, 4) sd(r)
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT tok, count(*) AS exact FROM toks
        |  GROUP BY tok ORDER BY exact DESC, tok LIMIT 20),
        |cand AS (
        |  SELECT t.tok, t.exact, sd.r,
        |    ('0x' || substr(md5(sd.r::VARCHAR || ':' || t.tok), 1, 15))
        |      ::BIGINT % 1024 AS b
        |  FROM top t CROSS JOIN range(0, 4) sd(r))
        |SELECT cand.tok, cand.exact, min(cms.c) AS est
        |FROM cand JOIN cms ON cms.r = cand.r AND cms.b = cand.b
        |GROUP BY cand.tok, cand.exact
        |ORDER BY cand.exact DESC, cand.tok""".stripMargin,

    // identical registers, identical integer-scaled denominator; the two
    // libm touches (ln in linear counting) sit behind a round(6)
    "q_hll_md5" ->
      """WITH toks AS (
        |  SELECT DISTINCT o_custkey::VARCHAR AS tok FROM orders),
        |h AS (SELECT tok,
        |        ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        |regs AS (
        |  SELECT h >> 52 AS bucket,
        |    CASE WHEN (h & ((1::BIGINT << 52) - 1)) = 0 THEN 53
        |         ELSE 53 - length(bin(h & ((1::BIGINT << 52) - 1)))
        |    END AS rho
        |  FROM h),
        |by_bucket AS (SELECT bucket, max(rho) AS m_j FROM regs
        |              GROUP BY bucket),
        |agg AS (
        |  SELECT SUM(1::BIGINT << (53 - m_j))::BIGINT AS s_present,
        |         count(*) AS n_present
        |  FROM by_bucket),
        |est AS (
        |  SELECT (SELECT count(*) FROM toks) AS exact,
        |    (256 - n_present) AS zeros,
        |    (s_present + (256 - n_present) * (1::BIGINT << 53)) AS s_total
        |  FROM agg),
        |e AS (
        |  SELECT exact, zeros,
        |    (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
        |       + CAST(1.079 AS DOUBLE) / 256.0))
        |      * 256.0 * 256.0 * 9007199254740992.0 / s_total AS e_raw
        |  FROM est)
        |SELECT exact,
        |  round(CASE WHEN e_raw <= 640.0 AND zeros > 0
        |             THEN 256.0 * ln(256.0 / zeros) ELSE e_raw END, 6)
        |    AS est,
        |  round(abs(CASE WHEN e_raw <= 640.0 AND zeros > 0
        |                 THEN 256.0 * ln(256.0 / zeros) ELSE e_raw END
        |            - exact) / exact, 6) AS rel_err
        |FROM e""".stripMargin
  )
}
