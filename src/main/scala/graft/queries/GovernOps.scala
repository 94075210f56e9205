package graft.queries

import graft.Decimals._
import graft.Tables
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-governance operators — the planning reports a multi-source
  * training-data program runs BEFORE committing to an expensive pipeline:
  * which crawls duplicate each other (exact + sketch-estimated overlap
  * matrices), where the cleaning funnel loses documents, and how much
  * context-window capacity a packing recipe wastes at each length.
  *
  * Reference scope: `[U lib/charms/layer/bigtop_hive.py]` deploys an
  * engine whose users run exactly these corpus reports in HiveQL;
  * re-expressed Spark-first per SURVEY §2.11's mandate.
  *
  * Cross-engine discipline (see q_minhash_md5 / q_pack_sequences for the
  * established forms): md5-keyed 60-bit hashes, integer counts cast to
  * BIGINT, one round(…, 6) on every ratio, id tie-breaks on every order.
  */
object GovernOps extends QueryPack {

  /** The (source, 3-gram shingle) stream, codegen-shaped: posexplode +
    * two lead() windows + concat_ws, instead of
    * `TextFunctions.shingles`'s transform/slice/array_join lambdas —
    * higher-order functions evaluate interpreted and the HOF shingle
    * stage alone measured 2.3 s at sf0.1 vs 0.5 s for the token explode
    * (the q_dup_spans lead-window span pattern, applied to n-grams).
    * Emits exactly the HOF/oracle semantics: full 3-grams at positions
    * 0..len−3, plus the whole document as one short shingle when it has
    * fewer than 3 tokens. */
  private def shingleStream(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    // repartition the DOCUMENTS by the window key before exploding: the
    // fixture table is one parquet row-group, so without this the whole
    // tokenize+explode fan-out runs in the single scan task; the lead
    // windows need HashPartitioning(doc_id) anyway, so this moves that
    // exchange ahead of the explode — it shuffles 5k doc rows instead of
    // 270k token rows AND parallelizes the fan-out. The same holds at
    // 100 TB: partition by the window key while rows are still small.
    Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"source", $"text")
      // explicit partition count: AQE would coalesce a keyed repartition
      // of 5k small doc rows to one partition by size — correct for the
      // rows it sees, wrong for the ×50 token fan-out they feed
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
      .select($"doc_id", $"source",
        posexplode(TextFunctions.tokens($"text")).as(Seq("pos", "tok")),
        size(TextFunctions.tokens($"text")).as("len"))
      .select($"doc_id", $"source", $"pos", $"len",
        concat_ws(" ", $"tok", lead($"tok", 1).over(w),
          lead($"tok", 2).over(w)).as("s"))
      .filter($"pos" <= $"len" - 3 || ($"len" < 3 && $"pos" === 0))
      .select($"source", $"s")
  }

  /** Exact cross-source overlap matrix: for every source pair, how many
    * distinct 3-token shingles they share, and the exact Jaccard — the
    * "which crawls should we dedup against each other first" planning
    * report. Inverted-index shape: (source, shingle) DISTINCT is one
    * shuffle; the self-join is keyed by shingle, and per-shingle fan-out
    * is bounded by S² (S = #sources, a small constant), so candidate
    * volume is ≤ S²·|shingles| — never doc×doc. The complete pair spine
    * (including zero-overlap pairs) comes from a broadcast S×S cross of
    * the per-source totals. */
  def qSourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the distinct (source, shingle) relation feeds three subtrees (both
    // self-join sides + totals); a localCheckpoint here was MEASURED
    // SLOWER than recomputing (3.5 vs 3.2 s standalone at sf0.1 — the
    // eager materialization serializes wide shingle rows, while the
    // recompute streams from the pruned parquet scan inside codegen;
    // same lesson as the NB-classifier persist in PERF.md)
    val sh = shingleStream(spark, sfDir).distinct()
    val tot = sh.groupBy($"source").agg(count(lit(1)).as("n"))
    val inter = sh.select($"source".as("s1"), $"s")
      .join(sh.select($"source".as("s2"), $"s"), "s")
      .filter($"s1" < $"s2")
      .groupBy($"s1", $"s2").agg(count(lit(1)).as("inter"))
    val spine = tot.select($"source".as("s1"), $"n".as("n1"))
      .join(broadcast(tot.select($"source".as("s2"), $"n".as("n2"))),
        $"s1" < $"s2")
    spine.join(inter, Seq("s1", "s2"), "left")
      .select($"s1", $"s2", $"n1", $"n2",
        coalesce($"inter", lit(0L)).as("inter"),
        round(coalesce($"inter", lit(0L)).cast("double")
          / ($"n1" + $"n2" - coalesce($"inter", lit(0L))), 6).as("j"))
      .orderBy($"s1", $"s2")
  }

  /** Sketch twin of [[qSourceOverlap]]: per-source 16-permutation md5
    * MinHash signatures over the same shingles, pairwise estimated
    * Jaccard = matching-component fraction. The signature is a mergeable
    * (source, perm, min-hash) RELATION — merging two corpora is min of
    * mins, so a 100 TB estimate needs one vocabulary-thin aggregate per
    * source and S²·16 comparison rows, never a shingle-level join
    * between sources. GovernSpec bounds the estimate against the exact
    * matrix; both the signature and the estimates hash-check in DuckDB
    * because the md5 arithmetic is engine-identical. */
  /** 16 xor permutation constants, derived once in Scala from md5 and
    * embedded as identical BIGINT literals in the plan and the oracle —
    * xor by a constant is a bijection on the 60-bit hash space, so
    * min(xor(h, C_i)) is a valid min-wise component at one md5 per
    * shingle instead of 16 (measured 3.4 → ~1 s at sf0.1; GovernSpec
    * re-bounds the estimate quality against the exact matrix). */
  private val permConsts: Seq[(Int, Long)] = (0 until 16).map { i =>
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"perm:$i".getBytes("UTF-8"))
    // same 60-bit window as the base hash: first 15 hex chars
    i -> java.lang.Long.parseLong(
      d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  def qMinhashSource(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // NO distinct: min is idempotent over duplicate shingles, so the
    // signature is identical without the dedup shuffle the exact twin
    // needs — the raw shingle stream feeds the partial aggregate
    // directly (the oracle keeps its DISTINCT, values provably
    // unchanged)
    val sh = shingleStream(spark, sfDir)
    // all 16 permutation mins in ONE aggregation pass as 16 column
    // expressions — a ×16 row fan-out before the aggregate was measured
    // at 3.5 s standalone vs ~1 s for this shape (the partial aggregate
    // sees |shingles| rows, not 16·|shingles|); the wide 20×16 result
    // then unpivots via stack and localCheckpoints so the pairwise
    // self-join doesn't recompute the whole chain per side (checkpoint
    // of a TINY aggregate wins; checkpointing wide intermediates loses —
    // both measured, see PERF.md)
    val mins = permConsts.map { case (i, c) =>
      min(expr(s"h ^ CAST($c AS BIGINT)")).as(s"m$i")
    }
    val sig = sh
      .select($"source",
        conv(substring(md5(concat(lit("mh:"), $"s")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .groupBy($"source").agg(mins.head, mins.tail: _*)
      .selectExpr("source",
        s"stack(16, ${permConsts.map { case (i, _) => s"$i, m$i" }
          .mkString(", ")}) AS (i, mh)")
      .localCheckpoint()
    sig.select($"source".as("s1"), $"i", $"mh".as("m1"))
      .join(sig.select($"source".as("s2"), $"i", $"mh".as("m2")), "i")
      .filter($"s1" < $"s2")
      .groupBy($"s1", $"s2")
      .agg(sum(when($"m1" === $"m2", 1).otherwise(0)).cast("int")
        .as("n_match"))
      .select($"s1", $"s2", $"n_match",
        round($"n_match".cast("double") / 16.0, 6).as("est_j"))
      .orderBy($"s1", $"s2")
  }

  /** Cleaning-funnel attrition report: four sequential quality gates
    * (length → language → repetition → token-shape), each row one stage
    * with how many documents entered, survived, and dropped there. The
    * report every curation pipeline publishes before training — it
    * localizes WHERE the corpus shrinks. One token-stats aggregate (the
    * q_repetition shape) joined back to the doc row, then a single
    * one-row aggregate of cumulative-AND counters unpivoted via stack —
    * no per-stage rescans, no DISTINCT traps. Ratios round once to 6dp
    * in both engines before thresholding, so gate decisions are
    * engine-identical even at boundary values. */
  def qFilterFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    // two-level (doc, tok) → doc aggregation — the q_repetition shape;
    // a countDistinct alongside other aggs would trigger the expand
    // rewrite this repo measured at 40× (PERF.md)
    val toks = docs.select($"doc_id",
        explode(TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tok"),
        count(lit(1)).as("n_distinct"),
        sum(length($"tok").cast("long") * $"c").as("tok_chars"))
    val g = docs.join(toks, Seq("doc_id"), "left")
      .select($"doc_id",
        ($"n_chars" >= 200).as("g1"),
        $"lang".isin("en", "fr", "de", "es").as("g2"),
        (coalesce($"n_tok", lit(0L)) > 0 &&
          round(lit(1.0) - $"n_distinct".cast("double") / $"n_tok", 6)
            <= 0.6).as("g3"),
        (coalesce($"n_tok", lit(0L)) > 0 &&
          round($"tok_chars".cast("double") / $"n_tok", 6).between(2.0, 12.0))
          .as("g4"))
    val c = g.agg(
      count(lit(1)).as("c0"),
      sum(when($"g1", 1L).otherwise(0L)).as("c1"),
      sum(when($"g1" && $"g2", 1L).otherwise(0L)).as("c2"),
      sum(when($"g1" && $"g2" && $"g3", 1L).otherwise(0L)).as("c3"),
      sum(when($"g1" && $"g2" && $"g3" && $"g4", 1L).otherwise(0L)).as("c4"))
    c.selectExpr(
        """stack(4,
          |  1, 'min_length',  c0, c1,
          |  2, 'language',    c1, c2,
          |  3, 'repetition',  c2, c3,
          |  4, 'token_shape', c3, c4) AS (stage, gate, n_in, n_kept)
          |""".stripMargin)
      .select($"stage", $"gate", $"n_in", $"n_kept",
        ($"n_in" - $"n_kept").as("n_dropped"))
      .orderBy($"stage")
  }

  /** Packing-efficiency report: the q_pack_sequences first-fit recipe
    * evaluated at three context capacities in one pass — per capacity the
    * pack count, document count, total payload and utilization (payload /
    * capacity·packs). The "which sequence length wastes least" planning
    * number. The per-shard running sum is computed ONCE (it does not
    * depend on the capacity); capacities then fan out as a 3-row explode
    * and pack assignment is a map-side integer division, so the report
    * costs one window pass + two thin aggregates at any scale. */
  def qPackEfficiency(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"shard").orderBy($"h", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = Tables.df(spark, sfDir, "documents")
      .select(($"doc_id" % 8).as("shard"), $"doc_id", $"n_chars",
        md5(concat(lit("pack:"), $"doc_id".cast("string"))).as("h"))
      .withColumn("cum", sum($"n_chars").over(w))
    val binned = cum
      .withColumn("cap", explode(array(lit(1000L), lit(2000L), lit(4000L))))
      .select($"cap", $"shard", expr("(cum - n_chars) div cap").as("pack_id"),
        $"n_chars")
      .groupBy($"cap", $"shard", $"pack_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"))
    binned.groupBy($"cap")
      .agg(count(lit(1)).as("n_packs"),
        sum($"n_docs").as("n_docs"),
        sum($"chars").as("total_chars"))
      .select($"cap", $"n_packs", $"n_docs", $"total_chars",
        round($"total_chars".cast("double") / ($"n_packs" * $"cap"), 6)
          .as("util"))
      .orderBy($"cap")
  }

  /** 4 virtual ring points per shard, md5-hex, computed ONCE in Scala
    * and embedded as identical string literals in the plan and the
    * oracle (java MD5 hex == DuckDB md5 hex; neither engine re-derives
    * them). Hex strings compare bytewise-lexicographic identically in
    * both engines. */
  private def ringPoints(n: Int): Seq[(Int, String)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    for { s <- 0 until n; k <- 0 until 4 } yield {
      val d = md.digest(s"ring:$s:$k".getBytes("UTF-8"))
      (s, d.map(b => f"$b%02x").mkString)
    }
  }

  /** Reshard planning report: what fraction of documents MOVES when the
    * corpus grows from 8 to 9 shards, under modulo placement vs a
    * consistent-hash ring (4 virtual nodes per shard) — the operational
    * number behind "can we add capacity without rewriting the corpus".
    * Modulo resharding moves ~8/9 of all rows; the ring moves ~1/9, at
    * the cost of looser balance — the report quantifies both, exactly.
    *
    * Scale shape: placement is a per-row projection against a broadcast
    * ≤36-row literal ring (the allowed replicate-tiny-constant cross
    * join) + one thin aggregate; nothing ever pairs rows with rows. The
    * assignment rule (smallest ring point ≥ the doc's md5 point, wrap to
    * the global minimum) is pure string comparison over shared literals,
    * so every assignment — and therefore the whole report — hash-checks
    * in DuckDB. */
  def qReshardPlan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
      .select($"doc_id",
        md5(concat(lit("doc:"), $"doc_id".cast("string"))).as("p"),
        conv(substring(md5(concat(lit("doc:"), $"doc_id".cast("string"))),
          1, 15), 16, 10).cast("long").as("h"))
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
    def consistent(n: Int): DataFrame = {
      val ring = ringPoints(n)
      val ringDf = ring.toDF("shard", "pt")
      val wrapPt = ring.map(_._2).min
      docs.crossJoin(broadcast(ringDf))
        .groupBy($"doc_id", $"p")
        .agg(coalesce(min(when($"pt" >= $"p", $"pt")), lit(wrapPt))
          .as("apt"))
        .join(broadcast(ringDf.withColumnRenamed("pt", "apt")), "apt")
        .select($"doc_id", $"shard")
    }
    val cons = consistent(8)
      .join(consistent(9).withColumnRenamed("shard", "shard9"), "doc_id")
      .select($"doc_id", $"shard9".as("new_shard"),
        ($"shard" =!= $"shard9").as("moved"))
    val mod = docs.select($"doc_id", ($"h" % 9).as("new_shard"),
      ($"h" % 8 =!= $"h" % 9).as("moved"))
    def report(name: String, df: DataFrame): DataFrame = {
      val loads = df.groupBy($"new_shard").agg(count(lit(1)).as("cnt"))
      df.agg(count(lit(1)).as("n_docs"),
          sum(when($"moved", 1L).otherwise(0L)).as("n_moved"))
        .crossJoin(loads.agg(max($"cnt").as("max_load")))
        .select(lit(name).as("scheme"), $"n_docs", $"n_moved",
          round($"n_moved".cast("double") / $"n_docs", 6).as("moved_frac"),
          $"max_load",
          round($"max_load".cast("double") * 9.0 / $"n_docs", 6)
            .as("balance_ratio"))
    }
    report("consistent", cons).unionAll(report("mod", mod))
      .orderBy($"scheme")
  }

  /** Pairwise KL divergence between per-source unigram language models —
    * the corpus-side drift report (complement of q_drift_psi's
    * event-side PSI): which sources are interchangeable and which pull
    * the mixture. Laplace-smoothed over the GLOBAL vocabulary so every
    * term is finite; each per-token term p₁·ln(p₁/p₂) is ONE shared
    * double formula rounded once to DECIMAL(18,9), so the S²·V term sums
    * are exact in both engines. Scale shape: counts and totals are
    * vocabulary-thin aggregates; the complete (source, token) spine is a
    * broadcast S-row cross of the vocab; the pair stream is a token-keyed
    * equi-join fanning out S² per token — never a doc-level join. */
  def qKlSources(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.df(spark, sfDir, "documents")
      .select($"source", explode(TextFunctions.tokens($"text")).as("tok"))
    val counts = toks.groupBy($"source", $"tok")
      .agg(count(lit(1)).as("c"))
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
      .filter($"src1" =!= $"src2")
      .select($"src1", $"src2",
        round($"p1" * log($"p1" / $"p2"), 9).cast(dec18_9).as("term"))
      .groupBy($"src1", $"src2")
      .agg(sum($"term").cast("double").as("kl"))
      .orderBy($"src1", $"src2")
  }

  // ---- q_kanonymity ------------------------------------------------------
  /** k-anonymity risk audit (Sweeney IJUFKS'02) over the customer table's
    * quasi-identifiers — the release-governance check a training set
    * containing user-derived records runs before shipping: at each
    * generalization level of the QI tuple (full: segment × nation ×
    * account-balance band; drop the band; segment only) and each k ∈
    * {2, 5, 10}, how many equivalence classes are smaller than k and what
    * fraction of ROWS those classes expose. Rising generalization must
    * drive risk to zero — the report shows where on that ladder the
    * data becomes releasable.
    *
    * Scale shape: one keyed partial-agg per level builds the class-size
    * relation (vocabulary-thin — bounded by the QI domain, not the row
    * count); the k fan-out and the risk aggregate run on that thin
    * relation only. The corpus is scanned three times and never shuffled
    * wider than its distinct QI tuples; a single-scan variant via one
    * ROLLUP is possible but couples the levels' key sets — three explicit
    * aggs keep the ladder arbitrary. Risk fraction is one double division
    * of exact integers, rounded once. */
  def qKanonymity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.df(spark, sfDir, "customer")
      .select($"c_mktsegment".as("seg"), $"c_nationkey".as("nat"),
        floor($"c_acctbal" / 1000).as("bal_bin"))
    def classSizes(level: Int, keys: Seq[String]): DataFrame =
      cust.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))
        .select(lit(level).as("level"), $"cnt")
    val sizes = classSizes(0, Seq("seg", "nat", "bal_bin"))
      .unionAll(classSizes(1, Seq("seg", "nat")))
      .unionAll(classSizes(2, Seq("seg")))
    sizes
      .select($"level", $"cnt",
        explode(array(lit(2), lit(5), lit(10))).as("k"))
      .groupBy($"level", $"k")
      .agg(count(lit(1)).as("classes"),
        sum(when($"cnt" < $"k", 1L).otherwise(0L)).as("classes_at_risk"),
        sum($"cnt").as("rows_total"),
        sum(when($"cnt" < $"k", $"cnt").otherwise(0L)).as("rows_at_risk"))
      .withColumn("risk_frac",
        round($"rows_at_risk".cast("double") / $"rows_total", 6))
      .orderBy($"level", $"k")
  }

  // ---- q_reident_risk ------------------------------------------------------
  /** Re-identification risk models over the q_kanonymity equivalence
    * classes (the ARX/El Emam framing): per generalization level,
    * prosecutor risk (an adversary targeting a KNOWN record succeeds
    * with probability 1/k of its class — reported at the worst class,
    * 1/min k), marketer risk (an adversary matching ALL records
    * re-identifies an expected classes/N fraction — each class
    * contributes k·(1/k) = 1 hit), and the sample-unique census
    * (classes of size 1 — the rows NO suppression threshold protects).
    * q_kanonymity counts who fails a threshold; this prices the attack
    * itself — the number a release-risk sign-off quotes. Scale shape:
    * identical to q_kanonymity — one customer pass per level into
    * class-thin relations, exact integer counts, each risk divides
    * once and rounds once. */
  def qReidentRisk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.df(spark, sfDir, "customer")
      .select($"c_mktsegment".as("seg"), $"c_nationkey".as("nat"),
        floor($"c_acctbal" / 1000).as("bal_bin"))
    def classes(level: Int, keys: Seq[String]): DataFrame =
      cust.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))
        .select(lit(level).as("level"), $"cnt")
    classes(0, Seq("seg", "nat", "bal_bin"))
      .unionAll(classes(1, Seq("seg", "nat")))
      .unionAll(classes(2, Seq("seg")))
      .groupBy($"level")
      .agg(sum($"cnt").as("n_rows"), count(lit(1)).as("n_classes"),
        min($"cnt").as("k_min"),
        sum(when($"cnt" === 1, 1L).otherwise(0L)).as("sample_uniques"))
      .select($"level", $"n_rows", $"n_classes", $"k_min",
        $"sample_uniques",
        round(lit(1.0) / $"k_min", 6).as("prosecutor_risk"),
        round($"n_classes".cast("double") / $"n_rows", 6)
          .as("marketer_risk"),
        round($"sample_uniques".cast("double") / $"n_rows", 6)
          .as("unique_frac"))
      .orderBy($"level")
  }

  // ---- q_dp_topk -----------------------------------------------------------
  /** Differentially-private top-k vocabulary release via the one-shot
    * Gumbel trick (equivalent to k rounds of the exponential mechanism,
    * Durfee & Rogers '19): noisy score = ε·count/2 + Gumbel(md5), take
    * the top 20 by noisy score — the DP-SELECTION primitive the
    * q_dp_histogram/q_dp_quantile family lacks (releasing WHICH items
    * lead, not how much). The report carries released rank vs true rank
    * and the audit-side overlap flag (the utility read a privacy review
    * wants; true counts themselves stay unreleased). Gumbel noise is
    * the house md5-uniform inverse CDF (−ln(−ln u)) keyed per token, so
    * both engines draw identical noise. Scale: one token-count pass,
    * one vocabulary-thin ranking. */
  def qDpTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val eps = 1.0
    val cnt = Tables.df(spark, sfDir, "documents")
      .select(explode(graft.functions.TextFunctions.tokens($"text"))
        .as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val u = (conv(substring(md5(concat(lit("dptk:"), $"tok")), 1, 15),
      16, 10).cast("double") + 0.5) / lit(1152921504606846976.0)
    val noisy = cnt
      .withColumn("g", round(-log(-log(u)), 6))
      .withColumn("noisy",
        round(lit(eps) * $"cnt" / 2.0 + $"g", 6))
    val wTrue = Window.orderBy($"cnt".desc, $"tok".asc)
    val wNoisy = Window.orderBy($"noisy".desc, $"tok".asc)
    noisy
      .withColumn("true_rank", row_number().over(wTrue))
      .withColumn("released_rank", row_number().over(wNoisy))
      .filter($"released_rank" <= 20)
      .select($"released_rank", $"tok", $"noisy",
        $"true_rank", ($"true_rank" <= 20).as("in_true_topk"))
      .orderBy($"released_rank")
  }

  // ---- q_mia_audit ---------------------------------------------------------
  /** Membership-inference audit (Yeom '18 loss-threshold attack, the
    * standard LLM privacy probe): train the add-one-smoothed unigram LM
    * on the doc_id-parity MEMBER half, score EVERY doc's per-token NLL
    * under it, and report the attack AUC of "low NLL ⇒ member" — the
    * resubstitution-vs-holdout gap made adversarial: an AUC well above
    * 0.5 means the model leaks who trained it, the release-gate number
    * a privacy review quotes beside the q_dp_* mechanisms. Unseen
    * tokens fall to the 1/(N+V) smoothing floor via a LEFT join (a
    * holdout scorer's shape, unlike q_perplexity's inner
    * resubstitution). AUC uses exact midranks in 2R integer units on
    * the 6dp-rounded per-doc NLL (the q_mann_whitney tie discipline),
    * so both engines rank identical values. Scale: two token-keyed
    * passes (train counts, score join) + a doc-thin rank window. */
  def qMiaAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", ($"doc_id" % 2 === 0).as("member"),
        explode(graft.functions.TextFunctions.tokens($"text")).as("tok"))
    val mCounts = toks.filter($"member")
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val mTot = mCounts.agg(sum($"cnt").as("n_m"),
      count(lit(1)).as("v_m"))
    val scored = toks
      .join(mCounts, Seq("tok"), "left")
      .crossJoin(broadcast(mTot))
      .select($"doc_id", $"member",
        round(log((coalesce($"cnt", lit(0L)) + 1)
          / ($"n_m" + $"v_m")), 6).cast(dec18_6).as("lp"))
      .groupBy($"doc_id", $"member")
      .agg(count(lit(1)).as("n_toks"), sum($"lp").as("slp"))
      .select($"member",
        round(-($"slp".cast("double")) / $"n_toks", 6).as("nll"))
    val byNll = scored.groupBy($"nll")
      .agg(count(lit(1)).as("c_all"),
        sum(when($"member", 1L).otherwise(0L)).as("c_m"))
    val wCum = Window.orderBy($"nll")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byNll
      .withColumn("cumb", coalesce(sum($"c_all").over(wCum), lit(0L)))
      // 2×midrank keeps tie handling in exact integers
      .select($"c_all", $"c_m",
        ($"c_m" * (lit(2L) * $"cumb" + $"c_all" + 1L)).as("r2m"))
    ranked.agg(sum($"c_all").as("n_all"), sum($"c_m").as("n_m"),
        sum($"r2m").as("sr2"))
      .select($"n_all", $"n_m", ($"n_all" - $"n_m").as("n_nm"), $"sr2")
      .filter($"n_m" > 0 && $"n_nm" > 0)
      .select($"n_m".as("n_members"), $"n_nm".as("n_nonmembers"),
        // P(nll_member > nll_nonmember) from the rank sum; the attack
        // predicts MEMBER on LOW nll, so its AUC is the complement
        round(lit(1.0)
          - ($"sr2" - $"n_m" * ($"n_m" + 1)).cast("double")
            / (lit(2.0) * $"n_m" * $"n_nm"), 6).as("attack_auc"))
      .withColumn("advantage",
        round(lit(2.0) * abs($"attack_auc" - 0.5), 6))
      .withColumn("leaky", $"attack_auc" > 0.6)
  }

  // ---- q_retention_sweep ---------------------------------------------------
  /** Data-retention policy sweep — the deletion-impact plan a
    * governance review reads BEFORE a TTL ships: for each event_type ×
    * policy ∈ {30, 60, 90} days (anchored at the LOG's max timestamp,
    * so the report is deterministic and replayable, not wall-clock-
    * dependent), the rows and summed value the policy would delete vs
    * keep, and the oldest surviving day. The prospective twin of
    * q_scd2's history bookkeeping: one says what retention DID, this
    * says what a policy WOULD do. Scale shape: one events pass against
    * the broadcast 3-row policy spine and 1-row anchor; exact integer/
    * decimal sums, each fraction divides once. */
  def qRetentionSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.df(spark, sfDir, "events")
      .select($"event_type", to_date($"ts").as("day"),
        round($"value", 6).cast(dec18_6).as("v"))
    val anchor = ev.agg(max($"day").as("anchor"))
    val spine = Seq(30, 60, 90).toDF("policy_days")
    ev.crossJoin(broadcast(anchor)).crossJoin(broadcast(spine))
      .withColumn("drop", datediff($"anchor", $"day") >= $"policy_days")
      .groupBy($"event_type", $"policy_days")
      .agg(count(lit(1)).as("n_rows"),
        sum(when($"drop", 1L).otherwise(0L)).as("rows_dropped"),
        sum(when($"drop", $"v")).as("value_dropped"),
        min(when(!$"drop", $"day")).as("oldest_kept_day"))
      .select($"event_type", $"policy_days", $"n_rows", $"rows_dropped",
        round($"rows_dropped".cast("double") / $"n_rows", 6)
          .as("drop_frac"),
        round(coalesce($"value_dropped", lit(0).cast(dec18_6))
          .cast("double"), 2).as("value_dropped"),
        $"oldest_kept_day")
      .orderBy($"event_type", $"policy_days")
  }

  // ---- q_ks_matrix -------------------------------------------------------
  /** Pairwise Kolmogorov–Smirnov matrix over the per-source document-
    * LENGTH distributions — q_kl_sources' distribution-free companion
    * (KL compares vocabularies; KS catches a source whose docs are
    * simply longer/shorter-shaped, which token-level divergences can
    * miss). CDFs evaluate on the source×pooled-distinct-length grid
    * (bounded by length granularity × #sources, never by doc count);
    * the pair join fans out S² per length value, the q_source_overlap
    * bound. Reports D, λ, and the Kolmogorov tail p per source pair. */
  def qKsMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lens = Tables.df(spark, sfDir, "documents")
      .select($"source", $"n_chars".as("v"))
    val counts = lens.groupBy($"source", $"v")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // source×length-thin; feeds grid + totals
    val totals = counts.groupBy($"source").agg(sum($"c").as("n"))
    val grid = counts.select($"v").distinct()
      .crossJoin(broadcast(counts.select($"source").distinct()))
    val cdf = grid.join(counts, Seq("source", "v"), "left")
      .select($"source", $"v", coalesce($"c", lit(0L)).as("c"))
      .withColumn("cum", sum($"c").over(
        Window.partitionBy($"source").orderBy($"v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(totals), "source")
      .select($"source", $"v",
        ($"cum".cast("double") / $"n").as("f"), $"n")
    val pairs = cdf.select($"source".as("s1"), $"v", $"f".as("f1"),
        $"n".as("n1"))
      .join(cdf.select($"source".as("s2"), $"v", $"f".as("f2"),
        $"n".as("n2")), "v")
      .filter($"s1" < $"s2")
      .groupBy($"s1", $"s2", $"n1", $"n2")
      .agg(max(round(abs($"f1" - $"f2"), 9)).as("d_raw"))
    pairs
      .select($"s1", $"s2", $"n1", $"n2",
        round($"d_raw", 6).as("d_stat"),
        round($"d_raw" * sqrt($"n1".cast("double") * $"n2"
          / ($"n1" + $"n2")), 6).as("lambda"))
      .select($"s1", $"s2", $"n1", $"n2", $"d_stat", $"lambda",
        round(least(lit(1.0),
          lit(2.0) * exp(lit(-2.0) * $"lambda" * $"lambda")), 6)
          .as("p_approx"))
      .orderBy($"s1", $"s2")
  }

  // ---- q_holm ------------------------------------------------------------
  /** Holm step-down multiple-testing correction over the KS matrix's
    * 190 pairwise p-values — the discipline that stops a 20-source
    * drift screen from "discovering" ~10 false drifts at α = 0.05 by
    * sheer test count: p-values sort ascending, adjusted
    * p_(i) = min(1, max_{j≤i} (m−j+1)·p_(j)) (the running max keeps
    * adjusted values monotone), reject while adjusted < 0.05. The
    * correction runs on the S²-row test relation — constant-sized at
    * any corpus scale. */
  def qHolm(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tests = qKsMatrix(spark, sfDir)
      .select($"s1", $"s2", $"p_approx".as("p"))
    val m = tests.agg(count(lit(1)).as("m"))
    val wRank = Window.orderBy($"p", $"s1", $"s2")
    val wCumMax = wRank.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    tests.crossJoin(broadcast(m))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("adj_p", round(least(lit(1.0),
        max(round(($"m" - $"rk" + 1) * $"p", 9)).over(wCumMax)), 6))
      .select($"s1", $"s2", $"p", $"rk", $"adj_p",
        ($"adj_p" < 0.05).as("reject"))
      .orderBy($"rk")
  }

  // ---- q_bh_fdr ----------------------------------------------------------
  /** Benjamini–Hochberg FDR control over the same KS test battery
    * (Benjamini & Hochberg '95) — [[qHolm]]'s step-UP sibling: Holm
    * bounds the family-wise error (any false positive), BH bounds the
    * expected false-discovery RATE, the calibration a monitoring
    * dashboard with hundreds of drift tests actually wants (Holm goes
    * near-silent at that scale). adj_p(i) = min over j ≥ i of (m/j)·p_j
    * via one running min from the largest rank; shares qKsMatrix and
    * the (p, s1, s2) rank order with Holm so the two corrections are
    * comparable row-for-row. */
  def qBhFdr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tests = qKsMatrix(spark, sfDir)
      .select($"s1", $"s2", $"p_approx".as("p"))
    val m = tests.agg(count(lit(1)).as("m"))
    val wRank = Window.orderBy($"p", $"s1", $"s2")
    val wCumMin = Window.orderBy($"rk".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tests.crossJoin(broadcast(m))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("adj_p", round(least(lit(1.0),
        min(round($"m" * $"p" / $"rk", 9)).over(wCumMin)), 6))
      .select($"s1", $"s2", $"p", $"rk", $"adj_p",
        ($"adj_p" < 0.05).as("reject"))
      .orderBy($"rk")
  }

  // ---- q_by_fdr ----------------------------------------------------------
  /** Benjamini–Yekutieli FDR control under ARBITRARY dependence
    * (Benjamini & Yekutieli '01) over the same KS battery — the member
    * of the multiple-testing family (q_holm FWER, q_bh_fdr independent-
    * FDR) that stays VALID when the tests are correlated, which a
    * pairwise source×source matrix certainly is (every test shares a
    * source with 2(S−2) siblings): BH's (m/j)·p_j inflates by the
    * harmonic factor c(m) = Σ_{i≤m} 1/i ≈ ln m + γ. Rejects(BY) ⊆
    * rejects(BH) by construction — R15bOpsSpec pins the subset relation
    * across all three corrections. Shares the tests relation and the
    * (p, s1, s2) rank with its siblings so the corrections read
    * row-for-row; c(m) accumulates 12dp-rounded reciprocals into an
    * exact decimal sum. Scale: everything after qKsMatrix runs on the
    * S²-thin test relation (the bounded-window precedent of Holm/BH). */
  def qByFdr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tests = qKsMatrix(spark, sfDir)
      .select($"s1", $"s2", $"p_approx".as("p"))
    val m = tests.agg(count(lit(1)).as("m"))
    val wRank = Window.orderBy($"p", $"s1", $"s2")
    val ranked = tests.crossJoin(broadcast(m))
      .withColumn("rk", row_number().over(wRank))
      .localCheckpoint() // harmonic pass + the adjust window
    val cm = ranked
      .select(round(lit(1.0) / $"rk", 12)
        .cast(dec28_12).as("t"))
      .agg(sum($"t").cast("double").as("cm"))
    val wCumMin = Window.orderBy($"rk".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.crossJoin(broadcast(cm))
      .withColumn("adj_p", round(least(lit(1.0),
        min(round($"m" * $"cm" * $"p" / $"rk", 9)).over(wCumMin)), 6))
      .select($"s1", $"s2", $"p", $"rk",
        round($"cm", 6).as("c_m"), $"adj_p",
        ($"adj_p" < 0.05).as("reject"))
      .orderBy($"rk")
  }

  // ---- q_ldiversity ------------------------------------------------------
  /** l-diversity audit (Machanavajjhala et al., ICDE'06) — k-anonymity's
    * complement: a QI class can be large yet still leak if everyone in it
    * shares the same SENSITIVE value. Per (segment, nation) class over
    * the account-balance band as the sensitive attribute: distinct-l
    * (how many sensitive values appear), Shannon entropy of the sensitive
    * distribution, and effective l = exp(H) (the entropy-l-diversity
    * statistic — a class passes entropy-l if eff_l ≥ l), with the l ≥ 2
    * and l ≥ 3 verdicts per class. Entropy terms round to DECIMAL(18,9)
    * before the per-class sum (the established exact-sum discipline).
    * Scale: one pass to the (QI, sensitive-value)-thin cell relation;
    * every later stage re-aggregates cells, never rows. */
  def qLdiversity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.df(spark, sfDir, "customer")
      .select($"c_mktsegment".as("seg"), $"c_nationkey".as("nat"),
        floor($"c_acctbal" / 1000).as("sv"))
      .groupBy($"seg", $"nat", $"sv").agg(count(lit(1)).as("c"))
      .localCheckpoint() // QI×sensitive-thin; feeds sizes + entropy
    val cls = cells.groupBy($"seg", $"nat")
      .agg(sum($"c").as("n_rows"), count(lit(1)).as("distinct_l"))
    val ent = cells.join(cls.select($"seg", $"nat", $"n_rows"),
        Seq("seg", "nat"))
      .select($"seg", $"nat",
        round(-($"c" / $"n_rows" * log($"c" / $"n_rows")), 9)
          .cast(dec18_9).as("term"))
      .groupBy($"seg", $"nat").agg(sum($"term").as("h"))
    cls.join(ent, Seq("seg", "nat"))
      .select($"seg", $"nat", $"n_rows", $"distinct_l",
        round($"h".cast("double"), 6).as("entropy"),
        round(exp($"h".cast("double")), 6).as("eff_l"),
        ($"distinct_l" >= 2).as("div2"),
        ($"distinct_l" >= 3).as("div3"))
      .orderBy($"seg", $"nat")
  }

  // ---- q_dp_release ------------------------------------------------------
  /** Laplace-mechanism calibration for a differentially-private count
    * release (Dwork et al., TCC'06): per-source document counts with
    * sensitivity-1 Laplace noise at ε ∈ {0.5, 1, 4}, reporting the noisy
    * count AND the realized absolute error — the ε-vs-utility table a
    * data steward reads before releasing corpus statistics. The noise is
    * md5-keyed (inverse-CDF over the family's deterministic uniform), so
    * the released numbers are reproducible and the whole report
    * hash-checks cross-engine — determinism the MECHANISM doesn't need
    * (any exogenous randomness source works at deploy time) but the
    * pipeline's replayability discipline does.
    *
    * Scale shape: the corpus collapses to an S-row count agg; the ε
    * fan-out and all noise arithmetic are per-row projections on those S
    * rows. ln() is libm — the product is rounded once to 6dp, which
    * absorbs sub-ulp engine drift (the q_kl_sources precedent). */
  def qDpRelease(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bySrc = Tables.df(spark, sfDir, "documents")
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
    val u = (conv(substring(md5(concat(lit("dp:"), $"source", lit(":"),
        $"tag")), 1, 15), 16, 10).cast("double") + 0.5) /
      lit(1152921504606846976.0)
    bySrc
      .select($"source", $"n_docs",
        explode(array(lit("0.5"), lit("1.0"), lit("4.0"))).as("tag"))
      .withColumn("eps", $"tag".cast("double"))
      .withColumn("u", u)
      .withColumn("lap",
        round((lit(-1.0) / $"eps")
          * when($"u" >= 0.5, 1.0).otherwise(-1.0)
          * log(lit(2.0) * least($"u", lit(1.0) - $"u")), 6))
      .select($"source", $"eps", $"n_docs",
        round($"n_docs" + $"lap", 2).as("noisy_count"),
        round(abs($"lap"), 2).as("abs_err"))
      .orderBy($"source", $"eps")
  }

  // ---- q_dataset_diff ----------------------------------------------------
  /** Dataset release diff — the changelog a versioned-corpus registry
    * publishes between two snapshots: per source, documents added,
    * removed, content-changed, and unchanged. The two snapshots are
    * synthesized deterministically from the fixture (A drops
    * doc_id ≡ 1 (mod 4), B drops ≡ 2 and revises the text of ≡ 3
    * (mod 10)), which exercises all four diff classes; a real registry
    * feeds two manifests into the identical plan. Change detection
    * compares md5 content fingerprints, not texts — at 100 TB the diff
    * join moves 32-char keys, never documents.
    *
    * Scale shape: ONE doc_id-keyed full-outer join of (id, source, md5)
    * projections, a per-row CASE classification, and a (source, class)
    * partial-agg pivoted by conditional sums — no window, no second
    * pass. */
  def qDatasetDiff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val a = docs.filter($"doc_id" % 4 =!= 1)
      .select($"doc_id", $"source".as("src_a"), md5($"text").as("fp_a"))
    val b = docs.filter($"doc_id" % 4 =!= 2)
      .select($"doc_id", $"source".as("src_b"),
        md5(when($"doc_id" % 10 === 3, concat($"text", lit(" rev2")))
          .otherwise($"text")).as("fp_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(coalesce($"src_a", $"src_b").as("source"),
        when($"fp_a".isNull, "added")
          .when($"fp_b".isNull, "removed")
          .when($"fp_a" =!= $"fp_b", "changed")
          .otherwise("unchanged").as("cls"))
      .groupBy($"source")
      .agg(
        sum(when($"cls" === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when($"cls" === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when($"cls" === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when($"cls" === "unchanged", 1L).otherwise(0L))
          .as("n_unchanged"))
      .orderBy($"source")
  }

  // ---- q_expectations ----------------------------------------------------
  /** Data-contract expectation suite — the Great-Expectations-style
    * gate a pipeline runs before promoting a snapshot: uniqueness,
    * non-null, accepted ranges, accepted value sets, referential
    * integrity, and a minimum row count, reported one row per check
    * with the violation count and a pass flag. Complements
    * [[qDatasetDiff]] (drift between snapshots) and q_profile (open
    * stats) with the CONTRACT form: named thresholds a release can
    * block on.
    *
    * Scale shape: one aggregate pass per fact table computes all its
    * checks' violation counts at once (stacked afterwards, never one
    * scan per check); the two FK checks are anti-join counts on the
    * broadcast-sized dimension keys. */
  def qExpectations(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.df(spark, sfDir, "orders")
    val li = Tables.df(spark, sfDir, "lineitem")
    val ev = Tables.df(spark, sfDir, "events")
    val docs = Tables.df(spark, sfDir, "documents")
    val cust = Tables.df(spark, sfDir, "customer")
    val oAgg = ord.agg(
      (count(lit(1)) - countDistinct($"o_orderkey")).as("dup_ok"),
      sum(when($"o_custkey".isNull, 1L).otherwise(0L)).as("null_ck"))
    val lAgg = li.agg(
      count(lit(1)).as("n_li"),
      sum(when($"l_quantity" < 1 || $"l_quantity" > 50, 1L).otherwise(0L))
        .as("bad_qty"),
      sum(when($"l_discount" < 0 || $"l_discount" > 0.1, 1L).otherwise(0L))
        .as("bad_disc"))
    val eAgg = ev.agg(
      sum(when(!$"event_type".isin("view", "click", "signup", "purchase",
        "error"), 1L).otherwise(0L)).as("bad_type"))
    val dAgg = docs.agg(
      sum(when(length($"text") === 0 || $"text".isNull, 1L).otherwise(0L))
        .as("empty_doc"))
    val orphanCust = ord.join(cust,
        ord("o_custkey") === cust("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("orphans_oc"))
    val orphanOrd = li.join(ord,
        li("l_orderkey") === ord("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphans_lo"))
    val one = oAgg.crossJoin(lAgg).crossJoin(eAgg).crossJoin(dAgg)
      .crossJoin(orphanCust).crossJoin(orphanOrd)
    one.selectExpr(
      """stack(9,
        |  'orders.o_orderkey_unique',    dup_ok,     CAST(0 AS BIGINT), dup_ok = 0,
        |  'orders.o_custkey_not_null',   null_ck,    CAST(0 AS BIGINT), null_ck = 0,
        |  'lineitem.row_count_min',      n_li,       CAST(1000 AS BIGINT), n_li >= 1000,
        |  'lineitem.l_quantity_range',   bad_qty,    CAST(0 AS BIGINT), bad_qty = 0,
        |  'lineitem.l_discount_range',   bad_disc,   CAST(0 AS BIGINT), bad_disc = 0,
        |  'events.event_type_accepted',  bad_type,   CAST(0 AS BIGINT), bad_type = 0,
        |  'documents.text_non_empty',    empty_doc,  CAST(0 AS BIGINT), empty_doc = 0,
        |  'fk.orders_customer',          orphans_oc, CAST(0 AS BIGINT), orphans_oc = 0,
        |  'fk.lineitem_orders',          orphans_lo, CAST(0 AS BIGINT), orphans_lo = 0
        |) AS (check_name, observed, threshold, pass)""".stripMargin
        .replace("\n", " "))
      .orderBy($"check_name")
  }

  // ---- q_dp_mean ---------------------------------------------------------
  /** Differentially-private MEAN release per source (the Laplace
    * mechanism of [[qDpRelease]] extended to ratios — Dwork et al. '06):
    * document lengths clip to C = 1000 (bounding one record's
    * sensitivity), the clipped sum gets Lap(C/ε) noise and the count
    * Lap(1/ε), each at ε = 0.5 (total budget ε = 1 by composition), and
    * the released mean is their ratio — reported beside the true
    * clipped mean and the realized relative error. Noise draws replay
    * the qDpRelease md5 inverse-CDF discipline (engine-portable,
    * JVM-replayed in spec), so the release itself hash-checks.
    * Shape: one clipped aggregate per source + a per-row noise
    * projection — S-row arithmetic. */
  def qDpMean(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cap = 1000.0
    val eps = 0.5
    val bySrc = Tables.df(spark, sfDir, "documents")
      .groupBy($"source").agg(count(lit(1)).as("n"),
        sum(least($"n_chars".cast("double"), lit(cap)).cast(dec18_2))
          .as("s"))
    def lap(tag: String, scale: Double): Column = {
      val u = (conv(substring(md5(concat(lit(s"dpm:$tag:"), $"source")),
        1, 15), 16, 10).cast("double") + 0.5) /
        lit(1152921504606846976.0)
      round(lit(-scale)
        * when(u >= 0.5, 1.0).otherwise(-1.0)
        * log(lit(2.0) * least(u, lit(1.0) - u)), 6)
    }
    bySrc
      .withColumn("noisy_s", $"s".cast("double") + lap("s", cap / eps))
      .withColumn("noisy_n", $"n".cast("double") + lap("n", 1.0 / eps))
      .select($"source", $"n",
        round($"s".cast("double") / $"n", 4).as("true_mean"),
        round($"noisy_s" / $"noisy_n", 4).as("dp_mean"),
        round(abs($"noisy_s" / $"noisy_n"
          - $"s".cast("double") / $"n")
          / ($"s".cast("double") / $"n"), 6).as("rel_err"))
      .orderBy($"source")
  }

  // ---- q_dp_histogram ----------------------------------------------------
  /** Differentially-private histogram release (the workhorse DP query —
    * Dwork et al. '06; disjoint bins mean ONE ε covers every bin by
    * parallel composition): per balance band, the true count, the
    * Lap(1/ε) noisy count (ε = 1, md5 inverse-CDF draws keyed by bin),
    * and the POST-PROCESSED release — clamped at zero and renormalized
    * to shares (post-processing is free under DP). Reports per-bin true
    * vs released shares and the bin's absolute share error, the utility
    * read-out a release reviewer checks against the ε they spent.
    * Shape: one bin-thin aggregate + S-row noise projection; the
    * renormalizer is a 1-row broadcast. */
  def qDpHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val eps = 1.0
    val bins = Tables.df(spark, sfDir, "customer")
      .groupBy(floor($"c_acctbal" / 1000).as("bin"))
      .agg(count(lit(1)).as("n"))
    val u = (conv(substring(md5(concat(lit("dph:"),
      $"bin".cast("string"))), 1, 15), 16, 10).cast("double") + 0.5) /
      lit(1152921504606846976.0)
    val noisy = bins
      .withColumn("lap", round(lit(-1.0 / eps)
        * when(u >= 0.5, 1.0).otherwise(-1.0)
        * log(lit(2.0) * least(u, lit(1.0) - u)), 6))
      .withColumn("released", greatest($"n" + $"lap", lit(0.0)))
      .localCheckpoint() // feeds the renormalizer + the output
    val tot = noisy.agg(sum($"n").as("n_tot"),
      sum($"released".cast(dec18_6)).as("r_tot"))
    noisy.crossJoin(broadcast(tot))
      .select($"bin", $"n",
        round($"n" + $"lap", 2).as("noisy"),
        round($"released", 2).as("released"),
        round($"n".cast("double") / $"n_tot", 6).as("true_share"),
        round($"released" / $"r_tot".cast("double"), 6)
          .as("released_share"))
      .withColumn("share_err",
        round(abs($"released_share" - $"true_share"), 6))
      .orderBy($"bin")
  }

  // ---- q_tcloseness ------------------------------------------------------
  /** t-closeness audit (Li, Li & Venkatasubramanian, ICDE'07) — the
    * third rung of the release-privacy ladder after [[qKanonymity]]
    * (class sizes) and [[qLdiversity]] (sensitive-value variety):
    * k-anonymity + l-diversity still leak when a class's sensitive
    * DISTRIBUTION skews from the table's (the "everyone in this class
    * is rich-ish" attack); t = the Earth-Mover's Distance between each
    * class's balance-bin distribution and the global one. For an
    * ordered attribute with unit ground distance, EMD = Σ|cumulative
    * (p−q)|/(m−1) — and p_j − q_j = (c_j·N − g_j·n)/(n·N), so the
    * cumulative runs in EXACT integer numerators (DECIMAL(38,0) — no
    * float accumulation) with two divisions at the very end. Same QI
    * and sensitive grain as the other two audits, so the three reports
    * read as one ladder. Shape: class×bin grid = (QI-thin × bin-thin)
    * broadcast cross join, one bin-ordered window per class. */
  def qTcloseness(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rows = Tables.df(spark, sfDir, "customer")
      .select($"c_mktsegment".as("seg"), $"c_nationkey".as("nat"),
        floor($"c_acctbal" / 1000).as("sv"))
    val cells = rows.groupBy($"seg", $"nat", $"sv")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds classes, bins, and the grid join
    val classes = cells.groupBy($"seg", $"nat").agg(sum($"c").as("n"))
    val bins = cells.groupBy($"sv").agg(sum($"c").as("g"))
    val tot = bins.agg(sum($"g").as("big_n"), count(lit(1)).as("m"))
    val grid = classes.crossJoin(broadcast(bins))
      .join(cells, Seq("seg", "nat", "sv"), "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(tot))
    val wCum = Window.partitionBy($"seg", $"nat").orderBy($"sv")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("num",
        ($"c".cast(dec38_0) * $"big_n" - $"g".cast(dec38_0) * $"n"))
      .withColumn("cum", sum($"num").over(wCum))
      .groupBy($"seg", $"nat", $"n", $"big_n", $"m")
      .agg(sum(abs($"cum")).as("sabs"))
      .select($"seg", $"nat", $"n".as("n_rows"),
        round($"sabs".cast("double")
          / ($"n".cast("double") * $"big_n") / ($"m" - lit(1L)), 6)
          .as("t"))
      .withColumn("violates_t02", $"t" > 0.2)
      .orderBy($"seg", $"nat")
  }

  // ---- q_dp_quantile -----------------------------------------------------
  /** Differentially-private median via the EXPONENTIAL MECHANISM
    * (McSherry & Talwar FOCS'07) — the DP answer for a non-numeric-
    * aggregable statistic, completing the Laplace family (q_dp_mean /
    * q_dp_histogram / q_dp_release): candidate outputs are 50 fixed
    * bins over the clamped per-user purchase spend; the median utility
    * u(b) = −|#{x ≤ hi_b} − n/2| (sensitivity 1) enters as the exact
    * integer u2 = −|2·cum_b − n|; selection uses the Gumbel-max trick —
    * argmax(ε·u/2 + g_b) with md5-keyed Gumbel draws rounded once to
    * 9dp, so the "random" selection replays bit-for-bit on both
    * engines. Reports the released bin beside the true median bin —
    * the utility read a release reviewer checks against ε. Shape: one
    * user-grain agg → 50-row bin relation; every window runs over the
    * 50 bins. */
  def qDpQuantile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val eps = 1.0
    val users = Tables.df(spark, sfDir, "events")
      .filter($"event_type" === "purchase")
      .select($"user_id", round($"value", 2).cast(dec18_2).as("vr"))
      .groupBy($"user_id")
      .agg(least(sum($"vr"), lit(5000.0).cast(dec18_2)).as("x"))
    val cnt = users.groupBy(least(floor($"x" / 100), lit(49L)).as("b"))
      .agg(count(lit(1)).as("c"))
    val bins = spark.range(0, 50).select($"id".as("b"))
      .join(cnt, Seq("b"), "left").na.fill(0L, Seq("c"))
    val wCum = Window.orderBy($"b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = bins.agg(sum($"c").as("n"))
    val scored = bins
      .withColumn("cum", sum($"c").over(wCum))
      .crossJoin(broadcast(tot))
      .withColumn("u2", -abs(lit(2L) * $"cum" - $"n"))
      .withColumn("g", round(-log(-log(
        (conv(substring(md5(concat(lit("dpq:"), $"b".cast("string"))),
          1, 15), 16, 10).cast("long") + 0.5) /
          lit(1152921504606846976.0))), 9))
      .withColumn("score",
        lit(eps / 4.0) * $"u2".cast("double") + $"g")
      .localCheckpoint() // feeds the released argmax + the true argmax
    val rel = scored.orderBy($"score".desc, $"b".asc).limit(1)
      .select($"b".as("released_bin"), $"n")
    val tru = scored.orderBy($"u2".desc, $"b".asc).limit(1)
      .select($"b".as("true_bin"))
    rel.crossJoin(broadcast(tru))
      .select($"n".as("n_users"), lit(eps).as("epsilon"),
        $"released_bin", ($"released_bin" * 100).as("bin_lo"),
        ($"released_bin" * 100 + 100).as("bin_hi"), $"true_bin",
        ($"released_bin" === $"true_bin").as("exact_hit"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dp_quantile" -> qDpQuantile,
    "q_tcloseness" -> qTcloseness,
    "q_dp_histogram" -> qDpHistogram,
    "q_bh_fdr" -> qBhFdr,
    "q_by_fdr" -> qByFdr,
    "q_dp_mean" -> qDpMean,
    "q_expectations" -> qExpectations,
    "q_dataset_diff" -> qDatasetDiff,
    "q_dp_release" -> qDpRelease,
    "q_kanonymity" -> qKanonymity,
    "q_reident_risk" -> qReidentRisk,
    "q_retention_sweep" -> qRetentionSweep,
    "q_mia_audit" -> qMiaAudit,
    "q_dp_topk" -> qDpTopk,
    "q_ldiversity" -> qLdiversity,
    "q_ks_matrix" -> qKsMatrix,
    "q_holm" -> qHolm,
    "q_kl_sources" -> qKlSources,
    "q_source_overlap" -> qSourceOverlap,
    "q_minhash_source" -> qMinhashSource,
    "q_filter_funnel" -> qFilterFunnel,
    "q_pack_efficiency" -> qPackEfficiency,
    "q_reshard_plan" -> qReshardPlan
  )

  private def ringValuesSql(n: Int): String =
    ringPoints(n).map { case (s, pt) => s"($s, '$pt')" }.mkString(",\n  ")

  private val toksSql =
    "list_filter(string_split(lower(text), ' '), x -> x != '')"
  private val shinglesSql =
    s"""list_filter(
       |  list_transform(range(0, greatest(len(T) - 2, 1)),
       |    i -> array_to_string(T[(i+1):(i+3)], ' ')),
       |  s -> s != '')""".stripMargin
  private val shCte =
    s"""sh AS (
       |  SELECT DISTINCT source, unnest($shinglesSql) AS s
       |  FROM (SELECT source, $toksSql AS T FROM documents))""".stripMargin

  /** The q_ks_matrix CTE chain (through relation `l`: s1, s2, n1,
    * n2, d_stat, lambda) — shared with the q_holm oracle so the
    * test definition cannot drift from its own correction. */
  private val ksMatrixCtes: String =
    """WITH counts AS (
        |  SELECT source, n_chars AS v, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |totals AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n
        |  FROM counts GROUP BY 1),
        |grid AS (
        |  SELECT s.source, g.v
        |  FROM (SELECT DISTINCT v FROM counts) g
        |  CROSS JOIN (SELECT DISTINCT source FROM counts) s),
        |cdf AS (
        |  SELECT grid.source, grid.v,
        |    CAST(sum(COALESCE(counts.c, 0)) OVER (
        |      PARTITION BY grid.source ORDER BY grid.v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DOUBLE) / totals.n AS f,
        |    totals.n
        |  FROM grid
        |  LEFT JOIN counts ON counts.source = grid.source
        |    AND counts.v = grid.v
        |  JOIN totals ON totals.source = grid.source),
        |pairs AS (
        |  SELECT a.source AS s1, b.source AS s2, a.n AS n1, b.n AS n2,
        |    max(round(abs(a.f - b.f), 9)) AS d_raw
        |  FROM cdf a JOIN cdf b ON a.v = b.v AND a.source < b.source
        |  GROUP BY 1, 2, 3, 4),
        |l AS (
        |  SELECT s1, s2, n1, n2, round(d_raw, 6) AS d_stat,
        |    round(d_raw * sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)), 6)
        |      AS lambda
        |  FROM pairs)""".stripMargin

  val oracle: Map[String, String] = Map(
    // same integer utility, same md5-keyed 9dp Gumbel draws, same argmax
    "q_dp_quantile" ->
      """WITH u AS (
        |  SELECT user_id,
        |    least(sum(CAST(round(value, 2) AS DECIMAL(18,2))),
        |      CAST(5000.00 AS DECIMAL(18,2))) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |cnt AS (
        |  SELECT least(CAST(floor(x / 100) AS BIGINT), 49) AS b,
        |    count(*) AS c
        |  FROM u GROUP BY 1),
        |bins AS (
        |  SELECT t.b, coalesce(c.c, 0) AS c
        |  FROM (SELECT unnest(range(0, 50)) AS b) t
        |  LEFT JOIN cnt c ON c.b = t.b),
        |sc AS (
        |  SELECT b,
        |    CAST(sum(c) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    (SELECT CAST(sum(c) AS BIGINT) FROM bins) AS n
        |  FROM bins),
        |sc2 AS (
        |  SELECT b, n, -abs(2 * cum - n) AS u2,
        |    round(-ln(-ln((('0x' || substr(md5('dpq:'
        |        || CAST(b AS VARCHAR)), 1, 15))::BIGINT + 0.5)
        |      / 1152921504606846976.0)), 9) AS g
        |  FROM sc),
        |sc3 AS (
        |  SELECT b, n, u2, 0.25 * CAST(u2 AS DOUBLE) + g AS score
        |  FROM sc2),
        |rel AS (SELECT b AS released_bin, n FROM sc3
        |        ORDER BY score DESC, b ASC LIMIT 1),
        |tru AS (SELECT b AS true_bin FROM sc3
        |        ORDER BY u2 DESC, b ASC LIMIT 1)
        |SELECT rel.n AS n_users, CAST(1.0 AS DOUBLE) AS epsilon,
        |  released_bin, released_bin * 100 AS bin_lo,
        |  released_bin * 100 + 100 AS bin_hi, true_bin,
        |  released_bin = true_bin AS exact_hit
        |FROM rel CROSS JOIN tru""".stripMargin,

    // same bin-keyed md5 draws, same clamp-and-renormalize release
    "q_dp_histogram" ->
      """WITH bins AS (
        |  SELECT CAST(floor(c_acctbal / 1000) AS BIGINT) AS bin,
        |    count(*) AS n
        |  FROM customer GROUP BY 1),
        |w AS (
        |  SELECT bin, n,
        |    round(-1.0
        |      * (CASE WHEN ((('0x' || substr(md5('dph:' || bin::VARCHAR),
        |          1, 15))::BIGINT + 0.5) / 1152921504606846976.0) >= 0.5
        |        THEN 1.0 ELSE -1.0 END)
        |      * ln(2.0 * least(
        |        ((('0x' || substr(md5('dph:' || bin::VARCHAR),
        |          1, 15))::BIGINT + 0.5) / 1152921504606846976.0),
        |        1.0 - ((('0x' || substr(md5('dph:' || bin::VARCHAR),
        |          1, 15))::BIGINT + 0.5) / 1152921504606846976.0))), 6)
        |      AS lap
        |  FROM bins),
        |r AS (
        |  SELECT bin, n, lap, greatest(n + lap, 0.0) AS released
        |  FROM w),
        |tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_tot,
        |    sum(CAST(released AS DECIMAL(18,6))) AS r_tot
        |  FROM r)
        |SELECT bin, n,
        |  round(n + lap, 2) AS noisy,
        |  round(released, 2) AS released,
        |  round(CAST(n AS DOUBLE) / n_tot, 6) AS true_share,
        |  round(released / CAST(r_tot AS DOUBLE), 6) AS released_share,
        |  round(abs(round(released / CAST(r_tot AS DOUBLE), 6)
        |    - round(CAST(n AS DOUBLE) / n_tot, 6)), 6) AS share_err
        |FROM r CROSS JOIN tot ORDER BY bin""".stripMargin,

    // same class×bin grid, same exact-integer cumulative EMD numerators
    "q_tcloseness" ->
      """WITH rows_ AS (
        |  SELECT c_mktsegment AS seg, c_nationkey AS nat,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS sv
        |  FROM customer),
        |cells AS (
        |  SELECT seg, nat, sv, count(*) AS c FROM rows_ GROUP BY 1, 2, 3),
        |classes AS (
        |  SELECT seg, nat, CAST(sum(c) AS BIGINT) AS n FROM cells
        |  GROUP BY 1, 2),
        |bins AS (
        |  SELECT sv, CAST(sum(c) AS BIGINT) AS g FROM cells GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(g) AS BIGINT) AS big_n, count(*) AS m
        |  FROM bins),
        |grid AS (
        |  SELECT cl.seg, cl.nat, cl.n, b.sv, b.g,
        |    COALESCE(ce.c, 0) AS c, t.big_n, t.m
        |  FROM classes cl CROSS JOIN bins b
        |  LEFT JOIN cells ce
        |    ON ce.seg = cl.seg AND ce.nat = cl.nat AND ce.sv = b.sv
        |  CROSS JOIN tot t),
        |cum AS (
        |  SELECT seg, nat, n, big_n, m,
        |    sum(CAST(c AS DECIMAL(38,0)) * big_n
        |      - CAST(g AS DECIMAL(38,0)) * n) OVER (
        |      PARTITION BY seg, nat ORDER BY sv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM grid),
        |agg AS (
        |  SELECT seg, nat, n, big_n, m, sum(abs(cum)) AS sabs
        |  FROM cum GROUP BY 1, 2, 3, 4, 5)
        |SELECT seg, nat, n AS n_rows,
        |  round(CAST(sabs AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * big_n) / (m - 1), 6) AS t,
        |  round(CAST(sabs AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * big_n) / (m - 1), 6) > 0.2
        |    AS violates_t02
        |FROM agg ORDER BY seg, nat""".stripMargin,

    // same clipped decimal sums, same md5 inverse-CDF Laplace draws
    "q_dp_mean" ->
      """WITH b AS (
        |  SELECT source, count(*) AS n,
        |    sum(CAST(least(CAST(n_chars AS DOUBLE), 1000.0)
        |      AS DECIMAL(18,2))) AS s
        |  FROM documents GROUP BY source),
        |u AS (
        |  SELECT source, n, s,
        |    ((('0x' || substr(md5('dpm:s:' || source), 1, 15))::BIGINT
        |      + 0.5) / 1152921504606846976.0) AS us,
        |    ((('0x' || substr(md5('dpm:n:' || source), 1, 15))::BIGINT
        |      + 0.5) / 1152921504606846976.0) AS un
        |  FROM b),
        |w AS (
        |  SELECT source, n, s,
        |    CAST(s AS DOUBLE) + round(-2000.0
        |      * (CASE WHEN us >= 0.5 THEN 1.0 ELSE -1.0 END)
        |      * ln(2.0 * least(us, 1.0 - us)), 6) AS noisy_s,
        |    CAST(n AS DOUBLE) + round(-2.0
        |      * (CASE WHEN un >= 0.5 THEN 1.0 ELSE -1.0 END)
        |      * ln(2.0 * least(un, 1.0 - un)), 6) AS noisy_n
        |  FROM u)
        |SELECT source, n,
        |  round(CAST(s AS DOUBLE) / n, 4) AS true_mean,
        |  round(noisy_s / noisy_n, 4) AS dp_mean,
        |  round(abs(noisy_s / noisy_n - CAST(s AS DOUBLE) / n)
        |    / (CAST(s AS DOUBLE) / n), 6) AS rel_err
        |FROM w ORDER BY source""".stripMargin,

    // same per-table violation aggregates; anti-joins as NOT EXISTS
    "q_expectations" ->
      """WITH o AS (
        |  SELECT count(*) - count(DISTINCT o_orderkey) AS dup_ok,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS null_ck
        |  FROM orders),
        |l AS (
        |  SELECT count(*) AS n_li,
        |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |      THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty,
        |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS bad_disc
        |  FROM lineitem),
        |e AS (
        |  SELECT CAST(sum(CASE WHEN event_type NOT IN
        |      ('view','click','signup','purchase','error')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS bad_type
        |  FROM events),
        |dd AS (
        |  SELECT CAST(sum(CASE WHEN text IS NULL OR length(text) = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS empty_doc
        |  FROM documents),
        |oc AS (
        |  SELECT count(*) AS orphans_oc FROM orders o2
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |    WHERE c.c_custkey = o2.o_custkey)),
        |lo AS (
        |  SELECT count(*) AS orphans_lo FROM lineitem li
        |  WHERE NOT EXISTS (SELECT 1 FROM orders oo
        |    WHERE oo.o_orderkey = li.l_orderkey)),
        |x AS (SELECT * FROM o CROSS JOIN l CROSS JOIN e CROSS JOIN dd
        |  CROSS JOIN oc CROSS JOIN lo)
        |SELECT * FROM (
        |  SELECT 'orders.o_orderkey_unique' AS check_name,
        |    dup_ok AS observed, CAST(0 AS BIGINT) AS threshold,
        |    dup_ok = 0 AS pass FROM x
        |  UNION ALL SELECT 'orders.o_custkey_not_null', null_ck,
        |    0, null_ck = 0 FROM x
        |  UNION ALL SELECT 'lineitem.row_count_min', n_li,
        |    1000, n_li >= 1000 FROM x
        |  UNION ALL SELECT 'lineitem.l_quantity_range', bad_qty,
        |    0, bad_qty = 0 FROM x
        |  UNION ALL SELECT 'lineitem.l_discount_range', bad_disc,
        |    0, bad_disc = 0 FROM x
        |  UNION ALL SELECT 'events.event_type_accepted', bad_type,
        |    0, bad_type = 0 FROM x
        |  UNION ALL SELECT 'documents.text_non_empty', empty_doc,
        |    0, empty_doc = 0 FROM x
        |  UNION ALL SELECT 'fk.orders_customer', orphans_oc,
        |    0, orphans_oc = 0 FROM x
        |  UNION ALL SELECT 'fk.lineitem_orders', orphans_lo,
        |    0, orphans_lo = 0 FROM x)
        |ORDER BY check_name""".stripMargin,

    "q_dataset_diff" ->
      """WITH a AS (
        |  SELECT doc_id, source AS src_a, md5(text) AS fp_a
        |  FROM documents WHERE doc_id % 4 != 1),
        |b AS (
        |  SELECT doc_id, source AS src_b,
        |    md5(CASE WHEN doc_id % 10 = 3 THEN text || ' rev2'
        |        ELSE text END) AS fp_b
        |  FROM documents WHERE doc_id % 4 != 2),
        |d AS (
        |  SELECT COALESCE(src_a, src_b) AS source,
        |    CASE WHEN fp_a IS NULL THEN 'added'
        |         WHEN fp_b IS NULL THEN 'removed'
        |         WHEN fp_a != fp_b THEN 'changed'
        |         ELSE 'unchanged' END AS cls
        |  FROM a FULL OUTER JOIN b USING (doc_id))
        |SELECT source,
        |  CAST(SUM(CASE WHEN cls = 'added' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_added,
        |  CAST(SUM(CASE WHEN cls = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  CAST(SUM(CASE WHEN cls = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_changed,
        |  CAST(SUM(CASE WHEN cls = 'unchanged' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unchanged
        |FROM d GROUP BY source ORDER BY source""".stripMargin,

    "q_dp_release" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |f AS (
        |  SELECT source, n_docs, t.tag, CAST(t.tag AS DOUBLE) AS eps,
        |    (('0x' || substr(md5('dp:' || source || ':' || t.tag), 1, 15))
        |      ::BIGINT + 0.5) / 1152921504606846976.0 AS u
        |  FROM s CROSS JOIN (SELECT unnest(['0.5','1.0','4.0']) AS tag) t),
        |n AS (
        |  SELECT source, eps, n_docs,
        |    round((-1.0 / eps)
        |      * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
        |      * ln(2.0 * least(u, 1.0 - u)), 6) AS lap
        |  FROM f)
        |SELECT source, eps, CAST(n_docs AS BIGINT) AS n_docs,
        |  round(n_docs + lap, 2) AS noisy_count,
        |  round(abs(lap), 2) AS abs_err
        |FROM n ORDER BY source, eps""".stripMargin,

    // same md5-keyed Gumbel draws, same eps·count/2 + g score, same
    // double windows with tok tie-breaks
    "q_dp_topk" ->
      s"""WITH cnt AS (
        |  SELECT tok, count(*) AS cnt FROM (
        |    SELECT unnest($toksSql) AS tok FROM documents)
        |  GROUP BY tok),
        |noisy AS (
        |  SELECT tok, cnt,
        |    round(1.0 * cnt / 2.0
        |      + round(-ln(-ln(
        |        ((('0x' || substr(md5('dptk:' || tok), 1, 15))::BIGINT
        |          + 0.5) / 1152921504606846976.0))), 6), 6) AS noisy
        |  FROM cnt),
        |ranked AS (
        |  SELECT tok, noisy,
        |    row_number() OVER (ORDER BY cnt DESC, tok ASC) AS true_rank,
        |    row_number() OVER (ORDER BY noisy DESC, tok ASC)
        |      AS released_rank
        |  FROM noisy)
        |SELECT released_rank, tok, noisy, true_rank,
        |  true_rank <= 20 AS in_true_topk
        |FROM ranked WHERE released_rank <= 20
        |ORDER BY released_rank""".stripMargin,

    // same member-half training counts, LEFT-join smoothing floor, 6dp
    // lp terms into decimal sums, exact 2R-integer midranks
    "q_mia_audit" ->
      s"""WITH toks AS (
        |  SELECT doc_id, doc_id % 2 = 0 AS member,
        |    unnest($toksSql) AS tok
        |  FROM documents),
        |mc AS (SELECT tok, count(*) AS cnt FROM toks
        |       WHERE member GROUP BY tok),
        |mt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_mt,
        |       count(*) AS v_m FROM mc),
        |sc AS (
        |  SELECT t.doc_id, t.member,
        |    CAST(round(ln((coalesce(mc.cnt, 0) + 1)
        |      / (mt.n_mt + mt.v_m)), 6) AS DECIMAL(18,6)) AS lp
        |  FROM toks t LEFT JOIN mc ON mc.tok = t.tok CROSS JOIN mt),
        |docs_ AS (
        |  SELECT member,
        |    round(-CAST(sum(lp) AS DOUBLE) / count(*), 6) AS nll
        |  FROM sc GROUP BY doc_id, member),
        |bynll AS (
        |  SELECT nll, count(*) AS c_all,
        |    CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c_m
        |  FROM docs_ GROUP BY nll),
        |ranked AS (
        |  SELECT c_all, c_m,
        |    c_m * (2 * coalesce(CAST(sum(c_all) OVER (ORDER BY nll
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) + c_all + 1) AS r2m
        |  FROM bynll),
        |agg AS (
        |  SELECT CAST(sum(c_all) AS BIGINT) AS n_all,
        |    CAST(sum(c_m) AS BIGINT) AS nm,
        |    CAST(sum(r2m) AS BIGINT) AS sr2
        |  FROM ranked),
        |auc AS (
        |  SELECT nm AS n_members, n_all - nm AS n_nonmembers,
        |    round(1.0 - CAST(sr2 - nm * (nm + 1) AS DOUBLE)
        |      / (2.0 * nm * (n_all - nm)), 6) AS attack_auc
        |  FROM agg WHERE nm > 0 AND n_all - nm > 0)
        |SELECT n_members, n_nonmembers, attack_auc,
        |  round(2.0 * abs(attack_auc - 0.5), 6) AS advantage,
        |  attack_auc > 0.6 AS leaky
        |FROM auc""".stripMargin,

    // same max-ts anchor, 3-row policy spine, exact integer/decimal
    // sums, each fraction divides once
    "q_retention_sweep" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(round(value, 6) AS DECIMAL(18,6)) AS v
        |  FROM events),
        |anchor AS (SELECT max(day) AS anchor FROM ev),
        |spine AS (SELECT unnest([30, 60, 90]) AS policy_days),
        |g AS (
        |  SELECT event_type, policy_days,
        |    (anchor - day) >= policy_days AS drp, v, day
        |  FROM ev CROSS JOIN anchor CROSS JOIN spine)
        |SELECT event_type, policy_days, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN drp THEN 1 ELSE 0 END) AS BIGINT)
        |    AS rows_dropped,
        |  round(CAST(sum(CASE WHEN drp THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS drop_frac,
        |  round(CAST(coalesce(sum(CASE WHEN drp THEN v END),
        |    CAST(0 AS DECIMAL(18,6))) AS DOUBLE), 2) AS value_dropped,
        |  min(CASE WHEN NOT drp THEN day END) AS oldest_kept_day
        |FROM g GROUP BY 1, 2 ORDER BY event_type, policy_days""".stripMargin,

    // same QI hierarchy and class relation as q_kanonymity; exact
    // integer class stats, each risk divides once and rounds once
    "q_reident_risk" ->
      """WITH c0 AS (
        |  SELECT c_mktsegment AS seg, c_nationkey AS nat,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bin
        |  FROM customer),
        |s AS (
        |  SELECT 0 AS level, count(*) AS cnt FROM c0
        |    GROUP BY seg, nat, bal_bin
        |  UNION ALL
        |  SELECT 1, count(*) FROM c0 GROUP BY seg, nat
        |  UNION ALL
        |  SELECT 2, count(*) FROM c0 GROUP BY seg)
        |SELECT level, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  count(*) AS n_classes,
        |  CAST(min(cnt) AS BIGINT) AS k_min,
        |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS sample_uniques,
        |  round(1.0 / min(cnt), 6) AS prosecutor_risk,
        |  round(CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS marketer_risk,
        |  round(CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / sum(cnt), 6) AS unique_frac
        |FROM s GROUP BY level ORDER BY level""".stripMargin,

    "q_kanonymity" ->
      """WITH c0 AS (
        |  SELECT c_mktsegment AS seg, c_nationkey AS nat,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bin
        |  FROM customer),
        |s AS (
        |  SELECT 0 AS level, count(*) AS cnt FROM c0
        |    GROUP BY seg, nat, bal_bin
        |  UNION ALL
        |  SELECT 1, count(*) FROM c0 GROUP BY seg, nat
        |  UNION ALL
        |  SELECT 2, count(*) FROM c0 GROUP BY seg),
        |ks AS (SELECT unnest([2, 5, 10]) AS k)
        |SELECT level, k,
        |  count(*) AS classes,
        |  CAST(SUM(CASE WHEN cnt < k THEN 1 ELSE 0 END) AS BIGINT)
        |    AS classes_at_risk,
        |  CAST(SUM(cnt) AS BIGINT) AS rows_total,
        |  CAST(SUM(CASE WHEN cnt < k THEN cnt ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  round(CAST(SUM(CASE WHEN cnt < k THEN cnt ELSE 0 END) AS DOUBLE)
        |    / SUM(cnt), 6) AS risk_frac
        |FROM s CROSS JOIN ks
        |GROUP BY level, k
        |ORDER BY level, k""".stripMargin,

    // Holm's shared test CTEs + rank order; step-up running min from
    // the largest rank with 9dp pre-min term rounding
    "q_bh_fdr" ->
      (ksMatrixCtes + """,
        |tests AS (
        |  SELECT s1, s2,
        |    round(least(1.0, 2.0 * exp(-2.0 * lambda * lambda)), 6)
        |      AS p
        |  FROM l),
        |m AS (SELECT count(*) AS m FROM tests),
        |rk AS (
        |  SELECT tests.s1, tests.s2, tests.p, m.m,
        |    row_number() OVER (ORDER BY tests.p, tests.s1, tests.s2)
        |      AS rk
        |  FROM tests CROSS JOIN m),
        |adj AS (
        |  SELECT s1, s2, p, rk,
        |    round(least(1.0, min(round(m * p / rk, 9)) OVER (
        |      ORDER BY rk DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
        |      AS adj_p
        |  FROM rk)
        |SELECT s1, s2, p, rk, adj_p, adj_p < 0.05 AS reject
        |FROM adj ORDER BY rk""".stripMargin),

    // the BH chain + the 12dp-decimal harmonic factor c(m) inside the
    // running min
    "q_by_fdr" ->
      (ksMatrixCtes + """,
        |tests AS (
        |  SELECT s1, s2,
        |    round(least(1.0, 2.0 * exp(-2.0 * lambda * lambda)), 6)
        |      AS p
        |  FROM l),
        |m AS (SELECT count(*) AS m FROM tests),
        |rk AS (
        |  SELECT tests.s1, tests.s2, tests.p, m.m,
        |    row_number() OVER (ORDER BY tests.p, tests.s1, tests.s2)
        |      AS rk
        |  FROM tests CROSS JOIN m),
        |cm AS (
        |  SELECT CAST(sum(CAST(round(1.0 / rk, 12) AS DECIMAL(28,12)))
        |    AS DOUBLE) AS cm
        |  FROM rk),
        |adj AS (
        |  SELECT s1, s2, p, rk, cm.cm,
        |    round(least(1.0, min(round(m * cm.cm * p / rk, 9)) OVER (
        |      ORDER BY rk DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
        |      AS adj_p
        |  FROM rk CROSS JOIN cm)
        |SELECT s1, s2, p, rk, round(cm, 6) AS c_m, adj_p,
        |  adj_p < 0.05 AS reject
        |FROM adj ORDER BY rk""".stripMargin),

    // same shared test CTEs, same running-max step-down with 9dp
    // pre-max term rounding and (p, s1, s2) rank order
    "q_holm" ->
      (ksMatrixCtes + """,
        |tests AS (
        |  SELECT s1, s2,
        |    round(least(1.0, 2.0 * exp(-2.0 * lambda * lambda)), 6)
        |      AS p
        |  FROM l),
        |m AS (SELECT count(*) AS m FROM tests),
        |rk AS (
        |  SELECT tests.s1, tests.s2, tests.p, m.m,
        |    row_number() OVER (ORDER BY tests.p, tests.s1, tests.s2)
        |      AS rk
        |  FROM tests CROSS JOIN m),
        |adj AS (
        |  SELECT s1, s2, p, rk,
        |    round(least(1.0, max(round((m - rk + 1) * p, 9)) OVER (
        |      ORDER BY p, s1, s2
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
        |      AS adj_p
        |  FROM rk)
        |SELECT s1, s2, p, rk, adj_p, adj_p < 0.05 AS reject
        |FROM adj ORDER BY rk""".stripMargin),

    // same source×pooled-length CDF grid, same 9dp-rounded gaps and
    // Kolmogorov tail approximation per source pair
    "q_ks_matrix" ->
      (ksMatrixCtes + """
        |SELECT s1, s2, n1, n2, d_stat, lambda,
        |  round(least(1.0, 2.0 * exp(-2.0 * lambda * lambda)), 6)
        |    AS p_approx
        |FROM l ORDER BY s1, s2""".stripMargin),

        // same QI/sensitive cells, same once-rounded DECIMAL(18,9)
    // −p·ln(p) terms, same exp(H) effective-l
    "q_ldiversity" ->
      """WITH cells AS (
        |  SELECT c_mktsegment AS seg, c_nationkey AS nat,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS sv,
        |    count(*) AS c
        |  FROM customer GROUP BY 1, 2, 3),
        |cls AS (
        |  SELECT seg, nat, CAST(sum(c) AS BIGINT) AS n_rows,
        |    count(*) AS distinct_l
        |  FROM cells GROUP BY 1, 2),
        |ent AS (
        |  SELECT cells.seg, cells.nat,
        |    sum(CAST(round(-(cells.c / cls.n_rows
        |      * ln(cells.c / cls.n_rows)), 9) AS DECIMAL(18,9))) AS h
        |  FROM cells JOIN cls USING (seg, nat)
        |  GROUP BY 1, 2)
        |SELECT cls.seg, cls.nat, cls.n_rows, cls.distinct_l,
        |  round(CAST(ent.h AS DOUBLE), 6) AS entropy,
        |  round(exp(CAST(ent.h AS DOUBLE)), 6) AS eff_l,
        |  cls.distinct_l >= 2 AS div2,
        |  cls.distinct_l >= 3 AS div3
        |FROM cls JOIN ent USING (seg, nat)
        |ORDER BY cls.seg, cls.nat""".stripMargin,
    // same Laplace smoothing over the global vocab, same once-rounded
    // DECIMAL(18,9) p·ln(p/q) terms (Spark log == DuckDB ln), exact sums
    "q_kl_sources" ->
      s"""WITH t AS (
        |  SELECT source, unnest($toksSql) AS tok FROM documents),
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
        |  LEFT JOIN counts c ON c.source = s.source AND c.tok = vo.tok)
        |SELECT a.source AS src1, b.source AS src2,
        |  CAST(sum(CAST(round(a.p * ln(a.p / b.p), 9)
        |    AS DECIMAL(18,9))) AS DOUBLE) AS kl
        |FROM spine a JOIN spine b ON a.tok = b.tok
        |WHERE a.source != b.source
        |GROUP BY 1, 2
        |ORDER BY src1, src2""".stripMargin,
    // identical shingle construction to q_decontaminate's oracle; the
    // exact-integer Jaccard quotient rounds once on both sides
    "q_source_overlap" ->
      s"""WITH $shCte,
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |        FROM sh GROUP BY source),
        |inter AS (
        |  SELECT a.source AS s1, b.source AS s2,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT t1.source AS s1, t2.source AS s2, t1.n AS n1, t2.n AS n2,
        |  COALESCE(inter, 0) AS inter,
        |  round(CAST(COALESCE(inter, 0) AS DOUBLE)
        |    / (t1.n + t2.n - COALESCE(inter, 0)), 6) AS j
        |FROM tot t1 JOIN tot t2 ON t1.source < t2.source
        |LEFT JOIN inter ON inter.s1 = t1.source AND inter.s2 = t2.source
        |ORDER BY s1, s2""".stripMargin,

    // same 60-bit md5 base hash as the q_minhash_md5 oracle; the 16
    // permutations are the SAME xor constants the plan embeds
    "q_minhash_source" ->
      s"""WITH $shCte,
        |perm(i, c) AS (VALUES ${permConsts.map { case (i, c) =>
          s"($i, CAST($c AS BIGINT))" }.mkString(",\n  ")}),
        |hb AS (
        |  SELECT source,
        |    ('0x' || substr(md5('mh:' || s), 1, 15))::BIGINT AS h
        |  FROM sh),
        |sig AS (
        |  SELECT source, i, min(xor(h, c)) AS mh
        |  FROM hb, perm GROUP BY source, i)
        |SELECT a.source AS s1, b.source AS s2,
        |  CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS INT)
        |    AS n_match,
        |  round(CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
        |    AS DOUBLE) / 16.0, 6) AS est_j
        |FROM sig a JOIN sig b ON a.i = b.i AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY s1, s2""".stripMargin,

    // cumulative-AND counters in one aggregate row, unpivoted by a
    // 4-row VALUES join — the oracle's stack()
    "q_filter_funnel" ->
      s"""WITH tk AS (
        |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
        |ts AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |    CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct,
        |    CAST(SUM(len(tok)) AS BIGINT) AS tok_chars
        |  FROM tk GROUP BY doc_id),
        |g AS (
        |  SELECT d.doc_id,
        |    d.n_chars >= 200 AS g1,
        |    d.lang IN ('en', 'fr', 'de', 'es') AS g2,
        |    (COALESCE(ts.n_tok, 0) > 0 AND
        |     round(1.0 - CAST(ts.n_distinct AS DOUBLE) / ts.n_tok, 6)
        |       <= 0.6) AS g3,
        |    (COALESCE(ts.n_tok, 0) > 0 AND
        |     round(CAST(ts.tok_chars AS DOUBLE) / ts.n_tok, 6)
        |       BETWEEN 2.0 AND 12.0) AS g4
        |  FROM documents d LEFT JOIN ts USING (doc_id)),
        |c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c2,
        |    CAST(SUM(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c3,
        |    CAST(SUM(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c4
        |  FROM g)
        |SELECT v.stage, v.gate,
        |  CASE v.stage WHEN 1 THEN c0 WHEN 2 THEN c1 WHEN 3 THEN c2
        |    ELSE c3 END AS n_in,
        |  CASE v.stage WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3
        |    ELSE c4 END AS n_kept,
        |  CASE v.stage WHEN 1 THEN c0 - c1 WHEN 2 THEN c1 - c2
        |    WHEN 3 THEN c2 - c3 ELSE c3 - c4 END AS n_dropped
        |FROM c, (VALUES (1, 'min_length'), (2, 'language'),
        |  (3, 'repetition'), (4, 'token_shape')) v(stage, gate)
        |ORDER BY v.stage""".stripMargin,

    // the ring literals are the SAME Scala-computed md5 hex strings the
    // plan embeds; assignment = min ring point >= doc point with wrap,
    // pure lexicographic string comparison in both engines
    "q_reshard_plan" ->
      s"""WITH dp AS (
        |  SELECT doc_id, md5('doc:' || CAST(doc_id AS VARCHAR)) AS p,
        |    ('0x' || substr(md5('doc:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      ::BIGINT AS h
        |  FROM documents),
        |r8(shard, pt) AS (VALUES ${ringValuesSql(8)}),
        |r9(shard, pt) AS (VALUES ${ringValuesSql(9)}),
        |a8 AS (
        |  SELECT doc_id,
        |    COALESCE(min(CASE WHEN pt >= p THEN pt END),
        |      '${ringPoints(8).map(_._2).min}') AS apt
        |  FROM dp, r8 GROUP BY doc_id),
        |s8 AS (SELECT a8.doc_id, r8.shard FROM a8
        |       JOIN r8 ON r8.pt = a8.apt),
        |a9 AS (
        |  SELECT doc_id,
        |    COALESCE(min(CASE WHEN pt >= p THEN pt END),
        |      '${ringPoints(9).map(_._2).min}') AS apt
        |  FROM dp, r9 GROUP BY doc_id),
        |s9 AS (SELECT a9.doc_id, r9.shard FROM a9
        |       JOIN r9 ON r9.pt = a9.apt),
        |cons AS (
        |  SELECT s8.doc_id, s9.shard AS new_shard,
        |    s8.shard != s9.shard AS moved
        |  FROM s8 JOIN s9 ON s8.doc_id = s9.doc_id),
        |m AS (SELECT doc_id, h % 9 AS new_shard,
        |        (h % 8) != (h % 9) AS moved FROM dp),
        |cl AS (SELECT new_shard, count(*) AS cnt FROM cons GROUP BY 1),
        |ml AS (SELECT new_shard, count(*) AS cnt FROM m GROUP BY 1)
        |SELECT 'consistent' AS scheme,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN moved THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_moved,
        |  round(CAST(SUM(CASE WHEN moved THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS moved_frac,
        |  (SELECT CAST(max(cnt) AS BIGINT) FROM cl) AS max_load,
        |  round((SELECT CAST(max(cnt) AS DOUBLE) FROM cl) * 9.0
        |    / count(*), 6) AS balance_ratio
        |FROM cons
        |UNION ALL
        |SELECT 'mod', CAST(count(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN moved THEN 1 ELSE 0 END) AS BIGINT),
        |  round(CAST(SUM(CASE WHEN moved THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6),
        |  (SELECT CAST(max(cnt) AS BIGINT) FROM ml),
        |  round((SELECT CAST(max(cnt) AS DOUBLE) FROM ml) * 9.0
        |    / count(*), 6)
        |FROM m
        |ORDER BY scheme""".stripMargin,

    // q_pack_sequences' running sum, fanned out over three capacities
    "q_pack_efficiency" ->
      """WITH d AS (
        |  SELECT doc_id % 8 AS shard, doc_id, n_chars,
        |    md5('pack:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (
        |  SELECT shard, n_chars,
        |    SUM(n_chars) OVER (PARTITION BY shard ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d),
        |b AS (
        |  SELECT cap, shard, (cum - n_chars) // cap AS pack_id,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS chars
        |  FROM c, (VALUES (1000), (2000), (4000)) v(cap)
        |  GROUP BY 1, 2, 3)
        |SELECT CAST(cap AS BIGINT) AS cap,
        |  CAST(count(*) AS BIGINT) AS n_packs,
        |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |  CAST(SUM(chars) AS BIGINT) AS total_chars,
        |  round(CAST(SUM(chars) AS DOUBLE) / (count(*) * cap), 6) AS util
        |FROM b GROUP BY cap ORDER BY cap""".stripMargin
  )
}
