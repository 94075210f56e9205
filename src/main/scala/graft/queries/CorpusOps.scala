package graft.queries

import graft.Decimals._
import graft.Tables
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level retrieval and tokenizer-statistics operators — the lexical
  * complement to the vector family in [[VectorQueries]]: BM25 keyword
  * retrieval over an inverted-index-shaped token table, and the pair
  * statistics that drive one BPE tokenizer merge step.
  *
  * Scale shape: everything here aggregates the corpus down to
  * vocabulary-sized tables FIRST (tf/df/length stats are one
  * partial-aggregable groupBy each), then joins those skinny tables —
  * the raw token stream is touched exactly once per statistic, and the
  * only broadcast is the constant-size query-term / corpus-stats side.
  *
  * Determinism engineering (see SURVEY.md §7.4): per-term BM25 scores
  * round once to DECIMAL(18,6) before the per-doc SUM, so the additions
  * are exact and order-independent in both engines; ln/division libm
  * drift is absorbed by the 6-decimal round.
  */
object CorpusOps extends QueryPack {

  /** BM25 (Robertson–Spärck Jones, k1=1.2 b=0.75, Lucene-style
    * ln(1 + (N-df+0.5)/(df+0.5)) idf) top-10 per query over the document
    * corpus. The token stream collapses to tf(doc,term) / df(term) /
    * dl(doc) in one shuffle each; the 7-row query-term table and the
    * 1-row corpus stats broadcast, so scoring is a map-side join against
    * tf restricted to query terms — the classic "retrieve via inverted
    * index postings" plan, relationally. Top-10 per qid is a window
    * row_number over the skinny scored table. */
  def qBm25(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    bm25Ranked(spark, sfDir, 10)
      .select($"qid", $"doc_id", $"score".cast("double").as("score"), $"rk")
      .orderBy($"qid", $"rk")
  }

  /** The BM25 scoring INPUT — tf rows restricted to query terms, joined
    * with df / dl / corpus stats (columns qid, doc_id, tf, df, dl,
    * n_docs, avgdl) but no scoring function applied. Shared by
    * [[bm25Ranked]] (fixed k1=1.2, b=0.75) and [[qBm25Tune]] (a (k1, b)
    * grid), so the index-shaped input plan has one home. */
  private def bm25ScoringInput(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    // NO pinned repartition before this tokenize (r22, measured): the
    // NB-classifier fix was tried here and REVERTED — bm25's per-pass
    // tokenize is light (~0.5 core-s, vs nb_classify's 2.5–3.4 s
    // stages), and the added exchanges + wide-stage dispatch cost more
    // than they spread (q_bm25_tune 1.59→2.52 s, q_bm25 0.69→0.99 s on
    // matched windows). The single-task scan is a fixture artifact; at
    // scale the scan splits wide on its own.
    val toks = docs.select($"doc_id",
      explode(TextFunctions.tokens($"text")).as("tok"))
    val tf = toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
    val dfreq = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    // avgdl is sum/count of longs rounded to 6 — the fixture doc counts
    // are 2·10^k so the quotient terminates within 6 decimals (exact in
    // both engines); n_docs = docs with >= 1 token, mirrored in the SQL
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      round(sum($"dl").cast("double") / count(lit(1)), 6).as("avgdl"))
    tf.join(broadcast(bm25Qterms(spark)), $"tok" === $"term")
      .join(dfreq, "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
  }

  /** The fixed 7-row query-term table (qid, term) — one home so the run,
    * the qrels, and the tuner can't drift. */
  private def bm25Qterms(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1, "hash"), (1, "join"), (2, "window"), (2, "agg"),
      (2, "stream"), (3, "slow"), (3, "scan")).toDF("qid", "term")
  }

  /** BM25-ranked (qid, doc_id, score, rk) up to rank `k` — shared by
    * [[qBm25]] and the RRF fusion stage of [[qHybridRrf]]. */
  private def bm25Ranked(spark: SparkSession, sfDir: String, k: Int)
      : DataFrame = {
    import spark.implicits._
    val scored = bm25ScoringInput(spark, sfDir)
      .select($"qid", $"doc_id",
        round(
          log(lit(1.0) + ($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
            * ($"tf" * lit(2.2))
            / ($"tf" + lit(1.2)
              * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl")),
          6).cast(dec18_6).as("s"))
    val byDoc = scored.groupBy($"qid", $"doc_id")
      .agg(sum($"s").as("score"))
    val w = Window.partitionBy($"qid").orderBy($"score".desc, $"doc_id".asc)
    byDoc.withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
  }

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack et al.,
    * SIGIR'09): fuse the BM25 top-50 with the cosine top-50 (query
    * vectors = embeddings 100·qid, joined on doc_id = vec_id) by
    * RRF(d) = Σ 1/(60 + rank), each term rounded once to DECIMAL(12,9)
    * so the fused score is exact. The two retrievers never see each
    * other — fusion is one full-outer join on (qid, doc_id) plus a
    * top-10 window — which is precisely why RRF scales: each arm keeps
    * its own index-shaped plan, and docs outside the embedded subset
    * simply lack the vector term. */
  def qHybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def rrfTerm(r: Column): Column =
      round(lit(1.0) / (lit(60) + r), 9).cast(dec12_9)
    val lex = bm25Ranked(spark, sfDir, 50)
      .select($"qid", $"doc_id", $"rk".as("r_lex"))
    val emb = Tables.df(spark, sfDir, "embeddings")
    val qvecs = emb.filter($"vec_id".isin(100L, 200L, 300L))
    val vec = graft.operators.Similarity.knnBruteForce(emb, qvecs, 50)
      .select(expr("qid div 100").cast("int").as("qid"),
        $"vec_id".as("doc_id"), $"rank".as("r_vec"))
    val zero = lit(0).cast(dec12_9)
    lex.join(vec, Seq("qid", "doc_id"), "full_outer")
      .select($"qid", $"doc_id",
        (coalesce(rrfTerm($"r_lex"), zero)
          + coalesce(rrfTerm($"r_vec"), zero)).as("rrf"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"qid").orderBy($"rrf".desc, $"doc_id".asc)))
      .filter($"rk" <= 10)
      .select($"qid", $"doc_id", $"rrf".cast("double").as("rrf"), $"rk")
      .orderBy($"qid", $"rk")
  }

  /** One BPE merge step's pair statistics: corpus-weighted adjacent
    * symbol-pair frequencies (Sennrich et al., ACL'16 — public
    * algorithm). The load-bearing scale move is aggregating the corpus
    * to the VOCABULARY before exploding pairs — pair generation runs
    * over |vocab| rows weighted by token counts, not over every corpus
    * token occurrence (the same order-of-magnitude cut the Count-Min
    * sketch uses, SketchOps). Top 30 pairs = the tokenizer's next-merge
    * candidates. */
  def qBpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tc = Tables.df(spark, sfDir, "documents")
      .select(explode(TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
      // 1-char tokens have no adjacent pair; Spark's sequence(1, 0)
      // would generate a DESCENDING [1, 0], not an empty list
      .filter(length($"tok") >= 2)
    tc.select($"cnt", explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy($"pair").agg(sum($"cnt").as("total"))
      .orderBy($"total".desc, $"pair".asc)
      .limit(30)
  }

  // ---- q_oov_rate --------------------------------------------------------
  /** Tokenizer vocabulary coverage: the top-256 corpus tokens by frequency
    * (count desc, token asc — a deterministic cut at the tie boundary)
    * stand in for a trained vocabulary; per document, the token count,
    * out-of-vocabulary count, and OOV rate — the coverage report a
    * tokenizer decision rides on. One token-count aggregation, a 256-row
    * TakeOrderedAndProject broadcast into a token-keyed left join, one
    * per-doc aggregation; the rate is an exact-int IEEE quotient, left
    * unrounded. */
  def qOovRate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val toks = docs.select($"doc_id",
      explode(TextFunctions.tokens($"text")).as("tok"))
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"tok".asc).limit(256)
      .select($"tok", lit(1).as("in_vocab"))
    val per = toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
    docs.select($"doc_id").join(per, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_toks", lit(0L)).as("n_toks"),
        coalesce($"n_oov", lit(0L)).as("n_oov"),
        coalesce($"n_oov".cast("double") / $"n_toks", lit(0.0))
          .as("oov_rate"))
      .orderBy($"doc_id")
  }

  // ---- q_dataset_card ----------------------------------------------------
  /** Per-source dataset card — the release-notes summary row a corpus
    * ships with: document and language counts, total tokens, average
    * length, exact-duplicate text count, short-doc count, and the
    * dominant language with its share. One token aggregation, one
    * document aggregation, and one (source, lang) argmax window (count
    * desc, lang asc tiebreak); every ratio is an exact-int IEEE quotient
    * left unrounded. The two distinct counts run as separate two-level
    * distinct→count aggregations, NOT as countDistincts inside the base
    * agg — the q_profile lesson: multi-DISTINCT in one agg Expands the
    * table and SortAggregates with raw column values (the full TEXT!) as
    * grouping keys. Texts are md5'd before their distinct, so 16-byte
    * digests shuffle instead of documents (counts equal the raw oracle's
    * collision-free — the standing hashed-identity assumption). */
  def qDatasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val toks = docs
      .select($"source", explode(TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"source").agg(count(lit(1)).as("total_toks"))
    val nLangs = docs.select($"source", $"lang").distinct()
      .groupBy($"source").agg(count(lit(1)).as("n_langs"))
    val nTexts = docs.select($"source", md5($"text").as("h")).distinct()
      .groupBy($"source").agg(count(lit(1)).as("n_uniq_texts"))
    val base = docs.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      sum($"n_chars").as("sum_chars"),
      sum(when($"n_chars" < 100, 1L).otherwise(0L)).as("n_short"))
      .join(nLangs, "source").join(nTexts, "source")
    val langTop = docs.groupBy($"source", $"lang")
      .agg(count(lit(1)).as("ln"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"source").orderBy($"ln".desc, $"lang".asc)))
      .filter($"rk" === 1)
      .select($"source", $"lang".as("top_lang"), $"ln".as("top_lang_n"))
    // left join + coalesce (the q_oov_rate pattern): a source whose docs
    // are all token-less must still get its card row, with 0 tokens
    base.join(toks, Seq("source"), "left").join(langTop, "source")
      .select($"source", $"n_docs", $"n_langs",
        coalesce($"total_toks", lit(0L)).as("total_toks"),
        ($"sum_chars".cast("double") / $"n_docs").as("avg_chars"),
        ($"n_docs" - $"n_uniq_texts").as("n_dup_texts"),
        $"n_short", $"top_lang",
        ($"top_lang_n".cast("double") / $"n_docs").as("top_lang_share"))
      .orderBy($"source")
  }

  // ---- q_collocations ----------------------------------------------------
  /** PMI-ranked adjacent-token collocations — the phrase-mining pass that
    * feeds tokenizer merges and "New York"-style unit detection:
    * PMI(x,y) = ln(n_xy·N²/(P·n_x·n_y)) over adjacent pairs (N = token
    * count, P = pair count), support-filtered at n_xy ≥ 5, top-20 by
    * (PMI, count, pair) — PMI rounds to 6dp BEFORE the ordering so both
    * engines rank identical values, and the top-20 is an
    * orderBy+limit (TakeOrderedAndProject — per-partition heaps, no
    * global sort). Pair formation is one lead() per doc window; counts
    * are token-keyed aggregations; the ln argument is a quotient of
    * exact integers, IEEE-deterministic. */
  def qCollocations(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.df(spark, sfDir, "documents")
      .select($"doc_id",
        posexplode(TextFunctions.tokens($"text")).as(Seq("pos", "tok")))
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val pairs = toks
      .select($"tok".as("x"), lead($"tok", 1).over(w).as("y"))
      .filter($"y".isNotNull)
    val nxy = pairs.groupBy($"x", $"y").agg(count(lit(1)).as("nxy"))
    val uni = toks.groupBy($"tok").agg(count(lit(1)).as("nu"))
    val nTok = toks.agg(count(lit(1)).as("n"))
    val nPair = pairs.agg(count(lit(1)).as("p"))
    // no broadcast hint on the unigram side: a production vocabulary can
    // exceed the broadcast threshold, and these are token-keyed equi-joins
    // AQE will broadcast on its own when the vocab IS small (it is here)
    nxy.filter($"nxy" >= 5)
      .join(uni.withColumnRenamed("tok", "x")
        .withColumnRenamed("nu", "nx"), "x")
      .join(uni.withColumnRenamed("tok", "y")
        .withColumnRenamed("nu", "ny"), "y")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nPair))
      .select($"x", $"y", $"nxy",
        round(log(($"nxy".cast("double") * $"n" * $"n")
          / ($"p".cast("double") * $"nx" * $"ny")), 6).as("pmi"))
      .orderBy($"pmi".desc, $"nxy".desc, $"x".asc, $"y".asc)
      .limit(20)
  }

  // ---- q_topic_terms -----------------------------------------------------
  /** Top-3 distinguishing terms per source by lift — the "what
    * characterizes this slice" exploration view of corpus profiling:
    * lift(t, s) = (n_ts/n_s) / (n_t/N), support-filtered at n_ts ≥ 5,
    * ranked per source by (lift, count, term) with lift rounded to 6dp
    * BEFORE the window so both engines order identical values. The lift
    * argument is a quotient of exact integers (written n_ts·N / (n_s·n_t)
    * to stay a single integer-product quotient), IEEE-deterministic. One
    * (source, term) aggregation, two marginal aggregations joined back,
    * one per-source rank window over the support-filtered slice. */
  def qTopicTerms(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.df(spark, sfDir, "documents")
      .select($"source", explode(TextFunctions.tokens($"text")).as("tok"))
    val st = toks.groupBy($"source", $"tok").agg(count(lit(1)).as("nst"))
    val s = toks.groupBy($"source").agg(count(lit(1)).as("ns"))
    val t = toks.groupBy($"tok").agg(count(lit(1)).as("nt"))
    val n = toks.agg(count(lit(1)).as("n"))
    val lifted = st.filter($"nst" >= 5)
      .join(broadcast(s), "source").join(t, "tok").crossJoin(broadcast(n))
      .select($"source", $"tok", $"nst",
        round(($"nst".cast("double") * $"n") / ($"ns".cast("double") * $"nt"), 6)
          .as("lift"))
    lifted.withColumn("rk", row_number().over(
        Window.partitionBy($"source")
          .orderBy($"lift".desc, $"nst".desc, $"tok".asc)))
      .filter($"rk" <= 3)
      .select($"source", $"rk", $"tok", $"nst", $"lift")
      .orderBy($"source", $"rk")
  }

  /** log2 rank discounts 1/log2(r+1) for ranks 1..10, fixed to 9dp ONCE
    * in Scala and embedded as identical DECIMAL(12,9) literals in BOTH
    * the Spark plan and the oracle SQL — cross-engine libm log2 is not
    * bit-specified, a shared constant table is. */
  private val ndcgDiscs: Seq[(Int, String)] = (1 to 10).map { r =>
    r -> f"${1.0 / (math.log(r + 1.0) / math.log(2.0))}%.9f"
  }

  /** Retrieval evaluation over the BM25 top-10 run — the measurement step
    * of a retrieval pipeline: per query MRR, precision@10, and nDCG@10
    * against deterministic pseudo-qrels (a document's grade = how many of
    * the query's terms it contains; "fully relevant" = contains all).
    * Qrels are independent of the scoring function (containment, not
    * BM25), so the metrics genuinely evaluate the run. Gains are exact
    * integers, discounts the shared 9dp constant table, DCG/IDCG exact
    * decimal sums, and every quotient rounds once — fully hash-oracled.
    * Scale: the run is [[qBm25]]'s plan; qrels are one distinct + one
    * thin semi-join aggregate; everything downstream is per-qid rows. */
  def qRetrievalEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val run = qBm25(spark, sfDir).select($"qid", $"doc_id", $"rk")
    val qterms = Seq((1, "hash"), (1, "join"), (2, "window"), (2, "agg"),
      (2, "stream"), (3, "slow"), (3, "scan")).toDF("qid", "term")
    val nterms = qterms.groupBy($"qid").agg(count(lit(1)).as("n_terms"))
    val discs = ndcgDiscs.toDF("rk", "d")
      .select($"rk", $"d".cast(dec12_9).as("disc"))
    val dt = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", explode(TextFunctions.tokens($"text")).as("tok"))
      .distinct()
    val qrels = dt.join(broadcast(qterms), $"tok" === $"term")
      .groupBy($"qid", $"doc_id").agg(count(lit(1)).as("rel"))
    val hits = run
      .join(qrels, Seq("qid", "doc_id"), "left")
      .select($"qid", $"rk", coalesce($"rel", lit(0L)).as("rel"))
      .join(broadcast(nterms), "qid")
      .join(broadcast(discs), "rk")
    val runAgg = hits.groupBy($"qid").agg(
      sum($"rel" * $"disc").as("dcg"),
      min(when($"rel" === $"n_terms", $"rk")).as("minrk"),
      sum(when($"rel" === $"n_terms", 1L).otherwise(0L)).as("nfull"))
    val ideal = qrels
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"rel".desc, $"doc_id".asc)))
      .filter($"rn" <= 10)
      .join(broadcast(discs.select($"rk".as("rn"), $"disc")), "rn")
      .groupBy($"qid").agg(sum($"rel" * $"disc").as("idcg"))
    val relCnt = qrels.join(broadcast(nterms), "qid")
      .groupBy($"qid")
      .agg(sum(when($"rel" === $"n_terms", 1L).otherwise(0L))
        .as("n_rel_full"))
    nterms.select($"qid")
      .join(runAgg, Seq("qid"), "left")
      .join(ideal, Seq("qid"), "left")
      .join(relCnt, Seq("qid"), "left")
      .select($"qid",
        coalesce($"n_rel_full", lit(0L)).as("n_rel_full"),
        (coalesce($"nfull", lit(0L)).cast("double") / 10.0).as("p_at_10"),
        when($"minrk".isNotNull,
          round(lit(1.0) / $"minrk".cast("double"), 6)).otherwise(0.0)
          .as("mrr"),
        when(coalesce($"idcg", lit(java.math.BigDecimal.ZERO)) > 0,
          round($"dcg".cast("double") / $"idcg".cast("double"), 6))
          .otherwise(0.0).as("ndcg_at_10"))
      .orderBy($"qid")
  }

  // ---- q_topic_coherence ---------------------------------------------------
  /** UMass topic coherence (Mimno et al., EMNLP'11) of [[qTopicTerms]]'
    * per-source topics: for each ordered top-term pair (m ranked below
    * l), ln((D(w_m, w_l) + 1) / D(w_l)) with D = document co-occurrence
    * counts — the intrinsic "do this topic's terms actually co-occur"
    * gate that decides whether topic labels are usable as curation
    * features. Scale shape: the doc-term relation is SEMI-JOINED to the
    * ≤ 3·|sources| selected terms before any pair forms, so the
    * co-occurrence self-join runs over a vocabulary-thin slice; the
    * pair spine is topics × 3 rows and missing co-occurrences are a
    * LEFT join (D = 0 must contribute ln(1/D_l), not vanish). ln terms
    * round once to 9dp into exact decimal sums. */
  def qTopicCoherence(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tt = qTopicTerms(spark, sfDir).select($"source", $"rk", $"tok")
    val dt = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", explode(TextFunctions.tokens($"text")).as("tok"))
      .distinct()
      .join(broadcast(tt.select($"tok").distinct()), "tok")
      .localCheckpoint() // doc counts + both sides of the pair join
    val dtc = dt.groupBy($"tok").agg(count(lit(1)).as("dl"))
    val spine = tt.as("m").join(tt.as("l"),
        $"m.source" === $"l.source" && $"m.rk" > $"l.rk")
      .select($"m.source".as("source"),
        $"m.tok".as("tm"), $"l.tok".as("tl"))
    val pc = dt.select($"tok".as("tm"), $"doc_id")
      .join(dt.select($"tok".as("tl"), $"doc_id"), "doc_id")
      .groupBy($"tm", $"tl").agg(count(lit(1)).as("dml"))
    spine.join(pc, Seq("tm", "tl"), "left")
      .join(dtc.select($"tok".as("tl"), $"dl"), "tl")
      .select($"source",
        round(log((coalesce($"dml", lit(0L)) + 1).cast("double")
          / $"dl"), 9).cast(dec28_9).as("term"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum($"term").cast("double"), 6).as("coherence"))
      .orderBy($"source")
  }

  // ---- q_bm25_tune -------------------------------------------------------
  /** BM25 hyper-parameter tuner: score a 6-cell (k1, b) grid — k1 ∈
    * {0.6, 1.2, 1.8} × b ∈ {0.3, 0.75}, the default (1.2, 0.75)
    * included so the advisor prices the status quo — by mean nDCG@10
    * against tf-weighted pseudo-qrels: a doc's grade = TOTAL occurrences
    * of the query's terms in it (raw term frequency, no idf / length
    * norm / parameters — independent of every grid cell, unlike
    * q_retrieval_eval's term-containment grades which saturate at
    * nDCG = 1.0 under all six cells on this corpus). Robertson &
    * Zaragoza '09 §6 is the public tuning recipe. The scoring input is
    * [[bm25ScoringInput]] — ONE inverted-index-shaped relation built and
    * checkpointed once, feeding both the 6-row broadcast grid fan-out
    * and the qrels aggregate, so tuning costs one corpus scan;
    * everything downstream of the per-(cell, qid) top-10 window is
    * grid×query-thin. Per-term scores round to DECIMAL(18,6) pre-sum
    * (the q_bm25 rule), DCG/IDCG are exact decimal sums over the shared
    * 9dp discount literals, and the per-qid nDCG re-rounds to 6dp before
    * the cross-query mean. Output: the grid ranked by mean nDCG@10 —
    * discriminating (b=0.3 beats 0.75 on this corpus, the advisor's
    * point). */
  def qBm25Tune(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val grid = Seq((0.6, 0.3), (0.6, 0.75), (1.2, 0.3), (1.2, 0.75),
      (1.8, 0.3), (1.8, 0.75)).toDF("k1", "b")
    val input = bm25ScoringInput(spark, sfDir)
      .localCheckpoint() // feeds the grid fan-out AND the qrels agg
    val scored = input
      .crossJoin(broadcast(grid))
      .select($"k1", $"b", $"qid", $"doc_id",
        round(
          log(lit(1.0) + ($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
            * ($"tf" * ($"k1" + lit(1.0)))
            / ($"tf" + $"k1"
              * ((lit(1.0) - $"b") + $"b" * $"dl" / $"avgdl")),
          6).cast(dec18_6).as("s"))
    val byDoc = scored.groupBy($"k1", $"b", $"qid", $"doc_id")
      .agg(sum($"s").as("score"))
    val top = byDoc.withColumn("rk", row_number().over(
        Window.partitionBy($"k1", $"b", $"qid")
          .orderBy($"score".desc, $"doc_id".asc)))
      .filter($"rk" <= 10)
    val qterms = bm25Qterms(spark)
    val discs = ndcgDiscs.toDF("rk", "d")
      .select($"rk", $"d".cast(dec12_9).as("disc"))
    val qrels = input.groupBy($"qid", $"doc_id")
      .agg(sum($"tf").as("rel"))
    val dcg = top.join(qrels, Seq("qid", "doc_id"), "left")
      .join(broadcast(discs), "rk")
      .groupBy($"k1", $"b", $"qid")
      .agg(sum(coalesce($"rel", lit(0L)) * $"disc").as("dcg"))
    val idcg = qrels
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"rel".desc, $"doc_id".asc)))
      .filter($"rn" <= 10)
      .join(broadcast(discs.select($"rk".as("rn"), $"disc")), "rn")
      .groupBy($"qid").agg(sum($"rel" * $"disc").as("idcg"))
    val spine = grid.crossJoin(qterms.select($"qid").distinct())
    val nd = spine
      .join(dcg, Seq("k1", "b", "qid"), "left")
      .join(idcg, Seq("qid"), "left")
      .select($"k1", $"b",
        when($"idcg".isNotNull && $"idcg" > 0,
          round(coalesce($"dcg", lit(java.math.BigDecimal.ZERO))
            .cast("double") / $"idcg".cast("double"), 6))
          .otherwise(0.0).cast(dec18_6).as("nd"))
    nd.groupBy($"k1", $"b")
      .agg(round(sum($"nd").cast("double") / count(lit(1)), 6)
        .as("mean_ndcg"))
      .withColumn("rk", row_number().over(
        Window.orderBy($"mean_ndcg".desc, $"k1".asc, $"b".asc)))
      .orderBy($"rk")
  }

  // ---- q_skipgram --------------------------------------------------------
  /** Skip-gram co-occurrence counts — the word2vec/GloVe training-pair
    * extraction: for every token, its contexts at distances 1 and 2,
    * counted corpus-wide, top-50. One ×tokens explode and ONE per-doc
    * window pass emitting both leads (same window spec ⇒ one sort), a
    * `stack` unpivot (no second scan), then a (center, context, dist)
    * count whose shuffle is vocabulary-thin — the map-side partial
    * absorbs the corpus. Total order (n desc, center, context, dist) →
    * TakeOrderedAndProject; counts are exact integers, nothing rounds. */
  def qSkipgram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.df(spark, sfDir, "documents")
      .select($"doc_id",
        posexplode(TextFunctions.tokens($"text")).as(Seq("pos", "tok")))
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    toks
      .select($"tok".as("center"),
        lead($"tok", 1).over(w).as("c1"), lead($"tok", 2).over(w).as("c2"))
      .select($"center", expr(
        "stack(2, c1, 1, c2, 2) AS (context, dist)"))
      .filter($"context".isNotNull)
      .groupBy($"center", $"context", $"dist".cast("int").as("dist"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"center", $"context", $"dist")
      .limit(50)
  }

  // ---- q_w2v_negatives ---------------------------------------------------
  /** Negative sampling for the skip-gram trainer (Mikolov et al.,
    * NeurIPS'13): for each distinct pair among the top-50 co-occurrence
    * rows, two negatives drawn from the unigram^0.75 distribution — the smoothing
    * that keeps rare words sampleable. Draws are md5-keyed inverse-CDF
    * lookups against the exact-decimal cumulative weight table, so the
    * same recipe re-emits the same negatives anywhere (the q_temp_sample
    * replayability discipline, applied to the draw every w2v epoch
    * makes billions of times). Collisions with the pair's own tokens are
    * FLAGGED, not redrawn — a deterministic pipeline reports them and
    * lets the trainer skip (a redraw loop would be data-dependent
    * control flow).
    *
    * Scale shape: the weight table is vocabulary-thin; its cumulative
    * window is over the VOCABULARY (bounded by vocab size — the corpus
    * never enters a window); the interval lookup is a broadcast range
    * join of draw rows against that table (production replaces it with
    * the alias method / binary search against the same broadcast table —
    * same table, same determinism, O(1) per draw). pow() is rounded once
    * to 6dp before the exact decimal cumulative (the q_temp_sample pow
    * discipline). */
  def qW2vNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val vocab = Tables.df(spark, sfDir, "documents")
      .select(explode(TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val wts = vocab.select($"tok",
      round(pow($"cnt".cast("double"), 0.75), 6).cast(dec18_6).as("w"))
    val wv = Window.orderBy($"tok")
    val cum = wts
      .withColumn("hi", sum($"w").over(wv))
      .withColumn("lo", $"hi" - $"w")
    val z = wts.agg(sum($"w").as("z"))
    // DISTINCT: a pair ranking in the top-50 at both distances must draw
    // its negatives once — duplicate draw rows also made the row count
    // plan-shape-dependent (the 4-partition test session deduplicated
    // where the 32-partition verify session did not)
    val draws = qSkipgram(spark, sfDir)
      .select($"center", $"context").distinct()
      .select($"center", $"context",
        explode(array(lit(1), lit(2))).as("j"))
      .crossJoin(broadcast(z))
      .withColumn("u",
        (conv(substring(md5(concat(lit("neg:"), $"center", lit(":"),
          $"context", lit(":"), $"j".cast("string"))), 1, 15), 16, 10)
          .cast("long") + 1) / lit(1152921504606846976.0))
      .withColumn("x", $"u" * $"z".cast("double"))
    draws
      .join(broadcast(cum),
        $"x" > $"lo".cast("double") && $"x" <= $"hi".cast("double"))
      .select($"center", $"context", $"j", $"tok".as("neg_tok"),
        ($"tok" === $"center" || $"tok" === $"context").as("collision"))
      .orderBy($"center", $"context", $"j")
  }

  /** Vocabulary coverage curve — the vocab-SIZING companion to
    * [[qOovRate]]'s fixed-256 report: what fraction of all token
    * occurrences the top-100/1k/10k most frequent types cover. The
    * Zipf-curve read that decides a tokenizer's vocab budget before
    * training one. Scale shape: ONE vocabulary-thin count aggregate
    * (localCheckpointed — three consumers), then per budget a
    * distributed TakeOrderedAndProject top-N + a 1-row sum; no window
    * over the vocabulary, no single-partition cumulative pass. Ties at
    * the budget boundary break (cnt desc, tok asc) on both sides.
    * Coverage is one exact-integer division rounded once. */
  def qVocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val cnt = docs
      .select(explode(TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val tot = cnt.agg(sum($"cnt").as("n_total"),
      count(lit(1)).as("n_vocab"))
    val rows = Seq(100, 1000, 10000).map { n =>
      cnt.orderBy($"cnt".desc, $"tok".asc).limit(n)
        .agg(count(lit(1)).as("n_in"), sum($"cnt").as("covered"))
        .select(lit(n).as("top_n"), $"n_in", $"covered")
    }
    rows.reduce(_ unionAll _)
      .crossJoin(broadcast(tot))
      .select($"top_n", $"n_in", $"covered", $"n_vocab", $"n_total",
        round($"covered".cast("double") / $"n_total", 6).as("coverage"))
      .orderBy($"top_n")
  }

  /** Zipf's-law fit over the top-1000 token frequencies: least-squares
    * slope/intercept/r² of ln(freq) vs ln(rank) — the one-number corpus
    * health read (natural text sits near slope −1; a slope collapsing
    * toward 0 flags boilerplate/template contamination, a cliff past −1.5
    * flags a truncated crawl). Scale shape: ONE vocabulary-thin count
    * aggregate, a distributed TakeOrderedAndProject top-1000, then the
    * regression runs entirely on the 1000-row relation — the corpus is
    * touched exactly once and nothing wider than 1000 rows is ever
    * windowed. Determinism: ln values round once to DECIMAL(18,9) so the
    * five regression sums are exact and order-independent; the closed-form
    * slope/intercept/r² arithmetic is the same IEEE double expression in
    * both engines, rounded once at the end.
    *
    * Fixture note: the synthetic 31-type vocabulary is deliberately
    * near-uniform, so the fit reports slope ≈ −0.18 with r² ≈ 0.06 — the
    * "this is not natural text" flag firing correctly (R10bOpsSpec pins
    * the sign and the n = min(1000, |vocab|) = 31 row budget). */
  def qZipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val cnt = docs.select(explode(TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val top = cnt.orderBy($"cnt".desc, $"tok".asc).limit(1000)
    val ranked = top.withColumn("rk",
      row_number().over(Window.orderBy($"cnt".desc, $"tok".asc)))
    val xy = ranked.select(
      round(log($"rk"), 6).cast(dec18_9).as("x"),
      round(log($"cnt"), 6).cast(dec18_9).as("y"))
    val s = xy.agg(count(lit(1)).as("n"),
      sum($"x").as("dsx"), sum($"y").as("dsy"),
      sum($"x" * $"y").as("dsxy"),
      sum($"x" * $"x").as("dsxx"),
      sum($"y" * $"y").as("dsyy"))
    val n = $"n".cast("double")
    val (sx, sy) = ($"dsx".cast("double"), $"dsy".cast("double"))
    val cov = n * $"dsxy".cast("double") - sx * sy
    val vx = n * $"dsxx".cast("double") - sx * sx
    val vy = n * $"dsyy".cast("double") - sy * sy
    s.select($"n",
      round(cov / vx, 6).as("slope"),
      round((sy - (cov / vx) * sx) / n, 6).as("intercept"),
      round((cov * cov) / (vx * vy), 6).as("r2"))
  }

  /** The documents relation tagged with a position decile (bucket 0–9 by
    * doc_id range) — the corpus-prefix axis [[qHeapsGrowth]] and
    * [[qNgramNovelty]] both measure growth along. The bucket boundary is
    * exact integer arithmetic (`div`), so it never moves with fp rounding. */
  private def bucketedDocs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    bucketedDocs(spark, sfDir, pin = false)
  }

  /** `pin = true` inserts the pinned keyed repartition before the
    * consumer's ×n-grams explode (the q_token_count/q_dup_spans
    * starvation fix, PERF.md): the fixture is one parquet row-group, so
    * without it a heavy shingle stream evaluates inside the single scan
    * task (q_ngram_novelty measured run 4.7 core-s over 12 tasks =
    * parallelism ~1.6; 2.9 → 1.4 s wall with the pin). Cheap consumers
    * skip the pin — the extra full-text shuffle measured 2× on
    * q_heaps_growth's lighter token explode. */
  private def bucketedDocs(spark: SparkSession, sfDir: String,
      pin: Boolean): DataFrame = {
    import spark.implicits._
    val docs0 = Tables.df(spark, sfDir, "documents")
    val docs = if (pin)
      docs0.repartition(Tables.shufflePartitions(spark), $"doc_id")
    else docs0
    val mx = docs0.agg(max($"doc_id").as("mx"))
    docs.crossJoin(broadcast(mx))
      .select(least(expr("(doc_id * 10) div (mx + 1)"), lit(9))
        .cast("int").as("bucket"), $"text")
  }

  /** Heaps'-law vocabulary growth: cumulative distinct token types vs
    * cumulative token occurrences across ten corpus-prefix deciles, with
    * the local Heaps exponent β = ln(V_i/V_{i-1}) / ln(N_i/N_{i-1})
    * between consecutive prefixes (β ≈ 0.4–0.6 for natural text; β → 0
    * means the crawl stopped finding new language, β → 1 means near-random
    * strings). The load-bearing scale move: "distinct types in every
    * prefix" is classically quadratic (re-scan per prefix) — here each
    * type's FIRST bucket (one vocabulary-thin min-aggregate) converts it
    * to new-types-per-bucket, and the cumulative pass is a window over the
    * 10-row bucket relation, so the corpus is scanned exactly once.
    *
    * Fixture note (same framing as the pinned q_modularity collapse): the
    * synthetic documents draw from a 31-type token vocabulary, so V
    * saturates in decile 0 and β reads 0 everywhere after — the
    * "crawl stopped finding new language" signal firing BY DESIGN;
    * R10bOpsSpec pins it. The 3-gram space is much larger, so
    * [[qNgramNovelty]] shows the non-degenerate curve on the same corpus. */
  def qHeapsGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = bucketedDocs(spark, sfDir)
      .select($"bucket", explode(TextFunctions.tokens($"text")).as("tok"))
    val perB = toks.groupBy($"bucket").agg(count(lit(1)).as("n_toks"))
    val newT = toks.groupBy($"tok").agg(min($"bucket").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("new_types"))
    // windows over the 10-row bucket relation only (never the corpus)
    val ord = Window.orderBy($"bucket")
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perB.join(newT, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_types"))
      .select($"bucket", $"n_toks", $"new_types",
        sum($"n_toks").over(cum).as("cum_toks"),
        sum($"new_types").over(cum).as("cum_vocab"))
      .withColumn("beta", round(
        log($"cum_vocab".cast("double") / lag($"cum_vocab", 1).over(ord))
          / log($"cum_toks".cast("double") / lag($"cum_toks", 1).over(ord)),
        6))
      .orderBy($"bucket")
  }

  /** N-gram novelty curve: per corpus-prefix decile, how many of the
    * distinct word-3-gram types seen in that decile are NEW (first
    * occurrence anywhere in the corpus) — the n-gram-level twin of
    * [[qHeapsGrowth]] and the standard freshness read before adding a
    * crawl slice to a training mix (novelty collapsing to ~0 means the
    * slice is re-crawl). Same single-scan shape: 3-gram types per bucket
    * (one distinct agg, linear in grams), first-bucket per gram (one
    * gram-thin min-agg), and a 10-row join; novelty is one exact integer
    * quotient rounded once. */
  def qNgramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val types = bucketedDocs(spark, sfDir, pin = true)
      .select($"bucket",
        explode(array_distinct(TextFunctions.shingles($"text", 3))).as("g"))
      .distinct()
    val perB = types.groupBy($"bucket").agg(count(lit(1)).as("types"))
    val newG = types.groupBy($"g").agg(min($"bucket").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("new_types"))
    perB.join(newG, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_types"))
      .select($"bucket", $"types", $"new_types",
        round($"new_types".cast("double") / $"types", 6).as("novelty"))
      .orderBy($"bucket")
  }

  /** χ² term–language association (the classic feature-selection score
    * for building domain/language classifiers from corpus counts): for
    * every (token, lang) cell of the occurrence contingency table,
    * χ² = N·(o₁₁o₂₂ − o₁₂o₂₁)² / (n_t·(N−n_t)·n_l·(N−n_l)), reported
    * with the expected count and over/under direction, top-30 by χ².
    * All marginals re-aggregate the vocabulary-thin (lang, token) count
    * relation — one corpus pass total; the squared numerator and the
    * four-factor denominator are accumulated in DOUBLE left-to-right on
    * both engines (a BIGINT product would overflow at corpus scale).
    * Scale: per-lang totals broadcast (≤ #langs rows); the per-token
    * marginal joins on the vocabulary relation, never on the corpus. */
  def qChisqTerms(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // vocabulary×lang-thin; localCheckpoint so the corpus explode runs
    // ONCE — tl feeds three subtrees (cells + both marginals)
    val tl = Tables.df(spark, sfDir, "documents")
      .select($"lang", explode(TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("o11"))
      .localCheckpoint()
    val nt = tl.groupBy($"tok").agg(sum($"o11").as("n_t"))
    val nl = tl.groupBy($"lang").agg(sum($"o11").as("n_l"))
    val nAll = nt.agg(sum($"n_t").as("n_all"))
    tl.join(nt, "tok")
      .join(broadcast(nl), "lang")
      .crossJoin(broadcast(nAll))
      .select($"lang", $"tok", $"o11".as("n_obs"), $"n_t".as("n_term"),
        $"n_l".as("n_lang"),
        round($"n_t".cast("double") * $"n_l" / $"n_all", 6).as("expected"),
        // ADVICE r10 #3: each FACTOR casts to double before the multiply
        // (the sums/differences are N-bounded BIGINTs and cannot overflow;
        // the o11·(…) products can) — so the determinant accumulates in
        // DOUBLE end-to-end as the docstring claims, identically IEEE
        // left-to-right on both engines
        round($"n_all".cast("double")
          * ($"o11".cast("double")
              * ($"n_all" - $"n_t" - $"n_l" + $"o11")
            - ($"n_t" - $"o11").cast("double") * ($"n_l" - $"o11"))
          * ($"o11".cast("double")
              * ($"n_all" - $"n_t" - $"n_l" + $"o11")
            - ($"n_t" - $"o11").cast("double") * ($"n_l" - $"o11"))
          / ($"n_t".cast("double") * ($"n_all" - $"n_t") * $"n_l"
            * ($"n_all" - $"n_l")), 6).as("chi2"),
        when($"o11".cast("double") * $"n_all"
            > $"n_t".cast("double") * $"n_l", lit("over"))
          .otherwise(lit("under")).as("assoc"))
      .orderBy($"chi2".desc, $"lang".asc, $"tok".asc)
      .limit(30)
  }

  /** Term burstiness (Church & Gale's VMR diagnostic): variance-to-mean
    * ratio of per-document occurrence counts for the top-20 corpus terms
    * — Poisson scatter reads VMR ≈ 1, natural-language content words are
    * bursty (VMR ≫ 1, a term appears many times in few docs), so the
    * statistic separates content from function words and synthetic from
    * natural text. This fixture's near-uniform vocabulary must read
    * VMR ≈ 1 everywhere (pinned in the spec — the "synthetic corpus"
    * tell). Zero-count docs enter the moments implicitly: totals and
    * squared sums come from the (term, doc) count relation while N is
    * the full doc count, so E[x] and E[x²] are over ALL docs without
    * materializing zeros. One corpus explode, vocabulary-thin after. */
  def qBurstiness(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.df(spark, sfDir, "documents")
    val nDocs = docs.agg(count(lit(1)).as("n_all"))
    val term = docs
      .select($"doc_id", explode(TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"tok", $"doc_id").agg(count(lit(1)).as("c"))
      .groupBy($"tok")
      .agg(count(lit(1)).as("n_docs"), sum($"c").as("total"),
        sum($"c" * $"c").as("ssq"))
    term.crossJoin(broadcast(nDocs))
      .select($"tok", $"n_docs", $"total",
        round($"total".cast("double") / $"n_all", 6).as("mean"),
        round(($"ssq".cast("double") / $"n_all"
          - $"total".cast("double") / $"n_all"
            * ($"total".cast("double") / $"n_all"))
          / ($"total".cast("double") / $"n_all"), 6).as("vmr"))
      .orderBy($"total".desc, $"tok".asc)
      .limit(20)
  }

  /** Interpolated Kneser–Ney bigram perplexity per source (Kneser &
    * Ney ICASSP'95; Chen & Goodman '98) — the stronger LM-quality gate
    * next to q_perplexity_bigram's count interpolation: the backoff mass
    * uses CONTINUATION counts (how many distinct left-contexts a word
    * follows), which is exactly the statistic that distinguishes
    * "Francisco" (frequent but predictable) from genuinely productive
    * words. Fixed discount D = 0.75; scoring is resubstitution (the
    * corpus scores itself) so every bigram is seen and P > 0 with no
    * OOV branch. All model tables re-aggregate the bigram-type-thin
    * count relation (localCheckpointed — one corpus pass total); scoring
    * joins the bigram stream against vocabulary-thin tables. Per-token
    * log-probs round once to DECIMAL(18,6) before summation. */
  def qKneserNey(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val bigrams = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"source", $"text")
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
      .select($"doc_id", $"source",
        posexplode(TextFunctions.tokens($"text")).as(Seq("pos", "u")))
      .withColumn("w2", lead($"u", 1).over(w))
      .filter($"w2".isNotNull)
    val cb = bigrams.groupBy($"u", $"w2").agg(count(lit(1)).as("cb"))
      .localCheckpoint() // bigram-type-thin; feeds all four model tables
    val cu = cb.groupBy($"u").agg(sum($"cb").as("cu"))
    val n1u = cb.groupBy($"u").agg(count(lit(1)).as("n1u"))
    val n1w = cb.groupBy($"w2").agg(count(lit(1)).as("n1w"))
    val ntypes = cb.agg(count(lit(1)).as("ntypes"))
    val scored = bigrams
      .join(cb, Seq("u", "w2"))
      .join(cu, "u").join(n1u, "u").join(n1w, "w2")
      .crossJoin(broadcast(ntypes))
      .select($"doc_id", $"source",
        round(log((greatest($"cb" - lit(0.75), lit(0.0))
          + lit(0.75) * $"n1u"
            * ($"n1w".cast("double") / $"ntypes")) / $"cu"), 6)
          .cast(dec18_6).as("lp"))
    scored.groupBy($"source")
      .agg(count(lit(1)).as("n_bigrams"), sum($"lp").as("slp"))
      .select($"source", $"n_bigrams",
        round(-($"slp".cast("double")) / $"n_bigrams", 6).as("mean_nll"))
      .withColumn("ppl", round(exp($"mean_nll"), 6))
      .orderBy($"source")
  }

  /** Moving-average type–token ratio (MATTR, Covington & McFall '10) —
    * the length-independent lexical-diversity measure raw TTR is not
    * (TTR falls mechanically as documents grow; a 20-token sliding
    * window removes the length confound). Per document: the mean
    * distinct-share over every complete 20-token window, falling back
    * to whole-doc TTR for shorter documents; reported per source with
    * the raw-TTR contrast column. The window walk is a bounded 20-row
    * frame over doc-partitioned positions — O(20·tokens), no joins. */
  def qMattr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.currentRow, 19)
    val toks = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"source", $"text")
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
      .select($"doc_id", $"source",
        posexplode(TextFunctions.tokens($"text")).as(Seq("pos", "tok")),
        size(TextFunctions.tokens($"text")).as("len"))
    val winTtr = toks
      .withColumn("wset",
        size(array_distinct(collect_list($"tok").over(w))))
      .filter($"pos" <= $"len" - 20)
      .select($"doc_id", $"source",
        round($"wset".cast("double") / 20, 6).as("ttr_w"))
    val perDoc = winTtr.groupBy($"doc_id", $"source")
      .agg(round(sum($"ttr_w".cast(dec18_6)).cast("double")
        / count(lit(1)), 6).as("mattr"))
    val rawTtr = toks.groupBy($"doc_id", $"source")
      .agg(round(countDistinct($"tok").cast("double")
        / count(lit(1)), 6).as("raw_ttr"))
    val joined = rawTtr.join(perDoc, Seq("doc_id", "source"), "left")
      .select($"doc_id", $"source",
        coalesce($"mattr", $"raw_ttr").as("mattr"), $"raw_ttr")
    joined.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        round(sum($"mattr".cast(dec18_6)).cast("double") / count(lit(1)), 6)
          .as("mean_mattr"),
        round(sum($"raw_ttr".cast(dec18_6)).cast("double") / count(lit(1)), 6)
          .as("mean_raw_ttr"))
      .orderBy($"source")
  }

  /** Dunning log-likelihood-ratio collocations (G², Dunning CL'93) —
    * the statistically sound replacement for q_collocations' PMI, which
    * overweights rare pairs: G² = 2·Σ O·ln(O/E) over the bigram's 2×2
    * contingency table is χ²-distributed and ranks high-evidence
    * associations first. All four cells are exact integers from the
    * bigram-type-thin relation (one corpus window pass, the q_kneser_ney
    * stream); the 0·ln 0 = 0 limit is an explicit guard on both
    * engines; terms round to DECIMAL(18,9) before the exact sum.
    * Support ≥ 5, top-20 by G². */
  def qLlrColloc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val cb = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"text")
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
      .select($"doc_id",
        posexplode(TextFunctions.tokens($"text")).as(Seq("pos", "a")))
      .withColumn("b", lead($"a", 1).over(w))
      .filter($"b".isNotNull)
      .groupBy($"a", $"b").agg(count(lit(1)).as("k11"))
      .localCheckpoint() // bigram-type-thin; feeds marginals + scoring
    val ra = cb.groupBy($"a").agg(sum($"k11").as("r1"))
    val cbb = cb.groupBy($"b").agg(sum($"k11").as("c1"))
    val n = cb.agg(sum($"k11").as("nn"))
    def term(k: Column, r: Column, c: Column, nn: Column): Column =
      when(k > 0,
        round(k * log(k.cast("double") * nn / (r * c)), 9))
        .otherwise(lit(0.0)).cast(dec18_9)
    cb.filter($"k11" >= 5)
      .join(ra, "a").join(cbb, "b").crossJoin(broadcast(n))
      .select($"a", $"b", $"k11", $"r1", $"c1",
        ($"r1" - $"k11").as("k12"), ($"c1" - $"k11").as("k21"),
        ($"nn" - $"r1" - $"c1" + $"k11").as("k22"), $"nn")
      .select($"a", $"b", $"k11",
        round(lit(2.0) * (term($"k11", $"r1", $"c1", $"nn")
          + term($"k12", $"r1", $"nn" - $"c1", $"nn")
          + term($"k21", $"nn" - $"r1", $"c1", $"nn")
          + term($"k22", $"nn" - $"r1", $"nn" - $"c1", $"nn"))
          .cast("double"), 6).as("g2"))
      .orderBy($"g2".desc, $"a".asc, $"b".asc)
      .limit(20)
  }

  /** Good–Turing frequency re-estimation (Good '53) over the corpus
    * 3-GRAM types (the unigram vocabulary is too hot on this corpus —
    * min count ~26 — while trigram types show the textbook ladder,
    * N₁ ≈ 9.4k at sf0.01): the frequency-of-frequencies table N_r with the
    * adjusted counts r* = (r+1)·N_{r+1}/N_r and the unseen-mass
    * estimate P₀ = N₁/N — the count-smoothing primitive under
    * Katz/Kneser-Ney backoff, and the "how much probability belongs to
    * words we have never seen" read a vocabulary-coverage plan needs.
    * Two vocabulary-thin aggregates; gaps in the N_{r+1} ladder yield
    * NULL adjustments on both engines (SGT's regression step is the
    * documented production fix for sparse high-r cells). */
  def qGoodTuring(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val counts = Tables.df(spark, sfDir, "documents")
      .select($"doc_id", $"text")
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
      .select($"doc_id",
        posexplode(TextFunctions.tokens($"text")).as(Seq("pos", "tok")),
        size(TextFunctions.tokens($"text")).as("len"))
      .select($"doc_id", $"pos", $"len",
        concat_ws(" ", $"tok", lead($"tok", 1).over(w),
          lead($"tok", 2).over(w)).as("s"))
      .filter($"pos" <= $"len" - 3)
      .groupBy($"s").agg(count(lit(1)).as("c"))
    val fof = counts.groupBy($"c".as("r"))
      .agg(count(lit(1)).as("n_r"))
      .localCheckpoint() // frequency-of-frequency-thin
    val n = counts.agg(sum($"c").as("n_tok"))
    val p0 = fof.filter($"r" === 1)
      .crossJoin(broadcast(n))
      .select(round($"n_r".cast("double") / $"n_tok", 9).as("p0"))
    fof.filter($"r" <= 10)
      .join(fof.select(($"r" - 1).as("r"), $"n_r".as("n_r1")),
        Seq("r"), "left")
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(p0))
      .select($"r", $"n_r",
        when($"n_r1".isNull, lit(null).cast("double"))
          .otherwise(round(($"r" + 1) * $"n_r1".cast("double")
            / $"n_r", 6)).as("r_star"),
        when($"n_r1".isNull, lit(null).cast("double"))
          .otherwise(round(($"r" + 1) * $"n_r1".cast("double")
            / $"n_r" / $"n_tok", 9)).as("p_gt"),
        $"p0")
      .orderBy($"r")
  }

  // ---- q_readability -----------------------------------------------------
  /** Flesch reading ease + Flesch–Kincaid grade level per source
    * (Flesch '48; Kincaid '75) — the classic difficulty axis a
    * curriculum/mixture policy reads beside quality scores (q_curriculum
    * buckets by a difficulty proxy; this is the standard one). Counts
    * per doc: whitespace words, sentence-ending punctuation runs
    * ([.!?]+), and vowel-group syllable approximations ([aeiouy]+ runs,
    * the usual regex heuristic — exact syllabification needs a
    * dictionary). All three are exact integers summed per source, so
    * the two closed-form scores are one shared double formula over
    * exact sums — nothing floats until the last expression. */
  def qReadability(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.df(spark, sfDir, "documents")
      .select($"source",
        size(TextFunctions.tokens($"text")).cast("long").as("w"),
        size(regexp_extract_all($"text", lit("[.!?]+"), lit(0)))
          .cast("long").as("s"),
        size(regexp_extract_all(lower($"text"), lit("[aeiouy]+"), lit(0)))
          .cast("long").as("y"))
    val g = d.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      sum($"w").as("words"), sum($"s").as("sentences"),
      sum($"y").as("syllables"))
    val wps = $"words".cast("double") / greatest($"sentences", lit(1L))
    val spw = $"syllables".cast("double") / greatest($"words", lit(1L))
    g.select($"source", $"n_docs", $"words", $"sentences", $"syllables",
      round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 4)
        .as("flesch_ease"),
      round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 4)
        .as("fk_grade"))
      .orderBy($"source")
  }

  // ---- q_textrank --------------------------------------------------------
  /** TextRank keyword extraction (Mihalcea & Tarau '04): weighted
    * PageRank over the token co-occurrence graph — the composition the
    * corpus family was missing (collocations score PAIRS; this ranks
    * individual KEYWORDS by graph centrality). Graph: nodes are the
    * top-64 corpus tokens (count-ranked, token tie-break), an edge per
    * co-occurrence within a 2-token window, weighted by count; 3
    * unrolled damped iterations with the exact q_pagerank decimal
    * discipline (contributions round once to 12dp into DECIMAL(28,14)
    * sums, per-iteration scores round to 12dp, output to 9dp). Top-20
    * keywords.
    *
    * Scale shape: the position stream is one windowed pass per doc
    * (q_skipgram's lead() trick, partitioned by doc); everything after
    * the count aggregation runs on the ≤64-node vocabulary graph —
    * corpus size buys edge-count mass, not plan growth. The vocabulary
    * cut IS the 100 TB lever: the graph never outgrows the top-k. */
  def qTextrank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.df(spark, sfDir, "documents")
      .repartition(Tables.shufflePartitions(spark), $"doc_id")
      .select($"doc_id",
        posexplode(TextFunctions.tokens($"text")).as(Seq("p", "tok")))
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"tok".asc).limit(64).select($"tok")
      .localCheckpoint() // both endpoint filters read it
    val wd = Window.partitionBy($"doc_id").orderBy($"p")
    val led = toks
      .withColumn("n1", lead($"tok", 1).over(wd))
      .withColumn("n2", lead($"tok", 2).over(wd))
    val co = led.select($"tok".as("a"), $"n1".as("b"))
      .union(led.select($"tok".as("a"), $"n2".as("b")))
      .filter($"b".isNotNull && $"a" =!= $"b")
      .join(broadcast(vocab.select($"tok".as("a"))), "a")
      .join(broadcast(vocab.select($"tok".as("b"))), "b")
      .select(least($"a", $"b").as("u"), greatest($"a", $"b").as("v"))
    val edges = co.groupBy($"u", $"v").agg(count(lit(1)).as("w"))
    val e2 = edges.union(edges.select($"v".as("u"), $"u".as("v"), $"w"))
      .localCheckpoint() // referenced by every iteration
    val deg = e2.groupBy($"u".as("node")).agg(sum($"w").as("wdeg"))
      .localCheckpoint()
    val nTotal = deg.agg(count(lit(1)).as("n"))
    var pr = deg.crossJoin(broadcast(nTotal))
      .select($"node", $"wdeg", $"n", (lit(1.0) / $"n").as("pr"))
    for (_ <- 1 to 3) {
      val contrib = e2.join(pr, e2("u") === pr("node"))
        .select($"v".as("node"),
          round($"pr" * $"w" / $"wdeg", 12).cast(dec28_14).as("c"))
        .groupBy($"node").agg(sum($"c").as("sw"))
      pr = pr.select($"node", $"wdeg", $"n")
        .join(contrib, Seq("node"), "left")
        .select($"node", $"wdeg", $"n",
          round(lit(0.15) / $"n"
            + lit(0.85) * coalesce($"sw".cast("double"), lit(0.0)), 12)
            .as("pr"))
    }
    pr.select($"node".as("tok"), round($"pr", 9).as("score"))
      .orderBy($"score".desc, $"tok".asc).limit(20)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_textrank" -> qTextrank,
    "q_readability" -> qReadability,
    "q_good_turing" -> qGoodTuring,
    "q_llr_colloc" -> qLlrColloc,
    "q_mattr" -> qMattr,
    "q_kneser_ney" -> qKneserNey,
    "q_burstiness" -> qBurstiness,
    "q_chisq_terms" -> qChisqTerms,
    "q_zipf_fit" -> qZipfFit,
    "q_heaps_growth" -> qHeapsGrowth,
    "q_ngram_novelty" -> qNgramNovelty,
    "q_vocab_coverage" -> qVocabCoverage,
    "q_skipgram" -> qSkipgram,
    "q_w2v_negatives" -> qW2vNegatives,
    "q_topic_terms" -> qTopicTerms,
    "q_collocations" -> qCollocations,
    "q_dataset_card" -> qDatasetCard,
    "q_bm25" -> qBm25,
    "q_bpe_merges" -> qBpeMerges,
    "q_hybrid_rrf" -> qHybridRrf,
    "q_oov_rate" -> qOovRate,
    "q_retrieval_eval" -> qRetrievalEval,
    "q_bm25_tune" -> qBm25Tune,
    "q_topic_coherence" -> qTopicCoherence
  )

  /** The BM25 INPUT relations (token stream → tf / dl / df / corpus
    * stats / query terms) with no scoring attached — shared by
    * [[bm25CtesSql]] and the q_bm25_tune oracle, whose scoring stage is
    * parametric in (k1, b). */
  private def bm25BaseCtesSql: String =
    s"""toks AS (
      |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
      |            round(CAST(sum(dl) AS DOUBLE) / count(*), 6) AS avgdl
      |          FROM dl),
      |q(qid, term) AS (VALUES (1, 'hash'), (1, 'join'), (2, 'window'),
      |  (2, 'agg'), (2, 'stream'), (3, 'slow'), (3, 'scan'))""".stripMargin

  /** Shared BM25 oracle CTE chain, token stream → per-(qid, doc) summed
    * score (`ag`) — interpolated into BOTH the q_bm25 and q_hybrid_rrf
    * oracles so the scoring function can never drift between them (the
    * Scala side shares `bm25Ranked` the same way). */
  private def bm25CtesSql: String =
    s"""$bm25BaseCtesSql,
      |sc AS (
      |  SELECT qid, tf.doc_id,
      |    CAST(round(
      |      ln(CAST(1 AS DOUBLE)
      |          + (n_docs - df + CAST(0.5 AS DOUBLE))
      |            / (df + CAST(0.5 AS DOUBLE)))
      |        * (tf * CAST(2.2 AS DOUBLE))
      |        / (tf + CAST(1.2 AS DOUBLE)
      |          * (CAST(0.25 AS DOUBLE)
      |            + CAST(0.75 AS DOUBLE) * dl / avgdl)),
      |      6) AS DECIMAL(18,6)) AS s
      |  FROM tf JOIN q ON tf.tok = q.term
      |       JOIN dfreq USING (tok) JOIN dl USING (doc_id)
      |       CROSS JOIN stats),
      |ag AS (SELECT qid, doc_id, sum(s) AS score FROM sc GROUP BY 1, 2)""".stripMargin

  private val toksSql =
    "list_filter(string_split(lower(text), ' '), x -> x != '')"

  /** The per-source lift-ranked top-3 topic-term chain (→ relation `tt`:
    * source, rk, tok, nst, lift) — shared by the q_topic_terms and
    * q_topic_coherence oracles so the term selection can't drift from
    * its own coherence gate (the Scala side reuses [[qTopicTerms]]). */
  private lazy val topicTermsCtesSql: String =
    s"""WITH toks AS (
      |  SELECT source, unnest($toksSql) AS tok FROM documents),
      |st AS (SELECT source, tok, count(*) AS nst
      |       FROM toks GROUP BY 1, 2),
      |s AS (SELECT source, count(*) AS ns FROM toks GROUP BY 1),
      |t AS (SELECT tok, count(*) AS nt FROM toks GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM toks),
      |lifted AS (
      |  SELECT st.source, st.tok, st.nst,
      |    round((CAST(st.nst AS DOUBLE) * n)
      |      / (CAST(s.ns AS DOUBLE) * t.nt), 6) AS lift
      |  FROM st
      |  JOIN s ON s.source = st.source
      |  JOIN t ON t.tok = st.tok
      |  CROSS JOIN n
      |  WHERE st.nst >= 5),
      |rk AS (
      |  SELECT source, tok, nst, lift, CAST(row_number() OVER (
      |    PARTITION BY source
      |    ORDER BY lift DESC, nst DESC, tok ASC) AS INT) AS rk
      |  FROM lifted),
      |tt AS (SELECT source, rk, tok, nst, lift FROM rk WHERE rk <= 3)"""
      .stripMargin

  /** The top-50 skip-gram pair chain (→ relation `sg`: center, context,
    * dist, n) — shared by the q_skipgram and q_w2v_negatives oracles so
    * the pair definition cannot drift from its sampling consumer. */
  /** The positional token stream + 2-token lead window (relations `t`,
    * `leads`) — shared by [[skipgramCtes]] and the q_textrank oracle so
    * the co-occurrence window definition has one home. */
  private lazy val posLeadCtes: String =
    s"""t AS (
      |  SELECT doc_id, s.pos AS pos, s.tok AS tok FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(arr) + 1),
      |      i -> struct_pack(pos := i, tok := arr[i]))) AS s
      |    FROM (SELECT doc_id, $toksSql AS arr FROM documents))),
      |leads AS (
      |  SELECT tok AS center,
      |    lead(tok, 1) OVER win AS c1, lead(tok, 2) OVER win AS c2
      |  FROM t WINDOW win AS (PARTITION BY doc_id ORDER BY pos))"""
      .stripMargin

  private lazy val skipgramCtes: String =
    s"""$posLeadCtes,
      |pairs AS (
      |  SELECT center, c1 AS context, 1 AS dist FROM leads
      |  UNION ALL
      |  SELECT center, c2, 2 FROM leads),
      |sg AS (
      |  SELECT center, context, dist, count(*) AS n
      |  FROM pairs WHERE context IS NOT NULL
      |  GROUP BY 1, 2, 3
      |  ORDER BY n DESC, center, context, dist
      |  LIMIT 50)""".stripMargin

  /** Shared corpus-prefix decile CTE (`b`: bucket, text) — interpolated
    * into the q_heaps_growth and q_ngram_novelty oracles so the bucket
    * boundary can never drift between them (the Scala side shares
    * [[bucketedDocs]] the same way). Exact integer floor-div on both
    * engines. */
  private val bucketCtesSql: String =
    """mx AS (SELECT max(doc_id) AS mx FROM documents),
      |b AS (SELECT CAST(least((doc_id * 10) // (mx + 1), 9) AS INT)
      |        AS bucket, text
      |      FROM documents CROSS JOIN mx)""".stripMargin

  /** One weighted-PageRank iteration for the q_textrank oracle — the
    * GraphOps.iterSql shape with edge weights and the identical decimal
    * discipline. */
  private def trIterSql(prev: String, cur: String): String =
    s"""c$cur AS (
       |  SELECT e2.v AS node,
       |    SUM(CAST(round(p.pr * e2.w / p.wdeg, 12) AS DECIMAL(28,14)))
       |      AS sw
       |  FROM e2 JOIN p$prev p ON e2.u = p.node GROUP BY e2.v),
       |p$cur AS (
       |  SELECT d.node, d.wdeg,
       |    round(CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
       |      + CAST(0.85 AS DOUBLE)
       |        * COALESCE(CAST(sw AS DOUBLE), 0.0), 12) AS pr
       |  FROM deg d LEFT JOIN c$cur ON c$cur.node = d.node)""".stripMargin

  val oracle: Map[String, String] = Map(
    // same t/leads window as q_skipgram (posLeadCtes), the q_pagerank
    // iteration discipline with edge weights
    "q_textrank" ->
      (s"""WITH $posLeadCtes,
        |vc AS (
        |  SELECT tok FROM (
        |    SELECT tok,
        |      row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS rn
        |    FROM t GROUP BY tok) WHERE rn <= 64),
        |co AS (
        |  SELECT least(center, b) AS u, greatest(center, b) AS v
        |  FROM (
        |    SELECT center, c1 AS b FROM leads
        |    UNION ALL SELECT center, c2 FROM leads)
        |  WHERE b IS NOT NULL AND center <> b
        |    AND center IN (SELECT tok FROM vc)
        |    AND b IN (SELECT tok FROM vc)),
        |e AS (SELECT u, v, count(*) AS w FROM co GROUP BY u, v),
        |e2 AS (SELECT u, v, w FROM e UNION ALL SELECT v, u, w FROM e),
        |deg AS (SELECT u AS node, CAST(sum(w) AS BIGINT) AS wdeg
        |        FROM e2 GROUP BY u),
        |nn AS (SELECT count(*) AS n FROM deg),
        |p0 AS (SELECT node, wdeg,
        |         CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM deg),
        |${trIterSql("0", "1")},
        |${trIterSql("1", "2")},
        |${trIterSql("2", "3")}
        |SELECT node AS tok, round(pr, 9) AS score FROM p3
        |ORDER BY score DESC, tok ASC LIMIT 20""".stripMargin),

    // same integer word/sentence/vowel-run counts, same one-shot formula
    "q_readability" ->
      s"""WITH d AS (
        |  SELECT source,
        |    CAST(len($toksSql) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS s,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS y
        |  FROM documents),
        |g AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(w) AS BIGINT) AS words,
        |    CAST(sum(s) AS BIGINT) AS sentences,
        |    CAST(sum(y) AS BIGINT) AS syllables
        |  FROM d GROUP BY source)
        |SELECT source, n_docs, words, sentences, syllables,
        |  round(206.835
        |    - 1.015 * (CAST(words AS DOUBLE) / greatest(sentences, 1))
        |    - 84.6 * (CAST(syllables AS DOUBLE) / greatest(words, 1)), 4)
        |    AS flesch_ease,
        |  round(0.39 * (CAST(words AS DOUBLE) / greatest(sentences, 1))
        |    + 11.8 * (CAST(syllables AS DOUBLE) / greatest(words, 1))
        |    - 15.59, 4) AS fk_grade
        |FROM g ORDER BY source""".stripMargin,

    // same frequency-of-frequencies ladder, same NULL on N_{r+1} gaps,
    // same left-to-right double chain
    "q_good_turing" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
        |g AS (
        |  SELECT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
        |  FROM (SELECT toks, unnest(range(1, len(toks) - 1)) AS i
        |        FROM t WHERE len(toks) >= 3)),
        |counts AS (SELECT s, count(*) AS c FROM g GROUP BY 1),
        |fof AS (SELECT c AS r, count(*) AS n_r FROM counts GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM counts),
        |p0 AS (
        |  SELECT round(CAST(n_r AS DOUBLE) / n.n_tok, 9) AS p0
        |  FROM fof CROSS JOIN n WHERE r = 1)
        |SELECT f.r, f.n_r,
        |  CASE WHEN f2.n_r IS NULL THEN NULL
        |    ELSE round((f.r + 1) * CAST(f2.n_r AS DOUBLE) / f.n_r, 6)
        |    END AS r_star,
        |  CASE WHEN f2.n_r IS NULL THEN NULL
        |    ELSE round((f.r + 1) * CAST(f2.n_r AS DOUBLE) / f.n_r
        |      / n.n_tok, 9) END AS p_gt,
        |  p0.p0
        |FROM fof f
        |LEFT JOIN fof f2 ON f2.r = f.r + 1
        |CROSS JOIN n CROSS JOIN p0
        |WHERE f.r <= 10
        |ORDER BY f.r""".stripMargin,

    // same bigram cells, same guarded O·ln(O/E) terms with
    // DECIMAL(18,9) pre-sum rounding, same support-5 top-20
    "q_llr_colloc" ->
      s"""WITH bg AS (
        |  SELECT toks[i] AS a, toks[i+1] AS b
        |  FROM (SELECT toks, unnest(range(1, len(toks))) AS i
        |        FROM (SELECT $toksSql AS toks FROM documents)
        |        WHERE len(toks) >= 2)),
        |cb AS (SELECT a, b, count(*) AS k11 FROM bg GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(sum(k11) AS BIGINT) AS r1
        |       FROM cb GROUP BY 1),
        |cc AS (SELECT b, CAST(sum(k11) AS BIGINT) AS c1
        |       FROM cb GROUP BY 1),
        |nn AS (SELECT CAST(sum(k11) AS BIGINT) AS nn FROM cb),
        |cells AS (
        |  SELECT cb.a, cb.b, cb.k11, ra.r1, cc.c1,
        |    ra.r1 - cb.k11 AS k12, cc.c1 - cb.k11 AS k21,
        |    nn.nn - ra.r1 - cc.c1 + cb.k11 AS k22, nn.nn
        |  FROM cb JOIN ra USING (a) JOIN cc USING (b) CROSS JOIN nn
        |  WHERE cb.k11 >= 5)
        |SELECT a, b, k11,
        |  round(2.0 * (
        |    CAST(CASE WHEN k11 > 0 THEN round(k11
        |      * ln(CAST(k11 AS DOUBLE) * nn / (r1 * c1)), 9)
        |      ELSE 0.0 END AS DECIMAL(18,9))
        |    + CAST(CASE WHEN k12 > 0 THEN round(k12
        |      * ln(CAST(k12 AS DOUBLE) * nn / (r1 * (nn - c1))), 9)
        |      ELSE 0.0 END AS DECIMAL(18,9))
        |    + CAST(CASE WHEN k21 > 0 THEN round(k21
        |      * ln(CAST(k21 AS DOUBLE) * nn / ((nn - r1) * c1)), 9)
        |      ELSE 0.0 END AS DECIMAL(18,9))
        |    + CAST(CASE WHEN k22 > 0 THEN round(k22
        |      * ln(CAST(k22 AS DOUBLE) * nn / ((nn - r1) * (nn - c1))),
        |      9) ELSE 0.0 END AS DECIMAL(18,9)))::DOUBLE, 6) AS g2
        |FROM cells
        |ORDER BY g2 DESC, a ASC, b ASC LIMIT 20""".stripMargin,

    // same 20-token frame walk (list() window ≡ collect_list), same
    // short-doc raw-TTR fallback and decimal pre-sum means
    "q_mattr" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, toks, unnest(range(1, len(toks) + 1))
        |    AS i
        |  FROM (SELECT doc_id, source, $toksSql AS toks
        |        FROM documents)),
        |wt AS (
        |  SELECT doc_id, source,
        |    round(CAST(len(list_distinct(toks[i:i+19])) AS DOUBLE) / 20,
        |      6) AS ttr_w
        |  FROM t WHERE i <= len(toks) - 19),
        |pd AS (
        |  SELECT doc_id, source,
        |    round(CAST(sum(CAST(ttr_w AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(*), 6) AS mattr
        |  FROM wt GROUP BY 1, 2),
        |raw AS (
        |  SELECT doc_id, source,
        |    round(CAST(len(list_distinct(toks)) AS DOUBLE)
        |      / len(toks), 6) AS raw_ttr
        |  FROM (SELECT doc_id, source, $toksSql AS toks FROM documents)
        |  WHERE len(toks) > 0),
        |j AS (
        |  SELECT raw.doc_id, raw.source,
        |    COALESCE(pd.mattr, raw.raw_ttr) AS mattr, raw.raw_ttr
        |  FROM raw LEFT JOIN pd USING (doc_id, source))
        |SELECT source, count(*) AS n_docs,
        |  round(CAST(sum(CAST(mattr AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS mean_mattr,
        |  round(CAST(sum(CAST(raw_ttr AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS mean_raw_ttr
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // same bigram stream, same continuation-count tables, same single
    // double formula with D = 0.75 and DECIMAL(18,6) pre-sum log-probs
    "q_kneser_ney" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, $toksSql AS toks FROM documents),
        |bg AS (
        |  SELECT doc_id, source, toks[i] AS u, toks[i+1] AS w2
        |  FROM (SELECT doc_id, source, toks,
        |          unnest(range(1, len(toks))) AS i
        |        FROM t WHERE len(toks) >= 2)),
        |cb AS (SELECT u, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
        |cu AS (SELECT u, CAST(sum(cb) AS BIGINT) AS cu
        |       FROM cb GROUP BY 1),
        |n1u AS (SELECT u, count(*) AS n1u FROM cb GROUP BY 1),
        |n1w AS (SELECT w2, count(*) AS n1w FROM cb GROUP BY 1),
        |nt AS (SELECT count(*) AS ntypes FROM cb),
        |sc AS (
        |  SELECT bg.doc_id, bg.source,
        |    CAST(round(ln((greatest(cb.cb - 0.75, 0.0)
        |      + 0.75 * n1u.n1u
        |        * (CAST(n1w.n1w AS DOUBLE) / nt.ntypes)) / cu.cu), 6)
        |      AS DECIMAL(18,6)) AS lp
        |  FROM bg JOIN cb USING (u, w2) JOIN cu USING (u)
        |  JOIN n1u USING (u) JOIN n1w USING (w2) CROSS JOIN nt),
        |agg AS (
        |  SELECT source, count(*) AS n_bigrams,
        |    round(-(CAST(sum(lp) AS DOUBLE)) / count(*), 6) AS mean_nll
        |  FROM sc GROUP BY 1)
        |SELECT source, n_bigrams, mean_nll,
        |  round(exp(mean_nll), 6) AS ppl
        |FROM agg ORDER BY source""".stripMargin,

    // same implicit-zeros moments over the full doc count, same
    // left-to-right double chain and (total desc, tok) top-20
    "q_burstiness" ->
      s"""WITH dc AS (
        |  SELECT tok, doc_id, count(*) AS c FROM (
        |    SELECT doc_id, unnest($toksSql) AS tok FROM documents)
        |  GROUP BY 1, 2),
        |term AS (
        |  SELECT tok, count(*) AS n_docs,
        |    CAST(sum(c) AS BIGINT) AS total,
        |    CAST(sum(c * c) AS BIGINT) AS ssq
        |  FROM dc GROUP BY 1),
        |na AS (SELECT count(*) AS n_all FROM documents)
        |SELECT tok, n_docs, total,
        |  round(CAST(total AS DOUBLE) / n_all, 6) AS mean,
        |  round((CAST(ssq AS DOUBLE) / n_all
        |    - CAST(total AS DOUBLE) / n_all
        |      * (CAST(total AS DOUBLE) / n_all))
        |    / (CAST(total AS DOUBLE) / n_all), 6) AS vmr
        |FROM term CROSS JOIN na
        |ORDER BY total DESC, tok ASC LIMIT 20""".stripMargin,

    // same occurrence contingency table, same BIGINT-exact inner products
    // cast to DOUBLE before squaring, same left-to-right double chain
    "q_chisq_terms" ->
      s"""WITH tl AS (
        |  SELECT lang, tok, count(*) AS o11 FROM (
        |    SELECT lang, unnest($toksSql) AS tok FROM documents)
        |  GROUP BY 1, 2),
        |nt AS (SELECT tok, CAST(sum(o11) AS BIGINT) AS n_t
        |       FROM tl GROUP BY 1),
        |nl AS (SELECT lang, CAST(sum(o11) AS BIGINT) AS n_l
        |       FROM tl GROUP BY 1),
        |na AS (SELECT CAST(sum(n_t) AS BIGINT) AS n_all FROM nt)
        |SELECT tl.lang, tl.tok, tl.o11 AS n_obs, nt.n_t AS n_term,
        |  nl.n_l AS n_lang,
        |  round(CAST(nt.n_t AS DOUBLE) * nl.n_l / na.n_all, 6)
        |    AS expected,
        |  round(CAST(na.n_all AS DOUBLE)
        |    * (CAST(tl.o11 AS DOUBLE)
        |          * (na.n_all - nt.n_t - nl.n_l + tl.o11)
        |        - CAST(nt.n_t - tl.o11 AS DOUBLE) * (nl.n_l - tl.o11))
        |    * (CAST(tl.o11 AS DOUBLE)
        |          * (na.n_all - nt.n_t - nl.n_l + tl.o11)
        |        - CAST(nt.n_t - tl.o11 AS DOUBLE) * (nl.n_l - tl.o11))
        |    / (CAST(nt.n_t AS DOUBLE) * (na.n_all - nt.n_t) * nl.n_l
        |        * (na.n_all - nl.n_l)), 6) AS chi2,
        |  CASE WHEN CAST(tl.o11 AS DOUBLE) * na.n_all
        |      > CAST(nt.n_t AS DOUBLE) * nl.n_l
        |    THEN 'over' ELSE 'under' END AS assoc
        |FROM tl JOIN nt USING (tok) JOIN nl USING (lang) CROSS JOIN na
        |ORDER BY chi2 DESC, lang ASC, tok ASC LIMIT 30""".stripMargin,

    // same decimal-rounded ln(rank)/ln(freq) pairs over the identically
    // tie-broken top-1000, same IEEE closed-form regression rounded once
    "q_zipf_fit" ->
      s"""WITH toks AS (SELECT unnest($toksSql) AS tok FROM documents),
        |cnt AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC)
        |        AS rk FROM cnt),
        |xy AS (SELECT CAST(round(ln(rk), 6) AS DECIMAL(18,9)) AS x,
        |              CAST(round(ln(cnt), 6) AS DECIMAL(18,9)) AS y
        |       FROM r WHERE rk <= 1000),
        |s AS (SELECT count(*) AS n,
        |        CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |        CAST(sum(x * y) AS DOUBLE) AS sxy,
        |        CAST(sum(x * x) AS DOUBLE) AS sxx,
        |        CAST(sum(y * y) AS DOUBLE) AS syy
        |      FROM xy)
        |SELECT n,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
        |    6) AS intercept,
        |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
        |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM s""".stripMargin,

    // same first-bucket trick (min(bucket) per token type), same 10-row
    // cumulative window and ln-ratio local exponent rounded once
    "q_heaps_growth" ->
      s"""WITH $bucketCtesSql,
        |toks AS (SELECT bucket, unnest($toksSql) AS tok FROM b),
        |perb AS (SELECT bucket, count(*) AS n_toks FROM toks GROUP BY 1),
        |newt AS (SELECT bucket, count(*) AS new_types FROM (
        |    SELECT tok, min(bucket) AS bucket FROM toks GROUP BY 1)
        |  GROUP BY 1),
        |c AS (SELECT p.bucket, p.n_toks,
        |        coalesce(n.new_types, 0) AS new_types,
        |        CAST(sum(p.n_toks) OVER w AS BIGINT) AS cum_toks,
        |        CAST(sum(coalesce(n.new_types, 0)) OVER w AS BIGINT)
        |          AS cum_vocab
        |      FROM perb p LEFT JOIN newt n USING (bucket)
        |      WINDOW w AS (ORDER BY p.bucket
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT bucket, n_toks, new_types, cum_toks, cum_vocab,
        |  round(ln(CAST(cum_vocab AS DOUBLE)
        |      / lag(cum_vocab) OVER (ORDER BY bucket))
        |    / ln(CAST(cum_toks AS DOUBLE)
        |      / lag(cum_toks) OVER (ORDER BY bucket)), 6) AS beta
        |FROM c ORDER BY bucket""".stripMargin,

    // 3-gram slices mirror TextFunctions.shingles(text, 3) exactly
    // (including the short-doc tail slice); same min(bucket) novelty
    "q_ngram_novelty" ->
      s"""WITH $bucketCtesSql,
        |types AS (SELECT DISTINCT bucket, g FROM (
        |  SELECT bucket, unnest(list_distinct(list_filter(
        |      list_transform(range(0, greatest(len(T) - 2, 1)),
        |        i -> array_to_string(T[(i+1):(i+3)], ' ')),
        |      s -> s != ''))) AS g
        |  FROM (SELECT bucket, $toksSql AS T FROM b))),
        |perb AS (SELECT bucket, count(*) AS types FROM types GROUP BY 1),
        |newg AS (SELECT bucket, count(*) AS new_types FROM (
        |    SELECT g, min(bucket) AS bucket FROM types GROUP BY 1)
        |  GROUP BY 1)
        |SELECT p.bucket, p.types,
        |  CAST(coalesce(n.new_types, 0) AS BIGINT) AS new_types,
        |  round(CAST(coalesce(n.new_types, 0) AS DOUBLE) / p.types, 6)
        |    AS novelty
        |FROM perb p LEFT JOIN newg n USING (bucket)
        |ORDER BY p.bucket""".stripMargin,

    // row_number over (cnt desc, tok asc) stands in for Spark's
    // TakeOrderedAndProject with the identical tie-break; coverage is
    // the same exact-integer quotient rounded once
    "q_vocab_coverage" ->
      s"""WITH toks AS (SELECT unnest($toksSql) AS tok FROM documents),
        |cnt AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
        |  count(*) AS n_vocab FROM cnt),
        |r AS (SELECT tok, cnt, row_number() OVER (
        |  ORDER BY cnt DESC, tok ASC) AS rk FROM cnt),
        |ns(top_n) AS (VALUES (100), (1000), (10000)),
        |cov AS (
        |  SELECT ns.top_n, count(*) AS n_in,
        |    CAST(SUM(r.cnt) AS BIGINT) AS covered
        |  FROM ns JOIN r ON r.rk <= ns.top_n GROUP BY 1)
        |SELECT c.top_n, c.n_in, c.covered, t.n_vocab, t.n_total,
        |  round(CAST(c.covered AS DOUBLE) / t.n_total, 6) AS coverage
        |FROM cov c CROSS JOIN tot t ORDER BY c.top_n""".stripMargin,

    // same marginals, same single-integer-product lift quotient rounded
    // to 6dp before the identical (lift, count, term) per-source ranking
    "q_topic_terms" ->
      (topicTermsCtesSql + """
        |SELECT source, rk, tok, nst, lift FROM tt
        |ORDER BY source, rk""".stripMargin),

    // the SAME per-source top-3 term chain (topicTermsCtesSql); the
    // doc-term slice is semi-joined to the selected terms, missing
    // co-occurrences LEFT-join in as D=0, ln terms round to 9dp pre-sum
    "q_topic_coherence" ->
      (topicTermsCtesSql + """,
        |sel AS (SELECT DISTINCT tok FROM tt),
        |dt AS (
        |  SELECT DISTINCT d.doc_id, d.tok
        |  FROM (SELECT doc_id, unnest(""".stripMargin
        + toksSql + """) AS tok FROM documents) d
        |  JOIN sel ON sel.tok = d.tok),
        |dtc AS (SELECT tok, CAST(count(*) AS BIGINT) AS dl
        |        FROM dt GROUP BY 1),
        |spine AS (
        |  SELECT m.source, m.tok AS tm, l.tok AS tl
        |  FROM tt m JOIN tt l ON l.source = m.source AND m.rk > l.rk),
        |pc AS (
        |  SELECT a.tok AS tm, b.tok AS tl, CAST(count(*) AS BIGINT) AS dml
        |  FROM dt a JOIN dt b ON b.doc_id = a.doc_id
        |  GROUP BY 1, 2),
        |terms AS (
        |  SELECT s.source,
        |    CAST(round(ln(CAST(COALESCE(pc.dml, 0) + 1 AS DOUBLE)
        |      / dtc.dl), 9) AS DECIMAL(28,9)) AS term
        |  FROM spine s
        |  LEFT JOIN pc ON pc.tm = s.tm AND pc.tl = s.tl
        |  JOIN dtc ON dtc.tok = s.tl)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(CAST(sum(term) AS DOUBLE), 6) AS coherence
        |FROM terms GROUP BY source ORDER BY source""".stripMargin),

    // same adjacent-pair formation (1-based range positions order the
    // same sequence), same support filter, PMI rounded to 6dp before the
    // identical (pmi, count, pair) ordering
    // same one-window two-leads pair stream, same exact-integer counts,
    // same (n desc, center, context, dist) total order
    "q_skipgram" ->
      (s"WITH $skipgramCtes" + """
        |SELECT center, context, dist, n FROM sg
        |ORDER BY n DESC, center, context, dist""".stripMargin),

    // the same top-50 pair chain; unigram^0.75 weights with the
    // q_temp_sample pow-round discipline, exact-decimal cumulative over
    // the vocabulary, md5 inverse-CDF interval lookup
    "q_w2v_negatives" ->
      (s"WITH $skipgramCtes" + s""",
        |vt AS (SELECT unnest($toksSql) AS tok FROM documents),
        |v AS (SELECT tok, count(*) AS cnt FROM vt GROUP BY 1),
        |w AS (
        |  SELECT tok,
        |    CAST(round(pow(CAST(cnt AS DOUBLE), 0.75), 6)
        |      AS DECIMAL(18,6)) AS w
        |  FROM v),
        |c AS (
        |  SELECT tok, w,
        |    SUM(w) OVER (ORDER BY tok ROWS UNBOUNDED PRECEDING) AS hi
        |  FROM w),
        |c2 AS (SELECT tok, hi - w AS lo, hi FROM c),
        |z AS (SELECT SUM(w) AS z FROM w),
        |d AS (
        |  SELECT center, context, jj.j,
        |    ((('0x' || substr(md5('neg:' || center || ':' || context
        |        || ':' || jj.j), 1, 15))::BIGINT + 1)
        |      / 1152921504606846976.0) * CAST(z.z AS DOUBLE) AS x
        |  FROM (SELECT DISTINCT center, context FROM sg) sgd
        |  CROSS JOIN (SELECT unnest([1, 2]) AS j) jj
        |  CROSS JOIN z)
        |SELECT center, context, j, c2.tok AS neg_tok,
        |  (c2.tok = center OR c2.tok = context) AS collision
        |FROM d JOIN c2
        |  ON d.x > CAST(c2.lo AS DOUBLE) AND d.x <= CAST(c2.hi AS DOUBLE)
        |ORDER BY center, context, j""".stripMargin),

    "q_collocations" ->
      s"""WITH t AS (
        |  SELECT doc_id, s.pos AS pos, s.tok AS tok FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(arr) + 1),
        |      i -> struct_pack(pos := i, tok := arr[i]))) AS s
        |    FROM (SELECT doc_id, $toksSql AS arr FROM documents))),
        |pr AS (
        |  SELECT tok AS x, lead(tok, 1) OVER (
        |    PARTITION BY doc_id ORDER BY pos) AS y
        |  FROM t),
        |pairs AS (SELECT x, y FROM pr WHERE y IS NOT NULL),
        |nxy AS (SELECT x, y, count(*) AS nxy FROM pairs GROUP BY 1, 2),
        |uni AS (SELECT tok, count(*) AS nu FROM t GROUP BY 1),
        |nt AS (SELECT count(*) AS n FROM t),
        |np AS (SELECT count(*) AS p FROM pairs)
        |SELECT nxy.x, nxy.y, nxy.nxy,
        |  round(ln((CAST(nxy.nxy AS DOUBLE) * n * n)
        |    / (CAST(p AS DOUBLE) * ux.nu * uy.nu)), 6) AS pmi
        |FROM nxy
        |JOIN uni ux ON ux.tok = nxy.x
        |JOIN uni uy ON uy.tok = nxy.y
        |CROSS JOIN nt CROSS JOIN np
        |WHERE nxy.nxy >= 5
        |ORDER BY pmi DESC, nxy.nxy DESC, nxy.x ASC, nxy.y ASC
        |LIMIT 20""".stripMargin,

    // same aggregations; the dominant language uses the identical
    // (count DESC, lang ASC) row_number tiebreak, and every ratio is the
    // same exact-int IEEE quotient
    "q_dataset_card" ->
      s"""WITH toks AS (
        |  SELECT source, count(*) AS total_toks FROM (
        |    SELECT source, unnest($toksSql) AS tok FROM documents)
        |  GROUP BY 1),
        |base AS (
        |  SELECT source, count(*) AS n_docs,
        |    count(DISTINCT lang) AS n_langs,
        |    count(DISTINCT text) AS n_uniq_texts,
        |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |    CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_short
        |  FROM documents GROUP BY 1),
        |lt AS (
        |  SELECT source, lang AS top_lang, ln AS top_lang_n FROM (
        |    SELECT source, lang, count(*) AS ln, row_number() OVER (
        |      PARTITION BY source ORDER BY count(*) DESC, lang ASC) AS rk
        |    FROM documents GROUP BY source, lang)
        |  WHERE rk = 1)
        |SELECT b.source, b.n_docs, b.n_langs,
        |  COALESCE(t.total_toks, 0) AS total_toks,
        |  CAST(b.sum_chars AS DOUBLE) / b.n_docs AS avg_chars,
        |  b.n_docs - b.n_uniq_texts AS n_dup_texts,
        |  b.n_short, lt.top_lang,
        |  CAST(lt.top_lang_n AS DOUBLE) / b.n_docs AS top_lang_share
        |FROM base b
        |LEFT JOIN toks t ON t.source = b.source
        |JOIN lt ON lt.source = b.source
        |ORDER BY b.source""".stripMargin,

    // same deterministic (cnt DESC, tok ASC) vocabulary cut; the rate is
    // the identical exact-int quotient
    "q_oov_rate" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
        |v AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS cnt FROM toks GROUP BY 1)
        |  ORDER BY cnt DESC, tok ASC LIMIT 256),
        |per AS (
        |  SELECT t.doc_id, count(*) AS n_toks,
        |    CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_oov
        |  FROM toks t LEFT JOIN v ON v.tok = t.tok GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(per.n_toks, 0) AS n_toks,
        |  COALESCE(per.n_oov, 0) AS n_oov,
        |  COALESCE(CAST(per.n_oov AS DOUBLE) / per.n_toks, 0.0) AS oov_rate
        |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // identical tokenization, idf/tf-norm computed in DOUBLE (every
    // constant CAST so DuckDB doesn't run decimal arithmetic), per-term
    // score rounded to DECIMAL(18,6) pre-sum in both engines
    "q_bm25" ->
      s"""WITH $bm25CtesSql,
        |rk AS (SELECT qid, doc_id, score,
        |         row_number() OVER (PARTITION BY qid
        |           ORDER BY score DESC, doc_id) AS rk
        |       FROM ag)
        |SELECT qid, doc_id, CAST(score AS DOUBLE) AS score,
        |  CAST(rk AS INT) AS rk
        |FROM rk WHERE rk <= 10 ORDER BY qid, rk""".stripMargin,

    // same two ranked arms (BM25 chain verbatim at rank 50, cosine chain
    // per the q_knn_cosine pattern), same once-rounded DECIMAL(12,9) RRF
    // terms; the full-outer fusion coalesces the missing arm to 0
    "q_hybrid_rrf" ->
      s"""WITH $bm25CtesSql,
        |lex AS (SELECT qid, doc_id, rk FROM (
        |  SELECT qid, doc_id,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, doc_id) AS rk
        |  FROM ag) WHERE rk <= 50),
        |qv AS (SELECT vec_id, embedding FROM embeddings
        |       WHERE vec_id IN (100, 200, 300)),
        |pv AS (
        |  SELECT CAST(q.vec_id // 100 AS INT) AS qid, e.vec_id AS doc_id,
        |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])), 6) AS sim
        |  FROM qv q JOIN embeddings e ON e.vec_id != q.vec_id),
        |vec AS (SELECT qid, doc_id, rk FROM (
        |  SELECT qid, doc_id,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, doc_id ASC) AS rk
        |  FROM pv) WHERE rk <= 50),
        |fused AS (
        |  SELECT COALESCE(l.qid, v.qid) AS qid,
        |    COALESCE(l.doc_id, v.doc_id) AS doc_id,
        |    COALESCE(CAST(round(CAST(1 AS DOUBLE) / (60 + l.rk), 9)
        |        AS DECIMAL(12,9)), CAST(0 AS DECIMAL(12,9)))
        |      + COALESCE(CAST(round(CAST(1 AS DOUBLE) / (60 + v.rk), 9)
        |        AS DECIMAL(12,9)), CAST(0 AS DECIMAL(12,9))) AS rrf
        |  FROM lex l FULL OUTER JOIN vec v
        |    ON v.qid = l.qid AND v.doc_id = l.doc_id)
        |SELECT qid, doc_id, CAST(rrf AS DOUBLE) AS rrf,
        |  CAST(rk AS INT) AS rk
        |FROM (SELECT qid, doc_id, rrf,
        |        row_number() OVER (PARTITION BY qid
        |          ORDER BY rrf DESC, doc_id ASC) AS rk
        |      FROM fused)
        |WHERE rk <= 10 ORDER BY qid, rk""".stripMargin,

    // range(1, n) is end-exclusive = Spark's inclusive sequence(1, n-1);
    // sum(BIGINT) is HUGEINT in DuckDB, fold back to BIGINT
    "q_bpe_merges" ->
      s"""WITH tc AS (
        |  SELECT tok, count(*) AS cnt
        |  FROM (SELECT unnest($toksSql) AS tok FROM documents)
        |  GROUP BY tok),
        |p AS (
        |  SELECT cnt, unnest(list_transform(range(1, length(tok)),
        |    i -> substr(tok, i, 2))) AS pair
        |  FROM tc WHERE length(tok) >= 2)
        |SELECT pair, CAST(sum(cnt) AS BIGINT) AS total
        |FROM p GROUP BY pair
        |ORDER BY total DESC, pair ASC LIMIT 30""".stripMargin,

    // run = the shared BM25 chain; qrels = term containment (independent
    // of scoring); the discount table is the SAME 9dp Scala constants the
    // plan embeds, so DCG/IDCG are exact decimal sums in both engines
    "q_retrieval_eval" ->
      s"""WITH $bm25CtesSql,
        |run AS (SELECT qid, doc_id, rk FROM (
        |  SELECT qid, doc_id,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, doc_id) AS rk
        |  FROM ag) WHERE rk <= 10),
        |nt AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_terms
        |       FROM q GROUP BY qid),
        |disc(rk, disc) AS (VALUES ${ndcgDiscs.map { case (r, d) =>
          s"($r, CAST($d AS DECIMAL(12,9)))" }.mkString(",\n  ")}),
        |dt AS (SELECT DISTINCT doc_id, tok FROM toks),
        |qr AS (SELECT qid, dt.doc_id, CAST(count(*) AS BIGINT) AS rel
        |       FROM dt JOIN q ON dt.tok = q.term GROUP BY 1, 2),
        |hits AS (
        |  SELECT r.qid, r.rk, COALESCE(qr.rel, 0) AS rel, nt.n_terms
        |  FROM run r
        |  LEFT JOIN qr ON qr.qid = r.qid AND qr.doc_id = r.doc_id
        |  JOIN nt ON nt.qid = r.qid),
        |ra AS (
        |  SELECT qid, sum(rel * disc) AS dcg,
        |    min(CASE WHEN rel = n_terms THEN rk END) AS minrk,
        |    CAST(SUM(CASE WHEN rel = n_terms THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nfull
        |  FROM hits JOIN disc USING (rk) GROUP BY qid),
        |ideal AS (
        |  SELECT qid, rel, row_number() OVER (PARTITION BY qid
        |    ORDER BY rel DESC, doc_id ASC) AS rn
        |  FROM qr),
        |ic AS (
        |  SELECT qid, sum(rel * disc) AS idcg
        |  FROM ideal JOIN disc ON disc.rk = ideal.rn
        |  WHERE rn <= 10 GROUP BY qid),
        |rc AS (
        |  SELECT qr.qid,
        |    CAST(SUM(CASE WHEN rel = n_terms THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_rel_full
        |  FROM qr JOIN nt USING (qid) GROUP BY 1)
        |SELECT nt.qid,
        |  COALESCE(rc.n_rel_full, 0) AS n_rel_full,
        |  CAST(COALESCE(ra.nfull, 0) AS DOUBLE) / 10 AS p_at_10,
        |  CASE WHEN ra.minrk IS NOT NULL
        |    THEN round(CAST(1 AS DOUBLE) / ra.minrk, 6)
        |    ELSE CAST(0 AS DOUBLE) END AS mrr,
        |  CASE WHEN COALESCE(ic.idcg, 0) > 0
        |    THEN round(CAST(ra.dcg AS DOUBLE) / CAST(ic.idcg AS DOUBLE), 6)
        |    ELSE CAST(0 AS DOUBLE) END AS ndcg_at_10
        |FROM nt
        |LEFT JOIN ra ON ra.qid = nt.qid
        |LEFT JOIN ic ON ic.qid = nt.qid
        |LEFT JOIN rc ON rc.qid = nt.qid
        |ORDER BY nt.qid""".stripMargin,

    // the SAME base relations (bm25BaseCtesSql) with the scoring stage
    // re-derived parametrically over the identical 6-cell grid; qrels =
    // tf-weighted grades (sum of query-term occurrences), discounts and
    // the nDCG chain mirror q_retrieval_eval's shape
    "q_bm25_tune" ->
      (s"""WITH $bm25BaseCtesSql,
        |grid(k1, b) AS (VALUES
        |  (CAST(0.6 AS DOUBLE), CAST(0.3 AS DOUBLE)),
        |  (CAST(0.6 AS DOUBLE), CAST(0.75 AS DOUBLE)),
        |  (CAST(1.2 AS DOUBLE), CAST(0.3 AS DOUBLE)),
        |  (CAST(1.2 AS DOUBLE), CAST(0.75 AS DOUBLE)),
        |  (CAST(1.8 AS DOUBLE), CAST(0.3 AS DOUBLE)),
        |  (CAST(1.8 AS DOUBLE), CAST(0.75 AS DOUBLE))),
        |scg AS (
        |  SELECT k1, b, qid, tf.doc_id,
        |    CAST(round(
        |      ln(CAST(1 AS DOUBLE)
        |          + (n_docs - df + CAST(0.5 AS DOUBLE))
        |            / (df + CAST(0.5 AS DOUBLE)))
        |        * (tf * (k1 + CAST(1 AS DOUBLE)))
        |        / (tf + k1 * ((CAST(1 AS DOUBLE) - b)
        |          + b * dl / avgdl)),
        |      6) AS DECIMAL(18,6)) AS s
        |  FROM tf JOIN q ON tf.tok = q.term
        |       JOIN dfreq USING (tok) JOIN dl USING (doc_id)
        |       CROSS JOIN stats CROSS JOIN grid),
        |agg AS (SELECT k1, b, qid, doc_id, sum(s) AS score
        |        FROM scg GROUP BY 1, 2, 3, 4),
        |t10 AS (SELECT * FROM (
        |  SELECT k1, b, qid, doc_id,
        |    row_number() OVER (PARTITION BY k1, b, qid
        |      ORDER BY score DESC, doc_id ASC) AS rk
        |  FROM agg) WHERE rk <= 10),
        |disc(rk, disc) AS (VALUES ${ndcgDiscs.map { case (r, d) =>
          s"($r, CAST($d AS DECIMAL(12,9)))" }.mkString(",\n  ")}),
        |qr AS (SELECT qid, tf.doc_id, CAST(sum(tf) AS BIGINT) AS rel
        |       FROM tf JOIN q ON tf.tok = q.term GROUP BY 1, 2),
        |dcg AS (
        |  SELECT t.k1, t.b, t.qid,
        |    sum(COALESCE(qr.rel, 0) * disc) AS dcg
        |  FROM t10 t
        |  LEFT JOIN qr ON qr.qid = t.qid AND qr.doc_id = t.doc_id
        |  JOIN disc USING (rk) GROUP BY 1, 2, 3),
        |ideal AS (
        |  SELECT qid, rel, row_number() OVER (PARTITION BY qid
        |    ORDER BY rel DESC, doc_id ASC) AS rn
        |  FROM qr),
        |ic AS (
        |  SELECT qid, sum(rel * disc) AS idcg
        |  FROM ideal JOIN disc ON disc.rk = ideal.rn
        |  WHERE rn <= 10 GROUP BY qid),
        |spine AS (SELECT k1, b, qid
        |          FROM grid CROSS JOIN (SELECT DISTINCT qid FROM q)),
        |nd AS (
        |  SELECT s.k1, s.b,
        |    CAST(CASE WHEN ic.idcg IS NOT NULL AND ic.idcg > 0
        |      THEN round(CAST(COALESCE(dcg.dcg, 0) AS DOUBLE)
        |        / CAST(ic.idcg AS DOUBLE), 6)
        |      ELSE CAST(0 AS DOUBLE) END AS DECIMAL(18,6)) AS nd
        |  FROM spine s
        |  LEFT JOIN dcg ON dcg.k1 = s.k1 AND dcg.b = s.b
        |    AND dcg.qid = s.qid
        |  LEFT JOIN ic ON ic.qid = s.qid),
        |m AS (SELECT k1, b,
        |        round(CAST(sum(nd) AS DOUBLE) / count(*), 6) AS mean_ndcg
        |      FROM nd GROUP BY 1, 2)
        |SELECT k1, b, mean_ndcg,
        |  CAST(row_number() OVER (ORDER BY mean_ndcg DESC, k1 ASC, b ASC)
        |    AS INT) AS rk
        |FROM m ORDER BY rk""".stripMargin)
  )
}
