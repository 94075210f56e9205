package graft.queries

import graft.Decimals._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics as relational plans. Companion to
  * [[graft.operators.Components]]: where connected components converges by
  * fixpoint, PageRank runs a fixed unrolled iteration count, so the whole
  * computation is one static plan that any SQL engine can mirror — which
  * puts an iterative-linear-algebra workload under the DuckDB hash gate.
  *
  * Scale notes: each iteration is exactly one shuffle pair — join
  * (edges × ranks) on the source key, then groupBy the destination key —
  * the textbook Pregel-as-SQL shape; degrees and ranks ride along as
  * columns so no per-iteration broadcast of global state is needed (the
  * single 1-row node-count aggregate broadcasts once).
  *
  * Determinism: contributions round once to DECIMAL(28,14) before the
  * per-destination SUM (exact, order-independent), and the damped rank
  * rounds to 12 decimals each iteration, so both engines carry identical
  * doubles into the next round.
  */
object GraphOps extends QueryPack {

  /** PageRank (damping 0.85, 3 unrolled iterations) over the bipartite
    * customer↔supplier co-purchase graph (distinct pairs through
    * lineitem→orders), symmetrized so every node has out-degree ≥ 1 (no
    * dangling-mass redistribution needed). Output: top 25 nodes. */
  def qPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    // the unrolled plan references edges 3× and deg 4× — materialize both
    // once (same "cache the graph, iterate on it" shape GraphX uses)
    // instead of re-running the lineitem⋈orders distinct per reference
    val edges = coPurchaseEdgesLong(spark, sfDir).localCheckpoint()
    val deg = edges.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    pagerankTop(pagerankRanks(edges, deg, 3))
  }

  /** The symmetrized customer↔supplier co-purchase edge list shared by
    * [[qLabelProp]] and [[qModularity]], string node keys ("c:123" /
    * "s:45") — LPA's argmax tie-breaks on the LABEL's sort order, so the
    * string representation is semantically load-bearing there. */
  private[graft] def coPurchaseEdges(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_suppkey")
    val ords = Tables.df(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_custkey")
    val pairs = li.join(ords, $"l_orderkey" === $"o_orderkey")
      .select(concat(lit("c:"), $"o_custkey").as("u"),
        concat(lit("s:"), $"l_suppkey").as("v"))
      .distinct()
    pairs.union(pairs.select($"v".as("u"), $"u".as("v")))
  }

  /** The same graph with PARITY-ENCODED LONG node ids — customer k ↦ 2k,
    * supplier k ↦ 2k+1 (disjoint by parity exactly as the "c:"/"s:"
    * prefixes are disjoint) — used by the PageRank pair (VERDICT r9 #2):
    * every iteration shuffles and sort-merges the edge list on the node
    * key, and an 8-byte long costs roughly half the shuffle/write bytes
    * and much cheaper comparisons than a ~8-char string. PageRank's
    * arithmetic never orders by node (only groupBy/join), so the
    * encoding is invisible until [[pagerankTop]] decodes the final 25
    * rows back to the string form the oracle emits. */
  private[graft] def coPurchaseEdgesLong(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_suppkey")
    val ords = Tables.df(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_custkey")
    val pairs = li.join(ords, $"l_orderkey" === $"o_orderkey")
      .select((($"o_custkey" * 2)).cast("long").as("u"),
        ($"l_suppkey" * 2 + 1).cast("long").as("v"))
      .distinct()
    pairs.union(pairs.select($"v".as("u"), $"u".as("v")))
  }

  /** Decode + deterministic top-25: maps the parity-encoded node id back
    * to the oracle's string form BEFORE the (pr desc, node asc) order,
    * so a pr tie at the cutoff breaks on the same STRING ordering in
    * both engines. TakeOrderedAndProject keeps the top-k distributed. */
  private[graft] def pagerankTop(ranks: DataFrame): DataFrame = {
    val spark = ranks.sparkSession
    import spark.implicits._
    ranks.select(
        concat(when($"node" % 2 === 0, "c:").otherwise("s:"),
          shiftright($"node", 1).cast("string")).as("node"),
        $"pr")
      .orderBy($"pr".desc, $"node".asc)
      .limit(25)
  }

  /** [[pagerankBucketed]] end-to-end as a registered query (VERDICT r7
    * #7): build the same graph as [[qPagerank]], pay the bucketed edge
    * WRITE inside the measured time, then run the identical loop reading
    * the bucketed layout (each iteration shuffles only the rank side —
    * GraphBucketSpec proves the edge-side Exchange disappears). Oracled
    * with the same SQL as q_pagerank: row-identical by construction. The
    * timing answers the write-once-then-iterate question honestly every
    * round — at 3 iterations the write may or may not amortize (PERF.md
    * records the delta); on a cluster the table is written once and
    * EVERY downstream run reuses the layout, so the break-even only
    * improves with reuse. */
  def qPagerankBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    graft.sources.Sources.writeBucketed(coPurchaseEdgesLong(spark, sfDir),
      "graft_pr_edges_q", Tables.shufflePartitions(spark), "u")
    pagerankTop(pagerankBucketed(spark, "graft_pr_edges_q", 3))
  }

  /** The unrolled damped-iteration loop over a prepared (edges, deg)
    * pair — shared by [[qPagerank]] (localCheckpoint'd inputs, the oracle
    * twin) and [[pagerankBucketed]] (bucketed-table inputs, the cluster
    * shape). Key-type agnostic (never orders or compares node ids beyond
    * equality), so the long-encoded and string graphs run the identical
    * plan. Returns the FULL (node, pr) relation rounded to 9dp; callers
    * apply [[pagerankTop]] (or their own consumer) on top. */
  private[graft] def pagerankRanks(edges: DataFrame, deg: DataFrame,
      iters: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val nTotal = deg.agg(count(lit(1)).as("n"))
    var pr = deg.crossJoin(broadcast(nTotal))
      .select($"node", $"deg", $"n", (lit(1.0) / $"n").as("pr"))
    for (_ <- 1 to iters) {
      val contrib = edges.join(pr, edges("u") === pr("node"))
        .select($"v".as("node"),
          round($"pr" / $"deg", 12).cast(dec28_14).as("w"))
        .groupBy($"node").agg(sum($"w").as("sw"))
      pr = pr.select($"node", $"deg", $"n")
        .join(contrib, Seq("node"), "left")
        .select($"node", $"deg", $"n",
          round(lit(0.15) / $"n"
            + lit(0.85) * coalesce($"sw".cast("double"), lit(0.0)), 12)
            .as("pr"))
    }
    pr.select($"node", round($"pr", 9).as("pr"))
  }

  /** PageRank over a BUCKETED symmetrized edge table — the cluster answer
    * to the localCheckpoint partitioning loss measured in PERF.md:
    * `localCheckpoint` yields a LogicalRDD with NO outputPartitioning, so
    * [[qPagerank]]'s unrolled loop re-exchanges the (large) edge side in
    * EVERY iteration. A table bucketed by the join key `u`
    * (Sources.writeBucketed(edges, table, n, "u")) exposes
    * HashPartitioning from the scan itself: each iteration's edges⋈ranks
    * join then shuffles only the rank side, and the degree aggregate is
    * map-side against the bucket partitioning. GraphBucketSpec asserts
    * the per-iteration edge-side Exchange disappears AND that the result
    * is row-identical to the checkpoint path on the same graph. At 100 TB
    * the edge table is written bucketed once (one shuffle) and every
    * downstream iteration — and every rerun — reuses that layout. */
  def pagerankBucketed(spark: SparkSession, edgesTable: String,
      iters: Int = 3): DataFrame = {
    import spark.implicits._
    val edges = spark.table(edgesTable)
    val deg = edges.groupBy($"u".as("node")).agg(count(lit(1)).as("deg"))
    pagerankRanks(edges, deg, iters)
  }

  /** Triangle counting over the part co-order graph (parts that appear in
    * the same order are adjacent; `pk % 5` sample keeps the fixture graph
    * small enough to oracle). The scale-critical trick is DEGREE
    * ORIENTATION (Suri & Vassilvitskii, WWW'11): orient every undirected
    * edge from its lower-(degree, id) endpoint to the higher one, which
    * (a) makes the orientation acyclic so each triangle is counted exactly
    * once, and (b) bounds every out-degree by O(√m), so the wedge join
    * e1.dst = e2.src generates O(m^1.5) rows instead of Σdeg² — the
    * "curse of the last reducer" (one celebrity node producing deg²
    * wedges in a single task) cannot happen. All three stages are plain
    * shuffle equi-joins. Per-order pair fan-out is bounded by order size
    * (≤ 7 lines in TPC-H-shaped data); a production corpus with huge
    * "orders" would cap or sample per-key first. Output: the 10 parts in
    * the most triangles (tri-degree, desc). */
  def qTriangles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (_, triCnt) = triangleParts(spark, sfDir)
    triCnt.orderBy($"tri_cnt".desc, $"node".asc).limit(10)
  }

  /** Shared degree-oriented triangle machinery over the co-purchase
    * graph — (degree, per-node triangle count) relations consumed by
    * [[qTriangles]] (top-10 read) and [[qClusteringCoeff]] (global
    * transitivity / local-CC moments), so the edge set, orientation
    * rule, and closure join have one home. */
  private def triangleParts(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
      .filter($"l_partkey" % 5 === 0)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val e0 = li.as("a").join(li.as("b"),
        $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .select($"a.pk".as("u"), $"b.pk".as("v")).distinct()
      .localCheckpoint() // referenced by deg and by the orientation join
    val deg = e0.select($"u".as("node"))
      .union(e0.select($"v".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("d"))
    val lower = $"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v")
    val o = e0
      .join(deg.select($"node".as("u"), $"d".as("du")), "u")
      .join(deg.select($"node".as("v"), $"d".as("dv")), "v")
      .select(when(lower, $"u").otherwise($"v").as("src"),
        when(lower, $"v").otherwise($"u").as("dst"))
      .localCheckpoint() // referenced 3× by the wedge + closure joins
    val tri = o.as("e1").join(o.as("e2"), $"e1.dst" === $"e2.src")
      .select($"e1.src".as("a"), $"e1.dst".as("b"), $"e2.dst".as("c"))
      .join(o.as("e3"), $"a" === $"e3.src" && $"c" === $"e3.dst")
      .select($"a", $"b", $"c")
    val triCnt = tri.select($"a".as("node"))
      .union(tri.select($"b")).union(tri.select($"c"))
      .groupBy($"node").agg(count(lit(1)).as("tri_cnt"))
    (deg, triCnt)
  }

  // ---- q_clustering_coeff --------------------------------------------------
  /** Clustering coefficients of the co-purchase graph (Watts & Strogatz
    * '98 local CC; the global transitivity ratio 3·triangles/wedges):
    * one row with node count, wedge count Σ d(d−1)/2, triangle count,
    * transitivity, and the average local coefficient 2·tri(v)/(d(d−1))
    * (nodes of degree < 2 contribute 0 — the standard convention that
    * keeps the average defined on any graph). Reuses [[triangleParts]]'
    * degree-oriented closure join verbatim — the local CC is a LEFT
    * join of the degree relation against per-node triangle counts, so
    * the only work beyond q_triangles is node-grain arithmetic. Local
    * terms round once to 9dp into exact decimal sums; wedge counts are
    * exact integer floor-division. */
  def qClusteringCoeff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (deg, triCnt) = triangleParts(spark, sfDir)
    val per = deg.join(triCnt, Seq("node"), "left")
      .select($"d", coalesce($"tri_cnt", lit(0L)).as("t"))
    per.agg(
        count(lit(1)).as("n_nodes"),
        sum(expr("(d * (d - 1)) div 2")).as("n_wedges"),
        sum($"t").as("ti"),
        sum(round(when($"d" >= 2,
            lit(2.0) * $"t" / ($"d" * ($"d" - 1))).otherwise(0.0), 9)
          .cast(dec20_9)).as("s_cc"))
      .select($"n_nodes", $"n_wedges",
        expr("ti div 3").as("n_triangles"),
        when($"n_wedges" > 0,
          round($"ti".cast("double") / $"n_wedges", 6)).as("transitivity"),
        round($"s_cc".cast("double") / $"n_nodes", 6).as("avg_local_cc"))
  }

  /** Label-propagation community detection (Raghavan et al. 2007), two
    * SYNCHRONOUS unrolled rounds over the co-purchase graph: every node
    * adopts its neighbors' most frequent label, ties broken to the
    * smallest label — fully deterministic, unlike the async/randomized
    * textbook variant, which is what puts a community-detection workload
    * under the hash gate. Known property exercised deliberately: on a
    * BIPARTITE graph, even-round synchronous LPA settles on the two
    * sides (label oscillation) — [[qModularity]] is the paired
    * diagnostic that detects exactly this (Q = −0.5 here), the reason
    * production community pipelines always ship detection + quality
    * metric together. Scale shape: per round exactly one edges⋈labels
    * equi-join + one (node, label) count + one per-node partial-agg
    * argmax (never a global sort) — the Pregel-as-SQL shape
    * [[qPagerank]] established; the symmetrized graph guarantees every
    * node has neighbors, so no orphan handling. Output: each node's
    * community and its size. */
  def qLabelProp(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edges = coPurchaseEdges(spark, sfDir).localCheckpoint()
    val labels = lpaLoop(edges, 2)
    val sizes = labels.groupBy($"lbl").agg(count(lit(1)).as("csize"))
    labels.join(sizes, "lbl")
      .select($"node", $"lbl".as("community"), $"csize")
      .orderBy($"node")
  }

  /** The synchronous LPA rounds shared by [[qLabelProp]] and
    * [[qModularity]]. Argmax as min(struct(-cnt, lbl)) — a
    * partial-aggregable form (map-side combine, no per-node sort
    * window); the oracle's row_number window is the documented
    * equivalent (the q_kmeans argmin convention). Each round
    * checkpoints (the k-core/landmark-BFS linearization), so per-round
    * plans are constant-size — one edges⋈labels equi-join + the
    * two-level count/argmax agg over checkpointed leaves — instead of
    * round N embedding round N−1's join tree; the final labels come
    * back checkpointed for the multi-consumer tails of both queries.
    * [[lpaRounds]] returns the PRE-checkpoint per-round plans so
    * R14PlanAuditSpec can pin that shape the way the BFS audit does. */
  private def lpaLoop(edges: DataFrame, rounds: Int): DataFrame = {
    lpaRounds(edges, rounds)._2
  }

  private[graft] def lpaRounds(edges: DataFrame, rounds: Int)
      : (Seq[DataFrame], DataFrame) = {
    import edges.sparkSession.implicits._
    var labels = edges.select($"u".as("node")).distinct()
      .select($"node", $"node".as("lbl"))
      .localCheckpoint()
    val plans = (1 to rounds).map { _ =>
      val round = edges.join(labels, $"v" === $"node")
        .groupBy($"u", $"lbl").agg(count(lit(1)).as("cnt"))
        .groupBy($"u").agg(min(struct(-$"cnt", $"lbl")).as("m"))
        .select($"u".as("node"), $"m.lbl".as("lbl"))
      labels = round.localCheckpoint()
      round
    }
    (plans, labels)
  }

  /** Newman modularity of the [[qLabelProp]] partition, per community:
    * q_term = e_c/2m − (d_c/2m)² over the symmetrized directed edge
    * list (|E| = 2m). The partition-quality metric that tells a
    * pipeline whether its communities are real structure or noise —
    * and on THIS fixture it fires: synchronous LPA on the bipartite
    * co-purchase graph collapses to the two sides (the known even-round
    * oscillation), every edge crosses, and the report reads exactly
    * Q = −0.5 (two communities, zero intra edges, degree split m/m) —
    * the degenerate-partition signal a 100 TB pipeline must catch
    * BEFORE acting on communities (GovernPipelineR9Spec pins the value).
    * Everything is exact integers (intra-edge counts, degree sums, 2m)
    * until one shared double formula per community, rounded once to
    * 9dp — no pow(), squares as plain products. Scale shape: the LPA
    * rounds + two label equi-joins on the edge list + vocabulary-thin
    * per-community aggregates; the 1-row edge count broadcasts. */
  def qModularity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edges = coPurchaseEdges(spark, sfDir).localCheckpoint()
    val labels = lpaLoop(edges, 2) // comes back checkpointed
    val lu = labels.select($"node".as("u"), $"lbl".as("cu"))
    val lv = labels.select($"node".as("v"), $"lbl".as("cv"))
    // ONE edges⋈lu pass, checkpointed: the intra and degree branches
    // previously each embedded their own copy of this join, and AQE
    // materializes sibling stages concurrently — whether the duplicate's
    // shuffle stage launched before the replan that exchange-reuse would
    // use to eliminate it is a scheduling RACE, the bench record's last
    // bimodal task/byte row (512/703 MB ↔ 544/802 MB, PERF.md round-17).
    // A single materialized copy leaves nothing to deduplicate at
    // runtime, so the plan is race-free by construction — and the join
    // runs once instead of twice. Every node is labeled (labels cover
    // every edge endpoint), so the inner join preserves all edge rows:
    // m2 and the per-node degree counts read identically off eu.
    val eu = edges.join(lu, "u").localCheckpoint()
    val intra = eu.join(lv, "v")
      .filter($"cu" === $"cv")
      .groupBy($"cu".as("community")).agg(count(lit(1)).as("intra_edges"))
    val degs = eu.groupBy($"u", $"cu").agg(count(lit(1)).as("d"))
      .groupBy($"cu".as("community"))
      .agg(sum($"d").as("degree_sum"), count(lit(1)).as("n_nodes"))
    val m2 = eu.agg(count(lit(1)).as("m2"))
    degs.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(m2))
      .select($"community", $"n_nodes",
        coalesce($"intra_edges", lit(0L)).as("intra_edges"),
        $"degree_sum",
        // + 0.0 sign-normalizes: a singleton community's (d_c/2m)² can
        // round to IEEE −0.0 at 9dp when 2m is large enough (seen at
        // sf0.1) — the q_pca_deflate dot12 class
        (round(coalesce($"intra_edges", lit(0L)).cast("double") / $"m2"
          - ($"degree_sum".cast("double") / $"m2")
            * ($"degree_sum".cast("double") / $"m2"), 9) + lit(0.0))
          .as("q_term"))
      .orderBy($"community")
  }

  /** Common-neighbor (co-purchase) customer similarity: the top-30
    * customer pairs by Jaccard over their purchased-PART sets — the
    * "users like you" item-based collaborative-filtering primitive.
    * Scale shape: candidate pairs come from a part-keyed equi-join of
    * the (customer, part) incidence list with itself (wedges meet at the
    * shared neighbor — never a customer×customer nested loop), so the
    * fan-out is Σ_p deg(p)², bounded by capping hub parts at degree ≤
    * 100 first (a universally-bought part carries no similarity signal —
    * the stop-word/prefix-filter move; a no-op on the fixture where max
    * part degree is 53, and the safety valve at 100 TB where hub items
    * otherwise quadratically dominate). Degrees ride in on two thin
    * equi-joins; top-30 is a distributed TakeOrderedAndProject.
    * Determinism: Jaccard is one exact-integer quotient rounded once;
    * ties break (jaccard desc, c1, c2) on both sides. */
  def qCommonNeighbors(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_partkey")
    val ords = Tables.df(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_custkey")
    val cp = li.join(ords, $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("c"), $"l_partkey".as("p")).distinct()
      .localCheckpoint() // three consumers: degrees, both wedge sides
    val keep = cp.groupBy($"p").agg(count(lit(1)).as("pd"))
      .filter($"pd" <= 100).select($"p")
    val inc = cp.join(keep, "p")
    val deg = cp.groupBy($"c").agg(count(lit(1)).as("d"))
    val pairs = inc.select($"c".as("c1"), $"p")
      .join(inc.select($"c".as("c2"), $"p"), "p")
      .filter($"c1" < $"c2")
      .groupBy($"c1", $"c2").agg(count(lit(1)).as("common"))
      .filter($"common" >= 2)
    pairs
      .join(deg.select($"c".as("c1"), $"d".as("d1")), "c1")
      .join(deg.select($"c".as("c2"), $"d".as("d2")), "c2")
      .select($"c1", $"c2", $"common", $"d1", $"d2",
        round($"common".cast("double") / ($"d1" + $"d2" - $"common"), 6)
          .as("jaccard"))
      .orderBy($"jaccard".desc, $"c1".asc, $"c2".asc)
      .limit(30)
  }

  /** HITS hubs-and-authorities (Kleinberg JACM'99), 2 unrolled
    * iterations over the DIRECTED customer→supplier co-purchase edges —
    * the natural bipartite reading: customers are hubs (they "point at"
    * suppliers), suppliers are authorities. Each half-step is the Pregel
    * shape (one edges⋈scores equi-join + one destination-keyed partial
    * agg); L1 normalization is a 1-row aggregate broadcast back, scores
    * round to 9dp per half-step so both engines iterate on identical
    * doubles. Complements q_pagerank: HITS separates "buys widely" from
    * "is widely bought", which a single PageRank score conflates on this
    * graph. Output: top-15 authorities and top-15 hubs. */
  def qHits(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_suppkey")
    val ords = Tables.df(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_custkey")
    val edges = li.join(ords, $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("c"), $"l_suppkey".as("s"))
      .distinct()
      .localCheckpoint() // four half-steps consume it
    // each normalized score relation localCheckpoints: l1norm consumes
    // its input twice (scores + the 1-row total) and every half-step
    // feeds the next, so without the cut the base edges⋈scores join
    // re-executes 2^depth times (the Bradley–Terry iteration lesson);
    // the relations are node-thin, so the materialization is free
    def l1norm(df: DataFrame, col0: String): DataFrame = {
      val in = df.localCheckpoint()
      val tot = in.agg(sum(col(col0)).as("tot"))
      in.crossJoin(broadcast(tot))
        .select(in.columns.filter(_ != col0).map(col) :+
          round(col(col0).cast("double") / $"tot".cast("double"), 9)
            .cast(dec18_9).as(col0): _*)
    }
    val a1 = l1norm(edges.groupBy($"s")
      .agg(count(lit(1)).cast(dec18_9).as("a")), "a")
    val h1 = l1norm(edges.join(a1, "s").groupBy($"c")
      .agg(sum($"a").as("h")), "h")
    val a2 = l1norm(edges.join(h1, "c").groupBy($"s")
      .agg(sum($"h").as("a")), "a")
    val h2 = l1norm(edges.join(a2, "s").groupBy($"c")
      .agg(sum($"a").as("h")), "h")
    val auth = a2.select(lit("auth").as("kind"),
        concat(lit("s:"), $"s").as("node"), $"a".cast("double").as("score"))
      .orderBy($"score".desc, $"node".asc).limit(15)
    val hubs = h2.select(lit("hub").as("kind"),
        concat(lit("c:"), $"c").as("node"), $"h".cast("double").as("score"))
      .orderBy($"score".desc, $"node".asc).limit(15)
    auth.unionAll(hubs).orderBy($"kind", $"score".desc, $"node")
  }

  /** One-row structural summary of the symmetrized co-purchase graph:
    * node/edge counts, degree extremes and mean, and the degree
    * assortativity coefficient (Newman PRL'02) — Pearson correlation of
    * endpoint degrees over directed edge instances. All five moment sums
    * are exact integers accumulated per-edge (one degrees⋈edges join
    * pair), cast to DOUBLE only inside the final closed-form correlation
    * (at extreme edge counts the sums would accumulate directly in
    * DOUBLE — same formula, documented precision trade). */
  def qGraphStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edges = coPurchaseEdgesLong(spark, sfDir)
      .localCheckpoint() // degrees + the moment join both consume it
    val deg = edges.groupBy($"u".as("node")).agg(count(lit(1)).as("d"))
    val m = edges
      .join(deg.select($"node".as("u"), $"d".as("du")), "u")
      .join(deg.select($"node".as("v"), $"d".as("dv")), "v")
      .agg(count(lit(1)).as("m"), sum($"du").as("sx"),
        sum($"dv").as("sy"), sum($"du" * $"dv").as("sxy"),
        sum($"du" * $"du").as("sxx"), sum($"dv" * $"dv").as("syy"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      min($"d").as("min_deg"), max($"d").as("max_deg"),
      sum($"d").as("sum_deg"))
    nodes.crossJoin(broadcast(m))
      .select($"n_nodes", ($"m" / 2).cast("long").as("n_edges"),
        $"min_deg", $"max_deg",
        round($"sum_deg".cast("double") / $"n_nodes", 6).as("mean_deg"),
        round(($"m".cast("double") * $"sxy" - $"sx".cast("double") * $"sy")
          / (sqrt($"m".cast("double") * $"sxx"
              - $"sx".cast("double") * $"sx")
            * sqrt($"m".cast("double") * $"syy"
              - $"sy".cast("double") * $"sy")), 6).as("assortativity"))
  }

  // ---- q_kcore -------------------------------------------------------------
  /** k-core decomposition (Seidman '83) of the part co-occurrence graph
    * ([[qTriangles]]'s edge set), THREE unrolled peel rounds — the
    * density-tier read a sampling pipeline uses to pick "well embedded"
    * nodes. k is DATA-RELATIVE (a fixed k is vacuous as density grows
    * with scale): the smallest degree whose cumulative node count
    * reaches ⌈N/4⌉ — an exact integer-arithmetic 25th-percentile rule
    * both engines compute identically from the degree-VALUE-grouped
    * relation (≤ max-degree rows; no engine percentile function, whose
    * indexing conventions differ). Round r: survivors = nodes whose
    * degree in the round-(r−1) edge set is ≥ k; edges keep only
    * survivor-survivor pairs. A fixed unroll keeps the whole
    * computation one static plan (the q_pagerank discipline — at
    * cluster scale you iterate to fixpoint with a checkpoint per
    * round; each round is one degree agg + two semi-joins, all
    * partial-aggregable; k is a broadcast 1-row relation). Output: one
    * row per round with surviving node/edge counts — the curve that
    * says how fast the graph's periphery peels away (a 0-row round
    * means no ⌈N/4⌉-quantile core exists). */
  def qKcore(spark: SparkSession, sfDir: String): DataFrame =
    kcoreBuild(spark, sfDir)._1

  /** The k-core construction, also returning the AUDIT handles the
    * checkpoints would otherwise hide from the final plan (the
    * localCheckpoint-exposure rule from the k-means/logreg audits):
    * the k-threshold relation BEFORE its checkpoint (its window must
    * run over the degree-VALUE relation, never the node relation) and
    * each round's peeled edge set BEFORE its checkpoint (the per-round
    * plan must stay constant-size — Exchange count not growing with
    * round index — which is exactly what the checkpoint discipline
    * buys; remove one and round r's plan contains round r−1's). */
  private[graft] def kcoreBuild(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
      .filter($"l_partkey" % 5 === 0)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val e0 = li.as("a").join(li.as("b"),
        $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .select($"a.pk".as("u"), $"b.pk".as("v")).distinct()
      .localCheckpoint() // each round re-reads the previous edge set
    def deg(e: DataFrame) = e.select($"u".as("node"))
      .union(e.select($"v".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("d"))
    val d0 = deg(e0).localCheckpoint() // feeds k, round-0 stats, peel 1
    val wc = Window.orderBy($"d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kPre = d0.groupBy($"d").agg(count(lit(1)).as("nv"))
      .withColumn("cum", sum($"nv").over(wc))
      .crossJoin(broadcast(d0.agg(count(lit(1)).as("nn"))))
      .filter($"cum" >= expr("(nn + 3) div 4"))
      .agg(min($"d").as("k"))
    val kDf = kPre
      .localCheckpoint() // 1 row, read by every round's filter + output
    def stats(round: Int, nodes: DataFrame, e: DataFrame) =
      nodes.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .crossJoin(broadcast(kDf))
        .select(lit(round).as("round"), $"k", $"n_nodes", $"n_edges")
    var e = e0
    var out = stats(0, d0.select($"node"), e0)
    val roundEdges = Seq.newBuilder[DataFrame]
    for (r <- 1 to 3) {
      val base = if (r == 1) d0 else deg(e)
      val surv = base.crossJoin(broadcast(kDf)).filter($"d" >= $"k")
        .select($"node")
        .localCheckpoint() // feeds both endpoint semi-joins + the count
      val ePre = e.join(surv.select($"node".as("u")), "u")
        .join(surv.select($"node".as("v")), "v")
        .select($"u", $"v")
      roundEdges += ePre
      e = ePre.localCheckpoint()
      out = out.union(stats(r, surv, e))
    }
    (out.orderBy($"round"), kPre, roundEdges.result())
  }

  // ---- q_adamic_adar --------------------------------------------------------
  /** Adamic–Adar and resource-allocation link-prediction scores (Adamic
    * & Adar '03; Zhou '09) over the customer–part incidence — the
    * weighted refinement of [[qCommonNeighbors]]'s raw overlap: a
    * shared RARE part says more than a shared popular one, so each
    * witness part z weighs 1/ln(deg z) (AA) and 1/deg z (RA). Same
    * hub-capped wedge join (parts with 2 ≤ deg ≤ 100 — a part with one
    * buyer can witness no pair; the cap bounds wedge fan-out at any
    * scale); the per-part weights round once to 9dp and sum as exact
    * decimals, so the ln() libm call happens once per PART, never per
    * pair, and both engines aggregate identical integers. Top-20 by AA
    * with full tie-breaks. */
  def qAdamicAdar(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.df(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_partkey")
    val ords = Tables.df(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_custkey")
    val cp = li.join(ords, $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("c"), $"l_partkey".as("p")).distinct()
      .localCheckpoint() // feeds the degree agg and both wedge sides
    val keep = cp.groupBy($"p").agg(count(lit(1)).as("pd"))
      .filter($"pd".between(2, 100))
      .select($"p",
        round(lit(1.0) / log($"pd".cast("double")), 9).cast(dec18_9).as("aw"),
        round(lit(1.0) / $"pd".cast("double"), 9).cast(dec18_9).as("rw"))
    // keep is part-grain bounded (≤ |part|, hub-capped) — broadcast it so
    // the incidence never shuffles to build the weights join; the wedge
    // self-join is a shuffled-hash join (both sides are the same bounded
    // incidence — no sort needed, and SMJ's two sorts were pure overhead
    // on a join whose output feeds an unsorted hash aggregate).
    val inc = cp.join(broadcast(keep), "p")
    inc.select($"c".as("c1"), $"p", $"aw", $"rw")
      .join(inc.select($"c".as("c2"), $"p").hint("shuffle_hash"), "p")
      .filter($"c1" < $"c2")
      .groupBy($"c1", $"c2")
      .agg(count(lit(1)).as("common"),
        sum($"aw").as("aaSum"), sum($"rw").as("raSum"))
      .filter($"common" >= 2)
      .select($"c1", $"c2", $"common",
        round($"aaSum".cast("double"), 6).as("aa"),
        round($"raSum".cast("double"), 6).as("ra"))
      .orderBy($"aa".desc, $"c1".asc, $"c2".asc)
      .limit(20)
  }

  // ---- q_assortativity -----------------------------------------------------
  /** Degree assortativity (Newman '02): the Pearson correlation of
    * endpoint degrees over the co-purchase edge list — "do hubs attach
    * to hubs (assortative, social-network-like) or to leaves
    * (disassortative, bipartite/infrastructure-like)?" This graph is
    * customer↔supplier bipartite, so the measured sign is itself a
    * structure check the spec pins. Computed on the symmetrized
    * directed list (each undirected edge twice), where Σj = Σk and the
    * textbook per-undirected-edge half-sums collapse to plain moments
    * of (deg u, deg v). Scale shape: two node-keyed degree joins onto
    * the edge list + ONE global aggregate of exact integer moments
    * (per-edge products fit int64 while max-degree² × |E| < 2⁶³ — the
    * hub caps the wedge ops already rely on keep that true at any
    * corpus the caps admit); the closed form divides exact sums and
    * rounds once. */
  def qAssortativity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = coPurchaseEdgesLong(spark, sfDir)
      .localCheckpoint() // degree agg + both endpoint joins
    val deg = e.groupBy($"u".as("node")).agg(count(lit(1)).as("d"))
      .localCheckpoint() // node count + both endpoint joins
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val m = e.join(deg.select($"node".as("u"), $"d".as("du")), "u")
      .join(deg.select($"node".as("v"), $"d".as("dv")), "v")
      .agg(count(lit(1)).as("m2"), sum($"du" * $"dv").as("sjk"),
        sum($"du").as("sj"), sum($"du" * $"du").as("sj2"))
    m.crossJoin(broadcast(nodes))
      .select($"n_nodes", ($"m2" / 2).cast("long").as("m_edges"),
        (($"sjk".cast("double") / $"m2")
          - ($"sj".cast("double") / $"m2")
            * ($"sj".cast("double") / $"m2")).as("cov"),
        (($"sj2".cast("double") / $"m2")
          - ($"sj".cast("double") / $"m2")
            * ($"sj".cast("double") / $"m2")).as("vx"))
      .select($"n_nodes", $"m_edges",
        when($"vx" =!= 0.0, round($"cov" / $"vx", 6)).as("r"))
      .withColumn("structure",
        when($"r".isNull, lit(null).cast("string"))
          .when($"r" > 0.05, lit("assortative"))
          .when($"r" < -0.05, lit("disassortative"))
          .otherwise(lit("neutral")))
  }

  // ---- q_rich_club ---------------------------------------------------------
  /** Rich-club coefficient φ(k) = 2·E_{>k} / (N_{>k}(N_{>k}−1)) (Zhou &
    * Mondragón '04) over a k ∈ {2,4,8,16,32} spine — how densely the
    * hubs interconnect relative to what their count allows, reported
    * raw AND normalized by the whole graph's density (the rewiring null
    * model is randomized, so the deterministic density ratio is the
    * engine-portable normalizer — stated, not hidden). A rich club in
    * the co-purchase graph = a supplier/customer clique every
    * popularity-sensitive sampler over-draws from. Scale shape: the
    * same two degree joins as q_assortativity, then the constant 5-row
    * k-spine fans out ONLY the surviving hub edges (monotonically
    * shrinking per k); node counts come off the degree relation, never
    * the edge list. All counts exact integers; φ divides once. */
  def qRichClub(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ks = array(lit(2), lit(4), lit(8), lit(16), lit(32))
    val e = coPurchaseEdgesLong(spark, sfDir)
      .localCheckpoint() // degree agg + the hub-edge scan
    val deg = e.groupBy($"u".as("node")).agg(count(lit(1)).as("d"))
      .localCheckpoint() // spine counts + both endpoint joins
    val spine = deg.select(explode(ks).as("k"), $"d")
      .groupBy($"k")
      .agg(sum(when($"d" > $"k", 1L).otherwise(0L)).as("n_nodes"))
    val etot = e.agg(count(lit(1)).as("m2_tot"))
    val ntot = deg.agg(count(lit(1)).as("n_tot"))
    val ek = e.join(deg.select($"node".as("u"), $"d".as("du")), "u")
      .join(deg.select($"node".as("v"), $"d".as("dv")), "v")
      .select(explode(ks).as("k"), $"du", $"dv")
      .filter($"du" > $"k" && $"dv" > $"k")
      .groupBy($"k").agg(count(lit(1)).as("m2"))
    spine.join(ek, Seq("k"), "left")
      .crossJoin(broadcast(etot)).crossJoin(broadcast(ntot))
      .select($"k", $"n_nodes",
        (coalesce($"m2", lit(0L)) / 2).cast("long").as("m_edges"),
        when($"n_nodes" > 1, round(coalesce($"m2", lit(0L)).cast("double")
          / ($"n_nodes".cast("double") * ($"n_nodes" - 1)), 6)).as("phi"),
        round($"m2_tot".cast("double")
          / ($"n_tot".cast("double") * ($"n_tot" - 1)), 6).as("density"))
      .withColumn("phi_norm",
        when($"phi".isNotNull && $"density" > 0,
          round($"phi" / $"density", 6)))
      .orderBy($"k")
  }

  // ---- landmark BFS: q_closeness / q_graph_radius -------------------------

  /** Distances d(landmark, node) from 10 md5-chosen landmark nodes to
    * every node within 4 hops, by unrolled min-plus BFS over the
    * long-encoded co-purchase graph. The landmark trick (Eppstein &
    * Wang '01) is what makes closeness tractable at scale: exact
    * closeness is all-pairs BFS (O(n·m) — dead at 100 TB), while k
    * landmarks cost k BFS trees and estimate every node's centrality
    * from its distances TO the landmarks. Each hop is one join + one
    * (lm, node) min-aggregate — the Pregel-as-SQL shape PageRank uses —
    * checkpointed per level so the plan stays linear, not 2^depth.
    * Landmark choice hashes the DECODED string id through the portable
    * md5 rank, so both engines pick the identical seed set. 4 hops
    * covers this bipartite graph (probe: max eccentricity from
    * landmarks is 4 at sf0.01); unreached pairs simply drop out, and
    * both consumers gate on full landmark coverage identically. */
  private def landmarkDistances(spark: SparkSession, sfDir: String)
      : DataFrame = landmarkBuild(spark, sfDir)._1

  /** [[landmarkDistances]] plus the per-hop pre-checkpoint frames, so
    * R13PlanAuditSpec can assert each hop's shape (constant Exchange
    * count, checkpoint-scan leaves, equi-join expansion) the way
    * R12PlanAuditSpec audits the k-core peel rounds. */
  private[graft] def landmarkBuild(spark: SparkSession, sfDir: String)
      : (DataFrame, Seq[DataFrame]) = {
    import spark.implicits._
    val edges = coPurchaseEdgesLong(spark, sfDir).localCheckpoint()
    val decoded = concat(when($"node" % 2 === 0, "c:").otherwise("s:"),
      shiftright($"node", 1).cast("string"))
    val lm = edges.select($"u".as("node")).distinct()
      .select($"node", decoded.as("ns"))
      .withColumn("h",
        conv(substring(md5($"ns"), 1, 15), 16, 10).cast("long"))
      .orderBy($"h", $"ns").limit(10)
      .select($"node".as("lm"))
    var dist = lm.select($"lm", $"lm".as("node"), lit(0).as("d"))
      .localCheckpoint()
    val hops = Seq.newBuilder[DataFrame]
    for (_ <- 1 to 4) {
      val hop = dist
        .unionByName(dist.join(edges, $"node" === $"u")
          .select($"lm", $"v".as("node"), ($"d" + 1).as("d")))
        .groupBy($"lm", $"node").agg(min($"d").as("d"))
      hops += hop
      dist = hop.localCheckpoint()
    }
    (dist, hops.result())
  }

  /** One unrolled min-plus BFS level for the oracle chain. */
  private def bfsIterSql(prev: String, cur: String): String =
    s"""d$cur AS (
       |  SELECT lm, node, min(d) AS d FROM (
       |    SELECT lm, node, d FROM d$prev
       |    UNION ALL
       |    SELECT p.lm, e.v, p.d + 1 FROM d$prev p JOIN e ON e.u = p.node)
       |  GROUP BY 1, 2)""".stripMargin

  private val bfsCtesSql: String =
    s"""pairs AS (
       |  SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
       |lm AS (
       |  SELECT node FROM (SELECT DISTINCT u AS node FROM e)
       |  ORDER BY ('0x' || substr(md5(node), 1, 15))::BIGINT, node
       |  LIMIT 10),
       |d0 AS (SELECT node AS lm, node, 0 AS d FROM lm),
       |${bfsIterSql("0", "1")},
       |${bfsIterSql("1", "2")},
       |${bfsIterSql("2", "3")},
       |${bfsIterSql("3", "4")}""".stripMargin

  /** Landmark-estimated closeness and harmonic centrality (Bavelas '50;
    * Eppstein & Wang '01 estimator; Boldi & Vigna '14 for harmonic):
    * over the landmark-BFS distance relation, a node with full landmark
    * coverage gets closeness_est = k / Σ_l d(l,u) and harmonic_est =
    * (Σ_{d>0} 1/d) / k — the mean-inverse-distance form that tolerates
    * the self term. Σd is an exact integer; the 1/d terms round once to
    * 9dp into an exact decimal sum; top 25 orders by the ROUNDED
    * closeness with the string-id tie-break (the pagerankTop rule). */
  def qCloseness(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val agg = landmarkDistances(spark, sfDir)
      .groupBy($"node")
      .agg(count(lit(1)).as("cov"), sum($"d").as("sum_d"),
        sum(when($"d" > 0,
          round(lit(1.0) / $"d".cast("double"), 9).cast(dec28_9))
          .otherwise(lit(BigDecimal("0").bigDecimal).cast(dec28_9)))
          .as("hsum"))
      .filter($"cov" === 10)
    agg.select(
        concat(when($"node" % 2 === 0, "c:").otherwise("s:"),
          shiftright($"node", 1).cast("string")).as("node"),
        $"sum_d",
        round(lit(10.0) / $"sum_d", 6).as("closeness"),
        round($"hsum".cast("double") / 10.0, 6).as("harmonic"))
      .orderBy($"closeness".desc, $"node".asc)
      .limit(25)
  }

  /** Per-landmark eccentricity within the 4-hop horizon plus the
    * classic landmark bounds: diameter ≥ max eccentricity seen (the
    * double-sweep lower bound), radius ≤ min — the graph-shape summary
    * a platform reads before choosing join strategies over a
    * relationship table. Pure integer arithmetic end to end. */
  def qGraphRadius(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perLm = landmarkDistances(spark, sfDir)
      .groupBy($"lm")
      .agg(count(lit(1)).as("n_reached"), max($"d").as("ecc"))
    val bounds = perLm.agg(max($"ecc").as("diameter_lb"),
      min($"ecc").as("radius_ub"))
    perLm.crossJoin(broadcast(bounds))
      .select(
        concat(when($"lm" % 2 === 0, "c:").otherwise("s:"),
          shiftright($"lm", 1).cast("string")).as("lm"),
        $"n_reached", $"ecc", $"diameter_lb", $"radius_ub")
      .orderBy($"lm")
  }

  // ---- q_degree_dist -------------------------------------------------------
  /** Degree-distribution profile + power-law tail fit of the
    * co-purchase graph (the q_zipf_fit discipline on degrees instead of
    * token ranks): the (degree, node-count) histogram regressed in
    * ln–ln space — slope ≈ −α is the scale-free exponent estimate, r²
    * says whether a power law is even a sensible description, and the
    * summary carries the degree envelope. This is the read a platform
    * takes BEFORE choosing graph-join strategies (a heavy-tailed α < 2
    * graph needs the hub caps q_adamic_adar/q_common_neighbors apply;
    * a near-uniform one doesn't). One row; ln terms once-rounded to 6dp
    * decimals (the q_zipf_fit shape verbatim); histogram grain =
    * distinct degree values, tiny at any corpus scale. */
  def qDegreeDist(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val deg = coPurchaseEdgesLong(spark, sfDir)
      .groupBy($"u").agg(count(lit(1)).as("d"))
      .localCheckpoint() // summary + histogram
    val summary = deg.agg(count(lit(1)).as("n_nodes"),
      min($"d").as("d_min"), max($"d").as("d_max"))
    val hist = deg.groupBy($"d").agg(count(lit(1)).as("nv"))
    val xy = hist.select(
      round(log($"d"), 6).cast(dec18_9).as("x"),
      round(log($"nv"), 6).cast(dec18_9).as("y"))
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
    s.crossJoin(broadcast(summary))
      .select($"n_nodes", $"n".as("n_degrees"), $"d_min", $"d_max",
        round(when(vx =!= 0.0, cov / vx), 6).as("slope"),
        round(when(vx =!= 0.0, (sy - (cov / vx) * sx) / n), 6)
          .as("intercept"),
        round(when(vx * vy =!= 0.0, (cov * cov) / (vx * vy)), 6)
          .as("r2"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_degree_dist" -> qDegreeDist,
    "q_closeness" -> qCloseness,
    "q_graph_radius" -> qGraphRadius,
    "q_kcore" -> qKcore,
    "q_adamic_adar" -> qAdamicAdar,
    "q_assortativity" -> qAssortativity,
    "q_rich_club" -> qRichClub,
    "q_hits" -> qHits,
    "q_graph_stats" -> qGraphStats,
    "q_common_neighbors" -> qCommonNeighbors,
    "q_modularity" -> qModularity,
    "q_label_prop" -> qLabelProp,
    "q_pagerank" -> qPagerank,
    "q_pagerank_bucketed" -> qPagerankBucketed,
    "q_triangles" -> qTriangles,
    "q_clustering_coeff" -> qClusteringCoeff
  )

  private def iterSql(prev: String, cur: String): String =
    s"""c$cur AS (
       |  SELECT e.v AS node,
       |    SUM(CAST(round(p.pr / p.deg, 12) AS DECIMAL(28,14))) AS sw
       |  FROM e JOIN p$prev p ON e.u = p.node GROUP BY e.v),
       |p$cur AS (
       |  SELECT d.node, d.deg,
       |    round(CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
       |      + CAST(0.85 AS DOUBLE)
       |        * COALESCE(CAST(sw AS DOUBLE), 0.0), 12) AS pr
       |  FROM deg d LEFT JOIN c$cur ON c$cur.node = d.node)""".stripMargin

  private val pagerankSql: String =
    s"""WITH pairs AS (
      |  SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |e AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
      |deg AS (SELECT u AS node, count(*) AS deg FROM e GROUP BY u),
      |nn AS (SELECT count(*) AS n FROM deg),
      |p0 AS (SELECT node, deg,
      |         CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM deg),
      |${iterSql("0", "1")},
      |${iterSql("1", "2")},
      |${iterSql("2", "3")}
      |SELECT node, round(pr, 9) AS pr FROM p3
      |ORDER BY pr DESC, node ASC LIMIT 25""".stripMargin

  private def lpIterSql(prev: String, cur: String): String =
    s"""c$cur AS (
       |  SELECT e.u, l.lbl, count(*) AS cnt
       |  FROM e JOIN l$prev l ON e.v = l.node GROUP BY 1, 2),
       |l$cur AS (
       |  SELECT u AS node, lbl FROM (
       |    SELECT u, lbl, row_number() OVER (
       |      PARTITION BY u ORDER BY cnt DESC, lbl ASC) AS rk
       |    FROM c$cur) WHERE rk = 1)""".stripMargin

  val oracle: Map[String, String] = Map(
    // same symmetrized edge list + degree joins; exact integer moments
    // into the same once-divided double closed form
    "q_assortativity" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
        |deg AS (SELECT u AS node, count(*) AS d FROM e GROUP BY u),
        |nodes AS (SELECT count(*) AS n_nodes FROM deg),
        |m AS (
        |  SELECT count(*) AS m2,
        |    CAST(sum(du.d * dv.d) AS BIGINT) AS sjk,
        |    CAST(sum(du.d) AS BIGINT) AS sj,
        |    CAST(sum(du.d * du.d) AS BIGINT) AS sj2
        |  FROM e
        |  JOIN deg du ON du.node = e.u
        |  JOIN deg dv ON dv.node = e.v),
        |f AS (
        |  SELECT n_nodes, CAST(m2 / 2 AS BIGINT) AS m_edges,
        |    (CAST(sjk AS DOUBLE) / m2)
        |      - (CAST(sj AS DOUBLE) / m2) * (CAST(sj AS DOUBLE) / m2)
        |      AS cov,
        |    (CAST(sj2 AS DOUBLE) / m2)
        |      - (CAST(sj AS DOUBLE) / m2) * (CAST(sj AS DOUBLE) / m2)
        |      AS vx
        |  FROM m CROSS JOIN nodes),
        |g AS (
        |  SELECT n_nodes, m_edges,
        |    CASE WHEN vx != 0 THEN round(cov / vx, 6) END AS r
        |  FROM f)
        |SELECT n_nodes, m_edges, r,
        |  CASE WHEN r IS NULL THEN NULL
        |    WHEN r > 0.05 THEN 'assortative'
        |    WHEN r < -0.05 THEN 'disassortative'
        |    ELSE 'neutral' END AS structure
        |FROM g""".stripMargin,

    // same degree joins, same 5-value k spine, exact integer counts,
    // each ratio divides once and rounds once. `deg` is filtered per k
    // (dk) BEFORE the edge joins, and the (u, k) side is aggregated to
    // (k, v) first: the aggregate keeps DuckDB from joining dk to itself
    // on k alone (|dk|²/5 rows) — the old e × deg × deg × ks form spilled
    // >20 GB at sf0.1
    "q_rich_club" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
        |deg AS (SELECT u AS node, count(*) AS d FROM e GROUP BY u),
        |ks AS (SELECT unnest([2, 4, 8, 16, 32]) AS k),
        |spine AS (
        |  SELECT k,
        |    CAST(sum(CASE WHEN d > k THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_nodes
        |  FROM deg CROSS JOIN ks GROUP BY k),
        |etot AS (SELECT count(*) AS m2_tot FROM e),
        |ntot AS (SELECT count(*) AS n_tot FROM deg),
        |dk AS (SELECT k, node FROM deg CROSS JOIN ks WHERE d > k),
        |eu AS (
        |  SELECT du.k, e.v, count(*) AS c
        |  FROM e JOIN dk du ON du.node = e.u
        |  GROUP BY du.k, e.v),
        |ek AS (
        |  SELECT eu.k, CAST(sum(eu.c) AS BIGINT) AS m2
        |  FROM eu JOIN dk dv ON dv.node = eu.v AND dv.k = eu.k
        |  GROUP BY eu.k)
        |SELECT s.k, s.n_nodes,
        |  CAST(coalesce(ek.m2, 0) / 2 AS BIGINT) AS m_edges,
        |  CASE WHEN s.n_nodes > 1
        |    THEN round(CAST(coalesce(ek.m2, 0) AS DOUBLE)
        |      / (CAST(s.n_nodes AS DOUBLE) * (s.n_nodes - 1)), 6) END
        |    AS phi,
        |  round(CAST(m2_tot AS DOUBLE)
        |    / (CAST(n_tot AS DOUBLE) * (n_tot - 1)), 6) AS density,
        |  CASE WHEN s.n_nodes > 1
        |      AND round(CAST(m2_tot AS DOUBLE)
        |        / (CAST(n_tot AS DOUBLE) * (n_tot - 1)), 6) > 0
        |    THEN round(round(CAST(coalesce(ek.m2, 0) AS DOUBLE)
        |        / (CAST(s.n_nodes AS DOUBLE) * (s.n_nodes - 1)), 6)
        |      / round(CAST(m2_tot AS DOUBLE)
        |        / (CAST(n_tot AS DOUBLE) * (n_tot - 1)), 6), 6) END
        |    AS phi_norm
        |FROM spine s
        |LEFT JOIN ek ON ek.k = s.k
        |CROSS JOIN etot CROSS JOIN ntot
        |ORDER BY s.k""".stripMargin,

    // same long-encoded edge construction, same 6dp ln terms into
    // decimal sums, same OLS closed forms (the q_zipf_fit oracle shape)
    "q_degree_dist" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
        |deg AS (SELECT u, count(*) AS d FROM e GROUP BY u),
        |summary AS (
        |  SELECT count(*) AS n_nodes, min(d) AS d_min, max(d) AS d_max
        |  FROM deg),
        |hist AS (SELECT d, count(*) AS nv FROM deg GROUP BY d),
        |xy AS (
        |  SELECT CAST(round(ln(d), 6) AS DECIMAL(18,9)) AS x,
        |    CAST(round(ln(nv), 6) AS DECIMAL(18,9)) AS y
        |  FROM hist),
        |s AS (
        |  SELECT count(*) AS n, sum(x) AS dsx, sum(y) AS dsy,
        |    sum(x * y) AS dsxy, sum(x * x) AS dsxx, sum(y * y) AS dsyy
        |  FROM xy),
        |f AS (
        |  SELECT n,
        |    n * CAST(dsxy AS DOUBLE) - CAST(dsx AS DOUBLE)
        |      * CAST(dsy AS DOUBLE) AS cov,
        |    n * CAST(dsxx AS DOUBLE) - CAST(dsx AS DOUBLE)
        |      * CAST(dsx AS DOUBLE) AS vx,
        |    n * CAST(dsyy AS DOUBLE) - CAST(dsy AS DOUBLE)
        |      * CAST(dsy AS DOUBLE) AS vy,
        |    CAST(dsx AS DOUBLE) AS sx, CAST(dsy AS DOUBLE) AS sy
        |  FROM s)
        |SELECT summary.n_nodes, CAST(f.n AS BIGINT) AS n_degrees,
        |  summary.d_min, summary.d_max,
        |  round(CASE WHEN vx != 0 THEN cov / vx END, 6) AS slope,
        |  round(CASE WHEN vx != 0 THEN (sy - (cov / vx) * sx) / f.n END,
        |    6) AS intercept,
        |  round(CASE WHEN vx * vy != 0 THEN (cov * cov) / (vx * vy) END,
        |    6) AS r2
        |FROM f CROSS JOIN summary""".stripMargin,

    // same md5-chosen landmarks, same 4 unrolled min-plus levels, same
    // exact integer distance sums and once-rounded 9dp inverse terms
    "q_closeness" ->
      (s"""WITH $bfsCtesSql,
        |agg AS (
        |  SELECT node, count(*) AS cov,
        |    CAST(sum(d) AS BIGINT) AS sum_d,
        |    sum(CASE WHEN d > 0
        |      THEN CAST(round(1.0 / CAST(d AS DOUBLE), 9)
        |        AS DECIMAL(28,9))
        |      ELSE CAST(0 AS DECIMAL(28,9)) END) AS hsum
        |  FROM d4 GROUP BY node)
        |SELECT node, sum_d,
        |  round(CAST(10 AS DOUBLE) / sum_d, 6) AS closeness,
        |  round(CAST(hsum AS DOUBLE) / CAST(10 AS DOUBLE), 6) AS harmonic
        |FROM agg WHERE cov = 10
        |ORDER BY closeness DESC, node ASC LIMIT 25""".stripMargin),

    "q_graph_radius" ->
      (s"""WITH $bfsCtesSql,
        |per AS (
        |  SELECT lm, CAST(count(*) AS BIGINT) AS n_reached,
        |    max(d) AS ecc
        |  FROM d4 GROUP BY lm),
        |bounds AS (
        |  SELECT max(ecc) AS diameter_lb, min(ecc) AS radius_ub
        |  FROM per)
        |SELECT lm, n_reached, ecc, diameter_lb, radius_ub
        |FROM per CROSS JOIN bounds
        |ORDER BY lm""".stripMargin),

    // same three unrolled peel rounds, same exact-integer quantile k,
    // same integer survivor counts
    "q_kcore" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_partkey % 5 = 0),
        |e0 AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |d0 AS (SELECT node, count(*) AS d FROM (
        |  SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
        |  GROUP BY 1),
        |kk AS (
        |  SELECT CAST(min(d) AS BIGINT) AS k FROM (
        |    SELECT d, sum(nv) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS cum
        |    FROM (SELECT d, count(*) AS nv FROM d0 GROUP BY d))
        |  CROSS JOIN (SELECT count(*) AS nn FROM d0)
        |  WHERE cum >= (nn + 3) // 4),
        |s1 AS (SELECT node FROM d0 WHERE d >= (SELECT k FROM kk)),
        |e1 AS (SELECT u, v FROM e0
        |  WHERE u IN (SELECT node FROM s1)
        |    AND v IN (SELECT node FROM s1)),
        |d1 AS (SELECT node, count(*) AS d FROM (
        |  SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1)
        |  GROUP BY 1),
        |s2 AS (SELECT node FROM d1 WHERE d >= (SELECT k FROM kk)),
        |e2 AS (SELECT u, v FROM e1
        |  WHERE u IN (SELECT node FROM s2)
        |    AND v IN (SELECT node FROM s2)),
        |d2 AS (SELECT node, count(*) AS d FROM (
        |  SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2)
        |  GROUP BY 1),
        |s3 AS (SELECT node FROM d2 WHERE d >= (SELECT k FROM kk)),
        |e3 AS (SELECT u, v FROM e2
        |  WHERE u IN (SELECT node FROM s3)
        |    AND v IN (SELECT node FROM s3))
        |SELECT 0 AS round, (SELECT k FROM kk) AS k,
        |  (SELECT count(*) FROM d0) AS n_nodes,
        |  (SELECT count(*) FROM e0) AS n_edges
        |UNION ALL SELECT 1, (SELECT k FROM kk),
        |  (SELECT count(*) FROM s1), (SELECT count(*) FROM e1)
        |UNION ALL SELECT 2, (SELECT k FROM kk),
        |  (SELECT count(*) FROM s2), (SELECT count(*) FROM e2)
        |UNION ALL SELECT 3, (SELECT k FROM kk),
        |  (SELECT count(*) FROM s3), (SELECT count(*) FROM e3)
        |ORDER BY round""".stripMargin,

    // same hub cap, same 9dp per-part weights summed as decimals
    "q_adamic_adar" ->
      """WITH cp AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |keep AS (
        |  SELECT p,
        |    CAST(round(1.0 / ln(pd), 9) AS DECIMAL(18,9)) AS aw,
        |    CAST(round(1.0 / pd, 9) AS DECIMAL(18,9)) AS rw
        |  FROM (SELECT p, count(*) AS pd FROM cp GROUP BY p)
        |  WHERE pd BETWEEN 2 AND 100),
        |inc AS (SELECT c, p, aw, rw FROM cp JOIN keep USING (p)),
        |pr AS (
        |  SELECT a.c AS c1, b.c AS c2, count(*) AS common,
        |    sum(a.aw) AS aas, sum(a.rw) AS ras
        |  FROM inc a JOIN inc b ON a.p = b.p AND a.c < b.c
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT c1, c2, common, round(CAST(aas AS DOUBLE), 6) AS aa,
        |  round(CAST(ras AS DOUBLE), 6) AS ra
        |FROM pr ORDER BY aa DESC, c1 ASC, c2 ASC LIMIT 20""".stripMargin,

    // same four unrolled half-steps, same 9dp L1-normalized decimals,
    // same per-side top-15 with string-node tie-break
    "q_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |a1r AS (
        |  SELECT s, CAST(count(*) AS DECIMAL(18,9)) AS a
        |  FROM e GROUP BY 1),
        |a1 AS (
        |  SELECT s, CAST(round(CAST(a AS DOUBLE)
        |    / CAST((SELECT sum(a) FROM a1r) AS DOUBLE), 9)
        |    AS DECIMAL(18,9)) AS a FROM a1r),
        |h1r AS (
        |  SELECT c, sum(a1.a) AS h FROM e JOIN a1 USING (s) GROUP BY 1),
        |h1 AS (
        |  SELECT c, CAST(round(CAST(h AS DOUBLE)
        |    / CAST((SELECT sum(h) FROM h1r) AS DOUBLE), 9)
        |    AS DECIMAL(18,9)) AS h FROM h1r),
        |a2r AS (
        |  SELECT s, sum(h1.h) AS a FROM e JOIN h1 USING (c) GROUP BY 1),
        |a2 AS (
        |  SELECT s, CAST(round(CAST(a AS DOUBLE)
        |    / CAST((SELECT sum(a) FROM a2r) AS DOUBLE), 9)
        |    AS DECIMAL(18,9)) AS a FROM a2r),
        |h2r AS (
        |  SELECT c, sum(a2.a) AS h FROM e JOIN a2 USING (s) GROUP BY 1),
        |h2 AS (
        |  SELECT c, CAST(round(CAST(h AS DOUBLE)
        |    / CAST((SELECT sum(h) FROM h2r) AS DOUBLE), 9)
        |    AS DECIMAL(18,9)) AS h FROM h2r),
        |auth AS (
        |  SELECT 'auth' AS kind, 's:' || CAST(s AS VARCHAR) AS node,
        |    CAST(a AS DOUBLE) AS score
        |  FROM a2 ORDER BY score DESC, node ASC LIMIT 15),
        |hub AS (
        |  SELECT 'hub' AS kind, 'c:' || CAST(c AS VARCHAR) AS node,
        |    CAST(h AS DOUBLE) AS score
        |  FROM h2 ORDER BY score DESC, node ASC LIMIT 15)
        |SELECT * FROM (SELECT * FROM auth UNION ALL SELECT * FROM hub)
        |ORDER BY kind, score DESC, node""".stripMargin,

    // same parity-encoded symmetrized edges, same exact-integer moment
    // sums cast to DOUBLE only inside the closed-form correlation
    "q_graph_stats" ->
      """WITH p AS (
        |  SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS u,
        |    CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS v
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |e AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
        |deg AS (SELECT u AS node, count(*) AS d FROM e GROUP BY 1),
        |mom AS (
        |  SELECT count(*) AS m, CAST(sum(a.d) AS BIGINT) AS sx,
        |    CAST(sum(b.d) AS BIGINT) AS sy,
        |    CAST(sum(a.d * b.d) AS BIGINT) AS sxy,
        |    CAST(sum(a.d * a.d) AS BIGINT) AS sxx,
        |    CAST(sum(b.d * b.d) AS BIGINT) AS syy
        |  FROM e JOIN deg a ON a.node = e.u JOIN deg b ON b.node = e.v),
        |nd AS (
        |  SELECT count(*) AS n_nodes, min(d) AS min_deg,
        |    max(d) AS max_deg, CAST(sum(d) AS BIGINT) AS sum_deg
        |  FROM deg)
        |SELECT nd.n_nodes, CAST(mom.m // 2 AS BIGINT) AS n_edges,
        |  nd.min_deg, nd.max_deg,
        |  round(CAST(nd.sum_deg AS DOUBLE) / nd.n_nodes, 6) AS mean_deg,
        |  round((CAST(mom.m AS DOUBLE) * mom.sxy
        |      - CAST(mom.sx AS DOUBLE) * mom.sy)
        |    / (sqrt(CAST(mom.m AS DOUBLE) * mom.sxx
        |        - CAST(mom.sx AS DOUBLE) * mom.sx)
        |      * sqrt(CAST(mom.m AS DOUBLE) * mom.syy
        |        - CAST(mom.sy AS DOUBLE) * mom.sy)), 6)
        |    AS assortativity
        |FROM nd CROSS JOIN mom""".stripMargin,

    // same wedge equi-join on the hub-capped incidence list, degrees
    // from the uncapped list, same exact-integer Jaccard and tie-break
    "q_common_neighbors" ->
      """WITH cp AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |keep AS (SELECT p FROM (
        |  SELECT p, count(*) AS pd FROM cp GROUP BY 1) WHERE pd <= 100),
        |inc AS (SELECT cp.c, cp.p FROM cp JOIN keep USING (p)),
        |deg AS (SELECT c, count(*) AS d FROM cp GROUP BY 1),
        |pairs AS (
        |  SELECT a.c AS c1, b.c AS c2, count(*) AS common
        |  FROM inc a JOIN inc b ON a.p = b.p AND a.c < b.c
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.c1, p.c2, p.common, d1.d AS d1, d2.d AS d2,
        |  round(CAST(p.common AS DOUBLE) / (d1.d + d2.d - p.common), 6)
        |    AS jaccard
        |FROM pairs p
        |JOIN deg d1 ON d1.c = p.c1
        |JOIN deg d2 ON d2.c = p.c2
        |ORDER BY jaccard DESC, c1 ASC, c2 ASC
        |LIMIT 30""".stripMargin,

    // same symmetrized graph, same synchronous rounds, same
    // (cnt desc, lbl asc) argmax tie-break
    "q_label_prop" ->
      s"""WITH pairs AS (
        |  SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
        |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM e),
        |${lpIterSql("0", "1")},
        |${lpIterSql("1", "2")},
        |s AS (SELECT lbl, count(*) AS csize FROM l2 GROUP BY 1)
        |SELECT l2.node, l2.lbl AS community, s.csize
        |FROM l2 JOIN s ON s.lbl = l2.lbl
        |ORDER BY l2.node""".stripMargin,

    // shares the LPA CTE chain with q_label_prop (same graph, same
    // rounds, same tie-break); squares as plain products, no pow()
    "q_modularity" ->
      s"""WITH pairs AS (
        |  SELECT DISTINCT 'c:' || o_custkey AS u, 's:' || l_suppkey AS v
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
        |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM e),
        |${lpIterSql("0", "1")},
        |${lpIterSql("1", "2")},
        |deg AS (SELECT u, count(*) AS d FROM e GROUP BY 1),
        |m2 AS (SELECT count(*) AS m2 FROM e),
        |ij AS (
        |  SELECT a.lbl AS community, count(*) AS intra_edges
        |  FROM e JOIN l2 a ON a.node = e.u
        |  JOIN l2 b ON b.node = e.v AND b.lbl = a.lbl
        |  GROUP BY 1),
        |dc AS (
        |  SELECT l.lbl AS community, CAST(sum(d.d) AS BIGINT)
        |      AS degree_sum, count(*) AS n_nodes
        |  FROM deg d JOIN l2 l ON l.node = d.u GROUP BY 1)
        |SELECT dc.community, dc.n_nodes,
        |  COALESCE(ij.intra_edges, 0) AS intra_edges, dc.degree_sum,
        |  round(CAST(COALESCE(ij.intra_edges, 0) AS DOUBLE) / m2.m2
        |    - (CAST(dc.degree_sum AS DOUBLE) / m2.m2)
        |      * (CAST(dc.degree_sum AS DOUBLE) / m2.m2), 9) + 0.0
        |    AS q_term
        |FROM dc LEFT JOIN ij ON ij.community = dc.community
        |CROSS JOIN m2
        |ORDER BY dc.community""".stripMargin,

    "q_pagerank" -> pagerankSql,
    // same oracle by design: the bucketed layout must not change a row
    "q_pagerank_bucketed" -> pagerankSql,

    "q_triangles" ->
      (triCtesSql + """
        |SELECT node, tri_cnt FROM tc
        |ORDER BY tri_cnt DESC, node ASC LIMIT 10""".stripMargin),

    // the SAME closure-join chain (triCtesSql); local terms round to 9dp
    // before the decimal sum, wedge/triangle counts are exact integers
    "q_clustering_coeff" ->
      (triCtesSql + """,
        |per AS (
        |  SELECT deg.node, d, COALESCE(tc.tri_cnt, 0) AS t
        |  FROM deg LEFT JOIN tc USING (node)),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges,
        |    CAST(sum(t) AS BIGINT) AS ti,
        |    sum(CAST(round(CASE WHEN d >= 2
        |        THEN CAST(2 AS DOUBLE) * t / (d * (d - 1))
        |        ELSE CAST(0 AS DOUBLE) END, 9) AS DECIMAL(20,9))) AS s_cc
        |  FROM per)
        |SELECT n_nodes, n_wedges, ti // 3 AS n_triangles,
        |  CASE WHEN n_wedges > 0
        |    THEN round(CAST(ti AS DOUBLE) / n_wedges, 6) END
        |    AS transitivity,
        |  round(CAST(s_cc AS DOUBLE) / n_nodes, 6) AS avg_local_cc
        |FROM a""".stripMargin)
  )

  /** The degree-oriented triangle chain (li … deg … o … tri … per-node
    * counts `tc`) — shared by the q_triangles and q_clustering_coeff
    * oracles, mirroring [[triangleParts]] on the Scala side. */
  private lazy val triCtesSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem WHERE l_partkey % 5 = 0),
      |e0 AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |deg AS (
      |  SELECT node, count(*) AS d
      |  FROM (SELECT u AS node FROM e0
      |        UNION ALL SELECT v AS node FROM e0)
      |  GROUP BY node),
      |o AS (
      |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
      |              THEN u ELSE v END AS src,
      |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
      |              THEN v ELSE u END AS dst
      |  FROM e0 JOIN deg du ON e0.u = du.node
      |          JOIN deg dv ON e0.v = dv.node),
      |tri AS (
      |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM o e1 JOIN o e2 ON e1.dst = e2.src
      |       JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      |tc AS (
      |  SELECT node, CAST(count(*) AS BIGINT) AS tri_cnt
      |  FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
      |        UNION ALL SELECT c FROM tri)
      |  GROUP BY node)""".stripMargin
}
