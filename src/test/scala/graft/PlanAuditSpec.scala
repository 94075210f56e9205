package graft

import graft.functions.Native
import graft.plans.{GraftExtensions, SelfCosineRule}
import graft.queries.{Joins, Relational, TpchMore}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._

/** Plan-shape audits: lock in the scale-relevant physical-plan properties
  * (pushdown, pruning, broadcast, distributed top-k) so a refactor that
  * silently loses them fails CI — at sf0.01 the timing wouldn't notice,
  * at 100 TB it would be the whole difference. */
class PlanAuditSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1: filter pushed to parquet, schema pruned to needed columns") {
    val plan = planOf(Relational.q1Pricing(spark, sf))
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"))
    assert(!plan.contains("l_partkey"), "unused columns must be pruned")
    assert(plan.contains("HashAggregate"))
  }

  test("q3: dimension joins are broadcast, no cartesian") {
    val plan = planOf(Joins.q3Shipping(spark, sf))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("top-k compiles to distributed TakeOrderedAndProject") {
    val plan = planOf(Relational.qTopK(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("q6: tight scan — every predicate reaches PushedFilters") {
    val plan = planOf(TpchMore.q6Forecast(spark, sf))
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(plan.contains(c), s"predicate on $c not pushed")
  }

  test("q19: per-side projections of the OR-of-ANDs reach both scans") {
    // formatted mode prints full PushedFilters (toString elides them)
    val plan = TpchMore.q19Disjunct(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // lineitem scan must carry the quantity disjunction, part scan the
    // brand/size one — neither side waits for the join to filter
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(l_quantity,1.0)"), plan.take(900))
    assert(plan.contains("EqualTo(p_brand,Brand#12)"), plan.take(900))
  }

  test("chunking stays a projection: no join, no aggregate, one sort") {
    val plan = planOf(graft.queries.PipelineOps.qChunkOverlap(spark, sf))
    assert(!plan.contains("Join"), "chunking must not join:\n" + plan.take(600))
    assert(!plan.contains("HashAggregate"),
      "chunking must not aggregate:\n" + plan.take(600))
    assert(plan.contains("Generate"), "the stride explode is the only fan-out")
  }

  test("skip-gram top-50 compiles to distributed TakeOrderedAndProject") {
    val plan = planOf(graft.queries.CorpusOps.qSkipgram(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("Join"), "pair stream is windows, not a self-join")
  }

  test("scalar quantization broadcasts the 16-row grid, never shuffles vectors") {
    val plan = planOf(graft.queries.VectorQueries.qQuantizeSq(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "the per-dim grid must broadcast into the error pass:\n" +
        plan.take(600))
    assert(!plan.contains("SortMergeJoin"),
      "joining the exploded corpus to a 16-row grid must never " +
        "shuffle the corpus side:\n" + plan.take(600))
    assert(!plan.contains("CartesianProduct"))
  }

  test("session funnel: one window pass, stage joins keyed on (user, sid)") {
    val plan = planOf(graft.queries.EventOps.qFunnelSessions(spark, sf))
    // exactly one Window operator family: lag + running sum share the
    // (user_id, ts) window; the staged gates are aggregates + equi-joins
    val windows = "\\bWindow\\b".r.findAllIn(plan).size
    assert(windows <= 2,
      s"session assignment must be ONE window pass (lag + sum can share " +
        s"or stack in the same exchange), found $windows:\n" + plan.take(800))
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"),
      "funnel gates must stay equi-joins:\n" + plan.take(600))
  }

  test("banding advisor: grid broadcasts over the pair relation") {
    val plan = planOf(graft.queries.CurateOps.qMinhashBands(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      "the 12-row grid fan-out must be a broadcast replicate, not a " +
        "cartesian:\n" + plan.take(600))
  }

  test("pca: moment relations broadcast into the iteration, no corpus join") {
    val plan = planOf(graft.queries.VectorQueries.qPcaPower(spark, sf))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("SortMergeJoin"),
      "iteration must join ≤256-row relations, never shuffle the corpus:\n" +
        plan.take(600))
    assert(!plan.contains("CartesianProduct"))
  }

  test("struct arg-max falls back to SortAggregate (sort-agg path)") {
    val df = graft.queries.Aggregates.qSortAggArgmax(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("SortAggregate"),
      "max(struct) must exercise the sort-agg fallback:\n" + plan.take(600))
    assert(df.count() === 3)
  }

  test("whole-stage codegen covers the aggregation pipeline") {
    // AQE shows codegen spans only in the final (post-execution) plan
    val df = Relational.q1Pricing(spark, sf)
    df.collect()
    // "*(n) Operator" is the WholeStageCodegen stage marker in plan strings
    assert(planOf(df).contains("*(1)"), planOf(df).take(400))
  }

  test("SelfCosineRule folds cosine(x,x) to a guard + constant") {
    import spark.implicits._
    graft.functions.Native.install(spark)
    val prev = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = prev :+ SelfCosineRule
      val df = Tables.df(spark, sf, "embeddings").limit(5)
        .select($"vec_id", expr("cosine_similarity(embedding, embedding)").as("s"))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("cosine_similarity"),
        "self-cosine must be folded away:\n" + optimized)
      assert(df.collect().forall(r => r.getDouble(1) === 1.0))
      // zero vector → null, preserving the expression's semantics
      val z = Seq(Array(0.0f, 0.0f)).toDF("v")
        .select(expr("cosine_similarity(v, v)").as("s"))
      assert(z.head().isNullAt(0))
      // non-finite element → NaN, matching the evaluated loop
      val nf = Seq(Array(1.0f, Float.NaN), Array(1.0f, Float.PositiveInfinity))
        .toDF("v").select(expr("cosine_similarity(v, v)").as("s"))
      assert(nf.collect().forall(r => r.getDouble(0).isNaN))
      // NULL input → NULL, not NaN
      val nul = Seq(Option.empty[Array[Float]]).toDF("v")
        .select(expr("cosine_similarity(v, v)").as("s"))
      assert(nul.head().isNullAt(0), "null array must stay null")
    } finally spark.experimental.extraOptimizations = prev
  }

  test("sketch scale-paths plan as equi-joins: no nested-loop anywhere") {
    // the scalability claim of the LSH/minhash/IVF operators is precisely
    // that candidates meet in bucket EQUI-joins — a refactor that slips in
    // a non-equi pair condition would plan a condition-bearing nested loop
    // or a cartesian and die at scale. (A `Cross BuildRight` BNLJ over the
    // broadcast 3-8-row projection/centroid table is the intended
    // replicate-tiny-constant pattern and is allowed.)
    // regex, not a substring: the node renders as "BroadcastNestedLoopJoin
    // BuildRight, Inner, (cond)" — the build side sits between the name
    // and the join type, so a "BroadcastNestedLoopJoin Inner" literal
    // can never match and would leave the guard vacuous
    val bnljInner = """BroadcastNestedLoopJoin[^,\n]*,\s*Inner""".r
    for (name <- Seq("q_dedup_minhash", "q_ann_lsh", "q_ann_ivf")) {
      val plan = planOf(graft.SparkEntry.queries(name)(spark, sf))
      assert(bnljInner.findFirstIn(plan).isEmpty,
        s"$name must not nested-loop over a pair condition:\n" + plan.take(600))
      assert(!plan.contains("CartesianProduct"),
        s"$name must not cartesian:\n" + plan.take(600))
    }
  }

  test("completed TPC-H suite: dims broadcast, facts never nested-loop") {
    // the new Q7/Q8/Q9/Q21 analogs join lineitem against up to five
    // dimensions — the 100 TB contract is that every dimension side is a
    // broadcast and the only shuffles key on fact columns. A refactor that
    // loses a broadcast would SMJ a 25-row nation table against 600M rows.
    for (name <- Seq("q7_volume", "q8_share", "q9_profit", "q21_waiting")) {
      val plan = planOf(graft.SparkEntry.queries(name)(spark, sf))
      assert(plan.contains("BroadcastHashJoin"),
        s"$name lost its dimension broadcasts:\n" + plan.take(600))
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$name must not nested-loop/cartesian:\n" + plan.take(600))
    }
  }

  test("minhash-md5 candidates meet in a bucket equi-join") {
    // same scale contract as the xxhash64 sketch paths: the oracled twin
    // must also generate candidates via (band, m0, m1) equality, never an
    // all-pairs nested loop. Bare node-name match: plan strings render
    // the build side between the name and the join type ("…BuildRight,
    // Inner"), so a "BroadcastNestedLoopJoin Inner" substring never
    // occurs and would make the guard vacuous.
    val plan = planOf(graft.SparkEntry.queries("q_minhash_md5")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "q_minhash_md5 must bucket-join candidates:\n" + plan.take(600))
  }

  test("weighted reservoir sample plans a distributed top-k") {
    // A-ES's whole point is that the k best keys merge from per-partition
    // heaps; a refactor to a global sort would serialize the corpus
    val plan = planOf(
      graft.SparkEntry.queries("q_sample_weighted")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      "weighted sample must top-k, not global-sort:\n" + plan.take(600))
  }

  test("runtime bloom filter reaches the fact side of a selective join") {
    // the 100 TB pattern behind "join a huge fact to a filtered dim
    // WITHOUT broadcast": Spark's runtime bloom-filter injection builds a
    // bloom filter from the filtered dim and applies might_contain on the
    // fact scan, cutting the shuffle before it happens. Local fixtures are
    // under every default size threshold, so the test pins the behavior
    // with thresholds opened up — and restores session state after.
    val c = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    val saved = keys.map(k => k -> scala.util.Try(c.get(k)).toOption)
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      c.set("spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold", "0")
      c.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "100MB")
      val li = Tables.df(spark, sf, "lineitem")
      val p = Tables.df(spark, sf, "part").filter("p_size = 1")
      val plan = li.join(p, li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand").count()
        .queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        "selective dim filter must inject a runtime bloom filter on the " +
          "fact scan side:\n" + plan.take(800))
    } finally saved.foreach { case (k, v) =>
      v.fold(c.unset(k))(c.set(k, _))
    }
  }

  test("triangle counting joins stay equi-joins end to end") {
    // degree orientation exists precisely so the wedge + closure joins
    // are shuffle equi-joins on (src)/(dst) keys with bounded fan-out;
    // a cartesian or condition-bearing nested loop here means the
    // orientation was lost in a refactor
    val plan = planOf(graft.SparkEntry.queries("q_triangles")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "q_triangles must equi-join oriented edges:\n" + plan.take(600))
  }

  test("bm25 scoring broadcasts the query terms and corpus stats") {
    // the only non-equi join allowed is the replicate-tiny-constant
    // cross join against the broadcast 1-row stats table; the postings
    // join (tf x query terms) must be a broadcast hash join
    val bnljInner = """BroadcastNestedLoopJoin[^,\n]*,\s*Inner""".r
    val plan = planOf(graft.SparkEntry.queries("q_bm25")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "q_bm25 lost its query-term broadcast:\n" + plan.take(600))
    assert(bnljInner.findFirstIn(plan).isEmpty &&
      !plan.contains("CartesianProduct"),
      "q_bm25 must not nested-loop a pair condition:\n" + plan.take(600))
  }

  test("incremental dedup probes the corpus via band equi-joins") {
    // batch-vs-corpus must meet on (b, bk) band keys and the md5 hash —
    // never pair batch x corpus in a nested loop
    val plan = planOf(
      graft.SparkEntry.queries("q_dedup_incremental")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "q_dedup_incremental must band-join the corpus:\n" + plan.take(600))
  }

  test("fuzzy-dist length block plans as a bucket equi-join") {
    // the |Δn_chars| ≤ 40 block is realized as floor(n/40)±1 bucket keys
    // precisely so the pair source shuffles on an equi-join instead of
    // nested-looping O(n²) pairs; a refactor back to a bare non-equi
    // condition would silently reintroduce the BNLJ
    val plan = planOf(graft.SparkEntry.queries("q_fuzzy_dist")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "q_fuzzy_dist must bucket-join its length block:\n" + plan.take(600))
  }

  test("point-in-time join shuffles on user_id, never nested-loops") {
    // the interval containment must ride an equi-join on user_id as a
    // join filter; losing the equi key would nested-loop probes × versions
    val plan = planOf(graft.SparkEntry.queries("q_pit_join")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "q_pit_join must equi-join on user_id:\n" + plan.take(600))
  }

  test("simhash band retrieval joins buckets, never all pairs") {
    val plan = planOf(
      graft.SparkEntry.queries("q_simhash_near")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "band retrieval must equi-join (band, value):\n" + plan.take(600))
  }

  test("pipeline assembly ops never move all data to one partition") {
    // the 100 TB claim of stratified sampling and sequence packing is that
    // every window is partitioned (by stratum / by shard) — a refactor
    // that drops the partitionBy would plan Exchange SinglePartition and
    // serialize the whole corpus through one task. The final presentation
    // ORDER BY is a rangepartitioning exchange, which is fine.
    // q_resample joins the gap-fill shape: spine explode, left join, and
    // forward-fill window all partition by user_id
    for (name <- Seq("q_sample_stratified", "q_pack_sequences",
        "q_mix_weighted", "q_resample")) {
      val plan = planOf(graft.SparkEntry.queries(name)(spark, sf))
      assert(!plan.contains("SinglePartition"),
        s"$name must not single-partition:\n" + plan.take(800))
    }
  }

  test("pq-adc scans codes against broadcast codebook/LUT, never pairs") {
    // the 100 TB claim of product quantization is that the scan side
    // only ever equi-joins the (tiny, materialized) codebook and
    // per-query LUT as broadcasts — a refactor that lets either join
    // fall back to shuffle or nested-loop would move full vectors for
    // every candidate and erase the compression win
    val plan = planOf(
      graft.queries.VectorQueries.qPqAdc(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "LUT/codebook joins must broadcast:\n" + plan.take(600))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "ADC must stay an equi-join scan:\n" + plan.take(600))
  }

  test("q_dedup_embedding is the DOCUMENTED brute-force exemption") {
    // Oracle-expressibility exemption: q_dedup_embedding's contract is
    // EXACT all-pairs semantics hash-matched against a DuckDB brute-force
    // oracle. Exact sub-quadratic cosine-pair enumeration at dim=64/t=0.8
    // is not achievable — any 1-Lipschitz projection of roughly-unit
    // 64-dim vectors concentrates with spread ~1/√d ≈ 0.125, a fifth of
    // the √(2(1−t)) ≈ 0.632 cell width, so grid/tree blocking degenerates
    // to a skewed quadratic join (measured in round 3: the epsilon-grid
    // variant was 70% SLOWER than this plan). The honest exact plan is
    // therefore the undisguised pair join below; the production path for
    // the same dedup decision at corpus scale is q_ann_lsh (bucket
    // equi-join, asserted nested-loop-free above). This test pins the
    // exemption: the query MUST plan as the brute-force pair join, so a
    // future "optimization" back into a degenerate blocked join fails CI.
    // only the two plans a pure non-equi pair join can produce: a blocked
    // variant's cell equi-join would plan SortMergeJoin/ShuffledHashJoin
    // and must FAIL here
    val plan = planOf(graft.SparkEntry.queries("q_dedup_embedding")(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("CartesianProduct"),
      "q_dedup_embedding should be the plain brute-force pair join " +
        "(oracle twin), not a disguised blocked variant:\n" + plan.take(600))
  }

  test("GraftExtensions installs functions and the rule without error") {
    val injected = scala.collection.mutable.ArrayBuffer.empty[String]
    val e = new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    }
    new GraftExtensions().apply(e)   // would throw on malformed injection
    assert(injected.toSeq === Native.functions.map(_._1.funcName),
      "GraftExtensions must inject exactly the Native table")
  }
}
