package graft

import graft.queries.{CurateOps, EvalOps, GraphOps, VectorQueries}
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}

/** Plan-shape audits for the round-13 heavy operators (VERDICT r13 #6)
  * plus the r14 EvalOps window fixes (VERDICT r13 #3/#4) — the
  * structural properties that decide 100 TB behavior, asserted the way
  * the R10–R12 audit specs do. */
class R13PlanAuditSpec extends SparkSpec {

  test("landmark BFS (q_closeness/q_graph_radius): per-hop plans are " +
      "constant-size equi-join + min-agg over checkpointed leaves") {
    val (_, hops) = GraphOps.landmarkBuild(spark, sf)
    assert(hops.size == 4)
    val exchangeCounts = hops.map { h =>
      val p = h.queryExecution.sparkPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        "a BFS hop must never nested-loop: " + p.take(300))
      // the 2^depth failure mode: hop h embedding hop h-1's join instead
      // of reading its checkpointed RDD
      assert(!p.contains("FileScan") && p.contains("Scan ExistingRDD"),
        "every hop input must be a checkpointed relation: " + p.take(300))
      "Exchange hashpartitioning".r.findAllIn(p).size
    }
    assert(exchangeCounts.distinct.size == 1,
      s"per-hop Exchange counts must match: ${exchangeCounts.mkString(",")}")
  }

  test("ann multiprobe serving chain: candidate stage is a (tbl, bk) " +
      "hash equi-join with the probe fan-out below it — no nested loop") {
    val p = VectorQueries.annMd5Pairs(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must never nested-loop: " + p.take(400))
    // the (tbl, bk) key is joined as its injective encoding
    // bkey = tbl·256 + bk (SrpIndex.bkey)
    assert("""(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[bkey#"""
      .r.findFirstIn(p).isDefined,
      "candidates must meet in a (tbl, bk) equi-join: " + p.take(400))
    // the Hamming-1 fan-out (explode of the 9-element probe sequence)
    // multiplies only the probe side, below the join
    assert(p.contains("Generate explode"),
      "the probe fan-out must be an explode below the join")
  }

  test("dbscan grid: the neighbor stage is a (cx, cy) cell equi-join " +
      "with the eps-disc verify above it — never a cartesian") {
    val (_, nbr) = CurateOps.dbscanGridStage(spark, sf)
    val p = nbr.queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the 3x3 cell-offset join must never nested-loop: " + p.take(400))
    assert("""(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[cx#"""
      .r.findFirstIn(p).isDefined,
      "neighbors must meet in a (cx, cy) equi-join: " + p.take(400))
  }

  test("perm importance: the rank window is bucket-partitioned — no " +
      "corpus-grain single-partition window remains (r13 verdict #3)") {
    val ranked = EvalOps.permRanked(spark, sf)
    val windows = ranked.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }
    assert(windows.nonEmpty, "the derangement rank window must exist")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "every window must partition by the md5 bucket — an empty " +
          "partitionSpec is the single-task global sort the fix removed")
    }
  }

  test("conformal: the calibration quantile goes through the histogram-" +
      "refine kernel — its only unpartitioned window runs on the " +
      "bounded histogram relation, and ranks match a global sort") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val vals = Tables.df(spark, sf, "orders")
      .select($"o_totalprice".cast("double").as("x"))
    val ks = Seq(1L, 7L, 500L).toDF("k")
    val got = graft.operators.Quantiles.orderStatistics(vals, $"x", ks)
    // the kernel's plan: any window without a partitionSpec must run
    // over the histogram grain (bkt/cnt columns), never the data grain
    got.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      .filter(_.partitionSpec.isEmpty)
      .foreach { w =>
        val cols = w.child.output.map(_.name).toSet
        assert(cols.subsetOf(Set("bkt", "cnt", "cum_before")),
          s"unpartitioned window must see only histogram rows, got $cols")
      }
    // value check: k-th smallest is algorithm-independent
    val want = vals.orderBy($"x").limit(500).collect().map(_.getDouble(0))
    val gotMap = got.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotMap(1L) == want(0) && gotMap(7L) == want(6)
      && gotMap(500L) == want(499),
      s"order statistics must replay the sorted column: $gotMap")
  }
}
