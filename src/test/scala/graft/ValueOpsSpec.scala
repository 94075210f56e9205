package graft

import graft.queries.{LearnOps, ValueOps}
import org.apache.spark.sql.functions._

/** Valuation / audit / policy-eval family contracts (r17): the
  * KNN-Shapley efficiency axiom, fairness-ratio invariants, the Murphy
  * decomposition's identities, UCB replay ordering, and the closed-form
  * bounds of the two distribution audits — plus the no-all-pairs plan
  * audit on the valuation join. */
class ValueOpsSpec extends SparkSpec {

  private def rnd(x: Double, k: Int): Double =
    BigDecimal(x).setScale(k, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q_knn_shapley: efficiency axiom — each query's Shapley values " +
      "sum to its top-10 match rate (Jia '19 Thm 1)") {
    import spark.implicits._
    val per = ValueOps.knnShapleyPerQuery(spark, sf)
      .select($"qid", $"rk", $"m", $"shap".cast("double").as("shap"))
      .collect()
    assert(per.nonEmpty)
    per.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rows) =>
      val total = rows.map(_.getAs[Double]("shap")).sum
      val top10 = rows.filter(_.getAs[Int]("rk") <= 10)
        .map(_.getAs[Long]("m")).sum / 10.0
      // per-term 9dp rounding bounds the drift at N·5e-10 per suffix,
      // N² over the sum of suffixes — still ≪ 1e-4 at any fixture SF
      assert(math.abs(total - top10) < 1e-4,
        s"qid=$qid: sum(shap)=$total vs top-10 match rate $top10")
    }
  }

  test("knnShapley: every rank's value is Jia '19's closed form, and " +
      "each query's values sum to its top-10 match rate, at N ≥ K and " +
      "N < K") {
    import spark.implicits._
    val K = 10
    // qid 1 ranks N = 12 candidates, qid 2 only N = 4 (< K)
    val lists = Map(1L -> Seq(1, 0, 1, 1, 0, 0, 1, 0, 1, 1, 0, 1),
      2L -> Seq(0, 1, 0, 1))
    val ranked = lists.toSeq.flatMap { case (qid, ms) =>
      ms.zipWithIndex.map { case (m, i) =>
        (qid, qid * 100 + i, i % 3, i + 1, m.toLong) }
    }.toDF("qid", "vec_id", "label", "rk", "m")
    val got = ValueOps.knnShapley(ranked).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rk")) ->
        BigDecimal(r.getAs[java.math.BigDecimal]("shap"))).toMap
    assert(got.size == lists.values.map(_.size).sum)
    val mc = new java.math.MathContext(40)
    for ((qid, ms) <- lists) {
      val n = ms.size
      // t_j = (m_j − m_{j+1}) · min(K, j) / (K · j), m_{N+1} = 0
      def term(j: Int) = BigDecimal(ms(j - 1) - (if (j < n) ms(j) else 0), mc) *
        math.min(K, j) / (K * j)
      val exact = (1 to n).map(j => j -> (j to n).map(term).sum).toMap
      def term9(j: Int) = term(j).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      val rounded = (1 to n).map(j => j -> (j to n).map(term9).sum).toMap
      for (j <- 1 to n)
        assert(got((qid, j)) == rounded(j),
          s"qid=$qid rank $j: shap ${got((qid, j))} vs ${rounded(j)}")
      val rate = BigDecimal(ms.take(K).sum) / K
      assert((exact.values.sum - rate).abs < BigDecimal("1e-30"),
        s"qid=$qid: closed form sums to ${exact.values.sum}, not $rate")
      val total = (1 to n).map(j => got((qid, j))).sum
      // 9dp terms: each value is off by at most n · 5e-10
      assert((total - rate).abs <= BigDecimal(n * n) * BigDecimal("5e-10"),
        s"qid=$qid: sum(shap)=$total vs top-10 match rate $rate")
    }
  }

  test("q_knn_shapley: top-20 by mean value, sorted, and the valuation " +
      "join broadcasts the bounded query side (no all-pairs shuffle)") {
    import spark.implicits._
    val df = ValueOps.qKnnShapley(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "query×corpus must be a broadcast, never a cartesian")
    assert(plan.contains("BroadcastNestedLoopJoin")
      || plan.contains("BroadcastExchange"),
      "the %100 query decile is bounded — it must broadcast")
    val rows = df.collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    val means = rows.map(_.getAs[Double]("mean_shapley"))
    assert(means.sameElements(means.sortBy(-_)), "sorted by value desc")
  }

  test("q_disparate_impact: the most-favored source has di_ratio = 1, " +
      "ratios sit in (0, 1], eo_gap ≥ 0, and the 4/5 flag matches") {
    val rows = ValueOps.qDisparateImpact(spark, sf).collect()
    assert(rows.nonEmpty)
    val dis = rows.flatMap(r => Option(r.getAs[java.lang.Double]("di_ratio"))
      .map(_.doubleValue))
    assert(dis.nonEmpty && math.abs(dis.max - 1.0) < 1e-9,
      "the reference group's ratio must be exactly 1")
    dis.foreach(d => assert(d > 0 && d <= 1.0 + 1e-9))
    rows.foreach { r =>
      Option(r.getAs[java.lang.Double]("eo_gap"))
        .foreach(g => assert(g >= -1e-9, s"eo_gap $g must be ≥ 0"))
      (Option(r.getAs[java.lang.Double]("di_ratio")),
        Option(r.getAs[java.lang.Boolean]("four_fifths_fail"))) match {
        case (Some(d), Some(f)) => assert(f === (d < 0.8))
        case (None, None) => ()
        case other => fail(s"di/flag nullability must agree: $other")
      }
    }
  }

  test("q_brier_decomp: term bounds, and the exact Brier replays the " +
      "scored corpus mean of (p − y)²") {
    import spark.implicits._
    val r = ValueOps.qBrierDecomp(spark, sf).collect().head
    val (brier, rel, res, unc, gap) = (r.getAs[Double]("brier"),
      r.getAs[Double]("rel"), r.getAs[Double]("res"),
      r.getAs[Double]("unc"), r.getAs[Double]("gap"))
    assert(brier >= 0 && brier <= 1)
    assert(rel >= 0 && res >= -1e-9)
    assert(unc >= 0 && unc <= 0.25 + 1e-9,
      "uncertainty is ybar(1−ybar) — capped at 1/4")
    assert(rnd(brier - (rel - res + unc), 6) === gap,
      "gap IS the 3-term identity's remainder by construction")
    // independent replay of the exact term straight off the scorer
    val replay = LearnOps.scoredDocs(spark, sf)
      .select(avg(($"p" - $"y") * ($"p" - $"y"))).as[Double].head()
    assert(math.abs(brier - replay) < 1e-5,
      s"brier=$brier vs unbinned replay $replay")
  }

  test("q_ucb_replay: one row per day, cold-start picks the " +
      "alphabetically first arm, regret ≥ 0, cumulative regret " +
      "nondecreasing") {
    import spark.implicits._
    val rows = ValueOps.qUcbReplay(spark, sf).collect()
    val nDays = Tables.df(spark, sf, "events")
      .select(to_date($"ts")).distinct().count()
    assert(rows.length.toLong === nDays)
    val firstArm = Tables.df(spark, sf, "events")
      .select($"event_type").distinct().orderBy($"event_type")
      .head().getString(0)
    assert(rows.head.getAs[String]("chosen_arm") === firstArm,
      "day 1 has no history: every arm is cold, ties break arm-asc")
    var prev = 0.0
    rows.foreach { r =>
      Option(r.getAs[java.lang.Double]("regret"))
        .foreach(g => assert(g >= -1e-9, s"regret $g on ${r.get(0)}"))
      val c = r.getAs[Double]("cum_regret")
      assert(c >= prev - 1e-9, "cumulative regret must not decrease")
      prev = c
    }
  }

  test("q_rayleigh: resultant length ∈ [0, 1], z replays n·rbar², " +
      "uniform flag matches the p > 0.05 read") {
    val rows = ValueOps.qRayleigh(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, rbar, z, p) = (r.getAs[Long]("n"), r.getAs[Double]("rbar"),
        r.getAs[Double]("z"), r.getAs[Double]("p_value"))
      assert(rbar >= 0 && rbar <= 1.0 + 1e-9)
      assert(z === rnd(n * rbar * rbar, 6))
      assert(r.getAs[Boolean]("uniform") === (p > 0.05))
    }
  }

  test("q_yule_k: K ≥ 0 (Σc² ≥ N always), Simpson's D ∈ [0, 1], " +
      "vocab ≤ n_tokens") {
    val rows = ValueOps.qYuleK(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("yule_k") >= -1e-9)
      val d = r.getAs[Double]("simpson_d")
      assert(d >= 0 && d <= 1.0 + 1e-9)
      assert(r.getAs[Long]("vocab") <= r.getAs[Long]("n_tokens"))
    }
  }

  test("q_knn_shapley_ann: the truncated recursion telescopes — each " +
      "query's values sum to its top-10 match rate over the CANDIDATE " +
      "ranking (the efficiency axiom survives truncation)") {
    import spark.implicits._
    val per = graft.queries.ServeOps.knnShapleyAnnPerQuery(spark, sf)
      .select($"qid", $"rk", $"m", $"shap".cast("double").as("shap"))
      .collect()
    assert(per.nonEmpty, "the fixture yields SOME ANN candidates")
    per.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rows) =>
      val total = rows.map(_.getAs[Double]("shap")).sum
      val top10 = rows.filter(_.getAs[Int]("rk") <= 10)
        .map(_.getAs[Long]("m")).sum / 10.0
      assert(math.abs(total - top10) < 1e-4,
        s"qid=$qid: sum(truncated shap)=$total vs candidate top-10 " +
          s"match rate $top10")
    }
  }

  test("q_knn_shapley_ann: agreement with the exact valuation — every " +
      "vector the truncated estimator prices POSITIVE sits in the exact " +
      "full-corpus top-20, and the estimator never values more vectors " +
      "than it retrieved") {
    val ann = graft.queries.ServeOps.qKnnShapleyAnn(spark, sf).collect()
    assert(ann.nonEmpty)
    val exactTop = ValueOps.qKnnShapley(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val pos = ann.filter(_.getAs[Double]("mean_shapley") > 0)
      .map(_.getAs[Long]("vec_id"))
    // the floor VERDICT r17 #2 asked for: truncation may MISS valuable
    // vectors (candidates are recall-bounded) but must not INVENT them —
    // a positive truncated value is a positive exact value, and on this
    // fixture every one lands inside the exact top-20
    assert(pos.nonEmpty, "the fixture yields SOME positive values")
    val missed = pos.filterNot(exactTop.contains)
    assert(missed.isEmpty,
      s"truncated-positive vectors missing from the exact top-20: " +
        missed.mkString(", "))
  }
}
