package graft

import graft.queries.{Corpus2Ops, GovernOps, GraphOps, Vector2Ops}
import org.apache.spark.sql.functions._

/** Batch-2 round-17 contracts: graph-structure invariants
  * (assortativity sign on a bipartite graph, rich-club monotonicity),
  * ROUGE bounds and pair accounting, the risk-model orderings, and the
  * isotropy closed form replayed against an actual pair join. */
class R17bOpsSpec extends SparkSpec {

  private def rnd(x: Double, k: Int): Double =
    BigDecimal(x).setScale(k, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q_assortativity: r ∈ [−1, 1], and the customer↔supplier graph " +
      "is bipartite so it must not read assortative") {
    val r = GraphOps.qAssortativity(spark, sf).collect().head
    assert(r.getAs[Long]("n_nodes") > 0 && r.getAs[Long]("m_edges") > 0)
    val rv = r.getAs[java.lang.Double]("r")
    assert(rv != null && rv >= -1.0 - 1e-9 && rv <= 1.0 + 1e-9)
    val s = r.getAs[String]("structure")
    assert(s == "disassortative" || s == "neutral",
      s"a bipartite incidence graph reading '$s' (r=$rv) means the " +
        "degree joins are wired wrong")
  }

  test("q_rich_club: nodes/edges shrink monotonically in k, φ ∈ [0, 1], " +
      "φ_norm replays φ / density") {
    val rows = GraphOps.qRichClub(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("k")).toSeq == Seq(2, 4, 8, 16, 32))
    val ns = rows.map(_.getAs[Long]("n_nodes"))
    val ms = rows.map(_.getAs[Long]("m_edges"))
    assert(ns.zip(ns.tail).forall { case (a, b) => b <= a })
    assert(ms.zip(ms.tail).forall { case (a, b) => b <= a })
    rows.foreach { r =>
      val phi = Option(r.getAs[java.lang.Double]("phi")).map(_.doubleValue)
      phi.foreach(p => assert(p >= 0 && p <= 1.0 + 1e-9))
      (phi, Option(r.getAs[java.lang.Double]("phi_norm"))) match {
        case (Some(p), Some(pn)) =>
          assert(pn.doubleValue == rnd(p / r.getAs[Double]("density"), 6))
        case _ => ()
      }
    }
  }

  test("q_rouge_lite: P/R/F ∈ [0, 1], and unigram pair counts equal " +
      "docs-per-source − 1") {
    import spark.implicits._
    val rows = Corpus2Ops.qRougeLite(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq("rouge_p", "rouge_r", "rouge_f").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0 && v <= 1.0 + 1e-9, s"$c=$v out of range")
      }
    }
    val uniPairs = rows.filter(_.getAs[Int]("ngram") == 1)
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_pairs"))
      .toMap
    val docsPerSource = Tables.df(spark, sf, "documents")
      .groupBy($"source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    docsPerSource.foreach { case (s, n) =>
      if (n > 1) assert(uniPairs.get(s).contains(n - 1),
        s"source $s: expected ${n - 1} lead() pairs, got ${uniPairs.get(s)}")
    }
  }

  test("q_reident_risk: prosecutor ≥ marketer risk at every level, and " +
      "generalizing (level up) never increases prosecutor risk") {
    val rows = GovernOps.qReidentRisk(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("level")).toSeq == Seq(0, 1, 2))
    rows.foreach { r =>
      assert(r.getAs[Double]("prosecutor_risk")
        >= r.getAs[Double]("marketer_risk") - 1e-9,
        "max-class risk bounds the record-average risk")
    }
    val pr = rows.map(_.getAs[Double]("prosecutor_risk"))
    assert(pr.zip(pr.tail).forall { case (a, b) => b <= a + 1e-9 },
      "coarser quasi-identifiers must not raise worst-class risk")
  }

  test("q_isotropy: the linear-pass closed form replays an actual " +
      "pair join, and no pair join appears in the plan") {
    import spark.implicits._
    val df = Vector2Ops.qIsotropy(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // conditionless 1-row scalar crossJoins are fine; a vector-pair join
    // would carry a vec_id (in)equality condition on the join line
    assert(!plan.contains("CartesianProduct")
      && !plan.linesIterator.exists(l =>
        l.contains("BroadcastNestedLoopJoin") && l.contains("vec_id")),
      "the whole point of ‖Σx̂‖² − Σ‖x̂‖² is NO pair join")
    val row = df.collect().head
    val raw = row.getAs[Double]("mean_cos_raw")
    assert(raw >= -1.0 - 1e-9 && raw <= 1.0 + 1e-9)
    assert(row.getAs[Double]("anisotropy_gap") ===
      rnd(raw - row.getAs[Double]("mean_cos_centered"), 6))
    // brute-force pair-join replay at fixture scale
    graft.functions.Native.install(spark)
    val e = Tables.df(spark, sf, "embeddings")
      .select($"vec_id", $"embedding")
    val brute = e.as("a").join(e.as("b"),
        $"a.vec_id" =!= $"b.vec_id")
      .select(expr("cosine_similarity(a.embedding, b.embedding)").as("c"))
      .agg(avg($"c")).as[Double].head()
    assert(math.abs(raw - brute) < 1e-4,
      s"closed form $raw vs brute-force pair mean $brute")
  }
}
