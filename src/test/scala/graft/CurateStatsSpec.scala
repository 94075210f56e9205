package graft

import graft.queries.{CurateOps, StatsOps}
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** Properties of the round-6 curation/statistics pack that the DuckDB hash
  * gate can't see: prefix-filter completeness vs a brute-force reference,
  * k-means partition invariants, survivorship policy, and the closed-form
  * behavior of the windowed statistics. */
class CurateStatsSpec extends SparkSpec {
  import spark.implicits._

  test("prefix-filtered join finds exactly the brute-force pair set") {
    // brute-force reference over the same subset and token representation
    graft.functions.Native.install(spark)
    val sh = Tables.df(spark, sf, "documents")
      .filter($"doc_id" % 5 === 0)
      .select($"doc_id",
        sort_array(array_distinct(transform(
          TextFunctions.tokenSet($"text"),
          t => xxhash64(t)))).as("t"))
      .withColumn("sz", size($"t")).filter($"sz" > 0)
    val brute = sh.as("a").join(sh.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        expr("sorted_intersect_size(a.t, b.t)").cast("double").as("li"),
        col("a.sz").as("s1"), col("b.sz").as("s2"))
      .withColumn("j", $"li" / ($"s1" + $"s2" - $"li"))
      .filter($"j" >= 0.9)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val pref = CurateOps.qPrefixJoin(spark, sf)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(pref == brute,
      s"missing=${(brute -- pref).take(5)} extra=${(pref -- brute).take(5)}")
    assert(pref.nonEmpty, "fixture should produce at least one pair")
  }

  test("prefix join candidates avoid nested-loop plans (equi-join source)") {
    val plan = CurateOps.qPrefixJoin(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "prefix filter must candidate via an equi-join")
  }

  test("ewma band join and boilerplate join both plan as equi-joins") {
    for ((name, df) <- Seq(
        "q_ewma" -> StatsOps.qEwma(spark, sf),
        "q_boilerplate" -> CurateOps.qBoilerplate(spark, sf))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$name must shuffle on a key, not nested-loop")
    }
  }

  test("k-means assigns every vector to exactly one of k clusters") {
    val out = CurateOps.qKmeans(spark, sf).collect()
    assert(out.length <= 4 && out.nonEmpty)
    val total = out.map(_.getAs[Long]("n")).sum
    val corpus = Tables.df(spark, sf, "embeddings").count()
    assert(total == corpus, s"cluster sizes $total must partition $corpus")
    out.foreach { r =>
      assert(r.getAs[Long]("top_n") <= r.getAs[Long]("n"))
    }
  }

  test("canonical keeps exactly one doc per cluster, the longest one") {
    val out = CurateOps.qCanonical(spark, sf)
    val perCluster = out.groupBy($"cluster_id")
      .agg(sum(when($"keep", 1).otherwise(0)).as("n_keep")).collect()
    assert(perCluster.forall(_.getAs[Long]("n_keep") == 1L))
    // the kept doc has the cluster-max n_chars (ties broken by doc_id,
    // so its n_chars still equals the max)
    val docs = Tables.df(spark, sf, "documents").select($"doc_id", $"n_chars")
    val bad = out.join(docs, "doc_id")
      .withColumn("mx", max(when($"keep", $"n_chars")).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")))
      .filter($"n_chars" > $"mx").count()
    assert(bad == 0, "no cluster member may be longer than its kept doc")
  }

  test("boilerplate removal only drops tokens and never grows a doc") {
    val out = CurateOps.qBoilerplate(spark, sf)
      .join(Tables.df(spark, sf, "documents").select($"doc_id", $"n_chars"),
        "doc_id").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_toks"))
      assert(r.getAs[Long]("cleaned_len") <= r.getAs[Long]("n_chars"),
        "reassembly is a subsequence of the original tokens")
    }
    assert(out.exists(r => r.getAs[Long]("n_kept") < r.getAs[Long]("n_toks")),
      "fixture must contain source-ubiquitous tokens that get stripped")
  }

  test("zscore flags exactly the rows beyond the threshold, both tails") {
    val out = StatsOps.qZscore(spark, sf).collect()
    assert(out.forall(r => math.abs(r.getAs[Double]("z")) > 2.5))
    assert(out.nonEmpty)
  }

  test("ewma stays inside each user's observed value range (convexity)") {
    // sum(w*x)/sum(w) with positive weights is a convex combination, so
    // every EWMA must lie within [min, max] of the user's values
    val ranges = Tables.df(spark, sf, "events").groupBy($"user_id")
      .agg(min($"value").as("lo"), max($"value").as("hi"))
    val bad = StatsOps.qEwma(spark, sf).join(ranges, "user_id")
      .filter($"ewma" < $"lo" - 1e-6 || $"ewma" > $"hi" + 1e-6).count()
    assert(bad == 0, "EWMA is a convex combination of observed values")
  }

  test("entropy is bounded by ln(token count) and uniform docs reach it") {
    val out = StatsOps.qEntropy(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val h = r.getAs[Double]("entropy")
      val n = r.getAs[Long]("n_toks")
      // each of the n_types per-token terms carries up to 5e-7 of rounding,
      // so the exact-math bound ln(n) loosens by n_types * 5e-7
      val slack = 5e-7 * r.getAs[Long]("n_types") + 1e-9
      assert(h >= -slack && h <= math.log(n.toDouble) + slack,
        s"entropy $h outside [0, ln($n)] + $slack")
    }
  }

  test("histogram bins partition the table and edges are monotone") {
    val out = StatsOps.qHistogram(spark, sf).collect()
    assert(out.length <= 20 && out.nonEmpty)
    val total = Tables.df(spark, sf, "lineitem").count()
    assert(out.map(_.getAs[Long]("n")).sum == total)
    val edges = out.map(r => (r.getAs[Int]("bin"), r.getAs[Double]("lo_edge")))
    assert(edges.sortBy(_._1).sliding(2).forall {
      case Array(a, b) => a._2 < b._2
      case _ => true
    })
  }

  test("duplicated spans are symmetric: no doc is flagged alone") {
    val out = graft.queries.CurateOps.qDupSpans(spark, sf).collect()
    val total = Tables.df(spark, sf, "documents").count()
    assert(out.length == total, "one row per document, always")
    out.foreach { r =>
      assert(r.getAs[Long]("n_dup") <= r.getAs[Long]("n_windows"))
      val f = r.getAs[Double]("dup_frac")
      assert(f >= 0.0 && f <= 1.0)
    }
    // a span shared across docs flags at least TWO docs — duplication is
    // a relation, so the flagged+dup-window population can never be size 1
    val withDups = out.count(_.getAs[Long]("n_dup") > 0)
    assert(withDups != 1, "duplicated spans always come in pairs of docs")
    assert(withDups > 0, "fixture contains near-duplicate docs; some must hit")
  }

  test("leak-proof split never separates a near-duplicate pair") {
    val out = graft.queries.CurateOps.qSplitLeakproof(spark, sf).collect()
    val subset = Tables.df(spark, sf, "documents")
      .filter($"doc_id" % 10 === 0)
    assert(out.length == subset.count(), "every subset doc gets a split")
    val splitOf = out.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(splitOf.values.toSet.subsetOf(Set("train", "val", "test")))
    // the contamination property, checked INDEPENDENTLY of the query's own
    // cluster labels: brute-force Jaccard over the subset's token sets —
    // any pair at J >= 0.75 (even transitively connected ones share a
    // component, but the direct pairs suffice to catch a broken split)
    // must land in one split
    val toks = subset
      .select($"doc_id", graft.functions.TextFunctions.tokenSet($"text"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    for {
      (i, ti) <- toks; (j, tj) <- toks if i < j
      inter = (ti & tj).size
      if ti.nonEmpty && tj.nonEmpty
      if inter.toDouble / (ti.size + tj.size - inter) >= 0.75
    } assert(splitOf(i) == splitOf(j),
      s"near-dup pair ($i, $j) straddles splits: " +
        s"${splitOf(i)} vs ${splitOf(j)}")
  }

  test("quantile bins partition the table into near-equal tiles") {
    val out = StatsOps.qBinQuantile(spark, sf).collect()
    val total = Tables.df(spark, sf, "lineitem").count()
    assert(out.map(_.getAs[Long]("n")).sum == total)
    assert(out.length <= 20 && out.nonEmpty)
    // tiles are contiguous: each bin's hi never exceeds the next bin's lo
    val sorted = out.sortBy(_.getAs[Int]("bin"))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo") + 1e-9,
          s"bins ${a.getAs[Int]("bin")} and ${b.getAs[Int]("bin")} overlap")
      case _ => ()
    }
    // equal-frequency up to boundary ties: on near-unique prices every
    // tile holds within 3x of the ideal 1/20 share
    val ideal = total / 20.0
    sorted.foreach { r =>
      val n = r.getAs[Long]("n")
      assert(n <= 3 * ideal, s"bin ${r.getAs[Int]("bin")} has $n >> $ideal")
    }
  }

  test("quantile kernel equals Spark's exact percentile on varied shapes") {
    // the kernel must reproduce the single-group aggregate it replaces,
    // bit-close (same interpolation arithmetic up to one ulp ordering),
    // across distributions that stress different cells: heavy ties,
    // near-uniform spread, exponential tail, and a degenerate constant
    val fracs = Seq(0.01, 0.25, 0.5, 0.9, 0.99)
    val shapes: Map[String, Seq[Double]] = Map(
      "ties" -> (1 to 2000).map(i => (i % 7).toDouble),
      "uniform" -> (1 to 2000).map(i => ((i * 2654435761L) % 100003).toDouble),
      "exp" -> (1 to 2000).map(i => math.exp(i / 250.0)),
      "constant" -> Seq.fill(500)(42.0),
      "tiny" -> Seq(3.0, 1.0))
    shapes.foreach { case (name, xs) =>
      val df = xs.toDF("x")
      val kernel = graft.operators.Quantiles
        .exactQuantiles(df, $"x", fracs, buckets = 64)
        .collect().map(r => r.getAs[Double]("frac") -> r.getAs[Double]("b"))
        .toMap
      val fr = fracs.mkString(", ")
      val ref = df.selectExpr(s"percentile(x, array($fr)) AS p")
        .collect()(0).getSeq[Double](0)
      fracs.zip(ref).foreach { case (f, expected) =>
        assert(math.abs(kernel(f) - expected) <= 1e-9 * math.max(1.0,
          math.abs(expected)),
          s"$name frac $f: kernel ${kernel(f)} vs percentile $expected")
      }
    }
  }

  test("skew profile quantiles are ordered and bounded by the max key") {
    val out = StatsOps.qSkewProfile(spark, sf).collect()
    assert(out.length == 2)
    val rows = Map(
      "orders" -> Tables.df(spark, sf, "orders").count(),
      "events" -> Tables.df(spark, sf, "events").count())
    out.foreach { r =>
      assert(r.getAs[Long]("n_rows") == rows(r.getAs[String]("table_name")))
      val (p50, p90, p99) = (r.getAs[Double]("p50"),
        r.getAs[Double]("p90"), r.getAs[Double]("p99"))
      assert(1.0 <= p50 && p50 <= p90 && p90 <= p99
        && p99 <= r.getAs[Long]("max_rows").toDouble)
      assert(r.getAs[Double]("skew") >= 1.0,
        "max/avg is at least 1 by definition")
    }
  }

  test("PSI is non-negative and covers every event of each type") {
    val out = StatsOps.qDriftPsi(spark, sf).collect()
    val perType = Tables.df(spark, sf, "events")
      .groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.length == perType.size)
    out.foreach { r =>
      // every (p-q)ln(p/q) term is >= 0, so PSI is too (6dp rounding of
      // each of the 10 terms can dip at most 5e-6 below zero)
      val psi = r.getAs[Double]("psi")
      assert(psi >= -5e-6, s"PSI must be non-negative, got $psi")
      assert(r.getAs[Long]("n_early") + r.getAs[Long]("n_late")
        == perType(r.getAs[String]("event_type")))
      assert(r.getAs[Boolean]("drifted") == (psi > 0.1))
    }
  }

  test("correlations are bounded and price tracks quantity") {
    val out = StatsOps.qCorrMatrix(spark, sf).collect()
    assert(out.length == 6)
    out.foreach { r =>
      val c = r.getAs[Double]("corr")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"corr $c out of range")
    }
    // all 6 index-ordered pairs of the 4 audited columns appear once
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val expected = (for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))).toSet
    val pairs = out.map(r =>
      (r.getAs[String]("col_x"), r.getAs[String]("col_y"))).toSet
    assert(pairs == expected)
    // the synthetic fixture draws the measures independently, so every
    // correlation is near zero — which is itself the property to check
    // (a sign-magnitude bug would push some |corr| toward 1)
    out.foreach(r => assert(math.abs(r.getAs[Double]("corr")) < 0.2,
      s"independent columns must stay near zero: $r"))
  }

  test("trend r2 is a valid coefficient of determination") {
    val out = StatsOps.qTrend(spark, sf).collect()
    assert(out.nonEmpty)
    val total = Tables.df(spark, sf, "events").count()
    assert(out.map(_.getAs[Long]("n")).sum == total)
    out.foreach { r =>
      val r2 = r.getAs[Double]("r2")
      assert(r2 >= 0.0 && r2 <= 1.0 + 1e-9, s"r2 $r2 outside [0, 1]")
      // a stationary synthetic stream has no material time trend
      assert(math.abs(r.getAs[Double]("slope_per_hour")) < 10.0)
    }
  }

  test("mutual information is bounded by both marginal entropies") {
    val r = StatsOps.qMutualInfo(spark, sf).collect()(0)
    val (mi, hx, hy) = (r.getAs[Double]("mi"), r.getAs[Double]("hx"),
      r.getAs[Double]("hy"))
    // per-term 6dp rounding can dip the exact-math bounds by ~5e-6 each
    assert(mi >= -1e-4, s"MI must be non-negative, got $mi")
    assert(mi <= math.min(hx, hy) + 1e-4, "MI <= min(H(X), H(Y))")
    val nmi = r.getAs[Double]("nmi")
    assert(nmi >= -1e-4 && nmi <= 1.0 + 1e-4)
  }

  test("winsorization clips ~1% per tail and pulls the mean inward") {
    val r = StatsOps.qWinsorize(spark, sf).collect()(0)
    val n = r.getAs[Long]("n")
    val (lo, hi) = (r.getAs[Long]("n_clipped_low"), r.getAs[Long]("n_clipped_high"))
    // each tail holds at most ~1% of rows (interpolation can only shrink it)
    assert(lo <= n / 100 + 1 && hi <= n / 100 + 1, s"$lo/$hi of $n")
    assert(lo > 0 && hi > 0, "a continuous column clips both tails")
    assert(r.getAs[Double]("p01") < r.getAs[Double]("p99"))
    val (raw, win) = (r.getAs[Double]("mean_raw"),
      r.getAs[Double]("mean_winsorized"))
    // clipping both tails moves the mean by at most the clipped mass
    assert(math.abs(win - raw) < (r.getAs[Double]("p99") / 50),
      s"winsorized mean $win too far from raw $raw")
  }

  test("foreign-key audit finds a clean star schema") {
    val out = StatsOps.qFkAudit(spark, sf).collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getAs[Long]("n_child") > 0)
      assert(r.getAs[Long]("n_orphans") == 0L,
        s"fixture FKs are clean: ${r.getAs[String]("fk_edge")}")
      assert(r.getAs[Long]("n_orphan_keys") == 0L)
    }
  }

  test("mad is the median deviation: at most half the group lies closer") {
    val out = StatsOps.qMad(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Double]("mad") >= 0.0)
      assert(r.getAs[Long]("n_outliers") <= r.getAs[Long]("n") / 2,
        "MAD-based outliers can never be the majority")
    }
  }

  test("int8 quantization codes stay in range and errors obey the half-step bound") {
    val out = graft.queries.VectorQueries.qQuantize(spark, sf).collect()
    assert(out.length == 64)
    out.foreach { r =>
      val code = r.getAs[Long]("max_code")
      assert(code >= 0L && code <= 255L, s"code $code outside int8 range")
      val scale = r.getAs[Double]("scale")
      val maxErr = r.getAs[Double]("max_abs_err")
      // a rounded affine code is never further than half a step from the
      // value (plus the 6dp display rounding slack)
      assert(maxErr <= scale / 2 + 1e-6,
        s"max err $maxErr above half-step ${scale / 2}")
      assert(r.getAs[Double]("mean_abs_err") <= maxErr + 1e-6)
    }
  }

  test("hard negatives carry a different label and positives the same") {
    val out = graft.queries.VectorQueries.qHardNegatives(spark, sf).collect()
    val labels = Tables.df(spark, sf, "embeddings")
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      val anchor = labels(r.getAs[Long]("vec_id"))
      Option(r.getAs[java.lang.Long]("pos_id")).foreach(p =>
        assert(labels(p) == anchor, "positive must share the anchor label"))
      Option(r.getAs[java.lang.Long]("neg_id")).foreach(n =>
        assert(labels(n) != anchor, "negative must differ in label"))
      if (!r.isNullAt(r.fieldIndex("margin")))
        assert(math.abs(r.getAs[Double]("margin")
          - (r.getAs[Double]("pos_sim") - r.getAs[Double]("neg_sim"))) < 1e-12)
    }
    assert(out.exists(r => !r.isNullAt(r.fieldIndex("hard"))
      && r.getAs[Boolean]("hard")),
      "the clustered fixture must yield at least one hard anchor")
  }

  test("rebalance downsamples only the dominant language") {
    val out = graft.queries.PipelineOps.qRebalance(spark, sf).collect()
    assert(out.map(_.getAs[String]("lang")).toSet.contains("en"))
    out.foreach { r =>
      val (before, after) = (r.getAs[Long]("n_before"), r.getAs[Long]("n_after"))
      val rate = r.getAs[Double]("rate")
      assert(after <= before)
      if (rate == 1.0) assert(after == before, "rate-1 languages keep all")
      else {
        // binomial sanity: kept count within 4 sigma of rate * n
        val sd = math.sqrt(before * rate * (1 - rate))
        assert(math.abs(after - before * rate) <= 4 * sd + 1,
          s"${r.getAs[String]("lang")}: kept $after vs expected ${before * rate}")
      }
    }
    assert(out.exists(_.getAs[Double]("rate") < 1.0),
      "the skewed fixture must exercise the sampling arm")
  }

  test("topic terms give every source three ranked distinctive tokens") {
    val out = graft.queries.CorpusOps.qTopicTerms(spark, sf).collect()
    val sources = Tables.df(spark, sf, "documents")
      .select($"source").distinct().count()
    assert(out.length == 3 * sources, "three ranked terms per source")
    out.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Int]("rk")).sorted.sameElements(Array(1, 2, 3)))
      val lifts = rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("lift"))
      assert(lifts.sliding(2).forall { case Array(a, b) => a >= b
        case _ => true })
      rows.foreach(r => assert(r.getAs[Long]("nst") >= 5L))
    }
  }

  test("collocations are support-filtered and ranked by descending PMI") {
    val out = graft.queries.CorpusOps.qCollocations(spark, sf).collect()
    assert(out.length == 20)
    val pmis = out.map(_.getAs[Double]("pmi"))
    assert(pmis.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    out.foreach { r =>
      assert(r.getAs[Long]("nxy") >= 5L, "support filter")
      assert(!r.getAs[Double]("pmi").isNaN)
    }
  }

  test("dataset card accounts for every document and a dominant language") {
    val out = graft.queries.CorpusOps.qDatasetCard(spark, sf).collect()
    val total = Tables.df(spark, sf, "documents").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == total)
    out.foreach { r =>
      val nDocs = r.getAs[Long]("n_docs")
      assert(r.getAs[Long]("n_dup_texts") >= 0L)
      assert(r.getAs[Long]("n_short") <= nDocs)
      val share = r.getAs[Double]("top_lang_share")
      // the argmax language holds at least an equal share of its source
      assert(share > 0.0 && share <= 1.0
        && share >= 1.0 / r.getAs[Long]("n_langs"))
      assert(r.getAs[Double]("avg_chars") > 0.0)
    }
  }

  test("oov rates are consistent with the corpus token budget") {
    val out = graft.queries.CorpusOps.qOovRate(spark, sf).collect()
    val corpusToks = Tables.df(spark, sf, "documents")
      .select(explode(TextFunctions.tokens($"text"))).count()
    assert(out.map(_.getAs[Long]("n_toks")).sum == corpusToks)
    out.foreach { r =>
      assert(r.getAs[Long]("n_oov") <= r.getAs[Long]("n_toks"))
      val rate = r.getAs[Double]("oov_rate")
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }

  test("standardized dimensions have zero mean and unit variance") {
    val out = graft.queries.VectorQueries.qStandardize(spark, sf).collect()
    assert(out.length == 64)
    out.foreach { r =>
      val n = r.getAs[Long]("n")
      val slack = 5e-7 * n + 1e-6 // per-term 6dp rounding accumulates
      assert(math.abs(r.getAs[Double]("sum_z")) <= slack,
        s"sum of z-scores must vanish, got ${r.getAs[Double]("sum_z")}")
      // sum z^2 = n-1 for sample-std standardization (z2 also rounds/term)
      assert(math.abs(r.getAs[Double]("sum_z2") - (n - 1)) <= 5e-6 * n + 1e-3,
        s"sum of squared z must be n-1, got ${r.getAs[Double]("sum_z2")}")
    }
  }

  test("LOF scores are positive, finite, and mostly near 1") {
    val out = graft.queries.VectorQueries.qLof(spark, sf).collect()
    assert(out.nonEmpty)
    val lofs = out.map(_.getAs[Double]("lof"))
    assert(lofs.forall(l => l > 0 && !l.isInfinite && !l.isNaN))
    // density-comparison property: in any corpus most points sit at the
    // typical local density, so the bulk of LOF mass is near 1 and
    // flagged outliers are a minority
    val near1 = lofs.count(l => l > 0.5 && l < 2.0)
    assert(near1 * 2 > lofs.length, s"bulk of LOF must be ~1: $near1/${lofs.length}")
    assert(out.count(_.getAs[Boolean]("outlier")) * 2 < lofs.length)
  }

  test("RRF fusion scores stay in (0, 2/61] and each query fills its top-10") {
    val out = graft.queries.CorpusOps.qHybridRrf(spark, sf).collect()
    val byQ = out.groupBy(_.getAs[Int]("qid"))
    assert(byQ.size == 3 && byQ.values.forall(_.length == 10))
    out.foreach { r =>
      val s = r.getAs[Double]("rrf")
      // one arm at rank 1 contributes 1/61; both arms at rank 1 cap it
      assert(s > 0.0 && s <= 2.0 / 61 + 1e-9, s"rrf $s out of range")
    }
  }

  test("SCD-2 intervals chain without gaps and one version is current") {
    val out = graft.queries.EventOps.qScd2(spark, sf)
    val perUser = out.groupBy($"user_id")
      .agg(sum(when($"is_current", 1).otherwise(0)).as("n_cur"),
        max($"version").as("maxv"), count(lit(1)).as("n"))
      .collect()
    assert(perUser.nonEmpty)
    perUser.foreach { r =>
      assert(r.getAs[Long]("n_cur") == 1L, "exactly one open version")
      assert(r.getAs[Int]("maxv").toLong == r.getAs[Long]("n"),
        "versions are consecutive from 1")
    }
    // each closed interval ends exactly where the next one starts
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"version")
    val gaps = out
      .withColumn("next_from", lead($"valid_from", 1).over(w))
      .filter($"valid_to".isNotNull && $"valid_to" =!= $"next_from")
      .count()
    assert(gaps == 0, "history must tile the timeline")
  }

  test("point-in-time join matches exactly one state version per purchase") {
    val out = graft.queries.EventOps.qPitJoin(spark, sf)
    val purchases = Tables.df(spark, sf, "events")
      .filter($"event_type" === "purchase").count()
    assert(out.count() == purchases,
      "half-open intervals tile the timeline: exactly one match each")
    assert(out.select($"event_id").distinct().count() == purchases)
    val bad = out.filter($"state_since" > $"ts").count()
    assert(bad == 0, "a version can never start after the probe event")
  }

  test("sequence examples carry exactly five context tokens each") {
    val out = graft.queries.EventOps.qSeqExamples(spark, sf).collect()
    assert(out.nonEmpty)
    val subset = Tables.df(spark, sf, "events")
      .filter($"user_id" % 20 === 0)
    val perUser = subset.groupBy($"user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each user contributes max(n - 5, 0) examples
    val expected = perUser.values.map(n => math.max(n - 5, 0L)).sum
    assert(out.length == expected, s"${out.length} vs $expected")
    out.foreach { r =>
      assert(r.getAs[String]("context").split(" ").length == 5)
    }
  }

  test("attribution credits only strictly-preceding clicks") {
    val out = graft.queries.EventOps.qAttribution(spark, sf)
    val purchases = Tables.df(spark, sf, "events")
      .filter($"event_type" === "purchase").count()
    assert(out.count() == purchases, "one row per purchase, always")
    val rows = out.filter($"click_id".isNotNull).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("gap_us") >= 0L,
      "attributed click must not postdate the purchase"))
  }

  test("z-order tiles bound BOTH key spans to their 128-cell block") {
    val out = graft.queries.SourceOps.qZorderLayout(spark, sf).collect()
    val total = Tables.df(spark, sf, "lineitem").count()
    assert(out.map(_.getAs[Long]("n")).sum == total)
    out.foreach { r =>
      // a 2^14-cell Z-range is exactly a 128x128 block of (x, y) space —
      // the invariant that gives per-file min/max pruning on both columns
      assert(r.getAs[Long]("x_span") <= 127,
        s"tile ${r.getAs[Long]("tile")} x_span ${r.getAs[Long]("x_span")}")
      assert(r.getAs[Long]("y_span") <= 127,
        s"tile ${r.getAs[Long]("tile")} y_span ${r.getAs[Long]("y_span")}")
    }
  }

  test("profile covers every lineitem column with full non-null counts") {
    val out = StatsOps.qProfile(spark, sf).collect()
    assert(out.length == 11)
    val total = Tables.df(spark, sf, "lineitem").count()
    assert(out.forall(_.getAs[Long]("n_nonnull") == total))
    // numeric rows carry numeric min/max, string rows string min/max
    val byName = out.map(r => r.getAs[String]("col_name") -> r).toMap
    assert(byName("l_quantity").getAs[Double]("min_num") >= 0.0)
    assert(byName("l_returnflag").getAs[String]("min_str") != null)
  }

  test("banding advisor: S-curve orders by bands and theory tracks measurement") {
    val rows = graft.queries.CurateOps.qMinhashBands(spark, sf).collect()
      .map(r => ((r.getAs[Int]("b"), r.getAs[Int]("r")),
        (r.getAs[Double]("p70"), r.getAs[Double]("exp_recall07")))).toMap
    assert(rows.size == 12)
    // fixed 16-perm budget: more bands (shorter rows) must raise the
    // candidate probability at every J — the S-curve's defining tradeoff
    val p70of16 = Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))
      .map(k => rows(k)._1)
    assert(p70of16 == p70of16.sorted.reverse,
      s"P(0.7) must fall as bands give way to rows: $p70of16")
    // every probability and expected recall is a probability
    rows.values.foreach { case (p, er) =>
      assert(p >= 0.0 && p <= 1.0)
      assert(er >= 0.0 && er <= 1.0)
    }
    // the SHIPPED 4-band × 2-row config: independence THEORY on the
    // observed pair distribution must track the MEASURED md5 recall
    // (q_minhash_eval) — both deterministic on this fixture; a large gap
    // means the advisor grid or the eval is miswired
    val theory = rows((4, 2))._2
    val measured = graft.queries.CurateOps.qMinhashEval(spark, sf)
      .collect().head.getAs[Double]("recall07")
    assert(math.abs(theory - measured) < 0.15,
      s"theoretical expected recall $theory vs measured $measured")
  }
}
