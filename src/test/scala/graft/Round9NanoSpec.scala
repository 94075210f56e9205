package graft

import graft.functions.{Native, Round9Nano}
import org.apache.spark.sql.functions._

/** r22: the fused nano-unit snap must be BIT-IDENTICAL to the two-round
  * composition it replaced — `CAST(round(round(v,9)*1e9, 0) AS BIGINT)`
  * — because its outputs feed the hash-checked SRP key relations. Three
  * layers: (1) a deterministic JVM fuzz of the scalar kernel against
  * [[Round9Nano.slow]] (which IS the literal committed sequence) across
  * magnitude decades, tie-adjacent values, exact 9dp grid points, and
  * signed zeros; (2) the SQL expression against the unfused SQL on a
  * generated column, codegen path; (3) srpKeys over the real fixture
  * equals the unfused formula's terms end-to-end.
  */
class Round9NanoSpec extends SparkSpec {

  private def reference(v: Double): Long = Round9Nano.slow(v)

  test("scalar fuzz: fast path equals the committed two-round sequence " +
      "across decades, ties, grids, and signed zeros") {
    val rnd = new scala.util.Random(42)
    var checked = 0L
    // magnitude decades around the srpKeys domain (|x·r| <= ~1e6) and
    // beyond the fast-path cutoff so the slow branch is exercised too
    for (exp <- -12 to 7; _ <- 1 to 40000) {
      val v = (rnd.nextDouble() * 2 - 1) * math.pow(10.0, exp)
      assert(Round9Nano.compute(v) === reference(v),
        s"mismatch at v=$v (exp $exp)")
      checked += 1
    }
    // tie-adjacent: exact half-nano multiples and their neighbors — the
    // values whose HALF_UP direction the fast path must NOT decide
    for (i <- -200000 to 200000) {
      val t = i * 5e-10 // every half-nano grid point in [-1e-4, 1e-4]
      for (v <- Seq(t, Math.nextUp(t), Math.nextDown(t))) {
        assert(Round9Nano.compute(v) === reference(v), s"tie at v=$v")
        checked += 1
      }
    }
    // exact 9dp grid (the values srpKeys' terms actually hit after the
    // first round) at several magnitudes
    for (m <- Seq(1e-9, 1e-6, 1e-3, 1.0, 1e3); i <- -2000 to 2000) {
      val v = i * m
      assert(Round9Nano.compute(v) === reference(v), s"grid at v=$v")
      checked += 1
    }
    // HALF_UP boundaries at high magnitude, y = |v|·1e9 in [1e4, 1e13):
    // the double nearest each decimal tie (n + 0.5)·1e-9 and its three
    // ulp neighbours either side, both signs — where the product and the
    // +0.5 rounding error (~3.3e-16·y together) can land the fast path on
    // the wrong side of the boundary, the band its guard must send slow
    for (exp <- 4 to 12; _ <- 1 to 2000) {
      val n = (math.pow(10.0, exp) * (1.0 + rnd.nextDouble() * 9.0)).toLong
      var v = new java.math.BigDecimal(n).add(new java.math.BigDecimal("0.5"))
        .movePointLeft(9).doubleValue()
      for (_ <- 1 to 3) v = Math.nextDown(v)
      for (_ <- 0 to 6) {
        for (s <- Seq(v, -v)) {
          assert(Round9Nano.compute(s) === reference(s), s"boundary at v=$s")
          checked += 1
        }
        v = Math.nextUp(v)
      }
    }
    for (v <- Seq(0.0, -0.0, Double.MinPositiveValue,
        -Double.MinPositiveValue, 1e15, -1e15, 9.9e12, 1.01e13)) {
      assert(Round9Nano.compute(v) === reference(v), s"edge at v=$v")
      checked += 1
    }
    assert(checked > 2000000L)
  }

  test("SQL expression (codegen path) equals the unfused SQL on random " +
      "doubles") {
    import spark.implicits._
    Native.install(spark)
    val df = spark.range(0, 200000).select(
      ((rand(7) * 2 - 1) * pow(lit(10.0), (rand(11) * 16 - 12)))
        .as("v"))
      .select($"v", expr("round9_nano(v)").as("fast"),
        expr("CAST(round(round(v, 9) * 1e9, 0) AS BIGINT)").as("slow"))
    assert(df.filter($"fast" =!= $"slow").count() === 0)
  }

  test("non-finite input returns the non-ANSI double-to-long cast image") {
    import spark.implicits._
    val inputs = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity)
    val image = Seq(0L, Long.MaxValue, Long.MinValue)
    assert(inputs.map(Round9Nano.compute) === image)
    assert(inputs.map(reference) === image)
    // the column path agrees and raises nothing
    assert(inputs.toDF("v").select(Round9Nano.of($"v")).as[Long]
      .collect().toSeq === image)
  }

  test("srpKeys over the fixture is term-identical to the unfused " +
      "formula end-to-end") {
    import spark.implicits._
    val emb = Tables.df(spark, sf, "embeddings")
    val got = graft.queries.VectorQueries.srpKeys(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    // the pre-r22 formula, inlined verbatim
    val dims = emb
      .repartition(Tables.shufflePartitions(spark), $"vec_id")
      .select($"vec_id", posexplode($"embedding").as(Seq("d", "x")))
      .select($"vec_id", $"d", $"x".cast("double").as("x"))
    val planes = spark.range(0, 64).toDF("i")
      .select($"i", explode(sequence(lit(0), lit(63))).as("d"))
      .select($"i", $"d",
        (conv(substring(md5(concat($"i".cast("string"), lit(":"),
          $"d".cast("string"))), 1, 15), 16, 10).cast("long")
          / lit(576460752303423488L) - 1.0).as("r"))
    val terms = dims.join(broadcast(planes), "d")
      .select($"vec_id", expr("i div 8").as("tbl"), $"i",
        round(round($"x" * $"r", 9) * 1e9, 0).cast("long").as("term"))
    val bits = terms.groupBy($"vec_id", $"tbl", $"i")
      .agg((sum($"term") > 0).as("bit"))
    val want = bits.groupBy($"vec_id", $"tbl")
      .agg(sum(when($"bit", expr("shiftleft(CAST(1 AS BIGINT), i % 8)"))
        .otherwise(0L)).as("bk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(got === want)
  }
}
