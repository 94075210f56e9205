package graft

import graft.functions.{Native, VectorFunctions}
import graft.operators.{AsOf, Skew}
import org.apache.spark.sql.functions._

class CustomOpsSpec extends SparkSpec {

  test("codegen cosine expression is bit-identical to the HOF composition") {
    import spark.implicits._
    Native.install(spark)
    val emb = Tables.df(spark, sf, "embeddings").limit(100)
    val a = emb.select($"vec_id".as("ida"), $"embedding".as("va"))
    val b = emb.select($"vec_id".as("idb"), $"embedding".as("vb"))
    val both = a.join(b, $"ida" < $"idb")
      .select(
        expr("cosine_similarity(va, vb)").as("native"),
        VectorFunctions.cosineSim($"va", $"vb").as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0))
        === java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("cosine expression handles length mismatch and zero vectors as null") {
    import spark.implicits._
    Native.install(spark)
    val df = Seq(
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 2.0f))
    ).toDF("a", "b").select(expr("cosine_similarity(a, b)").as("s"))
    assert(df.collect().forall(_.isNullAt(0)))
  }

  test("simhash codegen path agrees with interpreted eval") {
    import spark.implicits._
    Native.install(spark)
    val docs = Tables.df(spark, sf, "documents").limit(50)
      .select($"doc_id", split(lower($"text"), " ").as("toks"))
    def fps(mode: String): Map[Long, Long] = {
      val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
      try {
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
        docs.select($"doc_id", expr("simhash64(toks)").as("fp")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    assert(fps("CODEGEN_ONLY") === fps("NO_CODEGEN"))
  }

  test("Native.install is idempotent per session registry and reaches " +
      "a newSession()") {
    val names = Native.functions.map(_._1.funcName) :+ "geomean"
    Native.install(spark)
    assert(Native.install(spark).isEmpty,
      "a second install on the same session must replace nothing")
    // a newSession starts from the built-in registry: keyed on the
    // session's own registry, install must register everything again
    val fresh = spark.newSession()
    assert(Native.install(fresh).toSet === names.toSet)
    for (s <- Seq(spark, fresh); n <- names)
      assert(s.catalog.functionExists(n), s"$n does not resolve")
    assert(fresh.sql("SELECT cosine_similarity(array(3.0D, 4.0D), " +
      "array(3.0D, 4.0D))").head().getDouble(0) === 1.0)
  }

  test("as-of join picks the latest strictly-prior right row per key") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), 5L),
      (2L, ts("2024-01-01 12:00:00"), 5L),
      (3L, ts("2024-01-01 09:00:00"), 6L)
    ).toDF("event_id", "ts", "user_id")
    val right = Seq(
      (ts("2024-01-01 09:30:00"), 5L, 100.0),
      (ts("2024-01-01 11:00:00"), 5L, 200.0),
      (ts("2024-01-01 12:00:00"), 5L, 300.0), // same instant as event 2: excluded
      (ts("2024-01-01 09:30:00"), 6L, 400.0)  // after event 3: excluded
    ).toDF("ts", "user_id", "value")
    val out = AsOf.asOfJoin(left, right, "user_id", "ts", Seq("value"))
      .select($"event_id", $"prior_value").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L) === Some(100.0))
    assert(out(2L) === Some(200.0), "same-timestamp right row must be excluded")
    assert(out(3L) === None)
  }

  test("as-of join honors a latest prior right row whose payload is NULL") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, ts("2024-01-01 10:00:00"), 5L))
      .toDF("event_id", "ts", "user_id")
    val right = Seq(
      (ts("2024-01-01 08:00:00"), 5L, Some(100.0)),
      (ts("2024-01-01 09:00:00"), 5L, None) // latest prior, NULL payload
    ).toDF("ts", "user_id", "value")
    val out = AsOf.asOfJoin(left, right, "user_id", "ts", Seq("value"))
      .select($"prior_value").head()
    // the 09:00 row WINS even though its payload is null — matching the
    // native AsOfJoinExec (latest prior row, not latest prior non-null)
    assert(out.isNullAt(0),
      s"null-payload prior row must not be skipped, got $out")
  }

  test("salted join equals the plain join") {
    import spark.implicits._
    val orders = Tables.df(spark, sf, "orders")
      .select($"o_orderkey".as("l_orderkey"), $"o_custkey")
    val li = Tables.df(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_quantity")
    val plain = li.join(orders, Seq("l_orderkey")).count()
    val salted = Skew.saltedInnerJoin(li, orders, "l_orderkey", 8)
    assert(salted.count() === plain)
  }
}
