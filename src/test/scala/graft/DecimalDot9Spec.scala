package graft

import org.apache.spark.sql.functions._

/** Bit-identity contract for the native [[graft.functions.DecimalDot9]]
  * expression vs the established HOF kernel it replaces — the two must
  * agree EXACTLY (not approximately) on every fixture pair, or the
  * DuckDB-oracled queries that swapped to the native path would hash
  * red. Also pins the null/mismatch semantics and the integer-array
  * input path (the media tower's histogram vectors). */
class DecimalDot9Spec extends SparkSpec {

  private val hof =
    """CAST(aggregate(
      |  zip_with(a, b, (x, y) ->
      |    CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 9)
      |      AS DECIMAL(20,9))),
      |  CAST(0 AS DECIMAL(28,9)),
      |  (acc, t) -> CAST(acc + t AS DECIMAL(28,9))) AS DOUBLE)""".stripMargin

  test("native decimal_dot9 equals the HOF kernel EXACTLY on every " +
      "fixture embedding pair (float arrays)") {
    import spark.implicits._
    graft.functions.Native.install(spark)
    val emb = Tables.df(spark, sf, "embeddings")
    val pairs = emb.filter($"vec_id" % 20 === 0)
      .select($"vec_id".as("i"), $"embedding".as("a"))
      .crossJoin(emb.filter($"vec_id" % 30 === 0)
        .select($"vec_id".as("j"), $"embedding".as("b")))
    val cmp = pairs
      .select($"i", $"j", expr("decimal_dot9(a, b)").as("nat"),
        expr(hof).as("ref"))
      .filter($"nat" =!= $"ref" ||
        $"nat".isNull =!= $"ref".isNull)
      .count()
    assert(cmp === 0, s"$cmp pairs diverge between native and HOF")
    assert(pairs.count() > 100, "the comparison actually covered pairs")
  }

  test("native decimal_dot9 handles integer arrays (the media-histogram " +
      "path) and nulls/length mismatches like the HOF") {
    import spark.implicits._
    graft.functions.Native.install(spark)
    val df = Seq(
      (Array(1L, 2L, 3L), Array(0.5, 0.25, -1.0)),
      (Array(0L, 0L, 0L), Array(1.0, 1.0, 1.0))
    ).toDF("ia", "db")
    val rows = df.select(expr("decimal_dot9(ia, db)").as("v")).collect()
    assert(rows(0).getDouble(0) === 1.0 * 0.5 + 2 * 0.25 + 3 * -1.0)
    assert(rows(1).getDouble(0) === 0.0)
    // length mismatch → null (the serving kernels only ever see
    // equal-width towers; anything else must be visible, not wrong)
    val mm = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
      .select(expr("decimal_dot9(a, b)").as("v")).collect()
    assert(mm(0).isNullAt(0))
  }

  test("a NULL element nulls the whole dot — matching the HOF — in both " +
      "the interpreted and codegen paths") {
    import spark.implicits._
    graft.functions.Native.install(spark)
    // containsNull arrays via array() over a conditional element
    val df = spark.range(0, 4)
      .select($"id",
        expr("array(CAST(1.0 AS DOUBLE), IF(id = 2, NULL, CAST(2.0 AS DOUBLE)))")
          .as("a"),
        expr("array(CAST(3.0 AS DOUBLE), CAST(4.0 AS DOUBLE))").as("b"))
    // run the identical comparison under BOTH evaluation paths (the
    // CustomOpsSpec factoryMode toggle): CODEGEN_ONLY exercises
    // doGenCode, NO_CODEGEN exercises nullSafeEval — a null-element
    // regression in the interpreted fallback (used when codegen
    // compilation fails at scale) must not hide behind codegen
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
      val got = try {
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
        df.select($"id", expr("decimal_dot9(a, b)").as("nat"),
            expr(hof).as("ref"))
          .orderBy($"id").collect()
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
      got.foreach { r =>
        assert(r.isNullAt(1) === r.isNullAt(2),
          s"[$mode] row ${r.getLong(0)}: native/HOF null-ness diverges")
        if (!r.isNullAt(1)) assert(r.getDouble(1) === r.getDouble(2))
      }
      assert(got(2).isNullAt(1),
        s"[$mode] the null-element row must be NULL")
      assert(!got(0).isNullAt(1),
        s"[$mode] non-null rows must stay non-null")
    }
  }
}
