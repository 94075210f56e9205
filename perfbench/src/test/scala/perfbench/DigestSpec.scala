package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The digest must be a function of the result's rows and column names
  * only: not of row order, partitioning or float noise in the last bits. */
class DigestSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private def digest(df: org.apache.spark.sql.DataFrame) = Digest.of(df.schema, df.collect())

  private def table(n: Int) = spark.range(n).select(col("id"),
    (col("id") / 7.0).as("x"), concat(lit("k"), col("id") % 13).as("s"),
    array(col("id").cast("float"), lit(0.5f)).as("v"),
    map(lit("a"), col("id")).as("m"))

  test("row order and partitioning do not change the digest") {
    val base = digest(table(500).coalesce(1))
    assert(digest(table(500).repartition(7)) == base)
    assert(digest(table(500).orderBy(col("id").desc)) == base)
    assert(base.rows == 500)
  }

  test("the same aggregate digests the same under different partitionings") {
    def agg(parts: Int) = table(5000).repartition(parts).groupBy(col("s"))
      .agg(sum(col("x")).as("sx"), avg(col("x")).as("ax"), count(lit(1)).as("n"))
    assert(digest(agg(1)) == digest(agg(16)))
  }

  test("floats are compared at six significant digits, tiny magnitudes as zero") {
    assert(Digest.canon(0.1 + 0.2) == Digest.canon(0.3))
    assert(Digest.canon(1e-17) == Digest.canon(-2e-17))
    assert(Digest.canon(-0.0) == Digest.canon(0.0))
    assert(Digest.canon(1.0) != Digest.canon(1.00001))
    assert(Digest.canon(1.0f) == Digest.canon(1.0))
  }

  test("values, duplicates and column names all count") {
    val schema = table(1).schema
    val rows = table(20).collect()
    val base = Digest.of(schema, rows)
    assert(Digest.of(schema, rows.updated(3, Row.fromSeq(rows(3).toSeq.updated(2, "other")))) != base)
    assert(Digest.of(schema, rows :+ rows(0)) != base)
    assert(Digest.of(schema, rows.take(19)) != base)
    val renamed = table(20).withColumnRenamed("s", "t")
    assert(Digest.of(renamed.schema, rows) != base)
  }

  test("canonical forms cannot collide by concatenation") {
    assert(Digest.canon(Row("ab", "c")) != Digest.canon(Row("a", "bc")))
    assert(Digest.canon(Seq(1, 23)) != Digest.canon(Seq(12, 3)))
    assert(Digest.canon(null) != Digest.canon("null"))
  }
}
