package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash over a token array — the classic near-duplicate
  * fingerprint (Charikar 2002; used at web scale for crawl dedup): hash
  * each token to 64 bits, sum ±1 per bit position, keep the sign bit.
  * Near-duplicate documents differ in few bit positions (small Hamming
  * distance), so grouping by the fingerprint (or by bands of it) turns
  * near-dedup into an ordinary hash shuffle — the 100 TB-safe formulation,
  * vs the O(n²) pairwise Jaccard join.
  *
  * Implemented as a native Catalyst `Expression` (not a Scala UDF) so null
  * handling and column binding stay inside Tungsten rows; token hashing
  * reuses Spark's own XxHash64 kernel, and `doGenCode` emits the bit-count
  * loop directly into whole-stage codegen.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 requires array<string>, got $other")
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = SimHash64.hashToken(arr.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val acc = ctx.freshName("acc")
      s"""
        |int[] $counts = new int[64];
        |for (int $i = 0; $i < $arr.numElements(); $i++) {
        |  if (!$arr.isNullAt($i)) {
        |    long $h = graft.functions.SimHash64.hashToken($arr.getUTF8String($i));
        |    for (int $b = 0; $b < 64; $b++) {
        |      if ((($h >>> $b) & 1L) == 1L) $counts[$b]++; else $counts[$b]--;
        |    }
        |  }
        |}
        |long $acc = 0L;
        |for (int $b = 0; $b < 64; $b++) {
        |  if ($counts[$b] > 0) $acc |= (1L << $b);
        |}
        |${ev.value} = $acc;
      """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {
  /** Token hash shared by eval and generated code (seeded xxhash64). */
  def hashToken(s: UTF8String): Long =
    XxHash64Function.hash(s, StringType, 42L)

  /** `simhash64(array<string>) -> bigint` as a typed column. */
  def of(tokens: Column): Column = column(SimHash64(expression(tokens)))

  /** Hamming distance between two fingerprints (driver/test-side helper). */
  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}
