package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{array_distinct, sort_array, transform,
  xxhash64}
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types._

/** Intersection cardinality of two SORTED `array<bigint>` columns as a
  * native codegen'd merge-walk — O(|a|+|b|) with zero allocation, versus
  * `size(array_intersect(...))` which builds a fresh hash set per call.
  *
  * This is the per-pair kernel of the near-dup Jaccard verifiers: shingle
  * sets are hashed to sorted long arrays ONCE per document (map side), and
  * each candidate pair then costs a primitive-long merge instead of a
  * string-array hash-set build. Inputs MUST be sorted ascending and
  * duplicate-free, as [[SortedIntersectSize.hashedSet]] builds them;
  * output on unsorted input is unspecified.
  *
  * Null handling: null if either side is null (BinaryExpression default);
  * null ELEMENTS are not expected (hash outputs) and are skipped by the
  * merge only if they sort to the ends — callers must not pass them.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"sorted_intersect_size requires array<bigint> args, got $other")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0; var j = 0; var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
        |int $na = $a.numElements();
        |int $nb = $b.numElements();
        |int $i = 0; int $j = 0; int $n = 0;
        |while ($i < $na && $j < $nb) {
        |  long $x = $a.getLong($i);
        |  long $y = $b.getLong($j);
        |  if ($x == $y) { $n++; $i++; $j++; }
        |  else if ($x < $y) { $i++; }
        |  else { $j++; }
        |}
        |${ev.value} = $n;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_size"
}

object SortedIntersectSize {
  /** `sorted_intersect_size(a, b) -> int` as a typed column. */
  def of(a: Column, b: Column): Column =
    column(SortedIntersectSize(expression(a), expression(b)))

  /** The kernel's input: the elements of `elems` hashed with xxhash64 to
    * a sorted, duplicate-free `array<bigint>`. `array_distinct` runs
    * AFTER hashing, so the set stays duplicate-free even when two
    * distinct elements collide; sizes and intersections are then counted
    * over hashes, and equal the element-set values collision-free
    * (~2^-64 per pair of distinct elements — the standing assumption of
    * every raw-string oracle over these sets). */
  def hashedSet(elems: Column): Column =
    sort_array(array_distinct(transform(elems, e => xxhash64(e))))
}
