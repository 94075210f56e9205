package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types._

/** The house exact-decimal pair dot as a native Catalyst expression:
  * Σᵢ round(aᵢ·bᵢ, 9) accumulated EXACTLY, returned as the double image
  * of the decimal sum — bit-identical to the established HOF kernel
  *
  * {{{ CAST(aggregate(zip_with(a, b, (x, y) ->
  *       CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 9)
  *         AS DECIMAL(20,9))),
  *     CAST(0 AS DECIMAL(28,9)),
  *     (acc, t) -> CAST(acc + t AS DECIMAL(28,9))) AS DOUBLE) }}}
  *
  * but WHOLE-STAGE-CODEGEN'd: higher-order functions evaluate
  * interpreted (per-element lambda dispatch + boxing + Decimal wrapper
  * churn — the PERF.md srpKeys lesson, now applied to the PAIR-grain
  * kernels where it multiplies by the candidate count). Bit-identity is
  * engineered term by term: Spark's round(double, 9) is
  * BigDecimal.valueOf(x).setScale(9, HALF_UP), same-scale BigDecimal
  * addition is exact and order-preserving (left-to-right, as the fold),
  * and the final toDouble is the same DECIMAL(28,9)→DOUBLE cast.
  * DecimalDot9Spec asserts exact equality against the HOF on fixture
  * vectors; the DuckDB oracles are unchanged because the VALUE is.
  *
  * Accepts float/double/long/int elements (the media tower's integer
  * histograms and the embedding floats both pass through the same
  * CAST-to-double the HOF kernel applied). Null on null inputs, on any
  * NULL element (zip_with propagates an element null through round →
  * the DECIMAL cast, and aggregate's `acc + NULL` nulls the whole sum —
  * the HOF's semantics, matched here in both eval paths), or on length
  * mismatch.
  *
  * Valid magnitude domain for the bit-identity claim: |aᵢ·bᵢ| must stay
  * below ~1e7. The HOF rounds each term THROUGH DOUBLE and casts to
  * DECIMAL(20,9) (overflow past 1e11 nulls the whole sum; large
  * magnitudes can double-round through Double.toString), whereas this
  * expression keeps the exact BigDecimal term. Identical for the
  * embedding/histogram scales every registered caller feeds it
  * (DecimalDot9Spec pins those); do not rely on bit-identity outside
  * that range. */
case class DecimalDot9(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (FloatType | DoubleType | LongType | IntegerType,
            FloatType | DoubleType | LongType | IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"decimal_dot9 requires numeric array args, got $other")
    }

  @inline private def get(a: ArrayData, i: Int, t: DataType): Double =
    t match {
      case FloatType => a.getFloat(i).toDouble
      case LongType => a.getLong(i).toDouble
      case IntegerType => a.getInt(i).toDouble
      case _ => a.getDouble(i)
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val n = a.numElements()
    if (n != b.numElements()) return null
    val (ta, tb) = (elemType(left), elemType(right))
    var sum = java.math.BigDecimal.ZERO
    var i = 0
    while (i < n) {
      // a NULL element nulls the whole dot — the HOF twin's semantics
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      sum = sum.add(java.math.BigDecimal
        .valueOf(get(a, i, ta) * get(b, i, tb))
        .setScale(9, java.math.RoundingMode.HALF_UP))
      i += 1
    }
    java.lang.Double.valueOf(sum.doubleValue())
  }

  private def getterSrc(t: DataType, arr: String, i: String): String =
    t match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case LongType => s"(double) $arr.getLong($i)"
      case IntegerType => s"(double) $arr.getInt($i)"
      case _ => s"$arr.getDouble($i)"
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (ta, tb) = (elemType(left), elemType(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
        |int $n = $a.numElements();
        |if ($n != $b.numElements()) {
        |  ${ev.isNull} = true;
        |} else {
        |  java.math.BigDecimal $sum = java.math.BigDecimal.ZERO;
        |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
        |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
        |      ${ev.isNull} = true;
        |    } else {
        |      $sum = $sum.add(java.math.BigDecimal.valueOf(
        |        ${getterSrc(ta, a, i)} * ${getterSrc(tb, b, i)})
        |        .setScale(9, java.math.RoundingMode.HALF_UP));
        |    }
        |  }
        |  if (!${ev.isNull}) ${ev.value} = $sum.doubleValue();
        |}
      """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DecimalDot9 = copy(newLeft, newRight)
}

object DecimalDot9 {
  /** `decimal_dot9(a, b) -> double` as a typed column. */
  def of(a: Column, b: Column): Column =
    column(DecimalDot9(expression(a), expression(b)))
}
