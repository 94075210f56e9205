package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types._

/** Cosine similarity between two float/double array columns as a native
  * Catalyst expression WITH whole-stage codegen (`doGenCode` emits a tight
  * primitive loop — no per-element boxing, no lambda dispatch), versus the
  * higher-order-function composition in [[VectorFunctions.cosineSim]].
  *
  * Accumulation is left-to-right in exactly the same order as the HOF
  * version (dot, then ‖a‖², then ‖b‖², one division at the end), so the two
  * implementations are bit-identical — CosineSpec asserts that — and either
  * can serve the DuckDB-oracled queries. Returns null for null/length-
  * mismatched inputs.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (FloatType | DoubleType, FloatType | DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"cosine_similarity requires array<float|double> args, got $other")
    }

  @inline private def get(a: ArrayData, i: Int, t: DataType): Double =
    t match {
      case FloatType => a.getFloat(i).toDouble
      case _ => a.getDouble(i)
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val n = a.numElements()
    if (n != b.numElements()) return null
    val (ta, tb) = (elemType(left), elemType(right))
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = get(a, i, ta); val y = get(b, i, tb)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = (t: DataType, arr: String, i: String) => t match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
    val (ta, tb) = (elemType(left), elemType(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
        |int $n = $a.numElements();
        |if ($n != $b.numElements()) {
        |  ${ev.isNull} = true;
        |} else {
        |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        |  for (int $i = 0; $i < $n; $i++) {
        |    double $x = ${getter(ta, a, i)};
        |    double $y = ${getter(tb, b, i)};
        |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
        |  }
        |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
        |  if ($denom == 0.0) { ${ev.isNull} = true; }
        |  else { ${ev.value} = $dot / $denom; }
        |}
      """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_similarity"
}

object CosineSimilarity {
  /** `cosine_similarity(a, b) -> double` as a typed column. */
  def of(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
}
