package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types._

/** The house integer nano-unit snap — `CAST(round(round(v, 9) * 1e9, 0)
  * AS BIGINT)` — as ONE native expression with a double fast path
  * (r22, guide §1.2 step 2 / §4.1): Spark's `round(double, n)` goes
  * through `BigDecimal.valueOf(v)` = `new BigDecimal(Double.toString(v))`
  * — a decimal FORMAT + PARSE per call — and the srpKeys hot path pays
  * it twice per (vector, plane, dim) term: ~4096 terms per corpus
  * vector, the measured bulk of every ANN/cross-modal key build
  * (q_xmodal_retrieval_ann alone: ~26 run core-s in the term stage at
  * sf0.1).
  *
  * Bit-identity argument (the values feed hash-checked key relations,
  * so "close" is worthless — only "equal" lands):
  *
  *  - Committed semantics: w = BigDecimal.valueOf(v).setScale(9,
  *    HALF_UP).doubleValue(); L = BigDecimal.valueOf(w * 1e9)
  *    .setScale(0, HALF_UP).longValue-via-double-cast. Writing s for
  *    the SHORTEST decimal representation of v (what Double.toString
  *    yields), the decimal d9 = HALF_UP(s, 9) is an exact multiple of
  *    1e-9; let N = d9·1e9 ∈ ℤ. Then w is the double nearest d9, and
  *    for |N| ≤ 1e14 the relative error of w·1e9 vs N is ≤ ~2.3e-16·|N|
  *    < 0.5, so the second round recovers exactly N: the committed
  *    composition RETURNS N (their own "the second round snaps its ×1e9
  *    image onto the exact integer" comment, made precise).
  *  - Fast path: y = |v|·1e9 in double arithmetic differs from |s|·1e9
  *    by ≤ ~2.3e-16·y, and forming g = y + 0.5 rounds once more (half
  *    an ulp of g, ~1.1e-16·y): ~3.3e-16·y worst case. When g is farther
  *    than eps = 4.5e-16·y + 1e-12 from every integer, |s|·1e9 and y
  *    land strictly on the same side of the HALF_UP boundary, so
  *    floor(y + 0.5) = HALF_UP(|s|·1e9, 0) = |N| (HALF_UP is symmetric:
  *    negate for v < 0). Any value inside the eps band — including every
  *    exact decimal tie like v = 5e-10 — falls back to the committed
  *    BigDecimal sequence verbatim, as does any y ≥ 1e13 (where the
  *    guard would thin) and any non-finite input.
  *
  * Round9NanoSpec fuzzes millions of doubles (uniform, tie-adjacent,
  * exact 9dp grids, negatives, zeros, subnormals) against the literal
  * two-round composition and asserts ZERO mismatches; the srpKeys
  * consumers are additionally pinned by R21OpsSpec's artifact ≡ fresh
  * derivation laws and the three-SF oracle sweep. Domain note: callers
  * feed finite doubles (embedding floats / histogram longs × finite
  * hyperplane components); for NaN/±Inf this expression returns the
  * non-ANSI double→long cast image (0 / Long.MIN/MAX) rather than the
  * ANSI error the unfused original would raise. */
case class Round9Nano(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"round9_nano requires a double arg, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    Round9Nano.compute(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Round9Nano.compute($c)")

  override protected def withNewChildInternal(
      newChild: Expression): Round9Nano = copy(newChild)
}

object Round9Nano {

  /** The committed two-round sequence, verbatim (the fallback and the
    * spec's reference implementation). */
  def slow(v: Double): Long = {
    val w =
      if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) v
      else java.math.BigDecimal.valueOf(v)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    val y = w * 1e9
    val l =
      if (java.lang.Double.isNaN(y) || java.lang.Double.isInfinite(y)) y
      else java.math.BigDecimal.valueOf(y)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
    l.toLong
  }

  /** Fast path + guard; falls back to [[slow]] near rounding boundaries,
    * at large magnitude, and on non-finite input. */
  def compute(v: Double): Long = {
    val a = Math.abs(v)
    val y = a * 1e9
    if (y < 1e13) { // NaN fails this too -> slow
      val g = y + 0.5
      val c = Math.floor(g)
      val eps = 4.5e-16 * y + 1e-12
      if (g - c > eps && (c + 1.0) - g > eps) {
        val n = c.toLong
        return if (v < 0.0) -n else n
      }
    }
    slow(v)
  }

  /** `round9_nano(double) -> bigint` as a typed column. */
  def of(v: Column): Column = column(Round9Nano(expression(v)))
}
