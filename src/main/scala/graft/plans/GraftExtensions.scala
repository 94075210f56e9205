package graft.plans

import graft.functions.{CosineSimilarity, Native}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Session-extension entry point: injects every native expression of the
  * one [[Native]] table into the function registry at session build time
  * (`.withExtensions(new GraftExtensions)`) and adds a custom optimizer
  * rule and planner strategy — the `SparkSessionExtensions` mechanism a
  * packaged deployment of this engine would ship.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    Native.functions.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => SelfCosineRule)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

/** Optimizer rule: `cosine_similarity(x, x)` folds to a guarded constant —
  * an intentional NUMERIC CANONICALIZATION (the evaluated loop can land
  * 1ulp off 1.0; the rewrite returns exactly 1.0, the mathematically
  * correct value). Domain handling mirrors the evaluated expression:
  * null input → null, all-zero vector → null (zero denominator), any
  * non-finite element → NaN (a NaN/±Inf element drives dot and norms to a
  * NaN quotient), otherwise 1.0. Both guards short-circuit, so the O(d)
  * 3-accumulator loop becomes at most two cheap passes. Demonstrates the
  * `Rule[LogicalPlan]` extension tier — Hive's analog is the ql/optimizer
  * rewrite family (e.g. ConstantPropagate). Assumes non-null array
  * elements, same as the expression it rewrites; finite inputs whose
  * squares overflow to Inf are out of domain (embedding-scale values). */
object SelfCosineRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSimilarity(a, b) if a.semanticEquals(b) && a.deterministic =>
        val elemType = a.dataType match {
          case ArrayType(t, _) => t
          case t => t
        }
        val inf = elemType match {
          case FloatType => Literal(Float.PositiveInfinity)
          case _ => Literal(Double.PositiveInfinity)
        }
        val x = NamedLambdaVariable("x", elemType, nullable = true)
        // guard on x² ≠ 0 IN DOUBLE, not x ≠ 0: the evaluated loop sums
        // double squares, and a double element below ~1.5e-162 squares to
        // exactly 0 (underflow) — its norm is 0 and the true result NULL
        val xd = elemType match {
          case FloatType => Cast(x, DoubleType)
          case _ => x
        }
        val nonZero = ArrayExists(a,
          LambdaFunction(Not(EqualTo(Multiply(xd, xd), Literal(0.0))), Seq(x)))
        // abs(x) < Inf is false for both ±Inf and NaN (Spark orders NaN
        // above Inf), so one predicate covers every non-finite case
        val y = NamedLambdaVariable("y", elemType, nullable = true)
        val allFinite = ArrayForAll(a, LambdaFunction(LessThan(Abs(y), inf), Seq(y)))
        // NULL input stays NULL (Catalyst's If would otherwise route the
        // null forall-predicate to the NaN branch)
        If(IsNull(a), Literal.create(null, DoubleType),
          If(EqualTo(allFinite, Literal(true)),
            If(EqualTo(nonZero, Literal(true)),
              Literal(1.0), Literal.create(null, DoubleType)),
            Literal(Double.NaN)))
    }
}
