package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.udaf

/** The one name → builder table for graft's native Catalyst expressions —
  * the analog of Hive's static `FunctionRegistry`. DataFrame code never
  * goes through it: each expression has a typed `Column` builder next to
  * its class (`CosineSimilarity.of(a, b)`), so query code neither writes
  * to a session's registry nor looks a name up by string. The table
  * serves SQL-string callers, read twice: [[install]] adds it to a live
  * session, and `plans.GraftExtensions` injects it at session build. */
object Native {
  type Entry = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  private def entry[E <: Expression](name: String, arity: Int)(
      build: Seq[Expression] => E)(implicit ct: ClassTag[E]): Entry =
    (FunctionIdentifier(name), new ExpressionInfo(ct.runtimeClass.getName, name),
      exprs => {
        require(exprs.length == arity,
          s"$name expects $arity argument${if (arity == 1) "" else "s"}, " +
            s"got ${exprs.length}")
        build(exprs)
      })

  val functions: Seq[Entry] = Seq(
    entry[CosineSimilarity]("cosine_similarity", 2)(
      a => CosineSimilarity(a(0), a(1))),
    entry[SortedIntersectSize]("sorted_intersect_size", 2)(
      a => SortedIntersectSize(a(0), a(1))),
    entry[SimHash64]("simhash64", 1)(a => SimHash64(a(0))),
    entry[Round9Nano]("round9_nano", 1)(a => Round9Nano(a(0))),
    entry[DecimalDot9]("decimal_dot9", 2)(a => DecimalDot9(a(0), a(1))))

  private val geomean = FunctionIdentifier("geomean")

  /** Registers every table entry, and the `geomean` UDAF, that this
    * session's registry does not hold yet; returns the names it added.
    * Idempotent per registry, never per JVM: a stopped-and-rebuilt
    * session or a `newSession()` starts from a registry without them,
    * and a second call on the same session replaces nothing. */
  def install(spark: SparkSession): Seq[String] = {
    val reg = spark.sessionState.functionRegistry
    reg.synchronized {
      val added = functions.collect {
        case (id, info, build) if !reg.functionExists(id) =>
          reg.registerFunction(id, info, build)
          id.funcName
      }
      if (reg.functionExists(geomean)) added
      else {
        spark.udf.register(geomean.funcName, udaf(GeoMean))
        added :+ geomean.funcName
      }
    }
  }
}
