package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Geometric mean as a typed `Aggregator` — the Spark-native counterpart of
  * Hive's custom-UDAF extension API (GenericUDAFResolver2), demonstrating
  * the user-defined aggregate surface. Algebraic (sum of logs + count), so
  * it gets map-side partial aggregation and shuffles O(1) state per group —
  * 100 TB-safe like any built-in agg.
  */
case class GeoMeanBuf(var sumLog: Double, var n: Long, var nZero: Long,
    var nNeg: Long)

/** Domain semantics (not a silent skip): any negative input makes the
  * group's result NaN (undefined), any zero makes it 0 (the mathematical
  * limit — a zero factor zeroes the product), an empty group is NaN. */
object GeoMean extends Aggregator[Double, GeoMeanBuf, Double] {
  override def zero: GeoMeanBuf = GeoMeanBuf(0.0, 0L, 0L, 0L)
  override def reduce(b: GeoMeanBuf, x: Double): GeoMeanBuf = {
    if (x > 0) { b.sumLog += math.log(x); b.n += 1 }
    else if (x == 0) b.nZero += 1
    else b.nNeg += 1
    b
  }
  override def merge(a: GeoMeanBuf, b: GeoMeanBuf): GeoMeanBuf = {
    a.sumLog += b.sumLog; a.n += b.n
    a.nZero += b.nZero; a.nNeg += b.nNeg
    a
  }
  override def finish(b: GeoMeanBuf): Double =
    if (b.nNeg > 0) Double.NaN
    else if (b.nZero > 0) 0.0
    else if (b.n == 0) Double.NaN
    else math.exp(b.sumLog / b.n)
  override def bufferEncoder: Encoder[GeoMeanBuf] = Encoders.product
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble

  /** `geomean(double) -> double` as a typed column. */
  def of(c: Column): Column = udaf(GeoMean).withName("geomean").apply(c)
}
