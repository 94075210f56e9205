package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites, in the harness [[Envelope]] at
  * 4 cores (one JVM-wide session keeps the test run fast; suites must not
  * mutate global session state). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Envelope.builder(cpus = 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  lazy val sf: String = SparkSpec.sf
}
