package graft

/** Dev tool: print formatted physical plans for selected queries so the
  * scan-pushdown / broadcast / codegen shape can be audited.
  * Usage: runMain graft.ExplainDump <sfDir> [queryName ...]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_pricing", "q3_shipping", "q5_region_volume", "q_topk")
    val spark = Envelope.session()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
