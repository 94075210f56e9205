package graft

import scala.util.control.NonFatal

/** Dev tool: print each query's optimized logical plan, normalised so that
  * dumps of two builds diff cleanly ("plans unchanged" checks).
  * Usage: runMain graft.ExplainDump <sfDir> [queryName ...]
  * With no query names it dumps every registered query, sorted by name.
  */
object ExplainDump {
  /** Masks what changes from run to run: expression ids (`#123`, `#123L`),
    * lambda variable counters (`lambda x_12`), the fixture/JVM hex tags of
    * generated serving-table names (`graft_ann_1a2b3c4d_5e6f7a8b_`) and
    * JVM object identities (`Typed$$$Lambda$7614/0x…@68de6753`,
    * `Typed$QtySum$@3e0dfa87`). */
  private[graft] def normalise(plan: String): String =
    plan.replaceAll("#\\d+L?", "#N")
      .replaceAll("(lambda \\w+?)_\\d+", "$1_N")
      .replaceAll("_[0-9a-f]{8}_[0-9a-f]{8}_", "_H_")
      .replaceAll("\\$Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+", "\\$Lambda")
      .replaceAll("\\$@[0-9a-f]+", "\\$")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Envelope.session()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        println(normalise(df.queryExecution.optimizedPlan.toString))
      } catch {
        case NonFatal(e) =>
          println(s"FAILED ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
