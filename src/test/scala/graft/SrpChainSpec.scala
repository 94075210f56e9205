package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every SRP candidate search runs one chain: the batch Hamming-1 fan-out
  * lives in `VectorQueries.srpProbes`, the bucket join in
  * `SrpIndex.candidates`; `Streams.srpProbeRows` is the documented per-row
  * twin. The in-plan = served row identities live in AnnServedSpec and
  * R18/R19/R20OpsSpec. */
class SrpChainSpec extends AnyFunSuite {

  // the needles are built from halves so this file does not match itself
  private val tblBkJoin = "Seq(\"tbl\", " + "\"bk\")"
  private val fanOut = "sequence(lit(-1), " + "lit(7))"
  private val bkeyJoin = """\.join\([^)]*"bkey"\)""".r

  test("no (tbl, bk) candidate join in main code") {
    val hits = MainSources.lines.filter(_.text.contains(tblBkJoin))
    assert(hits.isEmpty, s"(tbl, bk) joins: ${hits.map(_.at).mkString(", ")}")
  }

  test("one batch Hamming-1 fan-out (srpProbes) beside the streaming twin") {
    val hits = MainSources.lines.filter(_.text.contains(fanOut))
    assert(hits.map(h => (h.file, h.member)).sorted == Seq(
        "Streams.scala" -> "srpProbeRows",
        "VectorQueries.scala" -> "srpProbes"),
      s"fan-outs: ${hits.map(_.at).mkString(", ")}")
  }

  test("one batch bkey candidate join (SrpIndex.candidates)") {
    val hits = MainSources.lines.filter(h => h.file != "Streams.scala"
      && bkeyJoin.findFirstIn(h.text).isDefined)
    assert(hits.map(h => (h.file, h.member)) == Seq(
        "SrpIndex.scala" -> "candidates"),
      s"bkey joins: ${hits.map(_.at).mkString(", ")}")
  }
}
