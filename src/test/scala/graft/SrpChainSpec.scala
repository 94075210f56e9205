package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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

  /** (file name, line number, enclosing def, line) of every main line. */
  private def mainLines: Seq[(String, Int, String, String)] = {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"$root not found")
    val defName = """\bdef\s+(\w+)""".r
    Files.walk(root).iterator.asScala
      .filter((p: Path) => p.toString.endsWith(".scala"))
      .flatMap { p =>
        var enclosing = ""
        Files.readAllLines(p).asScala.zipWithIndex.map { case (l, i) =>
          defName.findFirstMatchIn(l).foreach(m => enclosing = m.group(1))
          (p.getFileName.toString, i + 1, enclosing, l)
        }
      }.toSeq
  }

  private def at(hits: Seq[(String, Int, String, String)]) =
    hits.map { case (f, i, d, _) => s"$f:$i ($d)" }

  test("no (tbl, bk) candidate join in main code") {
    val hits = mainLines.filter(_._4.contains(tblBkJoin))
    assert(hits.isEmpty, s"(tbl, bk) joins: ${at(hits).mkString(", ")}")
  }

  test("one batch Hamming-1 fan-out (srpProbes) beside the streaming twin") {
    val hits = mainLines.filter(_._4.contains(fanOut))
    assert(hits.map(h => (h._1, h._3)).sorted == Seq(
        "Streams.scala" -> "srpProbeRows",
        "VectorQueries.scala" -> "srpProbes"),
      s"fan-outs: ${at(hits).mkString(", ")}")
  }

  test("one batch bkey candidate join (SrpIndex.candidates)") {
    val hits = mainLines.filter(h => h._1 != "Streams.scala"
      && bkeyJoin.findFirstIn(h._4).isDefined)
    assert(hits.map(h => (h._1, h._3)) == Seq(
        "SrpIndex.scala" -> "candidates"),
      s"bkey joins: ${at(hits).mkString(", ")}")
  }
}
