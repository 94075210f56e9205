package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The house decimal types have one home: query, operator and streaming
  * code names its `DecimalType`s through [[Decimals]], and every name there
  * means one type. */
class DecimalsSpec extends AnyFunSuite {

  private def mainLines: Seq[(Path, Int, String)] = {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"$root not found")
    Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => p.getFileName.toString == "Decimals.scala"
        || p.startsWith(root.resolve("functions")))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex
          .map { case (l, i) => (p, i + 1, l) }
      }.toSeq
  }

  test("no DecimalType literal outside Decimals and functions/") {
    val hits = mainLines.collect {
      case (p, i, l) if l.contains("DecimalType(") => s"$p:$i"
    }
    assert(hits.isEmpty, s"local decimal types: ${hits.mkString(", ")}")
  }

  test("no local alias of a house type and no local money cast") {
    val alias = """\b(val|def)\s+\w+\s*(:\s*\w+)?\s*=\s*(Decimals\.)?dec\d+_\d+\s*$""".r
    val moneyCopy = """\bdef\s+\w+\(\w+:\s*Column\)\s*:\s*Column\s*=\s*\w+\.cast\(""".r
    val hits = mainLines.collect {
      case (p, i, l) if alias.findFirstIn(l).isDefined
        || moneyCopy.findFirstIn(l).isDefined => s"$p:$i: ${l.trim}"
    }
    assert(hits.isEmpty, s"re-declared house types: ${hits.mkString("; ")}")
  }

  test("each name in Decimals binds its own type, named by precision and scale") {
    val named = Decimals.getClass.getDeclaredMethods.toSeq
      .filter(m => m.getParameterCount == 0
        && m.getReturnType == classOf[DecimalType])
      .map(m => m.getName -> m.invoke(Decimals).asInstanceOf[DecimalType])
    assert(named.size >= 20, s"only ${named.size} house types found")
    val shared = named.groupBy(_._2).filter(_._2.size > 1)
    assert(shared.isEmpty, s"one type, several names: $shared")
    named.foreach { case (n, t) =>
      assert(n == s"dec${t.precision}_${t.scale}", s"$n binds $t")
    }
  }
}
