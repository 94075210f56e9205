package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Main code, line by line, for the one-home source scans. */
object MainSources {

  /** A main line: its file name, line number, enclosing member (the last
    * 2-space-indented `def` or `val` above it) and text. */
  case class Line(file: String, no: Int, member: String, text: String) {
    def at: String = s"$file:$no ($member)"
    def isComment: Boolean =
      Seq("*", "//", "/*").exists(text.trim.startsWith)
  }

  private val memberDef =
    """^  (?:private(?:\[\w+\])? )?(?:lazy )?(?:def|val)\s+(\w+)""".r

  lazy val lines: Seq[Line] = {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"$root not found")
    Files.walk(root).iterator.asScala
      .filter((p: Path) => p.toString.endsWith(".scala"))
      .flatMap { p =>
        var enclosing = ""
        Files.readAllLines(p).asScala.zipWithIndex.map { case (l, i) =>
          memberDef.findFirstMatchIn(l).foreach(m => enclosing = m.group(1))
          Line(p.getFileName.toString, i + 1, enclosing, l)
        }
      }.toSeq
  }
}
