package graft

import scala.jdk.CollectionConverters._

/** The harness envelope is written once: every entry point, both cross-JVM
  * probes and the shared test session take their session from
  * [[Envelope]], so the settings it pins are the ones every run sees. */
class EnvelopeSpec extends SparkSpec {

  test("a session from Envelope carries every pinned setting") {
    for ((k, v) <- Envelope.settings(4))
      assert(spark.conf.get(k) == v, s"$k is ${spark.conf.get(k)}, not $v")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("Envelope holds the only session builder in main and test code") {
    // built from two halves so this file does not match itself
    val needle = "SparkSession" + ".builder("
    val hits = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val dir = java.nio.file.Paths.get(root)
      assert(java.nio.file.Files.isDirectory(dir), s"$root not found")
      java.nio.file.Files.walk(dir).iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.filter(_.contains(needle))
            .map(_ => p.toString)
        }.toSeq
    }
    assert(hits == Seq("src/main/scala/graft/Envelope.scala"),
      s"session builders outside Envelope: ${hits.mkString(", ")}")
  }
}
