package graft

import graft.functions.{SortedIntersectSize, TextFunctions}
import graft.operators.Dedup
import java.util.Locale
import org.apache.spark.sql.functions._

/** The set-similarity verify kernel has one home: every hashed token set
  * is [[SortedIntersectSize.hashedSet]], and the candidate rejoin, the
  * Jaccard column and the length-banded pair join live in [[Dedup]]. The
  * exact-decimal L2² text is written once, in `VectorQueries.decL2SqSql`. */
class SetSimSpec extends SparkSpec {

  /** Fails on a main code line that matches `needle` outside the allowed
    * (file, member)s. */
  private def assertNoCopies(needle: String => Boolean,
      allowed: (String, String)*): Unit = {
    val hits = MainSources.lines.filter(h => !h.isComment && needle(h.text)
      && !allowed.contains((h.file, h.member)))
    assert(hits.isEmpty, hits.map(_.at).mkString(", "))
  }

  // the needles are built from halves so this file does not match itself
  test("one hashed set, one verify step and one length band, in Dedup") {
    val hashed = "sort_array(array_distinct(" + "transform("
    assertNoCopies(_.contains(hashed),
      "SortedIntersectSize.scala" -> "hashedSet")
    // Fellegi-Sunter's blocked pairs keep their own intersect: a block can
    // pair two empty sets, so its Jaccard stays behind a guard
    val kernel = "SortedIntersectSize" + ".of("
    assertNoCopies(_.contains(kernel), "Dedup.scala" -> "withJaccard",
      "CurateOps.scala" -> "qFellegiSunter")
    val ratio = ("\"li\"\\)?" + """\s*/\s*\(""").r
    assertNoCopies(ratio.findFirstIn(_).isDefined, "Dedup.scala" -> "jaccard")
    val slack = ("\"s[12]\"\\)?" + """\s*\+\s*1e-9""").r
    assertNoCopies(slack.findFirstIn(_).isDefined,
      "Dedup.scala" -> "bandedPairs")
  }

  test("one exact-decimal L2² text, in decL2SqSql") {
    val l2 = ("zip_with" + """\([^()]*\(\w+, \w+\) ->""").r
    assertNoCopies(l2.findFirstIn(_).isDefined,
      "VectorQueries.scala" -> "decL2SqSql")
  }

  test("hashed sets are sorted and duplicate-free; verify j = string-set J") {
    import spark.implicits._
    val docs = Tables.df(spark, sf, "documents").filter($"doc_id" < 100)
    val sets = docs.select($"doc_id",
        SortedIntersectSize.hashedSet(TextFunctions.tokenSet($"text")).as("t"))
      .withColumn("sz", size($"t"))
      .filter($"sz" > 0)
    val words = docs.select($"doc_id", $"text").collect().map { r =>
      r.getLong(0) -> r.getString(1).toLowerCase(Locale.ROOT).split(" ")
        .filter(_.nonEmpty).toSet
    }.toMap
    val hashed = sets.collect()
    assert(hashed.length >= 90, s"${hashed.length} non-empty fixture docs")
    hashed.foreach { r =>
      val t = r.getSeq[Long](1)
      assert(t.zip(t.drop(1)).forall { case (a, b) => a < b },
        s"doc ${r.getLong(0)}: not strictly ascending")
      assert(t.size == words(r.getLong(0)).size,
        s"doc ${r.getLong(0)}: hashed set size differs from its word set")
    }
    val ids = sets.select($"doc_id")
    val pairs = ids.select($"doc_id".as("id1"))
      .crossJoin(ids.select($"doc_id".as("id2")))
      .filter($"id1" < $"id2")
    val got = Dedup.verify(pairs, sets).select($"id1", $"id2", $"j")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    val n = hashed.length
    assert(got.length == n * (n - 1) / 2)
    got.foreach { case ((a, b), j) =>
      val (sa, sb) = (words(a), words(b))
      val li = (sa & sb).size
      assert(j == li.toDouble / (sa.size + sb.size - li), s"pair ($a, $b)")
    }
  }
}
