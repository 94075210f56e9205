package graft

import graft.functions.Md5Hash
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.functions.{col, lit}

/** The portable 60-bit md5 hash has one home: query, operator and
  * streaming code takes every md5-keyed draw, split and sketch bucket
  * from [[Md5Hash]], and the builder agrees with a JVM md5. */
class Md5HashSpec extends SparkSpec {

  test("no hand-typed md5 hash or 2^60 scale outside Md5Hash") {
    // other widths and SQL text, on purpose: the 64-bit SimHash from two
    // 8-hex halves, the streaming SRP key HOF the merge-law specs pin,
    // and the 4-hex leak-proof split bucket
    val allowed = Set("TextOps.scala" -> "md5SimhashFps",
      "Streams.scala" -> "srpKeyRowExpr", "CurateOps.scala" -> "splitBucket")
    val needles = Seq("conv(substring(md5(", "lit(1152921504606846976",
      "lit(576460752303423488")
    val hits = MainSources.lines.filter { h =>
      h.file != "Md5Hash.scala" && needles.exists(h.text.contains) &&
        !allowed((h.file, h.member))
    }
    assert(hits.isEmpty, "md5 hash copies: " + hits.map(_.at).mkString(", "))
  }

  private def refH60(s: String): Long = {
    val hex = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  test("h60 equals a JVM md5 and the unit draws lie in their intervals") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // printable ASCII, Latin-1, CJK and a supplementary-plane emoji
    val alphabet = ('a' to 'z').map(_.toString) ++ Seq(" ", ":", "|", "é",
      "ß", "中", "文", "😀")
    val keys = Seq("", "a", "ts:1") ++ Seq.fill(300)(
      Seq.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.size)))
        .mkString)
    val two60 = math.pow(2, 60)
    val rows = keys.toDF("k").select($"k",
        Md5Hash.h60($"k").as("h"),
        Md5Hash.h60(lit("salt:"), $"k", lit(":x")).as("hc"),
        Md5Hash.unitOpen($"k").as("uo"),
        Md5Hash.unitLeftOpen($"k").as("ul"),
        Md5Hash.signedUnit($"k").as("us"))
      .collect()
    assert(rows.length == keys.size)
    rows.foreach { r =>
      val k = r.getString(0)
      val h = refH60(k)
      assert(r.getLong(1) == h, s"h60('$k')")
      assert(r.getLong(2) == refH60("salt:" + k + ":x"), s"h60 parts '$k'")
      val (uo, ul, us) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(uo == (h + 0.5) / two60 && uo > 0.0 && uo < 1.0, s"open '$k'")
      assert(ul == (h + 1L) / two60 && ul > 0.0 && ul <= 1.0,
        s"left-open '$k'")
      assert(us == h / math.pow(2, 59) - 1.0 && us >= -1.0 && us < 1.0,
        s"signed '$k'")
    }
    // a NULL part hashes to NULL, as md5 does
    assert(Seq[String](null).toDF("k")
      .select(Md5Hash.h60(lit("a"), col("k"))).head().isNullAt(0))
  }
}
