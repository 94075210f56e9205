package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result: column names plus the
  * multiset of canonical rows. Floating-point values are compared at six
  * significant digits (and magnitudes below 1e-9 read as zero), so sums
  * whose last bits depend on partitioning or task order digest the same;
  * everything else is exact. */
object Digest {
  final case class Result(rows: Long, digest: String)

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  private def sha(s: String): Array[Byte] = MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))

  def float(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "+Inf" else "-Inf")
    else if (math.abs(d) < 1e-9) "0"
    else String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))

  /** Canonical text of one value; every part is length-prefixed so no two
    * different values share a canonical form. */
  def canon(v: Any): String = {
    val s = v match {
      case null => "null"
      case d: Double => "d" + float(d)
      case f: Float => "d" + float(f.toDouble)
      case b: java.math.BigDecimal => "n" + b.stripTrailingZeros.toPlainString
      case b: scala.math.BigDecimal => "n" + b.bigDecimal.stripTrailingZeros.toPlainString
      case n @ (_: Byte | _: Short | _: Int | _: Long) => "n" + n.toString
      case a: Array[Byte] => "x" + hex(MessageDigest.getInstance("SHA-256").digest(a))
      case r: Row => "r" + r.toSeq.map(canon).mkString
      case m: scala.collection.Map[_, _] => "m" + m.toSeq.map { case (k, x) => canon(k) + canon(x) }.sorted.mkString
      case s: scala.collection.Seq[_] => "a" + s.map(canon).mkString
      case other => "s" + other.toString
    }
    s"${s.length}:$s"
  }

  def of(schema: StructType, rows: Array[Row]): Result = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.fieldNames.map(canon).mkString.getBytes(UTF_8))
    rows.iterator.map(r => hex(sha(canon(r)))).toArray.sorted.foreach(h => md.update(h.getBytes(UTF_8)))
    Result(rows.length.toLong, hex(md.digest()).take(32))
  }
}
