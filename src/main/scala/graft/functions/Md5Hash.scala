package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The portable 60-bit md5 hash: the first 15 hex digits of `md5(key)`
  * read as a non-negative long. It is how this engine samples, splits and
  * buckets rows by key, the way Hive's `TABLESAMPLE (BUCKET x OUT OF y ON
  * col)` does, and DuckDB computes the same value as
  * `('0x' || substr(md5(key), 1, 15))::BIGINT`, so every md5-keyed draw,
  * split, permutation and sketch bucket hash-matches the oracle (SURVEY
  * §7.4). The unit draws divide by 2^60, which is exact in a double.
  */
object Md5Hash {

  /** The 60-bit hash of the concatenated `parts` (one part is hashed as
    * it is, with no `concat`). */
  def h60(parts: Column*): Column = {
    val key = if (parts.size == 1) parts.head else concat(parts: _*)
    conv(substring(md5(key), 1, 15), 16, 10).cast("long")
  }

  /** (h60 + 0.5) / 2^60, in (0, 1). As a double the top 64 of the 2^60
    * hash values round up to 1.0. */
  def unitOpen(parts: Column*): Column =
    (h60(parts: _*) + 0.5) / lit(1152921504606846976.0)

  /** (h60 + 1) / 2^60, in (0, 1]: the A-ES reservoir and bootstrap
    * uniform. */
  def unitLeftOpen(parts: Column*): Column =
    (h60(parts: _*) + 1) / lit(1152921504606846976.0)

  /** h60 / 2^59 − 1, in [−1, 1): the SRP hyperplane component (its
    * per-row SQL twin is `Streams.srpKeyRowExpr`). */
  def signedUnit(parts: Column*): Column =
    h60(parts: _*) / lit(576460752303423488L) - 1.0
}
