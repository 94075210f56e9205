package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.DecimalType

/** The house decimal types (SURVEY §2/§7.4): Hive's `DECIMAL(p,s)` is
  * Spark's `DecimalType(p,s)`, and every query term that must hash the same
  * in Spark and in the DuckDB oracle rounds once, casts to one of these and
  * sums as an exact decimal. Each type is named by its precision and scale,
  * so one name always means one type. Query, operator and streaming code
  * take their decimal types from here; the native expressions in
  * `functions/` declare their own result types.
  */
object Decimals {
  val dec2_0: DecimalType = DecimalType(2, 0)
  val dec12_2: DecimalType = DecimalType(12, 2)
  val dec12_9: DecimalType = DecimalType(12, 9)
  val dec16_12: DecimalType = DecimalType(16, 12)
  val dec16_14: DecimalType = DecimalType(16, 14)
  /** Money: prices, discounts and event values carry two decimals. */
  val dec18_2: DecimalType = DecimalType(18, 2)
  val dec18_4: DecimalType = DecimalType(18, 4)
  val dec18_6: DecimalType = DecimalType(18, 6)
  val dec18_9: DecimalType = DecimalType(18, 9)
  val dec18_12: DecimalType = DecimalType(18, 12)
  val dec20_9: DecimalType = DecimalType(20, 9)
  val dec28_4: DecimalType = DecimalType(28, 4)
  val dec28_9: DecimalType = DecimalType(28, 9)
  val dec28_12: DecimalType = DecimalType(28, 12)
  val dec28_14: DecimalType = DecimalType(28, 14)
  val dec30_9: DecimalType = DecimalType(30, 9)
  /** Exact integer products and squares past BIGINT. */
  val dec38_0: DecimalType = DecimalType(38, 0)
  /** Squared money moments. 38 digits, not 18 (ADVICE r11): a per-user
    * total >= 1e7 would overflow an (18,4) square, and Spark (non-ANSI)
    * silently NULLs decimal overflow while DuckDB errors, so the engines
    * would diverge rather than fail loudly. */
  val dec38_4: DecimalType = DecimalType(38, 4)
  val dec38_9: DecimalType = DecimalType(38, 9)
  val dec38_12: DecimalType = DecimalType(38, 12)

  /** The money cast: `CAST(c AS DECIMAL(18,2))`. */
  def money(c: Column): Column = c.cast(dec18_2)
}
