package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Critical-value lookup tables (χ² by df, the studentized range by group
  * count) rendered into both engines: ONE column builder for the Spark
  * side and ONE SQL renderer for the oracle side, so a table cannot read
  * differently in the two. A key outside the table gives NULL, which the
  * hash gate surfaces instead of a silently wrong threshold. */
private[graft] object CritValues {

  /** `table(key)` as a Spark column, NULL out of table. */
  def column(table: Map[Int, Double], key: Column): Column =
    table.foldLeft(lit(null).cast("double")) { case (acc, (k, c)) =>
      when(key === k, c).otherwise(acc)
    }

  /** `table(keyExpr)` as a SQL `CASE`, keys ascending. */
  def sql(table: Map[Int, Double], keyExpr: String): String =
    table.toSeq.sorted
      .map { case (k, c) => s"WHEN $k THEN $c" }
      .mkString(s"CASE $keyExpr ", " ", " END")
}
