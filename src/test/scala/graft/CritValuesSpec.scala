package graft

import graft.queries.{CritValues, DecisionOps, NonparamOps}
import org.apache.spark.sql.functions.col

/** The critical-value tables have one column builder and one SQL renderer;
  * the rendered oracle text is pinned byte for byte. */
class CritValuesSpec extends SparkSpec {

  private val tukeyK = "CASE k WHEN 2 THEN 2.772 WHEN 3 THEN 3.314 " +
    "WHEN 4 THEN 3.633 WHEN 5 THEN 3.858 WHEN 6 THEN 4.03 WHEN 7 THEN 4.17 " +
    "WHEN 8 THEN 4.286 END"
  private val chi2Whens = "WHEN 1 THEN 3.841 WHEN 2 THEN 5.991 " +
    "WHEN 3 THEN 7.815 WHEN 4 THEN 9.488 WHEN 5 THEN 11.07 " +
    "WHEN 6 THEN 12.592 WHEN 7 THEN 14.067 WHEN 8 THEN 15.507 " +
    "WHEN 9 THEN 16.919 WHEN 10 THEN 18.307 WHEN 11 THEN 19.675 " +
    "WHEN 12 THEN 21.026 WHEN 13 THEN 22.362 WHEN 14 THEN 23.685 " +
    "WHEN 15 THEN 24.996 WHEN 16 THEN 26.296 WHEN 17 THEN 27.587 " +
    "WHEN 18 THEN 28.869 WHEN 19 THEN 30.144 WHEN 20 THEN 31.41 END"

  test("the SQL renderer reproduces the oracle text byte for byte") {
    assert(CritValues.sql(DecisionOps.tukeyQCrit05, "k") == tukeyK)
    for (k <- Seq("k - 1", "lag", "(ka - 1) * (kb - 1)"))
      assert(CritValues.sql(NonparamOps.chi2Crit05, k) ==
        s"CASE $k $chi2Whens")
  }

  test("the oracle SQL of every table consumer carries the rendered CASE") {
    val oracle = SparkEntry.oracleSql
    assert(oracle("q_tukey_hsd").contains(tukeyK))
    for ((q, k) <- Seq("q_ljung_box" -> "lag",
        "q_anova2" -> "(ka - 1) * (kb - 1)",
        "q_friedman" -> "k - 1"))
      assert(oracle(q).contains(s"CASE $k $chi2Whens"), q)
  }

  test("the column builder reads each table, NULL out of table") {
    import spark.implicits._
    for (table <- Seq(DecisionOps.tukeyQCrit05, NonparamOps.chi2Crit05)) {
      val got = (0 to 25).toDF("k")
        .select($"k", CritValues.column(table, col("k")).as("c"))
        .collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
      for (k <- 0 to 25) assert(got(k) == table.get(k), s"k = $k")
    }
  }
}
