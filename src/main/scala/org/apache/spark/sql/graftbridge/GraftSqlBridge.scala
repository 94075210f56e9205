package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal bridge into `private[sql]` constructors that third-party plan
  * extensions need: building a DataFrame from a custom LogicalPlan node,
  * and a `Column` over a custom Catalyst expression.
  * Standard practice for libraries that ship custom operators (the public
  * SparkSessionExtensions API lets you *plan* custom nodes but offers no
  * public way to *instantiate* a Dataset or Column over one).
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
