package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Package-placed accessors for the `private[sql]` entry points a
  * custom Catalyst node needs: turning a hand-built LogicalPlan into a
  * DataFrame through the full analyzer/optimizer/planner pipeline
  * (`ofRows`), and moving between a `Column` and the Catalyst
  * `Expression` under it (`column`, `expression`), so the custom
  * expressions in `graft.functions` become Columns directly, with no
  * SQL function name. The standard extension-library pattern (every
  * Spark connector/extension that adds an operator or expression does
  * exactly this); nothing else from the private surface is touched.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
