package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column<->Expression converters — the
  * established pattern for Spark extension libraries that define native
  * Catalyst expressions (the public API deliberately hides Expression
  * since Spark Connect). Kept to the two minimal entry points. */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eagerly convert a Column into a plain catalyst Expression tree
    * (UnresolvedAttribute etc.) — unlike `expression`, the result contains
    * no lazy ColumnNode wrappers, so it serializes and the analyzer's
    * generic reference resolution applies inside custom plan nodes. */
  def toCatalyst(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame from a raw LogicalPlan (custom operator entry point). */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan under a DataFrame. */
  def plan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan
}
