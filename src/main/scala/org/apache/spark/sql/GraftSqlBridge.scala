package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression and plan→Dataset
  * conversion (Spark 4's Column wraps a ColumnNode, not an Expression). Lives in the
  * org.apache.spark.sql package purely for access — the standard pattern
  * for Catalyst-level extensions. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A frame over a parsed (unresolved) plan — a graft command's source
    * query or table. */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

}
