package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column↔Expression converters.
  * Spark 4 removed the public `Column(Expression)` constructor (Connect API
  * unification); custom native expressions (graft.expr.*) still need to be
  * wrapped into Columns to compose with the DataFrame API. This is the only
  * file outside the `graft` namespace.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (for composing custom plans). */
  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** DataFrame over a (resolved) custom logical plan. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** DataFrame over rows a plan already produced (its `queryExecution.toRdd`). */
  def ofInternalRows(spark: SparkSession, rows: org.apache.spark.rdd.RDD[
      org.apache.spark.sql.catalyst.InternalRow], schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
