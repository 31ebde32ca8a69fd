package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RepartitionByExpression, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils.getSizePerRow
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

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
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** DataFrame over a (resolved) custom logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** DataFrame over rows a plan already produced (its `queryExecution.toRdd`). */
  def ofInternalRows(spark: SparkSession, rows: RDD[InternalRow],
                     schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** `df` over `rows`, the materialized copy of its own plan's output: a
    * `LogicalRDD` whose statistics hold the exact `rowCount`. When `df` is
    * a `repartition(n, keys)` and `rows` has its n partitions, it declares
    * `HashPartitioning(keys, n)` — a hash exchange puts each row in
    * partition `pmod(hash(keys), n)` — so an aggregation or join on `keys`
    * over it plans no exchange.
    */
  def materialized(df: DataFrame, rows: RDD[InternalRow], rowCount: Long): DataFrame = {
    val plan = analyzed(df)
    val partitioning = plan match {
      case r: RepartitionByExpression if r.optNumPartitions.contains(rows.getNumPartitions) &&
          r.partitioning.isInstanceOf[HashPartitioning] => r.partitioning
      case _ => UnknownPartitioning(0)
    }
    val stats = Statistics(getSizePerRow(plan.output) * rowCount, Some(rowCount))
    ofRows(df.sparkSession, LogicalRDD(plan.output, rows, partitioning)(
      df.sparkSession.asInstanceOf[classic.SparkSession], Some(stats), None))
  }
}
