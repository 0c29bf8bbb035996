package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 removed the public Column(Expression) constructor; the
  * supported bridge (`classic.ExpressionUtils`) is private[sql]. This
  * shim lives under org.apache.spark.sql solely to re-export the two
  * conversions needed to expose custom Catalyst expressions as Columns.
  */
object ColumnBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a raw logical plan (custom operators). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** NormalizeFloatingNumbers.normalize re-export (private[sql]):
    * canonicalizes -0.0/NaN in grouping keys the way standard operators
    * do.
    */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
      .normalize(e)

  /** A DataFrame over rows that are already catalyst rows of `schema`
    * (`internalCreateDataFrame` is private[sql]): no plan rule reaches
    * below it, so an RDD-level cut stays as built.
    */
  def fromInternalRows(spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = false)

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan

  /** Block until all queued SparkListener events have been delivered
    * (`listenerBus` is private[spark]) — metric collectors read
    * accurate per-query totals only after a drain.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
