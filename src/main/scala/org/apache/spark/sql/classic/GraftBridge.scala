package org.apache.spark.sql.classic

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Minimal bridge to Spark's private[sql] Column ⇄ Expression converters
 * (Spark 4 moved Column onto ColumnNode; `ExpressionUtils` is the
 * supported internal seam). Kept to two forwarding methods so the
 * internal surface we touch stays tiny.
 */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `Dataset.ofRows` is private[sql]; needed to wrap a hand-built
    * logical plan (e.g. a DSv2 relation over a catalog table). */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** `StructType.asNullable` is private[spark]: the schema a file read
    * reports for data written under `s`. */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable
}
