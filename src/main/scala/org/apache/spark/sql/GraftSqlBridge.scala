package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** The one `private[sql]` bridge graft needs: construct a DataFrame from a
  * custom LogicalPlan (graft.plans.TopKPerKeyNode). `Dataset.ofRows` is
  * package-private, so this object lives in org.apache.spark.sql — the
  * standard technique Spark extension libraries use for exactly this hook.
  * Nothing else in graft reaches into Spark internals.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Column ⇄ Expression for building graft's native expressions without
    * a function-registry session handle (classic.ExpressionUtils is
    * `private[sql]`).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** An expected input type accepting any of `ts` as is, with no implicit
    * cast (`AbstractDataType` and `TypeCollection` are `private[sql]`).
    */
  def anyOf(ts: Seq[types.DataType]): types.AbstractDataType =
    if (ts.size == 1) ts.head else types.TypeCollection(ts: _*)
}
