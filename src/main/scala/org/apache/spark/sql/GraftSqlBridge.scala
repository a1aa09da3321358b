package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** The one bridge to the package-private Spark internals graft needs:
  * construct a DataFrame from a custom LogicalPlan
  * (graft.plans.TopKPerKeyNode), and the few `private[sql]` /
  * `private[spark]` helpers below. `Dataset.ofRows` is package-private, so
  * this object lives in org.apache.spark.sql — the standard technique
  * Spark extension libraries use for exactly this hook. Nothing else in
  * graft reaches into Spark internals.
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

  /** A DataFrame over rows already on the driver, in Catalyst's internal
    * form: no per-row conversion from `Row` (`LocalRelation` is
    * `private[sql]` to build from a schema).
    */
  def localFrame(spark: SparkSession, schema: types.StructType,
      rows: Seq[catalyst.InternalRow]): DataFrame =
    ofRows(spark, catalyst.plans.logical.LocalRelation(
      catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** Drops an RDD's blocks. `RDD.unpersist` does the same but WARNs for a
    * locally checkpointed RDD that its lineage is gone; an owner freeing
    * its own checkpoint expects that (`SparkContext.unpersistRDD` is
    * `private[spark]`).
    */
  def unpersistRDD(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
