package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** In-package bridge: build a DataFrame from a custom LogicalPlan, or from
  * rows already in Catalyst's internal format. Dataset.ofRows and
  * SparkSession.internalCreateDataFrame are private[sql], so custom-plan
  * libraries expose them via a shim in this package (the standard pattern
  * across Spark extension projects). This is the only file outside the
  * graft namespace.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame of `rows`, whose values are `schema`'s internal types
    * (UTF8String, GenericInternalRow, ArrayData): no encoder pass.
    */
  def ofInternalRows(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
