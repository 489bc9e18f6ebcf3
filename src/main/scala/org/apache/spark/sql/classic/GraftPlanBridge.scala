package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal `private[sql]` bridge: turn a custom [[LogicalPlan]] into a
  * DataFrame. `Dataset.ofRows` is the blessed internal constructor every
  * plan-extending Spark library reaches through; this object is the only
  * code in the repo living outside the `graft` namespace, and it contains
  * no logic.
  */
object GraftPlanBridge {
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** A DataFrame over an RDD of rows already in Catalyst's internal form
    * (the `private[sql]` `internalCreateDataFrame`), flagged as streaming
    * when a stream source hands it out as a micro-batch. No logic.
    */
  def internalCreateDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      isStreaming: Boolean = false): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[SparkSession].internalCreateDataFrame(rows, schema, isStreaming)
}
