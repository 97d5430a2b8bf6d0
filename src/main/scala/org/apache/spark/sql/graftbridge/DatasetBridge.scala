package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** `Dataset.ofRows` — wrap an analyzed logical plan back into a
  * DataFrame — is `private[sql]`. The snapshot layer's reads wrap a
  * hand-built relation this way, and the MERGE source prune
  * ([[graft.plans.GraftMergeSourcePrune]]) probes the source's keys
  * through it. No Spark internals are modified.
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
