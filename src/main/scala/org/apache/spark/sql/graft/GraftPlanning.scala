package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The one `private[sql]` doorway this library needs: planning a custom
  * `LogicalPlan` (graft.plans.AsOfJoinNode) as a DataFrame. Spark offers
  * no public API for this — every extension library that contributes
  * whole logical operators ships the same few-line shim in the
  * `org.apache.spark.sql` namespace. Apart from the listener-bus accessor
  * `org.apache.spark.graft.Listeners`, nothing else in the repo lives
  * outside the `graft` package.
  */
object GraftPlanning {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
