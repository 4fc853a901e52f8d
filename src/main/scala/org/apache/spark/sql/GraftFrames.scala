package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** `classic.Dataset.ofRows` is package-private: the engine wraps its own
  * logical leaf ([[graft.HitsRelation]]) as a DataFrame through here. */
object GraftFrames {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classic.ClassicConversions.castToImpl(spark), plan)
}
