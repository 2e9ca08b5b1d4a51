package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset}

/** Bridge into the `private[sql]` plan → DataFrame constructor: analyzes
  * an already-parsed (and rewritten) logical plan the way `spark.sql`
  * analyzes its own parse, without going through SQL text again. */
object PlanBridge {
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(ClassicConversions.castToImpl(spark), plan)
}
