package org.apache.spark.sql.execution.graft

import org.apache.spark.sql.execution.{SparkPlan, SparkPlanInfo}

/** `SparkPlanInfo.fromSparkPlan` is `private[execution]`; the SQL UI's plan
  * graph of a span planned once ([[org.apache.spark.sql.graft.ExecutionSpan]])
  * is built through this accessor. */
object planInfo {
  def apply(plan: SparkPlan): SparkPlanInfo = SparkPlanInfo.fromSparkPlan(plan)
}
