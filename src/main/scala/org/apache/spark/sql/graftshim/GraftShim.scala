package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal bridge to the `private[sql]` Dataset factory.
  *
  * Spark exposes custom LOGICAL operators through public extension points
  * (`SparkSessionExtensions.injectPlannerStrategy`) but offers no public
  * API to wrap a hand-built `LogicalPlan` back into a `DataFrame` —
  * `Dataset.ofRows` is `private[sql]`. Placing this one forwarding object
  * inside the `org.apache.spark.sql` namespace is the established pattern
  * third-party Spark libraries use for exactly this gap. The one other
  * such bridge is `org.apache.spark.ListenerBusDrain` (the listener bus
  * is package-private too); nothing here adds behavior — it only
  * forwards.
  */
object GraftShim {

  /** `DataFrame` over an already-resolved logical plan (runs the normal
    * analyzer/optimizer/planner on collect).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
