package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between Catalyst `Expression`s and the Spark 4 `Column` API.
  *
  * Spark 4 moved `Column` to the API-agnostic sql-api module; the classic
  * Expression-backed constructor is `private[sql]`. This shim lives in
  * `org.apache.spark.sql` purely to re-expose that bridge (and the
  * listener-bus drain) to the graft library (same approach any Spark
  * extension library uses).
  */
object GraftShim {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)
  /** Wrap a logical plan back into a DataFrame (classic.Dataset.ofRows is
    * private[sql]) — used by plan-rewrite tests to execute a manually
    * transformed plan and compare results against the original.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** Block until every posted listener event has been delivered (the
    * listener bus is private[spark]) — graft.Profile reads its job table
    * only after the measured rep's job-end events have all arrived.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
