package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (Connect refactor), so custom Catalyst expressions need
  * one hop inside the org.apache.spark.sql namespace — the standard
  * pattern used by Spark extension libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) LogicalPlan as a DataFrame — `Dataset.ofRows` is
    * `private[sql]` in Spark 4; custom logical operators need this hop to
    * enter a query from the public API side.
    */
  def dataset(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan)

  /** Run `f` with `tc` as the calling thread's TaskContext, unset after.
    * `TaskContext.setTaskContext` is `protected[spark]`; a task that hands
    * work to other threads (the object sink's PUT window) needs this hop
    * so that `TaskContext.get()` on those threads sees the owning task.
    */
  def withTaskContext[T](tc: org.apache.spark.TaskContext)(f: => T): T = {
    org.apache.spark.TaskContext.setTaskContext(tc)
    try f
    finally org.apache.spark.TaskContext.unset()
  }
}
