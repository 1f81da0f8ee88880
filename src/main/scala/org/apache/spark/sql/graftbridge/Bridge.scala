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

  /** `pinned`, whose plan is the one `LogicalRDD` that `checkpoint` and
    * `localCheckpoint` return, with that node's size estimate capped at
    * `spark.sql.defaultSizeInBytes`. The node keeps its output, RDD,
    * partitioning, ordering, constraints and every other statistic; an
    * estimate at or below the cap returns `pinned` itself. No job runs.
    * `LogicalRDD` takes its statistics as a constructor argument and
    * `Dataset.logicalPlan` is `private[sql]`, hence this hop.
    */
  def capSizeEstimate[T](pinned: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] = {
    val ds = pinned.asInstanceOf[org.apache.spark.sql.classic.Dataset[T]]
    ds.logicalPlan match {
      case node: org.apache.spark.sql.execution.LogicalRDD =>
        val session = ds.sparkSession
        val cap = BigInt(session.sessionState.conf.defaultSizeInBytes)
        val stats = node.computeStats()
        if (stats.sizeInBytes <= cap) pinned
        else
          org.apache.spark.sql.classic.Dataset(
            session,
            node.copy()(session, Some(stats.copy(sizeInBytes = cap)), Some(node.constraints)))(
            ds.encoder)
      case _ => pinned
    }
  }

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

  /** Block until every event posted so far has reached every listener.
    * `SparkContext.listenerBus` is `private[spark]`; timing tools need
    * this hop to read a listener's counts for work that has just ended.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The parallelism Spark's file sources size their splits by:
    * `spark.sql.leafNodeDefaultParallelism`, else the SparkContext's
    * default parallelism. `SparkSession.leafNodeDefaultParallelism` is
    * `private[sql]`; a connector that plans its input partitions the same
    * way needs this hop.
    */
  def leafNodeDefaultParallelism(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].leafNodeDefaultParallelism
}
