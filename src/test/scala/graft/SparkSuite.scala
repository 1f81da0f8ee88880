package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession). */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark
  val sf001 = "/root/testdata/sf0.001"

  /** Runs `f` with a listener registered that records every successful
    * Dataset action (`count`, `collect`, `localCheckpoint`, …) by name
    * with its QueryExecution; returns `f`'s result and the actions. The
    * listener bus is drained BEFORE registering, so events still queued
    * from earlier tests' actions are not recorded, and AFTER `f`, so
    * every event `f` posted has been.
    */
  def recordingActions[T](f: => T): (T, Seq[(String, QueryExecution)]) = {
    import scala.jdk.CollectionConverters._
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        actions.add(funcName -> qe); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    Bridge.drainListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    val out =
      try {
        val r = f
        Bridge.drainListeners(spark.sparkContext)
        r
      } finally spark.listenerManager.unregister(listener)
    (out, actions.asScala.toSeq)
  }
}
