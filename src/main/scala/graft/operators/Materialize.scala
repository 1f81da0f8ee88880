package graft.operators

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.graftbridge.Bridge

/** The one place graft pins a frame: cuts its lineage and keeps its
  * rows, so every later reader scans the same materialized partitions
  * instead of re-running (and possibly re-sampling) the plan. Every loop
  * round, every frame read more than once and every range-sliced layout
  * goes through here.
  *
  * The pin policy follows Spark's own deployment setting, as Spark ML's
  * iterative estimators do: a checkpoint dir on the SparkContext
  * (`spark.checkpoint.dir`, or `SparkContext.setCheckpointDir`) makes
  * every pin a reliable `checkpoint()`; with no dir every pin is a
  * `localCheckpoint`.
  *
  * The trade-off: local blocks live in the executors' block stores. They
  * cost no filesystem round trip, but they die with their executor, and
  * one lost executor mid-loop fails the job with no way to recompute the
  * cut lineage. Reliable checkpoints write every pinned partition to the
  * dir and survive executor loss. On a multi-hour run at scale, set a
  * durable dir (HDFS or an object store); the queries do not change.
  * Spark deletes the files of superseded reliable checkpoints only when
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is on; otherwise
  * the dir keeps every pin written and is the deployment's to clear.
  *
  * Both modes keep the frame's partition count and partition order, so
  * a pinned range layout plans the same either way. The pinned node
  * reports the output partitioning of the plan that fed the pin. Under
  * adaptive execution that plan is an `AdaptiveSparkPlanExec`, which
  * reports `UnknownPartitioning`: a `repartition` before the pin does
  * not spare a later join its exchange unless AQE is off.
  *
  * The seam owns the pinned node's size estimate. Spark copies it from
  * the source plan, and its size-only join estimate is the product of
  * the two sides, so a loop that joins its own pinned state (f ⋈ f)
  * squares the estimate every round: thousands of bits after a dozen
  * rounds, and seconds of driver time in BigInteger arithmetic per
  * plan. Both entry points cap it at `spark.sql.defaultSizeInBytes`, the
  * estimate Spark gives a relation it knows nothing about (2⁶³ − 1 by
  * default). An estimate below the cap passes through unchanged; every
  * size threshold Spark plans by (broadcast, runtime filters) sits far
  * below it, so the cap changes no join choice.
  */
object Materialize {

  /** Pins `ds` now: one job writes it before this returns. */
  def eager[T](ds: Dataset[T]): Dataset[T] =
    Bridge.capSizeEstimate(if (reliable(ds)) ds.checkpoint() else ds.localCheckpoint())

  /** Marks `ds` for pinning; the caller's next FULL-SCAN action (a
    * count or a broadcast build, not a `take`, which would pin only the
    * partitions it reads) materializes it in that action's own job,
    * saving the separate pin job.
    *
    * Under a checkpoint dir this pins eagerly instead. A lazy
    * `RDD.checkpoint` is not written by the job that first computes it:
    * Spark writes the checkpoint files in a SEPARATE job that recomputes
    * the unpersisted plan from scratch, so "lazy mark + count" would run
    * every round twice. An eager reliable pin is two jobs (the write,
    * then the caller's action over the written files), one plan run.
    */
  def lazily[T](ds: Dataset[T]): Dataset[T] =
    Bridge.capSizeEstimate(if (reliable(ds)) ds.checkpoint() else ds.localCheckpoint(eager = false))

  private def reliable(ds: Dataset[_]): Boolean =
    ds.sparkSession.sparkContext.getCheckpointDir.isDefined
}
