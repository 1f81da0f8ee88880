package graft.queries

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.SparkSuite
import graft.sinks.{ObjectSink, ObjectStore}
import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Slow store for the PUT-window specs: every put sleeps `sleepMs`, and the
  * companion counts calls started and running and records the partition
  * each key's PUT saw (static, because the sink deserializes a fresh store
  * per task). Keys under dead/ always fail; keys under flaky/ fail their
  * first attempt.
  */
class SlowProbeStore(sleepMs: Long) extends ObjectStore {
  import SlowProbeStore._
  override def put(key: String, bytes: Array[Byte], contentType: String, acl: String): Unit = {
    started.incrementAndGet()
    partitionOf.put(key, org.apache.spark.TaskContext.getPartitionId())
    maxInflight.accumulateAndGet(inflight.incrementAndGet(), math.max(_, _))
    try {
      Thread.sleep(sleepMs)
      if (key.startsWith("dead/")) throw new java.io.IOException(s"permanent failure: $key")
      if (key.startsWith("flaky/") && seen.add(key)) throw new java.io.IOException(s"transient failure: $key")
    } finally inflight.decrementAndGet()
  }
}

object SlowProbeStore {
  val started = new AtomicInteger
  val inflight = new AtomicInteger
  val maxInflight = new AtomicInteger
  val seen: ConcurrentHashMap.KeySetView[String, java.lang.Boolean] = ConcurrentHashMap.newKeySet[String]()
  val partitionOf = new ConcurrentHashMap[String, Int]

  def reset(): Unit = {
    started.set(0); inflight.set(0); maxInflight.set(0); seen.clear(); partitionOf.clear()
  }
}

/** The sink's per-task PUT window: `ObjectSink.Window` PUTs in flight,
  * exact counts under faults, and no PUT outliving a failed or killed task.
  */
class ObjectSinkWindowSpec extends SparkSuite {
  private val W = ObjectSink.Window
  private val payload = "tile".getBytes("UTF-8")

  /** One partition of `n` rows, `good/<i>` keys unless `key` says otherwise. */
  private def oneTask(n: Int, key: org.apache.spark.sql.Column = concat(lit("good/"), col("id"))): DataFrame =
    spark.range(0, n, 1, 1).select(key.as("object_key"), lit(payload).as("content"), col("id"))

  private def await(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
    assert(cond, what)
  }

  test("one task keeps exactly Window PUTs in flight, with exact counts under faults") {
    SlowProbeStore.reset()
    val n = 4 * W
    val df = oneTask(
      n,
      when(col("id") % 16 === 3, concat(lit("dead/"), col("id")))
        .when(col("id") % 16 === 7, concat(lit("flaky/"), col("id")))
        .otherwise(concat(lit("good/"), col("id"))))
      .withColumn("label", concat(lit("L"), (col("id") % 3).cast("string")))
    val dead = (0 until n).count(_ % 16 == 3)
    val flaky = (0 until n).count(_ % 16 == 7)
    val retries = 2
    val sequentialMs = 20L * ((n - dead - flaky) + 2 * flaky + (1 + retries) * dead)
    def write(sleepMs: Long) = ObjectSink.write(
      df, new SlowProbeStore(sleepMs), "object_key", "content", "image/jpg",
      progress = Some(("label", Seq("L0", "L1", "L2"))), retries = retries)
    write(0L) // untimed: the first job of a cold JVM pays for planning and JIT
    SlowProbeStore.reset()
    val t0 = System.nanoTime()
    val (ok, failed, perLabel) = write(20L)
    val wallMs = (System.nanoTime() - t0) / 1e6
    assert(SlowProbeStore.maxInflight.get == W)
    assert(ok + failed == n)
    assert(failed == dead && ok == n - dead)
    assert(perLabel.values.sum == ok)
    assert(SlowProbeStore.started.get == sequentialMs / 20L, "every attempt made exactly once")
    assert(wallMs < sequentialMs / 2.0, s"$wallMs ms against $sequentialMs ms sequential")
  }

  test("every PUT runs with its own task's TaskContext") {
    SlowProbeStore.reset()
    val df = spark.range(0, 8 * W, 1, 4)
      .select(concat(lit("good/"), col("id")).as("object_key"), lit(payload).as("content"),
        spark_partition_id().as("pid"))
    val (ok, _, _) = ObjectSink.write(df, new SlowProbeStore(1L), "object_key", "content", "image/jpg")
    assert(ok == 8 * W)
    df.collect().foreach { r =>
      assert(SlowProbeStore.partitionOf.get(r.getString(0)) == r.getInt(2), r.getString(0))
    }
  }

  test("a failing row stops new PUTs and the task drains its window before failing") {
    SlowProbeStore.reset()
    val k = 2 * W + 5
    val boom = udf { (i: Long) =>
      if (i == k) throw new IllegalStateException(s"bad row $i")
      s"good/$i"
    }
    val df = oneTask(4 * W, boom(col("id")))
    val e = intercept[SparkException] {
      ObjectSink.write(df, new SlowProbeStore(50L), "object_key", "content", "image/jpg")
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("bad row")))
    assert(SlowProbeStore.inflight.get == 0, "a PUT outlived its task")
    assert(SlowProbeStore.started.get == k, "PUTs submitted past the failing row")
  }

  test("a killed task stops submitting PUTs and drains its window") {
    SlowProbeStore.reset()
    val n = 64 * W
    val sc = spark.sparkContext
    implicit val ec: ExecutionContext = ExecutionContext.global
    val run = Future {
      sc.setJobGroup("sink-kill-spec", "killed sink", interruptOnCancel = false)
      try ObjectSink.write(oneTask(n), new SlowProbeStore(50L), "object_key", "content", "image/jpg")
      finally sc.clearJobGroup()
    }
    await("the window never filled")(SlowProbeStore.started.get >= 2 * W)
    sc.cancelJobGroup("sink-kill-spec")
    intercept[SparkException](Await.result(run, 60.seconds))
    await("a PUT outlived its killed task")(SlowProbeStore.inflight.get == 0)
    val started = SlowProbeStore.started.get
    Thread.sleep(200)
    assert(SlowProbeStore.started.get == started && started < n, s"$started of $n PUTs started")
  }
}
