package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The run harness the dev mains (Bench, Verify, Explain, ScaleProbe,
  * StreamState) share: one local session, one core-count rule, one
  * infrastructure warm-up, one noop-sink timer and one task/job tally
  * listener. The extension tier is ON — the
  * `spark.sql.extensions=graft.GraftExtensions` configuration a user
  * deploys — so injected kernels resolve in SQL and the optimizer
  * rewrites (HofToKernelRule, WindowTopKRule) apply: benched, verified
  * and explained plans are the production plans.
  */
object Sessions {

  /** Cores the session runs on: the environment's setting when there is
    * one, else every core the JVM sees.
    */
  val cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)

  /** `local[cpus]` with one shuffle partition per core, UTC, AQE on,
    * nanosecond parquet timestamps read as longs, no UI, WARN logging.
    */
  def local(): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Infrastructure warm-up (codegen compiler, shuffle machinery, noop
    * sink), so the first measured query does not absorb one-time JVM and
    * Spark startup compilation. It rehearses no measured query.
    */
  def warmUp(spark: SparkSession): Unit =
    timeNoop(spark.range(0, 1000000, 1, 8).selectExpr("sum(id * 2) as s")): Unit

  /** Wall seconds of `body`. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Wall seconds to build `df` and write it to the noop sink. Building
    * is inside the clock: queries with eager checkpoints or
    * driver-coordinated rounds do their dominant work while the
    * DataFrame is built. The noop sink (not `.count()`) keeps column
    * pruning from skipping the projected work.
    */
  def timeNoop(df: => DataFrame): Double =
    seconds(df.write.format("noop").mode("overwrite").save())

  /** Locale-independent decimal for machine-parsed lines: Scala's `f`
    * interpolator uses the default locale, so a comma-decimal JVM would
    * print `1,234`, which neither Bench's child-rescue regex nor a JSON
    * reader parses.
    */
  def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Running totals of finished tasks (count, run ms, CPU ms), completed
    * stages, and per-job wall ms keyed by job id. Read after
    * `Bridge.drainListeners`, which delivers every pending event.
    */
  final class Tally extends SparkListener {
    val tasks, taskRunMs, taskCpuMs, stages = new AtomicLong
    val lastJobStarted = new AtomicInteger(-1)
    val jobMs = new ConcurrentHashMap[Int, Long]()
    private val jobStarts = new ConcurrentHashMap[Int, Long]()

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        taskRunMs.addAndGet(m.executorRunTime)
        taskCpuMs.addAndGet(m.executorCpuTime / 1000000L)
        tasks.incrementAndGet(): Unit
      }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet(): Unit
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      jobStarts.put(js.jobId, System.nanoTime())
      lastJobStarted.accumulateAndGet(js.jobId, (a, b) => math.max(a, b)): Unit
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val ms = Option(jobStarts.get(je.jobId)).map(s => (System.nanoTime() - s) / 1000000L)
      jobMs.put(je.jobId, ms.getOrElse(-1L)): Unit
    }
  }

  /** A [[Tally]] registered on `spark`'s listener bus. */
  def tally(spark: SparkSession): Tally = {
    val t = new Tally
    spark.sparkContext.addSparkListener(t)
    t
  }
}
