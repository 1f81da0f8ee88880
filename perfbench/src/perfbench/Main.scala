package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one closed loop of batches
  * on `local[cores]`. Prints one `PERFBENCH_RESULT {json}` line with the
  * raw end-to-end and per-layer numbers; `perfbench/run.py` launches it
  * and turns that line into the benchmark's result.
  *
  *   --workload tile_upload_wan|tile_upload_lan|analytics_mix
  *   --seed N --seconds S --trace 0|1 --cores N --launch-ms EPOCH_MS
  *   --work DIR --data DIR --digests FILE [--record 1] [--corrupt 1]
  *
  * Every workload: set up three times (SparkSession, fixture, warm-up)
  * and report the median; run timed batches until `--seconds` would be
  * exceeded (at least one); check every batch's output. `--trace 1` adds
  * one traced batch and reports per-layer numbers from it.
  */
object Main {

  /** Everything one run reports. */
  final class Out {
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, String]
    val checks = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    def fail(msg: String): Unit = { checks += msg; log(s"CHECK FAILED: $msg") }
  }

  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      cores: Int,
      launchMs: Long,
      work: File,
      data: File,
      digests: File,
      record: Boolean,
      corrupt: Boolean)

  /** Timing and counters around one section of work. */
  final case class Window(wallS: Double, cpuS: Double, gcS: Double, jitS: Double, spark: Counters.Snap)

  /** Spark counters of the current session. */
  @volatile var counters: Counters = _

  private val osBean = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def session(o: Opts): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions())
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A workload as the run loop sees it. */
  trait Workload {
    /** Fixture preparation; reuses what an earlier call built. */
    def prepare(spark: SparkSession): Unit
    /** A small untimed batch that compiles the code paths a batch uses. */
    def warmup(spark: SparkSession): Unit
    /** Untimed work between set-up and the first timed batch. */
    def beforeTimed(spark: SparkSession): Unit = ()
    /** One timed batch; returns the objects completed and the seconds
      * they took.
      */
    def batch(spark: SparkSession, traced: Boolean): (Long, Double)
    /** Checks the last batch's output (untimed). */
    def check(): Unit = ()
    /** Per-layer numbers of the traced batch. */
    def layers(spark: SparkSession, traced: Window): Unit
    def close(): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(
      a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1", a("cores").toInt,
      a("launch-ms").toLong, new File(a("work")), new File(a("data")), new File(a("digests")),
      a.get("record").contains("1"), a.get("corrupt").contains("1"))
    val jvmStartS = (System.currentTimeMillis() - o.launchMs) / 1e3
    val out = new Out
    var spark: SparkSession = null
    val w: Workload = o.workload match {
      case "tile_upload_wan" => new TileUpload(o, out, wan = true)
      case "tile_upload_lan" => new TileUpload(o, out, wan = false)
      case "analytics_mix" => new AnalyticsMix(o, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def drain(): Unit = org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    def window(f: => Unit): Window = {
      drain()
      val (s0, c0, g0, j0, t0) = (counters.snap(), osBean.getProcessCpuTime, gcSeconds, jitSeconds, System.nanoTime())
      f
      val wall = (System.nanoTime() - t0) / 1e9
      drain()
      Window(wall, (osBean.getProcessCpuTime - c0) / 1e9, gcSeconds - g0, jitSeconds - j0, counters.snap() - s0)
    }

    try {
      Trace.run = "setup"
      val reps = (1 to 3).map { _ =>
        if (spark != null) spark.stop()
        val t0 = System.nanoTime()
        spark = Trace.span("setup.session")(_ => session(o))
        counters = new Counters
        spark.sparkContext.addSparkListener(counters)
        val t1 = System.nanoTime()
        Trace.span("setup.fixture")(_ => w.prepare(spark))
        val t2 = System.nanoTime()
        Trace.span("setup.warmup")(_ => w.warmup(spark))
        val t3 = System.nanoTime()
        log(f"set-up: session ${(t1 - t0) / 1e9}%.2f s, fixture ${(t2 - t1) / 1e9}%.2f s, warm-up ${(t3 - t2) / 1e9}%.2f s")
        ((t3 - t0) / 1e9, (t1 - t0) / 1e9, (t3 - t2) / 1e9)
      }
      out.e2e("setup_s") = jvmStartS + median(reps.map(_._1))
      out.layer("setup.jvm_start_s") = jvmStartS
      out.layer("setup.session_s") = median(reps.map(_._2))
      out.layer("setup.warmup_s") = median(reps.map(_._3))
      val tw = System.nanoTime()
      w.beforeTimed(spark)
      log(f"before timed batches: ${(System.nanoTime() - tw) / 1e9}%.2f s")

      // Timed loop, tracing off: batches until the next would overrun.
      Trace.run = "timed"
      val times = mutable.ArrayBuffer.empty[Double]
      val perBatch = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      do {
        drain()
        val tb = System.nanoTime()
        val (n, busy) = w.batch(spark, traced = false)
        val dt = (System.nanoTime() - tb) / 1e9
        w.check()
        log(f"batch ${times.size + 1}: $n objects in $busy%.3f s")
        times += dt; perBatch += n / busy
      } while ((System.nanoTime() - t0) / 1e9 + times.sum / times.size <= o.seconds)
      out.e2e("objects_per_s") = median(perBatch.toSeq)
      out.info("timed_batches") = times.size.toString
      out.info("batch_s") = times.map(t => f"$t%.3f").mkString(",")

      if (o.trace) {
        Trace.run = "traced"
        Trace.resetCounters()
        var n = 0L
        val traced = window { Trace.span("batch") { id => Trace.batchId = id; n = w.batch(spark, traced = true)._1 } }
        w.check()
        w.layers(spark, traced)
        val s = traced.spark
        out.layer ++= s.metrics("spark")
        out.layer("spark.core_util") = s.taskRunS / (o.cores * traced.wallS)
        out.layer("spark.spill_mb") = s.spillMb
        out.layer("jvm.gc_s") = traced.gcS
        out.layer("jvm.jit_s") = traced.jitS
        out.layer("jvm.cpu_ms_per_object") = traced.cpuS * 1e3 / math.max(1L, n)
        out.layer("trace.overhead_pct") = (traced.wallS / median(times.toSeq) - 1) * 100
        val self = Trace.selfSeconds()
        Seq("batch", "sinks.write", "sinks.put", "query.build", "query.exec").foreach { n =>
          out.layer(s"self.${n}_s") = self.getOrElse(n, 0.0)
        }
        Trace.dump(new File(o.work, s"traces/${o.workload}-seed${o.seed}.jsonl"))
      }
    } catch {
      case e: Throwable =>
        out.fail(s"run aborted: $e")
        e.printStackTrace()
    } finally {
      out.layer("jvm.peak_rss_mb") = peakRssMb()
      out.info("java") = System.getProperty("java.version")
      out.info("spark") = org.apache.spark.SPARK_VERSION
      out.info("jvm_max_heap_mb") = (Runtime.getRuntime.maxMemory / (1L << 20)).toString
      println("PERFBENCH_RESULT " + json(out))
      System.out.flush()
      try w.close() finally if (spark != null) spark.stop()
    }
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** `q`-quantile by nearest rank. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(math.min(xs.size - 1, math.ceil(q * xs.size).toInt - 1 max 0))

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)
    finally src.close()
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def json(o: Out): String = {
    def obj(m: Iterable[(String, String)]) = m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    obj(Seq(
      "correct" -> (o.checks.isEmpty).toString,
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "e2e" -> obj(o.e2e.map { case (k, v) => k -> num(v) }),
      "layer" -> obj(o.layer.map { case (k, v) => k -> num(v) }),
      "info" -> obj(o.info.map { case (k, v) => k -> str(v) })))
  }
}
