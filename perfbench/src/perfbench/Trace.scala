package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.sinks.ObjectStore
import org.apache.spark.scheduler._

/** In-memory span collector for the traced run. Spans are recorded by the
  * benchmark around its calls into each layer; executors share the JVM in
  * local mode, so the store decorator below reports into the same
  * collector. Nothing is written until [[dump]] at the end of the run.
  */
object Trace {
  final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, run: String, ok: Boolean) {
    def dur: Long = end - start
  }

  val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  @volatile var run: String = ""
  /** The traced batch span: parent of the spans a workload records in it. */
  @volatile var batchId: Long = 0L
  /** Parent span of the store calls made by the sink currently writing. */
  @volatile var putParent: Long = 0L

  def span[T](name: String, parent: Long = 0L)(f: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    var ok = false
    try { val r = f(id); ok = true; r }
    finally spans.add(Span(id, name, t0, System.nanoTime(), parent, run, ok))
  }

  def record(name: String, start: Long, end: Long, parent: Long, ok: Boolean): Unit =
    spans.add(Span(ids.incrementAndGet(), name, start, end, parent, run, ok))

  def named(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  /** Self time per span name: each span's duration minus the part of its
    * interval that its children cover (children may overlap each other,
    * e.g. parallel PUTs under one sink write).
    */
  def selfSeconds(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a }
          .sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
            if (b <= reach) (acc, reach) else (acc + b - math.max(a, reach), b)
          }._1
        (s.dur - covered) / 1e9
      }.sum
    }
  }

  def dump(file: java.io.File): Unit = {
    java.nio.file.Files.createDirectories(file.getParentFile.toPath)
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.asScala.foreach { s =>
      w.println(
        s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
          s""""parent":${s.parent},"run":"${s.run}","ok":${s.ok}}""")
    } finally w.close()
  }

  /** Per-thread retry bookkeeping: the key whose last attempt failed on
    * this thread, and when that attempt ended.
    */
  private[perfbench] val lastFailure = new ThreadLocal[(String, Long)]
  val retries = new AtomicLong
  val backoffNanos = new AtomicLong

  def resetCounters(): Unit = { retries.set(0); backoffNanos.set(0) }
}

/** Benchmark-owned decorator around the engine's store: one span per
  * `put`; a PUT of the key whose previous attempt on this thread failed is
  * a retry, and the gap since that failure is the sink's backoff.
  */
final class TracedStore(inner: ObjectStore) extends ObjectStore {
  override def put(key: String, bytes: Array[Byte], contentType: String, acl: String): Unit = {
    val t0 = System.nanoTime()
    val last = Trace.lastFailure.get
    if (last != null && last._1 == key) {
      Trace.retries.incrementAndGet()
      Trace.backoffNanos.addAndGet(t0 - last._2)
    }
    Trace.lastFailure.remove()
    val parent = Trace.putParent
    try {
      inner.put(key, bytes, contentType, acl)
      Trace.record("sinks.put", t0, System.nanoTime(), parent, ok = true)
    } catch {
      case e: Throwable =>
        val t1 = System.nanoTime()
        Trace.record("sinks.put", t0, t1, parent, ok = false)
        Trace.lastFailure.set((key, t1))
        throw e
    }
  }
}

/** Spark-level counters read by a listener the benchmark registers. */
final class Counters extends SparkListener {
  private val c = Array.fill(8)(new AtomicLong)
  private def add(i: Int, v: Long): Unit = { c(i).addAndGet(v); () }

  override def onJobStart(e: SparkListenerJobStart): Unit = add(0, 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(1, 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    add(2, 1)
    if (m != null) {
      add(3, m.executorRunTime)
      add(4, m.executorCpuTime)
      add(5, m.shuffleWriteMetrics.bytesWritten)
      add(6, m.shuffleReadMetrics.totalBytesRead)
      add(7, m.diskBytesSpilled)
    }
  }

  def snap(): Counters.Snap = Counters.Snap(c.map(_.get).toVector)
}

object Counters {
  final case class Snap(v: Vector[Long]) {
    def -(o: Snap): Snap = Snap(v.zip(o.v).map { case (a, b) => a - b })
    def +(o: Snap): Snap = Snap(v.zip(o.v).map { case (a, b) => a + b })
    def jobs: Long = v(0)
    def taskRunS: Double = v(3) / 1e3

    /** `<prefix>.jobs` ... `<prefix>.shuffle_read_mb`. */
    def metrics(prefix: String): Seq[(String, Double)] = Seq(
      s"$prefix.jobs" -> v(0).toDouble,
      s"$prefix.stages" -> v(1).toDouble,
      s"$prefix.tasks" -> v(2).toDouble,
      s"$prefix.task_run_s" -> v(3) / 1e3,
      s"$prefix.task_cpu_s" -> v(4) / 1e9,
      s"$prefix.shuffle_write_mb" -> v(5) / 1e6,
      s"$prefix.shuffle_read_mb" -> v(6) / 1e6)

    def spillMb: Double = v(7) / 1e6
  }
  val Zero: Snap = Snap(Vector.fill(8)(0L))
}
