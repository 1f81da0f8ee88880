package graft.sinks

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutorService, Executors, Semaphore}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong, AtomicReference}

import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.util.LongAccumulator

/** Cloud-object sink — the engine's equivalent of the reference's per-tile
  * upload loop (GCS: /root/reference/src/Program.cs:109-118; S3:
  * /root/reference/reference/EtlToS3.cs:87-94).
  *
  * Spark has no built-in writer with per-object key + content-type + ACL
  * semantics (key ≠ file path), so this is a `foreachPartition` consumer:
  * one store instance per partition, one PUT per row, per-record fault
  * tolerance (swallow-and-count, mirroring Program.cs:120-123) via
  * accumulators instead of stdout. Each task keeps up to [[ObjectSink.Window]] PUTs in
  * flight, so at most min(partitions, task slots) × `Window` PUTs are in
  * flight at once — the distributed generalization of the S3 example's 40-thread semaphore
  * (EtlToS3.cs:36-43). Uploads stay at-least-once and idempotent by key.
  *
  * At 100 TB scale: the DataFrame reaching this sink should carry only
  * (key, content) for rows that are actually being written — binary
  * payloads must never pass through a shuffle (project keys first, join
  * content back at the end, or write straight from the scan partitions).
  */
trait ObjectStore extends Serializable {

  /** PUT one object. `acl` is the per-object canned ACL the reference sets
    * on every upload — `allUsers:OWNER` on GCS (Program.cs:82-91),
    * `PublicRead` on S3 (EtlToS3.cs:92).
    *
    * Concurrency contract: the sink deserializes one store instance per
    * task and calls `put` on it from up to [[ObjectSink.Window]] threads at
    * once, each with the owning task's `TaskContext` set. Per-instance
    * state must be thread-safe.
    */
  def put(key: String, bytes: Array[Byte], contentType: String, acl: String): Unit
}

object ObjectStore {
  /** The reference's public-read canned ACL (EtlToS3.cs:92). */
  val PublicRead = "public-read"
}

/** Hadoop-FileSystem-backed store: the cloud swap-in. The same code path
  * writes `file://` in tests and `gs://` / `s3a://` in a deployment purely
  * by root-URI (plus the usual fs.* credentials config) — demonstrating
  * that nothing in the sink is local-fs-specific. Object bytes go to
  * `<root>/<key>`; content-type and ACL, which a filesystem cannot carry
  * natively, are recorded per object under `_meta/<key>` ("_"-prefixed so
  * Spark's file listing never mistakes the sidecars for objects), letting
  * tests assert the full PUT contract (connector-level canned ACLs —
  * `fs.gs.bucket.*`, `fs.s3a.acl.default` — are cluster config, applied at
  * the connector below this API). Over `file://` Hadoop's checksummed
  * local FS also writes a `.<name>.crc` per file; Spark's listing skips
  * those dot-files too.
  *
  * One `FileSystem` per partition-task (the handle is created lazily on
  * the executor, never serialized from the driver), matching the
  * one-client-per-partition design above.
  */
final class HadoopFsStore(rootUri: String) extends ObjectStore {
  @transient private lazy val fs = {
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.hadoop.fs.FileSystem.get(java.net.URI.create(rootUri), conf)
  }
  private def write(path: String, bytes: Array[Byte]): Unit = {
    val p = new org.apache.hadoop.fs.Path(rootUri, path)
    val out = fs.create(p, true)
    try out.write(bytes)
    finally out.close()
  }
  override def put(key: String, bytes: Array[Byte], contentType: String, acl: String): Unit = {
    write(key, bytes)
    write(s"_meta/$key", s"content-type=$contentType\nacl=$acl\n".getBytes("UTF-8"))
  }
}

object ObjectSink {

  /** PUTs one task keeps in flight. A constant, not a knob: the sink is the
    * only place that needs the concurrency. On a 4-vCPU VM against a store
    * answering each PUT in 20 ms, objects/s was 164, 734, 964, 1145 and
    * 1184 at windows of 1, 8, 16, 32 and 64, so it levels off at 32;
    * against a store with no latency, 32 ran as fast as one PUT at a time
    * per task. That curve was taken with ~21 objects per task (one
    * `tilecache` partition per row dir) and, at windows above 1, with a
    * new connection for most PUTs: the JDK transport of the time kept 5
    * idle sockets per destination, where [[HttpSend]] now keeps one per
    * PUT in flight. The scan now packs row dirs into about one partition
    * per task slot, ~480 objects per task there; the curve has not been
    * taken again.
    */
  private[graft] val Window = 32

  /** Failed keys each task logs, with the last error of each. */
  private val FailureSample = 5

  /** One pool per executor JVM for the windowed PUTs: cached, so it holds
    * about (concurrent sink tasks × [[Window]]) threads while writing and
    * drops idle ones after 60 s; daemon, so it never keeps a JVM alive.
    */
  private lazy val pool: ExecutorService = {
    val n = new AtomicInteger
    Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, s"graft-sink-put-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** Writes rows (keyCol STRING, contentCol BINARY) to the store.
    * Returns (uploaded, failed, per-label uploaded counts); the map is
    * empty without `progress`. Individual failures are swallowed and
    * counted, never fail the job (reference per-record policy). Each task
    * logs up to 5 of its failed keys with their last error to stderr.
    *
    * R13 progress reporting: pass `progress` (a label column, e.g. the
    * zoom level, plus the label universe — known upfront from the job
    * config, exactly like the reference's per-level loop) and per-label
    * upload counts are tracked in accumulators and logged on completion,
    * the distributed analog of Program.cs's per-level console progress.
    *
    * The task thread reads the rows and hands each record's attempt loop to
    * the shared pool, holding a permit of a per-task `Semaphore(Window)`
    * until it ends. Before the task returns, or rethrows when its rows or
    * a PUT thread fail or it is killed, it takes back every permit: no PUT
    * outlives its task, so a retried task never races a stale one. A task
    * holds at most `Window` payloads in memory at once.
    */
  def write(
      df: DataFrame,
      store: ObjectStore,
      keyCol: String,
      contentCol: String,
      contentType: String,
      acl: String = ObjectStore.PublicRead,
      progress: Option[(String, Seq[String])] = None,
      retries: Int = 0,
      retryBackoffMs: Long = 0L): (Long, Long, Map[String, Long]) = {
    val spark = df.sparkSession
    val ok: LongAccumulator = spark.sparkContext.longAccumulator("objects_uploaded")
    val failed: LongAccumulator = spark.sparkContext.longAccumulator("objects_failed")
    val perLabel: Map[String, LongAccumulator] = progress match {
      case Some((_, labels)) =>
        labels.map(l => l -> spark.sparkContext.longAccumulator(s"objects_uploaded_$l")).toMap
      case None => Map.empty
    }
    val ki = df.schema.fieldIndex(keyCol)
    val ci = df.schema.fieldIndex(contentCol)
    val li = progress.map { case (c, _) => df.schema.fieldIndex(c) }
    df.foreachPartition { rows: Iterator[Row] =>
      val task = TaskContext.get()
      val permits = new Semaphore(Window)
      // pool threads count here; LongAccumulator.add is not thread-safe
      val okN = new AtomicLong
      val failedN = new AtomicLong
      val labelN = perLabel.map { case (l, _) => l -> new AtomicLong }
      val sample = new ConcurrentLinkedQueue[String]
      // first error a PUT thread did not swallow (fatal, interrupt)
      val escaped = new AtomicReference[Throwable]
      // set once the task is failing: in-flight records stop retrying
      val abandoned = new AtomicBoolean

      // per-record policy (Program.cs:120-123): up to `retries` retried
      // attempts (PUTs are idempotent by key), then swallow-and-count —
      // one bad object must never fail the job
      def putOne(key: String, bytes: Array[Byte], label: Option[String]): Unit = {
        var attempt = 0
        var done = false
        while (!done && attempt <= retries && (attempt == 0 || !abandoned.get)) {
          try {
            store.put(key, bytes, contentType, acl)
            okN.incrementAndGet()
            label.flatMap(labelN.get).foreach(_.incrementAndGet())
            done = true
          } catch {
            case scala.util.control.NonFatal(e) =>
              attempt += 1
              if (attempt > retries) {
                if (failedN.incrementAndGet() <= FailureSample) sample.add(s"$key: ${e.getMessage}")
              }
              // bounded exponential backoff between attempts (r8): a
              // transient 429/503 from the object store usually clears in
              // one doubling; capped at 30 s so a dead store drains the
              // attempt budget instead of stalling its partition task.
              // Both operands clamped BEFORE the shift: an unclamped
              // `base << (attempt-1)` wraps negative past ~60 attempts
              // and Thread.sleep(negative) would throw out of the retry
              // loop and fail the whole task (r8 review finding).
              else if (retryBackoffMs > 0L)
                Thread.sleep(
                  math.min(
                    math.min(retryBackoffMs, 30000L) << math.min(attempt - 1, 20),
                    30000L))
          }
        }
      }

      try {
        while (rows.hasNext) {
          Option(escaped.get).foreach(t => throw t)
          if (task != null && task.isInterrupted())
            throw new TaskKilledException("killed while writing objects")
          val r = rows.next()
          val key = r.getString(ki)
          val bytes = r.getAs[Array[Byte]](ci)
          val label = li.map(i => String.valueOf(r.get(i)))
          permits.acquire()
          try {
            pool.execute { () =>
              try Bridge.withTaskContext(task)(putOne(key, bytes, label))
              catch { case t: Throwable => escaped.compareAndSet(null, t) }
              finally permits.release()
            }
          } catch { case t: Throwable => permits.release(); throw t }
        }
      } catch {
        case t: Throwable => abandoned.set(true); throw t
      } finally permits.acquireUninterruptibly(Window)
      Option(escaped.get).foreach(t => throw t)
      ok.add(okN.get)
      failed.add(failedN.get)
      labelN.foreach { case (l, n) => perLabel(l).add(n.get) }
      sample.forEach(s => System.err.println(s"[sink] failed $s"))
      if (failedN.get > FailureSample)
        System.err.println(s"[sink] ... and ${failedN.get - FailureSample} more failed in this task")
    }
    val counts: Map[String, Long] = perLabel.map { case (l, a) => l -> a.value.longValue() }
    counts.toSeq.sortBy(_._1).foreach { case (l, n) =>
      System.err.println(s"[sink] $l: $n uploaded")
    }
    (ok.value, failed.value, counts)
  }
}
