package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Deterministic failure-injection store for the R11 fault-tolerance
  * test: keys under dead/ always fail, keys under flaky/ fail the first
  * attempt per JVM (static state — survives task serialization).
  */
class FlakyStore extends graft.sinks.ObjectStore {
  override def put(key: String, bytes: Array[Byte], contentType: String, acl: String): Unit = {
    if (key.startsWith("dead/")) throw new java.io.IOException(s"permanent failure: $key")
    if (key.startsWith("flaky/") && FlakyStore.seen.add(key))
      throw new java.io.IOException(s"transient failure: $key")
  }
}

object FlakyStore {
  val seen: java.util.concurrent.ConcurrentHashMap.KeySetView[String, java.lang.Boolean] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

/** r13 ask #6 chaos store: a mid-write partition OUTAGE. While armed
  * (static kill switch, per JVM), the victim partition's "connection"
  * dies after `killAfter` PUT calls — every later put in that task
  * throws, simulating a lost executor/preempted node partway through a
  * partition. The call counter is per-task (the closure is deserialized
  * per task), so only the victim partition is affected, and atomic: the
  * sink calls `put` from several threads of one task. Disarmed, it is a
  * plain `file://` HadoopFsStore.
  */
class PartitionOutageStore(root: String, victim: Int, killAfter: Int)
    extends graft.sinks.ObjectStore {
  private val inner = new graft.sinks.HadoopFsStore(s"file://$root")
  private val calls = new java.util.concurrent.atomic.AtomicInteger
  override def put(key: String, bytes: Array[Byte], contentType: String, acl: String): Unit = {
    if (PartitionOutageStore.armed.get() && org.apache.spark.TaskContext.getPartitionId() == victim) {
      val n = calls.getAndIncrement()
      if (n >= killAfter) throw new java.io.IOException(s"connection lost mid-partition (PUT call ${n + 1})")
    }
    inner.put(key, bytes, contentType, acl)
  }
}

object PartitionOutageStore {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** E2E tile fixture tests (SURVEY.md §5.5): `tilecache` scan ⋈ grid →
  * object sink into a local "bucket", asserting keys and byte identity.
  */
class TileCacheSpec extends SparkSuite {

  test("cache scan joins existing files to the candidate grid") {
    val m = TileCacheQueries.cacheScan(spark, sf001)
    val rows = m.collect()
    assert(rows.nonEmpty)
    // every manifest row's payload length matches the deterministic fixture
    rows.foreach { r =>
      val (lvl, row, col) = (r.getInt(0), r.getInt(1), r.getInt(2))
      assert((row + col + lvl) % 3 != 0, s"gap tile ($lvl,$row,$col) must not appear")
      assert(r.getAs[Long]("length") == s"tile-$lvl-$row-$col".getBytes("UTF-8").length.toLong)
      assert(r.getAs[String]("object_key") == s"Lite/$lvl/$row/$col")
    }
  }

  test("delta sync counts its total from a scan that never reads bytes") {
    // deltaUpload's `total` is this projection: the connector must drop
    // `content` from the scan, so counting opens no tile file
    val df =
      TileCacheQueries.sourceTiles(spark, TileCacheQueries.ensureFixture()).select("object_key")
    val scans = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }
    assert(scans.size == 1, df.queryExecution.sparkPlan.treeString)
    assert(scans.head.isInstanceOf[graft.sources.tilecache.TileCacheScan])
    val read = scans.head.readSchema()
    assert(!read.fieldNames.contains("content"), read.treeString)
    assert(df.count() == TileCacheQueries.fixturePresent.size)
  }

  test("upload sink round-trips bytes into the bucket") {
    val manifest = TileCacheQueries.uploadSink(spark, sf001).collect()
    assert(manifest.nonEmpty)
    val bucket = new java.io.File(sys.props("java.io.tmpdir"), "graft_tile_bucket")
    manifest.foreach { r =>
      val key = r.getString(0)
      val f = new java.io.File(bucket, key)
      assert(f.exists(), key)
      val parts = key.split("/") // Lite/z/r/c
      val exp = s"tile-${parts(1)}-${parts(2)}-${parts(3)}"
      assert(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8") == exp)
    }
    // sink manifest == scan manifest (same keys)
    val scanKeys =
      TileCacheQueries.cacheScan(spark, sf001).select("object_key").collect().map(_.getString(0)).toSet
    assert(manifest.map(_.getString(0)).toSet == scanKeys)
  }

  test("upload sink records per-object content-type and ACL (reference PUT contract)") {
    // Program.cs:82-91 sets allUsers:OWNER per object; EtlToS3.cs:92 sets
    // PublicRead; our sink must carry both fields per object, not per job.
    val manifest = TileCacheQueries.uploadSink(spark, sf001).collect()
    val bucket = new java.io.File(sys.props("java.io.tmpdir"), "graft_tile_bucket")
    manifest.foreach { r =>
      val key = r.getString(0)
      val m = new java.io.File(new java.io.File(bucket, "_meta"), key)
      assert(m.exists(), s"missing metadata sidecar for $key")
      val meta = new String(java.nio.file.Files.readAllBytes(m.toPath), "UTF-8")
      assert(meta.contains("content-type=image/jpg"), key)
      assert(meta.contains("acl=public-read"), key)
    }
  }

  test("sink per-level progress counts match the manifest (R13)") {
    import graft.sinks.{HadoopFsStore, ObjectSink}
    import org.apache.spark.sql.functions.format_string
    val root = TileCacheQueries.ensureFixture()
    val bucket = java.nio.file.Files.createTempDirectory("graft_r13_bucket").toFile
    val tiles = spark.read
      .format("binaryFile")
      .option("pathGlobFilter", "*.jpg")
      .option("recursiveFileLookup", "true")
      .load(root)
      .select(
        regexp_replace(col("path"), "^file:" + root + "/", "").as("object_key"),
        col("content"),
        format_string("L%s", regexp_extract(col("path"), "L(\\d{2})", 1)).as("level_label"))
    val labels =
      (TileCacheQueries.fixtureCfg.startLevel to TileCacheQueries.fixtureCfg.endLevel)
        .map(l => f"L$l%02d")
    val (ok, failed, perLevel) = ObjectSink.write(
      tiles,
      new HadoopFsStore(s"file://${bucket.getAbsolutePath}"),
      "object_key",
      "content",
      "image/jpg",
      progress = Some(("level_label", labels)))
    assert(failed == 0)
    assert(perLevel.keySet == labels.toSet)
    assert(perLevel.values.sum == ok)
    val expected = tiles
      .groupBy("level_label")
      .count()
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(perLevel.filter(_._2 > 0) == expected)
  }

  test("sink per-record fault tolerance: failures are counted, retries recover transients (R11)") {
    import graft.sinks.{ObjectSink, ObjectStore}
    val df = spark
      .createDataFrame(Seq(
        ("good/1", "a".getBytes("UTF-8")),
        ("flaky/2", "b".getBytes("UTF-8")),
        ("dead/3", "c".getBytes("UTF-8"))))
      .toDF("object_key", "content")
      .repartition(1)
    // a store that fails the first attempt per flaky/* key and always for dead/*
    FlakyStore.seen.clear()
    val (okNoRetry, failedNoRetry, _) =
      ObjectSink.write(df, new FlakyStore, "object_key", "content", "text/plain")
    assert(okNoRetry == 1 && failedNoRetry == 2) // flaky dies without retries
    FlakyStore.seen.clear()
    val (okRetry, failedRetry, _) =
      ObjectSink.write(df, new FlakyStore, "object_key", "content", "text/plain", retries = 2)
    assert(okRetry == 2 && failedRetry == 1) // flaky recovers on retry, dead still counted
    // with exponential backoff (r8): same counts, and wall time shows the
    // between-attempt sleeps actually happened (dead/3 burns 2 retries:
    // 20 ms + 40 ms; flaky/2 one: 20 ms — ≥ 60 ms total, far above the
    // no-backoff run's microseconds)
    FlakyStore.seen.clear()
    val t0 = System.nanoTime()
    val (okB, failedB, _) = ObjectSink.write(
      df, new FlakyStore, "object_key", "content", "text/plain",
      retries = 2, retryBackoffMs = 20L)
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(okB == 2 && failedB == 1)
    assert(elapsedMs >= 60.0, s"backoff sleeps missing: $elapsedMs ms")
  }

  test("sink partition-level outage: re-run converges idempotently (r13)") {
    import graft.sinks.ObjectSink
    val bucket = java.nio.file.Files.createTempDirectory("graft_chaos_bucket").toFile
    val rows = (1 to 40).map(i => (f"t/$i%02d", s"payload-$i".getBytes("UTF-8")))
    val df = spark
      .createDataFrame(rows)
      .toDF("object_key", "content")
      .repartition(4, col("object_key"))
      .localCheckpoint() // pin the partitioning: both runs see identical tasks
    // victim = the fullest partition (deterministic, never empty)
    val victim = df
      .groupBy(spark_partition_id().as("pid"))
      .count()
      .orderBy(col("count").desc, col("pid"))
      .first()
      .getInt(0)
    def store() = new PartitionOutageStore(bucket.getAbsolutePath, victim, killAfter = 2)
    // run 1: the victim partition dies after 2 PUTs — the per-record
    // policy counts the lost remainder (accumulators), the JOB survives
    PartitionOutageStore.armed.set(true)
    val (ok1, failed1, _) =
      try ObjectSink.write(df, store(), "object_key", "content", "application/octet-stream")
      finally PartitionOutageStore.armed.set(false)
    assert(failed1 > 0, "outage must lose part of the victim partition")
    assert(ok1 + failed1 == 40, "every record accounted: uploaded or counted lost")
    val written = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files
        .walk(bucket.toPath)
        .iterator()
        .asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .filterNot(_.toString.contains("_meta"))
        .size
    }
    assert(written.toLong == ok1, "bucket holds exactly the acked prefix")
    // run 2 (at-least-once re-run semantics): same job, healthy store —
    // idempotent PUTs overwrite the acked prefix and fill the holes
    val (ok2, failed2, _) =
      ObjectSink.write(df, store(), "object_key", "content", "application/octet-stream")
    assert(ok2 == 40 && failed2 == 0)
    rows.foreach { case (k, b) =>
      val got = java.nio.file.Files.readAllBytes(new java.io.File(bucket, k).toPath)
      assert(java.util.Arrays.equals(got, b), s"re-run must converge byte-exact: $k")
    }
  }

  test("delta sync uploads only new and changed tiles (incremental ETL)") {
    val root = TileCacheQueries.ensureFixture()
    val bucket = java.nio.file.Files.createTempDirectory("graft_delta_spec").toFile
    // pass 1: empty bucket -> everything uploads
    val (u1, s1, f1) = TileCacheQueries.deltaUpload(spark, root, bucket)
    assert(u1 > 0 && s1 == 0 && f1 == 0)
    // pass 2: nothing changed -> nothing uploads
    val (u2, s2, f2) = TileCacheQueries.deltaUpload(spark, root, bucket)
    assert(u2 == 0 && s2 == u1 && f2 == 0)
    // mutate the cache in a COPY (the shared fixture must stay pristine):
    // one modified tile (longer payload) + one brand-new tile
    val copy = java.nio.file.Files.createTempDirectory("graft_delta_cache").toFile
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(new java.io.File(root).toPath).iterator().asScala.foreach { p =>
      val rel = new java.io.File(root).toPath.relativize(p)
      val t = copy.toPath.resolve(rel)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
    val existing = java.nio.file.Files
      .walk(copy.toPath)
      .iterator()
      .asScala
      .filter(_.toString.endsWith(".jpg"))
      .toSeq
      .sortBy(_.toString)
    java.nio.file.Files.write(existing.head, "tile-MODIFIED-payload-x".getBytes("UTF-8"))
    // a new in-grid tile: take a known gap cell's neighbors... simplest is
    // a fresh copy of an existing tile under a different VALID grid cell:
    // level 2 row/col from an existing file shifted into another existing
    // grid cell is hard to guarantee -> instead delete one tile and check
    // deletion is NOT re-uploaded (delta is additive) while the modify is
    java.nio.file.Files.delete(existing.last)
    val (u3, s3, f3) = TileCacheQueries.deltaUpload(spark, copy.getAbsolutePath, bucket)
    assert(f3 == 0)
    assert(u3 == 1, s"exactly the modified tile must re-upload, got $u3")
    assert(s3 == u1 - 2) // unchanged tiles minus the deleted and modified ones
  }

  test("delta sync digest mode catches a same-length byte change the quick check misses (r16)") {
    val root = TileCacheQueries.ensureFixture()
    val bucket = java.nio.file.Files.createTempDirectory("graft_delta_digest_spec").toFile
    val (u1, s1, f1) = TileCacheQueries.deltaUpload(spark, root, bucket, digest = true)
    assert(u1 > 0 && s1 == 0 && f1 == 0)
    // same-length corruption of ONE bucket object (XOR 0xFF keeps the
    // byte length, so the (key, length) quick check cannot see it)
    val key = TileCacheQueries.corruptFirstObject(bucket)
    assert(key.nonEmpty && !key.startsWith("_meta/"))
    // length-mode resync: the pinned blind spot — skips EVERYTHING
    val (u2, s2, f2) = TileCacheQueries.deltaUpload(spark, root, bucket)
    assert(u2 == 0 && s2 == u1 && f2 == 0, s"quick check saw the corruption: $u2 uploaded")
    // digest-mode resync: exactly the corrupted object re-uploads
    val (u3, s3, f3) = TileCacheQueries.deltaUpload(spark, root, bucket, digest = true)
    assert(u3 == 1 && s3 == u1 - 1 && f3 == 0, s"digest resync uploaded $u3, skipped $s3")
    // the re-upload REPAIRED the object: a second digest resync is clean
    val (u4, s4, f4) = TileCacheQueries.deltaUpload(spark, root, bucket, digest = true)
    assert(u4 == 0 && s4 == u1 && f4 == 0)
  }

  test("HadoopFsStore writes the same PUT contract through the hadoop-fs API (cloud swap-in)") {
    import graft.sinks.{HadoopFsStore, ObjectSink}
    val root = java.nio.file.Files.createTempDirectory("graft_hfs_bucket").toFile
    val df = spark
      .createDataFrame(Seq(("Lite/2/3/4", "tile-2-3-4".getBytes("UTF-8"))))
      .toDF("object_key", "content")
    val (ok, failed, _) =
      ObjectSink.write(df, new HadoopFsStore(s"file://${root.getAbsolutePath}"), "object_key", "content", "image/jpg")
    assert(ok == 1 && failed == 0)
    val obj = new java.io.File(root, "Lite/2/3/4")
    assert(obj.exists())
    assert(new String(java.nio.file.Files.readAllBytes(obj.toPath), "UTF-8") == "tile-2-3-4")
    val meta = new String(
      java.nio.file.Files.readAllBytes(new java.io.File(root, "_meta/Lite/2/3/4").toPath),
      "UTF-8")
    assert(meta == "content-type=image/jpg\nacl=public-read\n")
  }
}
