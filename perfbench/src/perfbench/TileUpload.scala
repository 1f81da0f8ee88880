package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import graft.sinks.{HttpObjectStore, ObjectSink, ObjectStore}
import graft.tile.{Tile, TileConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The paper's workload: enumerate the tile grid, scan the exploded cache
  * through the `tilecache` source, join (the join is the existence
  * filter), project the slippy-map key, and PUT every tile through
  * `ObjectSink.write` to an S3-protocol store.
  *
  * `wan`: Utah at levels 5–8, 20 ms per PUT, ~1% transient 503s. Waiting
  * on PUTs dominates, so this is where PUT concurrency shows.
  * `lan`: the reference extent at levels 5–10, no latency, no transient
  * faults. CPU in the grid, scan, join, key projection, HTTP client and
  * store dominates. Both: a fixed poison set (0.2% of tiles) always gets
  * 503 and must be counted failed, never stored.
  */
final class TileUpload(o: Main.Opts, out: Main.Out, wan: Boolean) extends Main.Workload {
  private val cfg =
    if (wan) TileConfig(startLevel = 5, endLevel = 8) else TileConfig(startLevel = 5, endLevel = 10)
  private val latencyMs = if (wan) 20 else 0
  private val transientRate = if (wan) 0.01 else 0.0
  /** Untimed full batches before timing: lan is CPU-bound and keeps
    * speeding up over its first batches as the JIT compiles; wan waits on
    * the store, so one batch is enough.
    */
  private val warmBatches = if (wan) 1 else 4
  private val Retries = 3
  private val BackoffMs = 10L
  private val ContentType = "image/jpg"

  private var cache: Fixture.Cache = _
  private var stub: StoreStub = _
  /** Source file (length, CRC32C) per expected object key: present minus poison. */
  private var expected: Map[String, (Int, Long)] = _
  private var last: (Long, Long, Double, StoreStub.Stats) = _

  override def prepare(spark: SparkSession): Unit = {
    cache = Fixture.ensure(new File(o.work, s"fixtures/${o.workload}"), cfg, o.seed)
    if (stub == null) stub = new StoreStub(o.seed, transientRate, cache.poison)
  }

  private def pipeline(spark: SparkSession, level: Option[Int]): DataFrame = {
    val scan = spark.read.format("tilecache").load(cache.root.getAbsolutePath)
    level
      .fold(scan)(l => scan.where(col("level") === l))
      .join(Tile.tileGrid(spark, cfg), Seq("level", "row", "col"))
      .select(Tile.objectKey(cfg, col("level"), col("row"), col("col")).as("object_key"), col("content"))
  }

  private def upload(spark: SparkSession, store: ObjectStore, level: Option[Int]): (Long, Long) = {
    val (ok, failed, _) = ObjectSink.write(
      pipeline(spark, level), store, "object_key", "content", ContentType,
      retries = Retries, retryBackoffMs = BackoffMs)
    (ok, failed)
  }

  /** Warm-up batches compile code paths; store latency would only add
    * idle time to them, so the store answers at once until the timed
    * batches.
    */
  override def warmup(spark: SparkSession): Unit = {
    stub.latencyMs = 0
    stub.reset()
    upload(spark, new HttpObjectStore(stub.endpoint), Some(cfg.startLevel))
  }

  /** Reads every source file once for the checks, then runs full untimed
    * batches: the level slice of the warm-up leaves the full-size paths
    * (scan, join, sink) to be compiled.
    */
  override def beforeTimed(spark: SparkSession): Unit = {
    val poison = cache.poison
    expected = cache.present.iterator.map(c => c.key(cfg) -> c).filterNot(kv => poison(kv._1)).map {
      case (k, c) =>
        val bytes = java.nio.file.Files.readAllBytes(new File(cache.root, c.path).toPath)
        k -> (bytes.length, StoreStub.crc32c(bytes))
    }.toMap
    if (o.corrupt) {
      val (k, (len, crc)) = expected.minBy(_._1)
      expected = expected.updated(k, (len, crc ^ 1L))
    }
    stub.latencyMs = 0
    (1 to warmBatches).foreach { _ => batch(spark, traced = false); check() }
    stub.latencyMs = latencyMs
  }

  override def batch(spark: SparkSession, traced: Boolean): (Long, Double) = {
    stub.reset()
    val t0 = System.nanoTime()
    val base = new HttpObjectStore(stub.endpoint)
    val (ok, failed) =
      if (!traced) upload(spark, base, None)
      else Trace.span("sinks.write", Trace.batchId) { id =>
        Trace.putParent = id
        upload(spark, new TracedStore(base), None)
      }
    val wall = (System.nanoTime() - t0) / 1e9
    last = (ok, failed, wall, stub.stats())
    (ok, wall)
  }

  /** Stored objects must equal present minus poison, byte-exact, with the
    * PUT headers the sink was given; every poison tile is counted failed.
    */
  override def check(): Unit = {
    val (ok, failed, _, _) = last
    val stored = stub.records.asScala
    out.attempted += cache.present.size
    var bad = 0L
    val missing = expected.keySet.count(k => !stored.contains(k))
    val extra = stored.keySet.count(k => !expected.contains(k))
    val wrong = expected.count { case (k, (len, crc)) =>
      stored.get(k).exists(r => r.length != len || r.crc != crc || r.contentType != ContentType || r.acl != "public-read")
    }
    if (missing + extra + wrong > 0) {
      bad += missing + extra + wrong
      out.fail(s"store holds $missing missing, $extra unexpected, $wrong mismatched objects")
    }
    if (ok != expected.size || failed != cache.poison.size) {
      bad += math.abs(failed - cache.poison.size)
      out.fail(s"sink reported ok=$ok failed=$failed, expected ok=${expected.size} failed=${cache.poison.size}")
    }
    out.failed += bad
  }

  override def layers(spark: SparkSession, traced: Main.Window): Unit = {
    val L = out.layer
    val (ok, failed, writeS, st) = last
    // tile grid and tilecache scan, each materialized alone; the second
    // of two runs is reported, so neither pays its first compilation
    val scan = spark.read.format("tilecache").load(cache.root.getAbsolutePath)
    def alone() = (
      Trace.span("tile.grid")(_ => Tile.tileGrid(spark, cfg).agg(count(lit(1))).head().getLong(0)),
      Trace.span("sources.tilecache.scan")(_ => scan.agg(count(lit(1)), sum(length(col("content")))).head()))
    alone()
    val (cells, row) = alone()
    L("tile.grid_cells") = cells.toDouble
    L("tile.grid_s") = Trace.named("tile.grid").last.dur / 1e9
    L("tile.hit_ratio") = cache.present.size.toDouble / cache.candidates
    L("sources.tilecache.partitions") = scan.rdd.getNumPartitions.toDouble
    L("sources.tilecache.files") = row.getLong(0).toDouble
    L("sources.tilecache.read_mb") = row.getLong(1) / 1e6
    L("sources.tilecache.scan_s") = Trace.named("sources.tilecache.scan").last.dur / 1e9

    val puts = Trace.named("sinks.put").filter(_.run == "traced")
    val durMs = puts.map(_.dur / 1e6)
    val busyS = durMs.sum / 1e3
    L("sinks.write_s") = writeS
    L("sinks.inflight_mean") = st.inflightMean
    L("sinks.inflight_max") = st.inflightMax.toDouble
    L("sinks.put_busy_s") = busyS
    L("sinks.wait_share") = busyS / math.max(1e-9, traced.spark.taskRunS)
    L("sinks.put_p50_ms") = Main.quantile(durMs, 0.5)
    L("sinks.put_p99_ms") = Main.quantile(durMs, 0.99)
    L("sinks.put_attempts") = puts.size.toDouble
    L("sinks.put_retries") = Trace.retries.get.toDouble
    L("sinks.backoff_s") = Trace.backoffNanos.get / 1e9
    L("sinks.put_useful_ratio") = puts.count(_.ok).toDouble / math.max(1, puts.size)
    L("sinks.failed_frac") = failed.toDouble / math.max(1L, ok + failed)
    L("store.conns_per_put") = st.conns.toDouble / math.max(1L, st.puts)
    L("store.busy_s") = st.busyS
    AnalyticsMix.zeroLayers(L)
  }

  override def close(): Unit = if (stub != null) stub.close()
}

object TileUpload {
  /** Layer metrics of the tile workloads, zero on a workload without tiles. */
  val LayerNames: Seq[String] = Seq(
    "tile.grid_cells", "tile.grid_s", "tile.hit_ratio",
    "sources.tilecache.partitions", "sources.tilecache.files", "sources.tilecache.read_mb",
    "sources.tilecache.scan_s",
    "sinks.write_s", "sinks.inflight_mean", "sinks.inflight_max", "sinks.put_busy_s", "sinks.wait_share",
    "sinks.put_p50_ms", "sinks.put_p99_ms", "sinks.put_attempts", "sinks.put_retries", "sinks.backoff_s",
    "sinks.put_useful_ratio", "sinks.failed_frac", "store.conns_per_put", "store.busy_s")

  def zeroLayers(l: scala.collection.mutable.Map[String, Double]): Unit = LayerNames.foreach(l(_) = 0.0)
}
