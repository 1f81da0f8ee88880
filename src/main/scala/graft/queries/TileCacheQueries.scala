package graft.queries

import graft.sinks.{HadoopFsStore, ObjectSink}
import graft.tile.{Tile, TileConfig}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tile cache scan (R7-R8) and upload sink (R10-R12) over a deterministic
  * generated fixture cache (FIXTURES.md §B) — existence filtering becomes
  * "scan what exists, inner-join to the candidate grid"
  * (/root/reference/src/Program.cs:102-107 re-expressed).
  */
object TileCacheQueries {

  /** Small config so the fixture grid stays tiny: world-extent slice at
    * levels 2-4 with no padding gives a few hundred candidate cells.
    */
  val fixtureCfg: TileConfig = TileConfig(
    startLevel = 2,
    endLevel = 4,
    extentMinX = -14078565,
    extentMinY = 3604577,
    extentMaxX = -11137983,
    extentMaxY = 6384021,
    padX = 1,
    padY = 1,
    mapName = "Lite")

  private def fixtureRoot: java.io.File =
    new java.io.File(sys.props("java.io.tmpdir"), "graft_tile_cache")

  /** DuckDB CTE that recomputes the fixture's present-tile set purely
    * arithmetically — [[fixturePresent]] (extent range
    * formulas at [[fixtureCfg]], pad 1, gap rule `(r+c+level)%3 != 0`,
    * no negative indices) re-expressed in SQL. The filesystem-reading
    * registry entries oracle against this, so the listing⇄arithmetic
    * round-trip is hash-checked end-to-end (the `tile_cache_coverage`
    * contract, extended to the scan/sink/sync manifests). `trunc` before
    * CAST because DuckDB CAST rounds; Scala `.toInt` truncates.
    */
  val fixtureCte: String =
    """WITH lv AS (SELECT CAST(unnest(generate_series(2, 4)) AS INT) AS level),
      |b AS (SELECT level, 20037508.34278 * power(2.0, 1 - level) AS ts FROM lv),
      |rg AS (SELECT level,
      |  CAST(trunc((20037508.34278 - 6384021.0) / ts) AS INT) - 1 AS sr,
      |  CAST(trunc((20037508.34278 - 3604577.0) / ts) AS INT) + 1 + 1 AS er,
      |  CAST(trunc((-14078565.0 + 20037508.34278) / ts) AS INT) - 1 AS sc,
      |  CAST(trunc((-11137983.0 + 20037508.34278) / ts) AS INT) + 1 + 1 AS ec
      | FROM b),
      |present AS (SELECT level, CAST(r.r AS INT) AS tile_row, CAST(c.c AS INT) AS tile_col
      | FROM rg,
      |  LATERAL (SELECT unnest(generate_series(sr, er)) AS r) r,
      |  LATERAL (SELECT unnest(generate_series(sc, ec)) AS c) c
      | WHERE (r.r + c.c + level) % 3 <> 0 AND r.r >= 0 AND c.c >= 0)
      |""".stripMargin

  /** The fixture's identity: config + gap rule. Written into the
    * completion marker so an on-disk fixture from an OLDER build (edited
    * config or gap predicate) is regenerated instead of silently reused
    * — stale fixtures produced verify mismatches that looked like engine
    * bugs and differed across machines.
    */
  private val fixtureFingerprint: String =
    s"$fixtureCfg;gap=(r+c+level)%3!=0;v1"

  /** The fixture's present tiles as (level, row, col): every candidate
    * cell of [[fixtureCfg]]'s extent ranges (pad 1) except the gaps
    * `(r+c+level)%3 == 0` and the off-world negative indices. The
    * generator writes exactly these; specs use them as the reference
    * manifest, independent of any scanner.
    */
  private[graft] def fixturePresent: Seq[(Int, Int, Int)] =
    Tile.ranges(fixtureCfg).flatMap { g =>
      for (r <- g.startRow to g.endRow; c <- g.startCol to g.endCol if (r + c + g.level) % 3 != 0 && r >= 0 && c >= 0)
        yield (g.level, r, c)
    }

  /** Deterministic fixture: the [[fixturePresent]] tiles as
    * `L{dd}/R{hex8}/C{hex8}.jpg` files. Payload = "tile-L-R-C" bytes.
    */
  def ensureFixture(): String = {
    val root = fixtureRoot
    val done = new java.io.File(root, ".complete")
    val fresh = done.exists() &&
      new String(java.nio.file.Files.readAllBytes(done.toPath), "UTF-8") == fixtureFingerprint
    if (!fresh) {
      clearDir(root)
      for ((level, r, c) <- fixturePresent) {
        val f = new java.io.File(root, f"L$level%02d/R$r%08x/C$c%08x.jpg")
        f.getParentFile.mkdirs()
        java.nio.file.Files.write(f.toPath, s"tile-$level-$r-$c".getBytes("UTF-8"))
      }
      done.getParentFile.mkdirs()
      java.nio.file.Files.write(done.toPath, fixtureFingerprint.getBytes("UTF-8"))
    }
    root.getAbsolutePath
  }

  /** The one tile-cache read shared by every cache query: the `tilecache`
    * connector lists the cache and parses (level, row, col) from the
    * path, and the inner join to the candidate grid IS the existence
    * filter — padded off-world probes simply don't match. It is written
    * as that join but, under `GraftExtensions`, planned as a per-level
    * range filter pushed into the scan (`graft.plans.TileGridJoinRule`):
    * no grid is built, and levels outside the grid are never listed. Columns
    * the caller does not select (`content` above all) are pruned from the
    * scan.
    */
  private def cachedTiles(spark: SparkSession, root: String): DataFrame =
    spark.read
      .format("tilecache")
      .load(root)
      .join(Tile.tileGrid(spark, fixtureCfg), Seq("level", "row", "col"))

  private def objectKey: Column =
    Tile.objectKey(fixtureCfg, col("level"), col("row"), col("col")).as("object_key")

  /** Strip the bucket prefix from a re-listed `file:<bucket>/<key>` URI
    * by LENGTH, not regex — a tmpdir containing regex metacharacters
    * (`build(42)`, `+`, backslashes) must not break (or silently
    * mis-strip) the object key.
    */
  private def keyFromBucketPath(bucket: java.io.File): Column = {
    val prefix = "file:" + bucket.getAbsolutePath + "/"
    col("path").substr(lit(prefix.length + 1), lit(Int.MaxValue))
  }

  /** Output manifest of the existence-filtered scan; the connector
    * never opens a tile file because `content` is not selected.
    */
  def cacheScan(spark: SparkSession, sfDir: String): DataFrame =
    cachedTiles(spark, ensureFixture())
      .select(
        col("level"),
        col("row").as("tile_row"),
        col("col").as("tile_col"),
        objectKey,
        col("length"))
      .orderBy("level", "tile_row", "tile_col")

  /** Per-level cache coverage report: candidate grid size vs tiles
    * actually present — the completeness audit a tile pipeline runs
    * before publishing (the reference over-generates and lets misses
    * fall out silently, `Program.cs:102`; this surfaces the miss rate).
    * The CACHED side comes from a real filesystem listing (the
    * connector, content never read); the ORACLE recomputes both sides
    * arithmetically — grid from the fixture extent formulas, presence
    * from the fixture's deterministic gap rule — so a fixture/listing
    * divergence (missing file, stale dir) breaks the hash match. Same
    * end-to-end round-trip contract as the multimodal probes, applied to
    * a filesystem. The grid size per level is [[Tile.ranges]]' cell count,
    * a local relation of one row per level: the grid itself is never
    * counted (level 20 of the default extent alone is 5.6 × 10⁹ cells).
    */
  def cacheCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Tile.ranges(fixtureCfg).filter(_.cells > 0).map(r => (r.level, r.cells)).toDF("level", "n_cells")
    val cached =
      cachedTiles(spark, ensureFixture()).groupBy("level").agg(count(lit(1)).as("n_cached"))
    cells
      .join(cached, Seq("level"), "left")
      .select(
        col("level"),
        col("n_cells"),
        coalesce(col("n_cached"), lit(0L)).as("n_cached"),
        round(
          coalesce(col("n_cached"), lit(0L)).cast("double") / col("n_cells").cast("double"),
          4).as("coverage"))
      .orderBy("level")
  }

  /** Source tiles with content + object key (scan ⋈ grid), the input
    * relation of both the full upload and the delta sync.
    */
  private[queries] def sourceTiles(spark: SparkSession, root: String): DataFrame =
    cachedTiles(spark, root).select(objectKey, col("length"), col("content"))

  /** Destination manifest (object_key, dest_length[, dest_digest])
    * re-listed from a local bucket; empty relation when the bucket does
    * not exist yet. In digest mode the object bytes are hashed (md5) —
    * for THIS local-bucket model that means reading them; against a real
    * object store the digest column comes from the store's inventory /
    * ETag listing and the bytes are never fetched (the join below is
    * (key, length, digest) columns either way).
    */
  private def destManifest(
      spark: SparkSession,
      bucket: java.io.File,
      digest: Boolean = false): DataFrame = {
    import spark.implicits._
    if (!bucket.exists()) {
      val empty = Seq.empty[(String, Long)].toDF("object_key", "dest_length")
      if (digest) empty.withColumn("dest_digest", lit(null).cast("string")) else empty
    } else {
      val listed = spark.read
        .format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(bucket.getAbsolutePath)
        .where(!col("path").contains("/_meta/"))
      if (digest)
        listed.select(
          keyFromBucketPath(bucket).as("object_key"),
          col("length").as("dest_length"),
          md5(col("content")).as("dest_digest"))
      else
        listed.select(
          keyFromBucketPath(bucket).as("object_key"),
          col("length").as("dest_length"))
    }
  }

  /** Incremental sync — the capability the reference lacks (Program.cs
    * re-reads and re-uploads the FULL cache every run; nothing checks
    * what the bucket already holds). Upload set = source tiles with no
    * destination object of the same (key, length) — one left-anti
    * key-equality join of two manifest projections (rsync's quick
    * check; binary content is pruned from both sides and loaded only
    * for the rows actually uploaded). Returns (#uploaded, #skipped,
    * #failed) — a failed PUT is neither uploaded nor skipped.
    *
    * At 100 TB: both manifests are (key, length) columns — the source
    * side never shuffles tile bytes, the destination side is a bucket
    * LIST (or inventory table), and the anti-join shuffles keys only.
    * The total is counted once from the key projection (content pruned)
    * before the write, not re-scanned after.
    */
  def deltaUpload(
      spark: SparkSession,
      root: String,
      bucket: java.io.File,
      digest: Boolean = false): (Long, Long, Long) = {
    // digest mode (r15 VERDICT ask #6): the (key, length) quick check is
    // blind to a same-length byte change — exactly the silent-drift case
    // the reference's idempotent re-run semantics (R10) make possible.
    // Adding a content digest to BOTH manifests closes it; the anti-join
    // still shuffles manifest columns only, never tile bytes.
    val src0 = sourceTiles(spark, root)
    val src =
      if (digest) src0.withColumn("digest", md5(col("content"))) else src0
    val total = src.select("object_key").count()
    val dest = destManifest(spark, bucket, digest)
    val quickCheck =
      src("object_key") === dest("object_key") && src("length") === dest("dest_length")
    val todo = src.join(
      dest,
      if (digest) quickCheck && src("digest") === dest("dest_digest") else quickCheck,
      "left_anti")
    val (ok, failed, _) = ObjectSink.write(
      todo,
      new HadoopFsStore(s"file://${bucket.getAbsolutePath}"),
      "object_key",
      "content",
      "image/jpg")
    (ok, total - ok - failed, failed)
  }

  /** Registry entry: clean-bucket delta sync run twice — first pass
    * uploads the full cache, second pass is a no-op because every
    * (key, length) already matches. Deterministic 2-row summary; the
    * modify/add incremental cases are exercised in TileCacheSpec (they
    * need filesystem mutation, which a registry query must not leave
    * behind).
    */
  def deltaSync(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = ensureFixture()
    val bucket = new java.io.File(sys.props("java.io.tmpdir"), "graft_tile_delta_bucket")
    clearDir(bucket)
    val (u1, s1, f1) = deltaUpload(spark, root, bucket)
    val (u2, s2, f2) = deltaUpload(spark, root, bucket)
    Seq(("initial", u1, s1, f1), ("resync", u2, s2, f2))
      .toDF("phase", "uploaded", "skipped", "failed")
  }

  private def clearDir(dir: java.io.File): Unit =
    if (dir.exists()) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files
        .walk(dir.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .iterator()
        .asScala
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }

  /** Same-length in-place corruption of the lexicographically FIRST
    * object in the bucket (every byte XOR 0xFF — length preserved, so
    * the (key, length) quick check cannot see it). Returns the corrupted
    * key. Test seam for the digest-mode entry and TileCacheSpec.
    *
    * The bucket is written through Hadoop's checksummed local FS, which
    * keeps a `.<name>.crc` sidecar per file: dot-files are not objects,
    * and the corrupted object's sidecar is dropped so a later read sees
    * the changed bytes instead of failing its checksum.
    */
  private[queries] def corruptFirstObject(bucket: java.io.File): String = {
    import scala.jdk.CollectionConverters._
    val prefix = bucket.toPath
    val first = java.nio.file.Files
      .walk(prefix)
      .iterator()
      .asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(p => prefix.relativize(p).toString)
      .filterNot(_.startsWith("_meta/"))
      .minBy(identity)
    val f = prefix.resolve(first)
    val bytes = java.nio.file.Files.readAllBytes(f)
    java.nio.file.Files.write(f, bytes.map(b => (b ^ 0xff).toByte))
    java.nio.file.Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    first
  }

  /** Registry entry for the digest mode: clean-bucket initial sync, then
    * a same-length corruption of ONE bucket object. The (key, length)
    * quick-check resync skips everything — the documented blind spot —
    * and the digest-mode resync re-uploads exactly the corrupted object
    * (repairing the bucket). Deterministic 3-row summary; N comes from
    * the same arithmetic present-set as `tile_delta_sync`.
    */
  def deltaSyncDigest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = ensureFixture()
    val bucket = new java.io.File(sys.props("java.io.tmpdir"), "graft_tile_delta_digest_bucket")
    clearDir(bucket)
    val (u1, s1, f1) = deltaUpload(spark, root, bucket, digest = true)
    corruptFirstObject(bucket): Unit
    val (u2, s2, f2) = deltaUpload(spark, root, bucket)
    val (u3, s3, f3) = deltaUpload(spark, root, bucket, digest = true)
    Seq(
      ("initial", u1, s1, f1),
      ("resync_length", u2, s2, f2),
      ("resync_digest", u3, s3, f3))
      .toDF("phase", "uploaded", "skipped", "failed")
  }

  /** R10-R12 end-to-end: scan → key projection → ObjectSink into a local
    * "bucket"; returns the uploaded manifest (re-listed from the bucket so
    * the result witnesses real writes).
    */
  def uploadSink(spark: SparkSession, sfDir: String): DataFrame = {
    val root = ensureFixture()
    val bucket = new java.io.File(sys.props("java.io.tmpdir"), "graft_tile_bucket")
    // The manifest below is built by re-listing the bucket, so stale objects
    // from an earlier run (different config/fixture) must not leak in.
    clearDir(bucket)
    val tiles = cachedTiles(spark, root)
      .select(objectKey, col("content"), format_string("L%02d", col("level")).as("level_label"))
    ObjectSink.write(
      tiles,
      new HadoopFsStore(s"file://${bucket.getAbsolutePath}"),
      "object_key",
      "content",
      "image/jpg",
      progress = Some((
        "level_label",
        (fixtureCfg.startLevel to fixtureCfg.endLevel).map(l => f"L$l%02d"))))
    spark.read
      .format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(bucket.getAbsolutePath)
      .select(keyFromBucketPath(bucket).as("object_key"), col("length"))
      .orderBy("object_key")
  }
}
