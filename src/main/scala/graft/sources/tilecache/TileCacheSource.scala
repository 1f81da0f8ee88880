package graft.sources.tilecache

import java.io.File
import java.util.{Map => JMap}

import scala.util.matching.Regex

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for an Esri exploded tile cache
  * (`L{level:02d}/R{row:x8}/C{col:x8}.{ext}` — the layout the reference
  * walks imperatively at `Program.cs:99-107`): the cache becomes a
  * queryable TABLE with the keys parsed by the source itself —
  *
  * {{{
  *   spark.read.format("tilecache").load(cacheDir)
  *     .where($"level" === 7)            // prunes to ONE level directory
  *     .select($"level", $"row", $"col") // never opens a single tile file
  * }}}
  *
  * Two scale properties live in the connector rather than the query:
  *
  *  - '''Partition pruning''': level predicates (=, <, <=, >, >=, IN),
  *    alone or in `And`/`Or` trees with row and col comparisons (the
  *    per-level range filter a join with `Tile.tileGrid` plans as, see
  *    `graft.plans.TileGridJoinRule`), are accepted via
  *    `SupportsPushDownFilters` and evaluated against the `L{dd}`
  *    DIRECTORY names when planning input partitions — a deep cache has
  *    millions of files but ≤ ~20 level dirs, so a level-filtered query
  *    never lists (let alone reads) the other levels.
  *  - '''Column pruning''': via `SupportsPushDownRequiredColumns`; the
  *    reader opens tile files ONLY when `content` is in the required
  *    schema. Manifest queries (keys, counts, lengths) run at directory-
  *    listing speed.
  *
  * Input partitions are contiguous runs of R-row directories in
  * (level, row) order, across levels, each holding about the same
  * estimated bytes: about one run per task slot on a small cache, runs of
  * at most `spark.sql.files.maxPartitionBytes` (128 MB by default) on a
  * large one, and never a row directory split in two (see
  * [[TileCacheScan.planInputPartitions]]), so a sink task fed by one run
  * keeps its PUT window full for the whole run. The driver lists level
  * dirs, their row dir names, and one row dir per level; no global file
  * list. Filters are also RE-returned to Spark as residuals (the standard
  * conservative contract: pruning is an optimization, Spark's post-scan
  * filter keeps correctness even for predicates the source only
  * partially applies, e.g. row/col comparisons).
  *
  * Negative row/col (padded probes can go off-world, `Program.cs:102`)
  * round-trip through a two's-complement 8-hex parse ([[TileCacheSource.hex8]]).
  */
class TileCacheSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "tilecache"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TileCacheSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new TileCacheTable(properties.get("path"))

  override def supportsExternalMetadata(): Boolean = false
}

object TileCacheSource {

  val Schema: StructType = StructType(Seq(
    StructField("level", IntegerType, nullable = false),
    StructField("row", IntegerType, nullable = false),
    StructField("col", IntegerType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("length", LongType, nullable = false),
    StructField("content", BinaryType, nullable = true)))

  private[tilecache] val LevelDirRe = "^L(\\d{2})$".r
  private[tilecache] val RowDirRe = "^R([0-9a-f]{8})$".r
  private[tilecache] val TileFileRe = "^C([0-9a-f]{8})\\.[A-Za-z0-9]+$".r

  /** 8-hex-digit two's-complement component → signed Int (the C# `{0:x8}`
    * format of `Program.cs:99`).
    */
  private[tilecache] def hex8(s: String): Int =
    java.lang.Integer.parseUnsignedInt(s, 16)

  /** The entries of `dir` whose names match `re`, keyed by `key` of the
    * captured group and sorted by it. A missing dir lists as empty.
    */
  private[tilecache] def entries(dir: File, re: Regex, key: String => Int): Seq[(Int, File)] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq
      .flatMap { f =>
        f.getName match {
          case re(g) => Some((key(g), f))
          case _ => None
        }
      }
      .sortBy(_._1)

  /** The tile files of one row dir as (col, file), in col order. */
  private[tilecache] def tiles(rowDir: File): Seq[(Int, File)] =
    entries(rowDir, TileFileRe, hex8).filter(_._2.isFile)

  /** Contiguous runs over items of `bytes` (each > 0), in order. The runs
    * fill n = min(#items, ceil(total / split)) slots of total / n bytes:
    * an item joins the slot its byte midpoint falls in, and an item above
    * `split` runs alone. When no item is above total / n, every slot gets
    * at least one item, so there are exactly n runs.
    */
  private[sources] def pack(bytes: IndexedSeq[Long], split: Long): Seq[Range] =
    if (bytes.isEmpty) Nil
    else {
      val total = bytes.sum
      val n = math.min(bytes.length.toLong, (total + split - 1) / split)
      val slot = total.toDouble / n
      var before = 0L
      val keys = bytes.indices.map { i =>
        val mid = before + bytes(i) / 2.0
        before += bytes(i)
        (math.min(n - 1, (mid / slot).toLong), if (bytes(i) > split) i else -1)
      }
      val ends = keys.indices.tail.filter(i => keys(i) != keys(i - 1)) :+ keys.length
      (0 +: ends.init).zip(ends).map { case (from, until) => from until until }
    }

  /** The level test a filter stands for, or None when it is not a level
    * predicate. A comparison or `In` on level is one; so is an `And`/`Or`
    * tree of them with comparisons and `In`s on row and col, which pass
    * every level. Only filters with a test are pushed, and a level
    * directory is listed only when it passes every pushed test.
    */
  private[tilecache] def levelTest(f: Filter): Option[Int => Boolean] = {
    def test(f: Filter): Option[Int => Boolean] = f match {
      case EqualTo("level", v: Int) => Some(_ == v)
      case GreaterThan("level", v: Int) => Some(_ > v)
      case GreaterThanOrEqual("level", v: Int) => Some(_ >= v)
      case LessThan("level", v: Int) => Some(_ < v)
      case LessThanOrEqual("level", v: Int) => Some(_ <= v)
      case In("level", vs) => Some(level => vs.exists { case v: Int => v == level; case _ => false })
      case EqualTo(_, _: Int) | GreaterThan(_, _: Int) | GreaterThanOrEqual(_, _: Int) | LessThan(_, _: Int) |
          LessThanOrEqual(_, _: Int) | In(_, _) if Set("row", "col")(f.references.head) =>
        Some(_ => true)
      case And(a, b) => for (x <- test(a); y <- test(b)) yield (l: Int) => x(l) && y(l)
      case Or(a, b) => for (x <- test(a); y <- test(b)) yield (l: Int) => x(l) || y(l)
      case _ => None
    }
    test(f).filter(_ => f.references.contains("level"))
  }
}

class TileCacheTable(path: String) extends Table with SupportsRead {
  require(path != null, "tilecache: .load(path) is required")

  override def name(): String = s"tilecache(`$path`)"
  override def schema(): StructType = TileCacheSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TileCacheScanBuilder(path)
}

class TileCacheScanBuilder(root: String)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = TileCacheSource.Schema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(TileCacheSource.levelTest(_).isDefined)
    filters // conservative: Spark re-evaluates everything post-scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve source column order; an empty required schema (count(*))
    // still yields zero-column rows with the correct count
    required = StructType(
      TileCacheSource.Schema.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan = new TileCacheScan(root, pushed, required)
}

class TileCacheScan(root: String, pushed: Array[Filter], required: StructType)
    extends Scan
    with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"TileCacheScan root=$root pushed=[${pushed.mkString(", ")}] " +
      s"columns=[${required.fieldNames.mkString(", ")}]"

  /** Contiguous runs of row dirs in (level, row) order, across levels,
    * each holding about the same estimated bytes. Level dirs that fail the
    * pushed predicates are pruned HERE: their row dirs are never listed.
    *
    *  - '''Estimate''': per surviving level, the tile lengths of its
    *    middle row dir times its row-dir count: one row-dir listing per
    *    level on the driver.
    *  - '''Split size''': Spark's file-source rule
    *    (`FilePartition.maxSplitBytes`) with the session's settings:
    *    min(`spark.sql.files.maxPartitionBytes`, max(
    *    `spark.sql.files.openCostInBytes`, total / slots)), where slots is
    *    `spark.sql.files.minPartitionNum`, else the leaf-node default
    *    parallelism. The per-slot share rounds up, so an even spread over
    *    p slots plans p runs, not p + 1.
    *  - '''Runs''': ceil(total / split), at most one per row dir, packed by
    *    [[TileCacheSource.pack]]; a row dir above the split size is a run
    *    of its own and is never split.
    *
    * So a small cache plans about one partition per task slot, and at
    * 100 TB every partition stays near the 128 MB `maxPartitionBytes`
    * default.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val levelTests = pushed.flatMap(TileCacheSource.levelTest)
    val levels = TileCacheSource
      .entries(new File(root), TileCacheSource.LevelDirRe, _.toInt)
      .filter { case (lvl, d) => d.isDirectory && levelTests.forall(_(lvl)) }
    val dirs = levels.flatMap { case (lvl, levelDir) =>
      val rows = TileCacheSource
        .entries(levelDir, TileCacheSource.RowDirRe, TileCacheSource.hex8)
        .filter(_._2.isDirectory)
      // a 1-byte floor keeps an all-empty level in the packing
      lazy val est = math.max(1L, TileCacheSource.tiles(rows(rows.length / 2)._2).map(_._2.length).sum)
      rows.map { case (row, d) => (TileCacheRowDir(lvl, row, d.getAbsolutePath), est) }
    }.toIndexedSeq
    val bytes = dirs.map(_._2)
    TileCacheSource
      .pack(bytes, splitBytes(bytes.sum))
      .map(run => TileCachePartition(run.map(dirs(_)._1)))
      .toArray
  }

  private def splitBytes(total: Long): Long = {
    val conf = SQLConf.get
    val slots = conf.filesMinPartitionNum.getOrElse(Bridge.leafNodeDefaultParallelism(SparkSession.active))
    math.min(conf.filesMaxPartitionBytes, math.max(conf.filesOpenCostInBytes, (total + slots - 1) / slots))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TileCacheReaderFactory(required)
}

/** One row directory of the cache: `L{level}/R{row}` at `path`. */
case class TileCacheRowDir(level: Int, row: Int, path: String)

/** A run of row directories, in (level, row) order. */
case class TileCachePartition(rowDirs: Seq[TileCacheRowDir]) extends InputPartition

class TileCacheReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TileCacheReader(partition.asInstanceOf[TileCachePartition], required)
}

/** Streams a partition's row directories in order, each listed when the
  * reader reaches it. Tile bytes are read lazily and ONLY when the pruned
  * schema still contains `content`.
  */
class TileCacheReader(part: TileCachePartition, required: StructType)
    extends PartitionReader[InternalRow] {

  private type Value = (TileCacheRowDir, Int, File) => Any

  /** One value function per required column, resolved once. */
  private val values: Array[Value] = required.fieldNames.map[Value] {
    case "level" => (d, _, _) => d.level
    case "row" => (d, _, _) => d.row
    case "col" => (_, c, _) => c
    case "path" => (_, _, f) => UTF8String.fromString(f.getAbsolutePath)
    case "length" => (_, _, f) => f.length()
    case "content" => (_, _, f) => java.nio.file.Files.readAllBytes(f.toPath)
  }
  private val files: Iterator[(TileCacheRowDir, Int, File)] =
    part.rowDirs.iterator.flatMap { d =>
      TileCacheSource.tiles(new File(d.path)).map { case (c, f) => (d, c, f) }
    }
  private var current: InternalRow = _

  override def next(): Boolean =
    files.hasNext && {
      val (d, c, f) = files.next()
      current = new GenericInternalRow(values.map(_(d, c, f)))
      true
    }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
