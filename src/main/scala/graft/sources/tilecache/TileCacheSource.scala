package graft.sources.tilecache

import java.util.{List => JList, Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
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
  *  - '''Partition pruning''': level predicates (=, <, <=, >, >=, IN) are
  *    accepted via `SupportsPushDownFilters` and evaluated against the
  *    `L{dd}` DIRECTORY names when planning input partitions — a deep
  *    cache has millions of files but ≤ ~20 level dirs, so a level-
  *    filtered query never lists (let alone reads) the other levels.
  *  - '''Column pruning''': via `SupportsPushDownRequiredColumns`; the
  *    reader opens tile files ONLY when `content` is in the required
  *    schema. Manifest queries (keys, counts, lengths) run at directory-
  *    listing speed.
  *
  * One input partition per (level, R-row directory): at real scale the
  * row dirs inside a level are the natural parallelism grain (a level-11
  * cache holds thousands of R dirs), and each reader streams one
  * directory listing — no global file list on the driver beyond dir
  * names. Filters are also RE-returned to Spark as residuals (the
  * standard conservative contract: pruning is an optimization, Spark's
  * post-scan filter keeps correctness even for predicates the source
  * only partially applies, e.g. row/col comparisons).
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

  /** The level test a filter stands for, or None when it is not a level
    * predicate. Only filters with a test are pushed, and a level
    * directory is listed only when it passes every pushed test.
    */
  private[tilecache] def levelTest(f: Filter): Option[Int => Boolean] = f match {
    case EqualTo("level", v: Int) => Some(_ == v)
    case GreaterThan("level", v: Int) => Some(_ > v)
    case GreaterThanOrEqual("level", v: Int) => Some(_ >= v)
    case LessThan("level", v: Int) => Some(_ < v)
    case LessThanOrEqual("level", v: Int) => Some(_ <= v)
    case In("level", vs) => Some(level => vs.exists { case v: Int => v == level; case _ => false })
    case _ => None
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

  /** One partition per (level dir, row dir): level dirs that fail the
    * pushed predicates are pruned HERE — their row dirs are never even
    * listed.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val rootFile = new java.io.File(root)
    val levelTests = pushed.flatMap(TileCacheSource.levelTest)
    val levelDirs = Option(rootFile.listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.isDirectory)
      .flatMap { d =>
        d.getName match {
          case TileCacheSource.LevelDirRe(dd) => Some((dd.toInt, d))
          case _ => None
        }
      }
      .filter { case (lvl, _) => levelTests.forall(_(lvl)) }
    levelDirs
      .flatMap { case (lvl, dir) =>
        Option(dir.listFiles()).getOrElse(Array.empty).toSeq
          .filter(_.isDirectory)
          .flatMap { rd =>
            rd.getName match {
              case TileCacheSource.RowDirRe(hex) =>
                Some(TileCachePartition(lvl, TileCacheSource.hex8(hex), rd.getAbsolutePath))
              case _ => None
            }
          }
      }
      .sortBy(p => (p.level, p.row)) // deterministic partition order
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TileCacheReaderFactory(required)
}

case class TileCachePartition(level: Int, row: Int, rowDirPath: String) extends InputPartition

class TileCacheReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TileCacheReader(partition.asInstanceOf[TileCachePartition], required)
}

/** Streams one row directory. Tile bytes are read lazily and ONLY when
  * the pruned schema still contains `content`.
  */
class TileCacheReader(part: TileCachePartition, required: StructType)
    extends PartitionReader[InternalRow] {

  private val needContent = required.fieldNames.contains("content")
  private val files: Iterator[(Int, java.io.File)] = {
    val listed = Option(new java.io.File(part.rowDirPath).listFiles())
      .getOrElse(Array.empty)
      .toSeq
      .filter(_.isFile)
      .flatMap { f =>
        f.getName match {
          case TileCacheSource.TileFileRe(hex) => Some((TileCacheSource.hex8(hex), f))
          case _ => None
        }
      }
      .sortBy(_._1)
    listed.iterator
  }
  private var current: InternalRow = _

  override def next(): Boolean =
    if (!files.hasNext) false
    else {
      val (colIdx, f) = files.next()
      val values = required.fieldNames.map {
        case "level" => part.level
        case "row" => part.row
        case "col" => colIdx
        case "path" => UTF8String.fromString(f.getAbsolutePath)
        case "length" => f.length()
        case "content" => java.nio.file.Files.readAllBytes(f.toPath)
      }
      current = new GenericInternalRow(values.asInstanceOf[Array[Any]])
      true
    }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
