package graft.tile

import graft.plans.{TileGrid, TileGridStrategy}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Web-Mercator tile-cache ETL domain, re-expressed as Spark column algebra.
  *
  * Behavioral spec: `agrc/tile-etl` (`/root/reference/src/Program.cs`).
  * The reference enumerates the tile coordinate space of an Esri exploded
  * cache for a bounding box across zoom levels, filters to tiles that exist
  * on disk, and uploads each under a slippy-map object key. Here each
  * level's coordinate space is one inclusive rectangle of rows × cols,
  * computed on the driver ([[Tile.ranges]], at most one entry per level),
  * and the cells themselves are a logical plan node
  * ([[graft.plans.TileGrid]]) decoded from a global cell index on the
  * executors — at deep zoom the grid is billions of cells, so it is never
  * enumerated in a driver loop, and a join against it plans as a per-level
  * range filter ([[graft.plans.TileGridJoinRule]]).
  *
  * Correctness traps preserved from the reference (SURVEY.md §2.1):
  *   - `Math.Truncate` (toward zero) semantics → `CAST(double AS INT)`,
  *     not `floor` (Program.cs:76-81); differs for negative operands.
  *   - End bounds get `+1` then padding; all ranges inclusive
  *     (Program.cs:76-81,93-95).
  *   - Padding may push indices negative / off-world; nothing clamps —
  *     the join against real files is the filter (Program.cs:102).
  *   - Source path is 2-digit level + 8-digit lowercase-hex row/col
  *     (Program.cs:99-100); negative ints format as 32-bit two's
  *     complement. Destination key is decimal (Program.cs:113).
  */
final case class TileConfig(
    startLevel: Int = 5,
    endLevel: Int = 11,
    extentMinX: Double = -14078565, // Program.cs:26-29 (Utah, WebMercator m)
    extentMinY: Double = 3604577,
    extentMaxX: Double = -11137983,
    extentMaxY: Double = 6384021,
    padX: Int = 6, // Program.cs:30-31
    padY: Int = 6,
    webMercatorDelta: Double = 20037508.34278, // Program.cs:32
    mapName: String = "Lite", // Program.cs:16
    cacheDir: String = "", // Program.cs:33 equivalent; set per-job
    imageExt: String = "jpg")

/** One level's candidate tiles: rows `startRow..endRow` × cols
  * `startCol..endCol`, inclusive. An inverted range is empty, as in the
  * reference's `row <= endRow` loops.
  */
final case class LevelRange(level: Int, startRow: Int, endRow: Int, startCol: Int, endCol: Int) {
  def rows: Long = math.max(0L, endRow.toLong - startRow + 1)
  def cols: Long = math.max(0L, endCol.toLong - startCol + 1)
  def cells: Long = Math.multiplyExact(rows, cols)
}

object Tile {

  /** `tileSize = Δ * 2^(1-level)` (Program.cs:74). */
  def tileSize(cfg: TileConfig, level: Column): Column =
    lit(cfg.webMercatorDelta) * pow(lit(2.0), lit(1) - level)

  /** Row range, counted from the north/top edge (Program.cs:76-77): the
    * Column form of [[ranges]]' row bounds.
    */
  def startRow(cfg: TileConfig, ts: Column): Column =
    ((lit(cfg.webMercatorDelta) - lit(cfg.extentMaxY)) / ts).cast("int") - lit(cfg.padY)
  def endRow(cfg: TileConfig, ts: Column): Column =
    ((lit(cfg.webMercatorDelta) - lit(cfg.extentMinY)) / ts).cast("int") + lit(1 + cfg.padY)

  /** Column range, from the west/left edge (Program.cs:78-81): the Column
    * form of [[ranges]]' col bounds.
    */
  def startCol(cfg: TileConfig, ts: Column): Column =
    ((lit(cfg.extentMinX) + lit(cfg.webMercatorDelta)) / ts).cast("int") - lit(cfg.padX)
  def endCol(cfg: TileConfig, ts: Column): Column =
    ((lit(cfg.extentMaxX) + lit(cfg.webMercatorDelta)) / ts).cast("int") + lit(1 + cfg.padX)

  /** Per-level inclusive tile ranges, computed on the driver with the same
    * double arithmetic as the Column forms above: `StrictMath.pow` (Spark's
    * `pow`), then truncation toward zero (Spark's `CAST(double AS INT)`).
    * A bound outside `Int` throws an `ArithmeticException` naming its
    * level, as the ANSI cast does, instead of wrapping into a wrong grid.
    */
  def ranges(cfg: TileConfig): IndexedSeq[LevelRange] =
    (cfg.startLevel to cfg.endLevel).map { level =>
      val ts = cfg.webMercatorDelta * StrictMath.pow(2.0, (1 - level).toDouble)
      def trunc(what: String, x: Double): Int =
        if (Math.floor(x) <= Int.MaxValue && Math.ceil(x) >= Int.MinValue) x.toInt
        else throw new ArithmeticException(s"tile level $level: $what bound $x is outside the Int range")
      LevelRange(
        level,
        Math.subtractExact(trunc("row", (cfg.webMercatorDelta - cfg.extentMaxY) / ts), cfg.padY),
        Math.addExact(trunc("row", (cfg.webMercatorDelta - cfg.extentMinY) / ts), 1 + cfg.padY),
        Math.subtractExact(trunc("col", (cfg.extentMinX + cfg.webMercatorDelta) / ts), cfg.padX),
        Math.addExact(trunc("col", (cfg.extentMaxX + cfg.webMercatorDelta) / ts), 1 + cfg.padX))
    }

  /** The full (level, row, col) candidate grid — R1-R5 of the reference
    * (nested loops, Program.cs:71,93-95) — as one [[TileGrid]] plan node.
    *
    * Scale: the node plans as one stage with no exchange. Its exec splits
    * the global cell index into one equal slice per leaf-node task slot and
    * decodes each index to (level, row, col) on the executor, so slices
    * differ by at most one cell at any grid size. A join with it on all
    * three keys plans as a per-level range filter on the other side
    * ([[graft.plans.TileGridJoinRule]], injected by [[graft.GraftExtensions]]).
    * A session built without the extensions gets the node's strategy
    * registered here, the way `AsOfJoin.asof` registers its strategy, and
    * plans such a join as a join.
    */
  def tileGrid(spark: SparkSession, cfg: TileConfig): DataFrame = {
    if (!spark.sessionState.planner.strategies.contains(TileGridStrategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ TileGridStrategy
    Bridge.dataset(spark, TileGrid(cfg))
  }

  /** Esri exploded-cache source path (Program.cs:99-100): lowercase
    * zero-padded hex; `%08x` on a negative IntegerType matches C#'s 32-bit
    * two's-complement output (e.g. -2 → fffffffe). Uses '/' separators
    * (the reference's '\\' is Windows-specific).
    */
  def sourcePath(cfg: TileConfig, level: Column, row: Column, c: Column): Column =
    format_string(
      s"${if (cfg.cacheDir.isEmpty) "" else cfg.cacheDir + "/"}L%02d/R%08x/C%08x.${cfg.imageExt}",
      level, row, c)

  /** Slippy-map destination key `{Map}/{z}/{r}/{c}`, decimal
    * (Program.cs:113).
    */
  def objectKey(cfg: TileConfig, level: Column, row: Column, c: Column): Column =
    concat_ws("/", lit(cfg.mapName), level, row, c)

  /** Inverse of the range math: tile → Web-Mercator bbox (R2-R4 inverted).
    * row 0 starts at the north edge (+Δ), col 0 at the west edge (−Δ).
    */
  def tileBBox(cfg: TileConfig, level: Column, row: Column, c: Column): Seq[Column] = {
    val ts = tileSize(cfg, level)
    Seq(
      (c * ts - lit(cfg.webMercatorDelta)).as("minx"),
      (lit(cfg.webMercatorDelta) - (row + lit(1)) * ts).as("miny"),
      ((c + lit(1)) * ts - lit(cfg.webMercatorDelta)).as("maxx"),
      (lit(cfg.webMercatorDelta) - row * ts).as("maxy"))
  }
}
