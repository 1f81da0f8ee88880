package graft.queries

import graft.Q
import graft.tile.{Tile, TileConfig}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tile-domain queries (SURVEY.md §2.2-A) — the reference's dataflow
  * (R1-R9, /root/reference/src/Program.cs:71-113) on generated ranges.
  * Oracle side uses DuckDB generate_series; note DuckDB `CAST(x AS INT)`
  * ROUNDS, so truncation must be spelled `trunc(x)` before the cast.
  */
object TileQueries {
  private val cfg = TileConfig()

  // Shared DuckDB CTE: per-level inclusive ranges (Program.cs:74-81).
  private val rangesCte =
    """WITH lv AS (SELECT CAST(unnest(generate_series(5, 11)) AS INT) AS level),
      |b AS (SELECT level, 20037508.34278 * power(2.0, 1 - level) AS tile_size FROM lv),
      |rg AS (SELECT level,
      |  CAST(trunc((20037508.34278 - 6384021.0) / tile_size) AS INT) - 6 AS start_row,
      |  CAST(trunc((20037508.34278 - 3604577.0) / tile_size) AS INT) + 1 + 6 AS end_row,
      |  CAST(trunc((-14078565.0 + 20037508.34278) / tile_size) AS INT) - 6 AS start_col,
      |  CAST(trunc((-11137983.0 + 20037508.34278) / tile_size) AS INT) + 1 + 6 AS end_col
      | FROM b),
      |grid AS (SELECT level, CAST(r.r AS INT) AS tile_row, CAST(c.c AS INT) AS tile_col
      | FROM rg,
      |  LATERAL (SELECT unnest(generate_series(start_row, end_row)) AS r) r,
      |  LATERAL (SELECT unnest(generate_series(start_col, end_col)) AS c) c)
      |""".stripMargin

  private def grid(spark: SparkSession): DataFrame =
    Tile
      .tileGrid(spark, cfg)
      .withColumnRenamed("row", "tile_row")
      .withColumnRenamed("col", "tile_col")

  def tileGridEnum(spark: SparkSession, sfDir: String): DataFrame =
    grid(spark).orderBy("level", "tile_row", "tile_col")

  def tilePathFormat(spark: SparkSession, sfDir: String): DataFrame =
    grid(spark)
      .select(
        col("level"),
        col("tile_row"),
        col("tile_col"),
        Tile.sourcePath(cfg, col("level"), col("tile_row"), col("tile_col")).as("path"))
      .orderBy("level", "tile_row", "tile_col")

  def tileObjectKey(spark: SparkSession, sfDir: String): DataFrame =
    grid(spark)
      .select(
        col("level"),
        col("tile_row"),
        col("tile_col"),
        Tile.objectKey(cfg, col("level"), col("tile_row"), col("tile_col")).as("object_key"))
      .orderBy("level", "tile_row", "tile_col")

  def tileExtentMath(spark: SparkSession, sfDir: String): DataFrame =
    grid(spark)
      .select(
        Seq(col("level"), col("tile_row"), col("tile_col")) ++
          Tile.tileBBox(cfg, col("level"), col("tile_row"), col("tile_col")): _*)
      .orderBy("level", "tile_row", "tile_col")

  /** Pyramid rollup: each tile at levels 6..11 aggregates to its parent
    * at level-1 via arithmetic right-shift of row/col (shift = floor-by-2
    * in both engines, correct even for negative coordinates — `div`
    * truncates toward zero and would disagree below the axis). The
    * standard overview-building aggregation a tile pipeline runs after
    * the leaf level lands; counts per parent prove coverage (interior
    * parents see 4 children, grid-edge parents fewer). Scale shape: pure
    * partial-agg shuffle on the parent key, children never co-located
    * beforehand.
    */
  def tilePyramidRollup(spark: SparkSession, sfDir: String): DataFrame =
    grid(spark)
      .where(col("level") > 5)
      .select(
        (col("level") - 1).as("parent_level"),
        shiftright(col("tile_row"), 1).as("parent_row"),
        shiftright(col("tile_col"), 1).as("parent_col"))
      .groupBy("parent_level", "parent_row", "parent_col")
      .agg(count(lit(1)).as("n_children"))
      .orderBy("parent_level", "parent_row", "parent_col")

  /** Bing-maps quadkey for every in-world grid tile: the third key scheme
    * beside the Esri hex path (R6) and the slippy decimal key (R9). A
    * quadkey's base-4 digits are the Morton interleave of (row, col) read
    * two bits at a time (digit = 2·rowbit + colbit, MSB first), and its
    * defining property — a parent's key is its child's key minus the last
    * digit — is what makes prefix range scans enumerate subtrees in
    * key-sorted object stores. Pure integer bit math (the same magic-mask
    * spread as `q_layout_zorder`), so the DuckDB twin is bit-identical;
    * out-of-world probe cells (negative / past-edge padding indices,
    * Program.cs:102's silent misses) have no quadkey and are filtered.
    */
  def tileQuadkey(spark: SparkSession, sfDir: String): DataFrame = {
    def spread(c: Column): Column = {
      val a = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00ff00ffL))
      val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0f0f0f0fL))
      val d = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
      d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
    }
    grid(spark)
      .where(
        col("tile_row") >= 0 && col("tile_col") >= 0 &&
          col("tile_row") < expr("shiftleft(1, level)") &&
          col("tile_col") < expr("shiftleft(1, level)"))
      .select(
        col("level"),
        col("tile_row"),
        col("tile_col"),
        lpad(
          conv(
            (spread(col("tile_row").cast("long")) * 2 +
              spread(col("tile_col").cast("long"))).cast("string"),
            10,
            4),
          11,
          "0").substr(lit(12) - col("level"), col("level")).as("quadkey"))
      .orderBy("level", "tile_row", "tile_col")
  }

  val all: Seq[(String, Q)] = Seq(
    "tile_grid_enum" -> Q(
      tileGridEnum,
      Some(
        rangesCte +
          "SELECT level, tile_row, tile_col FROM grid ORDER BY level, tile_row, tile_col")),
    "tile_path_format" -> Q(
      tilePathFormat,
      Some(
        rangesCte +
          """SELECT level, tile_row, tile_col,
            | printf('L%02d/R%08x/C%08x.jpg', level,
            |        CAST(tile_row AS BIGINT) & 4294967295,
            |        CAST(tile_col AS BIGINT) & 4294967295) AS path
            |FROM grid ORDER BY level, tile_row, tile_col""".stripMargin)),
    "tile_object_key" -> Q(
      tileObjectKey,
      Some(
        rangesCte +
          """SELECT level, tile_row, tile_col,
            | concat_ws('/', 'Lite', level, tile_row, tile_col) AS object_key
            |FROM grid ORDER BY level, tile_row, tile_col""".stripMargin)),
    "tile_extent_math" -> Q(
      tileExtentMath,
      Some(
        rangesCte +
          """SELECT level, tile_row, tile_col,
            | tile_col * ts - 20037508.34278 AS minx,
            | 20037508.34278 - (tile_row + 1) * ts AS miny,
            | (tile_col + 1) * ts - 20037508.34278 AS maxx,
            | 20037508.34278 - tile_row * ts AS maxy
            |FROM (SELECT g.*, 20037508.34278 * power(2.0, 1 - level) AS ts FROM grid g)
            |ORDER BY level, tile_row, tile_col""".stripMargin)),
    "tile_quadkey" -> Q(
      tileQuadkey,
      Some(
        rangesCte +
          """, wg AS (
            | SELECT level, CAST(tile_row AS BIGINT) AS r, CAST(tile_col AS BIGINT) AS c,
            |        tile_row, tile_col
            | FROM grid
            | WHERE tile_row >= 0 AND tile_col >= 0
            |   AND tile_row < (1 << level) AND tile_col < (1 << level)),
            |s1 AS (SELECT level, tile_row, tile_col,
            |  ((r | (r << 8)) & 16711935) AS r, ((c | (c << 8)) & 16711935) AS c FROM wg),
            |s2 AS (SELECT level, tile_row, tile_col,
            |  ((r | (r << 4)) & 252645135) AS r, ((c | (c << 4)) & 252645135) AS c FROM s1),
            |s3 AS (SELECT level, tile_row, tile_col,
            |  ((r | (r << 2)) & 858993459) AS r, ((c | (c << 2)) & 858993459) AS c FROM s2),
            |s4 AS (SELECT level, tile_row, tile_col,
            |  ((r | (r << 1)) & 1431655765) AS r, ((c | (c << 1)) & 1431655765) AS c FROM s3)
            |SELECT level, tile_row, tile_col,
            | substr(lpad(to_base(r * 2 + c, 4), 11, '0'), 12 - level, level) AS quadkey
            |FROM s4 ORDER BY level, tile_row, tile_col""".stripMargin)),
    "tile_cache_scan" -> Q(
      TileCacheQueries.cacheScan,
      // Arithmetic replay of the deterministic fixture (FIXTURES.md §B),
      // the same end-to-end contract tile_cache_coverage already carries:
      // the grid from the extent formulas, presence from the gap rule,
      // object keys/lengths from the generator's own string arithmetic.
      // A real-filesystem/arithmetic divergence (missing tile, stale dir,
      // mis-parsed hex path in the tilecache connector) fails the hash
      // match.
      Some(
        TileCacheQueries.fixtureCte +
          """SELECT level, tile_row, tile_col,
            | concat('Lite/', level, '/', tile_row, '/', tile_col) AS object_key,
            | CAST(length(concat('tile-', level, '-', tile_row, '-', tile_col)) AS BIGINT) AS length
            |FROM present ORDER BY level, tile_row, tile_col""".stripMargin),
      bench = false),
    "tile_cache_coverage" -> Q(
      TileCacheQueries.cacheCoverage,
      // the oracle recomputes BOTH sides arithmetically: the grid from
      // the fixture extent formulas (trunc-toward-zero, +1+pad bounds),
      // presence from the fixture generator's gap rule — a divergence
      // between the real filesystem listing and this arithmetic fails
      // the hash match (see cacheCoverage scaladoc)
      Some("""WITH lv AS (SELECT CAST(unnest(generate_series(2, 4)) AS INT) AS level),
             |b AS (SELECT level, 20037508.34278 * power(2.0, 1 - level) AS tile_size FROM lv),
             |rg AS (SELECT level,
             |  CAST(trunc((20037508.34278 - 6384021.0) / tile_size) AS INT) - 1 AS start_row,
             |  CAST(trunc((20037508.34278 - 3604577.0) / tile_size) AS INT) + 1 + 1 AS end_row,
             |  CAST(trunc((-14078565.0 + 20037508.34278) / tile_size) AS INT) - 1 AS start_col,
             |  CAST(trunc((-11137983.0 + 20037508.34278) / tile_size) AS INT) + 1 + 1 AS end_col
             | FROM b),
             |grid AS (SELECT level, CAST(r.r AS INT) AS tile_row, CAST(c.c AS INT) AS tile_col
             | FROM rg,
             |  LATERAL (SELECT unnest(generate_series(start_row, end_row)) AS r) r,
             |  LATERAL (SELECT unnest(generate_series(start_col, end_col)) AS c) c)
             |SELECT level, count(1) AS n_cells,
             | CAST(sum(CASE WHEN (tile_row + tile_col + level) % 3 <> 0
             |                AND tile_row >= 0 AND tile_col >= 0
             |               THEN 1 ELSE 0 END) AS BIGINT) AS n_cached,
             | round(CAST(sum(CASE WHEN (tile_row + tile_col + level) % 3 <> 0
             |                      AND tile_row >= 0 AND tile_col >= 0
             |                     THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(1) AS DOUBLE), 4) AS coverage
             |FROM grid GROUP BY level ORDER BY level""".stripMargin),
      bench = false),
    "tile_upload_sink" -> Q(
      TileCacheQueries.uploadSink,
      // The registry upload injects no faults, so the re-listed bucket
      // manifest must equal the arithmetic fixture exactly: every PUT
      // that the sink claims succeeded must exist on disk at the right
      // key with the right byte length (fault paths are spec-pinned in
      // ObjectSinkSpec, where mutation is allowed).
      Some(
        TileCacheQueries.fixtureCte +
          """SELECT concat('Lite/', level, '/', tile_row, '/', tile_col) AS object_key,
            | CAST(length(concat('tile-', level, '-', tile_row, '-', tile_col)) AS BIGINT) AS length
            |FROM present ORDER BY object_key""".stripMargin),
      bench = false),
    "tile_delta_sync" -> Q(
      TileCacheQueries.deltaSync,
      // Clean-bucket double-run is deterministic: first pass uploads the
      // whole fixture (N tiles), second pass skips everything — N comes
      // from the same arithmetic present-set, so a sync that re-uploads
      // (or silently drops) even one tile fails the hash match. The
      // mtime/modify incremental cases stay in TileCacheSpec.
      Some(
        TileCacheQueries.fixtureCte +
          """, n AS (SELECT count(1) AS n FROM present)
            |SELECT 'initial' AS phase, n AS uploaded,
            | CAST(0 AS BIGINT) AS skipped, CAST(0 AS BIGINT) AS failed FROM n
            |UNION ALL
            |SELECT 'resync', CAST(0 AS BIGINT), n, CAST(0 AS BIGINT) FROM n
            |ORDER BY phase""".stripMargin),
      bench = false),
    "tile_delta_sync_digest" -> Q(
      TileCacheQueries.deltaSyncDigest,
      // After the same-length corruption of exactly ONE bucket object,
      // the (key, length) quick-check resync must skip ALL N tiles (the
      // documented blind spot) and the digest-mode resync must re-upload
      // EXACTLY one — a digest that misses the corruption, or one that
      // spuriously re-uploads clean tiles, breaks the hash match. N is
      // the same arithmetic present-set as `tile_delta_sync`.
      Some(
        TileCacheQueries.fixtureCte +
          """, n AS (SELECT count(1) AS n FROM present)
            |SELECT 'initial' AS phase, n AS uploaded,
            | CAST(0 AS BIGINT) AS skipped, CAST(0 AS BIGINT) AS failed FROM n
            |UNION ALL
            |SELECT 'resync_length', CAST(0 AS BIGINT), n, CAST(0 AS BIGINT) FROM n
            |UNION ALL
            |SELECT 'resync_digest', CAST(1 AS BIGINT), n - 1, CAST(0 AS BIGINT) FROM n
            |ORDER BY phase""".stripMargin),
      bench = false),
    "tile_pyramid_rollup" -> Q(
      tilePyramidRollup,
      Some(
        rangesCte +
          """SELECT level - 1 AS parent_level,
            | tile_row >> 1 AS parent_row, tile_col >> 1 AS parent_col,
            | count(1) AS n_children
            |FROM grid WHERE level > 5
            |GROUP BY 1, 2, 3
            |ORDER BY parent_level, parent_row, parent_col""".stripMargin)))
}
