package graft.tile

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Unit goldens from the reference constants (SURVEY.md §5.3): grid counts
  * per level computed from /root/reference/src/Program.cs:24-31,74-81.
  */
class TileSpec extends SparkSuite {
  private val cfg = TileConfig()

  test("grid counts per level match the reference constants") {
    val counts = Tile
      .tileGrid(spark, cfg)
      .groupBy("level")
      .count()
      .orderBy("level")
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    assert(counts == Map(5 -> 289L, 6 -> 361L, 7 -> 529L, 8 -> 992L, 9 -> 2499L, 10 -> 7565L, 11 -> 25584L))
    assert(counts.values.sum == 37819L)
  }

  test("negative indices hex-format as 32-bit two's complement (Program.cs:99)") {
    val row = spark
      .range(1)
      .select(
        Tile.sourcePath(cfg, lit(5), lit(-2), lit(-1)).as("p"),
        Tile.objectKey(cfg, lit(5), lit(-2), lit(-1)).as("k"))
      .head()
    assert(row.getString(0) == "L05/Rfffffffe/Cffffffff.jpg")
    assert(row.getString(1) == "Lite/5/-2/-1")
  }

  test("range math truncates toward zero, not floor (negative extents)") {
    // Southern-hemisphere extent: (Δ - maxY)/tileSize is negative;
    // C# Math.Truncate(-3.7) = -3 while floor gives -4.
    val south = cfg.copy(extentMinY = -6384021, extentMaxY = -3604577, padY = 0)
    val ts = Tile.tileSize(south, lit(5))
    val r = spark
      .range(1)
      .select(Tile.startRow(south, ts).as("sr"), Tile.endRow(south, ts).as("er"))
      .head()
    val tsv = 20037508.34278 * math.pow(2.0, 1 - 5)
    val expSr = ((20037508.34278 - -3604577.0) / tsv).toInt // toInt truncates
    val expEr = ((20037508.34278 - -6384021.0) / tsv).toInt + 1
    assert(r.getInt(0) == expSr && r.getInt(1) == expEr)
  }

  test("tile bbox inverts the containing-tile math (round trip)") {
    val g = Tile
      .tileGrid(spark, cfg)
      .where(col("level") === 7)
      .select(
        Seq(col("level"), col("row"), col("col")) ++
          Tile.tileBBox(cfg, col("level"), col("row"), col("col")): _*)
    // center point of each bbox maps back to the same (row, col)
    val ts = Tile.tileSize(cfg, col("level"))
    val bad = g
      .withColumn("cx", (col("minx") + col("maxx")) / 2)
      .withColumn("cy", (col("miny") + col("maxy")) / 2)
      .withColumn("row2", ((lit(cfg.webMercatorDelta) - col("cy")) / ts).cast("int"))
      .withColumn("col2", ((col("cx") + lit(cfg.webMercatorDelta)) / ts).cast("int"))
      .where(col("row2") =!= col("row") || col("col2") =!= col("col"))
      .count()
    assert(bad == 0)
  }

  test("grid generation is distributed (no single-partition explode)") {
    assert(Tile.tileGrid(spark, cfg).rdd.getNumPartitions > 1)
  }

  /** The Column forms of the range math, evaluated by Spark for levels 0-30. */
  private def sparkRanges(c: TileConfig): Seq[LevelRange] = {
    val ts = Tile.tileSize(c, col("level"))
    spark
      .range(0, 31)
      .select(col("id").cast("int").as("level"))
      .select(col("level"), Tile.startRow(c, ts), Tile.endRow(c, ts), Tile.startCol(c, ts), Tile.endCol(c, ts))
      .orderBy("level")
      .collect()
      .map(r => LevelRange(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .toSeq
  }

  test("driver-side ranges equal Spark's range math at levels 0-30") {
    val south = cfg.copy(extentMinY = -6384021, extentMaxY = -3604577, padY = 0)
    val negativePad = cfg.copy(padX = -3, padY = -2)
    for (c <- Seq(cfg, south, negativePad))
      assert(Tile.ranges(c.copy(startLevel = 0, endLevel = 30)) == sparkRanges(c), c)
    // a negative pad can invert a level's range: it holds no cells, as the
    // reference's `<=` loops enumerate none
    val inverted = Tile.ranges(negativePad.copy(startLevel = 5, endLevel = 5)).head
    assert(inverted.startCol > inverted.endCol && inverted.cells == 0)
    assert(Tile.tileGrid(spark, negativePad.copy(startLevel = 5, endLevel = 5)).count() == 0)
  }

  test("a bound outside Int fails naming its level, not as a wrong grid") {
    val e = intercept[ArithmeticException](Tile.tileGrid(spark, cfg.copy(endLevel = 33)))
    assert(e.getMessage.contains("level 33"), e.getMessage)
  }

  test("grid slices differ by at most one cell") {
    val sizes = Tile.tileGrid(spark, cfg).rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.length > 1 && sizes.sum == 37819)
    assert(sizes.max - sizes.min <= 1, sizes.toSeq)
  }
}
