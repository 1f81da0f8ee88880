package graft.plans

import graft.{ExtSession, SparkSuite}
import graft.queries.TileCacheQueries
import graft.tile.{LevelRange, Tile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

/** The grid join as a range filter: where [[TileGridJoinRule]] fires, the
  * rows it returns equal the join's rows with the rule excluded; where it
  * must not fire, the join stays. Plus the fallback strategy in a
  * session without extensions, the plan with no exchange, and the exec's
  * slice decoding.
  */
class TileGridSpec extends SparkSuite {

  private lazy val ext = ExtSession.spark
  private lazy val root = TileCacheQueries.ensureFixture()
  // levels 3-4 of the fixture, no col padding: some fixture tiles of
  // every level fall outside the grid, and level 2 falls out entirely
  private val cfg = TileCacheQueries.fixtureCfg.copy(startLevel = 3, padX = 0)
  private val keys = Seq("level", "row", "col")

  private def withConf[T](s: SparkSession, kv: (String, String)*)(f: => T): T = {
    val prev = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  private def joinsGrid(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case j: Join => j.children.exists(_.exists(_.isInstanceOf[TileGrid]))
      case _ => false
    }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** `build` planned with and without the rule: the join goes exactly when
    * `fires`, and the rows are the same either way.
    */
  private def check(s: SparkSession, fires: Boolean)(build: (DataFrame, DataFrame) => DataFrame): Unit = {
    def df() = build(s.read.format("tilecache").load(root), Tile.tileGrid(s, cfg))
    val on = df()
    assert(joinsGrid(on) != fires, on.queryExecution.optimizedPlan)
    val off = withConf(s, "spark.sql.optimizer.excludedRules" -> TileGridJoinRule.ruleName) {
      val d = df()
      assert(joinsGrid(d), d.queryExecution.optimizedPlan)
      rows(d)
    }
    assert(off.nonEmpty)
    assert(rows(on) == off)
  }

  /** The fixture's tiles inside `cfg`'s ranges, from arithmetic alone. */
  private def inGrid: Seq[String] = {
    val rs = Tile.ranges(cfg)
    TileCacheQueries.fixturePresent.collect {
      case (l, r, c) if rs.exists(g => g.level == l && g.startRow <= r && r <= g.endRow && g.startCol <= c && c <= g.endCol) =>
        s"[$l,$r,$c]"
    }.sorted
  }

  test("inner joins with the grid on either side become a range filter") {
    check(ext, fires = true)((scan, grid) => scan.join(grid, keys).select("level", "row", "col", "length"))
    check(ext, fires = true)((scan, grid) => grid.join(scan, keys).select("level", "row", "col", "path"))
    val got = rows(ext.read.format("tilecache").load(root).join(Tile.tileGrid(ext, cfg), keys).select("level", "row", "col"))
    assert(got == inGrid)
  }

  test("left-semi joins, filtered grids and filtered scans become a range filter") {
    check(ext, fires = true)((scan, grid) => scan.join(grid, keys, "left_semi").select("level", "row", "col"))
    check(ext, fires = true)((scan, grid) => scan.join(grid.where(col("level") === 3), keys).select("level", "row", "col"))
    check(ext, fires = true)((scan, grid) => scan.where(col("level") === 4).join(grid, keys).select("level", "row", "col"))
  }

  test("a non-USING join keeps the grid's own columns as aliases of the matched keys") {
    check(ext, fires = true) { (scan, grid) =>
      scan
        .join(grid, scan("level") === grid("level") && scan("row") === grid("row") && scan("col") === grid("col"))
        .select(grid("level"), grid("row").as("grid_row"), scan("col"), scan("length"))
    }
    // Spark's optimizer folds `row + 0` to `row` before the rule runs, so
    // this is a three-key join by then
    check(ext, fires = true) { (scan, grid) =>
      scan
        .join(grid, scan("level") === grid("level") && scan("row") + 0 === grid("row") && scan("col") === grid("col"))
        .select(scan("level"), scan("row"), scan("col"))
    }
  }

  test("outer, anti, partial-key and expression-key joins keep their join") {
    check(ext, fires = false)((scan, grid) => scan.join(grid, keys, "left_outer").select("level", "row", "col"))
    check(ext, fires = false)((scan, grid) => scan.join(grid, keys, "full_outer").select("level", "row", "col"))
    check(ext, fires = false)((scan, grid) => scan.join(grid, keys, "left_anti").select("level", "row", "col"))
    check(ext, fires = false) { (scan, grid) =>
      scan.join(grid, Seq("level", "row")).select(col("level"), col("row"), scan("col"), grid("col"))
    }
    check(ext, fires = false) { (scan, grid) =>
      scan
        .join(grid, scan("level") === grid("level") && scan("row") + 1 === grid("row") + 1 && scan("col") === grid("col"))
        .select(scan("level"), scan("row"), scan("col"))
    }
  }

  test("a session without extensions gets the same rows through the fallback strategy") {
    val df = spark.read.format("tilecache").load(root).join(Tile.tileGrid(spark, cfg), keys).select("level", "row", "col")
    assert(rows(df) == inGrid)
  }

  test("the upload plan has no exchange and no join, even with broadcast off") {
    withConf(ext, "spark.sql.autoBroadcastJoinThreshold" -> "-1", "spark.sql.adaptive.enabled" -> "false") {
      val plan = ext.read
        .format("tilecache")
        .load(root)
        .join(Tile.tileGrid(ext, cfg), keys)
        .select(Tile.objectKey(cfg, col("level"), col("row"), col("col")).as("object_key"), col("content"))
        .queryExecution
        .executedPlan
      assert(plan.collect { case e: Exchange => e }.isEmpty, plan)
      assert(plan.collect { case j: BaseJoinExec => j }.isEmpty, plan)
      assert(plan.collect { case s: BatchScanExec => s }.length == 1, plan)
    }
  }

  test("every slicing of the cell index decodes the grid in order, across an empty level") {
    val ranges = Array(LevelRange(1, 0, 1, 0, 2), LevelRange(2, 5, 4, 0, 3), LevelRange(3, -2, 0, 7, 8))
    val offsets = ranges.scanLeft(0L)(_ + _.cells)
    val want = for (g <- ranges.toSeq; r <- g.startRow to g.endRow; c <- g.startCol to g.endCol) yield (g.level, r, c)
    for (n <- 1 to 13) {
      val slices = (0 until n).map(i => (want.length.toLong * i / n, want.length.toLong * (i + 1) / n))
      val got = slices.flatMap { case (from, until) =>
        TileGridExec.decode(ranges, offsets, from, until).map(x => (x.getInt(0), x.getInt(1), x.getInt(2))).toSeq
      }
      assert(got == want, s"$n slices")
    }
  }
}
