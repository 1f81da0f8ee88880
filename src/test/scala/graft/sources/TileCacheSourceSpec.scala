package graft.sources

import graft.SparkSuite
import graft.sources.tilecache._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources.{And, EqualTo, Filter, In, LessThanOrEqual, Or}

/** DataSource V2 tile-cache connector: the scan manifest against the
  * fixture's arithmetic present set, row-directory packing into input
  * partitions, level-directory partition pruning, content-column pruning,
  * and the two's-complement hex key round trip.
  */
class TileCacheSourceSpec extends SparkSuite {

  private lazy val root = graft.queries.TileCacheQueries.ensureFixture()

  /** The planned input partitions, each as its run of row dirs. */
  private def runs(pushed: Array[Filter] = Array.empty): Seq[Seq[TileCacheRowDir]] =
    new TileCacheScan(root, pushed, TileCacheSource.Schema)
      .planInputPartitions()
      .toSeq
      .map(_.asInstanceOf[TileCachePartition].rowDirs)

  /** The planned row dirs as (level, row), in partition order. */
  private def rowDirs(pushed: Array[Filter] = Array.empty): Seq[(Int, Int)] =
    runs(pushed).flatten.map(d => (d.level, d.row))

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f
    finally prev match {
      case Some(v0) => spark.conf.set(key, v0)
      case None => spark.conf.unset(key)
    }
  }

  private def assertManifestIsFixture(): Unit = {
    val got = graft.queries.TileCacheQueries
      .cacheScan(spark, sf001)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4)))
    val want = graft.queries.TileCacheQueries.fixturePresent.map { case (l, r, c) =>
      (l, r, c, s"Lite/$l/$r/$c", s"tile-$l-$r-$c".getBytes("UTF-8").length.toLong)
    }
    assert(want.nonEmpty)
    assert(got.length == got.toSet.size, "duplicate manifest rows")
    // every present tile appears, and nothing else (no gap, no off-world)
    assert(got.toSet == want.toSet)
  }

  test("connector manifest equals the fixture's arithmetic present set") {
    assertManifestIsFixture()
  }

  test("row directories pack into contiguous byte-balanced runs, about one per slot") {
    val listed = graft.queries.TileCacheQueries.fixturePresent.map { case (l, r, _) => (l, r) }.distinct.sorted
    assert(listed.length > 1)
    // every listed row dir lands in exactly one run, in (level, row) order
    assert(runs().forall(_.nonEmpty))
    assert(rowDirs() == listed)
    // a split size below every row dir (each holds >= 1 tile of >= 10 bytes):
    // one dir per run, and the scan still reads every tile exactly once
    withConf("spark.sql.files.maxPartitionBytes", "8") {
      assert(runs().map(_.length) == Seq.fill(listed.length)(1))
      assertManifestIsFixture()
    }
    // no open cost: the estimated bytes spread evenly over the task slots
    withConf("spark.sql.files.openCostInBytes", "1") {
      assert(runs().length == math.min(listed.length, Bridge.leafNodeDefaultParallelism(spark)))
    }
  }

  test("pack: even runs over uniform row dirs, and a row dir above the split runs alone") {
    // 90 equal dirs over 4 slots: the rounded-up share plans 4 runs, not 5
    val even = TileCacheSource.pack(Vector.fill(90)(5L), split = (450L + 3) / 4)
    assert(even.length == 4 && even.flatten == (0 until 90))
    assert(even.map(_.length).max - even.map(_.length).min <= 1, even)
    // 2 slots of 4.5 bytes: by midpoint alone the 6-byte dir would share the first
    assert(TileCacheSource.pack(Vector(1L, 6L, 1L, 1L), split = 5) == Seq(0 until 1, 1 until 2, 2 until 4))
    assert(TileCacheSource.pack(Vector.empty, split = 1).isEmpty)
  }

  test("level predicates prune whole level directories at planning time") {
    val all = rowDirs()
    val only3 = rowDirs(Array(EqualTo("level", 3)))
    val le3 = rowDirs(Array(LessThanOrEqual("level", 3)))
    val in24 = rowDirs(Array(In("level", Array(2, 4))))
    assert(all.nonEmpty && only3.nonEmpty && only3.length < all.length)
    assert(only3.toSet == all.filter(_._1 == 3).toSet)
    assert(le3.toSet == all.filter(_._1 <= 3).toSet)
    assert(in24.toSet == all.filter(d => Set(2, 4)(d._1)).toSet)
    // 2..4 partitioned exactly: disjoint, and together every row dir
    assert(only3.toSet.intersect(in24.toSet).isEmpty && only3.toSet ++ in24.toSet == all.toSet)
    // and the pushdown is wired through the ScanBuilder, not just the Scan
    val sb = new TileCacheScanBuilder(root)
    sb.pushFilters(Array(EqualTo("level", 3), EqualTo("row", 1)))
    assert(sb.pushedFilters().toSeq == Seq(EqualTo("level", 3))) // level only
  }

  test("filtered read through the session applies pruning and stays correct") {
    val df = spark.read.format("tilecache").load(root).where(col("level") === 3)
    val scan = df.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b.scan }
      .get
    assert(scan.description().contains("EqualTo(level,3)"), scan.description())
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getInt(0) == 3))
  }

  test("content column is pruned: manifest projections never carry bytes") {
    val df = spark.read.format("tilecache").load(root).select("level", "row", "col", "length")
    val scan = df.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b.scan }
      .get
    assert(!scan.readSchema().fieldNames.contains("content"), scan.readSchema().treeString)
    assert(df.count() > 0)
    // when content IS projected, bytes round-trip the fixture payloads
    val withBytes = spark.read
      .format("tilecache")
      .load(root)
      .where(col("level") === 2)
      .select("level", "row", "col", "content")
      .collect()
    assert(withBytes.nonEmpty)
    withBytes.foreach { r =>
      val expect = s"tile-${r.getInt(0)}-${r.getInt(1)}-${r.getInt(2)}"
      assert(new String(r.getAs[Array[Byte]](3), "UTF-8") == expect)
    }
  }

  test("two's-complement hex components round-trip negative indices") {
    // hand-build a cache with a negative column (level-5 padding reality)
    val dir = java.nio.file.Files.createTempDirectory("graft_tc_neg").toFile
    val f = new java.io.File(dir, "L05/Rfffffffe/Cfffffffd.jpg")
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, "x".getBytes)
    val rows = spark.read
      .format("tilecache")
      .load(dir.getAbsolutePath)
      .select("level", "row", "col")
      .collect()
    assert(rows.length == 1)
    assert(rows(0).getInt(0) == 5 && rows(0).getInt(1) == -2 && rows(0).getInt(2) == -3)
  }

  test("a grid join lists only the grid's level dirs, by the pushed ranges") {
    import graft.plans.TileGridJoinRule
    import graft.tile.{Tile, TileConfig}
    val ext = graft.ExtSession.spark
    // levels 3-9 of the default extent (pad 1), each with two row dirs
    // beyond either end of its range and a col beyond either end per row
    val cfg = TileConfig(startLevel = 3, endLevel = 9, padX = 1, padY = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_tc_ranges").toFile
    for (g <- Tile.ranges(cfg); r <- g.startRow - 2 to g.endRow + 2; c <- Seq(g.startCol - 1, g.startCol, g.endCol + 1)) {
      val f = new java.io.File(dir, f"L${g.level}%02d/R$r%08x/C$c%08x.jpg")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, s"${g.level}-$r-$c".getBytes("UTF-8"))
    }
    val grid = cfg.copy(startLevel = 5, endLevel = 6)
    def joined() =
      ext.read.format("tilecache").load(dir.getAbsolutePath).join(Tile.tileGrid(ext, grid), Seq("level", "row", "col"))
    val df = joined()
    val scan = df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b.scan }.get
    val planned = scan.toBatch.planInputPartitions().toSeq
      .flatMap(_.asInstanceOf[TileCachePartition].rowDirs)
      .map(d => (d.level, d.row))
    val want = for (g <- Tile.ranges(grid); r <- g.startRow - 2 to g.endRow + 2) yield (g.level, r)
    assert(planned.sorted == want.sorted)
    // a range tree without a level term is not pushed
    val rowOnly = Or(And(EqualTo("row", 1), EqualTo("col", 2)), EqualTo("row", 3))
    val sb = new TileCacheScanBuilder(dir.getAbsolutePath)
    sb.pushFilters(Array(rowOnly))
    assert(sb.pushedFilters().isEmpty)
    // and the rows are the join's rows
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("level", "row", "col", "length").collect().map(_.toString).toSeq.sorted
    val off = {
      val key = "spark.sql.optimizer.excludedRules"
      ext.conf.set(key, TileGridJoinRule.ruleName)
      try rows(joined())
      finally ext.conf.unset(key)
    }
    assert(off.nonEmpty && rows(df) == off)
  }
}
