package graft.sources

import graft.SparkSuite
import graft.sources.tilecache._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, In, LessThanOrEqual}

/** DataSource V2 tile-cache connector: the scan manifest against the
  * fixture's arithmetic present set, level-directory partition pruning,
  * content-column pruning, and the two's-complement hex key round trip.
  */
class TileCacheSourceSpec extends SparkSuite {

  private lazy val root = graft.queries.TileCacheQueries.ensureFixture()

  test("connector manifest equals the fixture's arithmetic present set") {
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

  test("level predicates prune whole level directories at planning time") {
    val all = new TileCacheScan(root, Array.empty, TileCacheSource.Schema)
      .planInputPartitions()
    val only3 = new TileCacheScan(root, Array(EqualTo("level", 3)), TileCacheSource.Schema)
      .planInputPartitions()
    val le3 = new TileCacheScan(root, Array(LessThanOrEqual("level", 3)), TileCacheSource.Schema)
      .planInputPartitions()
    val in24 = new TileCacheScan(root, Array(In("level", Array(2, 4))), TileCacheSource.Schema)
      .planInputPartitions()
    assert(all.nonEmpty && only3.length < all.length)
    assert(only3.forall(_.asInstanceOf[TileCachePartition].level == 3))
    assert(le3.forall(_.asInstanceOf[TileCachePartition].level <= 3))
    assert(in24.forall(p => Set(2, 4)(p.asInstanceOf[TileCachePartition].level)))
    assert(only3.length + in24.length == all.length) // 2..4 partitioned exactly
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
}
