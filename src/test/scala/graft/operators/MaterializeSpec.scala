package graft.operators

import graft.{Registry, SparkSuite}
import graft.SourceGuard.calls
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.CheckpointDirs

/** [[Materialize]] is the one pin seam: nothing else under `src/main`
  * checkpoints, a checkpoint dir turns both entry points into reliable
  * checkpoints, and the pinning entries answer the same either way.
  */
class MaterializeSpec extends SparkSuite {
  import scala.jdk.CollectionConverters._

  private val pinCall = """\blocalCheckpoint\b|\.checkpoint\b""".r

  /** A pinned frame's rows rebuilt as a new frame: a second pin path
    * that bypasses the seam's size estimate and drops the partitioning.
    */
  private val rddRoundTrip = """createDataFrame\s*\(\s*[\w.]+\.rdd\b""".r

  /** The one `LogicalRDD` a pinned frame's plan holds. */
  private def pinnedNode(pinned: DataFrame): LogicalRDD = {
    val nodes = pinned.queryExecution.logical.collect { case l: LogicalRDD => l }
    assert(nodes.size == 1, pinned.queryExecution.logical.treeString)
    nodes.head
  }

  private def partFiles(dir: java.io.File): Int =
    org.apache.commons.io.FileUtils
      .listFiles(dir, null, true)
      .asScala
      .count(_.getName.startsWith("part-"))

  test("no code under src/main pins a frame outside the seam") {
    val pins = calls(pinCall)
    assert(pins.get("graft/operators/Materialize.scala").exists(_ >= 2), s"guard found no seam: $pins")
    assert(pins.keySet == Set("graft/operators/Materialize.scala"), pins)
    assert(calls(rddRoundTrip).isEmpty, "a createDataFrame(<frame>.rdd) round trip is a second pin path")
  }

  test("a loop that joins its own pinned state keeps a bounded size estimate") {
    // pointer doubling over a 1,024-node path: each step joins the pinned
    // frame with itself, which squares an inherited estimate per step
    import org.apache.spark.sql.functions.{col, greatest, lit}
    def run(): (Seq[Int], Seq[String]) = {
      var f = Materialize.eager(
        spark.range(0, 1024, 1, 4).select(col("id").as("x"), greatest(col("id") - 1, lit(0L)).as("fx")))
      val bits = (1 to 10).map { step =>
        val h = f.select(col("x").as("x2"), col("fx").as("fx2"))
        val next = f.join(h, col("fx") === col("x2")).select(col("x"), col("fx2").as("fx"))
        f =
          if (step % 2 == 0) Materialize.eager(next)
          else {
            // a lazy pin stays lazy: no job runs until the count
            val lazyPin = Materialize.lazily(next)
            val local = spark.sparkContext.getCheckpointDir.isEmpty
            assert(!local || !pinnedNode(lazyPin).rdd.isCheckpointed, s"step $step pinned before its action")
            assert(lazyPin.count() == 1024L)
            lazyPin
          }
        pinnedNode(f).stats.sizeInBytes.bitLength
      }
      (bits, f.collect().map(_.toString).toSeq.sorted)
    }
    val (localBits, localRows) = run()
    val (reliableBits, reliableRows) = CheckpointDirs.withCheckpointDir(spark.sparkContext)(_ => run())
    Seq(localBits, reliableBits).foreach { bits =>
      assert(bits.forall(_ <= 63), s"pinned size estimate bit lengths per step: $bits")
    }
    assert(localRows.size == 1024 && localRows.forall(_.endsWith(",0]")), localRows.take(3))
    assert(localRows == reliableRows)
  }

  test("a checkpoint dir makes both entry points reliable checkpoints") {
    val df = spark.range(0, 100, 1, 4).toDF("id")
    def rdd(pinned: DataFrame) = pinnedNode(pinned).rdd
    val prev = spark.sparkContext.getCheckpointDir
    Seq[DataFrame => DataFrame](Materialize.eager(_), Materialize.lazily(_)).foreach { pin =>
      assert(rdd(pin(df)).getCheckpointFile.isEmpty, "no dir: a local checkpoint")
      CheckpointDirs.withCheckpointDir(spark.sparkContext) { dir =>
        val pinned = pin(df)
        assert(rdd(pinned).getCheckpointFile.isDefined, "dir set: a reliable checkpoint")
        assert(partFiles(dir) == 4, "one checkpoint file per partition, written before any action")
        assert(pinned.count() == 100)
      }
    }
    assert(spark.sparkContext.getCheckpointDir == prev)
  }

  test("pinning entries return the same rows with and without a checkpoint dir") {
    val entries = Seq("q_graph_cc", "q_dedup_clusters", "q_graph_mst", "q_orders_pareto", "q_text_ppl_buckets")
    val byName = Registry.all.toMap
    def rows(name: String): Seq[String] =
      byName(name).fn(spark, sf001).collect().map(_.toString).toSeq.sorted
    // local first: q_graph_cc caches its pinned edge list for the JVM, and
    // a copy pinned inside the scoped dir would outlive the dir
    val local = entries.map(rows)
    val reliable = CheckpointDirs.withCheckpointDir(spark.sparkContext) { dir =>
      val r = entries.map(rows)
      assert(partFiles(dir) > 0)
      r
    }
    entries.zip(local.zip(reliable)).foreach { case (name, (l, r)) =>
      assert(l.nonEmpty, name)
      assert(l == r, name)
    }
  }
}
