package graft.operators

import graft.{Registry, SparkSuite}
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

  /** Pin calls per source file under src/main, comment lines and
    * trailing `// ...` comments ignored.
    */
  private def pinCalls(): Map[String, Int] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    java.nio.file.Files
      .walk(root)
      .iterator()
      .asScala
      .filter(_.toString.endsWith(".scala"))
      .map { p =>
        val code = java.nio.file.Files
          .readAllLines(p)
          .asScala
          .map(_.trim)
          .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/*"))
          .map(_.replaceAll("""\s//\s.*$""", ""))
        root.relativize(p).toString -> code.map(pinCall.findAllIn(_).size).sum
      }
      .filter(_._2 > 0)
      .toMap
  }

  private def partFiles(dir: java.io.File): Int =
    org.apache.commons.io.FileUtils
      .listFiles(dir, null, true)
      .asScala
      .count(_.getName.startsWith("part-"))

  test("no code under src/main pins a frame outside the seam") {
    val calls = pinCalls()
    assert(calls.get("graft/operators/Materialize.scala").exists(_ >= 2), s"guard found no seam: $calls")
    assert(calls.keySet == Set("graft/operators/Materialize.scala"), calls)
  }

  test("a checkpoint dir makes both entry points reliable checkpoints") {
    val df = spark.range(0, 100, 1, 4).toDF("id")
    def rdd(pinned: DataFrame) = {
      val rdds = pinned.queryExecution.logical.collect { case l: LogicalRDD => l.rdd }
      assert(rdds.size == 1, pinned.queryExecution.logical.treeString)
      rdds.head
    }
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
