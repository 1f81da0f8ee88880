package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FormattedMode

class ExplainSpec extends SparkSuite {

  test("Explain.dump writes each entry's formatted plan to <dir>/<name>_<suffix>.txt") {
    val dir = Files.createTempDirectory("graft_explain_dump")
    try {
      val names = Seq("tile_grid_enum", "tile_object_key")
      val written = Explain.dump(spark, sf001, names, dir.toString, "before")
      assert(written == names.map(n => dir.resolve(s"${n}_before.txt")))
      // expression and exchange plan ids differ between two builds of
      // the same query
      def masked(s: String) = s.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
      names.zip(written).foreach { case (name, path) =>
        val expected =
          SparkEntry.queries(name)(spark, sf001).queryExecution.explainString(FormattedMode)
        assert(masked(Files.readString(path)) == masked(expected), name)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
