package graft

/** Dev utility: dump `explain("formatted")` for a list of registry
  * queries into `<outDir>/<name>_<suffix>.txt` — one JVM for the whole
  * batch (Explain pays a full Spark startup per query, which makes the
  * per-round before/after plan-evidence sweep across ~20 entries cost
  * ~25 min; this does it in one session).
  *
  *   tools/run_class.sh graft.PlanDump <outDir> <suffix> <name>[,name...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"DUMPED $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
