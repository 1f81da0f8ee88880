package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.Bridge

/** Dev utility: run registry queries (or `entry`) with timing and
  * optional plan output, or dump their formatted plans to files.
  *
  *   Explain <name[,name...]|entry> [sfDir] [--plan] [--final] [--count]
  *           [--jobs] [--reps=N] [--dump=<dir>/<suffix>]
  *
  * `--plan` prints the pre-execution formatted plan (NO codegen
  * markers under AQE); `--final` executes and prints the
  * isFinalPlan=true tree with real WholeStageCodegen spans.
  * `--dump=<dir>/<suffix>` runs nothing: it writes each name's
  * formatted plan to `<dir>/<name>_<suffix>.txt`, all in one session
  * (the before/after plan evidence of a change).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val flags = args.toSeq
    val names = args.headOption.getOrElse("entry").split(",").toSeq
    val sfDir = args.drop(1).headOption.filterNot(_.startsWith("--")).getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local()
    flags.collectFirst { case a if a.startsWith("--dump=") => new java.io.File(a.drop(7)) } match {
      case Some(target) =>
        val dir = Option(target.getParent).getOrElse(".")
        dump(spark, sfDir, names, dir, target.getName).foreach(p => println(s"DUMPED $p"))
      case None =>
        val tally = Sessions.tally(spark)
        names.foreach(run(spark, sfDir, _, flags, tally))
    }
    spark.stop()
  }

  /** Writes each entry's `explain("formatted")` text, built on `spark`
    * without running it, to `<dir>/<name>_<suffix>.txt`; returns the
    * written paths.
    */
  def dump(spark: SparkSession, sfDir: String, names: Seq[String], dir: String, suffix: String): Seq[Path] = {
    Files.createDirectories(Paths.get(dir))
    names.map { name =>
      val txt = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      Files.write(Paths.get(dir, s"${name}_$suffix.txt"), txt.getBytes("UTF-8"))
    }
  }

  private def run(
      spark: SparkSession, sfDir: String, name: String, flags: Seq[String], tally: Sessions.Tally): Unit = {
    // every timing covers construction as well as execution (see
    // Sessions.timeNoop), so each run builds the DataFrame afresh
    def build() =
      if (name == "entry") SparkEntry.entry(spark)
      else SparkEntry.queries(name)(spark, sfDir)
    if (flags.contains("--plan")) build().explain("formatted")
    // --final: EXECUTED plan (AQE isFinalPlan=true) — the only view that
    // shows real WholeStageCodegen spans; the pre-execution formatted
    // plan of an adaptive query carries no codegen markers at all
    if (flags.contains("--final")) {
      // execute THIS plan instance (a .write would plan a fresh command
      // and leave this AdaptiveSparkPlan unexecuted/isFinalPlan=false)
      val plan = build().queryExecution.executedPlan
      plan.execute().count()
      println(plan.toString)
    }
    val cold =
      if (flags.contains("--count")) Sessions.seconds(println(s"ROWS=${build().count()}"))
      else Sessions.timeNoop(build())
    println(f"TIME $name $cold%.2f s")
    // --jobs: one line per Spark job of the SECOND (warm) run with its
    // wall ms, then a summary with the completed stage count; the warm
    // log holds only jobs started after the cold run's events have all
    // been delivered
    Bridge.drainListeners(spark.sparkContext)
    val watermark = tally.lastJobStarted.get
    val stages0 = tally.stages.get
    println(f"TIME2 $name ${Sessions.timeNoop(build())}%.2f s (warm)")
    // reported before --reps runs, so their jobs stay out of the warm log
    if (flags.contains("--jobs")) {
      Bridge.drainListeners(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val warm = tally.jobMs.asScala.toSeq.filter(_._1 > watermark).sortBy(_._1)
      warm.foreach { case (id, ms) => println(s"JOB $id $ms ms") }
      println(
        s"JOBS $name n=${warm.size} stages=${tally.stages.get - stages0} sum_ms=${warm.map(_._2).sum}")
    }
    // --reps=N: N more warm builds+runs, report each and the min — the
    // low-variance A/B protocol for sub-second plan deltas (single cold
    // runs swing ±25% on UNCHANGED entries on a shared machine)
    flags.collectFirst { case a if a.startsWith("--reps=") => a.drop(7).toInt }.foreach { n =>
      val times = Seq.fill(n)(Sessions.timeNoop(build()))
      println(
        f"REPS $name min ${times.min}%.3f s of ${times.map(t => f"$t%.2f").mkString(",")}")
    }
  }
}
