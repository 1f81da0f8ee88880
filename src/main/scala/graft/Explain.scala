package graft

/** Dev utility: run one registry query (or `entry`) with timing and an
  * optional formatted plan dump.
  *
  *   sbt "runMain graft.Explain <name|entry> [sfDir] [--plan] [--final] [--count]"
  *
  * `--plan` prints the pre-execution formatted plan (NO codegen
  * markers under AQE); `--final` executes and prints the
  * isFinalPlan=true tree with real WholeStageCodegen spans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("entry")
    val sfDir = args.drop(1).headOption.filterNot(_.startsWith("--")).getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // Time CONSTRUCTION + execution, like Bench/ScaleProbe do: queries
    // with eager checkpoints or driver-coordinated rounds (graph edge
    // lists, BPE training) do their dominant work while the DataFrame is
    // being BUILT — timing only the final action would report a 4-row
    // local relation as ~0 s and mislead a band-gate investigation.
    def build() =
      if (name == "entry") SparkEntry.entry(spark)
      else SparkEntry.queries(name)(spark, sfDir)
    // build df0 only when --plan asked for it: construction is the
    // dominant cost for eager-checkpoint / driver-coordinated queries,
    // so an unconditional extra build roughly doubled tool wall time
    if (args.contains("--plan")) build().explain("formatted")
    // --final: EXECUTED plan (AQE isFinalPlan=true) — the only view that
    // shows real WholeStageCodegen spans; the pre-execution formatted
    // plan of an adaptive query carries no codegen markers at all
    if (args.contains("--final")) {
      // execute THIS plan instance (a .write would plan a fresh command
      // and leave this AdaptiveSparkPlan unexecuted/isFinalPlan=false)
      val plan = build().queryExecution.executedPlan
      plan.execute().count()
      println(plan.toString)
    }
    // --jobs: per-action accounting for the iterative entries (r16
    // verdict ask #2 — "count jobs per round" before cutting driver
    // actions). Prints one line per Spark job with wall ms and stage
    // count, then a summary; runs on the SECOND (warm) execution so
    // per-job times aren't polluted by first-run JIT.
    val jobs = args.contains("--jobs")
    val jobLog = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobStages = new java.util.concurrent.atomic.AtomicInteger
    val lastJobStarted = new java.util.concurrent.atomic.AtomicInteger(-1)
    if (jobs) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          starts.put(js.jobId, System.nanoTime())
          lastJobStarted.accumulateAndGet(js.jobId, (a, b) => math.max(a, b)): Unit
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val t = Option(starts.get(je.jobId)).map(s => (System.nanoTime() - s) / 1000000L)
          jobLog.put(je.jobId, t.getOrElse(-1L))
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          jobStages.incrementAndGet(); ()
        }
      })
    }
    val t0 = System.nanoTime()
    if (args.contains("--count")) println(s"ROWS=${build().count()}")
    else build().write.format("noop").mode("overwrite").save()
    println(f"TIME $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    // the warm log holds only jobs started after the cold run's events
    // have all been delivered
    if (jobs) org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
    val watermark = lastJobStarted.get
    jobStages.set(0)
    val t1 = System.nanoTime()
    build().write.format("noop").mode("overwrite").save()
    println(f"TIME2 $name ${(System.nanoTime() - t1) / 1e9}%.2f s (warm)")
    // reported before --reps runs, so their jobs stay out of the warm log
    if (jobs) {
      org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val warm = jobLog.asScala.toSeq.filter(_._1 > watermark).sortBy(_._1)
      warm.foreach { case (id, ms) => println(s"JOB $id ${ms} ms") }
      println(s"JOBS $name n=${warm.size} stages=${jobStages.get} sum_ms=${warm.map(_._2).sum}")
    }
    // --reps=N: N more warm builds+runs, report each and the min — the
    // low-variance A/B protocol for sub-second plan deltas (single cold
    // runs swing ±25% on UNCHANGED entries in this sandbox)
    args.collectFirst { case a if a.startsWith("--reps=") => a.drop(7).toInt }.foreach { n =>
      val times = (1 to n).map { _ =>
        val t = System.nanoTime()
        build().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      println(
        f"REPS $name min ${times.min}%.3f s of ${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
