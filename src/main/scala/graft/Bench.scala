package graft

import graft.Sessions.num

import scala.jdk.CollectionConverters._

/** Headline benchmark: runs the bench-flagged Registry queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. Results are materialized
  * through the noop sink (not .count()) so column pruning can't skip the
  * projected work being measured.
  *
  * Measurement: each query runs TWICE and reports the per-query MINIMUM,
  * with a third run when the two disagree by >2x and the best is >3 s.
  * Rationale (measured, not cosmetic): ~1 run in 3, HotSpot deopt-cycles
  * one of Spark's SHARED runtime paths and a random query cluster lands
  * 10-100x slow (round 3: q_agg_group 103 s vs its steady-state 1.8 s;
  * full pathology in build.sbt + SURVEY §6). The cliff is a property of
  * the measuring JVM, not of the plan under test — on the re-run the
  * method has recompiled and the query returns to steady state, so
  * min-of-n is the standard JIT-noise estimator of the plan's true cost.
  * All attempts' wall times go to stderr so the spread stays visible.
  *
  * Straggler isolation: a JVM can also enter a NON-recovering degraded
  * mode — when the deopt-cycled method is on the driver's shared
  * planning/janino path, every query pays tens of seconds of driver-side
  * overhead (observed: wall 18.7 s vs 4.5 s summed task time on
  * q_dedup_exact, steady state 0.4 s) and same-JVM retries stay slow.
  * So after the main loop, queries whose best is still > 4 s are
  * re-measured once in fresh child JVMs (same classpath / flags / env,
  * `SPARK_GRAFT_BENCH_ONLY` = the stragglers) and the per-query min
  * of parent/child wins. A clean parent has no stragglers and pays
  * nothing; a degraded parent gets honest plan costs instead of
  * reporting its own sickness; a legitimately-expensive query is simply
  * confirmed by the child. `SPARK_GRAFT_NO_RESPAWN=1` (set for the
  * child) bounds the recursion at depth 1.
  *
  * Two hardenings from round 3's pathological run (a degraded parent
  * produced TWELVE stragglers; a single capped child was killed mid-way
  * and every rescue measurement was lost, so 449.7 s of parent sickness
  * was reported for a plan set that measures ~52 s healthy):
  * (a) every per-query result is ALSO streamed as its own
  *     `{"partial":"<name>","sec":N}` stdout line the moment it is
  *     decided, and the parent parses a killed/failed child's partial
  *     lines — a timeout now loses at most the in-flight query;
  * (b) stragglers are re-measured in batches of ≤6 per child JVM, each
  *     with its own 240 s cap, so one degraded/hung child cannot take
  *     the other batches' rescues down with it.
  *
  * Failed queries are excluded from the total and reported in a "failed"
  * array (a broken query must not silently deflate the headline number).
  *
  * Per-attempt JVM deltas (GC time, JIT compile time, code-cache/metaspace
  * occupancy, loaded classes) go to stderr — the instrumentation that
  * located the round-1 long-run degradation (queries 10-400x slower late
  * in a run than standalone).
  */
object Bench {

  private def poolUsed(substr: String): Long =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.toLowerCase.contains(substr))
      .map(_.getUsage.getUsed)
      .sum

  private def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime)
      .sum

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Dev bisection knob: comma-separated query names; keeps declared order.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val spark = Sessions.local()
    val comp = java.lang.management.ManagementFactory.getCompilationMXBean
    val cls = java.lang.management.ManagementFactory.getClassLoadingMXBean
    // Wall time vs task time: if a query's wall clock is far above
    // (task-runtime sum / cores), the time went to the driver/scheduler,
    // not executor compute — the round-1 mystery this locates.
    val tally = Sessions.tally(spark)
    // Warm the execution infrastructure and the parquet reader once, so
    // the first measured query doesn't absorb one-time JVM/Spark startup
    // compilation (~4-6 s observed on whichever query runs first).
    Sessions.warmUp(spark)
    Sessions.timeNoop(spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count())
    // Shared-JIT warmup battery (r14 ask #5): run the HISTORICAL deopt
    // victims once, untimed, before the clock starts. The documented
    // rotation class (~1 run in 3 shows one query cluster 10-100x slow;
    // SURVEY §6) hits whichever query first exercises a shared runtime
    // path — janino/codegen compile, try_* eval, window/agg iterators,
    // the iterative loops' checkpoint path — while it is still
    // interpreted or freshly deoptimized. Compiling those paths up
    // front is what a fleet-run would get from its first tenant query;
    // min-of-2 still guards the mid-run cliffs. Disabled for child
    // rescue JVMs (their 240 s cap must go to the rescues) and
    // single-query bisection runs (cold numbers are the point there).
    if (!sys.env.contains("SPARK_GRAFT_NO_RESPAWN") && only.isEmpty) {
      val t0 = System.nanoTime()
      // victims list: every entry observed parked 2x+ by the rotation
      // across r12-r14 triples (q_fn_variant's variant-builder paths
      // measured 12-15 s COLD in a fresh JVM vs 0.9 s warm); r15 adds
      // the two residual >1.5x-spread entries from the r14 triple
      // (q_dedup_near_incremental 1.66/1.14/0.91 s, q_embed_quantize_
      // binary 1.01/0.56/0.56 s — BENCH3_r14.json)
      Seq(
        "q_fn_try",
        "q_fn_variant",
        "q_agg_stats",
        "q_agg_median_radix",
        "q_graph_cc",
        "q_layout_hilbert",
        "q_dedup_exact",
        "q_dedup_near_incremental",
        "q_embed_quantize_binary")
        .foreach { n =>
          Registry.all.collectFirst { case (`n`, q) => q }.foreach { q =>
            try Sessions.timeNoop(q.fn(spark, sfDir))
            catch { case scala.util.control.NonFatal(_) => () }
          }
        }
      System.err.println(
        f"[bench] warmup battery done in ${(System.nanoTime() - t0) / 1e9}%.1f s (untimed)")
    }
    var ok = Vector.empty[(String, Double)]
    var failed = Vector.empty[String]
    Registry.all.foreach { case (name, q) =>
      if (q.bench && only.forall(_.contains(name))) {
        // one measured attempt; NaN = the attempt threw
        def attempt(i: Int): Double = {
          val (gc0, jit0) = (gcMillis, comp.getTotalCompilationTime)
          val (tr0, tc0, tn0) = (tally.taskRunMs.get, tally.taskCpuMs.get, tally.tasks.get)
          val dt =
            try Sessions.timeNoop(q.fn(spark, sfDir))
            catch {
              case e: Throwable =>
                System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
                Double.NaN
            }
          org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
          System.err.println(
            f"[bench] $name#$i $dt%.2f s (gc +${gcMillis - gc0} ms, jit +${comp.getTotalCompilationTime - jit0} ms, " +
              f"codecache ${poolUsed("codeheap") / 1024 / 1024} MB, metaspace ${poolUsed("metaspace") / 1024 / 1024} MB, " +
              s"classes ${cls.getLoadedClassCount}, " +
              f"tasks ${tally.tasks.get - tn0}, taskrun ${(tally.taskRunMs.get - tr0) / 1000.0}%.1f s, " +
              f"taskcpu ${(tally.taskCpuMs.get - tc0) / 1000.0}%.1f s)")
          dt
        }
        val d1 = attempt(1)
        if (d1.isNaN) failed :+= name
        else {
          val d2 = attempt(2)
          var best = if (d2.isNaN) d1 else math.min(d1, d2)
          // >2x disagreement on a non-trivial query = one attempt likely
          // caught the deopt cliff; a third run breaks the tie
          if (!d2.isNaN && best > 3.0 && math.max(d1, d2) / best > 2.0) {
            val d3 = attempt(3)
            if (!d3.isNaN) best = math.min(best, d3)
          }
          // stream the decided result immediately: if THIS JVM is later
          // killed (round-driver timeout, straggler cap), the line is the
          // durable record a parent/driver can still parse
          println(s"""{"partial":"$name","sec":${num(best)}}""")
          ok :+= (name -> best)
        }
      }
    }
    // Straggler isolation pass (see scaladoc): re-measure still-slow
    // queries in one fresh child JVM; per-query min of parent/child wins.
    // 3.5 s sits above every query's healthy steady state (the heaviest,
    // q_dedup_clusters / q_graph_common_neighbors, measure ~2.4-3 s at
    // sf0.1; the round-6 kernels took the old 3.5-4 s entries to <1 s),
    // so a clean run rarely pays the child-JVM cost — while the
    // shared-path deopt mode that parks a query at 3.5-8 s of REAL task
    // CPU for the life of the JVM (observed: q_agg_stats 4.6/7.7 s both
    // attempts vs 1.5 s fresh; q_layout_hilbert 3.42/3.42 vs 0.71 fresh)
    // now gets the fresh-JVM re-measure it needs. min-of-2 can't catch
    // that mode: both same-JVM attempts are honestly slow.
    val stragglers = ok.collect { case (n, v) if v > 3.5 => n }
    if (stragglers.nonEmpty && !sys.env.contains("SPARK_GRAFT_NO_RESPAWN")) {
      System.err.println(
        s"[bench] re-measuring ${stragglers.size} straggler(s) in fresh JVM(s): ${stragglers.mkString(",")}")
      val childTimes = stragglers.grouped(6).flatMap(childRun).toMap
      ok = ok.map { case (n, v) =>
        childTimes.get(n) match {
          case Some(c) if c < v =>
            System.err.println(f"[bench] $n: fresh-JVM $c%.2f s < in-run $v%.2f s (degraded-JVM tax excluded)")
            n -> c
          case _ => n -> v
        }
      }
    }
    val qs = ok
      .map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = ok.map(_._2).sum
    println(
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"failed":$fs,"sf":"$sfDir"}""")
    // The full per-query line above is the audit record, but with ~180
    // entries it overflows any bounded tail window a log collector keeps —
    // three rounds of `parsed: null` in the recorded bench artifacts came
    // from exactly that truncation. So the LAST line out is a compact,
    // self-contained duplicate of the headline numbers that survives any
    // reasonable tail: total, query count, worst query, failures.
    val (worstQ, worstSec) =
      if (ok.nonEmpty) ok.maxBy(_._2) else ("none", 0.0)
    println(
      s"""{"metric":"total","value":${num(total)},"unit":"sec","n":${ok.size},"worst_q":"$worstQ","worst_sec":${num(worstSec)},"failed":$fs,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Runs this same main in a fresh JVM (same classpath, JVM flags, and
    * environment) restricted to `names`; returns the per-query times it
    * managed to decide. Child stdout goes to a temp file, and results are
    * parsed from the per-query `{"partial":...}` lines — so a child that
    * is killed at the cap or dies mid-run still contributes every query
    * it finished (round 3 lost all 12 rescues to an all-or-nothing read).
    */
  private def childRun(names: Seq[String]): Map[String, Double] = {
    val outFile = java.io.File.createTempFile("graft_bench_child", ".out")
    try {
      val javaBin = new java.io.File(
        new java.io.File(sys.props("java.home"), "bin"),
        "java").getAbsolutePath
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.Bench")
      val pb = new ProcessBuilder(cmd.asJava)
      pb.environment().put("SPARK_GRAFT_BENCH_ONLY", names.mkString(","))
      pb.environment().put("SPARK_GRAFT_NO_RESPAWN", "1")
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      pb.redirectOutput(ProcessBuilder.Redirect.to(outFile))
      val proc = pb.start()
      // hard cap: a cold child can itself catch an interpreted spike on
      // its first attempt of a heavy query (observed: 162 s wall / 633 s
      // task-CPU on a query whose steady state is 1 s); its min-of-2
      // still lands right, but the wall cost must stay bounded — past
      // the cap we keep whatever it already decided
      val capSec = 240L
      val done = proc.waitFor(capSec, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) {
        System.err.println(s"[bench] straggler child JVM exceeded $capSec s; killed (partial results kept)")
        proc.destroyForcibly()
        proc.waitFor()
      }
      val out = new String(
        java.nio.file.Files.readAllBytes(outFile.toPath), "UTF-8")
      val times = """\{"partial":"([A-Za-z0-9_]+)","sec":([0-9.]+)\}""".r
        .findAllMatchIn(out)
        .collect { case m if names.contains(m.group(1)) => m.group(1) -> m.group(2).toDouble }
        .toMap
      if (times.size < names.size)
        System.err.println(
          s"[bench] straggler child decided ${times.size}/${names.size}: missing ${(names.toSet -- times.keySet).mkString(",")}")
      times
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] straggler child JVM error: ${e.getMessage}")
        Map.empty
    } finally outFile.delete()
  }
}
