package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A failed query is
  * loud: failures.json is written next to oracle_sql.json and the process
  * exits non-zero (round 1's q_agg_collect break was silently swallowed by
  * a catch-and-continue here).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional: verify just these queries
    // the extension tier is ON (see Sessions): the full oracle gate
    // re-ran hash-identical under the rules, which is the strongest
    // semantics-preservation evidence the rule tier has
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // repartition(1), NOT coalesce(1): coalesce collapses the whole
    // upstream pipeline into a single task (observed: interpreted-decimal
    // queries running one-threaded for minutes); repartition keeps the
    // computation parallel and only funnels the final rows to one file.
    var failures = Vector.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).repartition(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ok (${(System.nanoTime() - t0) / 1e9}%.1f s)")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
          failures :+= name
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // sidecar: WHY each oracle-less entry has no SQL twin, so the driver's
    // `no_oracle` correctness rows self-document (round-6 verdict ask #7)
    Files.writeString(
      Paths.get(s"$outDir/no_oracle_reasons.json"),
      SparkEntry.noOracleReasons.toSeq.sorted
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // error-band certification for the oracle-less entries (r14 ask #4):
    // estimate vs exact twin computed from THIS run; a violated band is a
    // loud failure, not a footnote. Skipped when `only` excludes all three
    // (targeted re-verification of unrelated entries stays cheap).
    val bandNames = Set("q_agg_approx", "q_agg_percentile_approx", "q_text_compressibility")
    if (only.isEmpty || only.exists(bandNames)) {
      val bands =
        try BandChecks.run(spark, sfDir)
        catch {
          case e: Throwable =>
            System.err.println(s"[verify] band checks FAILED to run: ${e.getMessage}")
            failures :+= "band_checks"
            Nil
        }
      bands.foreach { b =>
        System.err.println(
          f"[verify] band ${b.entry}: ${b.check} = ${b.worst}%.6f (bound ${b.bound}%.6f) " +
            (if (b.pass) "PASS" else "FAIL"))
        if (!b.pass) failures :+= s"band:${b.entry}"
      }
      val bandJson = bands
        .map(b =>
          s"${q(b.entry)}: {${q("twin")}: ${q(b.twin)}, ${q("check")}: ${q(b.check)}, " +
            s"${q("worst")}: ${b.worst}, ${q("bound")}: ${b.bound}, ${q("band_pass")}: ${b.pass}}")
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/band_checks.json"), bandJson)
    } else {
      // the sidecar describes THIS run: a targeted run that skipped the
      // band checks must not leave a previous run's results for check.py
      // to report as fresh (r15 self-review — stale-sidecar gate)
      Files.deleteIfExists(Paths.get(s"$outDir/band_checks.json"))
    }
    Files.writeString(
      Paths.get(s"$outDir/failures.json"),
      failures.map(q).mkString("[", ",", "]"))
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} FAILED: ${failures.mkString(", ")}")
      sys.exit(1)
    }
  }
}
