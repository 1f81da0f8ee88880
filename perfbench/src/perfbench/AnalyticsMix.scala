package perfbench

import java.io.File

import scala.collection.mutable

import graft.Q
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Registry queries on fixed read-only tables, written to the `noop` sink
  * in two groups: `iterative` (driver rounds, checkpoints, graph and ANN
  * loops) and `single_pass` (kernels, codegen, custom execs). The seed
  * permutes the order inside each group. No sink work at all, so this is
  * the bypass workload for sink changes, as the tile workloads are for
  * query changes.
  *
  * Before the timed rounds, one untimed round collects every result and
  * compares its digest with the one recorded in `digests.json`; it also
  * compiles each query's code paths, so only later runs are timed.
  */
final class AnalyticsMix(o: Main.Opts, out: Main.Out) extends Main.Workload {
  import AnalyticsMix._

  private val registry: Map[String, Q] = graft.Registry.all.toMap
  private val order: Seq[String] = {
    val rnd = new scala.util.Random(o.seed)
    Groups.flatMap { case (_, qs) => rnd.shuffle(qs) }
  }
  private val dataDir = o.data.getAbsolutePath
  /** Per query of the last round: (build s, exec s, spark counters). */
  private val last = mutable.LinkedHashMap.empty[String, (Double, Double, Counters.Snap)]

  override def prepare(spark: SparkSession): Unit = {
    val missing = Tables.filterNot(t => new File(o.data, s"$t.parquet").isFile)
    require(missing.isEmpty, s"tables missing under $dataDir: ${missing.mkString(", ")}")
  }

  /** Execution infrastructure only (codegen, parquet reader, shuffle), as
    * in `graft.Bench`; no measured query is rehearsed here.
    */
  override def warmup(spark: SparkSession): Unit = {
    spark.range(0, 1000000, 1, o.cores).selectExpr("sum(id * 2) as s").write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$dataDir/region.parquet").groupBy("r_name").count()
      .write.format("noop").mode("overwrite").save()
  }

  override def beforeTimed(spark: SparkSession): Unit = {
    val recorded = readDigests(o.digests)
    val got = mutable.LinkedHashMap.empty[String, String]
    val t0 = System.nanoTime()
    order.foreach { name =>
      out.attempted += 1
      try {
        val d = digest(registry(name).fn(spark, dataDir))
        got(name) = d
        val want = recorded.get(name).map(w => if (o.corrupt && name == order.head) w.reverse else w)
        if (!o.record && !want.contains(d)) {
          out.failed += 1
          out.fail(s"$name result digest $d != recorded ${want.getOrElse("(none)")}")
        }
      } catch {
        case e: Exception =>
          out.failed += 1
          out.fail(s"$name threw $e")
      }
    }
    out.layer("mix.check_round_s") = (System.nanoTime() - t0) / 1e9
    if (o.record) writeDigests(o.digests, got.toSeq.sortBy(_._1))
  }

  private def timed[T](traced: Boolean, span: String, parent: Long)(f: Long => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = if (traced) Trace.span(span, parent)(f) else f(0L)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Each query runs twice back to back and its faster run counts (the
    * min-of-n of `graft.Bench`): a JIT or environment hiccup in one run
    * does not move the batch.
    */
  override def batch(spark: SparkSession, traced: Boolean): (Long, Double) = {
    last.clear()
    order.foreach { name =>
      try {
        val runs = (1 to 2).map { _ =>
          out.attempted += 1
          org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
          val s0 = Main.counters.snap()
          val ((b, e), _) = timed(traced, s"query.$name", Trace.batchId) { id =>
            val (df, b) = timed(traced, "query.build", id)(_ => registry(name).fn(spark, dataDir))
            val (_, e) = timed(traced, "query.exec", id)(_ => df.write.format("noop").mode("overwrite").save())
            (b, e)
          }
          org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
          (b, e, Main.counters.snap() - s0)
        }
        last(name) = runs.minBy(r => r._1 + r._2)
        Main.log(s"$name: " + runs.map(r => f"${r._1 + r._2}%.3f s").mkString(", "))
      } catch {
        case ex: Exception =>
          out.failed += 1
          out.fail(s"$name threw $ex")
      }
    }
    (last.size.toLong, last.values.map(r => r._1 + r._2).sum)
  }

  override def layers(spark: SparkSession, traced: Main.Window): Unit = {
    val L = out.layer
    TileUpload.zeroLayers(L)
    Queries.foreach { n =>
      val (b, e, s) = last.getOrElse(n, (0.0, 0.0, Counters.Zero))
      L(s"query.$n.build_s") = b
      L(s"query.$n.exec_s") = e
      L(s"query.$n.jobs") = s.jobs.toDouble
    }
    Modules.foreach { case (m, all) =>
      val names = all.map(_._1).toSet
      L(s"queries.${m}_s") = last.collect { case (n, (b, e, _)) if names(n) => b + e }.sum
    }
    Groups.foreach { case (g, qs) =>
      L(s"mix.${g}_s") = qs.flatMap(last.get).map { case (b, e, _) => b + e }.sum
      L ++= qs.flatMap(last.get).map(_._3).foldLeft(Counters.Zero)(_ + _).metrics(s"spark.$g")
    }
    L("mix.query_fail_frac") = (Queries.size - last.size).toDouble / Queries.size
  }
}

object AnalyticsMix {
  val Groups: Seq[(String, Seq[String])] = Seq(
    "iterative" -> Seq("q_graph_cc", "q_dedup_clusters", "q_ann_recall_ivf"),
    "single_pass" -> Seq("q_tpch_q5", "q_join_asof_native", "q_topk_group_native", "q_text_ppl_buckets"))
  val Queries: Seq[String] = Groups.flatMap(_._2)

  /** Registry modules, for the per-module time sums. */
  val Modules: Seq[(String, Seq[(String, Q)])] = Seq(
    "SearchOps" -> graft.queries.SearchOps.all,
    "LlmOps" -> graft.queries.LlmOps.all,
    "MiningOps" -> graft.queries.MiningOps.all,
    "Relational" -> graft.queries.Relational.all,
    "CorpusOps" -> graft.queries.CorpusOps.all)

  val Tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val GroupSpark = Seq("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "shuffle_write_mb", "shuffle_read_mb")

  /** Layer metrics of the mix, zero on a workload without queries. */
  val LayerNames: Seq[String] =
    Queries.flatMap(n => Seq(s"query.$n.build_s", s"query.$n.exec_s", s"query.$n.jobs")) ++
      Modules.map(m => s"queries.${m._1}_s") ++
      Seq("mix.iterative_s", "mix.single_pass_s", "mix.query_fail_frac", "mix.check_round_s") ++
      Groups.flatMap(g => GroupSpark.map(k => s"spark.${g._1}.$k"))

  def zeroLayers(l: mutable.Map[String, Double]): Unit = LayerNames.foreach(l(_) = 0.0)

  /** SHA-256 over the schema and the sorted canonical rows. Doubles are
    * rounded to 12 significant digits so a summation order that moves the
    * last ulp (another core count) keeps the digest.
    */
  def digest(df: DataFrame): String = {
    val rows = df.collect().map(r => canon(r)).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(df.schema.catalogString.getBytes("UTF-8"))
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(new java.math.MathContext(12)).stripTrailingZeros.toString
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private val Entry = "\"([A-Za-z0-9_]+)\"\\s*:\\s*\"([0-9a-f]{64})\"".r

  def readDigests(f: File): Map[String, String] =
    if (!f.isFile) Map.empty
    else Entry.findAllMatchIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      .map(m => m.group(1) -> m.group(2)).toMap

  def writeDigests(f: File, d: Seq[(String, String)]): Unit =
    java.nio.file.Files.write(
      f.toPath,
      d.map { case (k, v) => s"""  "$k": "$v"""" }.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
}
