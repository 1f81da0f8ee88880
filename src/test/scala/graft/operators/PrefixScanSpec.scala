package graft.operators

import graft.SparkSuite
import graft.queries.{CorpusOps, MiningOps, QualityOps, StreamingQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[PrefixScan]] against the windows it replaces, and its five registry
  * callers against the configs that could make two reads of one range
  * exchange disagree.
  */
class PrefixScanSpec extends SparkSuite {
  import spark.implicits._

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("equals row_number and running-sum windows, null group and DESC key included") {
    // 4 groups (one null) × 150 rows: x has ties within a group, id is
    // unique, so (x desc, id) is a strict total order; 600 distinct keys
    // against 8 shuffle partitions, so every group spans several slices
    val rows = (0 until 600).map { i =>
      val g = Seq("a", "b", null, "c")(i % 4)
      (g, (i * 7919L) % 37, i.toLong, (i * 31) % 101 - 50, i % 13)
    }
    val df = rows.toDF("g", "x", "id", "s", "t")
    assert(df.select("x", "id").distinct().count() > spark.conf.get("spark.sql.shuffle.partitions").toLong)
    val order = Seq(col("x").desc, col("id"))
    val w = Window.partitionBy("g").orderBy(order: _*)
    val upTo = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy("g")
    val want = df.select(
      col("g"),
      col("id"),
      row_number().over(w).cast("long").as("rank"),
      count(lit(1)).over(whole).as("n"),
      sum("s").over(upTo).as("cum_s"),
      sum("s").over(whole).as("total_s"),
      sum("t").over(upTo).as("cum_t"),
      sum("t").over(whole).as("total_t"))
    val got = PrefixScan(df, Seq("g"), order, Seq("s", "t"))
      .select("g", "id", "rank", "n", "cum_s", "total_s", "cum_t", "total_t")
    assert(sorted(got) == sorted(want))
    assert(got.where(col("g").isNull).count() == 150)
    // no group: one global rank over the same order
    val global = PrefixScan(df, Nil, order).select("id", "rank", "n")
    val globalWant = df.select(
      col("id"),
      row_number().over(Window.orderBy(order: _*)).cast("long").as("rank"),
      lit(600L).as("n"))
    assert(sorted(global) == sorted(globalWant))
  }

  test("the five callers return the same rows under reuse, AQE, partition and broadcast configs") {
    val entries: Seq[(String, String, () => DataFrame)] = Seq(
      ("q_orders_pareto", "rangepartitioning(c_mktsegment ASC NULLS FIRST, cents DESC",
        () => MiningOps.qOrdersPareto(spark, sf001)),
      ("q_stats_mannwhitney", "rangepartitioning(et ASC NULLS FIRST, v ASC",
        () => QualityOps.qStatsMannWhitney(spark, sf001)),
      ("q_stats_kruskal", "rangepartitioning(et ASC NULLS FIRST, v ASC",
        () => QualityOps.qStatsKruskal(spark, sf001)),
      ("q_text_ppl_buckets", "rangepartitioning(nll ASC NULLS FIRST, doc_id ASC",
        () => CorpusOps.qTextPplBuckets(spark, sf001)),
      ("s_stream_anomaly", "rangepartitioning(event_type ASC NULLS FIRST, ts ASC",
        () => StreamingQueries.anomaly(spark, sf001)))
    val configs: Seq[Seq[(String, String)]] = Seq(
      Seq("spark.sql.exchange.reuse" -> "false", "spark.sql.adaptive.enabled" -> "false"),
      Seq("spark.sql.shuffle.partitions" -> "1"),
      Seq("spark.sql.shuffle.partitions" -> "7"),
      Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    val defaults = entries.map { case (name, _, q) => name -> sorted(q()) }.toMap
    defaults.foreach { case (name, rows) => assert(rows.nonEmpty, name) }
    configs.foreach { conf =>
      val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try entries.foreach { case (name, scanKey, q) =>
        val df = q()
        assert(sorted(df) == defaults(name), s"$name drifted under $conf")
        // with reuse and AQE off, an unpinned slice frame would plan one
        // range exchange per consumer, each sampling its own boundaries
        if (conf.contains("spark.sql.exchange.reuse" -> "false")) {
          val p = df.queryExecution.executedPlan.toString.replaceAll("#\\d+L?", "")
          assert(!p.contains(scanKey), s"$name still range-partitions on its scan key:\n$p")
        }
      } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  test("sums must be integral") {
    val df = Seq(("a", 1L, 0.5)).toDF("g", "id", "d")
    val e = intercept[IllegalArgumentException](PrefixScan(df, Seq("g"), Seq(col("id")), Seq("d")))
    assert(e.getMessage.contains("integral"))
  }
}
