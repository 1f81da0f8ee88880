package graft.queries

import graft.{Q, Tables}
import graft.Tables.{davg, dsum}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational battery (SURVEY.md §2.2-B): scans, joins (incl. range +
  * as-of), aggregates (incl. rollup/cube/grouping sets), windows, top-k,
  * set ops, scalar function families, and the UDF surface.
  *
  * Oracle-parity rules used throughout (the "hard part" per SURVEY §7):
  *   - double SUMs go through DECIMAL(18,6) addends (exact, order-free)
  *     and surface as DOUBLE — see [[graft.Tables.dsum]];
  *   - DuckDB functions returning BIGINT/DOUBLE where Spark yields
  *     INT/LONG (year, rank, length, ceil, …) are CAST on the oracle side;
  *   - every oracle-checked query ends in a total-order ORDER BY;
  *   - `events.ts` is nanos in parquet: oracle SQL reads it through
  *     CAST(ts AS TIMESTAMP) (truncation to µs, = Spark-side `div 1000`).
  */
object Relational {

  /** DuckDB-side events relation with ts normalized to µs. */
  private val EV =
    "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"

  // ---------------------------------------------------------------- scans

  def qFilterProject(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .lineitem(spark, sfDir)
      .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") && col("l_discount") > 0.05)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")

  // ---------------------------------------------------------------- joins

  def qJoinInner(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .where(col("o_totalprice") > 100000)
      .select("o_orderkey", "c_custkey", "c_name", "c_mktsegment", "o_totalprice")
      .orderBy("o_orderkey")
  }

  def qJoinLeft(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spend"))
      .orderBy("c_custkey")
  }

  def qJoinSemi(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables
      .orders(spark, sfDir)
      .where(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
    val c = Tables.customer(spark, sfDir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Anti join: customers with no URGENT-priority order. The priority
    * filter is what makes the result non-vacuous at every fixture scale
    * (every customer has SOME order, so the unfiltered anti join proved
    * nothing — round-5 verdict ask #5); it pushes to the orders scan, and
    * the anti side stays a hash-partitionable equi-join.
    */
  def qJoinAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables
      .orders(spark, sfDir)
      .where(col("o_orderpriority") === "1-URGENT")
    val c = Tables.customer(spark, sfDir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Non-equi (range) join: customers within ±100 acctbal of a supplier.
    * The dim side still broadcasts, but the join is a bin-equality
    * BroadcastHashJoin with the exact range predicate as the residual
    * filter (r17, guide §3): the plain theta condition planned as a
    * BroadcastNestedLoopJoin that evaluated |C|·|S| predicates per run —
    * measured 2.0 s at sf0.1 vs 0.4 s for the binned shape, and the gap
    * is quadratic in scale. Binning by the interval width (200) makes
    * each supplier's ±100 window cover ≤ 2 bins (≤ 2× broadcast rows),
    * each probe hash to its single bin, and the residual keep the exact
    * semantics — identical output (same oracle SQL). Differs from
    * `q_join_range_binned` only in the `broadcast` hint: that entry
    * leaves the strategy to the planner, which still broadcasts the
    * small supplier side at fixture and bench scale (its PLANGOLD line
    * has a BroadcastHashJoinExec, not a shuffle join).
    */
  def qJoinRange(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.supplier(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val sBins = s.withColumn(
      "bin",
      explode(
        sequence(
          floor((s("s_acctbal") - 100) / 200).cast("long"),
          floor((s("s_acctbal") + 100) / 200).cast("long"))))
    val cBins = c.withColumn("bin", floor(c("c_acctbal") / 200).cast("long"))
    cBins
      .join(
        broadcast(sBins),
        cBins("bin") === sBins("bin") &&
          cBins("c_acctbal") >= sBins("s_acctbal") - 100 &&
          cBins("c_acctbal") <= sBins("s_acctbal") + 100)
      .groupBy(sBins("s_suppkey"))
      .agg(count(lit(1)).as("n_matches"))
      .orderBy("s_suppkey")
  }

  /** The range join re-expressed as a binned EQUI-join — the 100 TB shape
    * when neither side broadcasts. `q_join_range`'s plain non-equi
    * condition plans as a (broadcast) nested-loop — O(|C|·|S|) with two
    * large sides. Binning by the interval width (200): each supplier's
    * ±100 window covers at most 2 bins, so the supplier side explodes
    * ≤2×, the join becomes a key-equality shuffle on the bin, and the
    * exact range predicate filters within bins. Identical results (same
    * oracle SQL), shuffle-join scalable. Below the broadcast threshold
    * (every fixture scale) the planner still broadcasts the supplier side.
    */
  def qJoinRangeBinned(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.supplier(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val sBins = s.withColumn(
      "bin",
      explode(
        sequence(
          floor((s("s_acctbal") - 100) / 200).cast("long"),
          floor((s("s_acctbal") + 100) / 200).cast("long"))))
    val cBins = c.withColumn("bin", floor(c("c_acctbal") / 200).cast("long"))
    cBins
      .join(
        sBins,
        cBins("bin") === sBins("bin") &&
          cBins("c_acctbal") >= sBins("s_acctbal") - 100 &&
          cBins("c_acctbal") <= sBins("s_acctbal") + 100)
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_matches"))
      .orderBy("s_suppkey")
  }

  /** As-of join (events → latest order with o_orderdate <= ts per user).
    * Spark has no native ASOF: implemented as a union + running
    * last-non-null window — ONE shuffle on the key, no broadcast needed,
    * which scales to unbounded fact sizes (vs. the naive join+filter that
    * explodes to all order×event pairs). DuckDB oracle uses native
    * ASOF LEFT JOIN (inclusive >=, matching the window's frame).
    */
  /** Shared events ∪ orders timeline of the as-of family: one frame,
    * sorted (t ASC, kind DESC, event_id ASC) under every as-of window —
    * orders sort BEFORE events at equal t, making the backward direction
    * inclusive.
    */
  private def asofUnion(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables
      .events(spark, sfDir)
      .select(
        col("user_id").as("uid"),
        col("ts").as("t"),
        lit(0).as("kind"),
        col("event_id"),
        lit(null).cast("timestamp").as("order_t"))
    val or = Tables
      .orders(spark, sfDir)
      .select(
        col("o_custkey").as("uid"),
        col("o_orderdate").as("t"),
        lit(1).as("kind"),
        lit(null).cast("long").as("event_id"),
        col("o_orderdate").as("order_t"))
    ev.unionByName(or)
  }

  private def asofSort = Seq(col("t").asc, col("kind").desc, col("event_id").asc)

  def qJoinAsof(spark: SparkSession, sfDir: String): DataFrame = {
    // orders sort before events at equal t (kind desc) → inclusive as-of.
    val w = Window
      .partitionBy("uid")
      .orderBy(asofSort: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    asofUnion(spark, sfDir)
      .withColumn("last_order_date", last(col("order_t"), ignoreNulls = true).over(w))
      .where(col("kind") === 0)
      .select(col("event_id"), col("uid").as("user_id"), col("t").as("ts"), col("last_order_date"))
      .orderBy("event_id")
  }

  /** NEAREST-in-time as-of join (r12): each event matches the order date
    * minimizing |ts − o_orderdate| — the sensor-fusion / feature-join
    * flavor where "the closest reading" beats "the last reading"
    * (backward = [[qJoinAsof]], forward-only is its mirror; this is
    * both). Equidistant pairs resolve BACKWARD (the `<=`), and at equal
    * t the backward side is inclusive while the forward frame is
    * exclusive — distance 0 is already taken, so the asymmetry cannot
    * change the answer.
    *
    * Scale shape: the SAME single union shuffle as the backward form;
    * both directions come from ONE WindowExec pass (identical
    * partitioning AND sort, so Catalyst plans one exchange + one sort
    * with two frames over it — plan-pinned in PlanSpec). Distances are
    * exact integer micros; no float time math. Oracle: two native
    * DuckDB ASOF joins (>= backward, < forward) + the same integer
    * CASE.
    */
  def qJoinAsofNearest(spark: SparkSession, sfDir: String): DataFrame = {
    val wb = Window
      .partitionBy("uid")
      .orderBy(asofSort: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window
      .partitionBy("uid")
      .orderBy(asofSort: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    asofUnion(spark, sfDir)
      .withColumn("last_o", last(col("order_t"), ignoreNulls = true).over(wb))
      .withColumn("next_o", first(col("order_t"), ignoreNulls = true).over(wf))
      .where(col("kind") === 0)
      .select(
        col("event_id"),
        col("uid").as("user_id"),
        col("t").as("ts"),
        when(col("next_o").isNull, col("last_o"))
          .when(col("last_o").isNull, col("next_o"))
          .when(
            unix_micros(col("t")) - unix_micros(col("last_o")) <=
              unix_micros(col("next_o")) - unix_micros(col("t")),
            col("last_o"))
          .otherwise(col("next_o"))
          .as("nearest_order_date"))
      .orderBy("event_id")
  }

  /** As-of join with a staleness tolerance (feature-store freshness
    * bound): latest order per user at most 1 DAY before the event;
    * older matches are surfaced as NULL, exactly like a feature whose
    * last update is too stale to serve. Same single-shuffle union +
    * running-last window as [[qJoinAsof]] — the tolerance is a post-hoc
    * projection on the as-of result (the latest match is the only
    * candidate, so "latest within the window" ≡ "latest, if within the
    * window"), NOT a range join that would explode event×order pairs.
    */
  def qJoinAsofTolerance(spark: SparkSession, sfDir: String): DataFrame = {
    val asof = qJoinAsof(spark, sfDir)
    asof
      .select(
        col("event_id"),
        col("user_id"),
        col("ts"),
        when(
          col("last_order_date") >= col("ts") - expr("INTERVAL 1 DAY"),
          col("last_order_date")).as("fresh_order_date"))
      .orderBy("event_id")
  }

  /** Time-interval range frame: per user, the rolling 1-hour event-value
    * sum and count (frame = RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND
    * CURRENT ROW, keyed on event time, not row position — the
    * rate-limiting / rolling-metrics window a row-count frame can't
    * express). Spark's rangeBetween needs a numeric ordering column ⇒
    * order by epoch micros. Addends quantize to exact LONG micros
    * (`round(value·1e6)` — inputs carry ≤2 decimals, so the rounded
    * product is the exact rational on both engines) BEFORE the frame
    * sum: a moving RANGE frame re-evaluates its aggregate per row, and
    * a LONG add is ~10× a BigDecimal buffer update in that loop (the
    * decimal form measured 3.2 s at sf0.1; this form ~1 s, same exact
    * sum). The emitted double is the identical two-step
    * exact-int→double→÷1e6 sequence on both engines. One
    * hash-partition shuffle on user_id.
    */
  def qWindowRangeInterval(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, 0L)
    Tables
      .events(spark, sfDir)
      .select(
        col("event_id"),
        col("user_id"),
        col("ts"),
        unix_micros(col("ts")).as("ts_us"),
        col("value"))
      .select(
        col("event_id"),
        col("user_id"),
        col("ts"),
        (sum(round(col("value") * 1e6).cast("long")).over(w).cast("double") / 1e6)
          .as("sum_1h"),
        count(lit(1)).over(w).as("n_1h"))
      .orderBy("event_id")
  }

  /** The same as-of semantics through the native custom operator
    * ([[graft.plans.AsOfJoinPlan]] → AsOfJoinExec): a custom LogicalPlan
    * + SparkStrategy + SparkPlan whose per-partition merge carries O(1)
    * state, with distribution/ordering requirements declared so
    * Catalyst/AQE own the exchanges and sorts. Same oracle as
    * `q_join_asof` — the two formulations must agree row-for-row.
    */
  def qJoinAsofNative(spark: SparkSession, sfDir: String): DataFrame =
    graft.plans.AsOfJoin
      .asof(
        Tables.events(spark, sfDir).select("event_id", "user_id", "ts"),
        "user_id",
        "ts",
        Tables.orders(spark, sfDir).select("o_custkey", "o_orderdate"),
        "o_custkey",
        "o_orderdate",
        "last_order_date")
      .orderBy("event_id")

  /** Full outer join of two aggregated sides (orders-per-year vs
    * events-per-year): exercises unmatched keys in both directions. Both
    * inputs aggregate before the join, so the shuffled sides are tiny at
    * any scale.
    */
  def qJoinFull(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables
      .orders(spark, sfDir)
      .groupBy(year(col("o_orderdate")).as("y"))
      .agg(count(lit(1)).as("n_orders"))
    val e = Tables
      .events(spark, sfDir)
      .groupBy(year(col("ts")).as("y"))
      .agg(count(lit(1)).as("n_events"))
    o.join(e, Seq("y"), "full_outer")
      .select(
        coalesce(o("y"), e("y")).as("y"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy("y")
  }

  /** Cross join of two bounded dims (region × nation = 125 rows). Catalyst
    * plans the broadcast nested-loop this wants; the guard at scale is that
    * neither side is a fact table.
    */
  def qJoinCross(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .region(spark, sfDir)
      .select("r_name")
      .crossJoin(Tables.nation(spark, sfDir).select("n_name"))
      .orderBy("r_name", "n_name")

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other instead of vanishing — the semantic plain `=`
    * joins silently drop (unknown-bucket × unknown-bucket pairs here).
    * Still a hash-partitionable equi-join in Catalyst: NULL is just one
    * more key value, so the plan is the same shuffle as `q_join_inner`
    * (a NULL-heavy key at 100 TB is a skew key — `q_dq_skew` finds it,
    * `q_join_salted` fixes it).
    */
  def qJoinNullsafe(spark: SparkSession, sfDir: String): DataFrame = {
    val a = Tables
      .customer(spark, sfDir)
      .select(nullif(pmod(col("c_custkey"), lit(10)), lit(7)).as("nk"))
    val b = Tables
      .supplier(spark, sfDir)
      .select(nullif(pmod(col("s_suppkey"), lit(10)), lit(7)).as("bk"))
    a.join(b, col("nk") <=> col("bk"))
      .groupBy("nk")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("nk")
  }

  /** Distinct tag per (JVM, bucket write) so two engine processes (e.g.
    * a Verify and a Bench sharing /tmp) never write the same external
    * table path; the catalog entry memoizes per session so the shuffle
    * is paid once per process.
    */
  private val bucketNonce: String =
    java.util.UUID.randomUUID().toString.take(8)

  /** Co-located (bucketed) big⋈big join — the 100 TB strategy the rest of
    * the join battery's broadcast/co-shuffle plans can't reach: pay the
    * orderkey shuffle ONCE at write time (`bucketBy(16, key)` + in-bucket
    * sort), then every subsequent join on that key is exchange-free —
    * the scans come up pre-partitioned and pre-sorted, so the SortMerge
    * join consumes them directly (PlanSpec pins zero `Exchange
    * hashpartitioning` on either join key and `SelectedBucketsCount` on
    * the scans). At fixture scale the write is one extra pass; at real
    * scale it amortizes over every downstream orderkey join — the same
    * contract as a Hive/Iceberg bucketed table layout.
    *
    * First call per process materializes both bucketed tables under a
    * nonce'd /tmp path (overwrite mode — leftover dirs from a previous
    * run never collide); subsequent calls reuse the session catalog.
    * Output: per-priority line counts + exact-cent revenue over the
    * joined tables — value-identical to the plain join the oracle runs.
    */
  def qJoinBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = sfDir.replaceAll("[^0-9A-Za-z]", "_")
    val (lt, ot) = (s"lineitem_bkt_$tag", s"orders_bkt_$tag")
    Relational.synchronized {
      if (!spark.catalog.tableExists(lt)) {
        val base = s"${System.getProperty("java.io.tmpdir")}/graft_buckets_$bucketNonce"
        Tables
          .lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
          .write
          .mode("overwrite")
          .option("path", s"$base/$lt")
          .bucketBy(16, "l_orderkey")
          .sortBy("l_orderkey")
          .format("parquet")
          .saveAsTable(lt)
        Tables
          .orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderpriority"))
          .write
          .mode("overwrite")
          .option("path", s"$base/$ot")
          .bucketBy(16, "o_orderkey")
          .sortBy("o_orderkey")
          .format("parquet")
          .saveAsTable(ot)
      }
    }
    spark
      .table(lt)
      .join(spark.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lines"),
        (sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long"))
          .cast("double") / 100.0).as("revenue"))
      .orderBy("o_orderpriority")
  }

  // ----------------------------------------------------------- subqueries

  /** Uncorrelated scalar subquery through the SQL front door: orders above
    * the global average price. The average goes through the decimal core so
    * the threshold double is bit-identical in both engines.
    */
  def qSubqScalar(spark: SparkSession, sfDir: String): DataFrame =
    spark.sql(
      s"""SELECT o_orderkey, o_totalprice
         |FROM parquet.`$sfDir/orders.parquet`
         |WHERE o_totalprice > (
         |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / count(o_totalprice)
         |  FROM parquet.`$sfDir/orders.parquet`)
         |ORDER BY o_orderkey""".stripMargin)

  /** Correlated scalar subquery: parts larger than their brand's average
    * size. Catalyst de-correlates this into an aggregate + join — the
    * scalable plan — rather than per-row re-execution.
    */
  def qSubqCorrelated(spark: SparkSession, sfDir: String): DataFrame =
    spark.sql(
      s"""SELECT p_partkey, p_brand, p_size
         |FROM parquet.`$sfDir/part.parquet` p
         |WHERE p_size > (
         |  SELECT avg(p2.p_size) FROM parquet.`$sfDir/part.parquet` p2
         |  WHERE p2.p_brand = p.p_brand)
         |ORDER BY p_partkey""".stripMargin)

  // ----------------------------------------------------------- aggregates

  def qAggGroup(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  def qAggDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** HLL sketch — approximate, so no oracle (driver records rows-only). */
  def qAggApprox(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        approx_count_distinct(col("l_orderkey")).as("approx_orders"))
      .orderBy("l_returnflag")

  /** Exact interpolated percentiles per group. `percentile` sorts each
    * group's values — correct but O(n log n) per group; the scale path
    * for wide groups is `q_agg_percentile_approx`. l_quantity is integral
    * and the quartile fractions are dyadic, so the linear interpolation is
    * exact in double on both engines (no ulp hazard).
    */
  def qAggPercentile(spark: SparkSession, sfDir: String): DataFrame = {
    val q = col("l_quantity").cast("double")
    Tables
      .lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(q, lit(0.25)).as("p25"),
        percentile(q, lit(0.5)).as("p50"),
        percentile(q, lit(0.75)).as("p75"))
      .orderBy("l_returnflag")
  }

  /** Approximate percentiles (Greenwald-Khanna sketch): the 100 TB path —
    * one pass, fixed memory per group, mergeable partials; accuracy set
    * by the relative-error parameter. Sketch merge order varies with
    * scheduling, so no oracle (rows-only check).
    */
  def qAggPercentileApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val q = col("l_quantity").cast("double")
    Tables
      .lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_percentile(q, lit(0.5), lit(1000)).as("ap50"),
        approx_percentile(q, lit(0.99), lit(1000)).as("ap99"))
      .orderBy("l_returnflag")
  }

  /** Statistical aggregates (variance/stddev/corr/covar) built from
    * decimal-cored moment sums so Spark and DuckDB produce bit-identical
    * doubles (the built-in one-pass implementations are order-dependent in
    * the last ulp and hash-mismatch across engines). Same shuffle shape as
    * the built-ins: one map-side partial agg on the group key.
    */
  def qAggStats(spark: SparkSession, sfDir: String): DataFrame = {
    // Products are taken decimal×decimal (exact), NOT double×double then
    // rounded to decimal — rounding a double product at the 6th decimal can
    // tie-break differently across engines (observed: syy off by 1 ulp →
    // corr_qp mismatch at sf0.01). Scale 3 factors (inputs have ≤2 decimals,
    // so the cast is exact) keep the product precision ≤38 on both engines;
    // the oracle uses DECIMAL(19,3) to force DuckDB onto int128.
    def d(c: Column) = c.cast("decimal(18,3)")
    // Split-cast (r8, closes the r7 ×10 1-ulp boundary): the decimal sums
    // are exact on both engines, but DIRECT decimal→double of a large sum
    // is engine-dependent once the scaled integer passes 2^64 — DuckDB's
    // int128→double reconstructs from its two 64-bit words (two
    // roundings) while Spark's BigDecimal.doubleValue rounds once; the r7
    // probe measured covar_qp exactly one 1e-6 grid unit apart at 10×
    // sf0.1 (syy ≈ 6e16, scaled 6e22 > 2^64). Casting floor and fraction
    // SEPARATELY stays in the singly-rounded regime on both engines: the
    // integer part converts in one rounding while |floor(S)| < 2^63
    // (good past sf100 here), the fraction's scaled int < 10^6 converts
    // via an exact double and one correctly-rounded ÷1e6, and the final
    // IEEE add is deterministic — so the reconstructed doubles are
    // IDENTICAL across engines (validated empirically against DuckDB,
    // 2026-08-14, including >2^64 scaled values). The oracle carries the
    // same floor/frac/add sequence.
    def dd(c: Column) = floor(c).cast("double") + (c - floor(c)).cast("double")
    val n = count(col("l_quantity")).cast("double")
    val sx = dd(sum(col("l_quantity").cast("decimal(18,6)")))
    val sxx = dd(sum(d(col("l_quantity")) * d(col("l_quantity"))))
    val sy = dd(sum(col("l_extendedprice").cast("decimal(18,6)")))
    val syy = dd(sum(d(col("l_extendedprice")) * d(col("l_extendedprice"))))
    val sxy = dd(sum(d(col("l_quantity")) * d(col("l_extendedprice"))))
    val varQ = (sxx - sx * sx / n) / (n - 1)
    val varP = (syy - sy * sy / n) / (n - 1)
    val cov = (sxy - sx * sy / n) / (n - 1)
    Tables
      .lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(varQ, 9).as("var_qty"),
        round(sqrt(varQ), 9).as("std_qty"),
        round(cov, 6).as("covar_qp"),
        round(cov / (sqrt(varQ) * sqrt(varP)), 12).as("corr_qp"))
      .orderBy("l_returnflag")
  }

  /** collect_set / collect_list surfaced as sorted joined strings (stable
    * across engines and partition orders).
    */
  def qAggCollect(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses"),
        array_join(sort_array(collect_set(col("l_linenumber").cast("string"))), ",").as("linenos"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Fixed-width histogram over o_totalprice: bucket = trunc(x / 50k)
    * clamped to 11 — plain column math so any engine bins identically.
    */
  def qHistogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .orders(spark, sfDir)
      .groupBy(least(floor(col("o_totalprice") / 50000), lit(11)).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("bucket")

  /** Pivot: order counts by year × order priority. Fixed pivot-value list
    * keeps the schema static (no driver-side distinct scan) — the form that
    * works on unbounded input.
    */
  def qPivot(spark: SparkSession, sfDir: String): DataFrame = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val df = Tables
      .orders(spark, sfDir)
      .groupBy(year(col("o_orderdate")).as("y"))
      .pivot("o_orderpriority", prios)
      .agg(count(lit(1)))
    prios
      .foldLeft(df) { (d, p) =>
        val alias = "p" + p.takeWhile(_ != '-')
        d.withColumn(alias, coalesce(col(s"`$p`"), lit(0L))).drop(p)
      }
      .orderBy("y")
  }

  private def nullFilled(df: DataFrame): DataFrame =
    df.select(
      coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
      coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
      col("sum_qty"),
      col("n"))
      .orderBy("rf", "ls")

  def qAggRollup(spark: SparkSession, sfDir: String): DataFrame =
    nullFilled(
      Tables
        .lineitem(spark, sfDir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n")))

  def qAggCube(spark: SparkSession, sfDir: String): DataFrame =
    nullFilled(
      Tables
        .lineitem(spark, sfDir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n")))

  /** Exercises the SQL front door (spark.sql over parquet) on purpose. */
  def qAggGsets(spark: SparkSession, sfDir: String): DataFrame =
    spark.sql(
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf,
         |       coalesce(l_linestatus, 'ALL') AS ls,
         |       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
         |       count(1) AS n
         |FROM parquet.`$sfDir/lineitem.parquet`
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY rf, ls""".stripMargin)

  // -------------------------------------------------------------- windows

  def qWindowRank(spark: SparkSession, sfDir: String): DataFrame = {
    val byPrice = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice").desc)
    val stable =
      Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables
      .orders(spark, sfDir)
      .select(
        col("o_orderpriority"),
        col("o_orderkey"),
        col("o_totalprice"),
        rank().over(byPrice).as("rnk"),
        dense_rank().over(byPrice).as("drnk"),
        row_number().over(stable).as("rn"))
      .where(col("rn") <= 100)
      .orderBy("o_orderpriority", "rn")
  }

  def qWindowFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val wRange = Window
      .partitionBy("o_custkey")
      .orderBy(unix_micros(col("o_orderdate").cast("timestamp")))
      .rangeBetween(-2592000000000L, 0) // 30 days in µs
    val dec = col("o_totalprice").cast("decimal(18,6)")
    Tables
      .orders(spark, sfDir)
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        col("o_orderdate"),
        sum(dec).over(w.rowsBetween(-2, 0)).cast("double").as("mov3"),
        sum(dec).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double").as("running"),
        sum(dec).over(wRange).cast("double").as("last30d"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  def qWindowAnalytic(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables
      .events(spark, sfDir)
      .select(
        col("event_id"),
        col("user_id"),
        col("ts"),
        col("value"),
        lag(col("value"), 1).over(w).as("prev_val"),
        lead(col("value"), 1).over(w).as("next_val"),
        first(col("ts")).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("first_ts"),
        last(col("ts"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .as("last_ts"))
      .orderBy("user_id", "event_id")
  }

  /** Distribution window functions: quartile bucket (`ntile`), relative
    * rank (`percent_rank`), and CDF position (`cume_dist`) of each
    * customer's balance within its market segment — the analytic trio the
    * rank battery doesn't cover. Same scale shape as the other window
    * queries: one hash-partition shuffle on the segment, per-partition
    * sort. Order is made total with the key tiebreak so both engines
    * agree on every tie.
    */
  def qWindowDist(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    Tables
      .customer(spark, sfDir)
      .select(
        col("c_mktsegment"),
        col("c_custkey"),
        col("c_acctbal"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdf"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  // ---------------------------------------------------------------- top-k

  /** Global top-k: sort+limit planned as TakeOrderedAndProject — per-
    * partition heaps + a k-row driver merge, no global sort at scale.
    */
  def qTopk(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)

  def qTopkGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val w =
      Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables
      .customer(spark, sfDir)
      .select(
        col("c_mktsegment"),
        col("c_custkey"),
        col("c_acctbal"),
        row_number().over(w).as("rn"))
      .where(col("rn") <= 5)
      .orderBy("c_mktsegment", "rn")
  }

  /** The same per-group top-5 through the native bounded-heap operator
    * ([[graft.plans.GroupTopKPlan]]): one hash-partition shuffle and NO
    * partition sort (WindowExec must sort every partition in full); row
    * rank and row set are identical to [[qTopkGroup]], so the same
    * oracle applies.
    */
  def qTopkGroupNative(spark: SparkSession, sfDir: String): DataFrame =
    graft.plans.GroupTopK
      .topk(
        Tables
          .customer(spark, sfDir)
          .select("c_mktsegment", "c_custkey", "c_acctbal"),
        "c_mktsegment",
        "c_acctbal",
        "c_custkey",
        5,
        "rn")
      .orderBy("c_mktsegment", "rn")

  /** TIE-AWARE per-group top-k (r12): `rank() <= 3` per customer over
    * order priority — ties at the boundary ALL survive, so a group can
    * emit more than k rows (853 of ~1.5k customers at sf0.01 have a tie
    * group straddling k — the score-ranked-retrieval common case).
    * Written in the standard window form; under the extension tier
    * ([[graft.plans.WindowTopKRule]], the Verify/Bench configuration)
    * the plan is the native bounded-bucket GroupTopK — no partition
    * sort, map-side partial below the one hash exchange — and the rows
    * are pinned identical to WindowExec's in GroupTopKSpec /
    * ExtensionsSpec. Scale: retained state per group is ≤ k rows plus
    * the boundary bucket's ties (the actual output), regardless of
    * group size.
    */
  def qTopkGroupTies(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderpriority").desc)
    Tables
      .orders(spark, sfDir)
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        col("o_orderpriority"),
        rank().over(w).as("rnk"))
      .where(col("rnk") <= 3)
      .orderBy("o_custkey", "rnk", "o_orderkey")
  }

  /** `dense_rank() <= 3` per lineitem status over quantity — the
    * top-k-DISTINCT-VALUES sibling of [[qTopkGroupTies]]: every row in
    * the top 3 quantity values per status survives (~1.2k rows per
    * (status, quantity) at sf0.01). Same extension-tier rewrite to the
    * bucket-mode GroupTopK; Dense mode bounds state at k value buckets
    * per group.
    */
  def qTopkGroupDense(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("l_linestatus").orderBy(col("l_quantity").desc)
    Tables
      .lineitem(spark, sfDir)
      .select(
        col("l_linestatus"),
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_quantity"),
        dense_rank().over(w).as("rnk"))
      .where(col("rnk") <= 3)
      .orderBy("l_linestatus", "rnk", "l_orderkey", "l_linenumber")
  }

  // -------------------------------------------------------------- set ops

  private def custYear(spark: SparkSession, sfDir: String, y: Int): DataFrame =
    Tables
      .orders(spark, sfDir)
      .where(year(col("o_orderdate")) === y)
      .select("o_custkey")

  def qSetUnion(spark: SparkSession, sfDir: String): DataFrame =
    custYear(spark, sfDir, 1995)
      .union(custYear(spark, sfDir, 2001))
      .distinct()
      .orderBy("o_custkey")

  def qSetIntersect(spark: SparkSession, sfDir: String): DataFrame =
    custYear(spark, sfDir, 1995).intersect(custYear(spark, sfDir, 2001)).orderBy("o_custkey")

  def qSetExcept(spark: SparkSession, sfDir: String): DataFrame =
    custYear(spark, sfDir, 1995).except(custYear(spark, sfDir, 2001)).orderBy("o_custkey")

  /** Bag-semantics set ops (`INTERSECT ALL` / `EXCEPT ALL`): multiplicity
    * matters — a customer with 3 orders in 1995 and 1 in 2001 contributes
    * min(3,1)=1 row to the intersection and 3−1=2 to the difference. The
    * multiset members of the set-op family; Catalyst plans both as an
    * aggregate-count + replicate, one shuffle each.
    */
  def qSetIntersectAll(spark: SparkSession, sfDir: String): DataFrame =
    custYear(spark, sfDir, 1995).intersectAll(custYear(spark, sfDir, 2001)).orderBy("o_custkey")

  def qSetExceptAll(spark: SparkSession, sfDir: String): DataFrame =
    custYear(spark, sfDir, 1995).exceptAll(custYear(spark, sfDir, 2001)).orderBy("o_custkey")

  // ----------------------------------------------------- function families

  def qFnString(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .part(spark, sfDir)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        substring(col("p_name"), 1, 5).as("pre"),
        length(col("p_name")).as("len"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        levenshtein(col("p_brand"), lit("Brand#33")).as("lev"),
        regexp_replace(col("p_type"), " ", "_").as("tpe"),
        lpad(col("p_size").cast("string"), 4, "0").as("padded"),
        concat_ws("|", col("p_brand"), col("p_type")).as("joined"))
      .orderBy("p_partkey")

  def qFnDate(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .orders(spark, sfDir)
      .select(
        col("o_orderkey"),
        col("o_orderdate"),
        year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
        last_day(col("o_orderdate").cast("date")).as("month_end"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")).as("days_since"))
      .orderBy("o_orderkey")

  def qFnMath(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .lineitem(spark, sfDir)
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        abs(col("l_extendedprice") - 50000).as("absv"),
        sqrt(col("l_extendedprice")).as("sq"),
        round(col("l_extendedprice"), 1).as("rnd"),
        ceil(col("l_extendedprice")).as("cl"),
        floor(col("l_extendedprice")).as("fl"),
        col("l_extendedprice").cast("int").as("trunc_i"),
        pow(lit(2.0), -col("l_linenumber")).as("pw"),
        (col("l_orderkey") % 97).as("m97"),
        greatest(col("l_extendedprice"), lit(50000.0)).as("hi"),
        least(col("l_extendedprice"), lit(50000.0)).as("lo"))
      .orderBy("l_orderkey", "l_linenumber")

  def qFnArray(spark: SparkSession, sfDir: String): DataFrame = {
    val tokens = split(col("p_name"), " ")
    Tables
      .part(spark, sfDir)
      .select(
        col("p_partkey"),
        size(tokens).as("n_tokens"),
        element_at(tokens, 1).as("first_tok"),
        array_contains(tokens, "red").as("has_red"),
        array_join(sort_array(tokens), ",").as("sorted_joined"),
        // guard p_size < 1: Spark's sequence(1, 0) auto-steps DOWN to
        // [1, 0] (sum 1) while the oracle's closed form n*(n+1)/2 gives
        // 0 — current data has p_size in [1, 50], but the pair must not
        // silently diverge if a fixture ever admits p_size <= 0
        when(
          col("p_size") >= 1,
          aggregate(sequence(lit(1), col("p_size")), lit(0), (a, x) => a + x))
          .otherwise(lit(0))
          .cast("bigint")
          .as("seq_sum"))
      .orderBy("p_partkey")
  }

  /** Map functions on the Spark side; the oracle computes the equivalent
    * scalars directly (DuckDB map element access has LIST-returning quirks
    * that would leak into the schema).
    */
  def qFnMap(spark: SparkSession, sfDir: String): DataFrame = {
    val m = map(
      lit("evt"),
      col("event_type"),
      lit("uid"),
      col("user_id").cast("string"))
    Tables
      .events(spark, sfDir)
      .select(
        col("event_id"),
        element_at(m, "evt").as("evt"),
        element_at(m, "uid").as("uid_s"),
        size(map_keys(m)).as("n_keys"),
        array_join(sort_array(map_keys(m)), ",").as("keys_joined"))
      .orderBy("event_id")
  }

  def qFnJson(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .events(spark, sfDir)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"), col("value"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))
      .orderBy("k")

  /** Nested-struct function battery — the STRUCT member of the complex-type
    * family beside `q_fn_array`/`q_fn_map`/`q_fn_json`: `struct()`
    * construction, dotted field access through an alias, an ARRAY<STRUCT>
    * built per row, and `inline()` exploding it back to columns (the
    * generator form that yields struct fields directly, no post-hoc
    * `getField`). All per-row projection work at the scan — no shuffle;
    * the 1:2 inline fan-out happens in the scan stage like any generator.
    * The oracle reproduces the flattened result relationally (a constant
    * 2-row cross join) — same contract as `q_fn_map`'s oracle: results
    * must match, implementation shape needn't.
    */
  def qFnStruct(spark: SparkSession, sfDir: String): DataFrame = {
    val s = struct(
      col("o_orderkey").as("key"),
      col("o_totalprice").as("price"),
      col("o_orderpriority").as("prio"))
    val arr = array(
      struct(lit(1).as("idx"), col("o_orderstatus").as("v")),
      struct(lit(2).as("idx"), col("o_orderpriority").as("v")))
    Tables
      .orders(spark, sfDir)
      .select(col("o_orderkey"), s.as("s"), arr.as("arr"))
      .select(
        col("o_orderkey"),
        col("s.key").as("s_key"),
        col("s.price").as("s_price"),
        upper(col("s.prio")).as("s_prio_up"),
        inline(col("arr")))
      .withColumnRenamed("v", "val")
      .orderBy("o_orderkey", "idx")
  }

  /** URL function battery — `parse_url` host/path/query extraction plus
    * query-parameter lookup, over URLs synthesized deterministically from
    * table columns (the web-pipeline shape: crawl records carry URLs;
    * this battery is how source-domain mixing, per-site caps, and
    * canonicalization all start). Same round-trip oracle idea as the
    * multimodal probes: DuckDB rebuilds the expected parts from the same
    * synthesis arithmetic, so a parse bug on the Spark side (wrong
    * component, bad delimiter handling) breaks the hash match. Pure
    * scan-side projection, no shuffle.
    */
  def qFnUrl(spark: SparkSession, sfDir: String): DataFrame = {
    val url = concat(
      lit("https://"),
      col("source"),
      lit(".example.com/docs/"),
      col("doc_id"),
      lit("?lang="),
      col("lang"),
      lit("&v=2"))
    Tables
      .documents(spark, sfDir)
      .select(
        col("doc_id"),
        url.as("url"),
        parse_url(url, lit("HOST")).as("host"),
        parse_url(url, lit("PATH")).as("path"),
        parse_url(url, lit("QUERY")).as("query"),
        parse_url(url, lit("QUERY"), lit("lang")).as("q_lang"))
      .orderBy("doc_id")
  }

  /** ANSI-safe `try_*` arithmetic surface: `try_divide` (zero divisor),
    * `try_add` (BIGINT overflow), `try_to_number` (malformed string) all
    * yield NULL instead of failing the job — the error-handling contract
    * a pipeline over dirty data relies on. Aggregated per event type so
    * the null/total accounting is the visible result; the oracle
    * reproduces each NULL rule with explicit CASE guards.
    *
    * Codegen status (r13 ask #5, the BENCH3_r12 2.1–3.8 s spread
    * investigation): the EXECUTED plan (`Explain q_fn_try --final`,
    * AQE isFinalPlan=true) shows the whole scan→project→partial-agg
    * chain inside ONE WholeStageCodegen span (`*(1)` through the
    * try_to_number projection — ToNumberBase implements doGenCode, and
    * TRY-mode arithmetic codegens like its ANSI twin). The r12
    * "interpreted try_* arithmetic" hypothesis came from the
    * PRE-execution formatted plan of an adaptive query, which carries
    * no codegen markers for ANY entry. The triple-run spread is
    * therefore the documented shared-JIT-rotation class (build.sbt,
    * SURVEY §6), not a codegen fallback — nothing to pin.
    */
  def qFnTry(spark: SparkSession, sfDir: String): DataFrame = {
    val div = try_divide(col("value"), (col("user_id") % 5).cast("double"))
    val add = try_add(lit(Long.MaxValue), col("user_id"))
    // 12-digit format: user_id grows ~15k per sf unit, so 6 digits would
    // silently cap parseability around sf67 and diverge from the oracle's
    // %-3 rule; 12 digits holds to sf ~6e7
    val num = try_to_number(
      concat(col("user_id"), when(col("user_id") % 3 === 0, "x").otherwise("")),
      lit("999999999999"))
    Tables
      .events(spark, sfDir)
      .select(col("event_type"), div.as("d"), add.as("a"), num.as("m"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        count(col("d")).as("n_div_ok"),
        count(col("a")).as("n_add_ok"),
        count(col("m")).as("n_num_ok"),
        (sum(round(col("d") * lit(100)).cast("long")).cast("double") / 100).as("sum_div"))
      .orderBy("event_type")
  }

  /** `nth_value` analytic over a full partition frame — the ranked-pick
    * member missing from `q_window_analytic`'s lag/lead/first/last: the
    * 3rd-highest-balance customer per market segment, read directly off
    * the frame rather than rank-filtered.
    */
  def qWindowNth(spark: SparkSession, sfDir: String): DataFrame = {
    val order = Window
      .partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_name"))
    val full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // r16 two-phase top-k (guide §2.3): nth_value(3) and the rn = 1 pick
    // only ever read the first three rows of each segment's frame, so a
    // row_number ≤ 3 pre-filter — the exact WindowTopKRule shape, which
    // rewrites to the bounded GroupTopK heap — shrinks the WindowExec
    // input from |customers| to 3·|segments| rows without touching what
    // the nth_value frame sees (the kept prefix is the frame prefix,
    // same order, same ties; segments with < 3 rows keep their NULL
    // third_* readout). The full-partition sort this avoided was over
    // only |segments| tasks — a parallelism collapse at scale.
    val top3 = Tables
      .customer(spark, sfDir)
      .select(col("c_mktsegment"), col("c_name"), col("c_acctbal"))
      .withColumn("rn0", row_number().over(order))
      .where(col("rn0") <= 3)
      .drop("rn0")
    top3
      .select(
        col("c_mktsegment"),
        nth_value(col("c_name"), 3).over(full).as("third_name"),
        nth_value(col("c_acctbal"), 3).over(full).as("third_bal"),
        row_number().over(order).as("rn"))
      .where(col("rn") === 1)
      .select("c_mktsegment", "third_name", "third_bal")
      .orderBy("c_mktsegment")
  }

  /** Typed `Dataset[T]` pipeline — the case-class-Encoder surface as an
    * oracle-checked entry: `as[OrderRow]` → typed `filter` (a Scala
    * predicate, not a Column) → `groupByKey` → `mapGroups`. This is the
    * ESCAPE HATCH, deliberately costed: a typed filter is opaque to
    * Catalyst (no pushdown) and `mapGroups` shuffles whole rows with no
    * partial aggregation — the relational twin `q_agg_group` is the
    * scale recommendation; this entry documents that the typed surface
    * produces identical results when per-group imperative logic is
    * genuinely needed. Group sums accumulate exact LONG cents, so
    * iterator order cannot perturb the result.
    */
  def qTypedPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables
      .orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .as[OrderRow]
      .filter(_.o_totalprice > 150000.0)
      .groupByKey(_.o_orderstatus)
      .mapGroups { (status, it) =>
        var n = 0L
        var cents = 0L
        it.foreach { o =>
          n += 1
          cents += math.round(o.o_totalprice * 100)
        }
        (status, n, cents.toDouble / 100)
      }
      .toDF("o_orderstatus", "n", "sum_price")
      .orderBy("o_orderstatus")
  }

  /** Correlated LATERAL join through the SQL front door: per nation, the
    * top-2 customers by balance — the "top-N per outer row" shape that
    * reads naturally as a lateral subquery. Catalyst decorrelates the
    * ORDER BY + LIMIT inner query into a window-rank join (the same plan
    * family as `q_topk_group`), so the lateral form is syntax, not a
    * nested-loop sentence.
    */
  def qJoinLateral(spark: SparkSession, sfDir: String): DataFrame =
    spark.sql(
      s"""SELECT n_name, c.c_name, c.c_acctbal
         |FROM parquet.`$sfDir/nation.parquet`,
         | LATERAL (
         |  SELECT c_name, c_acctbal FROM parquet.`$sfDir/customer.parquet`
         |  WHERE c_nationkey = n_nationkey
         |  ORDER BY c_acctbal DESC, c_name LIMIT 2) c
         |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin)

  /** `unpivot` (melt): the wide→long reshape dual of `q_pivot` — four
    * lineitem measures become (metric, value) rows through the typed
    * DataFrame API (Spark's `unpivot` emits a single value column, so
    * the measures must share a type; they're all DOUBLE here). Values
    * pass through untouched — bit-identical in any engine.
    */
  def qReshapeUnpivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .lineitem(spark, sfDir)
      .where(col("l_orderkey") % 50 === 0) // keep the long table bounded
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric",
        "value")
      .orderBy("l_orderkey", "l_linenumber", "metric")

  /** Higher-order lambda battery (`transform` / `filter` / `aggregate` /
    * `exists` / `forall`) — API-coverage entry for the array-lambda
    * surface `q_fn_array` (plain functions) doesn't touch. These run on
    * Spark's INTERPRETED HOF evaluator — exactly the hot path the
    * codegen kernels exist to replace (§6) — which is fine here: the
    * arrays are per-row token lists, the projection is one scan, and the
    * entry documents the API, not a scale recommendation.
    */
  def qFnLambda(spark: SparkSession, sfDir: String): DataFrame = {
    val t = split(col("text"), " ")
    val lens = transform(t, x => length(x))
    Tables
      .documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(filter(lens, x => x > 4)).as("n_long_toks"),
        aggregate(lens, lit(0), (acc, x) => acc + x).as("sum_tok_len"),
        exists(t, x => x === "spark").as("has_spark"),
        forall(lens, x => x <= 12).as("all_short"))
      .orderBy("doc_id")
  }

  /** Spark 4 VARIANT round trip — the semi-structured column type that
    * supersedes string-JSON hot paths (binary-encoded, typed access, no
    * re-parse per extraction): per event a nested JSON document is
    * synthesized from columns, `parse_json`'d into a VARIANT, and read
    * back with typed `variant_get` paths (nested object, array index,
    * and a `try_variant_get` miss). The oracle never parses JSON — it
    * recomputes every extracted value from the same source-column
    * arithmetic, so a parse/extract/encode bug on the Spark side breaks
    * the hash (the `q_fn_url` round-trip contract). Only integer/string
    * fields enter the JSON (float formatting is not engine-portable).
    * Scale: per-row projection at the scan + one small-key partial agg.
    */
  def qFnVariant(spark: SparkSession, sfDir: String): DataFrame = {
    val js = format_string(
      """{"id": %d, "m": {"t": "%s", "vc": %d}, "tags": [%d, %d]}""",
      col("event_id"),
      col("event_type"),
      round(col("value") * 100).cast("long"),
      pmod(col("user_id"), lit(5)),
      pmod(col("user_id"), lit(7)))
    Tables
      .events(spark, sfDir)
      .withColumn("v", parse_json(js))
      .select(
        col("event_type"),
        schema_of_variant(col("v")).as("sch"),
        variant_get(col("v"), "$.m.vc", "bigint").as("vc"),
        variant_get(col("v"), "$.tags[0]", "bigint").as("t0"),
        try_variant_get(col("v"), "$.missing", "bigint").as("miss"))
      .groupBy("event_type", "sch")
      .agg(
        count(lit(1)).as("n"),
        sum("vc").as("sum_vc"),
        sum("t0").as("sum_t0"),
        count(col("miss")).as("n_miss"))
      .orderBy("event_type")
  }

  // ----------------------------------------------------------- UDF surface

  /** Scala UDF demo (black-box to Catalyst — kept out of hot paths). */
  def qUdfScalar(spark: SparkSession, sfDir: String): DataFrame = {
    val slug = udf((s: String) => if (s == null) null else s.toLowerCase.replace(' ', '-'))
    Tables
      .part(spark, sfDir)
      .select(col("p_partkey"), slug(col("p_name")).as("slug"))
      .orderBy("p_partkey")
  }

  def qUdfWavg(spark: SparkSession, sfDir: String): DataFrame = {
    val wavg = udaf(graft.functions.WeightedAvg)
    Tables
      .lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(wavg(col("l_extendedprice"), col("l_quantity")).as("wavg_price"))
      .orderBy("l_returnflag")
  }

  /** Typed flatMap = the UDTF analog: docs → token bigrams → counts. */
  def qUdtfBigrams(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables
      .documents(spark, sfDir)
      .select(col("text"))
      .as[String]
      .flatMap { t =>
        val ts = t.split(" ").filter(_.nonEmpty)
        if (ts.length < 2) Iterator.empty
        else ts.sliding(2).map(_.mkString(" "))
      }
      .toDF("bigram")
      .groupBy("bigram")
      .count()
      .orderBy(col("count").desc, col("bigram").asc)
      .limit(100)
  }

  // ------------------------------------------------------------- registry

  val all: Seq[(String, Q)] = Seq(
    "q_filter_project" -> Q(
      qFilterProject,
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_discount > 0.05
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    "q_join_inner" -> Q(
      qJoinInner,
      Some("""SELECT o_orderkey, c_custkey, c_name, c_mktsegment, o_totalprice
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_totalprice > 100000
             |ORDER BY o_orderkey""".stripMargin)),
    "q_join_left" -> Q(
      qJoinLeft,
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
             |  coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS total_spend
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),
    "q_join_semi" -> Q(
      qJoinSemi,
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01')
             |ORDER BY c_custkey""".stripMargin)),
    "q_join_anti" -> Q(
      qJoinAnti,
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin)),
    "q_join_range" -> Q(
      qJoinRange,
      Some("""SELECT s_suppkey, count(*) AS n_matches
             |FROM customer JOIN supplier
             |  ON c_acctbal >= s_acctbal - 100 AND c_acctbal <= s_acctbal + 100
             |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin)),
    "q_join_range_binned" -> Q(
      qJoinRangeBinned,
      Some("""SELECT s_suppkey, count(*) AS n_matches
             |FROM customer JOIN supplier
             |  ON c_acctbal >= s_acctbal - 100 AND c_acctbal <= s_acctbal + 100
             |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin)),
    "q_join_asof" -> Q(
      qJoinAsof,
      Some(s"""SELECT e.event_id, e.user_id, e.ts, o.o_orderdate AS last_order_date
              |FROM $EV e ASOF LEFT JOIN orders o
              |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
              |ORDER BY e.event_id""".stripMargin)),
    "q_join_asof_nearest" -> Q(
      qJoinAsofNearest,
      Some(s"""WITH bwd AS (
              | SELECT e.event_id, e.user_id, e.ts, o.o_orderdate AS last_o
              | FROM $EV e ASOF LEFT JOIN orders o
              |   ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate),
              |fwd AS (
              | SELECT e.event_id, o.o_orderdate AS next_o
              | FROM $EV e ASOF LEFT JOIN orders o
              |   ON e.user_id = o.o_custkey AND e.ts < o.o_orderdate)
              |SELECT b.event_id, b.user_id, b.ts,
              | CASE WHEN next_o IS NULL THEN last_o
              |      WHEN last_o IS NULL THEN next_o
              |      WHEN epoch_us(b.ts) - epoch_us(CAST(last_o AS TIMESTAMP))
              |         <= epoch_us(CAST(next_o AS TIMESTAMP)) - epoch_us(b.ts) THEN last_o
              |      ELSE next_o END AS nearest_order_date
              |FROM bwd b JOIN fwd f ON b.event_id = f.event_id
              |ORDER BY b.event_id""".stripMargin)),
    "q_join_asof_tolerance" -> Q(
      qJoinAsofTolerance,
      Some(s"""SELECT e.event_id, e.user_id, e.ts,
              | CASE WHEN o.o_orderdate >= e.ts - INTERVAL 1 DAY
              |      THEN o.o_orderdate END AS fresh_order_date
              |FROM $EV e ASOF LEFT JOIN orders o
              |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
              |ORDER BY e.event_id""".stripMargin),
      // oracle-verified every round via Verify; benching it would re-run
      // q_join_asof's IDENTICAL union+window plan (the tolerance is a
      // post-hoc projection) and double-count that plan in the total
      bench = false),
    "q_window_range_interval" -> Q(
      qWindowRangeInterval,
      Some(s"""SELECT event_id, user_id, ts,
              | CAST(sum(CAST(round(value * 1e6, 0) AS BIGINT)) OVER w AS DOUBLE) / 1e6 AS sum_1h,
              | count(1) OVER w AS n_1h
              |FROM $EV
              |WINDOW w AS (PARTITION BY user_id ORDER BY ts
              |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
              |ORDER BY event_id""".stripMargin)),
    "q_join_asof_native" -> Q(
      qJoinAsofNative,
      Some(s"""SELECT e.event_id, e.user_id, e.ts, o.o_orderdate AS last_order_date
              |FROM $EV e ASOF LEFT JOIN orders o
              |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
              |ORDER BY e.event_id""".stripMargin)),
    "q_join_full" -> Q(
      qJoinFull,
      Some(s"""WITH o AS (SELECT CAST(year(o_orderdate) AS INT) AS y, count(1) AS n_orders FROM orders GROUP BY 1),
              |e AS (SELECT CAST(year(ts) AS INT) AS y, count(1) AS n_events FROM $EV GROUP BY 1)
              |SELECT coalesce(o.y, e.y) AS y, coalesce(n_orders, 0) AS n_orders,
              |       coalesce(n_events, 0) AS n_events
              |FROM o FULL OUTER JOIN e ON o.y = e.y ORDER BY y""".stripMargin)),
    "q_join_cross" -> Q(
      qJoinCross,
      Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
             |ORDER BY r_name, n_name""".stripMargin)),
    "q_join_nullsafe" -> Q(
      qJoinNullsafe,
      Some("""WITH a AS (SELECT nullif(c_custkey % 10, 7) AS nk FROM customer),
             |b AS (SELECT nullif(s_suppkey % 10, 7) AS bk FROM supplier)
             |SELECT nk, count(1) AS n_pairs
             |FROM a JOIN b ON nk IS NOT DISTINCT FROM bk
             |GROUP BY nk ORDER BY nk""".stripMargin)),
    "q_join_bucketed" -> Q(
      qJoinBucketed,
      Some("""SELECT o_orderpriority, count(1) AS n_lines,
             | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q_subq_scalar" -> Q(
      qSubqScalar,
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_totalprice > (
             |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / count(o_totalprice)
             |  FROM orders)
             |ORDER BY o_orderkey""".stripMargin)),
    "q_subq_correlated" -> Q(
      qSubqCorrelated,
      Some("""SELECT p_partkey, p_brand, p_size FROM part p
             |WHERE p_size > (
             |  SELECT avg(p2.p_size) FROM part p2 WHERE p2.p_brand = p.p_brand)
             |ORDER BY p_partkey""".stripMargin)),
    "q_agg_stats" -> Q(
      qAggStats,
      Some("""WITH r AS (SELECT l_returnflag,
             |  count(l_quantity) AS cn,
             |  sum(CAST(l_quantity AS DECIMAL(18,6))) AS dsx,
             |  sum(CAST(l_quantity AS DECIMAL(19,3)) * CAST(l_quantity AS DECIMAL(19,3))) AS dsxx,
             |  sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS dsy,
             |  sum(CAST(l_extendedprice AS DECIMAL(19,3)) * CAST(l_extendedprice AS DECIMAL(19,3))) AS dsyy,
             |  sum(CAST(l_quantity AS DECIMAL(19,3)) * CAST(l_extendedprice AS DECIMAL(19,3))) AS dsxy
             | FROM lineitem GROUP BY l_returnflag),
             |s AS (SELECT l_returnflag,
             |  CAST(cn AS DOUBLE) AS n,
             |  CAST(floor(dsx) AS DOUBLE) + CAST(dsx - floor(dsx) AS DOUBLE) AS sx,
             |  CAST(floor(dsxx) AS DOUBLE) + CAST(dsxx - floor(dsxx) AS DOUBLE) AS sxx,
             |  CAST(floor(dsy) AS DOUBLE) + CAST(dsy - floor(dsy) AS DOUBLE) AS sy,
             |  CAST(floor(dsyy) AS DOUBLE) + CAST(dsyy - floor(dsyy) AS DOUBLE) AS syy,
             |  CAST(floor(dsxy) AS DOUBLE) + CAST(dsxy - floor(dsxy) AS DOUBLE) AS sxy
             | FROM r)
             |SELECT l_returnflag,
             | round((sxx - sx * sx / n) / (n - 1), 9) AS var_qty,
             | round(sqrt((sxx - sx * sx / n) / (n - 1)), 9) AS std_qty,
             | round((sxy - sx * sy / n) / (n - 1), 6) AS covar_qp,
             | round(((sxy - sx * sy / n) / (n - 1)) /
             |   (sqrt((sxx - sx * sx / n) / (n - 1)) * sqrt((syy - sy * sy / n) / (n - 1))), 12) AS corr_qp
             |FROM s ORDER BY l_returnflag""".stripMargin)),
    "q_agg_collect" -> Q(
      qAggCollect,
      Some("""SELECT l_returnflag,
             | array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
             | array_to_string(list_sort(list(DISTINCT CAST(l_linenumber AS VARCHAR))), ',') AS linenos,
             | count(1) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q_histogram" -> Q(
      qHistogram,
      Some("""SELECT CAST(least(floor(o_totalprice / 50000), 11) AS INT) AS bucket,
             | count(1) AS n,
             | CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),
    "q_pivot" -> Q(
      qPivot,
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS y,
             | count(1) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1,
             | count(1) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2,
             | count(1) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3,
             | count(1) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4,
             | count(1) FILTER (WHERE o_orderpriority = '5-LOW') AS p5
             |FROM orders GROUP BY 1 ORDER BY y""".stripMargin)),
    "q_agg_group" -> Q(
      qAggGroup,
      Some("""SELECT l_returnflag, l_linestatus,
             | CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
             | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
             | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
             | CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(l_quantity) AS avg_qty,
             | count(1) AS count_order
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    "q_agg_distinct" -> Q(
      qAggDistinct,
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
             | count(DISTINCT l_suppkey) AS n_supps, count(1) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q_agg_approx" -> Q(
      qAggApprox,
      None,
      noOracleReason = Some("approx_count_distinct is HLL++-based; DuckDB's approx_distinct uses a different sketch, estimates differ by design")),
    "q_agg_percentile" -> Q(
      qAggPercentile,
      Some("""SELECT l_returnflag,
             | quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS p25,
             | quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS p50,
             | quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS p75
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q_agg_percentile_approx" -> Q(
      qAggPercentileApprox,
      None,
      noOracleReason = Some("percentile_approx interpolates an impl-defined quantile summary; exact twin is q_agg_percentile")),
    "q_agg_rollup" -> Q(
      qAggRollup,
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
             | CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty, count(1) AS n
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY rf, ls""".stripMargin)),
    "q_agg_cube" -> Q(
      qAggCube,
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
             | CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty, count(1) AS n
             |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY rf, ls""".stripMargin)),
    "q_agg_gsets" -> Q(
      qAggGsets,
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
             | CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty, count(1) AS n
             |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
             |ORDER BY rf, ls""".stripMargin)),
    "q_window_rank" -> Q(
      qWindowRank,
      Some("""SELECT * FROM (
             | SELECT o_orderpriority, o_orderkey, o_totalprice,
             |  CAST(rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS INT) AS rnk,
             |  CAST(dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS INT) AS drnk,
             |  CAST(row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn
             | FROM orders)
             |WHERE rn <= 100 ORDER BY o_orderpriority, rn""".stripMargin)),
    "q_window_frame" -> Q(
      qWindowFrame,
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
             | CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov3,
             | CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running,
             | CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate) RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS last30d
             |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),
    "q_window_analytic" -> Q(
      qWindowAnalytic,
      Some(s"""SELECT event_id, user_id, ts, value,
              | lag(value, 1) OVER w AS prev_val,
              | lead(value, 1) OVER w AS next_val,
              | first_value(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_ts,
              | last_value(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ts
              |FROM $EV
              |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
              |ORDER BY user_id, event_id""".stripMargin)),
    "q_window_dist" -> Q(
      qWindowDist,
      Some("""SELECT c_mktsegment, c_custkey, c_acctbal,
             | CAST(ntile(4) OVER w AS INT) AS quartile,
             | percent_rank() OVER w AS pct_rank,
             | cume_dist() OVER w AS cdf
             |FROM customer
             |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
             |ORDER BY c_mktsegment, c_custkey""".stripMargin)),
    "q_topk" -> Q(
      qTopk,
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin)),
    "q_topk_group" -> Q(
      qTopkGroup,
      Some("""SELECT * FROM (
             | SELECT c_mktsegment, c_custkey, c_acctbal,
             |  CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS INT) AS rn
             | FROM customer)
             |WHERE rn <= 5 ORDER BY c_mktsegment, rn""".stripMargin)),
    "q_topk_group_native" -> Q(
      qTopkGroupNative,
      Some("""SELECT * FROM (
             | SELECT c_mktsegment, c_custkey, c_acctbal,
             |  CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS INT) AS rn
             | FROM customer)
             |WHERE rn <= 5 ORDER BY c_mktsegment, rn""".stripMargin)),
    "q_topk_group_ties" -> Q(
      qTopkGroupTies,
      Some("""SELECT * FROM (
             | SELECT o_custkey, o_orderkey, o_orderpriority,
             |  CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority DESC) AS INT) AS rnk
             | FROM orders)
             |WHERE rnk <= 3 ORDER BY o_custkey, rnk, o_orderkey""".stripMargin)),
    "q_topk_group_dense" -> Q(
      qTopkGroupDense,
      Some("""SELECT * FROM (
             | SELECT l_linestatus, l_orderkey, l_linenumber, l_quantity,
             |  CAST(dense_rank() OVER (PARTITION BY l_linestatus ORDER BY l_quantity DESC) AS INT) AS rnk
             | FROM lineitem)
             |WHERE rnk <= 3 ORDER BY l_linestatus, rnk, l_orderkey, l_linenumber""".stripMargin)),
    "q_set_union" -> Q(
      qSetUnion,
      Some("""SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
             |UNION
             |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2001
             |ORDER BY o_custkey""".stripMargin)),
    "q_set_intersect" -> Q(
      qSetIntersect,
      Some("""SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
             |INTERSECT
             |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2001
             |ORDER BY o_custkey""".stripMargin)),
    "q_set_except" -> Q(
      qSetExcept,
      Some("""SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
             |EXCEPT
             |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2001
             |ORDER BY o_custkey""".stripMargin)),
    "q_set_intersect_all" -> Q(
      qSetIntersectAll,
      Some("""SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
             |INTERSECT ALL
             |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2001
             |ORDER BY o_custkey""".stripMargin)),
    "q_set_except_all" -> Q(
      qSetExceptAll,
      Some("""SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
             |EXCEPT ALL
             |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2001
             |ORDER BY o_custkey""".stripMargin)),
    "q_fn_string" -> Q(
      qFnString,
      Some("""SELECT p_partkey, upper(p_name) AS up, substr(p_name, 1, 5) AS pre,
             | CAST(length(p_name) AS INT) AS len,
             | regexp_extract(p_name, '^(\w+)', 1) AS first_word,
             | CAST(levenshtein(p_brand, 'Brand#33') AS INT) AS lev,
             | regexp_replace(p_type, ' ', '_', 'g') AS tpe,
             | lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
             | concat_ws('|', p_brand, p_type) AS joined
             |FROM part ORDER BY p_partkey""".stripMargin)),
    "q_fn_date" -> Q(
      qFnDate,
      Some("""SELECT o_orderkey, o_orderdate,
             | CAST(year(o_orderdate) AS INT) AS y,
             | CAST(quarter(o_orderdate) AS INT) AS q,
             | CAST(month(o_orderdate) AS INT) AS m,
             | CAST(day(o_orderdate) AS INT) AS d,
             | date_trunc('month', o_orderdate) AS month_start,
             | CAST(o_orderdate AS DATE) + 30 AS plus30,
             | last_day(CAST(o_orderdate AS DATE)) AS month_end,
             | CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since
             |FROM orders ORDER BY o_orderkey""".stripMargin)),
    "q_fn_math" -> Q(
      qFnMath,
      Some("""SELECT l_orderkey, l_linenumber,
             | abs(l_extendedprice - 50000) AS absv,
             | sqrt(l_extendedprice) AS sq,
             | round(l_extendedprice, 1) AS rnd,
             | CAST(ceil(l_extendedprice) AS BIGINT) AS cl,
             | CAST(floor(l_extendedprice) AS BIGINT) AS fl,
             | CAST(trunc(l_extendedprice) AS INT) AS trunc_i,
             | power(2.0, -l_linenumber) AS pw,
             | l_orderkey % 97 AS m97,
             | greatest(l_extendedprice, 50000.0) AS hi,
             | least(l_extendedprice, 50000.0) AS lo
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    "q_fn_array" -> Q(
      qFnArray,
      Some("""SELECT p_partkey,
             | CAST(len(string_split(p_name, ' ')) AS INT) AS n_tokens,
             | string_split(p_name, ' ')[1] AS first_tok,
             | list_contains(string_split(p_name, ' '), 'red') AS has_red,
             | array_to_string(list_sort(string_split(p_name, ' ')), ',') AS sorted_joined,
             | CAST(CASE WHEN p_size >= 1 THEN p_size * (p_size + 1) / 2 ELSE 0 END AS BIGINT) AS seq_sum
             |FROM part ORDER BY p_partkey""".stripMargin)),
    "q_fn_map" -> Q(
      qFnMap,
      Some(s"""SELECT event_id, event_type AS evt, CAST(user_id AS VARCHAR) AS uid_s,
              | 2 AS n_keys, 'evt,uid' AS keys_joined
              |FROM $EV ORDER BY event_id""".stripMargin)),
    "q_fn_json" -> Q(
      qFnJson,
      Some(s"""SELECT CAST(json_extract_string(props, '$$.k') AS INT) AS k,
              | count(1) AS n,
              | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
              |FROM $EV GROUP BY 1 ORDER BY k""".stripMargin)),
    "q_fn_struct" -> Q(
      qFnStruct,
      Some("""SELECT o_orderkey, o_orderkey AS s_key, o_totalprice AS s_price,
             | upper(o_orderpriority) AS s_prio_up, i.idx AS idx,
             | CASE WHEN i.idx = 1 THEN o_orderstatus ELSE o_orderpriority END AS val
             |FROM orders CROSS JOIN (VALUES (1), (2)) AS i(idx)
             |ORDER BY o_orderkey, idx""".stripMargin)),
    "q_fn_url" -> Q(
      qFnUrl,
      Some("""SELECT doc_id,
             | 'https://' || source || '.example.com/docs/' || doc_id || '?lang=' || lang || '&v=2' AS url,
             | source || '.example.com' AS host,
             | '/docs/' || doc_id AS path,
             | 'lang=' || lang || '&v=2' AS query,
             | lang AS q_lang
             |FROM documents ORDER BY doc_id""".stripMargin)),
    "q_fn_try" -> Q(
      qFnTry,
      Some(s"""SELECT event_type, count(1) AS n,
              | CAST(count(CASE WHEN user_id % 5 <> 0 THEN 1 END) AS BIGINT) AS n_div_ok,
              | CAST(count(CASE WHEN user_id = 0 THEN 1 END) AS BIGINT) AS n_add_ok,
              | CAST(count(CASE WHEN user_id % 3 <> 0 THEN 1 END) AS BIGINT) AS n_num_ok,
              | CAST(CAST(sum(CASE WHEN user_id % 5 <> 0
              |   THEN CAST(round(value / (user_id % 5) * 100, 0) AS BIGINT) END) AS BIGINT) AS DOUBLE) / 100 AS sum_div
              |FROM $EV GROUP BY event_type ORDER BY event_type""".stripMargin)),
    "q_window_nth" -> Q(
      qWindowNth,
      Some("""SELECT c_mktsegment, third_name, third_bal FROM (
             | SELECT c_mktsegment,
             |  nth_value(c_name, 3) OVER w AS third_name,
             |  nth_value(c_acctbal, 3) OVER w AS third_bal,
             |  row_number() OVER (PARTITION BY c_mktsegment
             |                     ORDER BY c_acctbal DESC, c_name) AS rn
             | FROM customer
             | WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_name
             |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
             |WHERE rn = 1 ORDER BY c_mktsegment""".stripMargin)),
    "q_typed_pipeline" -> Q(
      qTypedPipeline,
      Some("""SELECT o_orderstatus, count(1) AS n,
             | CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100 AS sum_price
             |FROM orders WHERE o_totalprice > 150000.0
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    "q_join_lateral" -> Q(
      qJoinLateral,
      Some("""SELECT n_name, c.c_name, c.c_acctbal
             |FROM nation, LATERAL (
             | SELECT c_name, c_acctbal FROM customer
             | WHERE c_nationkey = n_nationkey
             | ORDER BY c_acctbal DESC, c_name LIMIT 2) c
             |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin)),
    "q_reshape_unpivot" -> Q(
      qReshapeUnpivot,
      Some("""SELECT l_orderkey, l_linenumber, metric, value
             |FROM (
             | SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
             | FROM lineitem WHERE l_orderkey % 50 = 0
             | UNION ALL
             | SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
             | FROM lineitem WHERE l_orderkey % 50 = 0
             | UNION ALL
             | SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
             | FROM lineitem WHERE l_orderkey % 50 = 0
             | UNION ALL
             | SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
             | FROM lineitem WHERE l_orderkey % 50 = 0)
             |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)),
    "q_fn_lambda" -> Q(
      qFnLambda,
      Some("""SELECT doc_id,
             | CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 4)) AS INT) AS n_long_toks,
             | CAST(list_aggregate(list_transform(string_split(text, ' '), x -> length(x)), 'sum') AS INT) AS sum_tok_len,
             | len(list_filter(string_split(text, ' '), x -> x = 'spark')) > 0 AS has_spark,
             | len(list_filter(list_transform(string_split(text, ' '), x -> length(x)), x -> x > 12)) = 0 AS all_short
             |FROM documents ORDER BY doc_id""".stripMargin)),
    "q_fn_variant" -> Q(
      qFnVariant,
      Some(s"""SELECT event_type,
              | 'OBJECT<id: BIGINT, m: OBJECT<t: STRING, vc: BIGINT>, tags: ARRAY<BIGINT>>' AS sch,
              | count(1) AS n,
              | CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_vc,
              | CAST(sum(user_id % 5) AS BIGINT) AS sum_t0,
              | CAST(0 AS BIGINT) AS n_miss
              |FROM $EV GROUP BY event_type ORDER BY event_type""".stripMargin)),
    "q_udf_scalar" -> Q(
      qUdfScalar,
      Some("""SELECT p_partkey, replace(lower(p_name), ' ', '-') AS slug
             |FROM part ORDER BY p_partkey""".stripMargin)),
    "q_udf_wavg" -> Q(
      qUdfWavg,
      Some("""WITH s AS (SELECT l_returnflag,
             |  sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6))) AS sp,
             |  sum(CAST(l_quantity AS DECIMAL(18,6))) AS sq
             | FROM lineitem GROUP BY l_returnflag)
             |SELECT l_returnflag,
             | (CAST(floor(sp) AS DOUBLE) + CAST(sp - floor(sp) AS DOUBLE))
             |   / (CAST(floor(sq) AS DOUBLE) + CAST(sq - floor(sq) AS DOUBLE)) AS wavg_price
             |FROM s ORDER BY l_returnflag""".stripMargin)),
    "q_udtf_bigrams" -> Q(
      qUdtfBigrams,
      Some("""WITH toks AS (
             | SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts FROM documents),
             |bg AS (
             | SELECT ts[i] || ' ' || ts[i + 1] AS bigram
             | FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i) g)
             |SELECT bigram, count(1) AS count FROM bg GROUP BY bigram
             |ORDER BY count DESC, bigram ASC LIMIT 100""".stripMargin)))

  // `n` in q_agg_rollup/cube/gsets and `count` in q_udtf_bigrams are
  // BIGINT on both sides; q_fn_map's literal n_keys is INT in DuckDB and
  // Spark (size() → INT; literal 2 → INT32 in DuckDB).
}

/** Row type of `Relational.qTypedPipeline`'s typed Dataset stage. */
case class OrderRow(
    o_orderkey: Long,
    o_custkey: Long,
    o_orderstatus: String,
    o_totalprice: Double)
