package graft.queries

import graft.{Q, Tables}
import graft.functions.ScaledDot
import graft.operators.{Materialize, PrefixScan}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pattern-mining and showcase analytics (SURVEY.md §2.2-B/C additions,
  * round 4 continuation):
  *
  *   - `q_market_basket` — association pair mining (co-occurrence support
  *     + lift) over order line items: the classic affinity primitive.
  *   - `q_tpch_q1` / `q_tpch_q3` / `q_tpch_q5` — the three canonical
  *     TPC-H shapes (pricing summary scan-agg, top-k join-agg, 6-table
  *     star join), adapted to the synthetic schema (o_orderpriority
  *     stands in for Q3's o_shippriority; this star schema carries no
  *     ship instructions). They exist as recognizable, comparable
  *     plan shapes: one full-scan partial agg, one broadcast-dim top-k,
  *     one multi-join with two broadcastable dims.
  *   - `q_embed_outlier` — per-label centroid cosine outlier shortlist
  *     (data-curation signal: mislabeled / off-distribution vectors).
  *   - `q_semdedup` — SemDeDup-style within-cluster semantic dedup
  *     drop-list (Abbas et al. 2023 shape: quadratic only WITHIN a
  *     cluster, never across the corpus).
  *
  * Float discipline matches the rest of the repo: every sum that crosses
  * a partition boundary is an exactly-rounded fixed-point LONG (cents
  * for money, 1e12 grain for dot products — see
  * [[graft.functions.ScaledDot]]), so results are partitioning- and
  * engine-independent; doubles appear only in final, per-row arithmetic
  * where both engines execute the identical IEEE operation sequence.
  */
object MiningOps {

  // ------------------------------------------------------------ helpers

  // Oracle-side events view with the ns→TIMESTAMP cast (one definition,
  // shared with the LlmOps battery).
  private val EVT = LlmOps.EV

  /** Exact money: DOUBLE dollars → LONG cents, half-away rounding on the
    * exact double (oracle twin: `CAST(round(x * 100, 0) AS BIGINT)`).
    */
  private def cents(c: Column): Column =
    round(c * 100).cast("long")

  /** Identical IEEE sequence to the DuckDB oracle's
    * `dot / (sqrt(n1) * sqrt(n2))` (each factor a correctly-rounded op
    * on identical inputs ⇒ bit-identical cosines).
    */
  private def cosOf(ea: Column, eb: Column, na: Column, nb: Column): Column =
    ScaledDot.dot(ea, eb) / (na * nb)

  // ------------------------------------------------------- market basket

  /** Association pair mining over order baskets: for every unordered part
    * pair bought together in ≥ 3 orders, its support and lift
    * `P(a,b) / (P(a)·P(b))`.
    *
    * Scale shape: baskets are BOUNDED (≤ 13 distinct parts per order
    * here; bounded by business rules generally), so the within-order
    * self-join emits ≤ C(n,2) pairs per order — linear in orders, never
    * corpus-quadratic. One distinct on (order, part) (digest-sized rows),
    * one order-keyed equi-join, one pair-keyed partial agg; the per-part
    * count table and the 1-row order count broadcast to the lift
    * projection. Lift multiplies DOUBLE-cast factors (exact below 2^53,
    * and overflow-proof where a LONG product would wrap) — the identical
    * IEEE sequence in both engines.
    */
  def qMarketBasket(spark: SparkSession, sfDir: String): DataFrame = {
    // materialize the distinct (order, part) frame ONCE (r16, guide §2.4):
    // it is referenced from FOUR plan positions (both self-join arms, the
    // per-part counts, the order count), and each uncheckpointed reference
    // re-derived the full lineitem scan + distinct shuffle — 28 Exchanges
    // in the r16 before-plan for a query that needs 4. |items| rows of two
    // LONGs, executor-local blocks; same fault-tolerance caveat as the
    // graph edge cache.
    val items = Tables
      .lineitem(spark, sfDir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
      .transform(Materialize.eager)
    // |parts|-row count table: read by both lift factor joins
    val partCnt = Materialize.eager(items.groupBy(col("p")).agg(count(lit(1)).as("cnt")))
    val nOrders = items.select(countDistinct(col("o")).as("n_orders"))
    items
      .as("a")
      .join(items.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= 3)
      // no broadcast hint on partCnt: |parts| rows is broadcastable at
      // bench scale but a driver OOM at TPC-H-100TB part counts (~20 B
      // rows) — let AQE pick broadcast-vs-shuffle from the measured size
      // (the support ≥ 3 filter has already shrunk the probe side, so
      // AQE broadcasts it locally; at 100 TB it flips to a shuffle join
      // on the same plan). The 1-row nOrders broadcast stays — it is
      // size-bounded by construction.
      .join(partCnt.select(col("p").as("p1"), col("cnt").as("c1")), "p1")
      .join(partCnt.select(col("p").as("p2"), col("cnt").as("c2")), "p2")
      .crossJoin(broadcast(nOrders))
      .select(
        col("p1"),
        col("p2"),
        col("support"),
        // cast each factor BEFORE multiplying: a LONG·LONG product
        // silently wraps past ~3e9 rows per part, while the double
        // product merely rounds (and is exact below 2^53 anyway)
        round(
          (col("support").cast("double") * col("n_orders").cast("double")) /
            (col("c1").cast("double") * col("c2").cast("double")),
          6).as("lift"))
      .orderBy("p1", "p2")
  }

  // ------------------------------------------------------------- TPC-H Q1

  /** TPC-H Q1 (pricing summary report): full-scan partial aggregation —
    * the canonical map-side-combine benchmark shape. All money sums
    * accumulate as exact cents (LONG), quantity as centiunits; averages
    * divide the exact sums, so every output is partitioning-independent
    * and engine-identical. The whole query is one scan + one 4-group
    * partial agg: at 100 TB this is scan-bound, as Q1 should be.
    */
  def qTpchQ1(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .lineitem(spark, sfDir)
      .where(col("l_shipdate") <= lit("1998-12-01").cast("timestamp"))
      .select(
        col("l_returnflag"),
        col("l_linestatus"),
        cents(col("l_quantity")).as("qty_c"),
        cents(col("l_extendedprice")).as("ep_c"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_c"),
        cents(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax"))).as("charge_c"),
        round(col("l_discount") * 1e6).cast("long").as("disc_fp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        (sum(col("qty_c")).cast("double") / 100.0).as("sum_qty"),
        (sum(col("ep_c")).cast("double") / 100.0).as("sum_base_price"),
        (sum(col("disc_c")).cast("double") / 100.0).as("sum_disc_price"),
        (sum(col("charge_c")).cast("double") / 100.0).as("sum_charge"),
        round(sum(col("qty_c")).cast("double") / 100.0 / count(lit(1)), 6).as("avg_qty"),
        round(sum(col("ep_c")).cast("double") / 100.0 / count(lit(1)), 6).as("avg_price"),
        round(sum(col("disc_fp")).cast("double") / 1e6 / count(lit(1)), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  // ------------------------------------------------------------- TPC-H Q3

  /** TPC-H Q3 (shipping-priority top-10), adapted: o_orderpriority stands
    * in for o_shippriority (absent from this schema). Shape: one small
    * filtered dim (segment customers) broadcast into orders, the
    * surviving orders joined to lineitem on the order key, revenue as
    * exact cents, top-10 via TakeOrdered (no global sort) with the order
    * key as deterministic tiebreak.
    */
  def qTpchQ3(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("1998-03-15").cast("timestamp")
    val cust = Tables
      .customer(spark, sfDir)
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    Tables
      .orders(spark, sfDir)
      .where(col("o_orderdate") < cutoff)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(
        Tables.lineitem(spark, sfDir).where(col("l_shipdate") > cutoff),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        col("l_orderkey"),
        col("o_orderdate"),
        col("o_orderpriority"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_c"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg((sum(col("disc_c")).cast("double") / 100.0).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
      .limit(10)
  }

  // ------------------------------------------------------------- TPC-H Q5

  /** TPC-H Q5 (local-supplier volume): the 6-table star join with the
    * local-supply condition `c_nationkey = s_nationkey`. region → nation
    * → supplier resolve dim-side (all broadcastable); the fact-side work
    * is orders (date-pruned at the scan) ⋈ lineitem on the order key,
    * then the supplier probe. Revenue sums as exact cents per nation.
    */
  def qTpchQ5(spark: SparkSession, sfDir: String): DataFrame = {
    val asiaNations = Tables
      .nation(spark, sfDir)
      .join(
        Tables.region(spark, sfDir).where(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val supp = Tables
      .supplier(spark, sfDir)
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    // broadcast-reduce lineitem BEFORE the orderkey shuffle (r17, guide
    // §3.2 shape): the supplier⋈nation⋈region dim chain keeps only ASIA
    // suppliers (~1/5 of lineitem rows), so applying it map-side first
    // cuts the query's largest exchange to that fraction; inner joins
    // commute, results identical (oracle-pinned).
    val liAsia = Tables
      .lineitem(spark, sfDir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
        col("s_nationkey"), col("n_name"))
    Tables
      .orders(spark, sfDir)
      .where(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .join(liAsia, col("l_orderkey") === col("o_orderkey"))
      .join(
        Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .select(col("n_name"), cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_c"))
      .groupBy("n_name")
      .agg((sum(col("disc_c")).cast("double") / 100.0).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  /** TPC-H Q18 (large-volume customers), through the SQL front door: the
    * HAVING + IN-subquery shape the subquery battery (`q_subq_*`)
    * doesn't cover. Catalyst rewrites the IN into a left-semi join on
    * the aggregated subquery — the scalable plan; the inner and outer
    * lineitem aggregations both partial-agg before their shuffles.
    * Quantities quantize to exact LONG hundredths at the scan (they are
    * integral in this data, but the oracle must not depend on that).
    */
  def qTpchQ18(spark: SparkSession, sfDir: String): DataFrame =
    spark.sql(
      s"""SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
         | CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
         |FROM parquet.`$sfDir/customer.parquet`,
         |     parquet.`$sfDir/orders.parquet`,
         |     parquet.`$sfDir/lineitem.parquet`
         |WHERE o_orderkey IN (
         |  SELECT l_orderkey FROM parquet.`$sfDir/lineitem.parquet`
         |  GROUP BY l_orderkey
         |  HAVING sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) > 25000)
         | AND c_custkey = o_custkey AND l_orderkey = o_orderkey
         |GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
         |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin)

  /** TPC-H Q10 shape (returned-item revenue): which customers returned
    * the most revenue in a quarter — the classic churn-triage report.
    * Adapted to the synthetic schema (no comment/address/phone columns;
    * `c_mktsegment` stands in for the contact detail).
    *
    * Scale shape: the only big⋈big is orders⋈lineitem on the orderkey —
    * both sides pre-filtered (quarter window pushed to the orders scan,
    * `l_returnflag = 'R'` pushed to the lineitem scan, both visible as
    * PushedFilters), so the shuffle carries a quarter of one flag's
    * traffic. customer is a dim only at test SF; at 100 TB it shuffles
    * on c_custkey like the fact side, which is the correct plan (AQE
    * broadcasts it while it fits — no hard-coded hint that would OOM the
    * driver at real |customer|). nation (25 rows) is an explicit
    * broadcast. Revenue sums are
    * exact cent LONGs; top-20 is a TakeOrdered k-merge, no global sort.
    */
  def qTpchQ10(spark: SparkSession, sfDir: String): DataFrame = {
    val lo = lit("1996-10-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val nat = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
    Tables
      .orders(spark, sfDir)
      .where(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .join(
        Tables.lineitem(spark, sfDir).where(col("l_returnflag") === "R"),
        col("l_orderkey") === col("o_orderkey"))
      .join(
        Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(
        col("c_custkey"),
        col("c_name"),
        col("c_acctbal"),
        col("n_name"),
        col("c_mktsegment"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_c"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
      .agg((sum(col("disc_c")).cast("double") / 100.0).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** TPC-H Q7 shape (volume shipping): bilateral trade between two
    * nations by ship year — the two-sided dimension-filter join whose
    * selectivity lives on BOTH fact arms (supplier's nation via
    * lineitem, customer's nation via orders).
    *
    * Scale shape: supplier and customer each pre-join their 25-row
    * nation dim (broadcast) and keep only the two nations of interest —
    * so the fact-side shuffles carry ~2/25 of the key space before the
    * orders⋈lineitem orderkey join. The year extraction groups 2×2×2
    * cells; the final cross-nation predicate (the TPC-H FRANCE↔GERMANY
    * pair maps to NATION_10↔NATION_12 here — both populated at every
    * fixture SF) applies post-join on two small strings. Sums exact cents.
    */
  def qTpchQ7(spark: SparkSession, sfDir: String): DataFrame = {
    val natPair = Tables
      .nation(spark, sfDir)
      .where(col("n_name").isin("NATION_10", "NATION_12"))
      .select(col("n_nationkey"), col("n_name"))
    val supp = Tables
      .supplier(spark, sfDir)
      .join(broadcast(natPair), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables
      .customer(spark, sfDir)
      .join(broadcast(natPair), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables
      .lineitem(spark, sfDir)
      .where(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(
        Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .where(
        (col("supp_nation") === "NATION_10" && col("cust_nation") === "NATION_12") ||
          (col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_10"))
      .select(
        col("supp_nation"),
        col("cust_nation"),
        year(col("l_shipdate")).as("l_year"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_c"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg((sum(col("disc_c")).cast("double") / 100.0).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q4 shape (order-priority checking): orders in a quarter that
    * have at least one LATE line, counted by priority — the canonical
    * EXISTS-correlated-subquery → left-semi-join shape. The fixture
    * carries no commit/receipt dates, so "late" is adapted to
    * `l_shipdate > o_orderdate + 60 days` (same class: a per-line date
    * predicate correlated with the parent order's date); the plan shape
    * — the thing Q4 exists to exercise — is unchanged.
    *
    * Scale shape: the date gate prunes orders BEFORE the semi join (one
    * quarter ≈ 1/26 of the fixture's date span); the semi join shuffles
    * only (orderkey, shipdate) pairs from lineitem, never whole rows,
    * dedups per order by construction (left semi), and the result agg
    * is 5 cells. No correlated per-row subquery survives into the plan.
    */
  def qTpchQ4(spark: SparkSession, sfDir: String): DataFrame = {
    val lines = Tables
      .lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_shipdate"))
    Tables
      .orders(spark, sfDir)
      .where(
        col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      .join(
        lines,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  // ------------------------------------------------------------- TPC-H Q6

  /** TPC-H Q6 (forecasting revenue change): single-table filter +
    * aggregate — the canonical predicate-pushdown showcase. All three
    * predicates (ship-date year window, discount band, quantity cap)
    * reach the parquet scan as PushedFilters; the surviving rows fold
    * into one 2-column partial agg, so the whole query is a scan-side
    * map-combine with a 1-row exchange — the plan that saturates I/O at
    * 100 TB with zero shuffle traffic.
    *
    * The discount band compares `round(l_discount * 100)` as an exact
    * integer (the data's discounts are whole percents): a raw DOUBLE
    * `BETWEEN 0.05 AND 0.07` would hinge on whether each engine's
    * binary double for 0.05/0.07 brackets the stored value — an
    * engine-portability trap Q6 is famous for. Revenue addends quantize
    * to cents before summing ([[cents]] — order-independent LONG sum).
    */
  def qTpchQ6(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .lineitem(spark, sfDir)
      .where(
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          round(col("l_discount") * 100).cast("long").between(5L, 7L) &&
          col("l_quantity") < 24.0)
      .agg(
        (sum(cents(col("l_extendedprice") * col("l_discount"))).cast("double") / 100.0)
          .as("revenue"),
        count(lit(1)).as("n_items"))

  // ------------------------------------------------------------ TPC-H Q14

  /** TPC-H Q14 (promotion effect): share of one month's revenue earned
    * by promo parts. Adapted to the synthetic schema: `p_type` is a
    * 6-value class column, so the predicate is equality to 'PROMO'
    * (upstream TPC-H uses `LIKE 'PROMO%'` over composed type strings).
    *
    * Scale shape: the month window is pushed to the lineitem scan, so
    * the orderkey-free join sees ~1/24 of the fact table; part joins on
    * `l_partkey` — a dim at test SF (AQE broadcasts it), a co-shuffle at
    * real |part|, either way one shuffle. Both the promo and total
    * revenue sums ride the SAME aggregation (a conditional addend, not
    * two scans); the ratio is one driver-side division of two exact cent
    * LONGs, rounded to 1e-6 so both engines compare identical doubles.
    */
  def qTpchQ14(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
    Tables
      .lineitem(spark, sfDir)
      .where(
        col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      .join(
        Tables.part(spark, sfDir).select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0L))).as("promo_c"),
        sum(rev).as("total_c"))
      .select(
        round(lit(100.0) * col("promo_c").cast("double") / col("total_c").cast("double"), 6)
          .as("promo_revenue_pct"),
        (col("promo_c").cast("double") / 100.0).as("promo_revenue"),
        (col("total_c").cast("double") / 100.0).as("total_revenue"))
  }

  // ------------------------------------------------------------ TPC-H Q19

  /** TPC-H Q19 (discounted revenue, disjunctive predicates): three
    * brand/size/quantity condition arms OR'd together — the classic
    * stress of predicate normalization across a join. Adapted to the
    * synthetic schema (no container/shipmode columns): each arm pairs a
    * brand equality with a size range on the part side and a quantity
    * range on the lineitem side.
    *
    * Scale shape: Catalyst extracts the common join key (`l_partkey =
    * p_partkey`) from the disjunction so the join stays an equi-join
    * (never a nested-loop), and pushes the part-side arm disjunction
    * (brand IN + size ≤ 15 bounds) down to the part scan. Quantity
    * comparisons are exact (integer-valued doubles 1..50); revenue sums
    * are exact cent LONGs.
    */
  def qTpchQ19(spark: SparkSession, sfDir: String): DataFrame = {
    val arm1 = col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
      col("l_quantity").between(1.0, 11.0)
    val arm2 = col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
      col("l_quantity").between(10.0, 20.0)
    val arm3 = col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
      col("l_quantity").between(20.0, 30.0)
    Tables
      .lineitem(spark, sfDir)
      .join(
        Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand"), col("p_size")),
        col("l_partkey") === col("p_partkey"))
      .where(arm1 || arm2 || arm3)
      .agg(
        (sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("double") / 100.0).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  // ------------------------------------------------------------ TPC-H Q12

  /** TPC-H Q12 (shipping-priority audit): for each line class, how many
    * LATE lines belonged to critical- vs non-critical-priority orders.
    * Adapted to the synthetic schema (no l_shipmode / commit / receipt
    * dates): the class column is `l_returnflag` (3 values standing in
    * for the two audited ship modes) and "late" is the `q_tpch_q4`
    * adaptation `l_shipdate > o_orderdate + 60 days` — the same
    * correlated-date-predicate class as upstream's receipt>commit.
    *
    * Scale shape: the ship-year window prunes the lineitem scan
    * (PushedFilters) BEFORE the only big⋈big shuffle (orderkey); orders
    * contributes just (orderkey, orderdate, priority); the critical /
    * non-critical split rides ONE conditional aggregation.
    */
  def qTpchQ12(spark: SparkSession, sfDir: String): DataFrame = {
    val critical = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables
      .lineitem(spark, sfDir)
      .where(
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
      .join(
        Tables
          .orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(critical, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(critical, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  // ------------------------------------------------------------ TPC-H Q13

  /** TPC-H Q13 (customer order-count distribution): histogram of
    * orders-per-customer INCLUDING the zero bucket — the left-outer-join
    * + double-aggregation shape (and the only TPC-H query built on an
    * outer join). The upstream `o_comment NOT LIKE '%special%requests%'`
    * exclusion becomes `o_orderpriority <> '1-URGENT'` (a predicate ON
    * THE JOIN, not a pre-filter — the distinction Q13 exists to test:
    * excluded-order customers must still appear, in the 0 bucket).
    *
    * Scale shape: first agg shuffles (custkey) with map-side partial
    * counts; the second shuffles |distinct counts| rows (tiny). The
    * left join is a co-shuffle at real |customer|; no row explodes.
    */
  def qTpchQ13(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .customer(spark, sfDir)
      .select(col("c_custkey"))
      .join(
        Tables
          .orders(spark, sfDir)
          .where(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"),
        "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  // ------------------------------------------------------------ TPC-H Q15

  /** TPC-H Q15 (top supplier): revenue per supplier over one quarter,
    * keep the supplier(s) achieving the MAX — the scalar-subquery-over-
    * an-aggregate shape (upstream phrases it as a view used twice).
    *
    * Scale shape: ONE quarter-pruned lineitem pass partial-aggs to
    * |suppliers| rows; the max is a 1-row aggregate of that frame
    * cross-joined back (broadcast — never a second fact scan), and the
    * winner filter compares EXACT cent LONGs, so ties and equality are
    * deterministic on both engines (a double-rounded max could disagree
    * in the last ulp). Supplier names resolve dim-side after the
    * filter (≤ a handful of rows).
    */
  def qTpchQ15(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables
      .lineitem(spark, sfDir)
      .where(
        col("l_shipdate") >= lit("1997-10-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("total_c"))
    rev
      .crossJoin(broadcast(rev.agg(max(col("total_c")).as("max_c"))))
      .where(col("total_c") === col("max_c"))
      .join(
        Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(
        col("s_suppkey"),
        col("s_name"),
        (col("total_c").cast("double") / 100.0).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  // ------------------------------------------------------------ TPC-H Q17

  /** TPC-H Q17 (small-quantity-order revenue): yearly revenue lost if
    * sub-fifth-of-average-quantity orders of one brand were dropped —
    * the correlated-aggregate-subquery decorrelation showcase (per-part
    * AVG joined back to the probing fact rows).
    *
    * Exactness: `q < 0.2 * avg(q)` never divides — quantities quantize
    * to hundredth LONGs and the gate cross-multiplies to
    * `5 * qc * n < sum_qc` (exact integer compare; a double avg's last
    * ulp could flip a boundary row on one engine). The final `/ 7.0` is
    * one IEEE division of an exact cent sum — identical on both.
    *
    * Scale shape: the brand gate resolves on the part dim FIRST
    * (broadcast at dim size), so BOTH the per-part average and the
    * probe see only the brand's slice of the fact (~1/|brands|); the
    * avg frame re-joins on partkey (dim-sized, broadcast). No window,
    * no second full scan.
    */
  def qTpchQ17(spark: SparkSession, sfDir: String): DataFrame = {
    val brandParts = Tables
      .part(spark, sfDir)
      .where(col("p_brand") === "Brand#23")
      .select(col("p_partkey"))
    val brandLines = Tables
      .lineitem(spark, sfDir)
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .select(
        col("l_partkey"),
        cents(col("l_quantity")).as("qc"),
        cents(col("l_extendedprice")).as("epc"))
    val perPart = brandLines
      .groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("n"), sum(col("qc")).as("sum_qc"))
    brandLines
      .join(broadcast(perPart), col("l_partkey") === col("pk"))
      .where(lit(5L) * col("qc") * col("n") < col("sum_qc"))
      .agg(
        round(sum(col("epc")).cast("double") / 100.0 / 7.0, 6).as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  // ------------------------------------------------------------ TPC-H Q22

  /** TPC-H Q22 (global-sales opportunity): well-funded customers gone
    * QUIET — above-average account balance but no orders since 2000 —
    * grouped by nation (standing in for upstream's phone country
    * code, a column this schema lacks; "no orders at all" is relaxed to
    * "no orders since 2000" because the synthetic data gives every
    * customer history). The shape under test: scalar-average subquery + anti
    * join.
    *
    * Exactness: `c_acctbal > avg(positive acctbal)` cross-multiplies to
    * `bal_c * N > S` over exact cent LONGs — no division, no boundary
    * ulps. Scale shape: the (S, N) pair is a 1-row broadcast; the anti
    * join shuffles only (custkey) against date-pruned orders
    * (PushedFilters); output is |nations| rows.
    */
  def qTpchQ22(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables
      .customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"), cents(col("c_acctbal")).as("bal_c"))
    val avgRef = cust
      .where(col("bal_c") > 0L)
      .agg(sum(col("bal_c")).as("s_pos"), count(lit(1)).as("n_pos"))
    cust
      .crossJoin(broadcast(avgRef))
      .where(col("bal_c") * col("n_pos") > col("s_pos"))
      .join(
        Tables
          .orders(spark, sfDir)
          .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"),
        "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("numcust"),
        (sum(col("bal_c")).cast("double") / 100.0).as("totacctbal"))
      .orderBy("c_nationkey")
  }

  // ------------------------------------------------------------- TPC-H Q8

  /** TPC-H Q8 (national market share): one supplier nation's share of
    * EUROPE's ECONOMY-part import revenue, per year — the
    * share-of-conditional-sum shape over the full star join. Adapted:
    * `p_type = 'ECONOMY'` equality (6-value class column) and
    * NATION_8 ∈ EUROPE as the measured nation.
    *
    * Scale shape: part (type-filtered) and the EUROPE customer/nation
    * chain resolve dim-side; the fact-side work is the date-pruned
    * orders ⋈ lineitem orderkey shuffle. Numerator and denominator ride
    * ONE conditional aggregation per year cell; the share is one
    * division of exact cent LONGs rounded 1e-6.
    */
  def qTpchQ8(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
    val euroNat = Tables
      .nation(spark, sfDir)
      .join(
        Tables.region(spark, sfDir).where(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val euroCust = Tables
      .customer(spark, sfDir)
      .join(broadcast(euroNat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val suppNat = Tables
      .supplier(spark, sfDir)
      .join(
        broadcast(Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    Tables
      .lineitem(spark, sfDir)
      .join(
        broadcast(
          Tables
            .part(spark, sfDir)
            .where(col("p_type") === "ECONOMY")
            .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(
        Tables
          .orders(spark, sfDir)
          .where(
            col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(euroCust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
      .select(
        year(col("o_orderdate")).as("o_year"),
        rev.as("rev_c"),
        when(col("supp_nation") === "NATION_8", rev).otherwise(lit(0L)).as("nat_c"))
      .groupBy("o_year")
      .agg(
        round(sum(col("nat_c")).cast("double") / sum(col("rev_c")).cast("double"), 6)
          .as("mkt_share"),
        (sum(col("nat_c")).cast("double") / 100.0).as("nation_revenue"),
        (sum(col("rev_c")).cast("double") / 100.0).as("total_revenue"))
      .orderBy("o_year")
  }

  // ------------------------------------------------------------ TPC-H Q16

  /** TPC-H Q16 (part/supplier relationship): distinct supplier counts
    * per (brand, type, size) cell over filtered parts, EXCLUDING a
    * deny-listed supplier set. Adapted: lineitem is the part↔supplier
    * relation (this schema has no partsupp), the deny list is
    * `s_acctbal < 0` (standing in for the complaints LIKE), the brand
    * exclusion `<> 'Brand#1'`, type exclusion `<> 'PROMO'`, and the
    * upstream 8-value size IN-list.
    *
    * Scale shape: all three part predicates push to the part scan; the
    * deny list is a tiny broadcast ANTI join on l_suppkey; the DISTINCT
    * (brand, type, size, suppkey) reduction partial-aggs map-side before
    * one shuffle; the final count-distinct rides the already-distinct
    * frame (no expand).
    */
  def qTpchQ16(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = Tables
      .part(spark, sfDir)
      .where(
        col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val deny = Tables
      .supplier(spark, sfDir)
      .where(col("s_acctbal") < 0.0)
      .select(col("s_suppkey"))
    Tables
      .lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(deny), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("p_type"), col("p_size"), col("l_suppkey"))
      .distinct()
      .groupBy("p_brand", "p_type", "p_size")
      .agg(count(lit(1)).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  // ------------------------------------------------------------ TPC-H Q21

  /** TPC-H Q21 (suppliers who kept orders waiting): suppliers that were
    * the ONLY late supplier in a multi-supplier order, ranked by how
    * often — the double-correlated EXISTS / NOT EXISTS stress. Adapted:
    * "late" is the `l_shipdate > o_orderdate + 60d` gate (no
    * commit/receipt dates), and the o_orderstatus filter is dropped (the
    * per-order supplier-count conditions carry the semantics).
    *
    * Decorrelation: instead of per-row EXISTS probes, ONE orderkey-
    * grouped aggregation computes (distinct suppliers, distinct late
    * suppliers, MIN late supplier) — `ns ≥ 2 AND nlate = 1` then
    * reproduces "some other supplier shipped, no other supplier was
    * late", and the min IS the culprit (unique when nlate = 1). One
    * fact-side orderkey shuffle total; supplier names resolve on the
    * ≤|supplier|-row rollup; TakeOrdered 20.
    */
  def qTpchQ21(spark: SparkSession, sfDir: String): DataFrame = {
    // r16 (guide §2.3/§2.4): the original single groupBy with TWO distinct
    // aggregates planned an Expand(×3) over the joined fact — 3× the rows
    // through the partial agg and TWO fact-side exchanges. Rewritten as a
    // two-level aggregation under ONE explicit orderkey hash exchange:
    // HashPartitioning(l_orderkey) satisfies the (l_orderkey, l_suppkey)
    // clustering (subset rule), so both groupBys run exchange-free on the
    // repartitioned fact. Equivalence: per order, distinct suppliers ≡
    // (okey, skey) groups; a supplier is late iff max(l_shipdate) over its
    // lines exceeds the cutoff (o_orderdate is constant per order); the
    // culprit is the min late supplier — identical to the countDistinct
    // form on null-free l_suppkey (TPC-H keys are non-null; the oracle
    // hash pins it).
    val lateGrp = col("max_ship") > col("o_orderdate") + expr("INTERVAL 60 DAY")
    Tables
      .lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .repartition(col("l_orderkey"))
      .join(
        Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_shipdate")).as("max_ship"), max(col("o_orderdate")).as("o_orderdate"))
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("ns"),
        sum(when(lateGrp, 1L).otherwise(0L)).as("nlate"),
        min(when(lateGrp, col("l_suppkey"))).as("culprit"))
      .where(col("ns") >= 2 && col("nlate") === 1)
      .groupBy(col("culprit"))
      .agg(count(lit(1)).as("numwait"))
      .join(
        Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_name")),
        col("culprit") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  // -------------------------------------------------------- embed outlier

  /** Per-label centroid cosine outliers: the 20 vectors least aligned
    * with their own label's centroid — the mislabeled/off-distribution
    * shortlist a curation pass reviews.
    *
    * Scale shape: centroids via the typed [[graft.functions.VecMean]]
    * Aggregator (K × dim fixed-point sums cross the shuffle, independent
    * of row count), cast once to ARRAY<FLOAT> and broadcast back; the
    * per-row score is one [[graft.functions.ScaledDot]] codegen kernel
    * pass at the scan; the shortlist is a TakeOrdered k-merge — no global
    * sort, no N×dim explode. The float cast pins the centroid to one
    * IEEE value both engines agree on before any dot product.
    */
  def qEmbedOutlier(spark: SparkSession, sfDir: String): DataFrame = {
    val vm = udaf(graft.functions.VecMean)
    val cents = Tables
      .embeddings(spark, sfDir)
      .groupBy(col("label"))
      .agg(vm(col("embedding")).as("centroid"))
      .select(
        col("label"),
        col("centroid").cast("array<float>").as("cent"))
    Tables
      .embeddings(spark, sfDir)
      .join(broadcast(cents), "label")
      .select(
        col("vec_id"),
        col("label"),
        round(
          cosOf(
            col("embedding"),
            col("cent"),
            sqrt(ScaledDot.dot(col("embedding"), col("embedding"))),
            sqrt(ScaledDot.dot(col("cent"), col("cent")))),
          6).as("centroid_cos"))
      .orderBy(col("centroid_cos").asc, col("vec_id").asc)
      .limit(20)
  }

  // ------------------------------------------------------------ semdedup

  /** SemDeDup-style semantic dedup drop-list: within each cluster
    * (`label` here; IVF/k-means assignments at scale — see
    * `q_sim_ann_ivf`), a vector is DROPPED when a lower-id vector in the
    * same cluster is semantically close (cosine ≥ 0.3 on this synthetic
    * corpus; the paper's 0.95+ applies to real embedding geometry).
    * `keep_id` = the smallest such neighbor — the same keep-min-id rule
    * as `q_dedup_exact`, making the output deterministic without the
    * iterative greedy sweep.
    *
    * Scale shape: the self-join is label-keyed, so the quadratic term is
    * bounded by CLUSTER size, never corpus size — exactly why SemDeDup
    * clusters first. Only (id, embedding, norm) rows enter the join, and
    * the cosine is the ScaledDot codegen kernel, not a HOF.
    */
  def qSemDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables
      .embeddings(spark, sfDir)
      .select(
        col("label"),
        col("vec_id"),
        col("embedding"),
        sqrt(ScaledDot.dot(col("embedding"), col("embedding"))).as("nrm"))
    e.as("a")
      .join(
        e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("b.vec_id").as("drop_id"),
        col("a.vec_id").as("keep_cand"),
        cosOf(col("a.embedding"), col("b.embedding"), col("a.nrm"), col("b.nrm")).as("cos"))
      .where(col("cos") >= 0.3)
      .groupBy(col("drop_id"))
      .agg(
        min(col("keep_cand")).as("keep_id"),
        count(lit(1)).as("n_similar"))
      .orderBy("drop_id")
  }

  // -------------------------------------------------------------- linreg

  /** Per-group simple OLS (price on quantity): slope, intercept, r² from
    * the same five exact fixed-point power sums as `q_agg_corr` — the
    * re-aggregatable "ML-lite" analytics member: power sums precompute
    * per partition/day and merge to any grouping, so the regression can
    * be served incrementally at 100 TB. Closed forms run on doubles in
    * the identical IEEE order both engines, rounded 1e-9 (FMA guard).
    */
  def qAggLinreg(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Tables.fsum
    val g = CorpusOps.corrMatrixGrains
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    val agg = Tables
      .lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        fsum(x, g("q")).as("sx"),
        fsum(y, g("p")).as("sy"),
        fsum(x * y, g("qp")).as("sxy"),
        fsum(x * x, g("qq")).as("sxx"),
        fsum(y * y, g("pp")).as("syy"))
    val n = col("n").cast("double")
    val sx = col("sx").cast("double")
    val sy = col("sy").cast("double")
    val sxy = col("sxy").cast("double")
    val sxx = col("sxx").cast("double")
    val syy = col("syy").cast("double")
    val covn = n * sxy - sx * sy // n² · cov
    val varxn = n * sxx - sx * sx // n² · var(x)
    val varyn = n * syy - sy * sy
    val slope = covn / varxn
    agg
      .select(
        col("l_returnflag"),
        col("n"),
        round(slope, 9).as("slope"),
        round((sy - slope * sx) / n, 9).as("intercept"),
        round((covn * covn) / (varxn * varyn), 9).as("r2"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- EWMA

  /** Decayed rolling feature: per-user EWMA of event value over the last
    * 5 events (weights 16:8:4:2:1 — α = 1/2, truncated). All arithmetic
    * until the final division is exact INTEGER math on 1e-6 fixed-point
    * values (weights are powers of two; head-of-stream rows renormalize
    * by the weights actually present), so the result is engine- and
    * partitioning-identical. One hash-partition shuffle on user_id; the
    * lag window needs only 4 rows of state — the standard "decayed
    * counter" feature-engineering shape next to `q_window_frame`'s flat
    * moving average and `q_window_range_interval`'s time-range sum.
    */
  def qEventsEwma(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val vfp = round(col("value") * 1e6).cast("long")
    val base = Tables
      .events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"), vfp.as("vfp"))
    val lags = (1 to 4).map(k => lag(col("vfp"), k).over(w).as(s"l$k"))
    val wts = Seq(8L, 4L, 2L, 1L)
    val withLags = base.select(col("event_id") +: col("user_id") +: col("vfp") +: lags: _*)
    val num = wts.zipWithIndex.foldLeft(col("vfp") * 16) { case (acc, (wt, i)) =>
      acc + coalesce(col(s"l${i + 1}"), lit(0L)) * wt
    }
    val den = wts.zipWithIndex.foldLeft(lit(16L)) { case (acc, (wt, i)) =>
      acc + when(col(s"l${i + 1}").isNotNull, wt).otherwise(0L)
    }
    withLags
      .select(
        col("event_id"),
        col("user_id"),
        round(num.cast("double") / den / 1e6, 6).as("ewma_value"))
      .orderBy("event_id")
  }

  /** Holt linear-trend smoothing over the daily event series (r8) — the
    * FORECASTING member of the time-series family (beside `q_events_
    * seasonality`'s decomposition, `q_events_ewma`'s decayed feature,
    * `q_dq_drift`'s PSI, `q_events_anomaly`'s z-scores): per event_type,
    * level/trend state over the ordered daily counts with α = β = 1/2,
    * emitting the final state and the 1/2/3-step-ahead forecasts.
    *
    * Engine-exact recurrence: daily counts scale to 1e-6 fixed point,
    * and each dyadic smoothing step is `⌊(x + 1) / 2⌋` — half-up toward
    * +∞, implemented as `Math.floorDiv(x + 1, 2)` here and
    * `floor((x + 1) / 2.0)` in the oracle's recursive CTE (exact while
    * |x| < 2^53, i.e. forever for daily counts). State stays integer
    * end-to-end; the output doubles are single IEEE divisions of exact
    * longs. Forecasts are linear extrapolation `l + k·b` — exact longs.
    *
    * Scale shape: the corpus-scale work is ONE (type, day) count
    * aggregation; the recurrence runs per key over a CALENDAR-bounded
    * group (≤ |days| rows regardless of corpus size) via typed
    * `flatMapGroups` — the same bounded-group justification as
    * sessionization, with |types| groups running partition-parallel.
    */
  def qEventsHolt(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables
      .events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .select(col("event_type"), col("day"), col("y"))
      .as[(String, java.sql.Date, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (et, it) =>
        val ys = it.toArray.sortBy(_._2.getTime).map(_._3 * 1000000L)
        if (ys.isEmpty) Iterator.empty
        else {
          var l = ys.head
          var b = 0L
          ys.drop(1).foreach { y =>
            val lNew = Math.floorDiv(y + l + b + 1L, 2L)
            b = Math.floorDiv((lNew - l) + b + 1L, 2L)
            l = lNew
          }
          Iterator.single((
            et,
            ys.length.toLong,
            l.toDouble / 1e6,
            b.toDouble / 1e6,
            (l + b).toDouble / 1e6,
            (l + 2 * b).toDouble / 1e6,
            (l + 3 * b).toDouble / 1e6))
        }
      }
      .toDF("event_type", "n_days", "level", "trend", "fc1", "fc2", "fc3")
      .orderBy("event_type")
  }

  /** Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013) of
    * the per-type daily event series to 10 points — the standard
    * shape-preserving reduction a dashboard applies before plotting a
    * multi-year series (peaks and cliffs survive; a naive every-Nth or
    * per-bucket mean flattens them). First/last points always kept; the
    * 8 middle buckets each keep the point maximizing the triangle area
    * with the PREVIOUS selected point and the NEXT bucket's centroid —
    * a sequential recurrence, so the per-type flatMapGroups (the
    * `q_events_holt` calendar-bounded-group pattern) is the right
    * distribution shape, not a window.
    *
    * Exactness: x = day rank, y = daily count, both integers; the
    * next-bucket centroid is rational with denominator m (bucket size),
    * so the triangle comparison is scaled by m into pure LONG
    * arithmetic — |(aₓm − Cₓ)(b_y − a_y) − (aₓ − bₓ)(C_y − a_y·m)| —
    * and the argmax (ties → earliest day) is engine-exact with no
    * float anywhere. n ≤ 10 emits the whole series. The oracle unrolls
    * the 8 bucket selections as MATERIALIZED row_number picks over the
    * identical scaled-area expression.
    *
    * Scale shape: corpus-scale work is the ONE (type, day) count agg;
    * the recurrence runs over calendar-bounded groups (≤ |days| rows
    * per type at ANY corpus size — the q_events_autocorr bound note).
    */
  def qTimeLttb(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = 10
    Tables
      .events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .as[(String, java.sql.Date, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (et, it) =>
        val pts = it.toArray
          .sortBy(_._2.getTime)
          .zipWithIndex
          .map { case ((_, d, y), i) => (i, d, y) }
        val n = pts.length
        val sel: Seq[(Int, java.sql.Date, Long)] =
          if (n <= k) pts.toSeq
          else {
            val buf = scala.collection.mutable.ArrayBuffer(pts(0))
            var a = pts(0)
            (0 until k - 2).foreach { i =>
              val lo = 1 + i * (n - 2) / (k - 2)
              val hi = 1 + (i + 1) * (n - 2) / (k - 2)
              val (cxS, cyS, m) =
                if (i < k - 3) {
                  val nlo = 1 + (i + 1) * (n - 2) / (k - 2)
                  val nhi = 1 + (i + 2) * (n - 2) / (k - 2)
                  val nb = pts.slice(nlo, nhi)
                  (nb.map(_._1.toLong).sum, nb.map(_._3).sum, nb.length.toLong)
                } else (pts(n - 1)._1.toLong, pts(n - 1)._3, 1L)
              val best = pts.slice(lo, hi).maxBy { p =>
                val area = ((a._1 * m - cxS) * (p._3 - a._3) -
                  (a._1 - p._1.toLong) * (cyS - a._3 * m)).abs
                (area, -p._1.toLong) // ties -> earliest day
              }
              buf += best
              a = best
            }
            buf += pts(n - 1)
            buf.toSeq
          }
        sel.zipWithIndex.map { case ((_, d, y), b) => (et, b, d, y) }.iterator
      }
      .toDF("event_type", "bucket", "day", "y")
      .orderBy("event_type", "bucket")
  }

  /** Classical seasonal decomposition of the per-type daily volume
    * series (the moving-average STL-lite): trend = centered 7-day
    * moving average on the ZERO-FILLED daily grid, seasonal = per
    * day-of-week mean of the detrended series, residual = the rest —
    * the "is Tuesday always like this or is today broken" separation
    * run before the `q_events_anomaly` z-gate, one level up from
    * `q_events_seasonality`'s dow profile (which scores counts, not a
    * decomposition).
    *
    * Exactness: daily counts are exact longs on a dense date grid
    * (missing days = 0 — decomposition over a sparse grid would shift
    * every window); trend = exact long window SUM ÷ exact count (one
    * IEEE division — avg() is NOT used: its double-accumulating buffer
    * would be frame-order IEEE instead of an exact integer sum);
    * seasonal means go through `dsum`; residual is the mirrored IEEE
    * chain. Day-of-week convention: Spark `dayofweek − 1` ≡ DuckDB
    * `dayofweek` (Sunday = 0), the q_events_seasonality pin.
    *
    * Scale shape: one (type, date) partial-agg shuffle is the corpus
    * pass; the grid is days × types (wall time), the MA window and
    * dow means run on that model frame.
    */
  def qTimeDecompose(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables
      .events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val span = daily
      .groupBy(col("event_type").as("s_et"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .transform(Materialize.eager) // ≤|types| rows
    val grid = span.select(
      col("s_et").as("event_type"),
      explode(sequence(col("d0"), col("d1"))).as("d"))
    val full = grid
      .join(daily, Seq("event_type", "d"), "left")
      .select(col("event_type"), col("d"), coalesce(col("n"), lit(0L)).as("n"))
    val wMa = Window.partitionBy("event_type").orderBy(col("d")).rowsBetween(-3, 3)
    val trended = full
      .withColumn(
        "trend",
        sum(col("n")).over(wMa).cast("double") / count(lit(1)).over(wMa).cast("double"))
      .withColumn("dt", col("n").cast("double") - col("trend"))
    val seas = trended
      .groupBy(col("event_type").as("g_et"), (dayofweek(col("d")) - 1).as("dow"))
      .agg((Tables.dsum(col("dt")) / count(lit(1))).as("seasonal"))
    trended
      .join(
        seas,
        col("event_type") === col("g_et") && (dayofweek(col("d")) - 1) === col("dow"))
      .select(
        col("event_type"),
        col("d"),
        col("n"),
        col("trend"),
        col("seasonal"),
        (col("n").cast("double") - col("trend") - col("seasonal")).as("residual"))
      .orderBy("event_type", "d")
  }

  /** M4 downsampling (Jugel et al., VLDB 2014) of the per-type value
    * series: per (type, day) bucket emit the FIRST, LAST, MIN, and MAX
    * values — the four points that make a line rendering of the bucket
    * pixel-exact. The sibling of [[qTimeLttb]] with the opposite
    * distribution story: LTTB is a sequential recurrence (per-group
    * flatMapGroups), M4 is a PURE AGGREGATION — the paper's point is
    * that pixel-exact downsampling needs no window and no sort, just
    * min/max over four orderings, so it runs as ONE map-side-combined
    * agg pass at any scale.
    *
    * Determinism: first/last are `min_by`/`max_by` on an INJECTIVE
    * (ts, event_id) key (event_id unique ⇒ no tie can make the answer
    * partition-dependent); min/max need no tiebreak at all because only
    * the VALUE is emitted — tied minima share it. The oracle
    * materializes the same first/last picks as row_number()=1 windows
    * over the identical (ts, event_id) ordering.
    *
    * Scale shape: one map-side-combined HashAggregate pass over events
    * (see the key-encoding note in the body — a struct ordering key
    * would demote the whole agg to SortAggregate), state = 4 doubles +
    * 2 decimals + a count per (type, day) cell; output ≤ |types|·|days|
    * rows. At 100 TB this is the query a monitoring store runs to
    * render years of raw points — no shuffle of the raw series, no
    * per-group sort.
    */
  def qTimeM4(spark: SparkSession, sfDir: String): DataFrame = {
    // Injective (ts, event_id) decimal ordering key — see Tables.tsIdKey
    // for why a struct key would demote the agg to SortAggregate.
    val tsKey = Tables.tsIdKey(col("ts"), col("event_id"))
    Tables
      .events(spark, sfDir)
      .where(col("value").isNotNull)
      .select(col("event_type"), col("ts"), col("value"), tsKey.as("tk"))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_points"),
        min_by(col("value"), col("tk")).as("v_first"),
        max_by(col("value"), col("tk")).as("v_last"),
        min(col("value")).as("v_min"),
        max(col("value")).as("v_max"))
      .orderBy("event_type", "day")
  }

  // ------------------------------------------- autocorrelation (ACF)

  /** Autocorrelation function (lags 1–7) of the per-type daily event
    * series — the diagnostics member of the time-series family: ACF is
    * how an analyst decides whether `q_events_holt` needs a seasonal
    * term and what period `q_events_seasonality` should test.
    *
    * Integer-exact throughout: with daily counts y_t, n days and
    * S = Σy, the deviation d_t = y_t·n − S is an exact LONG (the 1/n
    * factors of (y_t − ȳ) cancel in the ACF ratio), so
    * r_k = Σ d_t·d_{t+k} / Σ d_t² needs one IEEE division of exact
    * integers. Bound: |d| ≤ y_max·n; at ×1000 today's fixture that is
    * ~2e8, d² ~4e16, × 30 days ~1.2e18 < 2^63 — certifiable far past
    * the probe scales. BEYOND that bound the engine now fails LOUDLY,
    * matching the oracle's failure mode (round-9 ADVICE, closed r10):
    * every LONG product/difference goes through checked arithmetic
    * (`try_multiply`/`try_subtract` + null-poison → `raise_error`) and
    * a per-group canary guards the product SUMS, so a series beyond
    * the bound throws instead of silently wrapping — spec-pinned with
    * a crafted overflow fixture.
    *
    * Scale shape: corpus-scale work is the ONE (type, day) count agg;
    * the lag windows run over calendar-bounded groups (≤ |days| rows
    * per type regardless of corpus size).
    */
  def qEventsAutocorr(spark: SparkSession, sfDir: String): DataFrame =
    autocorrCore(
      Tables
        .events(spark, sfDir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y")))

  /** LONG multiply that fails LOUDLY on overflow (round-9 ADVICE,
    * carried): `try_multiply` nulls on wrap, and the null — distinguished
    * from a genuinely-NULL operand — poisons into `raise_error`, so the
    * engine aborts exactly where the DuckDB oracle's checked BIGINT
    * multiply does, instead of silently wrapping past the documented
    * exactness bound. Codegen'd end to end; the per-row cost is one
    * overflow-checked multiply (Math.multiplyExact shape).
    */
  private def checkedMul(a: Column, b: Column, site: String): Column =
    when(a.isNull || b.isNull, lit(null).cast("long"))
      .otherwise(
        coalesce(
          try_multiply(a, b),
          raise_error(format_string(
            s"$site: LONG product overflow (%s * %s) — beyond the documented " +
              "exactness bound; see the query scaladoc",
            a,
            b)).cast("long")))

  /** Checked LONG subtract, same null-poison discipline as [[checkedMul]]. */
  private def checkedSub(a: Column, b: Column, site: String): Column =
    when(a.isNull || b.isNull, lit(null).cast("long"))
      .otherwise(
        coalesce(
          try_subtract(a, b),
          raise_error(format_string(
            s"$site: LONG difference overflow (%s - %s) — beyond the documented " +
              "exactness bound; see the query scaladoc",
            a,
            b)).cast("long")))

  /** ACF core over a (event_type, day, y) daily frame — package-private
    * so the overflow spec can drive it over a crafted series. Every LONG
    * product/difference is checked ([[checkedMul]]/[[checkedSub]]), and
    * a per-group canary (n_days · max d² < 2^62, computed in doubles)
    * guards the SUMS of in-range products (|Σ d·d_k| ≤ n·max d² by
    * Cauchy-Schwarz) — so past the bound the engine now throws where it
    * previously wrapped.
    */
  private[queries] def autocorrCore(daily: DataFrame): DataFrame = {
    val maxLag = 7
    val wp = Window.partitionBy("event_type")
    val wo = Window.partitionBy("event_type").orderBy("day")
    val site = "q_events_autocorr"
    val dev = daily
      .select(
        col("event_type"),
        col("day"),
        checkedSub(
          checkedMul(col("y"), count(lit(1)).over(wp), site),
          sum(col("y")).over(wp),
          site).as("d"))
    val lagged = dev.select(
      col("event_type") +: col("d") +:
        (1 to maxLag).map(k => lag(col("d"), k).over(wo).as(s"d$k")): _*)
    val aggCols =
      sum(checkedMul(col("d"), col("d"), site)).as("den") +:
        max(checkedMul(col("d"), col("d"), site)).as("_maxdd") +:
        (1 to maxLag).map(k => sum(checkedMul(col("d"), col(s"d$k"), site)).as(s"num$k"))
    val stacked = (1 to maxLag).map(k => s"$k, num$k").mkString(", ")
    // sum-wrap canary (the fsum pattern): each product is in range, but a
    // group's SUM of them could still wrap; the bound is computed in
    // doubles (cannot itself wrap) and throws instead of corrupting
    val canary = coalesce(
      assert_true(
        col("n_days").cast("double") * col("_maxdd").cast("double") <
          lit(4.611686018427388e18), // 2^62
        lit(s"$site sum-overflow canary: n_days * max(d^2) >= 2^62 — " +
          "the ACF sums may have wrapped; see the query scaladoc")).cast("double"),
      lit(0.0))
    lagged
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), aggCols: _*)
      .selectExpr(
        "event_type",
        "n_days",
        "den",
        "_maxdd",
        s"stack($maxLag, $stacked) AS (lag, num)")
      .select(
        col("event_type"),
        col("lag").cast("int").as("lag"),
        col("n_days"),
        (col("num").cast("double") / col("den").cast("double") + canary).as("acf"))
      .orderBy("event_type", "lag")
  }

  // --------------------------------------------- changepoint (CUSUM)

  /** CUSUM changepoint detection over the per-type daily series: the
    * split day t* maximizing |Σ_{i≤t}(y_i − ȳ)| — the classic
    * at-which-day-did-the-level-shift readout, reported with the means
    * on each side of the split.
    *
    * Same exact-integer discipline as `q_events_autocorr`: the n-scaled
    * cumulative deviation c_t = n·Σ_{i≤t} y_i − t·S is an exact LONG, so
    * the argmax (ties → earliest day) is engine-exact; the emitted
    * cusum / means are single IEEE divisions of exact integers. t = n is
    * excluded (c_n ≡ 0 and the right side would be empty). Same
    * out-of-bound behavior as `q_events_autocorr` (round-9 ADVICE,
    * closed r10): past |cumy·n| ~ 2^63 the checked products/difference
    * (`try_multiply`/`try_subtract` + null-poison → `raise_error`)
    * throw exactly where DuckDB's checked BIGINT multiply aborts —
    * loud, engine-matching failure instead of a silent wrap;
    * spec-pinned with a crafted overflow fixture.
    */
  def qEventsChangepoint(spark: SparkSession, sfDir: String): DataFrame =
    changepointCore(
      Tables
        .events(spark, sfDir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y")))

  /** CUSUM core over a (event_type, day, y) daily frame — package-private
    * so the overflow spec can drive it over a crafted series; all LONG
    * products/differences checked (see [[autocorrCore]]).
    */
  private[queries] def changepointCore(daily: DataFrame): DataFrame = {
    val wp = Window.partitionBy("event_type")
    val wo = Window.partitionBy("event_type").orderBy("day")
    val site = "q_events_changepoint"
    val cum = daily
      .select(
        col("event_type"),
        col("day"),
        count(lit(1)).over(wp).as("n"),
        sum(col("y")).over(wp).as("s"),
        row_number().over(wo).as("t"),
        sum(col("y")).over(wo).as("cumy"))
      .select(
        col("event_type"),
        col("day"),
        col("n"),
        col("s"),
        col("t"),
        col("cumy"),
        checkedSub(
          checkedMul(col("cumy"), col("n"), site),
          checkedMul(col("t"), col("s"), site),
          site).as("c"))
      .where(col("t") < col("n"))
    val pick = Window
      .partitionBy("event_type")
      .orderBy(abs(col("c")).desc, col("day").asc)
    cum
      .withColumn("rn", row_number().over(pick))
      .where(col("rn") === 1)
      .select(
        col("event_type"),
        col("n").as("n_days"),
        col("day").as("split_day"),
        (col("c").cast("double") / col("n").cast("double")).as("cusum"),
        (col("cumy").cast("double") / col("t").cast("double")).as("mean_before"),
        ((col("s") - col("cumy")).cast("double") /
          (col("n") - col("t")).cast("double")).as("mean_after"))
      .orderBy("event_type")
  }

  // -------------------------------------------- forecast backtesting

  /** Holdout backtest of the Holt forecaster (`q_events_holt`): train
    * the same dyadic level/trend recurrence on all but the LAST 3 days
    * per event_type, forecast those 3, and report MAE / worst absolute
    * error — the evaluation loop that makes a forecasting operator
    * usable (a forecast without a backtest number is a guess).
    *
    * Exactness inherits from `qEventsHolt`: state is integer 1e-6 fixed
    * point, forecasts are exact longs, |err| sums are exact, and the
    * final /3 /1e6 are IEEE divisions both engines execute identically.
    */
  def qEventsForecastEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val holdout = 3
    Tables
      .events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .select(col("event_type"), col("day"), col("y"))
      .as[(String, java.sql.Date, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (et, it) =>
        val ys = it.toArray.sortBy(_._2.getTime).map(_._3 * 1000000L)
        if (ys.length <= holdout + 1) Iterator.empty
        else {
          val train = ys.dropRight(holdout)
          var l = train.head
          var b = 0L
          train.drop(1).foreach { y =>
            val lNew = Math.floorDiv(y + l + b + 1L, 2L)
            b = Math.floorDiv((lNew - l) + b + 1L, 2L)
            l = lNew
          }
          val errs = (1 to holdout).map { k =>
            Math.abs(l + k * b - ys(train.length + k - 1))
          }
          Iterator.single((
            et,
            train.length.toLong,
            errs.sum.toDouble / holdout / 1e6,
            errs.max.toDouble / 1e6))
        }
      }
      .toDF("event_type", "n_train", "mae", "max_abs_err")
      .orderBy("event_type")
  }

  // ------------------------------------------------------ distribution drift

  /** Population-stability drift report (PSI) between order cohorts: the
    * price distribution before vs since 1998-01-01 over 10 fixed 50k
    * bins, Laplace-smoothed. The ingest-monitoring twin of
    * `q_dq_expectations`: expectations catch rule breaks, PSI catches
    * the silent distribution shifts rules can't enumerate. Per-bin PSI
    * terms `(p−q)·ln(p/q)` are emitted (the total is their sum; >0.2 =
    * actionable drift by the usual convention).
    *
    * Scale shape: one scan, bin assignment at the row, one 10-group
    * partial agg carrying two conditional counts — identical cost to any
    * histogram. Each `ln` is quantized to 1e-6 BEFORE the product (the
    * cross-libm discipline of `q_text_entropy`), so the report is
    * engine-identical.
    */
  def qDqDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val cut = lit("1998-01-01").cast("timestamp")
    val binned = Tables
      .orders(spark, sfDir)
      .select(
        least(lit(9), floor(col("o_totalprice") / 50000)).cast("int").as("bin"),
        when(col("o_orderdate") < cut, 1L).otherwise(0L).as("is_base"))
    val counts = binned
      .groupBy("bin")
      .agg(
        sum(col("is_base")).as("n_base"),
        sum(lit(1L) - col("is_base")).as("n_cur"))
    val tot = counts.select(
      sum(col("n_base")).as("t_base"),
      sum(col("n_cur")).as("t_cur"))
    counts
      .crossJoin(broadcast(tot))
      .select(
        col("bin"),
        col("n_base"),
        col("n_cur"),
        // Laplace-smoothed shares, identical op order in the oracle
        ((col("n_base") + 1).cast("double") / (col("t_base") + 10).cast("double")).as("p"),
        ((col("n_cur") + 1).cast("double") / (col("t_cur") + 10).cast("double")).as("q"))
      .select(
        col("bin"),
        col("n_base"),
        col("n_cur"),
        round(
          (col("p") - col("q")) * (round(log(col("p") / col("q")) * 1e6).cast("long") / 1e6),
          9).as("psi_term"))
      .orderBy("bin")
  }

  // ---------------------------------------------------------- l-diversity

  /** l-diversity audit (l = 2) — the companion to `q_privacy_kanon`:
    * k-anonymity bounds re-identification, l-diversity bounds ATTRIBUTE
    * disclosure. A (nation, segment) quasi-identifier class fails when
    * every member shares the same sensitive value (balance sign here):
    * knowing someone's QI then reveals their attribute even though the
    * class is large. One partial-agg shuffle on the QI tuple, distinct
    * sensitive values counted exactly (the sensitive domain is tiny by
    * construction; a sketch would serve at larger domains).
    */
  def qPrivacyLdiversity(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .customer(spark, sfDir)
      .select(
        col("c_nationkey"),
        col("c_mktsegment"),
        when(col("c_acctbal") < 0, "neg").otherwise("nonneg").as("bal_sign"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(
        count(lit(1)).as("class_size"),
        countDistinct(col("bal_sign")).as("l_distinct"))
      .where(col("l_distinct") < 2)
      .orderBy("c_nationkey", "c_mktsegment")

  /** t-closeness audit — completes the privacy triple (k-anonymity =
    * class size, l-diversity = distinct sensitive values, t-closeness =
    * DISTRIBUTION distance): per quasi-identifier class
    * (nation, segment), the Earth Mover's Distance between the class's
    * account-balance distribution and the global one, over 10 ordered
    * balance buckets. For ordered unit-spaced buckets
    * `EMD = (1/(B−1)) · Σ_j |Σ_{i≤j}(q_i − p_i)|`.
    *
    * Cross-engine exactness: the cumulative differences are computed by
    * integer CROSS-MULTIPLICATION (`n_cj·N − g_j·n_c` — no per-class
    * division), summed exactly as LONGs, and the single output division
    * `Σ|D_j| / ((B−1)·n_c·N)` is one IEEE op on exact integers — the
    * emitted doubles are bit-identical across engines with no rounding
    * grid at all. |products| ≤ n_c·N < 2^53 through sf100.
    *
    * Scale shape: one bucket-count aggregation, a 10-row broadcast
    * (global histogram), and a per-class window over EXACTLY 10 dense
    * rows (classes × buckets materialized by cross join) — the window
    * partition is constant-bounded, so no skew at any corpus size.
    */
  def qPrivacyTcloseness(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables
      .customer(spark, sfDir)
      .select(
        col("c_nationkey"),
        col("c_mktsegment"),
        least(
          greatest(floor((col("c_acctbal") + lit(1000.0)) / lit(1100.0)), lit(0L)),
          lit(9L)).as("bucket"))
    // ONE scan + ONE aggregation; the global histogram, class totals,
    // and grand total all roll up from the (class, bucket) counts
    // (checkpointed: |classes|·10 rows read from four plan positions —
    // the §4 house rule, and the fix for the r8 review's 4-scan finding)
    val byClassBucket = cust
      .groupBy("c_nationkey", "c_mktsegment", "bucket")
      .agg(count(lit(1)).as("n_cj"))
      .transform(Materialize.eager)
    val globalBucket = byClassBucket.groupBy("bucket").agg(sum(col("n_cj")).as("g_j"))
    val totals = byClassBucket
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(sum(col("n_cj")).as("n_c"))
    val n = byClassBucket.agg(sum(col("n_cj")).as("n_total"))
    // densify: every class × every bucket 0..9, missing counts = 0 —
    // including buckets EMPTY GLOBALLY (left join + coalesce on g_j: an
    // inner join dropped their |cum_d| terms and underestimated EMD,
    // r8 review finding)
    val buckets = spark.range(0, 10).select(col("id").as("bucket"))
    val dense = totals
      .crossJoin(broadcast(buckets))
      .join(byClassBucket, Seq("c_nationkey", "c_mktsegment", "bucket"), "left")
      .join(broadcast(globalBucket), Seq("bucket"), "left")
      .crossJoin(broadcast(n))
      .select(
        col("c_nationkey"),
        col("c_mktsegment"),
        col("n_c"),
        col("n_total"),
        col("bucket"),
        (coalesce(col("n_cj"), lit(0L)) * col("n_total") -
          coalesce(col("g_j"), lit(0L)) * col("n_c"))
          .as("d_j"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_nationkey", "c_mktsegment")
      .orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    dense
      .select(
        col("c_nationkey"),
        col("c_mktsegment"),
        col("n_c"),
        col("n_total"),
        col("bucket"),
        sum(col("d_j")).over(w).as("cum_d"))
      .where(col("bucket") < 9) // EMD sums the B−1 interior prefixes
      .groupBy("c_nationkey", "c_mktsegment", "n_c", "n_total")
      .agg(sum(abs(col("cum_d"))).as("num"))
      .select(
        col("c_nationkey"),
        col("c_mktsegment"),
        col("n_c").as("class_size"),
        (col("num").cast("double") / (lit(9L) * col("n_c") * col("n_total")).cast("double"))
          .as("t_closeness"))
      .orderBy(col("t_closeness").desc, col("c_nationkey"), col("c_mktsegment"))
      .limit(20)
  }

  // ------------------------------------------------------------ table diff

  /** Row-level table diff (reconciliation read): ADDED / REMOVED /
    * CHANGED rows between two table versions — the row-granular
    * companion to `q_table_checksum`'s bucket digests (checksum finds
    * WHICH bucket diverged; diff shows WHAT). Versions are derived
    * deterministically from `orders` (v1 drops key%10=3, v2 drops
    * key%10=7 and reprices key%4=0), standing in for two snapshots.
    *
    * Scale shape: one full-outer hash join on the primary key, change
    * detection as a row-local comparison — no window, no sort; at 100 TB
    * the join co-partitions both snapshots on the key (or prunes to the
    * buckets `q_table_checksum` flagged).
    */
  def qTableDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val v1 = o
      .where(pmod(col("o_orderkey"), lit(10)) =!= 3)
      .select(col("o_orderkey").as("k1"), col("o_totalprice").as("price1"))
    val v2 = o
      .where(pmod(col("o_orderkey"), lit(10)) =!= 7)
      .select(
        col("o_orderkey").as("k2"),
        when(pmod(col("o_orderkey"), lit(4)) === 0, col("o_totalprice") + 1.5)
          .otherwise(col("o_totalprice"))
          .as("price2"))
    v1.join(v2, col("k1") === col("k2"), "full_outer")
      .select(
        coalesce(col("k1"), col("k2")).as("o_orderkey"),
        when(col("k1").isNull, "added")
          .when(col("k2").isNull, "removed")
          .when(col("price1") =!= col("price2"), "changed")
          .otherwise("same")
          .as("status"),
        col("price1"),
        col("price2"))
      .where(col("status") =!= "same")
      .orderBy("o_orderkey")
  }

  // -------------------------------------------------------------- pagerank

  /** Weighted PageRank over the event-type transition graph (3 unrolled
    * iterations, damping 0.85) — the graph-centrality member beside
    * `DedupClusters`' connected components: which event types the
    * behavior flow concentrates on. Every per-target contribution sum is
    * quantized to 1e-12 fixed point before aggregation (the ScaledDot
    * discipline), so ranks are partitioning- and engine-identical
    * without any rounding until the final projection.
    *
    * Scale shape per iteration: one edge⋈rank equi-join on the source
    * key + one target-keyed partial agg — the textbook distributed
    * PageRank step (edges partition by source; ranks are the small side
    * only because this graph is type-level; at node scale both sides
    * hash-partition). No driver-side loop state beyond the 3 static
    * unrolls; dangling mass is zero here (every type transitions out).
    */
  def qGraphPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val edges = Tables
      .events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("to_type").as("dst"))
      .agg(count(lit(1)).as("w"))
      // materialize the ONE corpus-scale pass (r16, guide §2.4): the
      // per-user lead window + transition count is referenced from the
      // out-weight agg, the frac join, and the node list — each
      // uncheckpointed reference re-ran the events window. ≤ |types|² rows.
      .transform(Materialize.eager)
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val frac = edges
      .join(outw, "src")
      .select(col("src"), col("dst"), (col("w").cast("double") / col("ow").cast("double")).as("frac"))
    val nodes = edges.select(col("src").as("node")).distinct()
    val n = nodes.agg(count(lit(1)).as("n"))
    val p0 = nodes
      .crossJoin(broadcast(n))
      .select(col("node"), (lit(1.0) / col("n").cast("double")).as("p"), col("n"))
    def step(p: DataFrame): DataFrame =
      frac
        .join(p.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(
          sum(round(col("p") * col("frac") * 1e12).cast("long")).as("sfp"),
          first(col("n")).as("n"))
        .select(
          col("node"),
          (lit(0.15) / col("n").cast("double") +
            lit(0.85) * (col("sfp").cast("double") / 1e12)).as("p"),
          col("n"))
    val p3 = step(step(step(p0)))
    p3.select(col("node"), round(col("p"), 9).as("rank")).orderBy("node")
  }

  // ---------------------------------------------------------- seasonality

  /** Day-of-week seasonality test per event type: a chi-square
    * goodness-of-fit statistic against the uniform-weekday null, with
    * the df=6, α=0.05 critical value (12.592) as the significance gate —
    * the statistical-test member beside `q_events_anomaly`'s z-scores
    * and `q_events_abtest`'s Welch t. The (type × weekday) grid is
    * completed before scoring so an absent weekday contributes its full
    * (0 − E)²/E term instead of silently dropping.
    *
    * Scale shape: one (type, dow) partial-agg shuffle over the events
    * scan; the grid completion and scoring run on the tiny (types × 7)
    * aggregate. Each χ² term is quantized to 1e-6 before the 7-term sum
    * (the cross-engine discipline), so the statistic is bit-stable.
    */
  def qEventsSeasonality(spark: SparkSession, sfDir: String): DataFrame = {
    val cd = Tables
      .events(spark, sfDir)
      .select(col("event_type"), (dayofweek(col("ts")) - 1).as("dow"))
      .groupBy("event_type", "dow")
      .agg(count(lit(1)).as("obs"))
    val grid = cd
      .select(col("event_type"))
      .distinct()
      .crossJoin(spark.range(0, 7).select(col("id").cast("int").as("dow")))
    val full = grid
      .join(cd, Seq("event_type", "dow"), "left")
      .select(col("event_type"), col("dow"), coalesce(col("obs"), lit(0L)).as("obs"))
    val tot = full.groupBy("event_type").agg(sum(col("obs")).as("n"))
    full
      .join(tot, "event_type")
      .select(
        col("event_type"),
        col("n"),
        round(
          (col("obs").cast("double") - col("n").cast("double") / 7.0) *
            (col("obs").cast("double") - col("n").cast("double") / 7.0) /
            (col("n").cast("double") / 7.0) * 1e6)
          .cast("long")
          .as("term_fp"))
      .groupBy("event_type")
      .agg(first(col("n")).as("n_events"), (sum(col("term_fp")).cast("double") / 1e6).as("chi2"))
      .select(
        col("event_type"),
        col("n_events"),
        round(col("chi2"), 6).as("chi2"),
        (col("chi2") > 12.592).as("significant"))
      .orderBy("event_type")
  }

  // ------------------------------------------------------ LSH calibration

  /** MinHash-LSH calibration readout: precision/recall of
    * `q_dedup_near`'s candidate pairs against the exact 3-shingle
    * Jaccard ≥ 0.5 ground truth (`q_dedup_ngram`) — the evaluation
    * harness any approximate-dedup deployment runs before trusting its
    * bands/hashes at scale. One row: candidate count, truth count, hits,
    * precision, recall. Fully oracle-checked since the md5-based MinHash
    * landed (the DuckDB twin replays signatures, banding, and the exact
    * truth); bench=false (it executes both pipelines, one of them the
    * quadratic oracle twin).
    */
  def qDedupNearEval(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = LlmOps.qDedupNear(spark, sfDir).select(col("d1"), col("d2"))
    val truth = LlmOps.qDedupNgram(spark, sfDir).select(col("d1"), col("d2"))
    val nc = cand.agg(count(lit(1)).as("n_candidates"))
    val nt = truth.agg(count(lit(1)).as("n_true"))
    val nh = cand.join(truth, Seq("d1", "d2")).agg(count(lit(1)).as("n_hit"))
    nc.crossJoin(nt)
      .crossJoin(nh)
      .select(
        col("n_candidates"),
        col("n_true"),
        col("n_hit"),
        round(col("n_hit").cast("double") / col("n_candidates").cast("double"), 6)
          .as("precision"),
        round(col("n_hit").cast("double") / col("n_true").cast("double"), 6).as("recall"))
  }

  /** Source-pair vocabulary overlap (Jaccard over distinct token sets) —
    * the corpus-similarity input to mix design: two sources with
    * near-identical vocabularies are redundant in a pretraining mix,
    * near-disjoint ones are complementary (`q_mix_sources` /
    * `q_mix_temperature` decide weights; this measures the overlap they
    * act on). Shape: one DISTINCT (source, token) reduction, a
    * token-keyed wedge join for ∩ (fan-out bounded by \|sources\| per
    * token), vocab sizes joined back, union = v1 + v2 − ∩.
    */
  def qSourceVocabOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val st = graft.Tables
      .documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .distinct()
      // materialize the corpus-scale distinct ONCE (r16, guide §2.4): st
      // is referenced from three plan positions (per-source sizes, both
      // intersection arms) and each uncheckpointed reference re-ran the
      // token explode + distinct shuffle. |sources|×vocab rows.
      .transform(Materialize.eager)
    val sizes = st.groupBy("source").agg(count(lit(1)).as("vocab"))
    val inter = st
      .as("x")
      .join(st.as("y"), col("x.tok") === col("y.tok") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("s1"), col("y.source").as("s2"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.as("va"), col("s1") === col("va.source"))
      .join(sizes.as("vb"), col("s2") === col("vb.source"))
      .select(
        col("s1"),
        col("s2"),
        col("n_common"),
        round(
          col("n_common").cast("double") /
            (col("va.vocab") + col("vb.vocab") - col("n_common")),
          6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("s1"), col("s2"))
      .limit(30)
  }

  /** Revenue concentration (Pareto) per market segment: how many top
    * customers carry 80% of the segment's spend. The threshold test is
    * exact integer arithmetic (`cum·5 ≥ total·4` on LONG cents — no
    * 0.8·total double), so the crossover rank is engine-identical.
    *
    * Scale shape: the per-segment rank and running spend come from
    * [[graft.operators.PrefixScan]] over (segment; cents desc, custkey),
    * so no sort ever holds a whole segment. The custkey tiebreak makes
    * the key a strict total order. The oracle keeps the naive
    * single-window SQL, so the hash match proves the offset algebra.
    */
  def qOrdersPareto(spark: SparkSession, sfDir: String): DataFrame = {
    val spend = Tables
      .orders(spark, sfDir)
      .join(
        Tables.customer(spark, sfDir).select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("cents"))
    PrefixScan(spend, Seq("c_mktsegment"), Seq(col("cents").desc, col("c_custkey")), Seq("cents"))
      .groupBy("c_mktsegment")
      .agg(
        max(col("n")).as("n_customers"),
        min(when(col("cum_cents") * 5 >= col("total_cents") * 4, col("rank"))).cast("long").as("pareto_n"))
      .select(
        col("c_mktsegment"),
        col("n_customers"),
        col("pareto_n"),
        round(col("pareto_n").cast("double") / col("n_customers"), 6).as("pareto_frac"))
      .orderBy("c_mktsegment")
  }

  // ------------------------------------------------- multi-touch attribution

  /** Multi-touch attribution: every purchase is credited back to the
    * clicks of the same user in the preceding 30 minutes — LINEAR
    * (value / n_touches to each) and LAST-TOUCH (full value to the
    * latest click, click_id tiebreak) models side by side, per click.
    *
    * Scale shape: one user-keyed equi-join with the time window as a
    * residual predicate (the `q_join_scd2_pit` shape), then one window
    * pass PARTITIONED BY purchase (touch counts are bounded by clicks
    * per user per 30 min), then one click-keyed partial agg. Credits
    * are 1e-6 fixed-point LONGs before summing (partition-order-proof;
    * the linear shares divide first — an identical IEEE sequence in
    * both engines). Unattributed purchases are out of scope here; the
    * outer-join emission side lives in `s_stream_join_outer`.
    */
  def qEventsAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
    val clicks = ev
      .where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = ev
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"), col("value"))
    val touches = clicks
      .join(purchases, Seq("user_id"))
      .where(
        col("p_ts") >= col("click_ts") &&
          col("p_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
    val byPurchase = Window.partitionBy("p_id")
    val ranked = touches
      .withColumn("n_touch", count(lit(1)).over(byPurchase))
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy("p_id").orderBy(col("click_ts").desc, col("click_id").desc)))
    ranked
      .groupBy("click_id", "user_id")
      .agg(
        countDistinct(col("p_id")).as("n_purchases"),
        (sum(round(col("value") / col("n_touch") * lit(1e6)).cast("long")).cast("double") / 1e6)
          .as("linear_credit"),
        (sum(
          when(col("rn") === 1, round(col("value") * lit(1e6)).cast("long"))
            .otherwise(0L)).cast("double") / 1e6).as("last_credit"))
      .orderBy("click_id")
  }

  // -------------------------------------------------- power-iteration PCA

  /** Top principal direction of the embedding corpus by three unrolled
    * power iterations on the (uncentered) Gram operator:
    * `w = Σᵢ eᵢ (eᵢ·v) / N`, renormalized between rounds. The ML-lite
    * companion of `q_agg_linreg`/`q_graph_pagerank`: distributed linear
    * algebra with nothing but joins and partial aggs.
    *
    * Scale shape: per iteration, one vec-keyed partial agg (the dots)
    * and one dim-keyed partial agg (the new direction) — embeddings are
    * scanned, never shuffled wide. Since round 5 the three iterations
    * are ONE LAZY PLAN (each round's 64-row direction and 1-row norm
    * broadcast into the next — the same CTE chain the oracle runs), so
    * nothing executes at builder time: plan capture is free and a bench
    * run measures the real distributed work, not a pre-computed 64-row
    * local frame. No driver-side state at all. Exactness: every
    * cross-partition sum is a fixed-point LONG (1e-9 grain on unit-norm
    * data ⇒ overflow-safe at any corpus size after the 1/N scale); each
    * round's renormalization quantizes components to 1e-6 (`round`
    * half-away-from-zero in both engines), so both engines iterate on
    * identical vectors; `sqrt` is IEEE correctly-rounded.
    */
  def qEmbedPca(spark: SparkSession, sfDir: String): DataFrame = {
    val ex = graft.Tables
      .embeddings(spark, sfDir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "e")))
      .select(col("vec_id"), col("j"), col("e").cast("double").as("e"))
    val n = graft.Tables.embeddings(spark, sfDir).count()
    // Driver-coordinated power iteration — the bounded-model-state pattern
    // (IVF centroids, PQ codebooks): each round is ONE distributed job
    // (Gram·v via a literal-array element_at, map-side — no broadcast
    // join, no per-round nsq/normalize jobs) whose 64-value result is
    // collected and normalized in driver math that mirrors the engine
    // expressions bit-for-bit (BigDecimal.decimal = Spark round's
    // valueOf-based HALF_UP; math.round = half-up on the non-negative
    // nsq terms). Round-7 drift investigation (the r4 1.12 s → r6 1.74 s
    // verdict ask), measured A/B at sf0.1 ×3 runs each: r6 all-lazy
    // 1.59–1.89 s, w-localCheckpoint variant 1.59–1.86 s, this
    // formulation 1.56–1.70 s — statistically indistinguishable, because
    // at 2000×64 rows the cost is per-round plan/compile overhead, not
    // recompute (and the r4 1.12 s predates the r5 fixture regeneration,
    // so it is not a comparable baseline). This shape is kept because it
    // has the fewest jobs (one per round) and exactly two ex passes per
    // round at any scale; the unrolled-CTE oracle replays it unchanged.
    var v: Array[Double] = Array.fill(64)(0.125) // 1/sqrt(64), exact
    for (_ <- 1 to 3) {
      val vArr = array(v.map(lit(_)): _*)
      val w = ex
        .withColumn("t_fp", round(col("e") * element_at(vArr, col("j") + 1) * lit(1e9)).cast("long"))
        .groupBy("vec_id")
        .agg(sum("t_fp").as("s_fp"))
        .select(col("vec_id"), (col("s_fp").cast("double") / lit(1e9)).as("s"))
        .join(ex, "vec_id")
        .groupBy("j")
        .agg(sum(round(col("e") * col("s") * lit(1e9)).cast("long")).as("w_fp"))
        .collect()
        .map(r => r.getInt(0) -> r.getLong(1))
        .toMap
      val wd = Array.tabulate(64)(j => w(j).toDouble / 1e9 / n)
      val nsqFp = wd.map(x => math.round(x * x * 1e9)).sum // terms ≥ 0
      val norm = math.sqrt(nsqFp.toDouble / 1e9)
      v = wd.map(x =>
        BigDecimal.decimal(x / norm).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val spark2 = spark
    import spark2.implicits._
    v.zipWithIndex.map { case (l, j) => (j, l) }.toSeq.toDF("j", "loading").orderBy("j")
  }

  // ----------------------------------------------------------- registry

  /** Shared CTE: exact fixed-point pairwise cosine within a label, the
    * oracle twin of the ScaledDot discipline (see q_dedup_embed).
    */
  private val PAIR_COS =
    """pr AS (
      | SELECT a.label, a.vec_id AS u, b.vec_id AS v, a.embedding AS e1, b.embedding AS e2
      | FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id),
      |un AS (SELECT label, u, v, unnest(e1) AS x, unnest(e2) AS y FROM pr),
      |s AS (
      | SELECT label, u, v,
      |  CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS DOUBLE) / 1e12 AS dot,
      |  CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12, 0) AS BIGINT)) AS DOUBLE) / 1e12 AS n1,
      |  CAST(sum(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS DOUBLE) / 1e12 AS n2
      | FROM un GROUP BY label, u, v)""".stripMargin

  val all: Seq[(String, Q)] = Seq(
    "q_market_basket" -> Q(
      qMarketBasket,
      Some("""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |pc AS (SELECT p, count(1) AS cnt FROM it GROUP BY p),
             |no AS (SELECT count(DISTINCT o) AS n_orders FROM it),
             |pairs AS (
             | SELECT a.p AS p1, b.p AS p2, count(1) AS support
             | FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
             | GROUP BY 1, 2)
             |SELECT p1, p2, support,
             | round((CAST(support AS DOUBLE) * CAST(n_orders AS DOUBLE)) /
             |       (CAST(c1.cnt AS DOUBLE) * CAST(c2.cnt AS DOUBLE)), 6) AS lift
             |FROM pairs, no
             |JOIN pc c1 ON p1 = c1.p JOIN pc c2 ON p2 = c2.p
             |WHERE support >= 3
             |ORDER BY p1, p2""".stripMargin)),
    "q_tpch_q1" -> Q(
      qTpchQ1,
      Some("""WITH l AS (
             | SELECT l_returnflag, l_linestatus,
             |  CAST(round(l_quantity * 100, 0) AS BIGINT) AS qty_c,
             |  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS ep_c,
             |  CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT) AS disc_c,
             |  CAST(round(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100, 0) AS BIGINT) AS charge_c,
             |  CAST(round(l_discount * 1e6, 0) AS BIGINT) AS disc_fp
             | FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-12-01')
             |SELECT l_returnflag, l_linestatus,
             | CAST(sum(qty_c) AS DOUBLE) / 100.0 AS sum_qty,
             | CAST(sum(ep_c) AS DOUBLE) / 100.0 AS sum_base_price,
             | CAST(sum(disc_c) AS DOUBLE) / 100.0 AS sum_disc_price,
             | CAST(sum(charge_c) AS DOUBLE) / 100.0 AS sum_charge,
             | round(CAST(sum(qty_c) AS DOUBLE) / 100.0 / count(1), 6) AS avg_qty,
             | round(CAST(sum(ep_c) AS DOUBLE) / 100.0 / count(1), 6) AS avg_price,
             | round(CAST(sum(disc_fp) AS DOUBLE) / 1e6 / count(1), 6) AS avg_disc,
             | count(1) AS count_order
             |FROM l GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    "q_tpch_q3" -> Q(
      qTpchQ3,
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
             | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             | AND o_orderdate < TIMESTAMP '1998-03-15'
             | AND l_shipdate > TIMESTAMP '1998-03-15'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
             |LIMIT 10""".stripMargin)),
    "q_tpch_q5" -> Q(
      qTpchQ5,
      Some("""SELECT n_name,
             | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
             | AND o_orderdate >= TIMESTAMP '1996-01-01'
             | AND o_orderdate < TIMESTAMP '1997-01-01'
             |GROUP BY n_name
             |ORDER BY revenue DESC, n_name ASC""".stripMargin)),
    "q_embed_outlier" -> Q(
      qEmbedOutlier,
      Some("""WITH un0 AS (
             | SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
             | FROM embeddings),
             |cent AS (
             | SELECT label, pos,
             |  CAST(CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1e6, 0) AS BIGINT)) AS DOUBLE) / 1e6 / count(1) AS FLOAT) AS c
             | FROM un0 GROUP BY label, pos),
             |ux AS (
             | SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS x
             | FROM embeddings),
             |p AS (
             | SELECT vec_id, ux.label,
             |  CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(c AS DOUBLE) * 1e12, 0) AS BIGINT)) AS DOUBLE) / 1e12 AS dotc,
             |  CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12, 0) AS BIGINT)) AS DOUBLE) / 1e12 AS nx,
             |  CAST(sum(CAST(round(CAST(c AS DOUBLE) * CAST(c AS DOUBLE) * 1e12, 0) AS BIGINT)) AS DOUBLE) / 1e12 AS nc
             | FROM ux JOIN cent ON ux.label = cent.label AND ux.pos = cent.pos
             | GROUP BY vec_id, ux.label)
             |SELECT vec_id, label, round(dotc / (sqrt(nx) * sqrt(nc)), 6) AS centroid_cos
             |FROM p ORDER BY centroid_cos ASC, vec_id ASC LIMIT 20""".stripMargin)),
    "q_agg_linreg" -> Q(
      qAggLinreg,
      Some {
        val g = CorpusOps.corrMatrixGrains
        import CorpusOps.fsumSql
        s"""WITH s AS (
           | SELECT l_returnflag,
           |  count(1) AS n,
           |  ${fsumSql("l_quantity", g("q"), "sx")},
           |  ${fsumSql("l_extendedprice", g("p"), "sy")},
           |  ${fsumSql("l_quantity * l_extendedprice", g("qp"), "sxy")},
           |  ${fsumSql("l_quantity * l_quantity", g("qq"), "sxx")},
           |  ${fsumSql("l_extendedprice * l_extendedprice", g("pp"), "syy")}
           | FROM lineitem GROUP BY 1)
           |SELECT l_returnflag, n,
           | round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope,
           | round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 9) AS intercept,
           | round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
           |       ((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) AS r2
           |FROM s ORDER BY l_returnflag""".stripMargin
      }),
    // the ⌊(x+1)/2⌋ dyadic halving is identical on both sides (floorDiv
    // vs floor((x+1)/2.0) — exact below 2^53), so the sequential state
    // replays bit-for-bit through the recursive CTE
    "q_time_m4" -> Q(
      qTimeM4,
      Some(s"""WITH e AS (
              | SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id, value
              | FROM ${LlmOps.EV} WHERE value IS NOT NULL),
              |r AS (
              | SELECT *,
              |  row_number() OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS rf,
              |  row_number() OVER (PARTITION BY event_type, day ORDER BY ts DESC, event_id DESC) AS rl
              | FROM e)
              |SELECT event_type, day, count(1) AS n_points,
              | max(CASE WHEN rf = 1 THEN value END) AS v_first,
              | max(CASE WHEN rl = 1 THEN value END) AS v_last,
              | min(value) AS v_min, max(value) AS v_max
              |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    "q_time_lttb" -> Q(
      qTimeLttb,
      Some {
        val K = 8 // middle buckets; first/last pinned
        val steps = (1 to K)
          .map { i =>
            val cm =
              if (i < K)
                s"""cm$i AS MATERIALIZED (
                   | SELECT p.event_type, sum(p.rn) AS cx, sum(p.y) AS cy, count(1) AS m
                   | FROM pts p JOIN cnt ON p.event_type = cnt.event_type
                   | WHERE cnt.n > 10 AND p.rn >= 1 + $i * (cnt.n - 2) // 8
                   |   AND p.rn < 1 + ${i + 1} * (cnt.n - 2) // 8
                   | GROUP BY 1)""".stripMargin
              else
                s"""cm$i AS MATERIALIZED (
                   | SELECT p.event_type, CAST(p.rn AS BIGINT) AS cx, p.y AS cy,
                   |  CAST(1 AS BIGINT) AS m
                   | FROM pts p JOIN cnt ON p.event_type = cnt.event_type
                   | WHERE cnt.n > 10 AND p.rn = cnt.n - 1)""".stripMargin
            val sel =
              s"""s$i AS MATERIALIZED (
                 | SELECT event_type, rn, day, y FROM (
                 |  SELECT p.event_type, p.rn, p.day, p.y,
                 |   row_number() OVER (PARTITION BY p.event_type ORDER BY
                 |    abs((s${i - 1}.rn * cm$i.m - cm$i.cx) * (p.y - s${i - 1}.y) -
                 |        (s${i - 1}.rn - p.rn) * (cm$i.cy - s${i - 1}.y * cm$i.m)) DESC,
                 |    p.rn ASC) AS rk
                 |  FROM pts p
                 |  JOIN cnt ON p.event_type = cnt.event_type
                 |  JOIN s${i - 1} ON p.event_type = s${i - 1}.event_type
                 |  JOIN cm$i ON p.event_type = cm$i.event_type
                 |  WHERE cnt.n > 10 AND p.rn >= 1 + ${i - 1} * (cnt.n - 2) // 8
                 |    AND p.rn < 1 + $i * (cnt.n - 2) // 8)
                 | WHERE rk = 1)""".stripMargin
            cm + ",\n" + sel
          }
          .mkString(",\n")
        val heads = (1 to K)
          .map(i => s"SELECT event_type, $i AS bucket, day, y FROM s$i")
          .mkString("\n UNION ALL ")
        s"""WITH d0 AS (
           | SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(1) AS BIGINT) AS y
           | FROM $EVT GROUP BY 1, 2),
           |pts AS MATERIALIZED (SELECT event_type, day, y,
           |  row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS rn FROM d0),
           |cnt AS MATERIALIZED (SELECT event_type, count(1) AS n FROM pts GROUP BY 1),
           |s0 AS (SELECT p.event_type, p.rn, p.day, p.y FROM pts p
           |       JOIN cnt ON p.event_type = cnt.event_type WHERE cnt.n > 10 AND p.rn = 0),
           |$steps,
           |big AS (
           | SELECT event_type, 0 AS bucket, day, y FROM s0
           | UNION ALL $heads
           | UNION ALL SELECT p.event_type, 9, p.day, p.y FROM pts p
           |   JOIN cnt ON p.event_type = cnt.event_type WHERE cnt.n > 10 AND p.rn = cnt.n - 1),
           |small AS (
           | SELECT p.event_type, p.rn AS bucket, p.day, p.y FROM pts p
           | JOIN cnt ON p.event_type = cnt.event_type WHERE cnt.n <= 10)
           |SELECT event_type, CAST(bucket AS INT) AS bucket, day, y FROM big
           |UNION ALL
           |SELECT event_type, CAST(bucket AS INT) AS bucket, day, y FROM small
           |ORDER BY event_type, bucket""".stripMargin
      }),
    "q_events_holt" -> Q(
      qEventsHolt,
      Some(s"""WITH RECURSIVE d0 AS (
              | SELECT event_type, CAST(ts AS DATE) AS day, count(1) * 1000000 AS y
              | FROM $EVT GROUP BY 1, 2),
              |d AS (SELECT event_type, y,
              |      row_number() OVER (PARTITION BY event_type ORDER BY day) AS r
              |      FROM d0),
              |rec(event_type, r, l, b) AS (
              | SELECT event_type, CAST(1 AS BIGINT), CAST(y AS BIGINT), CAST(0 AS BIGINT)
              | FROM d WHERE r = 1
              | UNION ALL
              | SELECT d.event_type, CAST(d.r AS BIGINT),
              |  CAST(floor((d.y + rec.l + rec.b + 1) / 2.0) AS BIGINT),
              |  CAST(floor((CAST(floor((d.y + rec.l + rec.b + 1) / 2.0) AS BIGINT)
              |              - rec.l + rec.b + 1) / 2.0) AS BIGINT)
              | FROM rec JOIN d ON d.event_type = rec.event_type AND d.r = rec.r + 1),
              |fin AS (SELECT event_type, max(r) AS n_days FROM rec GROUP BY 1)
              |SELECT rec.event_type, CAST(fin.n_days AS BIGINT) AS n_days,
              | CAST(l AS DOUBLE) / 1e6 AS level, CAST(b AS DOUBLE) / 1e6 AS trend,
              | CAST(l + b AS DOUBLE) / 1e6 AS fc1,
              | CAST(l + 2 * b AS DOUBLE) / 1e6 AS fc2,
              | CAST(l + 3 * b AS DOUBLE) / 1e6 AS fc3
              |FROM rec JOIN fin ON rec.event_type = fin.event_type AND rec.r = fin.n_days
              |ORDER BY rec.event_type""".stripMargin)),
    // deviations are n-scaled exact longs (the 1/n cancels in the
    // ratio), so both engines divide the SAME two integers; DuckDB's
    // HUGEINT sums are forced through BIGINT before the double cast to
    // avoid the int128→double double-rounding class (q_agg_stats ×10)
    "q_events_autocorr" -> Q(
      qEventsAutocorr,
      Some {
        val lagCols = (1 to 7).map(k => s"lag(d, $k) OVER wo AS d$k").mkString(", ")
        val numCols = (1 to 7)
          .map(k => s"CAST(sum(d * d$k) AS BIGINT) AS num$k")
          .mkString(", ")
        val unions = (1 to 7)
          .map(k => s"SELECT event_type, $k AS lag, n_days, den, num$k AS num FROM a")
          .mkString("\n UNION ALL ")
        s"""WITH daily AS (
           | SELECT event_type, CAST(ts AS DATE) AS day, count(1) AS y
           | FROM $EVT GROUP BY 1, 2),
           |dev AS (
           | SELECT event_type, day,
           |  y * (count(1) OVER wp) - (sum(y) OVER wp) AS d
           | FROM daily WINDOW wp AS (PARTITION BY event_type)),
           |lagged AS (
           | SELECT event_type, d, $lagCols
           | FROM dev WINDOW wo AS (PARTITION BY event_type ORDER BY day)),
           |a AS (
           | SELECT event_type, count(1) AS n_days,
           |  CAST(sum(d * d) AS BIGINT) AS den, $numCols
           | FROM lagged GROUP BY 1)
           |SELECT event_type, CAST(lag AS INT) AS lag, n_days,
           | CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS acf
           |FROM ($unions)
           |ORDER BY event_type, lag""".stripMargin
      }),
    // the argmax over exact n-scaled cumulative deviations is
    // tie-broken on day, so the pick is engine-deterministic
    "q_events_changepoint" -> Q(
      qEventsChangepoint,
      Some(s"""WITH daily AS (
              | SELECT event_type, CAST(ts AS DATE) AS day, count(1) AS y
              | FROM $EVT GROUP BY 1, 2),
              |cum AS (
              | SELECT event_type, day,
              |  count(1) OVER wp AS n, sum(y) OVER wp AS s,
              |  row_number() OVER wo AS t, sum(y) OVER wo AS cumy
              | FROM daily
              | WINDOW wp AS (PARTITION BY event_type),
              |        wo AS (PARTITION BY event_type ORDER BY day
              |               ROWS UNBOUNDED PRECEDING)),
              |c AS (
              | SELECT event_type, day, n, s, t, cumy,
              |  CAST(cumy * n - t * s AS BIGINT) AS c
              | FROM cum WHERE t < n),
              |pick AS (
              | SELECT *, row_number() OVER (PARTITION BY event_type
              |           ORDER BY abs(c) DESC, day ASC) AS rn
              | FROM c)
              |SELECT event_type, n AS n_days, day AS split_day,
              | CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS cusum,
              | CAST(cumy AS DOUBLE) / CAST(t AS DOUBLE) AS mean_before,
              | CAST(s - cumy AS DOUBLE) / CAST(n - t AS DOUBLE) AS mean_after
              |FROM pick WHERE rn = 1 ORDER BY event_type""".stripMargin)),
    // same dyadic recurrence as q_events_holt, truncated 3 days early;
    // the recursive CTE stops at n_train and the holdout rows join back
    "q_events_forecast_eval" -> Q(
      qEventsForecastEval,
      Some(s"""WITH RECURSIVE d0 AS (
              | SELECT event_type, CAST(ts AS DATE) AS day, count(1) * 1000000 AS y
              | FROM $EVT GROUP BY 1, 2),
              |d AS (SELECT event_type, y,
              |      row_number() OVER (PARTITION BY event_type ORDER BY day) AS r,
              |      count(1) OVER (PARTITION BY event_type) - 3 AS nt
              |      FROM d0),
              |rec(event_type, r, l, b) AS (
              | SELECT event_type, CAST(1 AS BIGINT), CAST(y AS BIGINT), CAST(0 AS BIGINT)
              | FROM d WHERE r = 1 AND nt > 1
              | UNION ALL
              | SELECT d.event_type, CAST(d.r AS BIGINT),
              |  CAST(floor((d.y + rec.l + rec.b + 1) / 2.0) AS BIGINT),
              |  CAST(floor((CAST(floor((d.y + rec.l + rec.b + 1) / 2.0) AS BIGINT)
              |              - rec.l + rec.b + 1) / 2.0) AS BIGINT)
              | FROM rec JOIN d ON d.event_type = rec.event_type AND d.r = rec.r + 1
              |                AND d.r <= d.nt),
              |fin AS (
              | SELECT rec.event_type, rec.l, rec.b, d.nt
              | FROM rec JOIN (SELECT DISTINCT event_type, nt FROM d) d
              |   ON d.event_type = rec.event_type AND rec.r = d.nt),
              |err AS (
              | SELECT fin.event_type, fin.nt,
              |  abs(fin.l + (d.r - fin.nt) * fin.b - d.y) AS ae
              | FROM fin JOIN d ON d.event_type = fin.event_type AND d.r > fin.nt)
              |SELECT event_type, CAST(nt AS BIGINT) AS n_train,
              | CAST(CAST(sum(ae) AS BIGINT) AS DOUBLE) / 3 / 1e6 AS mae,
              | CAST(max(ae) AS DOUBLE) / 1e6 AS max_abs_err
              |FROM err GROUP BY 1, 2 ORDER BY event_type""".stripMargin)),
    "q_events_ewma" -> Q(
      qEventsEwma,
      Some(s"""WITH v AS (
              | SELECT event_id, user_id, ts,
              |  CAST(round(value * 1e6, 0) AS BIGINT) AS vfp
              | FROM $EVT),
              |l AS (
              | SELECT event_id, user_id, vfp,
              |  lag(vfp, 1) OVER w AS l1, lag(vfp, 2) OVER w AS l2,
              |  lag(vfp, 3) OVER w AS l3, lag(vfp, 4) OVER w AS l4
              | FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
              |SELECT event_id, user_id,
              | round(CAST(vfp * 16 + coalesce(l1, 0) * 8 + coalesce(l2, 0) * 4 +
              |            coalesce(l3, 0) * 2 + coalesce(l4, 0) * 1 AS DOUBLE) /
              |       (16 + CASE WHEN l1 IS NOT NULL THEN 8 ELSE 0 END
              |           + CASE WHEN l2 IS NOT NULL THEN 4 ELSE 0 END
              |           + CASE WHEN l3 IS NOT NULL THEN 2 ELSE 0 END
              |           + CASE WHEN l4 IS NOT NULL THEN 1 ELSE 0 END) / 1e6, 6) AS ewma_value
              |FROM l ORDER BY event_id""".stripMargin)),
    "q_dq_drift" -> Q(
      qDqDrift,
      Some("""WITH b AS (
             | SELECT CAST(least(9, CAST(floor(o_totalprice / 50000) AS INT)) AS INT) AS bin,
             |  CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS is_base
             | FROM orders),
             |c AS (
             | SELECT bin, CAST(sum(is_base) AS BIGINT) AS n_base,
             |        CAST(sum(1 - is_base) AS BIGINT) AS n_cur
             | FROM b GROUP BY bin),
             |t AS (SELECT CAST(sum(n_base) AS BIGINT) AS t_base, CAST(sum(n_cur) AS BIGINT) AS t_cur FROM c),
             |s AS (
             | SELECT bin, n_base, n_cur,
             |  CAST(n_base + 1 AS DOUBLE) / CAST(t_base + 10 AS DOUBLE) AS p,
             |  CAST(n_cur + 1 AS DOUBLE) / CAST(t_cur + 10 AS DOUBLE) AS q
             | FROM c, t)
             |SELECT bin, n_base, n_cur,
             | round((p - q) * (CAST(round(ln(p / q) * 1e6, 0) AS BIGINT) / 1e6), 9) AS psi_term
             |FROM s ORDER BY bin""".stripMargin)),
    "q_privacy_ldiversity" -> Q(
      qPrivacyLdiversity,
      Some("""SELECT c_nationkey, c_mktsegment, count(1) AS class_size,
             | count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'nonneg' END) AS l_distinct
             |FROM customer GROUP BY c_nationkey, c_mktsegment
             |HAVING count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'nonneg' END) < 2
             |ORDER BY c_nationkey, c_mktsegment""".stripMargin)),
    // EMD via integer cross-multiplication (no per-class division, no
    // rounding grid): the one output division is an IEEE op on exact
    // longs, so the doubles hash-match at any scale by construction.
    "q_privacy_tcloseness" -> Q(
      qPrivacyTcloseness,
      Some("""WITH cust AS (
             | SELECT c_nationkey, c_mktsegment,
             |  least(greatest(CAST(floor((c_acctbal + 1000.0) / 1100.0) AS BIGINT), 0), 9) AS bucket
             | FROM customer),
             |cb AS (SELECT c_nationkey, c_mktsegment, bucket, count(1) AS n_cj
             |       FROM cust GROUP BY 1, 2, 3),
             |gb AS (SELECT bucket, CAST(sum(n_cj) AS BIGINT) AS g_j FROM cb GROUP BY 1),
             |tot AS (SELECT c_nationkey, c_mktsegment, CAST(sum(n_cj) AS BIGINT) AS n_c
             |        FROM cb GROUP BY 1, 2),
             |nn AS (SELECT CAST(sum(n_cj) AS BIGINT) AS n_total FROM cb),
             |dense AS (
             | SELECT t.c_nationkey, t.c_mktsegment, t.n_c, nn.n_total, b.bucket,
             |  coalesce(cb.n_cj, 0) * nn.n_total - coalesce(gb.g_j, 0) * t.n_c AS d_j
             | FROM tot t
             | CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bucket) b
             | LEFT JOIN cb ON cb.c_nationkey = t.c_nationkey
             |  AND cb.c_mktsegment = t.c_mktsegment AND cb.bucket = b.bucket
             | LEFT JOIN gb ON gb.bucket = b.bucket
             | CROSS JOIN nn),
             |cum AS (
             | SELECT c_nationkey, c_mktsegment, n_c, n_total, bucket,
             |  sum(d_j) OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY bucket
             |                 ROWS UNBOUNDED PRECEDING) AS cum_d
             | FROM dense)
             |SELECT c_nationkey, c_mktsegment, n_c AS class_size,
             | CAST(sum(abs(cum_d)) AS DOUBLE) / CAST(9 * n_c * n_total AS DOUBLE) AS t_closeness
             |FROM cum WHERE bucket < 9
             |GROUP BY c_nationkey, c_mktsegment, n_c, n_total
             |ORDER BY t_closeness DESC, c_nationkey, c_mktsegment LIMIT 20""".stripMargin)),
    "q_table_diff" -> Q(
      qTableDiff,
      Some("""WITH v1 AS (
             | SELECT o_orderkey AS k1, o_totalprice AS price1
             | FROM orders WHERE o_orderkey % 10 <> 3),
             |v2 AS (
             | SELECT o_orderkey AS k2,
             |  CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 1.5 ELSE o_totalprice END AS price2
             | FROM orders WHERE o_orderkey % 10 <> 7),
             |d AS (
             | SELECT coalesce(k1, k2) AS o_orderkey,
             |  CASE WHEN k1 IS NULL THEN 'added'
             |       WHEN k2 IS NULL THEN 'removed'
             |       WHEN price1 <> price2 THEN 'changed' ELSE 'same' END AS status,
             |  price1, price2
             | FROM v1 FULL JOIN v2 ON k1 = k2)
             |SELECT o_orderkey, status, price1, price2 FROM d
             |WHERE status <> 'same' ORDER BY o_orderkey""".stripMargin)),
    "q_graph_pagerank" -> Q(
      qGraphPagerank,
      Some(s"""WITH ord AS (
              | SELECT event_type,
              |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS to_type
              | FROM $EVT),
              |edges AS (
              | SELECT event_type AS src, to_type AS dst, count(1) AS w
              | FROM ord WHERE to_type IS NOT NULL GROUP BY 1, 2),
              |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY src),
              |frac AS (
              | SELECT e.src, e.dst, CAST(w AS DOUBLE) / CAST(ow AS DOUBLE) AS frac
              | FROM edges e JOIN outw USING (src)),
              |nodes AS (SELECT DISTINCT src AS node FROM edges),
              |nn AS (SELECT count(1) AS n FROM nodes),
              |p0 AS (SELECT node, 1.0 / CAST(n AS DOUBLE) AS p, n FROM nodes, nn),
              |p1 AS (
              | SELECT f.dst AS node,
              |  0.15 / CAST(any_value(p0.n) AS DOUBLE) +
              |  0.85 * (CAST(sum(CAST(round(p0.p * f.frac * 1e12, 0) AS BIGINT)) AS DOUBLE) / 1e12) AS p,
              |  any_value(p0.n) AS n
              | FROM frac f JOIN p0 ON f.src = p0.node GROUP BY f.dst),
              |p2 AS (
              | SELECT f.dst AS node,
              |  0.15 / CAST(any_value(p1.n) AS DOUBLE) +
              |  0.85 * (CAST(sum(CAST(round(p1.p * f.frac * 1e12, 0) AS BIGINT)) AS DOUBLE) / 1e12) AS p,
              |  any_value(p1.n) AS n
              | FROM frac f JOIN p1 ON f.src = p1.node GROUP BY f.dst),
              |p3 AS (
              | SELECT f.dst AS node,
              |  0.15 / CAST(any_value(p2.n) AS DOUBLE) +
              |  0.85 * (CAST(sum(CAST(round(p2.p * f.frac * 1e12, 0) AS BIGINT)) AS DOUBLE) / 1e12) AS p,
              |  any_value(p2.n) AS n
              | FROM frac f JOIN p2 ON f.src = p2.node GROUP BY f.dst)
              |SELECT node, round(p, 9) AS rank FROM p3 ORDER BY node""".stripMargin)),
    "q_time_decompose" -> Q(
      qTimeDecompose,
      Some(s"""WITH daily AS (
              | SELECT event_type, CAST(ts AS DATE) AS d, count(1) AS n FROM $EVT GROUP BY 1, 2),
              |span AS (SELECT event_type, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
              |grid AS (
              | SELECT event_type,
              |  CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
              |                              INTERVAL 1 DAY)) AS DATE) AS d
              | FROM span),
              |full0 AS (
              | SELECT g.event_type, g.d, CAST(coalesce(daily.n, 0) AS BIGINT) AS n
              | FROM grid g LEFT JOIN daily ON g.event_type = daily.event_type AND g.d = daily.d),
              |tr AS (
              | SELECT event_type, d, n,
              |  CAST(sum(n) OVER w AS DOUBLE) / CAST(count(1) OVER w AS DOUBLE) AS trend
              | FROM full0
              | WINDOW w AS (PARTITION BY event_type ORDER BY d
              |              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
              |seas AS (
              | SELECT event_type, CAST(dayofweek(d) AS INT) AS dow,
              |  CAST(sum(CAST(CAST(n AS DOUBLE) - trend AS DECIMAL(18,6))) AS DOUBLE)
              |   / count(1) AS seasonal
              | FROM tr GROUP BY 1, 2)
              |SELECT t.event_type, t.d, t.n, t.trend, s.seasonal,
              | CAST(t.n AS DOUBLE) - t.trend - s.seasonal AS residual
              |FROM tr t JOIN seas s ON t.event_type = s.event_type
              | AND CAST(dayofweek(t.d) AS INT) = s.dow
              |ORDER BY t.event_type, t.d""".stripMargin)),
    "q_events_seasonality" -> Q(
      qEventsSeasonality,
      Some(s"""WITH cd AS (
              | SELECT event_type, CAST(dayofweek(ts) AS INT) AS dow, count(1) AS obs
              | FROM $EVT GROUP BY 1, 2),
              |grid AS (
              | SELECT t.event_type, CAST(d.d AS INT) AS dow
              | FROM (SELECT DISTINCT event_type FROM cd) t,
              |  LATERAL (SELECT unnest(generate_series(0, 6)) AS d) d),
              |full0 AS (
              | SELECT grid.event_type, grid.dow, CAST(coalesce(obs, 0) AS BIGINT) AS obs
              | FROM grid LEFT JOIN cd ON grid.event_type = cd.event_type AND grid.dow = cd.dow),
              |tot AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS n FROM full0 GROUP BY 1),
              |terms AS (
              | SELECT f.event_type, t.n,
              |  CAST(round((CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) / 7.0) *
              |             (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) / 7.0) /
              |             (CAST(n AS DOUBLE) / 7.0) * 1e6, 0) AS BIGINT) AS term_fp
              | FROM full0 f JOIN tot t ON f.event_type = t.event_type),
              |agg AS (
              | SELECT event_type, any_value(n) AS n_events,
              |  CAST(sum(term_fp) AS DOUBLE) / 1e6 AS chi2
              | FROM terms GROUP BY event_type)
              |SELECT event_type, n_events, round(chi2, 6) AS chi2,
              | chi2 > 12.592 AS significant
              |FROM agg ORDER BY event_type""".stripMargin)),
    "q_dedup_near_eval" -> Q(
      qDedupNearEval,
      Some(s"""WITH ${LlmOps.MINHASH_CAND},
              |mh_dh AS (
              |${LlmOps.shingleHashList("mh_docs")}),
              |mh_ex AS (SELECT doc_id, unnest(hs) AS sh FROM mh_dh),
              |mh_sizes AS (SELECT doc_id, len(hs) AS n_sh FROM mh_dh),
              |truth AS (
              | SELECT d1, d2 FROM (
              |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(1) AS common
              |  FROM mh_ex a JOIN mh_ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2) p
              | JOIN mh_sizes s1 ON d1 = s1.doc_id
              | JOIN mh_sizes s2 ON d2 = s2.doc_id
              | WHERE CAST(common AS DOUBLE) / CAST(s1.n_sh + s2.n_sh - common AS DOUBLE) >= 0.5)
              |SELECT nc.n_candidates, nt.n_true, nh.n_hit,
              | round(CAST(nh.n_hit AS DOUBLE) / CAST(nc.n_candidates AS DOUBLE), 6) AS "precision",
              | round(CAST(nh.n_hit AS DOUBLE) / CAST(nt.n_true AS DOUBLE), 6) AS recall
              |FROM (SELECT count(1) AS n_candidates FROM mh_cand) nc,
              |     (SELECT count(1) AS n_true FROM truth) nt,
              |     (SELECT count(1) AS n_hit FROM (SELECT d1, d2 FROM mh_cand) c JOIN truth USING (d1, d2)) nh""".stripMargin),
      bench = false),
    "q_semdedup" -> Q(
      qSemDedup,
      Some(s"""WITH $PAIR_COS
              |SELECT v AS drop_id, min(u) AS keep_id, count(1) AS n_similar
              |FROM s WHERE dot / (sqrt(n1) * sqrt(n2)) >= 0.3
              |GROUP BY v ORDER BY drop_id""".stripMargin)),
    "q_source_vocab_overlap" -> Q(
      qSourceVocabOverlap,
      Some("""WITH st AS (
             | SELECT DISTINCT source, tok FROM (
             |  SELECT source, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
             |  FROM documents)),
             |sz AS (SELECT source, count(1) AS vocab FROM st GROUP BY source),
             |i AS (
             | SELECT x.source AS s1, y.source AS s2, count(1) AS n_common
             | FROM st x JOIN st y ON x.tok = y.tok AND x.source < y.source
             | GROUP BY 1, 2)
             |SELECT s1, s2, n_common,
             | round(CAST(n_common AS DOUBLE) / (va.vocab + vb.vocab - n_common), 6) AS jaccard
             |FROM i JOIN sz va ON s1 = va.source JOIN sz vb ON s2 = vb.source
             |ORDER BY jaccard DESC, s1, s2 LIMIT 30""".stripMargin)),
    "q_orders_pareto" -> Q(
      qOrdersPareto,
      Some("""WITH sp AS (
             | SELECT c_mktsegment, c_custkey,
             |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             | FROM orders JOIN customer ON o_custkey = c_custkey
             | GROUP BY 1, 2),
             |r AS (
             | SELECT c_mktsegment, cents,
             |  row_number() OVER w AS rank,
             |  CAST(sum(cents) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             |  CAST(sum(cents) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS total
             | FROM sp
             | WINDOW w AS (PARTITION BY c_mktsegment ORDER BY cents DESC, c_custkey))
             |SELECT c_mktsegment, count(1) AS n_customers,
             | CAST(min(CASE WHEN cum * 5 >= total * 4 THEN rank END) AS BIGINT) AS pareto_n,
             | round(CAST(min(CASE WHEN cum * 5 >= total * 4 THEN rank END) AS DOUBLE) / count(1), 6) AS pareto_frac
             |FROM r GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    "q_tpch_q18" -> Q(
      qTpchQ18,
      Some("""SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
             | CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
             |FROM customer, orders, lineitem
             |WHERE o_orderkey IN (
             |  SELECT l_orderkey FROM lineitem
             |  GROUP BY l_orderkey
             |  HAVING sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) > 25000)
             | AND c_custkey = o_custkey AND l_orderkey = o_orderkey
             |GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin)),
    "q_tpch_q10" -> Q(
      qTpchQ10,
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name, c_mktsegment,
             | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |JOIN nation ON c_nationkey = n_nationkey
             |WHERE o_orderdate >= TIMESTAMP '1996-10-01'
             | AND o_orderdate < TIMESTAMP '1997-01-01'
             | AND l_returnflag = 'R'
             |GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
             |ORDER BY revenue DESC, c_custkey ASC
             |LIMIT 20""".stripMargin)),
    "q_tpch_q7" -> Q(
      qTpchQ7,
      Some("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             | CAST(year(l_shipdate) AS INT) AS l_year,
             | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
             |FROM lineitem
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation sn ON s_nationkey = sn.n_nationkey
             |JOIN nation cn ON c_nationkey = cn.n_nationkey
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             | AND l_shipdate < TIMESTAMP '1998-01-01'
             | AND ((sn.n_name = 'NATION_10' AND cn.n_name = 'NATION_12') OR
             |      (sn.n_name = 'NATION_12' AND cn.n_name = 'NATION_10'))
             |GROUP BY 1, 2, 3
             |ORDER BY 1, 2, 3""".stripMargin)),
    "q_tpch_q4" -> Q(
      qTpchQ4,
      Some("""SELECT o_orderpriority, count(1) AS order_count
             |FROM orders o
             |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
             |  AND o_orderdate < TIMESTAMP '1996-10-01'
             |  AND EXISTS (SELECT 1 FROM lineitem l
             |              WHERE l.l_orderkey = o.o_orderkey
             |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q_tpch_q6" -> Q(
      qTpchQ6,
      Some("""SELECT
             | CAST(sum(CAST(round(l_extendedprice * l_discount * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
             | count(1) AS n_items
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             |  AND l_shipdate < TIMESTAMP '1998-01-01'
             |  AND CAST(round(l_discount * 100, 0) AS BIGINT) BETWEEN 5 AND 7
             |  AND l_quantity < 24.0""".stripMargin)),
    "q_tpch_q14" -> Q(
      qTpchQ14,
      Some("""WITH a AS (
             | SELECT
             |  sum(CASE WHEN p_type = 'PROMO'
             |      THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)
             |      ELSE 0 END) AS promo_c,
             |  sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS total_c
             | FROM lineitem JOIN part ON l_partkey = p_partkey
             | WHERE l_shipdate >= TIMESTAMP '1997-09-01'
             |   AND l_shipdate < TIMESTAMP '1997-10-01')
             |SELECT
             | round(100.0 * CAST(promo_c AS DOUBLE) / CAST(total_c AS DOUBLE), 6) AS promo_revenue_pct,
             | CAST(promo_c AS DOUBLE) / 100.0 AS promo_revenue,
             | CAST(total_c AS DOUBLE) / 100.0 AS total_revenue
             |FROM a""".stripMargin)),
    "q_tpch_q19" -> Q(
      qTpchQ19,
      Some("""SELECT
             | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
             | count(1) AS n_items
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
             |       AND l_quantity BETWEEN 1.0 AND 11.0)
             |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
             |       AND l_quantity BETWEEN 10.0 AND 20.0)
             |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
             |       AND l_quantity BETWEEN 20.0 AND 30.0)""".stripMargin)),
    "q_tpch_q8" -> Q(
      qTpchQ8,
      Some("""WITH base AS (
             | SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             |  CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT) AS rev_c,
             |  n2.n_name AS supp_nation
             | FROM lineitem
             | JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
             | JOIN orders ON l_orderkey = o_orderkey
             | JOIN customer ON o_custkey = c_custkey
             | JOIN nation n1 ON c_nationkey = n1.n_nationkey
             | JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
             | JOIN supplier ON l_suppkey = s_suppkey
             | JOIN nation n2 ON s_nationkey = n2.n_nationkey
             | WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             |   AND o_orderdate < TIMESTAMP '1998-01-01')
             |SELECT o_year,
             | round(CAST(sum(CASE WHEN supp_nation = 'NATION_8' THEN rev_c ELSE 0 END) AS DOUBLE) /
             |       CAST(sum(rev_c) AS DOUBLE), 6) AS mkt_share,
             | CAST(sum(CASE WHEN supp_nation = 'NATION_8' THEN rev_c ELSE 0 END) AS DOUBLE) / 100.0 AS nation_revenue,
             | CAST(sum(rev_c) AS DOUBLE) / 100.0 AS total_revenue
             |FROM base GROUP BY o_year ORDER BY o_year""".stripMargin)),
    "q_tpch_q16" -> Q(
      qTpchQ16,
      Some("""SELECT p_brand, p_type, p_size, count(1) AS supplier_cnt
             |FROM (
             | SELECT DISTINCT p_brand, p_type, p_size, l_suppkey
             | FROM lineitem
             | JOIN part ON l_partkey = p_partkey
             | WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
             |   AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
             |   AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0))
             |GROUP BY p_brand, p_type, p_size
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),
    "q_tpch_q21" -> Q(
      qTpchQ21,
      Some("""WITH per AS (
             | SELECT l_orderkey,
             |  count(DISTINCT l_suppkey) AS ns,
             |  count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
             |                      THEN l_suppkey END) AS nlate,
             |  min(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
             |           THEN l_suppkey END) AS culprit
             | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             | GROUP BY l_orderkey)
             |SELECT s_suppkey, s_name, count(1) AS numwait
             |FROM per JOIN supplier ON culprit = s_suppkey
             |WHERE ns >= 2 AND nlate = 1
             |GROUP BY s_suppkey, s_name
             |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)),
    "q_tpch_q12" -> Q(
      qTpchQ12,
      Some("""SELECT l_returnflag,
             | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |               THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             |  AND l_shipdate < TIMESTAMP '1998-01-01'
             |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
             |GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q_tpch_q13" -> Q(
      qTpchQ13,
      Some("""SELECT c_count, count(1) AS custdist
             |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
             |      FROM customer LEFT JOIN orders
             |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
             |      GROUP BY c_custkey)
             |GROUP BY c_count
             |ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    "q_tpch_q15" -> Q(
      qTpchQ15,
      Some("""WITH rev AS (
             | SELECT l_suppkey,
             |  sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS total_c
             | FROM lineitem
             | WHERE l_shipdate >= TIMESTAMP '1997-10-01'
             |   AND l_shipdate < TIMESTAMP '1998-01-01'
             | GROUP BY l_suppkey)
             |SELECT s_suppkey, s_name,
             | CAST(total_c AS DOUBLE) / 100.0 AS total_revenue
             |FROM rev JOIN supplier ON l_suppkey = s_suppkey
             |WHERE total_c = (SELECT max(total_c) FROM rev)
             |ORDER BY s_suppkey""".stripMargin)),
    "q_tpch_q17" -> Q(
      qTpchQ17,
      Some("""WITH bl AS (
             | SELECT l_partkey,
             |  CAST(round(l_quantity * 100, 0) AS BIGINT) AS qc,
             |  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS epc
             | FROM lineitem JOIN part ON l_partkey = p_partkey
             | WHERE p_brand = 'Brand#23'),
             |pp AS (
             | SELECT l_partkey AS pk, count(1) AS n, sum(qc) AS sum_qc
             | FROM bl GROUP BY 1)
             |SELECT
             | round(CAST(sum(epc) AS DOUBLE) / 100.0 / 7.0, 6) AS avg_yearly,
             | count(1) AS n_lines
             |FROM bl JOIN pp ON l_partkey = pk
             |WHERE 5 * qc * n < sum_qc""".stripMargin)),
    "q_tpch_q22" -> Q(
      qTpchQ22,
      Some("""WITH cust AS (
             | SELECT c_custkey, c_nationkey,
             |  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_c
             | FROM customer),
             |avgref AS (
             | SELECT CAST(sum(bal_c) AS BIGINT) AS s_pos, count(1) AS n_pos
             | FROM cust WHERE bal_c > 0)
             |SELECT c_nationkey, count(1) AS numcust,
             | CAST(CAST(sum(bal_c) AS BIGINT) AS DOUBLE) / 100.0 AS totacctbal
             |FROM cust, avgref
             |WHERE bal_c * n_pos > s_pos
             |  AND NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey
             |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
             |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),
    "q_events_attribution" -> Q(
      qEventsAttribution,
      Some(s"""WITH ev AS $EVT,
              |c AS (SELECT event_id AS click_id, user_id, ts AS click_ts FROM ev
              |      WHERE event_type = 'click'),
              |p AS (SELECT event_id AS p_id, user_id, ts AS p_ts, value FROM ev
              |      WHERE event_type = 'purchase'),
              |t AS (
              | SELECT click_id, c.user_id, click_ts, p_id, value,
              |  count(1) OVER (PARTITION BY p_id) AS n_touch,
              |  row_number() OVER (PARTITION BY p_id
              |                     ORDER BY click_ts DESC, click_id DESC) AS rn
              | FROM c JOIN p ON c.user_id = p.user_id
              | WHERE p_ts >= click_ts AND p_ts <= click_ts + INTERVAL 30 MINUTE)
              |SELECT click_id, user_id, count(DISTINCT p_id) AS n_purchases,
              | CAST(CAST(sum(CAST(round(value / n_touch * 1e6, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e6 AS linear_credit,
              | CAST(CAST(sum(CASE WHEN rn = 1 THEN CAST(round(value * 1e6, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS DOUBLE) / 1e6 AS last_credit
              |FROM t GROUP BY click_id, user_id ORDER BY click_id""".stripMargin)),
    "q_embed_pca" -> Q(
      qEmbedPca,
      Some("""WITH un AS (
             | SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS j,
             |  CAST(unnest(embedding) AS DOUBLE) AS e
             | FROM embeddings),
             |nn AS (SELECT count(1) AS n FROM embeddings),
             |v0 AS (SELECT CAST(unnest(generate_series(0, 63)) AS INT) AS j, 0.125 AS vj),
             |s1 AS (SELECT vec_id, CAST(sum(CAST(round(e * vj * 1e9, 0) AS BIGINT)) AS BIGINT) AS s_fp
             |       FROM un JOIN v0 USING (j) GROUP BY vec_id),
             |w1 AS (SELECT j, CAST(sum(CAST(round(e * (CAST(s_fp AS DOUBLE) / 1e9) * 1e9, 0) AS BIGINT)) AS BIGINT) AS w_fp
             |       FROM un JOIN s1 USING (vec_id) GROUP BY j),
             |w1d AS (SELECT j, CAST(w_fp AS DOUBLE) / 1e9 / n AS wd FROM w1, nn),
             |n1 AS (SELECT CAST(sum(CAST(round(wd * wd * 1e9, 0) AS BIGINT)) AS BIGINT) AS nsq FROM w1d),
             |v1 AS (SELECT j, round(wd / sqrt(CAST(nsq AS DOUBLE) / 1e9), 6) AS vj FROM w1d, n1),
             |s2 AS (SELECT vec_id, CAST(sum(CAST(round(e * vj * 1e9, 0) AS BIGINT)) AS BIGINT) AS s_fp
             |       FROM un JOIN v1 USING (j) GROUP BY vec_id),
             |w2 AS (SELECT j, CAST(sum(CAST(round(e * (CAST(s_fp AS DOUBLE) / 1e9) * 1e9, 0) AS BIGINT)) AS BIGINT) AS w_fp
             |       FROM un JOIN s2 USING (vec_id) GROUP BY j),
             |w2d AS (SELECT j, CAST(w_fp AS DOUBLE) / 1e9 / n AS wd FROM w2, nn),
             |n2 AS (SELECT CAST(sum(CAST(round(wd * wd * 1e9, 0) AS BIGINT)) AS BIGINT) AS nsq FROM w2d),
             |v2 AS (SELECT j, round(wd / sqrt(CAST(nsq AS DOUBLE) / 1e9), 6) AS vj FROM w2d, n2),
             |s3 AS (SELECT vec_id, CAST(sum(CAST(round(e * vj * 1e9, 0) AS BIGINT)) AS BIGINT) AS s_fp
             |       FROM un JOIN v2 USING (j) GROUP BY vec_id),
             |w3 AS (SELECT j, CAST(sum(CAST(round(e * (CAST(s_fp AS DOUBLE) / 1e9) * 1e9, 0) AS BIGINT)) AS BIGINT) AS w_fp
             |       FROM un JOIN s3 USING (vec_id) GROUP BY j),
             |w3d AS (SELECT j, CAST(w_fp AS DOUBLE) / 1e9 / n AS wd FROM w3, nn),
             |n3 AS (SELECT CAST(sum(CAST(round(wd * wd * 1e9, 0) AS BIGINT)) AS BIGINT) AS nsq FROM w3d),
             |v3 AS (SELECT j, round(wd / sqrt(CAST(nsq AS DOUBLE) / 1e9), 6) AS vj FROM w3d, n3)
             |SELECT j, vj AS loading FROM v3 ORDER BY j""".stripMargin)),
  )
}
