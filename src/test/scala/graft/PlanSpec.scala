package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions: the scale properties the engine claims
  * (pushdown, broadcast, map-side partial aggregation, top-k as
  * TakeOrdered, ANN as a bucket semi-join) must be visible in the plan
  * Catalyst actually produces, not just intended. A regression that turns
  * one of these into a scan-heavy or shuffle-heavy plan fails here long
  * before it shows up at 100 TB.
  */
class PlanSpec extends SparkSuite {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** EXECUTED plan text (AQE isFinalPlan=true): runs this plan instance,
    * then reads it — the Explain --final mechanic. r14 ask #8: pins whose
    * plan shape IS the operator's contract use this view, so a
    * pre-execution AQE snapshot (which can differ from what actually ran,
    * and never shows codegen spans) cannot mis-certify them. The cheap
    * structural pins keep the pre-execution `plan` — they assert node
    * choices AQE does not revisit.
    */
  private def finalPlan(df: DataFrame): String = {
    val p = df.queryExecution.executedPlan
    p.execute().count()
    // an executed AdaptiveSparkPlan prints "== Final Plan ==" AND the
    // "== Initial Plan ==" echo — keep only the plan that actually ran,
    // or node-count pins would double-count
    val s = p.toString
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  /** Walks adaptive plans into their query stages. */
  private object Stages extends AdaptiveSparkPlanHelper

  test("interpolate: both neighbor lookups are growing frames — no shrinking re-aggregation (r12)") {
    // the (1, unboundedFollowing) shrinking frame re-aggregates the
    // remaining rows for EVERY row (O(n²) per partition — measured 25 s
    // vs 1 s on the sf0.01 grid); the fix runs the "next" lookup over a
    // REVERSED sort as a growing frame. Pin that no window in the plan
    // uses an unboundedfollowing$ upper bound.
    val p = plan(graft.queries.CorpusOps.qEventsInterpolate(spark, sf001)).toLowerCase
    assert(!p.contains("unboundedfollowing$"), "shrinking window frame crept back in")
    assert(p.contains("unboundedpreceding$"), "expected the growing frames")
  }

  test("filter and projection push down into the parquet scan") {
    val p = plan(
      Tables
        .lineitem(spark, sf001)
        .where(col("l_quantity") > 45)
        .select("l_orderkey", "l_quantity"))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45"), p)
    // pruned read schema: only the two projected columns reach the scan
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:"), p)
  }

  test("flagship entry broadcasts the small dimension sides") {
    val p = plan(SparkEntry.entry(spark))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = plan(graft.queries.Relational.qTopk(spark, sf001))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("group-by aggregation is partial (map-side combine) before the shuffle") {
    val p = plan(graft.queries.Relational.qAggGroup(spark, sf001))
    assert(p.contains("partial_"), p) // partial_sum/partial_count... below the Exchange
  }

  test("binned range join plans an equi-join, not a nested loop") {
    val p = plan(graft.queries.Relational.qJoinRangeBinned(spark, sf001))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q_sim_ann is a signature semi-join bucket lookup, not a scan filter") {
    val p = plan(graft.queries.LlmOps.qSimAnn(spark, sf001))
    assert(p.contains("LeftSemi"), p)
    // the banded index + probes never route through a window or a
    // nested-loop: candidates come from an equality join on (band, key)
    assert(!p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") || p.contains("LeftSemi"), p)
  }

  test("IVF centroid assignment is one min_by aggregation, no window sort") {
    val p = plan(graft.queries.LlmOps.ivfAssignmentPlanProbe(spark, sf001))
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_min_by") || p.contains("min_by"), p)
  }

  test("text battery evaluates one text_profile struct per row, no HOFs") {
    val p = plan(graft.queries.LlmOps.qTextQuality(spark, sf001))
    // exactly one text_profile call (CollapseProject must NOT inline the
    // struct into each of the 4 consuming columns)
    assert("text_profile".r.findAllIn(p).size == 1, p)
    // the HOF shape this replaced would plan filter/transform lambdas
    assert(!p.contains("lambdafunction"), p)
  }

  test("shingle derivation is scan -> generate, with no window exchange") {
    // the uncapped twin pins the kernel derivation (the capped entries
    // materialize the shingle frame once as of r17, so their FINAL plan
    // reads an RDD scan — the kernel runs in the checkpoint job)
    val p = plan(graft.queries.LlmOps.qDedupNgram(spark, sf001))
    assert(p.contains("shingles3"), p)
    assert(!p.contains("Window"), p)
    val pc = plan(graft.queries.LlmOps.qDedupNgramCapped(spark, sf001))
    assert(!pc.contains("Window"), pc)
    // the capped entry's final plan must NOT re-derive shingles — the
    // materialized frame is the whole point of the r17 change
    assert(!pc.contains("shingles3"), pc)
  }

  test("repetition metrics aggregate partially before the shuffle") {
    val p = plan(graft.queries.LlmOps.qTextRepetition(spark, sf001))
    assert(p.contains("partial_"), p)
    assert(!p.contains("Window"), p)
  }

  test("decontamination shuffles shingles, not document bodies") {
    val p = plan(graft.queries.LlmOps.qDecontaminate(spark, sf001))
    // root-first plan text: everything above the first Exchange runs
    // post-shuffle and must reference shingle keys, never the text body
    val i = p.indexOf("Exchange")
    assert(i > 0, p)
    assert(!p.substring(0, i).contains("text#"), p)
  }

  test("exact dedup shuffles digests, not document bodies") {
    val p = plan(graft.queries.LlmOps.qDedupExact(spark, sf001))
    // the plan tree prints root-first, so the text ABOVE the first
    // Exchange is everything that runs after the shuffle: the document
    // body must not be referenced there (only the 32-byte digest is)
    val i = p.indexOf("Exchange")
    assert(i > 0, p)
    assert(!p.substring(0, i).contains("text#"), p)
  }

  test("centroid aggregates vectors partially before the shuffle; explode after") {
    val p = plan(graft.queries.CorpusOps.qEmbedCentroid(spark, sf001))
    // typed Aggregator → ObjectHashAggregate with a partial stage below
    // the exchange (K buffers shuffle, not N vectors), and the posexplode
    // Generate must sit ABOVE the aggregation (root-first: before it)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.indexOf("Generate") < p.indexOf("ObjectHashAggregate"), p)
  }

  test("sequence packing reuses the window partitioning for the group-by") {
    val p = plan(graft.queries.CorpusOps.qPackSequences(spark, sf001))
    // exactly one hash-partition exchange on (split, bucket): the window
    // shuffle; the (split, bucket, pack_id) aggregation is satisfied by
    // the same partitioning. The only other exchange is the final
    // order-by's range partitioning.
    val hashEx = "hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected 1 hash exchange, plan:\n$p")
  }

  test("fuzzy dedup evaluates the EditWithin kernel, not built-in levenshtein") {
    val p = plan(graft.queries.CorpusOps.qDedupFuzzy(spark, sf001))
    assert(p.contains("edit_within"), p)
    assert(!p.contains("levenshtein"), p)
  }

  test("bloom-join probes the fact scan before the join, dim broadcast") {
    val p = plan(graft.queries.CorpusOps.qJoinBloom(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), p)
    // the UDF bitset probe must be a Filter in the fact branch, i.e.
    // appear below the join (root-first: after it) and reference the
    // fact key
    val join = p.indexOf("BroadcastHashJoin")
    assert(p.indexOf("UDF", join) > join, p)
  }

  test("substring dedup shuffles window hashes, never window strings") {
    val p = plan(graft.queries.LlmOps.substringSpans(
      Tables.documents(spark, sf001), 10))
    // the kernel + xxhash64 run scan-side; every Exchange carries the
    // 8-byte hash (wh) or (doc_id, pos) — the window text column (w)
    // must not appear anywhere at or above the first shuffle
    val i = p.indexOf("Exchange")
    assert(i > 0, p)
    assert(p.contains("token_windows"), p)
    assert(p.contains("xxhash64"), p)
    assert(!p.substring(0, i).contains("w#"), p)
  }

  test("retention aggregates partially; no window pass anywhere") {
    val p = plan(graft.queries.CorpusOps.qEventsRetention(spark, sf001))
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
    assert(!p.contains("Window"), p)
  }

  test("z-order bounds come from one broadcast; the z-value is inline bit math") {
    val p = plan(graft.queries.CorpusOps.qLayoutZorder(spark, sf001))
    // the 1-row bounds side broadcasts (never a shuffle of the fact side)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // the interleave stays a builtin-expression Project (codegen-able),
    // not a UDF or an interpreted kernel call
    assert(p.contains("shiftleft"), p)
    assert(!p.contains("UDF"), p)
  }

  test("interval-overlap join is a bin-keyed equi-join, not a nested loop") {
    val p = plan(graft.queries.LlmOps.qJoinIntervalOverlap(spark, sf001))
    // the pair join must key on the bin (hash or merge); the only
    // permissible nested loop is the 1-row mean-threshold broadcast,
    // which must NOT carry the overlap predicate
    assert(
      p.contains("SortMergeJoin [bin") || p.contains("ShuffledHashJoin [bin") ||
        p.contains("BroadcastHashJoin [bin"),
      p)
    assert(
      p.linesIterator.filter(_.contains("NestedLoop")).forall(l => !l.contains("s_start")),
      p)
  }

  test("DQ expectation suite runs ONE scan per table, not one per rule") {
    val p = plan(graft.queries.CorpusOps.qDqExpectations(spark, sf001))
    // 8 rules over 2 tables must still plan exactly 2 file scans (all of
    // a table's expectations are conditional aggregates in a single pass)
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 2, s"expected 2 scans, got $scans:\n$p")
  }

  test("anomaly and A/B readout scan events exactly once") {
    // both had two-scan formulations (stats branch recomputing the
    // upstream); the window-moments / conditional-agg rewrites must keep
    // them single-pass
    for (
      df <- Seq(
        graft.queries.CorpusOps.qEventsAnomaly(spark, sf001),
        graft.queries.CorpusOps.qEventsAbtest(spark, sf001))
    ) {
      val p = plan(df)
      val scans = "FileScan parquet".r.findAllIn(p).length
      assert(scans == 1, s"expected 1 scan, got $scans:\n$p")
    }
  }

  test("count-min probe path is broadcast column arithmetic, no UDF") {
    val p = plan(graft.queries.CorpusOps.qAggCountMin(spark, sf001))
    // sketch build is the typed aggregator (partial + final object agg);
    // the per-token probe must stay in plain expressions against the
    // broadcast 1-row sketch
    assert(p.contains("BroadcastExchange"), p)
    val aggs = "ObjectHashAggregate".r.findAllIn(p).length
    assert(aggs == 2, s"expected partial+final sketch agg, got $aggs:\n$p")
    assert(
      !p.linesIterator.exists(l => l.contains("Project") && l.contains("UDF")),
      p)
  }

  test("feature scaling broadcasts the 5-row thresholds to the row scan") {
    val p = plan(graft.queries.CorpusOps.qFeatureScale(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p) // thresholds via agg, not a window sort
  }

  test("q_dedup_near carries no higher-order functions (est_sim is unrolled codegen)") {
    val p = plan(graft.queries.LlmOps.qDedupNear(spark, sf001))
    assert(!p.contains("zip_with"), p)
    assert(!p.contains("lambdafunction"), p)
  }

  test("market basket: pair agg is partial; lift joins are AQE-sized equi-joins") {
    // r8: the partCnt broadcast HINT is gone (|parts| rows would be a
    // driver OOM at TPC-H-100TB scale); AQE now sizes the lift joins at
    // runtime. Pin (a) the pair agg still map-side-combines, (b) the
    // lift joins stay equi-joins under an adaptive root (so the runtime
    // flip to broadcast is available), (c) the only nested loop is the
    // 1-row n_orders cross join.
    val df = graft.queries.MiningOps.qMarketBasket(spark, sf001)
    val p = plan(df)
    assert(p.contains("partial_count"), p)
    assert(p.contains("AdaptiveSparkPlan"), p)
    // execute, then read the final adaptive plan: at this scale AQE must
    // have picked broadcast for the shrunk pair side or tiny partCnt
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.contains("BroadcastHashJoin"), fin)
    assert(
      !fin.contains("BroadcastNestedLoopJoin") || fin.contains("n_orders"),
      fin)
  }

  test("adamic-adar: equi-joins only, top-20 is TakeOrdered") {
    val p = plan(graft.queries.SearchOps.qGraphAdamicAdar(spark, sf001))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t-closeness: global histogram broadcast, partial agg, bounded crosses only") {
    val p = plan(graft.queries.MiningOps.qPrivacyTcloseness(spark, sf001))
    // the (class, bucket) count table is checkpointed (one scan, §4
    // rule), so the visible plan starts there: the EMD aggregation still
    // map-side-combines, the top-20 is a TakeOrdered, and the 10-row
    // bucket frame / 1-row total are the only nested-loop sides — both
    // size-bounded broadcasts by construction
    assert(p.contains("partial_sum"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("streaming topk sketch partial-aggregates: only sketches cross the shuffle") {
    val p = plan(graft.queries.StreamingQueries.topkTokens(spark, sf001))
    // SpaceSaving is an ObjectHashAggregate with a map-side partial fold
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_spacesaving"), p)
  }

  test("benford: checkpointed 9-row counts join broadcast; no re-scan of orders") {
    val p = plan(graft.queries.QualityOps.qDqBenford(spark, sf001))
    // the digit-count table is checkpointed (orders scanned exactly once,
    // at materialization), so the visible plan is joins over ≤9-row
    // inputs with the count side broadcast — and NO parquet scan at all
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Scan parquet"), p)
  }

  test("holt: daily counts partial-aggregate before the bounded per-key recurrence") {
    val p = plan(graft.queries.MiningOps.qEventsHolt(spark, sf001))
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Window"), p) // the recurrence is typed state, not a window sort
  }

  test("TPC-H Q1 is one scan with pushed date filter and map-side combine") {
    val p = plan(graft.queries.MiningOps.qTpchQ1(spark, sf001))
    assert(p.contains("partial_sum"), p)
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"), p)
    // single lineitem scan
    assert("lineitem".r.findAllIn(p).size >= 1 && p.split("Scan parquet").length == 2, p)
  }

  test("TPC-H Q3 takes the top 10 via TakeOrdered, dims broadcast") {
    val p = plan(graft.queries.MiningOps.qTpchQ3(spark, sf001))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("TPC-H Q5 broadcasts the dim chain; orders date filter is pushed") {
    val p = plan(graft.queries.MiningOps.qTpchQ5(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("TPC-H Q6 is one scan, all predicates pushed, no join and no shuffle-heavy op") {
    val p = plan(graft.queries.MiningOps.qTpchQ6(spark, sf001))
    // all three scan-supported predicates reach the parquet reader (the
    // PushedFilters metadata string is elided at 100 chars, so the date
    // bound is asserted there and the quantity bound on the Filter node)
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("l_quantity") && p.contains("< 24.0)"), p)
    assert(p.split("Scan parquet").length == 2, p) // exactly one scan
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_sum"), p) // map-side combine before the 1-row exchange
  }

  test("TPC-H Q16: deny list rides a broadcast anti join; part predicates pushed") {
    val p = plan(graft.queries.MiningOps.qTpchQ16(spark, sf001))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    // the size IN-list survives as a scan-side filter (Filter node text;
    // the PushedFilters metadata string is elided at 100 chars)
    assert(p.contains("IN (1,5,10,15,20,25,30,35)"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("TPC-H Q21 decorrelates to one grouped aggregation — no per-row subquery join") {
    val p = plan(graft.queries.MiningOps.qTpchQ21(spark, sf001))
    assert(p.contains("TakeOrderedAndProject"), p)
    // one lineitem scan + one orders scan + one supplier scan — the EXISTS
    // pair must NOT re-scan the fact
    assert(p.split("Scan parquet").length == 4, p)
  }

  test("bucketed join: both scans come up pre-bucketed — no exchange on either join key") {
    // disable the broadcast path for the pin: at fixture scale AQE would
    // broadcast the tiny orders side, hiding exactly the property under
    // test (at real |orders| there is no broadcast escape hatch — the
    // bucketed layout is what removes the exchange)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val p = plan(graft.queries.Relational.qJoinBucketed(spark, sf001))
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("SelectedBucketsCount"), p) // bucketed scan metadata
      assert(!p.contains("Exchange hashpartitioning(l_orderkey"), p)
      assert(!p.contains("Exchange hashpartitioning(o_orderkey"), p)
    } finally spark.conf.set(key, prior)
  }

  test("embed outlier: centroids broadcast back; shortlist is TakeOrdered") {
    val p = plan(graft.queries.MiningOps.qEmbedOutlier(spark, sf001))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("scaled_dot"), p) // kernel, not HOF, scores rows
    assert(!p.toLowerCase.contains("aggregatefunction zip_with"), p)
  }

  test("semdedup joins on the cluster key with kernel cosines, no window") {
    val p = plan(graft.queries.MiningOps.qSemDedup(spark, sf001))
    assert(p.contains("scaled_dot"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("BM25 broadcasts df + corpus stats; top-20 is TakeOrdered") {
    val p = plan(graft.queries.SearchOps.qTextBm25(spark, sf001))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("triangle counting is equi-joins only — no nested loop anywhere") {
    val p = plan(graft.queries.SearchOps.qGraphTriangles(spark, sf001))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("BFS round is one equi-join + partial min agg — no nested loop") {
    // the EXACT per-round plan qGraphBfsHops loops over (bfsRound is the
    // shared builder): frontier ⋈ adjacency must stay a hash-partitionable
    // equi-join and the min-dist agg must combine map-side, at every hop
    val e = graft.queries.SearchOps.coPurchaseEdges(spark, sf001, materialize = false)
    val adj = e
      .select(col("u").as("a"), col("v").as("b"))
      .unionByName(e.select(col("v").as("a"), col("u").as("b")))
    val dist = e.agg(min(col("u")).as("id")).select(col("id"), lit(0).as("d"))
    val p = plan(graft.queries.SearchOps.bfsRound(dist, adj))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_min"), p) // map-side combine on the dist agg
  }

  test("k-core round: partial-agg degree count, semi equi-joins only") {
    val e = graft.queries.SearchOps.coPurchaseEdges(spark, sf001, materialize = false)
    val (_, induced) = graft.queries.SearchOps.kcoreRound(e, 3)
    val p = plan(induced)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), p) // survivor filtering is semi-join shaped
    assert(p.contains("partial_count"), p) // degree agg combines map-side
  }

  test("LPA round: one equi-join, fused vote/argmax partial aggs, no window") {
    val e = graft.queries.SearchOps.coPurchaseEdges(spark, sf001, materialize = false)
    val adj = e
      .select(col("u").as("a"), col("v").as("b"))
      .unionByName(e.select(col("v").as("a"), col("u").as("b")))
    val labels = adj.select(col("a").as("id")).distinct().select(col("id"), col("id").as("lab"))
    val p = plan(graft.queries.SearchOps.lpaRound(labels, adj))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p) // argmax is max(struct), not row_number
    assert(p.contains("partial_count"), p) // vote count combines map-side
    assert(p.contains("partial_max"), p) // argmax combines map-side
  }

  test("common neighbors wedge join is degree-oriented (skey/dkey), equi-joins only") {
    val p = plan(graft.queries.SearchOps.qGraphCommonNeighbors(spark, sf001))
    // the orientation rank keys must survive into the physical join
    // conditions — their absence would mean the unoriented symmetric
    // self-join (Σ deg² with no hub bound) is back
    assert(p.contains("skey"), p)
    assert(p.contains("dkey"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("prefix-scan callers are range-sliced with broadcast offsets") {
    // every plan a caller runs, the pinned slice frame's included: the
    // slices come from a range exchange on the full (group, order) key,
    // the offsets return through a broadcast join on the run id, and
    // every window runs over the per-run partials — a window over the
    // rows, partitioned by the group alone, would be the growing
    // per-group sort the operator exists to avoid
    val callers = Seq(
      "rangepartitioning(c_mktsegment ASC NULLS FIRST, cents DESC NULLS LAST, c_custkey ASC" ->
        (() => graft.queries.MiningOps.qOrdersPareto(spark, sf001)),
      "rangepartitioning(et ASC NULLS FIRST, v ASC" ->
        (() => graft.queries.QualityOps.rankMatrix(spark, sf001)),
      "rangepartitioning(nll ASC NULLS FIRST, doc_id ASC" ->
        (() => graft.queries.CorpusOps.qTextPplBuckets(spark, sf001)))
    val run = graft.operators.PrefixScan.Run
    // a window's input: the first node below it that is an aggregate or
    // has other than one child
    def input(p: SparkPlan): SparkPlan = p match {
      case a: BaseAggregateExec => a
      case s: QueryStageExec => input(s.plan)
      case _ if p.children.size == 1 => input(p.children.head)
      case _ => p
    }
    callers.foreach { case (rangeKey, build) =>
      // every action's plan, build-time checkpoints included, which the
      // DataFrame's own plan shows only as an RDD scan
      val plans = recordingActions(build().collect())._2.map(_._2.executedPlan)
      val text = plans.map(_.toString.replaceAll("#\\d+L?", "")).mkString("\n")
      assert(text.contains(rangeKey), text)
      assert(text.contains(s"BroadcastHashJoin [$run]"), text)
      val windows = plans.flatMap(p => Stages.collect(p) { case w: WindowExec => w })
      assert(windows.nonEmpty, text)
      windows.foreach { w =>
        val perRun = input(w.child) match {
          case a: BaseAggregateExec => a.groupingExpressions.exists(_.references.exists(_.name == run))
          case _ => false
        }
        assert(perRun, s"window over rows, not per-run partials:\n$w")
      }
    }
  }

  test("vocab pairs partial-aggregate before the shuffle; top-50 is TakeOrdered") {
    val p = plan(graft.queries.SearchOps.qVocabPairs(spark, sf001))
    assert(p.contains("partial_"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("compaction plan windows are partition-local (no single-partition window)") {
    val p = plan(graft.queries.QualityOps.qLayoutCompaction(spark, sf001))
    // the exchange FEEDING the window must hash-partition on source — a
    // global window (even one that merely sorts by source first) would
    // plan Exchange SinglePartition below the Window instead
    assert(p.contains("windowspecdefinition"), p)
    assert(p.contains("hashpartitioning(source"), p)
  }

  test("null-safe join is still a hash-partitionable equi-join") {
    val p = plan(graft.queries.Relational.qJoinNullsafe(spark, sf001))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("lateral top-N decorrelates to a rank join, not a per-row re-execution") {
    val p = plan(graft.queries.Relational.qJoinLateral(spark, sf001))
    assert(p.contains("Window") || p.contains("TakeOrdered"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("token chunking is scan -> generate, no shuffle anywhere (r10)") {
    val p = plan(graft.queries.LlmOps.qTextChunk(spark, sf001))
    // pure map-side 1:N explode: the ONLY exchange allowed is the final
    // presentation sort's range partitioning — no hash shuffle, no window
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("Generate"), p) // the posexplode over window starts
  }

  test("chi-squared: one cell-count shuffle; marginals/fold on the model frame (r10)") {
    val p = plan(graft.queries.QualityOps.qStatsChi2(spark, sf001))
    // corpus-scale work is the single (et, vb) partial agg; downstream
    // joins run on the checkpointed ≤30-row contingency frame
    assert(p.contains("partial_count") || p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    // exactly one events scan feeds the statistic: the checkpoint caps
    // lineage, so marginals/total/fold re-read the ≤30-row RDD, never
    // the parquet (a second FileScan would mean the corpus agg re-runs)
    assert("FileScan parquet".r.findAllIn(p).size <= 1, p)
  }

  test("PQ recall harness candidate stage: bounded-heap GroupTopK, no Sort, no Window (r11)") {
    // the r10 verdict's plan gap: the ascending-distance ADC top-50 fell
    // back to a WindowExec full sort of the (nQ×N) distance frame over
    // only nQ=5 partitions; it must now rank through the native heap
    // (ASC form) — no Window, and no Sort touching the adc distance
    // column (the only Sort left is LlmOps.assignCodes's group-local
    // SortAggregate for min_by over struct, which never sees the distance
    // frame)
    val p = finalPlan(graft.queries.LlmOps.pqAdcCandidates(spark, sf001))
    assert(p.contains("GroupTopK"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort [adc") && !p.contains("Sort [q_id"), p)
  }

  test("nearest as-of: both direction frames share ONE window pass — one exchange, one sort (r12)") {
    val p = finalPlan(graft.queries.Relational.qJoinAsofNearest(spark, sf001))
    // identical partitioning AND sort for the backward/forward frames ⇒
    // Catalyst must plan a single uid exchange and a single sort; a
    // second of either means the two windows stopped sharing their pass
    // (the final orderBy contributes the one range exchange + its sort)
    assert("\\bWindow \\[".r.findAllIn(p).size == 1, p)
    assert("\\bExchange ".r.findAllIn(p).size <= 2, p) // uid hash + final range
    assert("\\bSort \\[".r.findAllIn(p).size <= 2, p) // window sort + final orderBy
  }

  test("M4 downsampling is one HashAggregate pass — no SortAggregate, no Window (r12)") {
    // the paper's point: pixel-exact downsampling as a pure agg. A struct
    // ordering key for first/last would demote the whole agg to
    // SortAggregate (per-partition sort of the raw series); the decimal
    // key keeps it hash-aggregable, and min/max need no ordering at all
    val p = plan(graft.queries.MiningOps.qTimeM4(spark, sf001))
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_"), p)
  }

  test("Welch t-test: one per-type partial agg; the pair frame broadcasts (r12)") {
    val p = plan(graft.queries.QualityOps.qStatsWelchTtest(spark, sf001))
    // corpus pass = ONE events scan (the checkpointed model frame feeds
    // both sides of the pair self-join); no sort-merge machinery on the
    // ≤|types|-row frames
    assert("FileScan parquet".r.findAllIn(p).size == 0, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ANOVA: checkpointed cent-sum model frame feeds both folds — no rescan (r13)") {
    val p = plan(graft.queries.QualityOps.qStatsAnova(spark, sf001))
    // the r13 exact-integer reformulation folds the grand totals AND the
    // per-type deviation terms from the SAME checkpointed ≤|types|-row
    // frame: the returned plan must read the materialized RDD, never
    // parquet, and the 1-row totals frame must broadcast
    assert("FileScan parquet".r.findAllIn(p).size == 0, p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("freshness audit: conditional aggs partial-aggregate; hwm broadcasts (r10)") {
    val p = plan(graft.queries.QualityOps.qDqFreshness(spark, sf001))
    assert(p.contains("partial_"), p) // map-side combine on both aggs
    assert(p.contains("Broadcast"), p) // the 1-row high-water mark
    assert(!p.contains("Window"), p)
  }

  test("KM survival: churn frame checkpointed; corpus agg runs once (r11)") {
    val p = plan(graft.queries.CorpusOps.qEventsSurvival(spark, sf001))
    // the ≤|days| churn frame is localCheckpointed before `tot` and the
    // main chain both consume it, so the user-keyed corpus min/max agg
    // (and the events scan) execute ONCE — the returned plan reads the
    // materialized RDD, never the parquet
    assert("FileScan parquet".r.findAllIn(p).size == 0, p)
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("corr matrix sums are fixed-point longs, partial-aggregated — no decimal buffers") {
    val df = graft.queries.CorpusOps.qAggCorrMatrix(spark, sf001)
    val p = plan(df)
    // the r6 rewrite's point: the 15 power sums must aggregate as LONGs
    // (codegen long-add), not DECIMAL(18,6) buffers
    assert(!p.toLowerCase.contains("decimal"), p)
    assert(p.contains("partial_sum"), p) // map-side combine before the shuffle
    // one scan feeds all 15 sums: exactly one lineitem parquet scan node
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
  }
}
