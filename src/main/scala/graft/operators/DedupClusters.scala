package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected candidate-pair edge list —
  * the step that turns near-dup PAIRS into actionable dedup GROUPS
  * (keep one representative per component, drop the rest).
  *
  * Algorithm: min-label propagation. Every vertex starts labeled with
  * itself; each iteration every vertex takes the min of its own and its
  * neighbors' labels; fixpoint = components labeled by their minimum
  * vertex id. Pure DataFrame ops — per iteration one join (edge ⋈ label)
  * and one min-aggregate, both key-equality shuffles; iterations are
  * bounded by the component diameter (near-dup clusters are dense, so
  * typically 2-3). A [[Materialize]] pin truncates the lineage each round —
  * without it the plan doubles per iteration and the driver dies at
  * scale long before the executors do.
  *
  * The convergence signal is FUSED into the label-update aggregation:
  * each vertex's old label rides along as a marked row, so the same
  * `min` pass that produces the new label also produces a per-vertex
  * `chg` flag (new < old). r13 (verdict ask #2): the round's state is
  * LAZILY checkpoint-marked and the changed-vertex `count()` is the
  * round's ONE materializing action — the count scans every partition,
  * so it both finalizes the checkpoint (full materialization, no
  * partial-persist hazard a `take(1)` on a lazy mark would have) and
  * returns the convergence signal in the same job. One driver action
  * per round, down from two (eager checkpoint job + `take(1)` probe),
  * down from round 2's three (checkpoint + shuffle-join count, 37% of
  * the whole bench). Under a checkpoint dir the pin is eager and the
  * round is two actions ([[Materialize.lazily]] says why). The loop
  * also pays one final no-change round to observe the fixpoint —
  * inherent to synchronous label propagation.
  */
object DedupClusters {

  /** Test seam: called once per round with (round index, the round's
    * `msgs` edges ⋈ labels frame) BEFORE the label aggregation runs, so a
    * spec can assert on the loop's OWN per-round plan (e.g. the
    * exchange-free pin) instead of reconstructing the frames and hoping
    * the reconstruction tracks the loop. No-op by default; zero
    * production cost.
    */
  type RoundProbe = (Int, DataFrame) => Unit
  val noProbe: RoundProbe = (_, _) => ()

  /** Base round budget before the data-derived extension (see
    * `roundBudget` on [[clusters]]).
    */
  val BaseRounds = 20

  /** @param roundBudget explicit FINAL round budget (> 0), or ≤ 0 (the
    *               default) for the data-derived [[Fixpoint]] contract:
    *               a base of [[BaseRounds]] rounds with zero extra driver
    *               actions, extended once to the true bound —
    *               ⌈log₂ |V|⌉ + 3 under `pathDoubling` (distance doubles
    *               per round), |V| + 1 without (min-label propagation
    *               fixes within the diameter) — paying one |V| count only
    *               on that deep-graph path. Non-convergence within the
    *               budget THROWS: at 100 TB no oracle would catch a
    *               silently split component.
    */
  def clusters(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      roundBudget: Int = 0,
      pathDoubling: Boolean = false,
      roundProbe: RoundProbe = noProbe): DataFrame = {
    val edges = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
    // undirected: propagate both ways. One explode per input row — NOT
    // a union of two branches, which would execute the (possibly
    // expensive, uncached) upstream pairs plan twice; the checkpoint
    // then materializes the symmetric list once for the whole loop.
    // r12: for long-path graphs (the pathDoubling callers), repartition
    // by the JOIN key `a` before checkpointing. With AQE OFF the pin
    // keeps that partitioning and labels come off their own pin
    // hash-partitioned by id (alias-propagated through the rename), so
    // every round's edges ⋈ labels join plans with ZERO exchange on
    // either side (ClusterSpec pins this with AQE off). With AQE ON,
    // Spark's default and graft's session setting, the pin reports
    // UnknownPartitioning (it reads the AdaptiveSparkPlanExec's, see
    // [[Materialize]]): the repartition costs one shuffle of the edge
    // list, and a round join that does not broadcast still shuffles both
    // sides. Deliberately NOT applied to
    // the dense small-diameter dedup graphs: their per-round
    // frames are tiny and AQE's coalescing of the per-round exchange
    // beats 32 fixed near-empty tasks (measured: q_dedup_clusters
    // regressed ~25% pre-partitioned while q_graph_cc improved ~7%).
    val symBase = edges
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct()
    val sym = Materialize.eager(if (pathDoubling) symBase.repartition(col("a")) else symBase)
    var labels = Materialize.eager(
      sym
        .select(col("a").as("id"))
        .distinct()
        .withColumn("label", col("id")))
    // lazy budget extension: only a graph still propagating past the
    // base pays the one |V| count
    Fixpoint.run("DedupClusters", BaseRounds, roundBudget) {
      val n = labels.count()
      if (pathDoubling) Fixpoint.ceilLog2(n) + 3L else n + 1L
    } { i =>
      val msgs = sym
        .join(labels.withColumnRenamed("id", "a"), "a")
        .select(col("b").as("id"), col("label"), lit(false).as("own"))
      roundProbe(i, msgs)
      // pointer jumping (optional): label(v) := min(.., label(label(v))).
      // label(v) is always some node's id, so the self-join always hits;
      // the fixpoint is unchanged (labels only decrease, and every
      // adopted label is a reachable node's id) but the effective
      // propagation distance doubles per round — rounds drop from
      // O(diameter) to O(log diameter) at the cost of one extra
      // labels⋈labels shuffle per round. Off for the dedup entries
      // (near-dup clusters are dense, diameter 2-3: the extra join costs
      // more than it saves); on for long-path graphs (q_graph_cc — the
      // co-purchase graph has diameter-13 components, 13 rounds → 5).
      val jumped =
        if (!pathDoubling) Seq.empty[DataFrame]
        else
          Seq(
            labels
              .as("x")
              .join(labels.as("y"), col("x.label") === col("y.id"))
              .select(col("x.id").as("id"), col("y.label").as("label"), lit(false).as("own")))
      // one aggregation computes the new label AND whether it changed:
      // the vertex's own old label is the unique own=true row per id
      val next = Materialize.lazily( // marked; the count materializes it
        jumped
          .foldLeft(labels.withColumn("own", lit(true)).unionByName(msgs))(_ unionByName _)
          .groupBy("id")
          .agg(
            min(col("label")).as("label"),
            (min(col("label")) < max(when(col("own"), col("label")))).as("chg")))
      // superseded rounds' checkpoint blocks are reclaimed by the
      // ContextCleaner once the old `labels` reference is dropped (GC-
      // driven, not immediate); convergence is diameter-bounded (near-dup
      // graphs: a handful of rounds), so at most a few (id, label) copies
      // coexist — acceptable; an explicit unpersist would need the
      // checkpoint RDD handle Spark doesn't expose publicly.
      labels = next.select("id", "label")
      // the round's SINGLE action on the local path — the count's full
      // scan materializes every checkpoint partition AND yields the
      // convergence signal; reliable path: a cheap count over the
      // already-written checkpoint files
      next.where(col("chg")).count()
    }
    labels
  }

  /** Component summary: (cluster representative = min member id, size,
    * members sorted, comma-joined) — the shape a dedup job consumes (keep
    * `cluster`, drop the other members). `members` is a STRING, not an
    * array: scalar columns keep the output hashable by any downstream
    * comparator (and the DuckDB oracle twin is a plain `string_agg`).
    */
  def summarize(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    clusters(pairs, aCol, bCol)
      .groupBy(col("label").as("cluster"))
      .agg(
        count(lit(1)).as("n_members"),
        array_join(sort_array(collect_list(col("id"))).cast("array<string>"), ",")
          .as("members"))
      .orderBy("cluster")
}
