package graft

import graft.operators.DedupClusters
import org.apache.spark.sql.graftbridge.CheckpointDirs
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** DedupClusters (connected components via min-label propagation) pinned
  * against a plain Scala union-find on generated edge lists — chains
  * (forcing multiple propagation rounds), stars, cliques, and random
  * sparse graphs.
  */
class ClusterSpec extends SparkSuite {
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def check(edges: Seq[(Long, Long)]): Unit = {
    val expected = unionFind(edges)
    val got = DedupClusters
      .clusters(edges.toDF("d1", "d2"), "d1", "d2")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got == expected, s"edges $edges")
  }

  test("chains, stars, cliques, and singleton edges") {
    check(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))) // chain: several rounds
    check(Seq((10L, 11L), (10L, 12L), (10L, 13L))) // star
    check(Seq((20L, 21L), (20L, 22L), (21L, 22L))) // clique
    check(Seq((30L, 31L), (40L, 41L), (50L, 50L))) // disjoint + self-loop
    check(Seq((9L, 1L), (8L, 9L), (7L, 8L))) // min label enters last
  }

  test("random sparse graphs match union-find") {
    val edgeGen = Gen.listOfN(60, Gen.zip(Gen.choose(0L, 40L), Gen.choose(0L, 40L)))
    (51L to 53L).foreach { seed =>
      check(edgeGen.pureApply(Gen.Parameters.default, Seed(seed)))
    }
  }

  test("path doubling: same components as plain propagation, fewer rounds") {
    // chains are the worst case for plain propagation (rounds = diameter)
    // and the best case for pointer jumping (rounds ~ log2 diameter)
    val chains = Seq(
      (1L until 16L).map(i => (i, i + 1)),
      (9L to 1L by -1).map(i => (i + 1, i)), // min label enters last
      Seq((1L, 2L), (3L, 4L), (2L, 3L), (10L, 11L)))
    chains.foreach { edges =>
      val expected = unionFind(edges)
      val got = DedupClusters
        .clusters(edges.toDF("d1", "d2"), "d1", "d2", pathDoubling = true)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      assert(got == expected, s"edges $edges")
    }
    // a 16-node path (diameter 15) must converge within ~log2 rounds when
    // doubling — roundBudget = 6 would fail plain propagation
    val path = (1L until 16L).map(i => (i, i + 1)).toDF("d1", "d2")
    intercept[IllegalStateException] {
      DedupClusters.clusters(path, "d1", "d2", roundBudget = 6).collect()
    }
    val doubled = DedupClusters
      .clusters(path, "d1", "d2", roundBudget = 6, pathDoubling = true)
      .collect()
    assert(doubled.forall(_.getLong(1) == 1L))
  }

  /** [[recordingActions]] tallied by action name (`count`, `collect`, …). */
  private def countingActions[T](f: => T): (T, Map[String, Int]) = {
    val (out, actions) = recordingActions(f)
    (out, actions.groupBy(_._1).view.mapValues(_.size).toMap)
  }

  test("derived budget: a diameter past the 20-round base converges instead of aborting") {
    // 30-node path, diameter 29 > base 20, plain propagation: the
    // default (derived) budget extends once to |V| + 1 and converges
    // where a fixed 20-round budget would throw. The
    // extension fires once and pays exactly one extra action: the
    // driver runs rounds + 1 counts (one fused count per round plus the
    // one |V| count the extension pays).
    val path = (1L to 29L).map(i => (i, i + 1)).toDF("d1", "d2")
    var rounds = 0
    val (labels, byName) = countingActions {
      DedupClusters
        .clusters(path, "d1", "d2", roundProbe = (i, _) => rounds = i + 1)
        .collect()
    }
    assert(labels.length == 30 && labels.forall(_.getLong(1) == 1L))
    assert(rounds > DedupClusters.BaseRounds, s"extension never needed: $rounds rounds")
    assert(
      byName.getOrElse("count", 0) == rounds + 1,
      s"$byName over $rounds rounds — expected rounds + 1 count jobs (one extension)")
    // an EXPLICIT roundBudget stays a final contract and still throws
    intercept[IllegalStateException] {
      DedupClusters.clusters(path, "d1", "d2", roundBudget = 20).collect()
    }
  }

  test("a pinned roundBudget throws when a component's diameter exceeds it") {
    // a path graph 1-2-3-...-8 needs 7 rounds of plain propagation to
    // carry label 1 to vertex 8; roundBudget = 1 cannot converge
    val path = (1L until 8L).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[IllegalStateException] {
      DedupClusters.clusters(path, "d1", "d2", roundBudget = 1).collect()
    }
    assert(e.getMessage.contains("DedupClusters did not reach a fixed point in 1 rounds"))
  }

  test("reliable checkpointing runs the loop and matches union-find") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val got = CheckpointDirs.withCheckpointDir(spark.sparkContext) { dir =>
      val labels = DedupClusters
        .clusters(edges.toDF("d1", "d2"), "d1", "d2")
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      assert(org.apache.commons.io.FileUtils.listFiles(dir, null, true).size > 0, "no checkpoint written")
      labels
    }
    assert(got == unionFind(edges))
  }

  test("round join plans exchange-free: edge list pre-partitioned on the join key (r12)") {
    // observes the loop's OWN per-round msgs plan via the roundProbe test
    // seam (round-12 ADVICE: the first pin reconstructed the sym/labels
    // frames and could drift from the real loop): in pathDoubling mode
    // the per-round edges ⋈ labels join must plan with NO exchange on
    // either side — sym is checkpointed repartition(a), labels come off
    // their checkpoint hash-partitioned by id (the id → a rename
    // alias-propagates), and Dataset.localCheckpoint preserves
    // outputPartitioning through LogicalRDD. If this breaks, every
    // propagation round silently re-shuffles the 2|E| edge list.
    // AQE is off because the claim holds only there: a pin takes its
    // partitioning from the plan that fed it, and under AQE that plan is
    // an AdaptiveSparkPlanExec, which reports UnknownPartitioning; with
    // AQE on (the shipped session) the pinned edge list and labels lose
    // their hash partitioning and every round shuffles again.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // one 512-cycle (diameter 256): long-path enough that pathDoubling
      // is the configuration under test, small enough for fast rounds
      val edges = (0L until 512L).map(i => (i, (i + 1) % 512)).toDF("a", "b")
      var rounds = 0
      val labels = DedupClusters.clusters(
        edges,
        "a",
        "b",
        roundBudget = 40,
        pathDoubling = true,
        roundProbe = { (_, msgs) =>
          rounds += 1
          val exchanges =
            msgs.queryExecution.executedPlan.collect { case e: ShuffleExchangeLike => e }
          assert(exchanges.isEmpty, msgs.queryExecution.executedPlan.toString)
        })
      assert(rounds >= 2, s"probe must see every round, saw $rounds")
      // and the loop still computes the right components (one cycle)
      assert(labels.select(countDistinct(col("label"))).head().getLong(0) == 1L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("path doubling keeps each round's size estimate bounded") {
    // each round joins the pinned edge list with the pinned labels; the
    // seam caps both pins' estimates, so the round's estimate is at most
    // their product (≤ 126 bits plus the projection's scaling) instead
    // of squaring round after round
    val path = (0L until 1023L).map(i => (i, i + 1)).toDF("d1", "d2")
    val bits = scala.collection.mutable.ArrayBuffer.empty[Int]
    val labels = DedupClusters
      .clusters(
        path,
        "d1",
        "d2",
        pathDoubling = true,
        roundProbe = (_, msgs) => bits += msgs.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength)
      .collect()
    assert(labels.length == 1024 && labels.forall(_.getLong(1) == 0L))
    assert(bits.size >= 10, s"fixture too shallow: ${bits.size} rounds")
    assert(bits.forall(_ <= 130), s"msgs size estimate bit lengths per round: $bits")
  }

  test("summarize emits representative, size, and sorted members") {
    val df = DedupClusters
      .summarize(Seq((3L, 1L), (1L, 2L), (10L, 11L)).toDF("d1", "d2"), "d1", "d2")
    // members is a scalar STRING (comma-joined, sorted), not ARRAY — the
    // shape any downstream comparator can hash (see summarize scaladoc)
    assert(df.schema("members").dataType == org.apache.spark.sql.types.StringType)
    val rows = df.collect()
    assert(rows.length == 2)
    val first = rows(0)
    assert(first.getLong(0) == 1L && first.getLong(1) == 3L)
    assert(first.getString(2) == "1,2,3")
    val second = rows(1)
    assert(second.getLong(0) == 10L && second.getLong(1) == 2L)
    assert(second.getString(2) == "10,11")
  }

  test("one driver action per propagation round (r13 fused convergence pin)") {
    // regression pin for the r13 lazy-checkpoint + fused-count round: a
    // reintroduced eager-checkpoint-plus-probe round would double the
    // per-round Dataset actions and trip the budget below
    // path graph 1-…-8: diameter 7 → enough rounds that a 2×-per-round
    // regression clearly separates from the constant setup cost
    val pairs = (1L to 7L).map(i => (i, i + 1)).toDF("a", "b")
    var rounds = 0
    val (labels, byName) = countingActions {
      DedupClusters
        .clusters(pairs, "a", "b", roundProbe = (i, _) => rounds = i + 1)
        .collect()
    }
    assert(labels.forall(_.getLong(1) == 1L)) // one component, min label
    assert(rounds >= 5, s"fixture too shallow: $rounds rounds")
    // the round's ONE materializing job is the fused `count`; the lazy
    // checkpoint marks also emit (job-less) listener events under their
    // own funcName and are deliberately not budgeted here
    assert(
      byName.getOrElse("count", 0) == rounds,
      s"$byName over $rounds rounds — expected exactly one count job per round")
    // the retired per-round probe shapes must not reappear
    assert(!byName.contains("isEmpty") && !byName.contains("take"), byName.toString)
  }
}
