package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale probe (round-6 verdict ask #3): inflate the sf0.1
  * fixtures N× into a scratch directory — a union of re-keyed copies,
  * computed engine-side; the read-only fixtures are never touched — and
  * time the most expensive benched queries against the inflated data,
  * next to a same-JVM baseline run at 1×. The artifact (SCALEPROBE.json)
  * records both, so nonlinear movement is visible as
  * `scaled_sec / (base_sec · factor)` ≫ 1 (values well BELOW 1 are
  * expected: at sf0.1 most queries underutilize 32 cores, so added rows
  * first fill idle parallelism).
  *
  * Re-keying: per copy i, fact-table primary/fact-join keys shift by
  * i·10⁹ (orderkey pairs stay joined, users stay coherent, doc/vec ids
  * stay unique); dimension tables and dimension FOREIGN keys are left
  * alone — at 100 TB facts grow and dims don't, so each dim row fans out
  * to factor× facts, which is exactly the density/skew stress the plans
  * must survive (co-purchase edge support multiplies, dedup text groups
  * carry factor× identical members, per-customer order counts multiply).
  *
  * Usage: ScaleProbe <srcSfDir> <workDir> <factor> [--organic] [query...]
  * (`--organic` switches to the organic-growth synthesis documented at
  * [[organicKeys]]; default is the re-keyed duplication mode.)
  * Env: SPARK_GRAFT_SCALEPROBE_OUT (JSON out path); cores as in
  * [[Sessions.cpus]].
  */
object ScaleProbe {

  private val Off = 1000000000L

  /** Fact keys to shift per copy; tables absent from this map (dims) are
    * copied once, unshifted.
    */
  private val factKeys: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val dims = Seq("customer", "supplier", "part", "nation", "region")

  /** ORGANIC growth mode (round-7 verdict ask #2): the duplication mode
    * above re-keys facts only, so every dim key fans out factor× and
    * every doc body repeats factor× — deliberate density/skew stress,
    * but it also densifies THRESHOLDED structure by construction
    * (co-purchase support multiplies → the graph gains edges
    * quadratically; identical doc copies multiply near-dup candidate
    * pairs), which conflates "the plan is superlinear" with "the data
    * got denser". Organic mode instead grows the world the way a real
    * corpus grows — NEW keys, NEW text, dims scaled too: every copy
    * shifts ALL entity keys (facts AND dims, so each copy joins its own
    * dim rows and per-key densities stay constant), rewrites document
    * tokens onto a per-copy vocabulary (`tok` → `tok_i`: genuinely new
    * content — zipf shape preserved per copy, zero cross-copy shingle
    * collisions), and rotates embedding vectors per copy (norms and
    * within-copy geometry preserved, cross-copy cosines decorrelated).
    * nation/region stay 1× — real growth doesn't add nations.
    */
  private val organicKeys: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** The probe set: the bench's most expensive plans plus the families
    * the round-6 verdict names as prime suspects for nonlinear movement
    * (iterative dedup-cluster checkpointing, graph wedge joins under
    * densified co-purchase support, shingle/MinHash shuffles over a
    * factor×-duplicated corpus, sessionization over factor× users).
    */
  private val DefaultQueries = Seq(
    "q_dedup_clusters",
    // r8: the probe measures the CAPPED production path — the uncapped
    // entry stays in the registry as the oracle anchor, but its in×in
    // wedge arm is Σ in-deg² by construction and the ×20 duplication
    // probe densifies co-purchase degrees far past useful (123.7 s /
    // ratio 2.40 measured in r7, the probe's only superlinear row).
    // q_graph_common_neighbors_capped is the same trichotomy with hub
    // centers (deg > 32) pruned pre-shuffle; pristine answers identical
    // (SearchOpsSpec pin).
    "q_graph_common_neighbors_capped",
    "q_graph_triangles",
    "q_market_basket",
    "q_embed_pca",
    "q_dedup_near",
    "q_dedup_near_capped",
    "q_dedup_ngram_capped",
    "q_dedup_exact",
    "q_events_sessionize",
    "q_tpch_q5",
    "q_tpch_q18",
    "q_text_tfidf",
    // r7 continuation: the new token-stream-heavy curation tier — BPE's
    // word-count agg + vocab-frame rounds, DSIR's two-pass scoring, the
    // ppl-bucket global ntile, and the upsampling explode all see
    // factor× token streams (documents are re-keyed copies, so the word
    // frequency table keeps its SIZE while counts multiply — the
    // model-table-stays-small regime these ops claim)
    "q_bpe_merges",
    "q_curation_dsir",
    "q_text_ppl_buckets",
    "q_mix_epochs",
    // r8 (verdict ask #6): the ANN BUILD tier gets a timing signal —
    // these two are bench=false (driver-coordinated Lloyd/codebook
    // iterations make min-of-2 JIT-noisy for the band gate), but index
    // construction cost at 1× vs ×N is exactly what a 100 TB embedding
    // corpus needs measured: the model state is bounded (K=16 centroids,
    // 8×16 codewords), so build time should scale with the assignment
    // scans, i.e. sublinearly here.
    "q_sim_ann_ivf",
    "q_sim_ann_pq",
    // r9 (verdict asks #2/#5): the round-8 additions get probe rows.
    // The two graph loops are per-round equi-join + fused agg + eager
    // checkpoint (the DedupClusters shape that measured 0.06-0.13);
    // the time-series family runs sequential per-key recurrences via
    // flatMapGroups over CALENDAR-bounded groups — correct at any
    // volume only while the (type, day) agg dominates, which is
    // exactly what the ratio should confirm (factor× rows, SAME day
    // grid ⇒ group sizes constant).
    "q_graph_bfs_hops",
    "q_graph_kcore",
    "q_events_autocorr",
    "q_events_changepoint",
    "q_events_forecast_eval",
    "q_events_holt",
    // r9 additions: the new iterative tier (synchronous LPA rounds,
    // unbounded strict-convergence BFS, radix-selection median — all
    // per-round equi-join/agg + bounded driver state), the two new
    // TPC-H multi-join shapes, and the three moderate fan-out analytics
    // entries (pairwise contingency MI, brute-force-vs-LSH recall eval
    // over a broadcast query panel, stratified A-ES top-k).
    "q_graph_label_prop",
    "q_graph_bfs_full",
    "q_agg_median_radix",
    "q_tpch_q7",
    "q_tpch_q10",
    "q_stats_mutual_info",
    "q_ann_recall",
    "q_sample_weighted",
    // r10 (verdict ask #2): every round-9 entry gets a probe row — the
    // remaining seven are single-shuffle/top-k shapes expected ≤ linear
    // (here for the EVIDENCE, not suspicion) — plus the three r10
    // additions: the incremental band-index probe (candidate volume is
    // the thing to watch under duplication growth), the two-leg RRF
    // fusion (both legs TakeOrdered), and the map-side 1-bit quantizer.
    "q_tpch_q4",
    "s_stream_funnel",
    "q_privacy_dp_count",
    "q_time_lttb",
    "q_dq_completeness",
    "q_dq_referential",
    "q_graph_degree_dist",
    "q_dedup_near_incremental",
    "q_search_hybrid_rrf",
    "q_embed_quantize_binary",
    // r10 widening: BPE merge APPLICATION (word-table regime like
    // q_bpe_merges — counts multiply, vocab stays put), the prefix-dim
    // retrieval eval (two broadcast-query scans), the online anomaly
    // detector (per-type sequential recurrence — factor× group sizes,
    // the flatMapGroups shape whose ratio must stay ~linear), and the
    // three new TPC-H shapes (pushdown scan-agg, conditional-agg join
    // ratio, disjunctive-predicate join).
    "q_bpe_encode",
    "q_embed_matryoshka",
    "s_stream_anomaly",
    "q_tpch_q6",
    "q_tpch_q14",
    "q_tpch_q19",
    // r10 TPC-H breadth batch 2: late-line conditional agg (q12), the
    // outer-join double aggregation (q13), argmax-over-aggregate (q15),
    // decorrelated per-part average (q17), scalar-avg + anti join (q22).
    "q_tpch_q12",
    "q_tpch_q13",
    "q_tpch_q15",
    "q_tpch_q17",
    "q_tpch_q22",
    // r10 LLM-pipeline batch 2: the leakage matrix (capped-band regime
    // like q_dedup_near_capped), the per-lang fertility readout (map-side
    // kernel + tiny agg), and the decimal-summed per-dim whitening pass.
    "q_dedup_cross_source",
    "q_tokenizer_fertility",
    "q_embed_whitening",
    // r10 TPC-H breadth batch 3: the conditional-share star join (q8),
    // the distinct-reduction + anti join (q16), and the decorrelated
    // only-late-supplier aggregation (q21 — multi-distinct per order).
    "q_tpch_q8",
    "q_tpch_q16",
    "q_tpch_q21",
    // r10: the bucketed-layout join — probes the write+join path (the
    // write is the dominant, linear cost; the join itself is
    // exchange-free by construction).
    "q_join_bucketed",
    // r10 batch 3: the chi-squared contingency fold (one cell-count agg,
    // everything else on the ≤30-row model frame), the KM survival curve
    // (one user-keyed min/max agg + day-grid windows — factor× users,
    // SAME day grid), the JSONL export→reimport checksum (write+scan,
    // linear by construction — the thing to confirm is the WRITE path),
    // the sliding token-window chunker (map-side 1:N explode — output
    // grows with input, ratio must stay ~1), and the IVF recall eval
    // (bounded Lloyd build + probed-cluster rerank + the exact truth
    // arm, which is the harness's own linear-scan cost).
    "q_stats_chi2",
    "q_events_survival",
    "q_io_jsonl_roundtrip",
    "q_text_chunk",
    "q_ann_recall_ivf",
    // same rationale as q_ann_recall_ivf: bounded codebook build + ADC
    // code scan + fixed-50 rerank; the exact truth arm is the linear cost
    "q_ann_recall_pq",
    // two map-side conditional aggs (global max + per-type) — here for
    // the evidence row, expected ≤ linear
    "q_dq_freshness",
    // windowed sketch agg: per-window state bounded by value dynamic
    // range, windows bounded by the calendar — factor× rows, SAME
    // window grid, so the ratio must stay ~linear
    "s_stream_quantile")

  /** Per-copy content synthesis for organic mode; identity for copy 0 so
    * the 1× slice of organic data IS the pristine fixture.
    */
  private def organicContent(d: DataFrame, t: String, i: Int): DataFrame =
    if (i == 0) d
    else
      t match {
        case "documents" =>
          // per-copy vocabulary: every token gains a LETTER-ONLY copy
          // suffix ("q" + base-26 of i, digit 'a' = 0 — injective per
          // copy) — new text with the same zipf/length structure and
          // disjoint shingles. Letters only, because word-filtered
          // consumers (q_bpe_merges restricts to ^[a-z]+$) must see the
          // new vocabulary: a `_i` suffix made the BPE probe silently
          // train on the 1× word table (r8 review finding).
          val sfx = {
            var n = i
            val sb = new StringBuilder("q")
            while (n > 0) { sb.append(('a' + n % 26).toChar); n /= 26 }
            sb.toString
          }
          d.withColumn(
            "text",
            array_join(
              transform(
                split(col("text"), " "),
                x => when(length(x) > 0, concat(x, lit(sfx))).otherwise(x)),
              " "))
            .withColumn("n_chars", length(col("text")))
        case "embeddings" =>
          // rotate the vector by 1 + (i−1) mod (dim−1): never the
          // identity (a plain `i mod dim` rotation silently reproduced
          // copy-0 vectors whenever i hit a multiple of dim — exactly
          // the duplicate structure organic mode exists to avoid), norm
          // and within-copy geometry preserved, cross-copy cosines
          // decorrelated. Distinct rotations exist for dim−1 copies;
          // inflate() enforces factor ≤ 63 in organic mode (64-dim
          // fixtures) so no two copies share a rotation.
          d.withColumn(
            "embedding",
            expr(
              s"concat(slice(embedding, (1 + (($i - 1) % (size(embedding) - 1))) + 1, " +
                s"size(embedding) - (1 + (($i - 1) % (size(embedding) - 1)))), " +
                s"slice(embedding, 1, 1 + (($i - 1) % (size(embedding) - 1))))"))
        case _ => d
      }

  private def inflate(
      spark: SparkSession,
      srcDir: String,
      workDir: String,
      factor: Int,
      organic: Boolean): Unit = {
    require(
      !organic || factor <= 63,
      "organic mode guarantees distinct embedding rotations only up to factor 63 (dim-1)")
    val mode = if (organic) "organic" else "dup"
    val marker = new java.io.File(workDir, s"_INFLATED_x${factor}_$mode")
    if (marker.exists()) {
      System.err.println(s"[scaleprobe] reusing inflated data at $workDir (x$factor $mode)")
      return
    }
    val wd = new java.io.File(workDir)
    if (wd.exists()) org.apache.commons.io.FileUtils.deleteDirectory(wd)
    wd.mkdirs()
    (factKeys.keys.toSeq.sorted ++ dims).foreach { t =>
      val raw = spark.read.parquet(s"$srcDir/$t.parquet")
      val keys =
        if (organic) organicKeys.getOrElse(t, Nil) else factKeys.getOrElse(t, Nil)
      val out =
        if (keys.isEmpty) raw
        else
          (0 until factor)
            .map { i =>
              val shifted = keys.foldLeft(raw) { (d, k) =>
                d.withColumn(k, (col(k) + lit(i * Off)).cast(raw.schema(k).dataType))
              }
              organicContent(shifted, t, if (organic) i else 0)
            }
            .reduce(_.unionByName(_))
      out.write.mode("overwrite").parquet(s"$workDir/$t.parquet")
      System.err.println(
        s"[scaleprobe] inflated $t" + (if (keys.isEmpty) " (dim, 1x)" else s" x$factor $mode"))
    }
    marker.createNewFile(): Unit
  }

  /** min-of-2 noop-sink wall time, the Bench measurement discipline. */
  private def time(q: (SparkSession, String) => DataFrame, spark: SparkSession, dir: String): Double =
    Seq.fill(2)(Sessions.timeNoop(q(spark, dir))).min

  def main(args: Array[String]): Unit = {
    val organic = args.contains("--organic")
    val pos = args.filterNot(_ == "--organic")
    val Array(srcDir, workDir, factorS) = pos.take(3)
    val factor = factorS.toInt
    val queries = if (pos.length > 3) pos.drop(3).toSeq else DefaultQueries
    val spark = Sessions.local()
    Sessions.warmUp(spark)
    inflate(spark, srcDir, workDir, factor, organic)
    val reg = Registry.all.toMap
    var base = Vector.empty[(String, Double)]
    var scaled = Vector.empty[(String, Double)]
    var failed = Vector.empty[String]
    queries.foreach { name =>
      val q = reg(name).fn
      try {
        val b = time(q, spark, srcDir)
        val s = time(q, spark, workDir)
        System.err.println(
          f"[scaleprobe] $name base $b%.2f s, x$factor $s%.2f s, " +
            f"ratio-vs-linear ${s / (b * factor)}%.2f")
        base :+= (name -> b)
        scaled :+= (name -> s)
      } catch {
        case e: Throwable =>
          System.err.println(s"[scaleprobe] $name FAILED: ${e.getMessage}")
          failed :+= name
      }
    }
    def obj(xs: Vector[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + Sessions.num(v) }.mkString("{", ",", "}")
    val json =
      s"""{"factor":$factor,"mode":"${if (organic) "organic" else "dup"}",""" +
        s""""src":"$srcDir","cpus":${Sessions.cpus},"base_sec":${obj(base)},""" +
        s""""scaled_sec":${obj(scaled)},"failed":${failed
            .map("\"" + _ + "\"")
            .mkString("[", ",", "]")}}"""
    println(json)
    sys.env.get("SPARK_GRAFT_SCALEPROBE_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json + "\n"): Unit
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
