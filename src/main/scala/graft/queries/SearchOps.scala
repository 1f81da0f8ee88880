package graft.queries

import graft.{Q, Tables}
import graft.operators.{Fixpoint, Materialize}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Search, tokenizer-induction, graph, and operational-diagnostic
  * operators (SURVEY.md §2.2 additions, round 4 continuation):
  *
  *   - `q_text_bm25` — BM25 keyword retrieval over the corpus: the
  *     lexical-search baseline every LLM-data pipeline needs next to its
  *     embedding ANN (decontamination probes, corpus inspection, hybrid
  *     retrieval). Okapi BM25 with k1 = 1.2, b = 0.75.
  *   - `q_vocab_pairs` — adjacent-token pair frequencies: the counting
  *     step of a BPE merge round (tokenizer induction runs this exact
  *     aggregation once per merge).
  *   - `q_graph_triangles` — distributed triangle counting over the
  *     co-purchase graph, via the degree-oriented wedge join (each edge
  *     directed low-rank → high-rank, rank = (degree, id)): wedge count
  *     is Σ out-deg², and orientation bounds out-degree by O(√m) on any
  *     graph — THE standard trick that keeps hub nodes from exploding
  *     the join at scale. The oracle proves the orientation sound by
  *     recounting naively (id-ordered three-way join): same triangles.
  *   - `q_dq_skew` — hot-key diagnostics on the event stream: top keys
  *     by row count with their corpus share and ×-average skew factor —
  *     the report you read BEFORE choosing a salting factor
  *     ([[graft.operators.SaltedJoin]]) or AQE skew thresholds.
  *   - `q_multimodal_png` — the compressed-image round trip: per doc a
  *     real zlib-compressed PNG is synthesized, CRC-verified, inflated,
  *     un-filtered, and average-hashed in-partition
  *     ([[graft.operators.PngCodec]]); the oracle recomputes dimensions,
  *     chunk structure, and the 64-bit hash arithmetically from the
  *     pixel formula. Completes the media battery: header probes
  *     (image/audio/video), raw-pixel codec (BMP), compressed codec
  *     (PNG).
  *
  * Float discipline (repo-wide contract): every sum that crosses a
  * partition boundary is an exactly-rounded fixed-point LONG; `ln` — the
  * one libm call (BM25 idf) — is quantized to 1e-6 before use, the same
  * portability grain `q_text_entropy` / `q_dq_drift` established for
  * Java-vs-C last-ulp divergence. All other double arithmetic is an
  * identical correctly-rounded IEEE sequence in both engines.
  */
object SearchOps {

  // ----------------------------------------------------------- BM25

  /** The fixed query of the retrieval entry; mid-df terms so idf, tf and
    * length normalization all pull their weight in the ranking.
    */
  val Bm25Terms: Seq[String] = Seq("data", "vector", "stream")

  /** Okapi BM25 top-20. Scale shape: one token explode feeding two
    * partial aggs (per-doc length, per-doc×term tf); the term-df table
    * (|terms| rows) and the 1-row corpus stats BROADCAST to the scoring
    * projection, so the only shuffles are the two doc-keyed aggs and
    * their doc-keyed join; top-20 is a TakeOrdered k-merge, never a
    * global sort. Per-term contributions are summed as 1e-6 fixed-point
    * LONGs (partition-order-proof); idf is ln quantized to the same
    * grain.
    */
  def qTextBm25(spark: SparkSession, sfDir: String): DataFrame =
    bm25Scores(spark, sfDir)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)

  /** Scored (doc_id, bm25) frame pre-top-k — shared by [[qTextBm25]] and
    * the hybrid-retrieval fusion so the lexical leg cannot drift.
    */
  private def bm25Scores(spark: SparkSession, sfDir: String): DataFrame = {
    // r16 single-pass restructure (guide §2.3/§2.4): the old shape exploded
    // the token stream TWICE (per-doc length, per-doc×term tf) and joined
    // the two aggregates back on doc_id. The standing query has |terms| = 3,
    // so one doc-keyed aggregation carries the length AND the per-term
    // conditional counts in the same pass; the (doc, term, tf) long form
    // falls out of a 3-entry map explode on the aggregated frame, the dl
    // join disappears (dl is already on the row), and the final per-doc
    // fold reuses the doc_id partitioning — ONE corpus-scale exchange
    // total. Checkpointed: perDoc feeds both the corpus stats and the
    // scoring branch.
    val tok = Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
    val tfCols = Bm25Terms.map(t => sum(when(col("tok") === t, 1L).otherwise(0L)).as(s"tf_$t"))
    val perDoc = tok
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dl"), tfCols: _*)
      .transform(Materialize.eager)
    val st = perDoc.agg(
      count(lit(1)).as("n"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val tf = perDoc
      .select(
        col("doc_id"),
        col("dl"),
        explode(map(Bm25Terms.flatMap(t => Seq(lit(t), col(s"tf_$t"))): _*)).as(Seq("tok", "tf")))
      .where(col("tf") > 0L)
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    // idf = ln(1 + (N - df + 0.5)/(df + 0.5)), quantized; weight =
    // tf(k1+1) / (tf + k1(1 - b + b·dl/avgdl)) with k1 = 1.2, b = 0.75 —
    // written as the literal IEEE sequence the oracle repeats verbatim.
    val idf6 = round(
      log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))),
      6)
    val weight = col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))
    tf.join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(st))
      .select(col("doc_id"), round(idf6 * weight * lit(1e6)).cast("long").as("fp"))
      .groupBy("doc_id")
      .agg((sum("fp").cast("double") / lit(1e6)).as("bm25"))
  }

  /** RRF constant (Cormack et al. 2009's standard k = 60). */
  private val RrfK = 60

  /** Hybrid retrieval with reciprocal-rank fusion — the production
    * retrieval shape neither leg covers alone: the LEXICAL leg (BM25
    * top-20 for the standing term query, [[bm25Scores]]) catches exact
    * keyword matches, the SEMANTIC leg (exact cosine top-20 against
    * doc 0's embedding — the query document's vector; vec_id ≡ doc_id
    * in the fixtures) catches paraphrases, and RRF fuses the two rank
    * lists without any score normalization: score(d) = Σ_legs
    * 1/(k + rank_leg(d)), k = 60. Doc 0 (the query document itself) is
    * excluded from both legs. A rank of 0 in the output means "absent
    * from that leg's top-20" (contributes nothing) — a sentinel, not a
    * rank, kept NULL-free so the two engines' int64 schemas agree.
    *
    * Float discipline: each leg's rank is an exact integer; each RRF
    * contribution is round(1e6/(60+rank)) as a LONG, the fused score
    * one exact-long sum ÷ 1e6 — bit-identical across engines. Scale
    * shape: both legs end in TakeOrdered top-20 (k-merge, no global
    * sort); the rank windows and the full-outer fusion run on ≤ 20
    * rows per leg; corpus-scale work is exactly one BM25 pass + one
    * broadcast-query cosine scan.
    */
  def qSearchHybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    val lexTop = bm25Scores(spark, sfDir)
      .where(col("doc_id") =!= 0L)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
    val lex = lexTop.withColumn(
      "lex_rank",
      row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val semTop = e
      .where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"), LlmOps.cosSim(col("embedding"), col("q_emb")).as("sim"))
      .orderBy(col("sim").desc, col("doc_id"))
      .limit(20)
    val sem = semTop.withColumn(
      "sem_rank",
      row_number().over(Window.orderBy(col("sim").desc, col("doc_id"))).cast("long"))
    def contrib(r: Column) =
      when(r === 0L, lit(0L)).otherwise(round(lit(1e6) / (lit(RrfK) + r)).cast("long"))
    lex
      .select("doc_id", "lex_rank")
      .join(sem.select("doc_id", "sem_rank"), Seq("doc_id"), "full_outer")
      .na.fill(0L, Seq("lex_rank", "sem_rank"))
      .withColumn("rrf_fp", contrib(col("lex_rank")) + contrib(col("sem_rank")))
      .select(
        col("doc_id"),
        col("lex_rank"),
        col("sem_rank"),
        (col("rrf_fp").cast("double") / 1e6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  // ---------------------------------------------------- BPE pair counts

  /** Adjacent-pair frequencies, top 50: `zip(tokens, tokens.tail)` as two
    * slices zipped and exploded — all codegen'd builtins, no UDF — then
    * one pair-keyed partial agg. At corpus scale the agg is map-side
    * combined (pair vocabulary ≪ token stream), and top-50 is a
    * TakeOrdered k-merge. A BPE trainer iterates exactly this query,
    * re-tokenizing with the merged vocabulary between rounds.
    */
  def qVocabPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.documents(spark, sfDir).select(split(col("text"), " ").as("t"))
    t.select(
      explode(
        arrays_zip(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1))).as("pr"))
      .select(col("pr.0").as("a"), col("pr.1").as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("a"), col("b"))
      .limit(50)
  }

  // ------------------------------------------------- BPE merge induction

  /** Number of unrolled BPE merge rounds (and the unroll depth of the
    * generated oracle CTE chain).
    */
  val BpeRounds = 4

  /** Byte-pair-encoding tokenizer induction, [[BpeRounds]] merge rounds:
    * the full train loop `q_vocab_pairs` is one iteration of. Classic BPE
    * (Sennrich et al. 2016 shape): train on the WORD-FREQUENCY table, not
    * the token stream — symbols start as characters, each round merges
    * the globally most frequent adjacent symbol pair (ties broken
    * lexicographically) and re-tokenizes every word greedily
    * left-to-right. Output: the merge table (round, lhs, rhs, merged,
    * pair count) — the artifact a tokenizer ships.
    *
    * Scale shape: the ONLY corpus-scale work is the single token-explode
    * word-count aggregation (map-side combined, symbol vocabulary ≪
    * token stream). Every round after that runs on the cached |vocab|-row
    * sequence frame: one pair-explode partial agg + a 1-row TakeOrdered —
    * collected as bounded model state (the IVF/PQ house pattern; one
    * driver row per round, never data). Re-tokenization is a literal
    * double-`replace` on the space-padded symbol string — pass 1 merges
    * odd occurrences (each match consumes its trailing delimiter), pass 2
    * the now-exposed even ones; two passes are exact for a single pair
    * because post-pass-1 occurrences are never adjacent. Greedy
    * left-to-right equivalence is spec-pinned against a from-scratch
    * Scala BPE; the oracle unrolls the same rounds as CTE pairs (the
    * `q_embed_pca` / IVF unrolled-iteration precedent).
    *
    * SELF-PAIRS (a == b) ARE EXCLUDED from merge selection (r8): for a
    * self-pair over an odd run of ≥ 5 (`a a a a a`), non-overlapping
    * string replace pairs occurrences 1-2 and 4-5 (`[aa, a, aa]`) where
    * greedy left-to-right pairs 1-2 and 3-4 (`[aa, aa, a]`) — no fixed
    * number of replace passes reproduces the greedy result, so a
    * self-pair winning a round would silently diverge from the pinned
    * greedy semantics (the oracle's replace shares the exact flaw, so
    * certification would NOT catch it). The exclusion is carried
    * identically in the engine (`a =!= b` filter), the oracle
    * (`WHERE a <> b`), and the spec's reference trainer; the run-of-5
    * divergence itself is pinned in SearchOpsSpec.
    *
    * Words are restricted to `^[a-z]+$` so symbols are single-byte and
    * the char-split / `replace` semantics are engine-portable by
    * construction (no grapheme-vs-codepoint ambiguity).
    */
  def qBpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    bpeMerges(
      Tables
        .documents(spark, sfDir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .where(col("tok").rlike("^[a-z]+$"))
        .groupBy("tok")
        .agg(count(lit(1)).as("freq")))

  /** Core trainer over a (tok, freq) word table — factored out so specs
    * can drive synthetic corpora (the self-pair run-of-5 pin).
    */
  private[queries] def bpeMerges(words: DataFrame): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val s0 = words
      .select(
        concat(
          lit(" "),
          concat_ws(" ", array_remove(split(col("tok"), ""), "")),
          lit(" ")).as("seq"),
        col("freq"))
      .cache() // |vocab| rows; read twice per round
    try {
      var seqs = s0
      val merges = Seq.newBuilder[(Int, String, String, String, Long)]
      var exhausted = false
      for (r <- 1 to BpeRounds if !exhausted) {
        val l = split(trim(col("seq")), " ")
        val top = seqs
          .select(
            explode(
              arrays_zip(
                slice(l, lit(1), size(l) - 1),
                slice(l, lit(2), size(l) - 1))).as("pr"),
            col("freq"))
          .groupBy(col("pr.0").as("a"), col("pr.1").as("b"))
          .agg(sum("freq").as("n"))
          .where(col("a") =!= col("b")) // self-pair exclusion, see scaladoc
          .orderBy(col("n").desc, col("a"), col("b"))
          .limit(1)
          .collect()
          .headOption
        top match {
          case None =>
            // no mergeable (distinct-symbol) pair left — degenerate
            // corpus or only self-pairs remain; stop with the merges
            // found, and the oracle's empty t_r CTEs contribute no rows
            // in the same rounds
            exhausted = true
          case Some(row) =>
            val (a, b, n) = (row.getString(0), row.getString(1), row.getLong(2))
            merges += ((r, a, b, a + b, n))
            val rep = call_function(
              "replace",
              call_function("replace", col("seq"), lit(s" $a $b "), lit(s" $a$b ")),
              lit(s" $a $b "),
              lit(s" $a$b "))
            seqs = seqs.select(rep.as("seq"), col("freq"))
        }
      }
      merges.result().toDF("round", "lhs", "rhs", "merged", "n")
    } finally s0.unpersist(false)
  }

  /** Generated oracle: [[BpeRounds]] unrolled (pairs, top-1, re-tokenize)
    * CTE triples over the word-frequency table. NOTE DuckDB list-slice
    * bounds are INCLUSIVE (`l[:-2]` drops the last element; `[:-1]` keeps
    * it — unlike Python).
    */
  private def bpeOracle: String = {
    val rounds = (1 to BpeRounds).map { r =>
      s"""p$r AS (
         | SELECT prs[1] AS a, prs[2] AS b, sum(freq) AS n
         | FROM (SELECT unnest(list_zip(l[:-2], l[2:])) AS prs, freq
         |       FROM (SELECT string_split(trim(seq), ' ') AS l, freq FROM s${r - 1}))
         | GROUP BY a, b),
         |t$r AS (SELECT a, b, n FROM p$r WHERE a <> b ORDER BY n DESC, a, b LIMIT 1),
         |s$r AS (
         | SELECT replace(replace(seq, ' '||a||' '||b||' ', ' '||a||b||' '),
         |                ' '||a||' '||b||' ', ' '||a||b||' ') AS seq, freq
         | FROM s${r - 1}, t$r)""".stripMargin
    }.mkString(",\n")
    val heads = (1 to BpeRounds)
      .map(r =>
        s"SELECT $r AS round, a AS lhs, b AS rhs, a||b AS merged, CAST(n AS BIGINT) AS n FROM t$r")
      .mkString("\n UNION ALL ")
    s"""WITH words AS (
       | SELECT tok, count(1) AS freq
       | FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       | WHERE regexp_matches(tok, '^[a-z]+$$')
       | GROUP BY tok),
       |s0 AS (
       | SELECT ' ' || array_to_string(string_split(tok, ''), ' ') || ' ' AS seq, freq
       | FROM words),
       |$rounds
       |$heads
       |ORDER BY round""".stripMargin
  }

  // --------------------------------------------------- BPE encode (apply)

  /** Apply the [[BpeRounds]]-round learned merge table to ENCODE the
    * corpus — the other half of a tokenizer's life (`q_bpe_merges`
    * trains it; this is what every downstream token count / packing /
    * costing job runs). Output: the top-40 tokens of the encoded corpus
    * with weighted occurrence count (`n` — occurrences × word frequency)
    * and vocabulary support (`n_words` — distinct words containing the
    * token).
    *
    * Scale shape: training reuses [[bpeMerges]] verbatim (its ≤ 4-row
    * merge table is bounded driver model state — the IVF/PQ house
    * pattern); encoding then runs on the WORD-FREQUENCY table, not the
    * token stream, so the expensive half is the same single token-explode
    * word count the trainer starts from, and the merge application is a
    * constant-depth chain of `replace` column expressions (4 merges × 2
    * passes) inside one codegen'd projection over |vocab| rows. The
    * final token agg is map-side combined (token vocabulary ≪ corpus).
    * Greedy left-to-right equivalence of the double-replace is the same
    * spec-pinned argument as the trainer's (self-pairs excluded there).
    */
  def qBpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val words = Tables
      .documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(col("tok").rlike("^[a-z]+$"))
      .groupBy("tok")
      .agg(count(lit(1)).as("freq"))
      .cache() // read by the trainer (4 bounded rounds) and the encoder
    try {
      val merges = bpeMerges(words)
        .select("lhs", "rhs")
        .collect() // ≤ BpeRounds rows: bounded model state, never data
        .map(r => (r.getString(0), r.getString(1)))
      val seq0 = concat(
        lit(" "),
        concat_ws(" ", array_remove(split(col("tok"), ""), "")),
        lit(" "))
      val encoded = merges.foldLeft(seq0) { case (s, (a, b)) =>
        call_function(
          "replace",
          call_function("replace", s, lit(s" $a $b "), lit(s" $a$b ")),
          lit(s" $a $b "),
          lit(s" $a$b "))
      }
      words
        .select(col("tok"), col("freq"), split(trim(encoded), " ").as("toks"))
        .select(col("tok"), col("freq"), explode(col("toks")).as("token"))
        .groupBy("token")
        .agg(sum("freq").as("n"), countDistinct(col("tok")).as("n_words"))
        .orderBy(col("n").desc, col("token"))
        .limit(40)
    } finally words.unpersist(false)
  }

  /** Generated oracle: the [[bpeOracle]] CTE chain re-derives the same
    * merge rounds, but the sequence frames carry `tok` through so the
    * final explode can count vocabulary support per token.
    */
  private def bpeEncodeOracle: String = {
    val rounds = (1 to BpeRounds).map { r =>
      s"""p$r AS (
         | SELECT prs[1] AS a, prs[2] AS b, sum(freq) AS n
         | FROM (SELECT unnest(list_zip(l[:-2], l[2:])) AS prs, freq
         |       FROM (SELECT string_split(trim(seq), ' ') AS l, freq FROM s${r - 1}))
         | GROUP BY a, b),
         |t$r AS (SELECT a, b FROM p$r WHERE a <> b ORDER BY n DESC, a, b LIMIT 1),
         |s$r AS (
         | SELECT tok,
         |  CASE WHEN a IS NULL THEN seq
         |       ELSE replace(replace(seq, ' '||a||' '||b||' ', ' '||a||b||' '),
         |                    ' '||a||' '||b||' ', ' '||a||b||' ') END AS seq,
         |  freq
         | FROM s${r - 1} LEFT JOIN t$r ON 1 = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH words AS (
       | SELECT tok, count(1) AS freq
       | FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       | WHERE regexp_matches(tok, '^[a-z]+$$')
       | GROUP BY tok),
       |s0 AS (
       | SELECT tok, ' ' || array_to_string(string_split(tok, ''), ' ') || ' ' AS seq, freq
       | FROM words),
       |$rounds
       |SELECT token, CAST(sum(freq) AS BIGINT) AS n,
       | CAST(count(DISTINCT tok) AS BIGINT) AS n_words
       |FROM (SELECT tok, freq, unnest(string_split(trim(seq), ' ')) AS token FROM s$BpeRounds)
       |GROUP BY token ORDER BY n DESC, token LIMIT 40""".stripMargin
  }

  /** Shared edge set of the two graph queries: part pairs co-purchased
    * in ≥ 2 orders, canonical (u < v). ONE definition — a threshold or
    * column change here changes both analyses together.
    *
    * The MATERIALIZED form is cached per (session, sfDir) for the life
    * of the JVM (round-9 verdict #3): within one Bench/Verify run the
    * ten graph queries each referenced the edge list and each paid the
    * per-order C(n,2) self-join + localCheckpoint independently
    * (~1-1.5 s x 10 of pure re-derivation). The edge set is a pure
    * deterministic function of (sfDir) — caching the checkpointed frame
    * changes no query's semantics or oracle hash, only removes repeated
    * derivation. `materialize = false` callers also reuse a cached copy
    * when one exists (strictly cheaper than re-deriving the raw plan)
    * but never populate the cache themselves.
    */
  private val edgeCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] def coPurchaseEdges(
      spark: SparkSession,
      sfDir: String,
      materialize: Boolean = true): DataFrame = {
    val key = (spark, sfDir)
    val cached = edgeCache.get(key)
    if (cached != null) return cached
    if (materialize)
      return edgeCache.computeIfAbsent(key, _ => coPurchaseEdgesPlan(spark, sfDir, true))
    coPurchaseEdgesPlan(spark, sfDir, false)
  }

  /** The weighted co-purchase edge derivation — the ONE definition of
    * the graph (distinct order-items self-join, support ≥ 2) that
    * [[coPurchaseEdgesPlan]] projects to (u, v) and [[qGraphMst]]
    * consumes with the support column intact (r12 third-session review:
    * a hand-copied derivation in the MST entry could drift from the
    * threshold every other graph entry's oracle pins).
    */
  private[graft] def coPurchaseEdgesWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    val items = Tables
      .lineitem(spark, sfDir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    items
      .as("a")
      .join(items.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("u"), col("b.p").as("v"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= 2)
  }

  private def coPurchaseEdgesPlan(
      spark: SparkSession,
      sfDir: String,
      materialize: Boolean): DataFrame = {
    coPurchaseEdgesWeighted(spark, sfDir)
      .select("u", "v")
      // materialize ONCE: the wedge queries reference the edge list from
      // 6-8 plan positions (okey, the three wedge arms × 2 sides), and
      // Spark re-derives an uncheckpointed subtree at every reference —
      // the r7 fixture refresh made the per-order C(n,2) self-join above
      // expensive enough that those copies dominated the query (6.7 s vs
      // 2.9 s checkpointed, same fixtures). |E| rows.
      // `materialize = false` for single-reference callers that
      // checkpoint downstream themselves (qGraphCc: DedupClusters
      // checkpoints the symmetrized list immediately — a second
      // materialization here would be pure overhead).
      .transform(e => if (materialize) Materialize.eager(e) else e)
  }

  /** The adjacency of an undirected (u, v) edge frame: both directions
    * as (a, b), the frame every propagation loop joins its state to.
    */
  private def undirected(e: DataFrame): DataFrame =
    e.select(col("u").as("a"), col("v").as("b"))
      .unionByName(e.select(col("v").as("a"), col("u").as("b")))

  /** Connected components of the co-purchase graph — the generalization
    * proof that [[graft.operators.DedupClusters]] is a graph primitive,
    * not a dedup special case: the same strict min-label propagation
    * (throws on non-convergence, one equi-join + one fused min/chg agg
    * per round, eager checkpoint, diameter-bounded) runs unchanged over
    * product-affinity edges. Output: per-component rollup (label = min
    * node id, size, max node), size-ranked — the "product families"
    * readout a catalog team acts on.
    *
    * Oracle: the recursive-CTE reachability twin (the `q_dedup_clusters`
    * house pattern) — min-over-reachable-set is propagation-order-proof,
    * so the hash match proves the distributed loop equals the closure.
    */
  def qGraphCc(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.DedupClusters
      .clusters(
        // materialize = true (r12): cc is the FIRST graph entry the
        // registry runs, so with `false` it re-derived the per-order
        // C(n,2) self-join on every invocation while populating nothing —
        // every other graph query then built the cache cc never used.
        // DedupClusters checkpoints the SYMMETRIZED list anyway; paying
        // the one extra |E|-row materialization on the first call makes
        // cc's re-runs (bench min-of-2, probes) and every LATER graph
        // entry share one derivation, like the rest of the family.
        coPurchaseEdges(spark, sfDir),
        "u",
        "v",
        pathDoubling = true)
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_nodes"), max(col("id")).as("max_node"))
      .orderBy(col("n_nodes").desc, col("component"))

  /** Maximum spanning forest of the co-purchase graph via distributed
    * Borůvka — the "affinity backbone" a catalog/recommendation team
    * extracts: the strongest-support acyclic skeleton connecting each
    * product family. Rounds through the classic halving loop: every
    * component picks its best incident edge under the TOTAL order
    * (support DESC, u ASC, v ASC), picked edges join the forest,
    * components contract, repeat until no cross-component edge remains
    * (≤ log₂|V| rounds; budget = [[BoruvkaBaseRounds]] extended lazily
    * to the data-derived ⌈log₂ |V|⌉ + 2 bound, loud throw past THAT
    * like the `q_graph_cc` non-convergence throw).
    *
    * Correctness/oracle argument: the tiebreak makes edge weights
    * STRICTLY ordered, so the MSF is UNIQUE (cut property) — the oracle
    * need not mirror the engine's schedule, only the same total order.
    * It still replays the same Borůvka rounds (generated SQL, the
    * q_graph_cc unrolled-rounds pattern) with per-round contraction as
    * a recursive min-reachable closure, and zeroes its output if
    * 14 rounds did not converge (the `chk` gate). All-integer — no
    * float anywhere.
    *
    * Scale shape: per round ONE labels⋈edges equi-join pair (cross-
    * component filter), the per-component argmin as a rank-1 window
    * (three sort keys — past the GroupTopK 2-key match, so it stays on
    * WindowExec; rows = surviving cross edges, halving per round), and
    * contraction on the ≤|components| pick-pair graph (driver union-find,
    * or distributed pointer doubling past [[boruvka]]'s threshold). The
    * labels and each round's picks are pinned, and the forest is a union
    * of pinned picks — lineage stays flat.
    */
  def qGraphMst(spark: SparkSession, sfDir: String): DataFrame =
    boruvka(Materialize.eager(coPurchaseEdgesWeighted(spark, sfDir)))

  /** Base Borůvka round budget before the data-derived extension kicks
    * in: covers ~2^14 initial components with zero extra driver
    * actions; deeper graphs extend to ⌈log₂ |V|⌉ + 2 (see [[boruvka]]).
    */
  val BoruvkaBaseRounds = 14

  /** The Borůvka loop behind [[qGraphMst]], with the contraction
    * strategy split at `driverPairThreshold`: below it the per-round
    * pick-pair pseudoforest (ONE row per merging component, halving
    * every round) is union-found on the DRIVER — bounded model state in
    * the k-means-centroid sense, ~16 B/pair, and it replaces ~⌈log₂ n⌉
    * checkpointed distributed jumps (each a real driver-side action)
    * with one collect; above it the distributed pointer-doubling path
    * runs. MstSpec forces BOTH paths over the same graph and pins
    * identical forests (threshold 0 vs unbounded).
    *
    * Driver-action budget (r13 ask #2): the per-round pick-pair frame
    * is lazily checkpoint-marked and its `count()` is the round's one
    * materializing job (was: eager checkpoint + count); the MST
    * accumulator is a PLAIN union chain over the already-cached
    * `chosen` rounds — no per-round checkpoint mark of its own (r13
    * ADVICE: marking every level made the final action persist every
    * intermediate union, O(rounds·|MST|) block-store bytes; the leaves
    * are cached, the ≤budget-deep union lineage on top is free); the
    * distributed fallback probes its fixpoint every 3rd jump with the
    * probe count fused into the jump's own checkpoint job (ask #7).
    *
    * Round budget: the [[graft.operators.Fixpoint]] contract from the
    * compile-time [[BoruvkaBaseRounds]], extended once to the
    * data-derived bound ⌈log₂ |V|⌉ + 2 — components at least halve per
    * round (every live component merges with ≥1 other under the total
    * order), so ⌈log₂ n⌉ merging rounds plus the one zero-pick round
    * that observes the fixpoint always suffice; |V| is counted from the
    * already-checkpointed labels frame, so only a genuinely deep graph
    * pays that count. `roundBudget > 0` pins an explicit final budget
    * (test seam for the throw path; production callers leave it
    * derived).
    */
  private[graft] def boruvka(
      edges: DataFrame,
      driverPairThreshold: Long = 1000000L,
      roundBudget: Int = 0): DataFrame = {
    val spark = edges.sparkSession
    var lab = edges
      .select(col("u").as("id"))
      .unionByName(edges.select(col("v").as("id")))
      .distinct()
      .withColumn("c", col("id"))
      .transform(Materialize.eager)
    var mst = Materialize.eager(edges.limit(0))
    // monotone upper bound on the current round's pick count — see the
    // fusion comment in the loop body
    var prevChosen = Long.MaxValue
    Fixpoint.run("Borůvka", BoruvkaBaseRounds, roundBudget)(
      Fixpoint.ceilLog2(lab.count()) + 2L) { _ =>
      val cu = lab.select(col("id").as("uid"), col("c").as("cu"))
      val cv = lab.select(col("id").as("vid"), col("c").as("cv"))
      val e2 = edges
        .join(cu, col("u") === col("uid"))
        .join(cv, col("v") === col("vid"))
        .where(col("cu") =!= col("cv"))
        .select("u", "v", "support", "cu", "cv")
      val sym = e2
        .select(col("cu").as("cc"), col("cv").as("oc"), col("u"), col("v"), col("support"))
        .unionByName(
          e2.select(col("cv").as("cc"), col("cu").as("oc"), col("u"), col("v"), col("support")))
      val w = Window
        .partitionBy("cc")
        .orderBy(col("support").desc, col("u").asc, col("v").asc)
      // lazy mark + count: the count's full scan materializes the
      // checkpoint AND returns the round size in ONE job (r13 ask #2 —
      // previously an eager checkpoint job plus a count job).
      // r17 fusion: once a round lands under `driverPairThreshold` the
      // driver union-find path is taken, so the (cc, oc) collect that
      // path needs IS the round's materializing full scan — count and
      // collect merge into one job. Valid because nChosen is
      // non-increasing (every round-r+1 cross component contains a
      // round-r cross component; contraction only ever turns cross
      // edges internal), so a round under the threshold keeps all later
      // rounds under it — the fused collect never pulls more rows than
      // the threshold the caller already accepted for the driver path.
      val chosen = sym
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .drop("rn")
        .transform(Materialize.lazily)
      val fusedPairs: Option[Array[(Long, Long)]] =
        if (prevChosen <= driverPairThreshold)
          Some(chosen.select(col("cc"), col("oc")).collect()
            .map(r => (r.getLong(0), r.getLong(1))))
        else None
      val nChosen = fusedPairs.map(_.length.toLong).getOrElse(chosen.count())
      prevChosen = nChosen
      if (nChosen > 0) {
        // plain union chain: mst is only READ once, by the final orderBy
        // action — the ≤budget-deep union over already-cached `chosen`
        // blocks needs neither a per-round job NOR a per-level
        // checkpoint mark (r13 ADVICE #3: lazy-marking each level made
        // the one final action persist every intermediate union)
        mst = mst.unionByName(chosen.select("u", "v", "support").distinct())
        // Contraction of the pick-pair graph. Under a strict total order
        // its only cycles are MUTUAL picks (a longer cycle would be
        // weight-decreasing all the way around), so it is a pseudoforest.
        val f: DataFrame =
          if (nChosen <= driverPairThreshold) {
            // driver fast path: union-find over ≤threshold pairs, labels
            // normalized to the MIN member of each merged group. NOTE:
            // the two paths produce EQUIVALENT PARTITIONS but different
            // label representatives (the distributed path converges to
            // the min of each mutual-pick 2-cycle root, which need not
            // be the group min) — only the forest, not the label
            // values, is pinned equal by MstSpec.
            // `fusedPairs` is present whenever the PREVIOUS round was
            // already under the threshold (the common case from round 2
            // on); the first under-threshold round pays the one extra
            // collect over the already-cached checkpoint blocks.
            val pairs = fusedPairs.getOrElse(
              chosen
                .select(col("cc"), col("oc"))
                .collect()
                .map(r => (r.getLong(0), r.getLong(1))))
            val parent = scala.collection.mutable.HashMap.empty[Long, Long]
            def find(a: Long): Long = {
              var r = a
              while (parent.getOrElse(r, r) != r) r = parent(r)
              var x = a
              while (parent.getOrElse(x, x) != x) { val nx = parent(x); parent(x) = r; x = nx }
              r
            }
            pairs.foreach { case (a, b) =>
              val (ra, rb) = (find(a), find(b))
              if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
            }
            val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
            val byRoot = members.groupBy(find)
            val labOf = byRoot.toSeq.flatMap { case (_, ms) =>
              val m = ms.min
              ms.toSeq.map(_ -> m)
            }
            import spark.implicits._
            labOf.toDF("x", "fx")
          } else {
            // distributed path: break 2-cycles by hooking both ends to
            // the smaller id, then pointer-double ⌈log₂ n⌉ times. Each
            // jump (f ⋈ f) is pinned; the seam caps the pinned node's
            // size estimate ([[Materialize]]), so the jumps' estimates
            // stay bounded instead of squaring per jump.
            var g = chosen.select(col("cc").as("x"), col("oc").as("fx"))
            val ff = g.select(col("x").as("x2"), col("fx").as("ffx"))
            g = g
              .join(ff, col("fx") === col("x2"))
              .select(
                col("x"),
                when(col("ffx") === col("x"), least(col("x"), col("fx")))
                  .otherwise(col("fx"))
                  .as("fx"))
              .transform(Materialize.eager)
            val jumps = (63 - java.lang.Long.numberOfLeadingZeros(nChosen + 2)).toInt + 1
            var j = 0
            var fixed = false
            while (!fixed && j < jumps) {
              val h = g.select(col("x").as("x2"), col("fx").as("fx2"))
              val nxt = g.join(h, col("fx") === col("x2"))
              j += 1
              if (j % 3 == 0 || j == jumps) {
                // batched fixpoint probe (r13 ask #7): every 3rd jump
                // carries a per-row chg flag whose count is FUSED into
                // the checkpoint-materializing job — shallow
                // pseudoforests exit after the first probe instead of
                // paying all ⌈log₂ n⌉ eager checkpoints; non-probe
                // jumps stay flag-free (no extra bytes cached)
                val flat = Materialize.lazily(nxt.select(
                  col("x"),
                  col("fx2").as("fx"),
                  (col("fx2") =!= col("fx")).as("chg")))
                fixed = flat.where(col("chg")).count() == 0L
                g = flat.select("x", "fx")
              } else {
                g = Materialize.eager(nxt.select(col("x"), col("fx2").as("fx")))
              }
            }
            g
          }
        lab = lab
          .join(f.withColumnRenamed("x", "oldc"), col("c") === col("oldc"), "left")
          .select(col("id"), coalesce(col("fx"), col("c")).as("c"))
          .transform(Materialize.eager)
      }
      nChosen
    }
    mst.orderBy("u", "v")
  }

  /** Deterministic random walks over the co-purchase graph — the
    * DeepWalk/node2vec CORPUS-GENERATION primitive (walks become
    * "sentences" for embedding training). The registry entry
    * [[qGraphRandomWalk]] pins the (walksPerNode = 1, walkLength = 4)
    * dialect; this is the parameterized API (r13 ask #4) a corpus
    * builder calls with production settings (DeepWalk's classic is
    * 10–80 walks × length 40 — same plan shape, more rows).
    *
    * Step rule: step i of walk w from node c moves to the
    * `md5(salt) mod degree(c)`-th neighbor in id order, where salt is
    * `c:i` for walk 0 — BYTE-STABLE with the pre-parameterization
    * registry dialect, so the entry's oracle hash is unchanged — and
    * `c:i:w` for the additional walks (each walk an independent hash
    * stream). The PRNG is the house reproducible hash, so walks are
    * identical across engines, runs, and partitionings (the
    * `df.sample()` ban, applied to graph sampling).
    *
    * Scale shape: the adjacency is ranked ONCE (row_number over
    * neighbors in id order — one edge-keyed window) with degrees from
    * the same frame; each step is one equi-join of the walksPerNode×
    * frontier against the (node, rank) adjacency — the BFS-round shape
    * with a hash-picked rank instead of min-distance. All integer/hash
    * arithmetic; the oracle unrolls the identical steps. Output:
    * (start, walk, step, node).
    */
  private[graft] def randomWalks(
      spark: SparkSession,
      sfDir: String,
      walksPerNode: Int = 1,
      walkLength: Int = 4): DataFrame = {
    require(walksPerNode >= 1, "walksPerNode must be >= 1")
    val e = coPurchaseEdges(spark, sfDir)
    val adj = undirected(e)
    val ranked = adj
      .withColumn("rk", row_number().over(Window.partitionBy("a").orderBy(col("b").asc)) - 1)
      .transform(Materialize.eager) // referenced once per step; don't re-rank L×
    val deg = Materialize.eager(adj.groupBy(col("a").as("dn")).agg(count(lit(1)).as("deg")))
    // walk 0 keeps the pinned `c:i` salt; walks ≥ 1 extend it with the
    // walk index (`c:i:w`) for an independent deterministic stream
    def salt(cur: Column, i: Int): Column =
      when(
        col("walk") === 0,
        concat(cur.cast("string"), lit(s":$i")))
        .otherwise(concat(cur.cast("string"), lit(s":$i:"), col("walk").cast("string")))
    def hashPick(cur: Column, i: Int): Column =
      pmod(Tables.hash60(salt(cur, i)), col("deg"))
    var walk = adj
      .select(col("a").as("start"))
      .distinct()
      .withColumn("walk", explode(array((0 until walksPerNode).map(lit): _*)))
      .select(col("start"), col("walk"), lit(0).as("step"), col("start").as("node"))
    var frontier = walk
    // Steps stay UNmaterialized by design (r17 A/B): adding a per-step
    // eager checkpoint (the LPA-loop winning shape) measured +0.3/+0.5 s
    // warm min-of-4 on walk/multi — these step subtrees are thin (two
    // broadcast-side joins), so AQE's runtime dedup of the duplicated
    // references costs less than materializing each frontier.
    for (i <- 1 to walkLength) {
      val nxt = frontier
        .join(deg, col("node") === col("dn"))
        .withColumn("pick", hashPick(col("node"), i))
        .join(ranked, col("node") === col("a") && col("pick") === col("rk"))
        .select(col("start"), col("walk"), lit(i).as("step"), col("b").as("node"))
      walk = walk.unionByName(nxt)
      frontier = nxt
    }
    walk.orderBy("start", "walk", "step")
  }

  /** The pinned (1, 4) registry dialect of [[randomWalks]]. */
  def qGraphRandomWalk(spark: SparkSession, sfDir: String): DataFrame =
    randomWalks(spark, sfDir, walksPerNode = 1, walkLength = 4)
      .select("start", "step", "node")

  // ------------------------------------------------- bounded-hop BFS

  /** The BFS seed frame: (min(u), d = 0), checkpointed. The global min
    * node id always appears on the u side of its edges; the null guard
    * makes an EMPTY edge set yield an empty frontier (and so only the
    * hops = -1 remainder row) instead of a bogus hops = 0 row seeded
    * from min(u) = NULL — mirrored in the oracle.
    */
  private def bfsSeed(e: DataFrame): DataFrame =
    e.agg(min(col("u")).as("id"))
      .select(col("id"), lit(0).as("d"))
      .where(col("id").isNotNull)
      .transform(Materialize.eager)

  /** One BFS relaxation round: frontier ⋈ adjacency (equi-join on the
    * node id) then fused min-distance aggregation. Exposed so PlanSpec
    * can pin the EXACT plan the loop executes each round (equi-join, no
    * nested loop, partial agg) — the checkpoint stays in the loop.
    */
  private[graft] def bfsRound(dist: DataFrame, adj: DataFrame): DataFrame = {
    val next = dist
      .join(adj, dist("id") === adj("a"))
      .select(col("b").as("id"), (col("d") + 1).as("d"))
    dist
      .unionByName(next)
      .groupBy("id")
      .agg(min(col("d")).as("d"))
  }

  /** Multi-hop reach profile: single-source BFS over the co-purchase
    * graph from the minimum node id (deterministic seed), bounded at 4
    * hops by CONTRACT — per hop, node count and id range, plus one
    * `hops = -1` row for the never-reached remainder. The
    * "what's within k recommendation steps" readout.
    *
    * Scale shape: each hop is ONE equi-join (frontier ⋈ adjacency) plus
    * a fused min-distance aggregation — the [[graft.operators.
    * DedupClusters]] propagation shape with distance instead of label,
    * and a FIXED round budget instead of convergence (the contract pins
    * hop ≤ 4, so the oracle unrolls exactly; the production unbounded
    * variant is `q_graph_cc`'s strict loop). Per-round eager
    * checkpoints truncate lineage; state is (id, dist) — 12 B/node.
    */
  def qGraphBfsHops(spark: SparkSession, sfDir: String): DataFrame = {
    val hops = 4
    val e = coPurchaseEdges(spark, sfDir)
    val adj = undirected(e)
    // per-hop eager checkpoint — the one-plan variant was built and
    // A/B-measured (see lpaLabels): fewer jobs (28 → 19) but +0.7 s
    // warm min-of-4 from AQE replanning over the duplicated hop
    // subtrees; reverted
    var dist = bfsSeed(e)
    (1 to hops).foreach { _ =>
      dist = Materialize.eager(bfsRound(dist, adj))
    }
    bfsProfile(dist, adj)
  }

  /** The shared readout of both BFS variants: per-hop node count + id
    * range, plus the `hops = -1` never-reached remainder row.
    */
  private def bfsProfile(dist: DataFrame, adj: DataFrame): DataFrame = {
    val unreached = adj
      .select(col("a").as("id"))
      .distinct()
      .join(dist, Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n_nodes"), min("id").as("min_node"), max("id").as("max_node"))
      .select(lit(-1).as("hops"), col("n_nodes"), col("min_node"), col("max_node"))
    dist
      .groupBy(col("d").as("hops"))
      .agg(count(lit(1)).as("n_nodes"), min("id").as("min_node"), max("id").as("max_node"))
      .unionByName(unreached)
      .orderBy("hops")
  }

  /** UNBOUNDED single-source BFS (r9, round-8 verdict ask #8): the
    * strict-convergence variant of [[qGraphBfsHops]] — the same
    * frontier ⋈ adjacency + fused min-distance round, iterated until a
    * FIXED POINT with the `DedupClusters` discipline (change detection
    * fused into the round's one aggregation, eager checkpoint per
    * round, THROWS after [[BfsMaxRounds]] rounds instead of silently
    * reporting a partial reach profile). Where the 4-hop entry answers
    * "what's within k steps", this one answers "the complete eccentric
    * reach of the seed" — per-hop profile out to the graph's actual
    * diameter, plus the remainder row for other components.
    *
    * Scale shape: identical per-round plan to the bounded entry
    * (PlanSpec pins it via the shared [[bfsRound]] builder); rounds =
    * seed eccentricity (13 on the pristine co-purchase graph,
    * SHRINKING under densification). Distance is a min-semiring label,
    * so convergence detection is exact: a round changes nothing iff
    * no node's distance decreased and no new node appeared — the fused
    * `chg` flag below. The oracle unrolls [[BfsOracleRounds]]
    * materialized rounds with a convergence POISON (0 rows unless the
    * last two rounds agree), so budget mismatch fails loudly, never
    * silently.
    *
    * Round budget (run by [[graft.operators.Fixpoint]]):
    * starts at [[BfsMaxRounds]]; a graph whose seed eccentricity
    * exceeds it EXTENDS the budget once to the data-derived true bound
    * 2|E| (= the checkpointed adjacency row count — every vertex in
    * the edge frame has degree ≥ 1, so eccentricity ≤ |V| − 1 < 2|E|),
    * paying the one extra count ONLY on that deep-graph path. Past the
    * derived bound the throw stays: min-semiring relaxation that hasn't
    * fixed in |V| rounds means a broken invariant, not a tight budget.
    */
  def qGraphBfsFull(spark: SparkSession, sfDir: String): DataFrame =
    bfsFull(coPurchaseEdges(spark, sfDir))

  /** The loop behind [[qGraphBfsFull]] over an arbitrary undirected
    * (u, v) edge frame, seeded at min(u). `roundBudget > 0` pins an
    * explicit final budget (test seam for the throw path).
    */
  private[graft] def bfsFull(e: DataFrame, roundBudget: Int = 0): DataFrame = {
    val adj = Materialize.eager(undirected(e)) // referenced every round — materialize once
    var dist = bfsSeed(e)
    // lazy budget extension: only a graph deeper than the base pays the
    // one adjacency count
    Fixpoint.run("BFS", BfsMaxRounds, roundBudget)(adj.count()) { _ =>
      val msgs = dist
        .join(adj, dist("id") === adj("a"))
        .select(col("b").as("id"), (col("d") + 1).as("d"), lit(false).as("own"))
      // one aggregation computes the relaxed distance AND whether it
      // changed: the node's previous distance is its unique own=true
      // row; a brand-new node has none (coalesce → MaxValue → chg)
      val next = dist
        .withColumn("own", lit(true))
        .unionByName(msgs)
        .groupBy("id")
        .agg(
          min(col("d")).as("d"),
          (min(col("d")) <
            coalesce(max(when(col("own"), col("d"))), lit(Int.MaxValue))).as("chg"))
        .transform(Materialize.lazily)
      dist = next.select("id", "d")
      // the round's ONE action (r13, the DedupClusters fusion): the
      // full-scan count materializes the lazy checkpoint AND returns
      // the convergence signal in the same job
      next.where(col("chg")).count()
    }
    bfsProfile(dist, adj)
  }

  /** BASE round budget of [[qGraphBfsFull]] (extended lazily to the
    * data-derived 2|E| bound on deeper graphs — throw, never a partial
    * answer) and the oracle's unroll depth. Oracle < base so an engine
    * run that NEEDS more than the oracle models fails the compare
    * loudly rather than certifying a deeper reach untested.
    */
  val BfsMaxRounds = 32
  val BfsOracleRounds = 24

  // ------------------------------------------------------ k-core peel

  /** k-core peel profile (k = 3, 4 rounds by CONTRACT): each round
    * drops nodes of degree < 3 and induces the surviving subgraph,
    * reporting nodes/edges per round — the standard "dense core vs
    * peripheral fluff" decomposition used to find the communities worth
    * mining (`q_graph_triangles`' support lives almost entirely inside
    * the core). Fixed rounds make the semantics engine-exact at ANY
    * scale (the oracle unrolls 4 induced-subgraph steps); convergence
    * on a given graph is observable in the output (two equal
    * consecutive rows) rather than assumed — the unbounded production
    * loop is the `DedupClusters` strict pattern.
    *
    * Scale shape: per round, one degree aggregation + two semi-joins
    * (u-keep, v-keep) — all equi-joins on node ids; eager checkpoints
    * bound lineage; edges only shrink.
    */
  /** One k-core peel round: degree aggregation → survivors (deg ≥ k) →
    * edges induced on the survivors via two semi-joins. Exposed so
    * PlanSpec can pin the per-round plan (partial-agg degree count,
    * semi equi-joins, no nested loop); checkpoints stay in the loop.
    */
  private[graft] def kcoreRound(
      edges: DataFrame,
      k: Int,
      materialize: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {
    val deg = edges
      .select(col("u").as("id"))
      .unionByName(edges.select(col("v").as("id")))
      .groupBy("id")
      .agg(count(lit(1)).as("deg"))
    // the survivor set materializes BEFORE the semi-joins consume it
    // twice — otherwise the degree agg would recompute per join side
    val keep = materialize(deg.where(col("deg") >= k).select("id"))
    val induced = edges
      .join(keep.withColumnRenamed("id", "u"), Seq("u"), "left_semi")
      .join(keep.withColumnRenamed("id", "v"), Seq("v"), "left_semi")
      .select("u", "v")
    (keep, induced)
  }

  def qGraphKcore(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 3
    val rounds = 4
    var edges = coPurchaseEdges(spark, sfDir)
    val perRound = (1 to rounds).map { r =>
      val (keep, inducedRaw) = kcoreRound(edges, k, Materialize.eager(_))
      edges = Materialize.eager(inducedRaw)
      keep
        .agg(count(lit(1)).as("n_nodes"))
        .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
        .select(lit(r).as("round"), col("n_nodes"), col("n_edges"))
    }
    perRound.reduce(_ unionByName _).orderBy("round")
  }

  // -------------------------------------------- label propagation (LPA)

  /** One synchronous label-propagation round: each node adopts the most
    * frequent label among its neighbors AND itself (the self-vote damps
    * the 2-cycle oscillation plain synchronous LPA is prone to), ties
    * broken to the SMALLEST label — fully deterministic, no RNG. The
    * argmax is one fused aggregation: `max(struct(cnt, -lab))` picks
    * highest count then (via the negated label) lowest label. Exposed so
    * PlanSpec can pin the per-round plan: one equi-join + two partial
    * aggregations, no window, no nested loop.
    */
  private[graft] def lpaRound(labels: DataFrame, adj: DataFrame): DataFrame = {
    val msgs = labels
      .join(adj, labels("id") === adj("a"))
      .select(col("b").as("id"), col("lab"))
    labels
      .unionByName(msgs)
      .groupBy("id", "lab")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("id")
      .agg(max(struct(col("cnt"), (-col("lab")).as("neg"))).as("w"))
      .select(col("id"), (-col("w.neg")).as("lab"))
  }

  /** Community detection by deterministic synchronous label propagation
    * (Raghavan et al. 2007, made engine-exact): 4 rounds by CONTRACT
    * over the co-purchase graph, self-vote + min-label tie-break (no
    * randomness — the published algorithm's random visit order is what
    * keeps it out of most SQL engines; the synchronous deterministic
    * variant is oracle-replayable). Output: per-round community profile
    * (count, largest size, Σ-label checksum over nodes), round 0 = the
    * all-singletons baseline. Convergence on a given graph is observable
    * as equal consecutive rows (the `q_graph_kcore` readout idea);
    * community QUALITY differences vs modularity methods are inherent to
    * LPA, not to this implementation.
    *
    * Scale shape: per round one adjacency equi-join + two partial-agg
    * shuffles ((id,lab) vote count, then per-id argmax) — the
    * `DedupClusters` propagation family with a frequency semiring
    * instead of min; labels checkpoint per round (12 B/node state);
    * the profile readout adds one label-keyed agg per round on a
    * |V|-row frame. Fixed rounds ⇒ the oracle unrolls exactly.
    */
  def qGraphLabelProp(spark: SparkSession, sfDir: String): DataFrame = {
    val adj = Materialize.eager(undirected(coPurchaseEdges(spark, sfDir)))
    lpaLabels(adj, rounds = 4).zipWithIndex
      .map { case (labels, r) =>
        labels
          .groupBy("lab")
          .agg(count(lit(1)).as("sz"))
          .agg(
            count(lit(1)).as("n_comm"),
            max(col("sz")).as("largest"),
            sum(col("lab") * col("sz")).as("checksum"))
          .select(lit(r).as("round"), col("n_comm"), col("largest"), col("checksum"))
      }
      .reduce(_ unionByName _)
      .orderBy("round")
  }

  /** The labels after each of `rounds` [[lpaRound]]s over `adj`, index 0
    * being the all-singletons start — every round eagerly checkpointed.
    *
    * Per-round eager checkpoint CONFIRMED as the right shape by a
    * measured attempt: both a single-plan
    * rewrite (no checkpoints, AQE stage reuse deduping the duplicated
    * round subtrees) and a batch-2 hybrid (checkpoint every second
    * round) were built and A/B-measured at sf0.1 — the checkpoint-free
    * logical tree grows exponentially (384 Exchange nodes formatted;
    * AQE capped execution at 24 jobs but replans the whole remaining
    * tree after every stage), costing +0.6 s (one-plan) / +1.0 s
    * (batch-2) warm min-of-4 vs this shape. Driver actions are not the
    * bottleneck here; AQE replanning over duplicated trees is.
    */
  private def lpaLabels(adj: DataFrame, rounds: Int): Seq[DataFrame] = {
    val singletons = adj
      .select(col("a").as("id"))
      .distinct()
      .select(col("id"), col("id").as("lab"))
      .transform(Materialize.eager)
    (1 to rounds).scanLeft(singletons)((labels, _) => Materialize.eager(lpaRound(labels, adj)))
  }

  /** Newman modularity of the 4-round label-propagation partition —
    * the partition-quality score that turns `q_graph_label_prop`'s
    * community detection into a judged result:
    * `Q = Σ_c (e_c/m − (d_c/2m)²)`. The communities are the last round
    * of the SAME [[lpaLabels]] loop as the registry's label-prop entry
    * (one definition, zero drift); Q ∈ (−0.5, 1], higher = stronger
    * community structure than the degree-preserving random graph.
    *
    * Exactness: e_c (intra-community edges), d_c (community degree
    * mass), and m are exact longs; each community's term is a short
    * mirrored IEEE chain and the cross-community sum is `dsum`-quantized
    * (terms ≤ 1 — well inside the portable band). Scale shape: after
    * the label rounds, ONE edges⋈labels⋈labels join for e_c and one
    * degree agg + label join for d_c, both partial-aggregating; the
    * fold is |communities| rows.
    */
  def qGraphModularity(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coPurchaseEdges(spark, sfDir)
    val adj = Materialize.eager(undirected(e))
    val labels = lpaLabels(adj, rounds = 4).last
    val lu = labels.select(col("id").as("lu_id"), col("lab").as("lu"))
    val lv = labels.select(col("id").as("lv_id"), col("lab").as("lv"))
    val mrow = e.agg(count(lit(1)).as("m"))
    val ec = e
      .join(lu, col("u") === col("lu_id"))
      .join(lv, col("v") === col("lv_id"))
      .where(col("lu") === col("lv"))
      .groupBy(col("lu").as("lab"))
      .agg(count(lit(1)).as("e_c"))
    val dc = adj
      .groupBy(col("a").as("id2"))
      .agg(count(lit(1)).as("d"))
      .join(labels, col("id2") === col("id"))
      .groupBy(col("lab"))
      .agg(sum(col("d")).as("d_c"))
    val md = col("m").cast("double")
    val half = col("d_c").cast("double") / (lit(2.0) * md)
    val t = col("e_c").cast("double") / md - half * half
    dc.join(ec, Seq("lab"), "left")
      .select(col("lab"), coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"))
      .crossJoin(broadcast(mrow))
      .agg(
        first(col("m")).as("m_edges"),
        count(lit(1)).as("n_comm"),
        Tables.dsum(t).as("modularity"))
  }

  // ---------------------------------------------- degree distribution

  /** Degree distribution of the co-purchase graph: degree → node count,
    * the first-look structural readout (a heavy tail here is what makes
    * the capped wedge variants necessary; this query is how you SEE the
    * tail before choosing a cap).
    *
    * Scale shape: explode each edge into its two endpoints (2|E| rows of
    * one LONG), one count shuffle keyed by node, one count shuffle keyed
    * by degree (output rows = distinct degrees, a few dozen at any
    * scale). The edge list is the single-reference case, so no
    * materialization (`materialize = false`) — the whole plan is one
    * linear pass over the edge derivation.
    */
  def qGraphDegreeDist(spark: SparkSession, sfDir: String): DataFrame =
    coPurchaseEdges(spark, sfDir, materialize = false)
      .select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("degree"))
      .groupBy("degree")
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")

  // ------------------------------------------------- triangle counting

  /** Per-node triangle membership counts (top 20) over the co-purchase
    * graph (parts bought together in ≥ 2 orders). Degree-oriented wedge
    * join; see the object doc for why orientation is the scale move. The
    * rank key packs (degree, id) into one LONG — exact while
    * id < 1e8, which holds through sf100 here (and the pack is a local
    * convenience, not a semantic: any total order works).
    */
  def qGraphTriangles(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sfDir)
    val okey = edges
      .select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("deg"))
      .select(col("node"), (col("deg") * lit(100000000L) + col("node")).as("okey"))
    val oriented = edges
      .join(okey.as("ku"), col("u") === col("ku.node"))
      .join(okey.as("kv"), col("v") === col("kv.node"))
      .select(
        when(col("ku.okey") < col("kv.okey"), col("u")).otherwise(col("v")).as("a"),
        when(col("ku.okey") < col("kv.okey"), col("v")).otherwise(col("u")).as("b"),
        greatest(col("ku.okey"), col("kv.okey")).as("bkey"))
    val tri = oriented
      .as("e1")
      .join(oriented.as("e2"), col("e1.a") === col("e2.a") && col("e1.bkey") < col("e2.bkey"))
      .join(oriented.as("e3"), col("e1.b") === col("e3.a") && col("e2.b") === col("e3.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_tri"))
      .orderBy(col("n_tri").desc, col("node"))
      .limit(20)
  }

  /** Node-pair similarity by common neighbors (the link-prediction
    * primitive): for part pairs sharing a co-purchase neighbor,
    * `|N(u)∩N(v)| / |N(u)∪N(v)|`. Degrees join back on the node key and
    * the union size is `d(u)+d(v)−∩` — never a second pass.
    *
    * The ∩ counts come from DEGREE-ORIENTED wedge enumeration (the
    * [[qGraphTriangles]] orientation, applied here since round 5): every
    * edge is directed low-rank → high-rank (rank = (degree, id)), and
    * each wedge a–c–b is enumerated exactly once, in the case arm picked
    * by its center's rank relative to the endpoints:
    *   - center lowest  → out×out pairs of `s` (out-deg ≤ O(√m) — the
    *     orientation bound, so hub keys CANNOT explode this arm);
    *   - center middle  → in×out through the center (≤ in-deg·√m per
    *     key — the hub's quadratic term splits off);
    *   - center highest → in×in pairs of `d` — the one arm that stays
    *     Σ in-deg² because it MUST: hub-centered wedges are real output
    *     rows (a degree-d hub's leaves form C(d,2) genuinely-common-
    *     neighbor pairs), so this term is the output's own size, not
    *     join waste, and AQE skew-split owns its residual hot keys.
    * Versus the unoriented symmetric self-join (Σ deg² candidates, half
    * discarded by `u < v`), this emits each wedge once with no discard
    * and bounds two of the three arms. The unoriented DuckDB oracle
    * recounts naively — counts are orientation-invariant, so the hash
    * match proves the case trichotomy sound.
    */
  def qGraphCommonNeighbors(spark: SparkSession, sfDir: String): DataFrame =
    commonNeighbors(coPurchaseEdges(spark, sfDir), centerDegCap = None)

  /** The production-scale variant (round-7 verdict lead ask): identical
    * trichotomy, but wedge CENTERS with degree > 32 contribute nothing —
    * i.e. `n_common` counts only common neighbors of degree ≤ 32. This is
    * the `q_dedup_near_capped` move applied to wedges: an over-popular
    * common neighbor (a part in thousands of baskets) carries near-zero
    * link-prediction signal exactly like an over-popular LSH band (the
    * Adamic-Adar 1/log(deg) weighting takes the same limit), so dropping
    * hub centers bounds the one Σ in-deg² arm at C(cap,2)·|V| — linear in
    * nodes — while the kept arms stay √m-bounded. The cap is SEMANTIC
    * (the oracle replicates it, so hash-match holds at any scale) and
    * inert on pristine fixtures (max co-purchase degree: 13 at sf0.01,
    * 6 at sf0.1 — measured 2026-08-14), so capped ≡ uncapped there
    * (pinned in SearchOpsSpec); only densified/skewed data trips it.
    * Endpoint degrees in the Jaccard denominator stay UNCAPPED — the cap
    * only prunes which wedges are counted, so surviving pairs report a
    * (lower-bound) Jaccard against true neighborhood sizes.
    */
  def qGraphCommonNeighborsCapped(spark: SparkSession, sfDir: String): DataFrame =
    commonNeighbors(coPurchaseEdges(spark, sfDir), centerDegCap = Some(CenterDegCap))

  /** Center-degree cap for [[qGraphCommonNeighborsCapped]] — must match
    * the constant inlined in its DuckDB oracle below.
    */
  val CenterDegCap = 32

  /** Degree-orientation scaffold shared by the common-neighbor scorers:
    * per-node (deg, rank key) and the low-rank → high-rank directed edge
    * list carrying both endpoint keys.
    */
  private def orientEdges(edges: DataFrame): (DataFrame, DataFrame) = {
    val okey = edges
      .select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("deg"))
      .select(col("node"), col("deg"), (col("deg") * lit(100000000L) + col("node")).as("okey"))
    val oriented = edges
      .join(okey.as("ku"), col("u") === col("ku.node"))
      .join(okey.as("kv"), col("v") === col("kv.node"))
      .select(
        when(col("ku.okey") < col("kv.okey"), col("u")).otherwise(col("v")).as("s"),
        when(col("ku.okey") < col("kv.okey"), col("v")).otherwise(col("u")).as("d"),
        least(col("ku.okey"), col("kv.okey")).as("skey"),
        greatest(col("ku.okey"), col("kv.okey")).as("dkey"))
    (okey, oriented)
  }

  /** The degree-oriented wedge trichotomy, shared by every
    * common-neighbor scorer (ONE definition — the r8 review's
    * divergence-risk fix): emits each wedge exactly once as
    * (p, q, ckey), where ckey is the CENTER's rank key (deg·1e8 + id).
    * The cap filter is ONE comparison on that key, applied BEFORE each
    * pair join (on the build/probe inputs, not the join output), so hub
    * centers are pruned pre-shuffle and capped wedge candidates never
    * materialize. Scorers that don't need the center drop ckey in their
    * projection before the pair aggregation — it never widens a shuffle.
    */
  private def wedges(oriented: DataFrame, centerDegCap: Option[Int]): DataFrame = {
    def centerOk(key: Column): Column = centerDegCap match {
      case Some(cap) => key < lit((cap + 1L) * 100000000L)
      case None => lit(true)
    }
    // center lowest-ranked: unordered pairs of s's out-neighbors
    val wLow = oriented
      .where(centerOk(col("skey")))
      .as("e1")
      .join(
        oriented.where(centerOk(col("skey"))).as("e2"),
        col("e1.s") === col("e2.s") && col("e1.dkey") < col("e2.dkey"))
      .select(col("e1.d").as("p"), col("e2.d").as("q"), col("e1.skey").as("ckey"))
    // center middle-ranked: an in-neighbor × an out-neighbor of the center
    // (endpoint ranks straddle the center's, so each such wedge lands in
    // this arm exactly once — no ordering predicate needed)
    val wMid = oriented
      .where(centerOk(col("dkey")))
      .as("e1")
      .join(oriented.where(centerOk(col("skey"))).as("e2"), col("e1.d") === col("e2.s"))
      .select(col("e1.s").as("p"), col("e2.d").as("q"), col("e1.dkey").as("ckey"))
    // center highest-ranked: unordered pairs of d's in-neighbors
    val wHigh = oriented
      .where(centerOk(col("dkey")))
      .as("e1")
      .join(
        oriented.where(centerOk(col("dkey"))).as("e2"),
        col("e1.d") === col("e2.d") && col("e1.skey") < col("e2.skey"))
      .select(col("e1.s").as("p"), col("e2.s").as("q"), col("e1.dkey").as("ckey"))
    wLow.union(wMid).union(wHigh)
  }

  private[queries] def commonNeighbors(edges: DataFrame, centerDegCap: Option[Int]): DataFrame = {
    val (okey, oriented) = orientEdges(edges)
    val deg = okey.select(col("node").as("u"), col("deg"))
    val inter = wedges(oriented, centerDegCap)
      .select(least(col("p"), col("q")).as("a"), greatest(col("p"), col("q")).as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(deg.as("da"), col("a") === col("da.u"))
      .join(deg.as("db"), col("b") === col("db.u"))
      .select(
        col("a"),
        col("b"),
        col("n_common"),
        round(
          col("n_common").cast("double") /
            (col("da.deg") + col("db.deg") - col("n_common")),
          6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(20)
  }

  /** Adamic-Adar link prediction over the co-purchase graph (r8): for
    * part pairs sharing a neighbor, `Σ_c 1/ln(deg(c))` over common
    * neighbors `c` of degree ≤ [[CenterDegCap]] — the standard
    * hub-discounted scorer whose 1/ln weighting is the continuous form
    * of the cap's hub cutoff (both say: popular common neighbors carry
    * no signal). Same degree-oriented wedge trichotomy as
    * [[qGraphCommonNeighbors]], with each arm carrying its CENTER's rank
    * key (one extra LONG through the shuffle) so the weight is computed
    * post-union as `round6(1e6/ln(deg))` from `deg = ⌊key/1e8⌋`.
    *
    * Cross-engine float discipline (see q_text_bigram_nll): ln takes
    * only INTEGER arguments (31 distinct degrees under the cap), each
    * weight is quantized to micro LONGs per term, the pair score is an
    * exact integer sum, and the output double is one IEEE division of
    * exact integers — bit-identical across engines by construction.
    */
  def qGraphAdamicAdar(spark: SparkSession, sfDir: String): DataFrame =
    adamicAdar(coPurchaseEdges(spark, sfDir), CenterDegCap)

  private[queries] def adamicAdar(edges: DataFrame, cap: Int): DataFrame = {
    val (_, oriented) = orientEdges(edges)
    // wedge centers have ≥ 2 neighbors by construction, so ln(deg) > 0
    val weighted = wedges(oriented, Some(cap))
      .select(
        least(col("p"), col("q")).as("a"),
        greatest(col("p"), col("q")).as("b"),
        round(lit(1e6) / log(floor(col("ckey") / lit(100000000L)).cast("double")), 0)
          .cast("long")
          .as("w_micro"))
    weighted
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"), sum(col("w_micro")).as("aa_micro"))
      .select(
        col("a"),
        col("b"),
        col("n_common"),
        (col("aa_micro").cast("double") / 1e6).as("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("a"), col("b"))
      .limit(20)
  }

  // ------------------------------------------------------ skew report

  /** Top-10 hot keys with corpus share (ppm, exact fixed point) and
    * ×-average skew. One key-partial-agg shuffle + a broadcast 1-row
    * total — the cheapest possible look at whether a downstream
    * key-equality operation needs salting. `cnt·1e6` and `cnt·n_keys`
    * stay ≪ 2^53, so every double here is exact before its one division.
    */
  def qDqSkew(spark: SparkSession, sfDir: String): DataFrame = {
    val cnts = Tables
      .events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val tot = cnts.agg(sum("cnt").as("total"), count(lit(1)).as("n_keys"))
    cnts
      .crossJoin(broadcast(tot))
      .select(
        col("user_id"),
        col("cnt"),
        round(col("cnt") * lit(1e6) / col("total")).cast("long").as("share_ppm"),
        round(col("cnt").cast("double") * col("n_keys") / col("total"), 6).as("x_avg"))
      .orderBy(col("cnt").desc, col("user_id"))
      .limit(10)
  }

  /** Crawl-frontier URL dedup: canonicalize (lowercase host, drop the
    * :443 port and the query string) and keep one document per canonical
    * URL. The Spark side REALLY parses the synthesized URLs — `parse_url
    * HOST` follows Hive/java.net.URI semantics and already returns the
    * bare host (port excluded), so the port drop comes from the parse,
    * the case fold and query drop from this projection; the oracle
    * rebuilds the canonical form from the same synthesis arithmetic
    * (the `q_fn_url` round-trip contract), so a parse or
    * canonicalization bug breaks the hash. One canonical-keyed
    * partial-agg shuffle; URL strings are small and the body never
    * moves.
    */
  def qDedupUrl(spark: SparkSession, sfDir: String): DataFrame = {
    val url = concat(
      lit("https://"),
      when(col("doc_id") % 3 === 0, upper(col("source"))).otherwise(col("source")),
      lit(".Example.COM"),
      when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit("")),
      lit("/item/"),
      col("doc_id") % 40,
      lit("?utm_source="),
      col("lang"),
      lit("&session="),
      col("doc_id"))
    val host = lower(parse_url(col("url"), lit("HOST")))
    Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), url.as("url"))
      .select(
        col("doc_id"),
        concat(lit("https://"), host, parse_url(col("url"), lit("PATH"))).as("canonical"))
      .groupBy("canonical")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_urls"))
      .orderBy("canonical")
  }

  // ------------------------------------------------- PNG codec round trip

  /** Compressed-image round trip: synthesize → CRC-verify → inflate →
    * un-filter → hash, per document, inside one partition pass. The
    * 64-bit hash travels as four 16-bit segments (the same layout
    * `q_multimodal_phash` proved out) so the oracle can rebuild it
    * without BIGINT sign/overflow traps.
    */
  def qMultimodalPng(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables
      .documents(spark, sfDir)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val png = graft.operators.PngCodec.decode(graft.operators.PngCodec.png8x8(id))
          (
            id,
            png.width,
            png.height,
            png.bitDepth,
            png.colorType,
            png.nChunks,
            png.crcOk,
            ((png.hash >>> 0) & 0xffffL).toInt,
            ((png.hash >>> 16) & 0xffffL).toInt,
            ((png.hash >>> 32) & 0xffffL).toInt,
            ((png.hash >>> 48) & 0xffffL).toInt)
        }
      }
      .toDF(
        "doc_id",
        "width",
        "height",
        "bit_depth",
        "color_type",
        "n_chunks",
        "crc_ok",
        "s0",
        "s1",
        "s2",
        "s3")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------- registry

  val all: Seq[(String, Q)] = Seq(
    "q_text_bm25" -> Q(
      qTextBm25,
      Some("""WITH tok AS (
             | SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
             | FROM documents),
             |dl AS (SELECT doc_id, count(1) AS dl FROM tok GROUP BY doc_id),
             |st AS (SELECT count(1) AS n, CAST(sum(dl) AS DOUBLE) / count(1) AS avgdl FROM dl),
             |tf AS (SELECT doc_id, tok, count(1) AS tf FROM tok
             |       WHERE tok IN ('data', 'vector', 'stream') GROUP BY doc_id, tok),
             |df AS (SELECT tok, count(1) AS df FROM tf GROUP BY tok),
             |c AS (
             | SELECT tf.doc_id,
             |  CAST(round(round(ln(1 + (n - df + 0.5) / (df + 0.5)), 6) *
             |   (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * (dl.dl / avgdl)))) * 1e6, 0) AS BIGINT) AS fp
             | FROM tf JOIN df USING (tok) JOIN dl ON tf.doc_id = dl.doc_id, st)
             |SELECT doc_id, CAST(sum(fp) AS DOUBLE) / 1e6 AS bm25
             |FROM c GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),
    // Oracle replays BOTH legs verbatim (the q_text_bm25 CTEs for the
    // lexical leg, the q_sim_topk fixed-point cosine for the semantic
    // leg), ranks each top-20, and fuses with the same exact-long RRF
    // contributions; rank 0 = absent-from-leg sentinel on both sides.
    "q_search_hybrid_rrf" -> Q(
      qSearchHybridRrf,
      Some("""WITH tok AS (
             | SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
             | FROM documents),
             |dl AS (SELECT doc_id, count(1) AS dl FROM tok GROUP BY doc_id),
             |st AS (SELECT count(1) AS n, CAST(sum(dl) AS DOUBLE) / count(1) AS avgdl FROM dl),
             |tf AS (SELECT doc_id, tok, count(1) AS tf FROM tok
             |       WHERE tok IN ('data', 'vector', 'stream') GROUP BY doc_id, tok),
             |df AS (SELECT tok, count(1) AS df FROM tf GROUP BY tok),
             |c AS (
             | SELECT tf.doc_id,
             |  CAST(round(round(ln(1 + (n - df + 0.5) / (df + 0.5)), 6) *
             |   (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * (dl.dl / avgdl)))) * 1e6, 0) AS BIGINT) AS fp
             | FROM tf JOIN df USING (tok) JOIN dl ON tf.doc_id = dl.doc_id, st),
             |bm AS (
             | SELECT doc_id, CAST(sum(fp) AS DOUBLE) / 1e6 AS bm25
             | FROM c WHERE doc_id <> 0 GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20),
             |lex AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank FROM bm),
             |qv AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
             |un AS (
             | SELECT e.vec_id, unnest(e.embedding) AS x, unnest(qv.q_emb) AS y
             | FROM embeddings e, qv WHERE e.vec_id <> 0),
             |s AS (
             | SELECT vec_id,
             |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS dot,
             |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS ne,
             |  CAST(CAST(sum(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS nq
             | FROM un GROUP BY vec_id),
             |sims AS (
             | SELECT vec_id AS doc_id, dot / (sqrt(ne) * sqrt(nq)) AS sim FROM s
             | ORDER BY sim DESC, doc_id LIMIT 20),
             |sem AS (SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS sem_rank FROM sims),
             |f AS (
             | SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
             |  COALESCE(lex_rank, 0) AS lex_rank, COALESCE(sem_rank, 0) AS sem_rank
             | FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
             |SELECT doc_id, lex_rank, sem_rank,
             | CAST((CASE WHEN lex_rank = 0 THEN 0
             |            ELSE CAST(round(1e6 / (60 + lex_rank), 0) AS BIGINT) END +
             |       CASE WHEN sem_rank = 0 THEN 0
             |            ELSE CAST(round(1e6 / (60 + sem_rank), 0) AS BIGINT) END) AS DOUBLE) / 1e6 AS rrf
             |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)),
    "q_vocab_pairs" -> Q(
      qVocabPairs,
      Some("""WITH l AS (SELECT string_split(text, ' ') AS t FROM documents),
             |p AS (SELECT t[g] AS a, t[g + 1] AS b
             |      FROM l, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS g) s)
             |SELECT a, b, count(1) AS n
             |FROM p GROUP BY a, b ORDER BY n DESC, a, b LIMIT 50""".stripMargin)),
    "q_bpe_merges" -> Q(qBpeMerges, Some(bpeOracle)),
    "q_bpe_encode" -> Q(qBpeEncode, Some(bpeEncodeOracle)),
    // Min-label propagation UNROLLED (10 rounds of propagate-then-
    // pointer-jump — covers diameter ≤ 2^10; the co-purchase graph is
    // diameter 13 and densification only shrinks it), replacing the
    // r7 recursive-CTE reachability twin whose (id, root) enumeration
    // was quadratic in component size and blew up the ×10 cert (round-8
    // verdict ask #4). Each round is one |E| join + one |V| self-join —
    // linear at any scale. The fixpoint (label = component min id) is
    // propagation-order-proof and exactly the engine's DedupClusters
    // strict min-label, so the hash match certifies the distributed
    // loop. The chk CTE is a CONVERGENCE POISON: if the last two rounds
    // differ the oracle returns 0 rows, failing the compare loudly
    // (mirrors the engine's strict throw — never a silent agreement).
    "q_graph_modularity" -> Q(
      qGraphModularity,
      Some {
        // the label-prop oracle's generated rounds, then the modularity
        // tail over the round-4 labels
        val rounds = (1 to 4)
          .map { r =>
            s"""l$r AS MATERIALIZED (
               | SELECT id, lab FROM (
               |  SELECT id, lab,
               |   row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lab ASC) AS rn
               |  FROM (SELECT id, lab, count(1) AS cnt FROM (
               |    SELECT id, lab FROM l${r - 1}
               |    UNION ALL
               |    SELECT adj.b AS id, p.lab FROM l${r - 1} p JOIN adj ON adj.a = p.id)
               |   GROUP BY id, lab))
               | WHERE rn = 1)""".stripMargin
          }
          .mkString(",\n")
        s"""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |e AS MATERIALIZED (SELECT a.p AS u, b.p AS v FROM it a JOIN it b
           |     ON a.o = b.o AND a.p < b.p
           |     GROUP BY 1, 2 HAVING count(1) >= 2),
           |adj AS MATERIALIZED (SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e),
           |l0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS lab FROM adj),
           |$rounds,
           |dg AS (SELECT a AS id, count(1) AS d FROM adj GROUP BY 1),
           |mm AS (SELECT count(1) AS m FROM e),
           |dc AS (SELECT l.lab, CAST(sum(dg.d) AS BIGINT) AS d_c
           |       FROM l4 l JOIN dg USING (id) GROUP BY 1),
           |ec AS (SELECT lu.lab, count(1) AS e_c
           |       FROM e JOIN l4 lu ON e.u = lu.id JOIN l4 lv ON e.v = lv.id AND lu.lab = lv.lab
           |       GROUP BY 1),
           |terms AS (SELECT dc.lab, CAST(coalesce(ec.e_c, 0) AS BIGINT) AS e_c, dc.d_c
           |          FROM dc LEFT JOIN ec USING (lab))
           |SELECT CAST(mm.m AS BIGINT) AS m_edges, count(1) AS n_comm,
           | CAST(sum(CAST(CAST(e_c AS DOUBLE) / CAST(mm.m AS DOUBLE)
           |   - (CAST(d_c AS DOUBLE) / (2.0 * CAST(mm.m AS DOUBLE)))
           |     * (CAST(d_c AS DOUBLE) / (2.0 * CAST(mm.m AS DOUBLE)))
           |  AS DECIMAL(18,6))) AS DOUBLE) AS modularity
           |FROM terms, mm GROUP BY mm.m""".stripMargin
      }),
    "q_graph_random_walk" -> Q(
      qGraphRandomWalk,
      Some {
        // 4 generated steps; each step joins the prior frontier to the
        // ranked adjacency at the md5-picked neighbor rank — identical
        // hash arithmetic to the engine
        val steps = (1 to 4)
          .map { i =>
            s"""f$i AS MATERIALIZED (
               | SELECT f.start, r.b AS node
               | FROM f${i - 1} f JOIN dg ON f.node = dg.dn
               | JOIN rk r ON r.a = f.node
               |  AND r.rk = CAST(('0x' || substr(md5(CAST(f.node AS VARCHAR) || ':$i'), 1, 15))::UBIGINT
               |               % dg.deg AS BIGINT))""".stripMargin
          }
          .mkString(",\n")
        val unions = (1 to 4)
          .map(i => s"SELECT start, $i AS step, node FROM f$i")
          .mkString(" UNION ALL ")
        s"""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |e AS (SELECT a.p AS u, b.p AS v FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
           |      GROUP BY 1, 2 HAVING count(1) >= 2),
           |adj AS MATERIALIZED (SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e),
           |rk AS MATERIALIZED (SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b) - 1 AS rk
           |                    FROM adj),
           |dg AS MATERIALIZED (SELECT a AS dn, CAST(count(1) AS BIGINT) AS deg FROM adj GROUP BY 1),
           |f0 AS MATERIALIZED (SELECT DISTINCT a AS start, a AS node FROM adj),
           |$steps
           |SELECT start, step, node FROM (
           | SELECT start, 0 AS step, node FROM f0
           | UNION ALL $unions)
           |ORDER BY start, step""".stripMargin
      }),
    "q_graph_random_walk_multi" -> Q(
      (s, d) => randomWalks(s, d, walksPerNode = 2, walkLength = 4),
      Some {
        // the multi-walk dialect of the generator above: the frontier
        // carries the walk index, and the salt mirrors randomWalks'
        // rule — `node:i` for walk 0 (the pinned dialect), `node:i:w`
        // for the independent extra streams
        val steps = (1 to 4)
          .map { i =>
            s"""f$i AS MATERIALIZED (
               | SELECT f.start, f.walk, r.b AS node
               | FROM f${i - 1} f JOIN dg ON f.node = dg.dn
               | JOIN rk r ON r.a = f.node
               |  AND r.rk = CAST(('0x' || substr(md5(CAST(f.node AS VARCHAR) || ':$i' ||
               |      CASE WHEN f.walk = 0 THEN '' ELSE ':' || CAST(f.walk AS VARCHAR) END),
               |      1, 15))::UBIGINT % dg.deg AS BIGINT))""".stripMargin
          }
          .mkString(",\n")
        val unions = (1 to 4)
          .map(i => s"SELECT start, walk, $i AS step, node FROM f$i")
          .mkString(" UNION ALL ")
        s"""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |e AS (SELECT a.p AS u, b.p AS v FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
           |      GROUP BY 1, 2 HAVING count(1) >= 2),
           |adj AS MATERIALIZED (SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e),
           |rk AS MATERIALIZED (SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b) - 1 AS rk
           |                    FROM adj),
           |dg AS MATERIALIZED (SELECT a AS dn, CAST(count(1) AS BIGINT) AS deg FROM adj GROUP BY 1),
           |f0 AS MATERIALIZED (
           | SELECT start, walk, node FROM (SELECT DISTINCT a AS start, a AS node FROM adj)
           | CROSS JOIN (SELECT 0 AS walk UNION ALL SELECT 1 AS walk)),
           |$steps
           |SELECT start, walk, step, node FROM (
           | SELECT start, walk, 0 AS step, node FROM f0
           | UNION ALL $unions)
           |ORDER BY start, walk, step""".stripMargin
      }),
    "q_graph_mst" -> Q(
      qGraphMst,
      Some {
        // generated Borůvka rounds (the q_graph_cc unrolled pattern):
        // per round the cross-component edge view, the per-component
        // rank-1 pick under the SAME total order as the engine, the
        // pick-pair contraction as a recursive min-reachable closure,
        // and the label update. MSF uniqueness under the strict total
        // order (support DESC, u, v) is what lets two different
        // schedules hash-match. chk zeroes the output if 14 rounds did
        // not converge — loud, like the cc oracle.
        val R = 14
        val rounds = (1 to R)
          .map { r =>
            s"""er$r AS MATERIALIZED (
               | SELECT e.u, e.v, e.support, la.lab AS cu, lb.lab AS cv
               | FROM e JOIN l${r - 1} la ON la.id = e.u JOIN l${r - 1} lb ON lb.id = e.v
               | WHERE la.lab <> lb.lab),
               |sym$r AS (SELECT cu AS c, cv AS oc, u, v, support FROM er$r
               |          UNION ALL SELECT cv, cu, u, v, support FROM er$r),
               |pick$r AS MATERIALIZED (
               | SELECT c, oc, u, v, support FROM (
               |  SELECT *, row_number() OVER (PARTITION BY c ORDER BY support DESC, u, v) AS rn
               |  FROM sym$r) WHERE rn = 1),
               |pe$r AS (SELECT c AS a, oc AS b FROM pick$r UNION SELECT oc, c FROM pick$r),
               |reach$r(id, rr) AS (
               | SELECT a, a FROM pe$r
               | UNION
               | SELECT p.a, reach$r.rr FROM pe$r p JOIN reach$r ON reach$r.id = p.b),
               |cl$r AS MATERIALIZED (SELECT id, min(rr) AS newlab FROM reach$r GROUP BY id),
               |l$r AS MATERIALIZED (
               | SELECT l.id, coalesce(cl$r.newlab, l.lab) AS lab
               | FROM l${r - 1} l LEFT JOIN cl$r ON cl$r.id = l.lab)""".stripMargin
          }
          .mkString(",\n")
        val unions = (1 to R).map(r => s"SELECT u, v, support FROM pick$r").mkString(" UNION ALL ")
        s"""WITH RECURSIVE it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |e AS MATERIALIZED (SELECT a.p AS u, b.p AS v, count(1) AS support
           |     FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
           |     GROUP BY 1, 2 HAVING count(1) >= 2),
           |l0 AS MATERIALIZED (SELECT id, id AS lab FROM
           |     (SELECT u AS id FROM e UNION SELECT v FROM e)),
           |$rounds,
           |chk AS (SELECT count(1) AS nbad FROM e JOIN l$R la ON la.id = e.u
           |        JOIN l$R lb ON lb.id = e.v AND la.lab <> lb.lab),
           |mst AS (SELECT DISTINCT u, v, support FROM ($unions))
           |SELECT u, v, CAST(support AS BIGINT) AS support FROM mst, chk WHERE chk.nbad = 0
           |ORDER BY u, v""".stripMargin
      }),
    "q_graph_cc" -> Q(
      qGraphCc,
      Some {
        // MATERIALIZED is load-bearing: each round references the prior
        // label frame three times — inlined, the plan re-derives it
        // exponentially across the 10 rounds (measured: >8 min vs 0.5 s
        // at sf0.01)
        val rounds = (1 to 10)
          .map { r =>
            s"""p$r AS MATERIALIZED (SELECT x.id, least(x.lab, coalesce(m.mn, x.lab)) AS lab
               | FROM l${r - 1} x LEFT JOIN (
               |  SELECT adj.a AS id, min(l.lab) AS mn
               |  FROM adj JOIN l${r - 1} l ON l.id = adj.b GROUP BY adj.a) m ON m.id = x.id),
               |l$r AS MATERIALIZED (SELECT x.id, y.lab FROM p$r x JOIN p$r y ON y.id = x.lab)""".stripMargin
          }
          .mkString(",\n")
        s"""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |e AS (SELECT a.p AS u, b.p AS v FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
           |      GROUP BY 1, 2 HAVING count(1) >= 2),
           |adj AS MATERIALIZED (SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e),
           |l0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS lab FROM adj),
           |$rounds,
           |chk AS (SELECT count(1) AS nbad FROM l10 x JOIN l9 y ON x.id = y.id
           |        AND x.lab <> y.lab)
           |SELECT lab AS component, count(1) AS n_nodes, max(id) AS max_node
           |FROM l10, chk WHERE chk.nbad = 0
           |GROUP BY lab ORDER BY n_nodes DESC, component""".stripMargin
      }),
    // hop budget is CONTRACT (4), so the oracle unrolls exactly; each
    // unrolled round is the engine's frontier-join + min-dist agg
    "q_graph_bfs_hops" -> Q(
      qGraphBfsHops,
      Some {
        // MATERIALIZED rounds (r10): each r$r is referenced twice by the
        // next round — inlined, the frontier chain re-derives the edge
        // join 2^4 times and spills past the cert disk cap on
        // x10-densified graphs (the q_graph_bfs_full formulation,
        // back-ported to the bounded-hops sibling)
        val rounds = (1 to 4)
          .map { r =>
            s"""r$r AS MATERIALIZED (SELECT id, min(d) AS d FROM (
               | SELECT id, d FROM r${r - 1}
               | UNION ALL
               | SELECT adj.b AS id, p.d + 1 AS d FROM r${r - 1} p JOIN adj ON adj.a = p.id)
               | GROUP BY id)""".stripMargin
          }
          .mkString(",\n")
        s"""WITH it AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |e AS MATERIALIZED (SELECT a.p AS u, b.p AS v FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
           |      GROUP BY 1, 2 HAVING count(1) >= 2),
           |adj AS MATERIALIZED (SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e),
           |r0 AS (SELECT * FROM (SELECT min(u) AS id, 0 AS d FROM e) WHERE id IS NOT NULL),
           |$rounds,
           |reach AS (SELECT CAST(d AS INT) AS hops, count(1) AS n_nodes,
           |          min(id) AS min_node, max(id) AS max_node FROM r4 GROUP BY 1),
           |unr AS (SELECT -1 AS hops, count(1) AS n_nodes,
           |        min(id) AS min_node, max(id) AS max_node
           |        FROM (SELECT DISTINCT a AS id FROM adj)
           |        WHERE id NOT IN (SELECT id FROM r4))
           |SELECT * FROM reach UNION ALL SELECT * FROM unr ORDER BY hops""".stripMargin
      }),
    // Unbounded strict-convergence BFS: the oracle unrolls
    // BfsOracleRounds MATERIALIZED min-dist rounds (inlined CTEs would
    // re-derive exponentially — the q_graph_cc lesson) and poisons the
    // output to 0 rows unless the last two rounds agree, so an engine
    // run needing deeper rounds than the oracle models fails LOUDLY.
    "q_graph_bfs_full" -> Q(
      qGraphBfsFull,
      Some {
        val n = BfsOracleRounds
        val rounds = (1 to n)
          .map { r =>
            s"""r$r AS MATERIALIZED (SELECT id, min(d) AS d FROM (
               | SELECT id, d FROM r${r - 1}
               | UNION ALL
               | SELECT adj.b AS id, p.d + 1 AS d FROM r${r - 1} p JOIN adj ON adj.a = p.id)
               | GROUP BY id)""".stripMargin
          }
          .mkString(",\n")
        s"""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |e AS (SELECT a.p AS u, b.p AS v FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
           |      GROUP BY 1, 2 HAVING count(1) >= 2),
           |adj AS MATERIALIZED (SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e),
           |r0 AS (SELECT * FROM (SELECT min(u) AS id, 0 AS d FROM e) WHERE id IS NOT NULL),
           |$rounds,
           |chk AS (SELECT (SELECT count(1) FROM r$n) -
           |        (SELECT count(1) FROM r$n x JOIN r${n - 1} y ON x.id = y.id
           |         AND x.d = y.d) AS nbad),
           |reach AS (SELECT CAST(d AS INT) AS hops, count(1) AS n_nodes,
           |          min(id) AS min_node, max(id) AS max_node FROM r$n GROUP BY 1),
           |unr AS (SELECT -1 AS hops, count(1) AS n_nodes,
           |        min(id) AS min_node, max(id) AS max_node
           |        FROM (SELECT DISTINCT a AS id FROM adj)
           |        WHERE id NOT IN (SELECT id FROM r$n))
           |SELECT hops, n_nodes, min_node, max_node
           |FROM (SELECT * FROM reach UNION ALL SELECT * FROM unr), chk
           |WHERE chk.nbad = 0 ORDER BY hops""".stripMargin
      }),
    // round budget is CONTRACT (4 peels at k = 3): the oracle unrolls
    // degree-filter + induced-subgraph four times; convergence shows in
    // the output as equal consecutive rows rather than being assumed
    "q_graph_kcore" -> Q(
      qGraphKcore,
      Some {
        // every CTE is MATERIALIZED: each e$r is referenced three times
        // by its round (twice via a, once by the next e) — inlined, the
        // edge-derivation chain re-evaluates exponentially and spills
        // past the cert disk cap on x10-densified graphs (the
        // q_graph_cc / q_graph_bfs_full lesson, applied r10)
        val rounds = (1 to 4)
          .map { r =>
            s"""a${r - 1} AS MATERIALIZED (SELECT u, v FROM e${r - 1}
               |  UNION ALL SELECT v AS u, u AS v FROM e${r - 1}),
               |k$r AS MATERIALIZED (SELECT u AS id FROM a${r - 1} GROUP BY 1 HAVING count(1) >= 3),
               |e$r AS MATERIALIZED (SELECT u, v FROM e${r - 1}
               |  WHERE u IN (SELECT id FROM k$r) AND v IN (SELECT id FROM k$r))""".stripMargin
          }
          .mkString(",\n")
        val heads = (1 to 4)
          .map(r => s"SELECT $r AS round, (SELECT count(1) FROM k$r) AS n_nodes, " +
            s"(SELECT count(1) FROM e$r) AS n_edges")
          .mkString("\n UNION ALL ")
        s"""WITH it AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |e0 AS MATERIALIZED (SELECT a.p AS u, b.p AS v FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
           |      GROUP BY 1, 2 HAVING count(1) >= 2),
           |$rounds
           |$heads
           |ORDER BY round""".stripMargin
      }),
    "q_graph_label_prop" -> Q(
      qGraphLabelProp,
      Some {
        val rounds = (1 to 4)
          .map { r =>
            s"""l$r AS MATERIALIZED (
               | SELECT id, lab FROM (
               |  SELECT id, lab,
               |   row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lab ASC) AS rn
               |  FROM (SELECT id, lab, count(1) AS cnt FROM (
               |    SELECT id, lab FROM l${r - 1}
               |    UNION ALL
               |    SELECT adj.b AS id, p.lab FROM l${r - 1} p JOIN adj ON adj.a = p.id)
               |   GROUP BY id, lab))
               | WHERE rn = 1)""".stripMargin
          }
          .mkString(",\n")
        val heads = (0 to 4)
          .map(r =>
            s"""SELECT $r AS round, count(1) AS n_comm, max(sz) AS largest,
               | CAST(sum(lab * sz) AS BIGINT) AS checksum
               |FROM (SELECT lab, count(1) AS sz FROM l$r GROUP BY lab)""".stripMargin)
          .mkString("\n UNION ALL ")
        s"""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |e AS (SELECT a.p AS u, b.p AS v FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
           |      GROUP BY 1, 2 HAVING count(1) >= 2),
           |adj AS MATERIALIZED (SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e),
           |l0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS lab FROM adj),
           |$rounds
           |$heads
           |ORDER BY round""".stripMargin
      }),
    "q_graph_degree_dist" -> Q(
      qGraphDegreeDist,
      Some("""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |e AS (SELECT a.p AS u, b.p AS v FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
             |      GROUP BY 1, 2 HAVING count(1) >= 2),
             |deg AS (SELECT node, count(1) AS degree
             |        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
             |        GROUP BY node)
             |SELECT degree, count(1) AS n_nodes FROM deg
             |GROUP BY degree ORDER BY degree""".stripMargin)),
    "q_graph_triangles" -> Q(
      qGraphTriangles,
      Some("""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |e AS (SELECT a.p AS u, b.p AS v FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
             |      GROUP BY 1, 2 HAVING count(1) >= 2),
             |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
             |        FROM e e1 JOIN e e2 ON e1.v = e2.u
             |        JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v)
             |SELECT node, count(1) AS n_tri
             |FROM (SELECT unnest([x, y, z]) AS node FROM tri)
             |GROUP BY node ORDER BY n_tri DESC, node LIMIT 20""".stripMargin)),
    "q_graph_common_neighbors" -> Q(
      qGraphCommonNeighbors,
      Some("""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |e AS (SELECT a.p AS u, b.p AS v FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
             |      GROUP BY 1, 2 HAVING count(1) >= 2),
             |adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
             |deg AS (SELECT u, count(1) AS deg FROM adj GROUP BY u),
             |inter AS (
             | SELECT x.u AS a, y.u AS b, count(1) AS n_common
             | FROM adj x JOIN adj y ON x.v = y.v AND x.u < y.u
             | GROUP BY 1, 2)
             |SELECT a, b, n_common,
             | round(CAST(n_common AS DOUBLE) / (da.deg + db.deg - n_common), 6) AS jaccard
             |FROM inter JOIN deg da ON a = da.u JOIN deg db ON b = db.u
             |ORDER BY jaccard DESC, a, b LIMIT 20""".stripMargin)),
    // The production scale path: same semantics except wedge centers with
    // degree > 32 are excluded from n_common (the cap is replicated in the
    // oracle's `dc.deg <= 32` join, so the hash match certifies the capped
    // semantics at any scale). Endpoint degrees stay uncapped.
    "q_graph_common_neighbors_capped" -> Q(
      qGraphCommonNeighborsCapped,
      Some("""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |e AS (SELECT a.p AS u, b.p AS v FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
             |      GROUP BY 1, 2 HAVING count(1) >= 2),
             |adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
             |deg AS (SELECT u, count(1) AS deg FROM adj GROUP BY u),
             |inter AS (
             | SELECT x.u AS a, y.u AS b, count(1) AS n_common
             | FROM adj x JOIN adj y ON x.v = y.v AND x.u < y.u
             | JOIN deg dc ON x.v = dc.u AND dc.deg <= 32
             | GROUP BY 1, 2)
             |SELECT a, b, n_common,
             | round(CAST(n_common AS DOUBLE) / (da.deg + db.deg - n_common), 6) AS jaccard
             |FROM inter JOIN deg da ON a = da.u JOIN deg db ON b = db.u
             |ORDER BY jaccard DESC, a, b LIMIT 20""".stripMargin)),
    // ln only over integer degrees, per-term micro quantization, exact
    // integer pair sums — the float-parity discipline that makes the
    // hash match hold at any scale (same cap join as the capped entry).
    "q_graph_adamic_adar" -> Q(
      qGraphAdamicAdar,
      Some("""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |e AS (SELECT a.p AS u, b.p AS v FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
             |      GROUP BY 1, 2 HAVING count(1) >= 2),
             |adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
             |deg AS (SELECT u, count(1) AS deg FROM adj GROUP BY u),
             |inter AS (
             | SELECT x.u AS a, y.u AS b, count(1) AS n_common,
             |  sum(CAST(round(1e6 / ln(CAST(dc.deg AS DOUBLE)), 0) AS BIGINT)) AS aa_micro
             | FROM adj x JOIN adj y ON x.v = y.v AND x.u < y.u
             | JOIN deg dc ON x.v = dc.u AND dc.deg <= 32
             | GROUP BY 1, 2)
             |SELECT a, b, n_common, CAST(aa_micro AS DOUBLE) / 1e6 AS adamic_adar
             |FROM inter ORDER BY adamic_adar DESC, a, b LIMIT 20""".stripMargin)),
    "q_dq_skew" -> Q(
      qDqSkew,
      Some("""WITH c AS (SELECT user_id, count(1) AS cnt FROM events GROUP BY user_id),
             |t AS (SELECT sum(cnt) AS total, count(1) AS n_keys FROM c)
             |SELECT user_id, cnt,
             | CAST(round(cnt * 1e6 / total, 0) AS BIGINT) AS share_ppm,
             | round(CAST(cnt AS DOUBLE) * n_keys / total, 6) AS x_avg
             |FROM c, t ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin)),
    "q_dedup_url" -> Q(
      qDedupUrl,
      Some("""SELECT 'https://' || source || '.example.com/item/' || (doc_id % 40) AS canonical,
             | min(doc_id) AS keep_id, count(1) AS n_urls
             |FROM documents
             |GROUP BY 1 ORDER BY canonical""".stripMargin)),
    "q_multimodal_png" -> Q(
      qMultimodalPng,
      Some("""WITH g AS (
             | SELECT doc_id, CAST(i.idx AS INT) AS idx
             | FROM documents, LATERAL (SELECT unnest(generate_series(0, 63)) AS idx) i),
             |v AS (
             | SELECT doc_id, idx,
             |  CASE WHEN doc_id % 3 = 0 AND idx = doc_id % 64
             |   THEN 240 - (CASE WHEN (((doc_id % 97) * 2654435761 + idx * 40503) // 128) % 2 = 0
             |               THEN 20 ELSE 220 END)
             |   ELSE (CASE WHEN (((doc_id % 97) * 2654435761 + idx * 40503) // 128) % 2 = 0
             |         THEN 20 ELSE 220 END) END AS lum
             | FROM g),
             |m AS (SELECT doc_id, CAST(sum(lum) AS BIGINT) // 64 AS mean FROM v GROUP BY doc_id),
             |bits AS (
             | SELECT v.doc_id, idx, CASE WHEN lum > mean THEN 1 ELSE 0 END AS bt
             | FROM v JOIN m USING (doc_id)),
             |segs AS (
             | SELECT doc_id, idx // 16 AS seg,
             |  CAST(sum(bt * (1 << (idx % 16))) AS INT) AS sv
             | FROM bits GROUP BY doc_id, idx // 16)
             |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
             | CAST(8 AS INT) AS bit_depth, CAST(0 AS INT) AS color_type,
             | CAST(3 AS INT) AS n_chunks, TRUE AS crc_ok,
             | CAST(max(CASE WHEN seg = 0 THEN sv END) AS INT) AS s0,
             | CAST(max(CASE WHEN seg = 1 THEN sv END) AS INT) AS s1,
             | CAST(max(CASE WHEN seg = 2 THEN sv END) AS INT) AS s2,
             | CAST(max(CASE WHEN seg = 3 THEN sv END) AS INT) AS s3
             |FROM segs GROUP BY doc_id ORDER BY doc_id""".stripMargin)))
}
