package graft.queries

import graft.{Q, Tables}
import graft.functions.ScaledDot
import graft.operators.Materialize
import graft.Tables.{davg, dsum}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (SURVEY.md §2.2-C): dedup (exact,
  * n-gram Jaccard incl. df-capped, MinHash/LSH, SimHash + pigeonhole
  * pairs, embedding-cosine + banded LSH), similarity search (brute-force
  * + probe-ball ANN), text analysis (stats, quality, lang-id, BPE-ish
  * token counts, fingerprints — all via codegen kernels), deterministic
  * sampling / train-val-test splits, sessionization, and multimodal
  * binary-column plumbing (1:1 decode-meta and 1:N frame sampling).
  *
  * Scale notes are inline per operator; the shared principle: candidate
  * generation is always a key-equality shuffle (shingle / band / bucket
  * join), never an O(n²) comparison — the quadratic variants that exist
  * here (`q_dedup_ngram`, `q_dedup_embed`) are the small-side oracles for
  * the LSH scale paths.
  */
object LlmOps {

  // Token semantics everywhere (kernels and oracles alike): split on the
  // single space character, drop empties — the oracle side spells it
  // list_filter(string_split(text, ' '), t -> t <> '').
  private[queries] val DOCS_T = "(SELECT doc_id, text, lang, source, n_chars, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)"

  /** ONE oracle-side definition of "distinct 3-token shingles per doc" —
    * the shared CTE body of every shingle-family oracle (ngram /
    * ngram_capped / containment / clusters / droplist / MinHash). The
    * near-eval oracle judges MinHash candidates against the ngram ground
    * truth, so the two MUST tokenize and shingle identically — a single
    * definition removes that drift surface (q_decontaminate consumes it
    * too, adding its split-bucket column in a wrapper CTE).
    */
  private[queries] val SHINGLE_DOCS: String =
    """ SELECT doc_id, list_distinct(
      |   CASE WHEN len(toks) >= 3 THEN
      |     list_transform(generate_series(1, len(toks) - 2),
      |       i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
      |   ELSE [] END) AS shingles
      | FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)""".stripMargin

  /** Hashed twin of [[SHINGLE_DOCS]] (expects a `docs` CTE in scope):
    * per-doc distinct 64-bit shingle hashes, replaying
    * [[graft.functions.Shingles3Hashed]] exactly — distinctness applies
    * AFTER hashing, as in the kernel. UBIGINT equality ≡ the engine's
    * signed-long equality (same 64 bits), and no hash value reaches any
    * output column, so no sign conversion is needed.
    */
  private[queries] def shingleHashList(from: String): String =
    s""" SELECT doc_id, list_distinct(list_transform(shingles,
       |   s -> ('0x' || substr(md5(s), 1, 16))::UBIGINT)) AS hs
       | FROM $from""".stripMargin

  private[queries] val SHINGLE_HASH_LIST: String = shingleHashList("docs")

  /** DuckDB twin of the [[graft.functions.MinHash16]] kernel +
    * banded-LSH candidate join, shared by the `q_dedup_near` /
    * `q_dedup_near_eval` oracles: distinct 3-token shingles, per-shingle
    * base hash = first 16 md5 hex chars as UBIGINT reduced mod P
    * (identical to the kernel's unsigned-mod of the first 8 MD5 bytes),
    * 16 affine-permutation MINs, candidates = pairs agreeing on at least
    * one of the 4 four-hash bands (tuple equality on BOTH sides since
    * round 7: the engine joins on the band struct itself, so the
    * candidate sets are identical by construction, no collision caveat).
    * A CTE body (no leading WITH) so callers can append their own CTEs.
    */
  private[queries] val MINHASH_CAND: String = {
    val P = 2038074743L
    val mins = (0 until 16)
      .map(k => s"min((h * ${1L + 37L * k} + ${101L + 97L * k}) % $P) AS m$k")
      .mkString(",\n  ")
    val bands = (0 until 4)
      .map(b => "(" + (0 until 4).map(j => s"a.m${4 * b + j} = b.m${4 * b + j}").mkString(" AND ") + ")")
      .mkString("\n   OR ")
    val nmatch = (0 until 16).map(k => s"CAST(a.m$k = b.m$k AS INT)").mkString(" + ")
    s"""mh_docs AS (
       |$SHINGLE_DOCS),
       |mh_bh AS (
       | SELECT doc_id,
       |  CAST((('0x' || substr(md5(sh), 1, 16))::UBIGINT) % $P AS BIGINT) AS h
       | FROM (SELECT doc_id, unnest(shingles) AS sh FROM mh_docs)),
       |mh_sig AS (
       | SELECT doc_id,
       |  $mins
       | FROM mh_bh GROUP BY doc_id),
       |mh_cand AS (
       | SELECT a.doc_id AS d1, b.doc_id AS d2,
       |  CAST($nmatch AS DOUBLE) / 16 AS est_sim
       | FROM mh_sig a JOIN mh_sig b ON a.doc_id < b.doc_id AND (
       |   $bands))""".stripMargin
  }

  /** DuckDB twin of the [[graft.functions.SimHash64]] kernel, shared by
    * both SimHash oracles: per-token hash = first 16 md5 hex chars as
    * UBIGINT (identical bit pattern to the kernel's first-8-MD5-bytes
    * long), 64 ±1-vote sums, sign assembly through HUGEINT with the 2^63
    * bit contributing negatively so the BIGINT cast reproduces the JVM's
    * two's-complement signature exactly. Token-less docs vanish at the
    * unnest, matching the kernel's NULL-signature filter.
    */
  private[queries] val SIMHASH_SIG: String = {
    val votes = (0 until 64)
      .map(j => s"sum(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n  ")
    val assemble = ((0 until 63)
      .map(j => s"CASE WHEN v$j > 0 THEN CAST(1 AS HUGEINT) << $j ELSE CAST(0 AS HUGEINT) END") :+
      "CASE WHEN v63 > 0 THEN -(CAST(1 AS HUGEINT) << 63) ELSE CAST(0 AS HUGEINT) END")
      .mkString(" + ")
    s"""WITH tok AS (
       | SELECT doc_id, unnest(toks) AS t FROM $DOCS_T
       |),
       |th AS (
       | SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h FROM tok
       |),
       |v AS (
       | SELECT doc_id,
       |  $votes
       | FROM th GROUP BY doc_id
       |),
       |sig AS (
       | SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM v
       |)""".stripMargin
  }

  /** DuckDB twin of the [[graft.functions.HyperPlanes]] signature family,
    * shared by the `q_dedup_embed_lsh` / `q_sim_ann` oracles: the ±1
    * planes are inlined as 64-bit sign-mask BIGINT literals generated from
    * the SAME Scala constants the kernels read (the
    * generate-the-oracle-from-the-Scala-constants house pattern), each
    * embedding element is quantized ONCE (`round(x·1e12)` — the kernel's
    * scaled-round-sum dot against a ±1 plane is exactly ±that quantum,
    * summed, because roundHalfAway is odd and float-by-±1 products are
    * IEEE-exact), and key bit k of band b is the sign of plane
    * (b·bandBits + k)'s dot: [[graft.functions.PlaneSig16]] bands are the
    * (nPlanes=16, bandBits=4) instance, the
    * [[graft.functions.PlaneSig64]]-pair 8×16-bit banding of `q_sim_ann`
    * the (128, 16) instance. Produces a `pkeys(vec_id, band, key)` CTE
    * body (no leading WITH).
    */
  private def planeKeysCte(nPlanes: Int, bandBits: Int): String = {
    val masks = (0 until nPlanes)
      .map(j => s"($j, CAST(${graft.functions.HyperPlanes.signMask(j)} AS BIGINT))")
      .mkString(", ")
    s"""pl(j, mask) AS (VALUES $masks),
       |prr AS (
       | SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
       |  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e12, 0) AS BIGINT) AS r
       | FROM embeddings),
       |pdots AS (
       | SELECT prr.vec_id, pl.j,
       |  sum(CASE WHEN ((pl.mask >> prr.i) & 1) = 1 THEN prr.r ELSE -prr.r END) AS s
       | FROM prr, pl GROUP BY 1, 2),
       |pkeys AS (
       | SELECT vec_id, CAST(j // $bandBits AS INT) AS band,
       |  CAST(sum(CASE WHEN s > 0 THEN (1 << (j % $bandBits)) ELSE 0 END) AS INT) AS key
       | FROM pdots GROUP BY 1, 2)""".stripMargin
  }

  /** The exact fixed-point pairwise-cosine tail every embedding oracle
    * shares (dot/n1/n2 via the ScaledDot 1e12 quantum over a `pr(v1, v2,
    * e1, e2)` CTE) — kept textually identical to the `q_dedup_embed`
    * oracle so the exact twin and the LSH subset cannot drift.
    */
  private val PAIR_DOT_TAIL =
    """un AS (SELECT v1, v2, unnest(e1) AS x, unnest(e2) AS y FROM pr),
      |s AS (
      | SELECT v1, v2,
      |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS dot,
      |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS n1,
      |  CAST(CAST(sum(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS n2
      | FROM un GROUP BY v1, v2)""".stripMargin

  /** The query-vs-corpus rerank tail shared by the `q_sim_ann` /
    * `q_sim_ann_ivf` oracles: exact fixed-point cosine of every corpus
    * vector in `sel(vec_id)` against vec 0, top 10 by (sim DESC, vec_id)
    * — textually the `q_sim_topk` oracle restricted to the candidate set.
    */
  private val ANN_RERANK_TAIL =
    """q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
      |un AS (
      | SELECT e.vec_id, e.label, unnest(e.embedding) AS x, unnest(q.q_emb) AS y
      | FROM embeddings e, q WHERE e.vec_id IN (SELECT vec_id FROM sel)),
      |s AS (
      | SELECT vec_id, any_value(label) AS label,
      |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS dot,
      |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS ne,
      |  CAST(CAST(sum(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS nq
      | FROM un GROUP BY vec_id)
      |SELECT vec_id, label, dot / (sqrt(ne) * sqrt(nq)) AS sim FROM s
      |ORDER BY sim DESC, vec_id ASC LIMIT 10""".stripMargin

  /** The IVF build CTE chain (ue corpus explode, c0 id-ordered seeds,
    * two unrolled Lloyd rounds a1/c1/a2/c2, final assignment a3) shared
    * by the `q_sim_ann_ivf` and `q_ann_recall_ivf` oracles — only the
    * corpus predicate and seed id range differ (single-query index:
    * corpus ≠ 0, seeds 1..16; recall eval: corpus ≥ 5, seeds 5..20).
    * The 2 Lloyd iterations are unrolled as CTE pairs (assignment a_n,
    * float-rounded decimal-mean centroids c_n) — the `q_embed_pca`
    * unrolled-power-iteration precedent. Every arithmetic step replays
    * the engine exactly: the 1e12 scaled-round-sum dot in the L2
    * assignment distance (same `vv - 2·vc + cc` association), HALF_UP
    * DECIMAL(18,6) means CAST to FLOAT (the Seq[Float] model state).
    */
  private def ivfBuildCtes(corpusWhere: String, seedLo: Int, seedHi: Int): String = {
    def assign(name: String, cents: String): String =
      s"""$name AS (
         | SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
         |  FROM (
         |   SELECT ue.vec_id, c.cid,
         |    CAST(CAST(sum(CAST(round(ue.x * ue.x * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12
         |     - CAST(2 AS DOUBLE) * (CAST(CAST(sum(CAST(round(ue.x * c.c * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12)
         |     + CAST(CAST(sum(CAST(round(c.c * c.c * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS dist
         |   FROM ue JOIN $cents c USING (i) GROUP BY 1, 2))
         | WHERE rk = 1)""".stripMargin
    def update(name: String, assignName: String): String =
      s"""$name AS (
         | SELECT a.cid, ue.i,
         |  CAST(CAST(CAST(sum(CAST(ue.x AS DECIMAL(18,6))) AS DOUBLE) / count(ue.x) AS FLOAT) AS DOUBLE) AS c
         | FROM $assignName a JOIN ue USING (vec_id) GROUP BY 1, 2)""".stripMargin
    s"""ue AS (
       | SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
       |  CAST(unnest(embedding) AS DOUBLE) AS x
       | FROM embeddings WHERE $corpusWhere),
       |c0 AS (
       | SELECT CAST(dense_rank() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, i, x AS c
       | FROM ue WHERE vec_id BETWEEN $seedLo AND $seedHi),
       |${assign("a1", "c0")},
       |${update("c1", "a1")},
       |${assign("a2", "c1")},
       |${update("c2", "a2")},
       |${assign("a3", "c2")}""".stripMargin
  }

  /** DuckDB twin of `q_sim_ann_ivf`: [[ivfBuildCtes]] + the
    * single-query probe tail (fixed-point probe distance over the final
    * centroids, top-4 clusters, the `q_sim_topk` rerank over their
    * members via [[ANN_RERANK_TAIL]]).
    */
  private def ivfOracle: String = {
    s"""WITH ${ivfBuildCtes("vec_id <> 0", 1, 16)},
       |qe AS (
       | SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
       |  CAST(unnest(embedding) AS DOUBLE) AS x
       | FROM embeddings WHERE vec_id = 0),
       |pd AS (
       | SELECT c.cid, sum(CAST(round((c.c - qe.x) * (c.c - qe.x) * 1e12, 0) AS BIGINT)) AS d
       | FROM c2 c JOIN qe USING (i) GROUP BY 1),
       |probes AS (SELECT cid FROM pd ORDER BY d, cid LIMIT 4),
       |sel AS (SELECT vec_id FROM a3 JOIN probes USING (cid)),
       |$ANN_RERANK_TAIL""".stripMargin
  }

  /** The batch recall readout shared by the LSH/IVF/PQ recall-eval
    * oracles: expects a `sel(q_id, vec_id)` candidate CTE, computes the
    * exact fixed-point cosine frame over queries 0-4 × corpus ≥ 5,
    * ranks both arms, and emits (q_id, n_candidates, n_hit, recall) —
    * ONE text for all three harnesses so the recall matrix's rows
    * cannot drift.
    */
  private val ANN_RECALL_TAIL =
    """qv AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
      |un AS (
      | SELECT qv.q_id, e.vec_id, unnest(e.embedding) AS x, unnest(qv.q_emb) AS y
      | FROM embeddings e, qv WHERE e.vec_id >= 5),
      |s AS (
      | SELECT q_id, vec_id,
      |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS dot,
      |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS ne,
      |  CAST(CAST(sum(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS nq
      | FROM un GROUP BY q_id, vec_id),
      |ex AS (
      | SELECT q_id, vec_id FROM (
      |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
      |    ORDER BY dot / (sqrt(ne) * sqrt(nq)) DESC, vec_id ASC) AS rk FROM s)
      | WHERE rk <= 10),
      |ann AS (
      | SELECT q_id, vec_id FROM (
      |  SELECT s.q_id, s.vec_id, row_number() OVER (PARTITION BY s.q_id
      |    ORDER BY dot / (sqrt(ne) * sqrt(nq)) DESC, s.vec_id ASC) AS rk
      |  FROM s JOIN sel ON s.q_id = sel.q_id AND s.vec_id = sel.vec_id)
      | WHERE rk <= 10),
      |h AS (SELECT q_id, count(1) AS n_hit FROM ann JOIN ex USING (q_id, vec_id) GROUP BY 1),
      |nc AS (SELECT q_id, count(1) AS n_candidates FROM sel GROUP BY 1)
      |SELECT q.q_id, coalesce(nc.n_candidates, 0) AS n_candidates,
      | coalesce(h.n_hit, 0) AS n_hit,
      | CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 10 AS recall
      |FROM (SELECT q_id FROM qv) q
      |LEFT JOIN nc USING (q_id) LEFT JOIN h USING (q_id)
      |ORDER BY q_id""".stripMargin

  /** DuckDB twin of `q_ann_recall_ivf`: the [[ivfBuildCtes]] chain over
    * the query-free corpus (vec_id ≥ 5, seeds 5..20), per-QUERY probe
    * distances (pd grouped by q_id, row_number top-4 per query), the
    * probed members as (q_id, vec_id) candidates, and the shared
    * [[ANN_RECALL_TAIL]].
    */
  private def annRecallIvfOracle: String =
    s"""WITH ${ivfBuildCtes("vec_id >= 5", 5, 20)},
       |qe AS (
       | SELECT vec_id AS q_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
       |  CAST(unnest(embedding) AS DOUBLE) AS x
       | FROM embeddings WHERE vec_id < 5),
       |pd AS (
       | SELECT qe.q_id, c.cid, sum(CAST(round((c.c - qe.x) * (c.c - qe.x) * 1e12, 0) AS BIGINT)) AS d
       | FROM c2 c JOIN qe USING (i) GROUP BY 1, 2),
       |probes AS (
       | SELECT q_id, cid FROM (
       |  SELECT q_id, cid, row_number() OVER (PARTITION BY q_id ORDER BY d, cid) AS rk
       |  FROM pd)
       | WHERE rk <= 4),
       |sel AS (SELECT p.q_id, a.vec_id FROM a3 a JOIN probes p USING (cid)),
       |$ANN_RECALL_TAIL""".stripMargin

  /** DuckDB twin of `q_ann_recall_pq`: the [[pqOracle]] build chain over
    * the query-free corpus (vec_id ≥ 5, seeds 5..20 → codes 0..15),
    * per-QUERY LUTs (que/lut grouped by q_id), per-(q_id, vec_id) ADC
    * sums, top-50 per query as the candidate set, and the shared
    * [[ANN_RECALL_TAIL]].
    */
  private def annRecallPqOracle: String =
    s"""WITH ${pqBuildCtes("vec_id >= 5", 5, 20)},
       |que AS (
       | SELECT vec_id AS q_id,
       |  CAST((generate_subscripts(embedding, 1) - 1) // 8 AS INT) AS m,
       |  CAST((generate_subscripts(embedding, 1) - 1) % 8 AS INT) AS pos,
       |  CAST(unnest(embedding) AS DOUBLE) AS x
       | FROM embeddings WHERE vec_id < 5),
       |lut AS (
       | SELECT q.q_id, c.m, c.code,
       |  CAST(round(list_reduce(
       |   list_prepend(CAST(0.0 AS DOUBLE),
       |    list(CAST(CAST(q.x - c.c AS FLOAT) AS DOUBLE) * CAST(CAST(q.x - c.c AS FLOAT) AS DOUBLE)
       |         ORDER BY c.pos)),
       |   (a, b) -> a + b) * 1e6, 0) AS BIGINT) AS d_micro
       | FROM cb2 c JOIN que q ON q.m = c.m AND q.pos = c.pos
       | GROUP BY 1, 2, 3),
       |adc AS (
       | SELECT l.q_id, a.vec_id, sum(l.d_micro) AS adc
       | FROM a3 a JOIN lut l ON a.m = l.m AND a.code = l.code
       | GROUP BY 1, 2),
       |sel AS (
       | SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, vec_id ASC) AS rk
       |  FROM adc)
       | WHERE rk <= 50),
       |$ANN_RECALL_TAIL""".stripMargin

  /** The PQ codebook build CTE chain (ue/sue corpus subvector explode,
    * cb0 id-ordered seed slices, two unrolled Lloyd rounds
    * a1/cb1/a2/cb2, final code assignment a3) shared by the
    * `q_sim_ann_pq` and `q_ann_recall_pq` oracles — only the corpus
    * predicate and seed id range differ. The "8 nested k-means" turn
    * out to be ONE k-means with the subspace index `m` as an extra
    * GROUP BY key — subvector rows are (vec_id, m, pos, x), so each
    * Lloyd round is a single assignment/update CTE pair exactly like
    * [[ivfBuildCtes]]'s. Per-step parity with the engine:
    *   - assignment distance replays `sqDist` EXACTLY as the engine
    *     associates it: (La + Lb) as exact BIGINT sum cast to DOUBLE,
    *     minus 2.0 × Lab — all three the 1e12 scaled-round-sum dots;
    *     `min_by(code, struct(d, code))` twins as row_number ORDER BY
    *     d, code;
    *   - codeword means are the davg contract (DECIMAL(18,6) sum /
    *     count) with the driver's `.toFloat` as CAST to FLOAT.
    */
  private def pqBuildCtes(corpusWhere: String, seedLo: Int, seedHi: Int): String = {
    def assign(name: String, cents: String): String =
      s"""$name AS (
         | SELECT vec_id, m, code FROM (
         |  SELECT vec_id, m, code,
         |   row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rk
         |  FROM (
         |   SELECT s.vec_id, s.m, c.code,
         |    CAST(sum(CAST(round(s.x * s.x * 1e12, 0) AS BIGINT))
         |       + sum(CAST(round(c.c * c.c * 1e12, 0) AS BIGINT)) AS DOUBLE)
         |     - 2.0 * CAST(sum(CAST(round(s.x * c.c * 1e12, 0) AS BIGINT)) AS DOUBLE) AS d
         |   FROM sue s JOIN $cents c ON s.m = c.m AND s.pos = c.pos
         |   GROUP BY 1, 2, 3))
         | WHERE rk = 1)""".stripMargin
    def update(name: String, assignName: String): String =
      s"""$name AS (
         | SELECT a.m, a.code, s.pos,
         |  CAST(CAST(CAST(sum(CAST(s.x AS DECIMAL(18,6))) AS DOUBLE) / count(s.x) AS FLOAT) AS DOUBLE) AS c
         | FROM $assignName a JOIN sue s ON a.vec_id = s.vec_id AND a.m = s.m
         | GROUP BY 1, 2, 3)""".stripMargin
    s"""ue AS (
       | SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
       |  CAST(unnest(embedding) AS DOUBLE) AS x
       | FROM embeddings WHERE $corpusWhere),
       |sue AS (SELECT vec_id, CAST(i // 8 AS INT) AS m, CAST(i % 8 AS INT) AS pos, x FROM ue),
       |cb0 AS (
       | SELECT CAST(i // 8 AS INT) AS m, CAST(vec_id - $seedLo AS INT) AS code,
       |  CAST(i % 8 AS INT) AS pos, x AS c
       | FROM ue WHERE vec_id BETWEEN $seedLo AND $seedHi),
       |${assign("a1", "cb0")},
       |${update("cb1", "a1")},
       |${assign("a2", "cb1")},
       |${update("cb2", "a2")},
       |${assign("a3", "cb2")}""".stripMargin
  }

  /** DuckDB twin of `q_sim_ann_pq`: [[pqBuildCtes]] + the single-query
    * LUT/ADC/rerank tail. The query LUT replays the driver's float
    * math: (q − c) is a FLOAT subtraction (two floats' difference is
    * exact in DOUBLE, so CAST(x−c AS FLOAT) ≡ Float `-`), squared in
    * DOUBLE, summed in pos order via list_reduce (double addition is
    * order-sensitive; SUM() order is not guaranteed), then
    * round(d·1e6) — half-away ≡ Math.round for the non-negative d. ADC
    * partial sums are LONG (order-independent), top-50 with vec_id
    * tiebreak, then the shared [[ANN_RERANK_TAIL]].
    */
  private def pqOracle: String = {
    s"""WITH ${pqBuildCtes("vec_id <> 0", 1, 16)},
       |que AS (
       | SELECT CAST((generate_subscripts(embedding, 1) - 1) // 8 AS INT) AS m,
       |  CAST((generate_subscripts(embedding, 1) - 1) % 8 AS INT) AS pos,
       |  CAST(unnest(embedding) AS DOUBLE) AS x
       | FROM embeddings WHERE vec_id = 0),
       |lut AS (
       | SELECT c.m, c.code,
       |  CAST(round(list_reduce(
       |   list_prepend(CAST(0.0 AS DOUBLE),
       |    list(CAST(CAST(q.x - c.c AS FLOAT) AS DOUBLE) * CAST(CAST(q.x - c.c AS FLOAT) AS DOUBLE)
       |         ORDER BY c.pos)),
       |   (a, b) -> a + b) * 1e6, 0) AS BIGINT) AS d_micro
       | FROM cb2 c JOIN que q ON q.m = c.m AND q.pos = c.pos
       | GROUP BY 1, 2),
       |adc AS (
       | SELECT a.vec_id, sum(l.d_micro) AS adc
       | FROM a3 a JOIN lut l ON a.m = l.m AND a.code = l.code
       | GROUP BY 1),
       |sel AS (SELECT vec_id FROM adc ORDER BY adc ASC, vec_id ASC LIMIT 50),
       |$ANN_RERANK_TAIL""".stripMargin
  }

  /** Deterministic 1%-hash bucket of doc_id — the ONE split formula every
    * split-aware query (assign / pipeline / decontaminate / packing /
    * unigram+bigram NLL) derives train/val/test membership from; a
    * single definition so their memberships cannot drift apart.
    */
  // doc_id % 2^31 BEFORE the multiply: 2^31 * 40503 < 2^63, so the split
  // hash cannot ANSI-overflow for ANY id (same at-scale hazard class the
  // r7 x10 probe caught in the 2654435761 variant hash); fixture ids
  // (< 2^31) bucket identically, and every oracle carries the same
  // pre-mod.
  private[queries] def splitBucket: Column =
    pmod((col("doc_id") % lit(2147483648L)) * lit(40503L), lit(100L))

  /** The 80/10/10 split label from [[splitBucket]]. */
  private[queries] def splitCol: Column =
    when(splitBucket < 80, "train").when(splitBucket < 90, "val").otherwise("test")

  /** (doc_id, tok) rows under the battery's tokenization (single-space
    * split, empties dropped) — shared by every token-explode pipeline so
    * the Spark side cannot drift from the DOCS_T oracle semantics.
    */
  private[queries] def docTokens(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
  private[queries] val EV =
    "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"

  // ------------------------------------------------------------- exact dedup

  /** Exact dedup: hash-groupBy on sha256(text) — a single shuffle keyed by
    * digest; at 100 TB the digest (32 B) shuffles, never the document body.
    */
  private[graft] def dedupExactCore(docs: DataFrame): DataFrame =
    docs
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("h")

  def qDedupExact(spark: SparkSession, sfDir: String): DataFrame =
    dedupExactCore(Tables.documents(spark, sfDir))

  // ----------------------------------------------------------- n-gram Jaccard

  /** Distinct 3-word shingle HASHES per doc as (doc_id, sh: LONG) rows,
    * via the [[graft.functions.Shingles3Hashed]] codegen kernel + explode:
    * the whole shingle derivation is scan → generate inside one codegen
    * stage, with no window pass and no distinct shuffle (the kernel
    * dedupes per doc). Joining/aggregating on the 8-byte md5-derived hash
    * instead of the shingle string (round 6) keeps the candidate shuffle
    * fixed-width at 100 TB, and DuckDB replays the identical hash so the
    * family stays fully oracle-checked. Two earlier shapes both failed at
    * the derivation step: a higher-order-function build re-executed
    * `split(text)` per element after CollapseProject inlining (one task
    * burning 15 min at sf0.1), and a posexplode + window-lead + distinct
    * pipeline left WindowExec's interpreted per-row path on the hot loop
    * (74 s task CPU late-JVM vs ~4 s healthy — see Shingles3).
    */
  private def shingles(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), explode(graft.functions.Shingles3Hashed.of(col("text"))).as("sh"))

  /** Shared shingle→pair→Jaccard tail of the two n-gram dedup variants. */
  private def jaccardPairs(ex: DataFrame): DataFrame = {
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).cast("int").as("n_sh"))
    val pairs = ex
      .as("a")
      .join(ex.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_sh", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_sh", "n2"), "d2")
      .withColumn(
        "jaccard",
        col("common").cast("double") / (col("n1") + col("n2") - col("common")).cast("double"))
      .where(col("jaccard") >= 0.5)
      .select("d1", "d2", "common", "jaccard")
      .orderBy("d1", "d2")
  }

  /** Exact 3-word-shingle Jaccard pairs (≥ 0.5). Candidate pairs come from
    * an equality join on the shingle (only docs sharing ≥1 shingle are
    * compared) — still worst-case quadratic on pathological corpora (a
    * shingle shared by k docs yields k² candidate rows), so this is the
    * small-scale oracle twin only (bench=false); the benched scale paths
    * are `q_dedup_ngram_capped` and `q_dedup_near`.
    */
  def qDedupNgram(spark: SparkSession, sfDir: String): DataFrame =
    jaccardPairs(shingles(spark, sfDir))

  /** How many documents may share a shingle before it is dropped as a
    * stop-shingle in the capped variant (standard prefix-filtering).
    */
  private val MaxShingleDf = 50

  /** Scale-safe n-gram Jaccard: identical to `q_dedup_ngram` except
    * shingles with document frequency > [[MaxShingleDf]] are dropped before
    * the self-join (both `common` and the set sizes use the capped sets, so
    * the oracle replays the same semantics). This bounds the candidate
    * blowup: a shingle contributes at most MaxShingleDf² pair rows, so no
    * single hot shingle can dominate a shuffle partition at 100 TB. The hot
    * list itself is tiny by construction (few shingles exceed the cap) and
    * is removed with a broadcast anti-join — no extra full shuffle of the
    * shingle table.
    */
  /** The df-capped shingle frame shared by `q_dedup_ngram_capped` and
    * `q_dedup_containment` (and, through them, `q_dedup_clusters` /
    * `q_dedup_cross_source` / `q_dedup_near_eval`): the shingle explode is
    * materialized ONCE per entry (r17, guide §2.4) — the frame is
    * referenced 4× per query (hot-df agg, anti-join left, the sizes agg,
    * both self-join sides) and Generate subtrees get no exchange reuse,
    * so each reference re-ran the scan + [[graft.functions.
    * Shingles3Hashed]] kernel (PLANGOLD r16: 4-6 Generate nodes per
    * entry). |shingle| rows of (long, long) in executor blocks; the cheap
    * broadcast anti-join downstream replays from those blocks.
    */
  private def cappedShingles(spark: SparkSession, sfDir: String): DataFrame = {
    val ex0 = Materialize.eager(shingles(spark, sfDir))
    val hot = ex0
      .groupBy("sh")
      .agg(count(lit(1)).as("df"))
      .where(col("df") > MaxShingleDf)
      .select("sh")
    ex0.join(broadcast(hot), Seq("sh"), "left_anti")
  }

  def qDedupNgramCapped(spark: SparkSession, sfDir: String): DataFrame =
    jaccardPairs(cappedShingles(spark, sfDir))

  /** Directed containment pairs: containment(a → b) = |S(a) ∩ S(b)| / |S(a)|
    * over the df-capped 3-shingle sets. Jaccard misses the
    * quote-inside-a-longer-doc case (a 100-word doc fully embedded in a
    * 10,000-word doc has Jaccard ≈ 0.01 but containment = 1.0) — this is
    * the asymmetric member of the dedup family, the signal used to drop
    * near-subset documents while keeping their supersets.
    *
    * Same candidate generation as `q_dedup_ngram_capped` (shingle-equality
    * self-join on the df ≤ 50 sets: bounded blowup, one key shuffle);
    * each unordered candidate pair is then scored in BOTH directions and
    * kept where containment ≥ 0.8. Output (d_sub, d_sup): d_sub is
    * (nearly) contained in d_sup.
    */
  def qDedupContainment(spark: SparkSession, sfDir: String): DataFrame = {
    val ex = cappedShingles(spark, sfDir)
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).cast("int").as("n_sh"))
    val pairs = ex
      .as("a")
      .join(ex.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_sh", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_sh", "n2"), "d2")
    // score both directions of each unordered pair: sub=d1 then sub=d2
    pairs
      .select(
        explode(
          array(
            struct(col("d1").as("d_sub"), col("d2").as("d_sup"), col("common"), col("n1").as("n_sub")),
            struct(col("d2").as("d_sub"), col("d1").as("d_sup"), col("common"), col("n2").as("n_sub"))))
          .as("e"))
      .select(
        col("e.d_sub").as("d_sub"),
        col("e.d_sup").as("d_sup"),
        col("e.common").as("common"),
        (col("e.common").cast("double") / col("e.n_sub").cast("double")).as("containment"))
      .where(col("containment") >= 0.8)
      .orderBy("d_sub", "d_sup")
  }

  /** Incremental (batch-vs-corpus) exact dedup — the operationally real
    * daily-ingest shape: a new batch (sources src10–src19) lands against
    * an existing corpus (src0–src9); each incoming doc is dropped if its
    * digest already exists in the corpus, deduplicated within the batch
    * (keep the smallest doc_id), or ingested. Scale shape: the corpus
    * side reduces to DISTINCT digests (32 B/doc — at 100 TB this is the
    * persisted digest index, not a rescan), the batch joins it on the
    * digest key, and the within-batch min reuses the same hash
    * partitioning (window over h, no extra shuffle under AQE). Document
    * bodies never shuffle.
    */
  def qDedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("h"))
    incrementalStatus(
      d.where(length(col("source")) === 4),
      d.where(length(col("source")) === 5))
  }

  /** Incremental-dedup core over pre-split corpus/incoming frames (both
    * carrying doc_id + digest column `h`); see [[qDedupIncremental]].
    */
  private[graft] def incrementalStatus(corpusDocs: DataFrame, incomingDocs: DataFrame): DataFrame = {
    val corpus = corpusDocs.select("h").distinct()
    val incoming = incomingDocs.select("doc_id", "h")
    val firstInBatch = min(col("doc_id")).over(Window.partitionBy("h"))
    incoming
      .join(corpus.withColumn("in_corpus", lit(true)), Seq("h"), "left")
      .withColumn(
        "status",
        when(col("in_corpus"), "drop_corpus_dup")
          .when(col("doc_id") > firstInBatch, "drop_batch_dup")
          .otherwise("ingest"))
      .select("doc_id", "status")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------- substring dedup

  /** Window width for exact-substring dedup: a span must repeat for at
    * least this many consecutive tokens to count as duplicated text.
    * (Suffix-array substring dedup à la Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", uses 50 BPE tokens; the
    * sliding-window formulation below finds exactly the spans whose every
    * k-window repeats, at a k chosen for the short synthetic docs.)
    */
  private val SubstrK = 10

  /** Exact duplicated-SPAN detection — the within/cross-document substring
    * dedup mode that document-level dedup (exact, MinHash) cannot express:
    * boilerplate, licenses, and templated text repeat as spans inside
    * otherwise-unique documents, and the cure is cutting the span, not
    * dropping the document.
    *
    * Formulation: a token position is duplicated iff some k-token window
    * covering it occurs at ≥ 2 positions corpus-wide (within-doc repeats
    * count — a self-repeating document is duplicated text too). Output per
    * affected doc: number of maximal duplicated spans (interval union of
    * the flagged windows) and tokens covered, plus the doc's token count.
    *
    * Scale shape: the [[graft.functions.TokenWindows]] kernel generates
    * windows scan-side in one codegen pass; only `xxhash64(window)` —
    * 8 bytes, never the window text — enters the occurrence-count shuffle
    * (map-side partial count first) and the position semi-join. The
    * interval-union window pass runs only over flagged positions (a
    * vanishing fraction of the corpus). Collisions: 64-bit hashing over
    * ~10⁶ windows/TB gives ~1e-7 false-dup probability per TB² pair —
    * deterministic, and far below near-dup noise; the string windows
    * themselves never need to shuffle at any scale. The DuckDB oracle
    * replays the same pipeline on the window strings (no hashing), so a
    * collision would surface as a hash mismatch — the check covers it.
    */
  def qDedupSubstring(spark: SparkSession, sfDir: String): DataFrame =
    substringSpans(Tables.documents(spark, sfDir), SubstrK)

  /** The substring-dedup pipeline over any (doc_id, text) frame; see
    * [[qDedupSubstring]] for semantics and the scale argument.
    */
  private[graft] def substringSpans(docs: DataFrame, k: Int): DataFrame = {
    val wins = docs
      .select(
        col("doc_id"),
        posexplode(graft.functions.TokenWindows.of(col("text"), k)).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"), xxhash64(col("w")).as("wh"))
    // windows occurring at >= 2 positions corpus-wide (8-byte keys only)
    val dup = wins
      .groupBy("wh")
      .agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
      .select("wh")
    val dupPos = wins.join(dup, Seq("wh"), "left_semi").select("doc_id", "pos")
    // interval union per doc: a window starting past every earlier
    // window's end opens a new maximal span (strict >: touching-but-
    // disjoint spans stay separate — both engines use the same rule)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + lit(k - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val spans = dupPos
      .withColumn("brk", when(col("pos") > coalesce(prevEnd, lit(-1)), 1).otherwise(0))
      .withColumn("gid", sum(col("brk")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "gid")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(k - 1)).as("e"))
    val perDoc = spans
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("dup_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"))
    docs
      .select(
        col("doc_id"),
        graft.functions.TextProfile
          .profile(col("text"))
          .getField("n_tokens")
          .cast("long")
          .as("n_tokens"))
      .join(perDoc, "doc_id")
      .select("doc_id", "dup_spans", "dup_tokens", "n_tokens")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------- MinHash LSH

  private val NumHashes = 16
  private val BandSize = 4
  // The per-shingle hash constants (prime modulus, affine permutations)
  // live in graft.functions.MinHash16 with the kernel that applies them.

  /** MinHash + banded LSH near-dup candidates — the 100 TB dedup path:
    * shingle→hash→k minhashes (map-side agg), band keys, candidates from a
    * band-equality shuffle. Output = candidate pairs with estimated
    * similarity (fraction of matching minhashes). Fully oracle-checked
    * since the md5-based base hash landed ([[MINHASH_CAND]] replays the
    * signature + banding in DuckDB); `q_dedup_ngram` remains the
    * exact-semantics ground truth the candidates approximate.
    */
  /** (doc_id, sig, band, band_key) rows: one MinHash16 kernel call per
    * doc (map-side; bit-identical to the shingle-explode →
    * pmod(xxhash64) → 16×MIN aggregate it replaces, pinned in
    * SimHashSpec), bands as the 4-value TUPLE itself (4 sig values as a
    * struct), not a 64-bit hash of it (round-6 ADVICE): the
    * [[MINHASH_CAND]] oracle compares tuples exactly, so a band-hash
    * collision — however unlikely — would have produced a spurious
    * engine-only pair and a hash-compare failure. The shuffle key grows
    * 8 → 32 bytes, which the full 128-byte sig riding alongside dwarfs
    * anyway; the candidate sets are identical to the oracle's by
    * construction.
    */
  /** @param passthrough extra input columns carried to the output
    *                     unchanged (r12: the streaming watermarked guard
    *                     needs its ingest-time column to survive the
    *                     band projection).
    */
  private[graft] def minhashBands(
      docs: DataFrame,
      passthrough: Seq[String] = Nil): DataFrame = {
    val sigs = docs
      .select(
        col("doc_id") +: graft.functions.MinHash16.of(col("text")).as("sig") +:
          passthrough.map(col): _*)
      .where(col("sig").isNotNull)
    sigs.select(
      col("doc_id") +: col("sig") +:
        (posexplode(
          array((0 until NumHashes / BandSize).map { b =>
            struct(
              (b * BandSize until (b + 1) * BandSize).map(j => element_at(col("sig"), j + 1)): _*)
          }: _*)).as(Seq("band", "band_key")) +: passthrough.map(col)): _*)
  }

  /** Shared oracle CTE chain for the incremental/streaming near-dup
    * guard: MinHash signatures → per-side band rows (corpus slen=4,
    * batch slen=5) → capped corpus index → DISTINCT candidate pairs.
    * Ends with the `cand` CTE so `q_dedup_near_incremental` appends the
    * Jaccard rerank and `s_stream_dedup_near` reads `cand` directly —
    * one definition, no drift between the two oracles (mirrors the
    * Scala side sharing [[cappedBandIndex]]).
    */
  private[queries] lazy val NearIncCandSql: String = {
    val bandRows = (0 until NumHashes / BandSize)
      .map { b =>
        val ks = (0 until BandSize)
          .map(j => s"m${b * BandSize + j} AS k$j")
          .mkString(", ")
        s"SELECT doc_id, $b AS band, $ks FROM mh_sig"
      }
      .mkString("\n  UNION ALL ")
    val keyEq = (0 until BandSize).map(j => s"a.k$j = b.k$j").mkString(" AND ")
    val keyCols = (0 until BandSize).map(j => s"k$j").mkString(", ")
    s"""WITH $MINHASH_CAND,
       |bandrows AS (
       |  $bandRows),
       |side AS (SELECT doc_id, length(source) AS slen FROM documents),
       |cidx AS (SELECT br.* FROM bandrows br JOIN side USING (doc_id) WHERE slen = 4),
       |bbat AS (SELECT br.* FROM bandrows br JOIN side USING (doc_id) WHERE slen = 5),
       |okb AS (
       | SELECT band, $keyCols FROM cidx
       | GROUP BY band, $keyCols HAVING count(1) <= $CapBucket),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS batch_doc, b.doc_id AS corpus_dup
       | FROM bbat a
       | JOIN (SELECT c.* FROM cidx c JOIN okb USING (band, $keyCols)) b
       |  ON a.band = b.band AND $keyEq)""".stripMargin
  }

  /** Candidate pairs + estimated similarity from a band frame. est_sim
    * as 16 unrolled element comparisons — plain codegen'd expressions,
    * NOT zip_with/aggregate: the HOF pair runs on Spark's SHARED
    * interpreted eval loop, the exact JVM deopt surface SURVEY §6
    * documents (and the round-2 bench measured at 60+ s when sigs also
    * rode the distinct). The candidate set is small, but hot-path HOFs
    * pollute the runtime for every other query in the process.
    */
  private[queries] def bandPairs(bands: DataFrame): DataFrame = {
    val cand = bands
      .as("a")
      .join(
        bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("d1"),
        col("b.doc_id").as("d2"),
        col("a.sig").as("sig1"),
        col("b.sig").as("sig2"))
      .distinct()
    val matches = (0 until NumHashes)
      .map(j =>
        when(element_at(col("sig1"), j + 1) === element_at(col("sig2"), j + 1), 1)
          .otherwise(0))
      .reduce(_ + _)
    cand
      .withColumn("est_sim", matches.cast("double") / NumHashes)
      .select("d1", "d2", "est_sim")
      .orderBy("d1", "d2")
  }

  def qDedupNear(spark: SparkSession, sfDir: String): DataFrame =
    bandPairs(minhashBands(Tables.documents(spark, sfDir)))

  /** Band buckets larger than this are dropped by the capped variant.
    * 16 keeps every organic bucket at the test scales (capped ≡ uncapped
    * on the pristine corpus — spec-pinned) while bounding the per-bucket
    * pair count at 120.
    */
  private[queries] val CapBucket = 16

  /** [[qDedupNear]] with the standard production LSH guard: band buckets
    * holding more than [[CapBucket]] docs are dropped BEFORE the pair
    * join. Rationale at 100 TB: a band key shared by k docs yields
    * C(k,2) candidate pairs, so one boilerplate/template cluster of 10⁵
    * near-identical pages turns into 5×10⁹ pairs from a single bucket —
    * the 20× scale probe measured exactly this shape (pair count grows
    * ~quadratically in the duplication factor; 17.7× time at 20× rows).
    * Over-popular band keys carry almost no information (the docs are
    * mutual near-dups that exact dedup / q_dedup_clusters already owns),
    * so dropping them bounds every bucket's contribution at
    * C(cap,2) = 120 pairs and makes the candidate volume LINEAR in
    * corpus size at fixed duplication rate. The cap filter is one extra
    * aggregation over (band, band_key) — ids and 32-byte tuples only —
    * co-partitioned with the pair join's own shuffle key.
    */
  def qDedupNearCapped(spark: SparkSession, sfDir: String): DataFrame =
    cappedPairsCore(Tables.documents(spark, sfDir))

  /** Core of [[qDedupNearCapped]] over any (doc_id, text) frame —
    * package-private so the spec can drive it over a synthetic corpus
    * where the cap actually fires (the organic test corpora max out at
    * 11-member buckets, so capped ≡ uncapped there; a pin on that
    * equality alone would be vacuous about the filter itself).
    */
  private[queries] def cappedPairsCore(docs: DataFrame): DataFrame = {
    val bands = minhashBands(docs)
    val ok = bands
      .groupBy("band", "band_key")
      .agg(count(lit(1)).as("bn"))
      .where(col("bn") <= CapBucket)
      .select("band", "band_key")
    bandPairs(bands.join(ok, Seq("band", "band_key")))
  }

  /** Incremental (batch-vs-corpus) NEAR-dup — the daily-ingest shape for
    * MinHash that [[qDedupIncremental]] covers for exact dup (round-9
    * verdict ask #5): a new batch (sources src10–src19) is probed against
    * the PERSISTED band index of the existing corpus (src0–src9) — the
    * DISTINCT (band, band_key, doc_id) frame `q_dedup_near` already
    * builds — instead of re-running dedup over corpus ∪ batch.
    *
    * Pipeline: batch-side MinHash signatures (map-side kernel, no token
    * shuffle) → band-equality join against the index (ids + 32-byte band
    * tuples only — document bodies never shuffle) → exact-Jaccard rerank
    * on hashed 3-shingles over CANDIDATES only → (batch_doc, corpus_dup)
    * pairs at jaccard ≥ 0.5. The [[CapBucket]] guard from
    * `q_dedup_near_capped` applies on the INDEX side (the big side at
    * 100 TB): an over-popular band key in the corpus is boilerplate the
    * batch would match thousands of times for no information.
    *
    * Scale shape: index = 4 rows × (8 B id + 32 B tuple) per corpus doc —
    * at 100 TB this is the persisted index, not a rescan; per ingest the
    * work is batch-size signatures + one key-equality shuffle + a rerank
    * linear in candidate count. Nothing touches corpus text except the
    * shingle sets of matched candidates.
    */
  def qDedupNearIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    nearIncrementalCore(
      d.where(length(col("source")) === 4),
      d.where(length(col("source")) === 5))
  }

  /** Core of [[qDedupNearIncremental]] over pre-split corpus/batch
    * (doc_id, text) frames — package-private so the spec can plant a
    * batch near-copy and an over-cap corpus bucket directly.
    */
  /** The persisted-index side of the incremental/streaming near-dup
    * guard: DISTINCT-per-doc (band, band_key, corpus_dup) rows of the
    * corpus band index with over-popular buckets (> [[CapBucket]] docs)
    * dropped — boilerplate a batch would match thousands of times for no
    * information. Shared by [[nearIncrementalCore]] and the streaming
    * form ([[graft.streaming.Streams.nearDupCandidates]]) so the index
    * semantics cannot drift between them.
    */
  private[graft] def cappedBandIndex(corpusDocs: DataFrame): DataFrame = {
    val idx = minhashBands(corpusDocs).select("doc_id", "band", "band_key")
    val ok = idx
      .groupBy("band", "band_key")
      .agg(count(lit(1)).as("bn"))
      .where(col("bn") <= CapBucket)
      .select("band", "band_key")
    idx.join(ok, Seq("band", "band_key")).withColumnRenamed("doc_id", "corpus_dup")
  }

  private[queries] def nearIncrementalCore(corpusDocs: DataFrame, batchDocs: DataFrame): DataFrame = {
    val cand = minhashBands(batchDocs)
      .select(col("doc_id").as("batch_doc"), col("band"), col("band_key"))
      .join(cappedBandIndex(corpusDocs), Seq("band", "band_key"))
      .select("batch_doc", "corpus_dup")
      .distinct()
    def sh(docs: DataFrame, id: String) = docs.select(
      col("doc_id").as(id),
      explode(graft.functions.Shingles3Hashed.of(col("text"))).as("sh"))
    val shB = sh(batchDocs, "batch_doc")
    // only corpus docs some candidate matched are ever re-shingled — the
    // rerank's corpus-side scan is linear in CANDIDATES, not corpus size
    val shC = sh(
      corpusDocs.join(
        cand.select(col("corpus_dup").as("doc_id")).distinct(),
        Seq("doc_id"),
        "left_semi"),
      "corpus_dup")
    val common = cand
      .join(shB, Seq("batch_doc"))
      .join(shC, Seq("corpus_dup", "sh"))
      .groupBy("batch_doc", "corpus_dup")
      .agg(count(lit(1)).as("common"))
    common
      .join(shB.groupBy("batch_doc").agg(count(lit(1)).cast("int").as("n1")), "batch_doc")
      .join(shC.groupBy("corpus_dup").agg(count(lit(1)).cast("int").as("n2")), "corpus_dup")
      .withColumn(
        "jaccard",
        col("common").cast("double") / (col("n1") + col("n2") - col("common")).cast("double"))
      .where(col("jaccard") >= 0.5)
      .select("batch_doc", "corpus_dup", "common", "jaccard")
      .orderBy("batch_doc", "corpus_dup")
  }

  // ------------------------------------------------------ cross-source leakage

  /** Cross-source near-dup LEAKAGE MATRIX: for every source pair, how
    * many near-dup pairs (banded MinHash candidates at est_sim ≥ 0.5)
    * connect them — the train/eval contamination audit run before any
    * split is trusted (a benchmark source sharing near-dups with a
    * training source invalidates the eval), and the redundancy input to
    * mix design beside `q_source_vocab_overlap`'s vocabulary view.
    *
    * Scale shape: identical to `q_dedup_near_capped` (the production
    * guard — over-popular band buckets dropped BEFORE the pair join, so
    * candidate volume stays linear); the source labels then ride a
    * doc-id join (ids + short strings only, bodies never shuffle) and
    * the matrix aggregation is ≤ |sources|² rows. est_sim values are
    * dyadic rationals (k/16), so their sum — and the 1e-6-rounded mean —
    * is exact in any aggregation order on both engines.
    */
  def qDedupCrossSource(spark: SparkSession, sfDir: String): DataFrame =
    crossSourceCore(Tables.documents(spark, sfDir))

  /** Core of [[qDedupCrossSource]] over any (doc_id, text, source) frame —
    * package-private so the spec can plant cross- and within-source
    * near-dups (and an over-cap cluster) directly.
    */
  private[queries] def crossSourceCore(docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    cappedPairsCore(docs)
      .where(col("est_sim") >= 0.5)
      .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
      .select(
        least(col("s1"), col("s2")).as("src_a"),
        greatest(col("s1"), col("s2")).as("src_b"),
        col("est_sim"))
      .groupBy("src_a", "src_b")
      .agg(
        count(lit(1)).as("n_pairs"),
        round(sum(col("est_sim")) / count(lit(1)), 6).as("avg_sim"))
      .orderBy("src_a", "src_b")
  }

  // ---------------------------------------------------------------- SimHash

  /** (doc_id, simhash) via the [[graft.functions.SimHash64]] kernel — one
    * codegen stage, no token explode/shuffle, no 64-wide aggregate.
    * `SimHashSpec` pins bit-identity against the explode + 64×SUM votes
    * formulation (same per-token md5-derived hash), and [[SIMHASH_SIG]]
    * twins the whole computation in DuckDB for full oracle hash-match
    * (the round-4/5 verdicts' rows-only carve-out, now graduated).
    */
  private def simhashSigs(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), graft.functions.SimHash64.of(col("text")).as("simhash"))
      .where(col("simhash").isNotNull) // token-less docs have no signature

  def qDedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashSigs(spark, sfDir).orderBy("doc_id")

  /** SimHash near-dup PAIRS (hamming ≤ 3) — the candidate step that turns
    * the signatures into a dedup. Pigeonhole partitioning: split the 64-bit
    * signature into 4 16-bit segments; any pair within hamming distance 3
    * differs in at most 3 segments, so at least one segment matches
    * exactly. Candidates therefore come from an equality join on
    * (segment index, segment value) — a key shuffle, never an O(n²)
    * comparison — with 100% recall at the radius (this is exact, not
    * approximate). A pair sharing several segments is deduplicated with a
    * distinct on the id pair before the (cheap, codegen'd) popcount filter.
    */
  def qDedupSimhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    hammingPairs64(simhashSigs(spark, sfDir), "simhash", cap = None)

  /** [[qDedupSimhashPairs]] with the standard production pigeonhole guard
    * (the `q_dedup_near_capped` discipline, round-14 verdict ask #1):
    * (seg, seg_val) buckets holding more than [[CapBucket]] signatures are
    * dropped BEFORE the pair join. Rationale at 100 TB: the pigeonhole
    * join's OUTPUT is quadratic in clique size — k near-identical docs
    * share all four segments and emit C(k,2) pairs, so one boilerplate
    * cluster of 10⁵ pages is 5×10⁹ rows from four buckets (the ×10
    * dup-mode recert measured 64.4M pair rows on the sibling phash
    * entry). An over-popular segment value carries no information — its
    * members are mutual near-dups that exact digest dedup and
    * `q_dedup_clusters` already own — so the cap bounds every bucket at
    * C(cap,2) = 120 pairs and makes the pair volume LINEAR in corpus size
    * at fixed duplication rate. The filter is one ids-only aggregation
    * co-partitioned with the pair join's own (seg, seg_val) shuffle key.
    */
  def qDedupSimhashPairsCapped(spark: SparkSession, sfDir: String): DataFrame =
    hammingPairs64(simhashSigs(spark, sfDir), "simhash", cap = Some(CapBucket))

  /** 4×16-bit pigeonhole hamming-pair core shared by the SimHash and
    * perceptual-hash families: explode the 64-bit signature into
    * (seg ∈ 0..3, seg_val) rows, equi-join on the segment key (exact at
    * hamming ≤ 3 — any pair within radius 3 differs in at most 3 of 4
    * segments, so at least one matches), popcount-filter, distinct on the
    * id pair. `cap = Some(c)` drops (seg, seg_val) buckets with more than
    * `c` members before the join — see [[qDedupSimhashPairsCapped]].
    * `sigs` must carry (doc_id, `sigCol`: Long). Package-private so specs
    * can drive it over synthetic clique corpora where the cap fires.
    */
  private[queries] def hammingPairs64(
      sigs: DataFrame,
      sigCol: String,
      cap: Option[Int],
      materializeSegs: Boolean = true): DataFrame = {
    // materialized ONCE by default (r17, guide §2.4): the segment frame
    // feeds both self-join sides (and, capped, the bucket-count filter
    // too — 4 references), and the sig pipelines upstream are opaque
    // per-row stages that column analysis cannot share — each reference
    // re-ran them. Measured min-of-4 warm: simhash_pairs 0.90→0.69,
    // simhash_pairs_capped 1.16→0.76, phash_capped 0.68→0.60. The ONE
    // caller where it loses is uncapped phash (BMP synthesis from
    // (doc_id, n_chars) is cheaper than the materialization and there
    // are only 2 references) — it opts out, 1.36 vs 1.59 measured.
    val segs0 = sigs
      .select(
        col("doc_id"),
        col(sigCol),
        posexplode(
          array((0 until 4).map(i =>
            shiftrightunsigned(col(sigCol), i * 16).bitwiseAND(lit(0xffffL))): _*))
          .as(Seq("seg", "seg_val")))
      .transform(s => if (materializeSegs) Materialize.eager(s) else s)
    val segs = cap.fold(segs0) { c =>
      val ok = segs0
        .groupBy("seg", "seg_val")
        .agg(count(lit(1)).as("bn"))
        .where(col("bn") <= c)
        .select("seg", "seg_val")
      segs0.join(ok, Seq("seg", "seg_val"))
    }
    segs
      .as("a")
      .join(
        segs.as("b"),
        col("a.seg") === col("b.seg") && col("a.seg_val") === col("b.seg_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("d1"),
        col("b.doc_id").as("d2"),
        bit_count(col(s"a.$sigCol").bitwiseXOR(col(s"b.$sigCol"))).as("hamming"))
      .where(col("hamming") <= 3)
      .distinct()
      .orderBy("d1", "d2")
  }

  // ---------------------------------------------------- embedding-cosine dedup

  /** Exact decimal-cored cosine similarity — ONE definition shared by
    * every similarity query so quantization and operation order can't
    * drift between them (the oracles all replay this exact form). The
    * dot product is [[graft.functions.ScaledDot]] (custom codegen
    * Expression; the zip_with/aggregate HOF formulation of the same math
    * ran interpreted at ~190 s for 125k pairs × 64 dims).
    */
  private[queries] def cosSim(a: Column, b: Column): Column =
    ScaledDot.dot(a, b) / (sqrt(ScaledDot.dot(a, a)) * sqrt(ScaledDot.dot(b, b)))

  private def withNorm(e: DataFrame): DataFrame =
    e.select(
      col("vec_id"),
      col("embedding"),
      sqrt(ScaledDot.dot(col("embedding"), col("embedding"))).as("nrm"))

  /** All-pairs exact core of the embedding dedups (package-private so the
    * spec can drive it over a synthetic clustered fixture). Pairs at
    * `cos >= theta` carry an `is_near_dup` flag for the θ=0.8 dedup cut —
    * the candidate threshold and the dedup threshold are separate knobs so
    * the query stays non-vacuous on fixtures whose max pairwise cosine
    * sits below 0.8 (round-5 verdict ask #5: a green hash over an empty
    * set proves nothing).
    */
  private[queries] def embedPairsExact(emb: DataFrame, theta: Double = 0.8): DataFrame = {
    val e = withNorm(emb)
    e.as("a")
      .join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("v1"),
        col("b.vec_id").as("v2"),
        (ScaledDot.dot(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")))
          .as("cos"))
      .where(col("cos") >= theta)
      .withColumn("is_near_dup", (col("cos") >= 0.8).cast("int"))
      .orderBy("v1", "v2")
  }

  /** Embedding similar-pair mining: brute pairwise cosine ≥ 0.4 with the
    * θ=0.8 near-dup flag (exact twin of `q_dedup_embed_lsh`; quadratic —
    * oracle/verification scale only, excluded from bench). 0.4 yields
    * 59 pairs at sf0.01 / 66 at sf0.001 where the old 0.8-only cut
    * yielded zero (fixture max pairwise cosine ≈ 0.51).
    */
  def qDedupEmbed(spark: SparkSession, sfDir: String): DataFrame =
    embedPairsExact(Tables.embeddings(spark, sfDir), theta = 0.4)

  /** Embedding near-dup at scale: banded random-hyperplane LSH. The 16-bit
    * plane signature splits into 4 bands of 4 bits; candidate pairs are an
    * equality join on (band index, band value) — only ids and 4-bit band
    * keys flow through the candidate shuffle, never embeddings — then the
    * (small) candidate set joins the vectors back by id for the exact
    * cosine ≥ 0.8 rerank. Recall for a true cos ≥ 0.8 pair: per-bit
    * agreement = 1 − acos(0.8)/π ≈ 0.795 → P(some band matches) =
    * 1 − (1 − 0.795⁴)⁴ ≈ 0.87. `q_dedup_embed` (all-pairs) is the exact
    * twin this approximates; output here is always a subset of it.
    * Oracle-verified since round 7: the deterministic ±1 planes inline
    * into the generated DuckDB SQL as sign-mask literals (see
    * [[planeKeysCte]]), so the whole LSH pipeline — signature, banding,
    * candidate join, exact rerank — hash-matches. Like the exact twin it
    * reranks at the θ=0.4 candidate cut with the θ=0.8 `is_near_dup` flag
    * (at cos ≈ 0.4 per-bit agreement is ≈ 0.63 → ≈ 0.50 band-collision
    * probability per pair, so a fixture with dozens of true pairs keeps
    * this non-vacuous).
    */
  def qDedupEmbedLsh(spark: SparkSession, sfDir: String): DataFrame =
    embedPairsLsh(Tables.embeddings(spark, sfDir), theta = 0.4)

  private[queries] def embedPairsLsh(emb: DataFrame, theta: Double = 0.8): DataFrame = {
    val e = withNorm(emb)
    val sigs = e.select(col("vec_id"), planeSig(col("embedding")).as("sig"))
    val bands = sigs.select(
      col("vec_id"),
      posexplode(
        array((0 until 4).map(b =>
          shiftrightunsigned(col("sig"), b * 4).bitwiseAND(lit(0xf))): _*))
        .as(Seq("band", "band_val")))
    val cand = bands
      .as("a")
      .join(
        bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_val") === col("b.band_val") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("nrm").as("n1")), "v1")
      .join(e.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("nrm").as("n2")), "v2")
      .select(
        col("v1"),
        col("v2"),
        (ScaledDot.dot(col("e1"), col("e2")) / (col("n1") * col("n2"))).as("cos"))
      .where(col("cos") >= theta)
      .withColumn("is_near_dup", (col("cos") >= 0.8).cast("int"))
      .orderBy("v1", "v2")
  }

  // -------------------------------------------------------- similarity search

  /** Brute-force cosine top-k vs the fixed query vector (vec_id = 0): one
    * broadcast of 64 floats, an embarrassingly-parallel scan, and a
    * TakeOrdered k-merge — the correct dense baseline at any scale.
    * Decimal-cored dot products make the doubles bit-identical to the
    * DuckDB oracle.
    */
  def qSimTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    e.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        col("label"),
        cosSim(col("embedding"), col("q_emb")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Int8 symmetric embedding quantization with reconstruction-error
    * certification — the vector-storage compression every large index
    * runs (a 100 TB float32 embedding store is 25 TB at int8): per
    * vector, scale = max|x|/127, q_i = clamp(round(x_i/scale), ±127),
    * reported per-vector as dims, scale, max and mean |x − q_i·scale|.
    * The all-zero-vector edge (scale 0) quantizes to zeros with zero
    * error.
    *
    * Scale shape: ONE map-side pass — array HOFs over the embedding
    * column, no explode, no shuffle at all until the final vec_id
    * presentation sort (at index scale the sort is dropped and the
    * quantized column is written in place). Float→double casts are
    * exact; errors quantize to 1e-9 fixed point before the mean so the
    * per-vector sum is order-independent LONG math (house float
    * discipline); the oracle unnests and replays the identical IEEE
    * sequence.
    */
  def qEmbedQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables
      .embeddings(spark, sfDir)
      .select(
        col("vec_id"),
        col("label"),
        transform(col("embedding"), v => v.cast("double")).as("x"),
        size(col("embedding")).cast("long").as("n_dims"))
      .withColumn("mx", array_max(transform(col("x"), v => abs(v))))
      .withColumn("scale", col("mx") / lit(127.0))
    val qd = base.withColumn(
      "q",
      when(col("mx") === 0.0, transform(col("x"), _ => lit(0.0)))
        .otherwise(transform(
          col("x"),
          v => least(greatest(round(v / col("scale")), lit(-127.0)), lit(127.0)))))
    qd.withColumn("e", zip_with(col("x"), col("q"), (a, b) => abs(a - b * col("scale"))))
      .select(
        col("vec_id"),
        col("label"),
        col("n_dims"),
        round(col("scale"), 6).as("scale"),
        round(array_max(col("e")), 6).as("max_err"),
        round(
          aggregate(col("e"), lit(0L), (acc, v) => acc + round(v * 1e9).cast("long"))
            .cast("double") / col("n_dims") / 1e9,
          6).as("mean_err"))
      .orderBy("vec_id")
  }

  /** Binary (1-bit) embedding quantization — the extreme memory rung
    * beside [[qEmbedQuantize]]'s int8 (32× compression: a 100 TB float32
    * store is ~3 TB of sign bits + one scalar per vector; hamming over
    * the packed signature is the cheapest possible first-pass distance,
    * the signature being exactly the `q_sim_ann` hyperplane idea with
    * axis-aligned planes). Per vector: bit_j = (x_j > 0) for the first
    * 64 dims, packed into two 32-bit halves (sig_hi, sig_lo — split
    * rather than one 64-bit word so bit 63 never touches the LONG sign
    * bit in either engine), the 1-bit dequant scalar scale = mean |x|
    * (x̂_j = ±scale), and the reconstruction error mean ||x_j| − scale|
    * the int8 twin also reports.
    *
    * Scale shape: ONE map-side pass (array HOFs, no explode, no
    * shuffle until the presentation sort, which an index build drops).
    * Float→double exact; |x| sums and errors quantize to 1e-9 fixed
    * point so every aggregate is order-independent LONG math; scale and
    * the mean replay as the identical IEEE division sequence in the
    * oracle. Fixture dims = 64; at wider vectors the signature is the
    * documented first-64-dims prefix (the standard multi-word layout
    * packs ⌈d/64⌉ words; one word keeps the schema scalar).
    */
  def qEmbedQuantizeBinary(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .embeddings(spark, sfDir)
      .select(
        col("vec_id"),
        col("label"),
        transform(col("embedding"), v => v.cast("double")).as("x"),
        size(col("embedding")).cast("long").as("n_dims"))
      .withColumn(
        "abs_fp",
        expr("aggregate(transform(x, v -> cast(round(abs(v) * 1e9) as bigint)), 0L, (a, b) -> a + b)"))
      .withColumn("scale", col("abs_fp").cast("double") / col("n_dims") / lit(1e9))
      .withColumn(
        "n_pos",
        expr("aggregate(transform(x, v -> IF(v > 0D, 1L, 0L)), 0L, (a, b) -> a + b)"))
      .withColumn(
        "sig_lo",
        expr("aggregate(transform(x, (v, i) -> IF(v > 0D AND i < 32, shiftleft(1L, i), 0L)), " +
          "0L, (a, b) -> a + b)"))
      .withColumn(
        "sig_hi",
        expr("aggregate(transform(x, (v, i) -> IF(v > 0D AND i >= 32 AND i < 64, " +
          "shiftleft(1L, i - 32), 0L)), 0L, (a, b) -> a + b)"))
      .withColumn(
        "err_fp",
        expr("aggregate(transform(x, v -> cast(round(abs(abs(v) - scale) * 1e9) as bigint)), " +
          "0L, (a, b) -> a + b)"))
      .select(
        col("vec_id"),
        col("label"),
        col("n_dims"),
        col("n_pos"),
        col("sig_hi"),
        col("sig_lo"),
        round(col("scale"), 6).as("scale"),
        round(col("err_fp").cast("double") / col("n_dims") / 1e9, 6).as("mean_err"))
      .orderBy("vec_id")

  /** Batched exact k-NN join — the multi-query form of [[qSimTopk]]: a
    * small query SET (vec_ids 0–9) broadcasts once, the corpus scan
    * computes every (query, vector) cosine in one embarrassingly-parallel
    * pass, and each query keeps its top 3. The per-query ranking is a
    * window over q_id — parallel across queries, which is the right axis
    * when the query set is the small side (the common batch-inference
    * shape: thousands of queries × billions of vectors still partitions
    * by corpus rows, and the rank shuffle carries only (q_id, vec_id,
    * sim) triples, never embeddings).
    */
  def qSimKnnBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val q = e
      .where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id").asc)
    e.where(col("vec_id") >= 10)
      .crossJoin(broadcast(q))
      .select(
        col("q_id"),
        col("vec_id"),
        cosSim(col("embedding"), col("q_emb")).as("sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .select("q_id", "rk", "vec_id", "sim")
      .orderBy("q_id", "rk")
  }

  /** 16-bit random-hyperplane signature for `q_dedup_embed_lsh` — one
    * [[graft.functions.PlaneSig16]] kernel call per row (`q_sim_ann`
    * uses the wider banded [[graft.functions.PlaneSig64]] pair).
    */
  private[queries] def planeSig(emb: Column): Column =
    graft.functions.PlaneSig16.of(emb)

  /** ANN via banded multi-probe hyperplane LSH — a bucket LOOKUP whose
    * probe set is a vanishing fraction of bucket space (the round-2
    * verdict's scale gap: the old radius-7/16-bit probe ball enumerated
    * 40% of all buckets, a near-full scan at 100×).
    *
    * Index shape: each vector carries a 128-bit hyperplane signature (two
    * [[graft.functions.PlaneSig64]] words) split into 8 bands of 16 bits;
    * the banded index is `(band, key) → vec_id` — at 100 TB it is stored
    * bucketed by `(band, key)` (the standard 8× LSH index expansion), so
    * the broadcast probe set prunes to matching buckets and no full-scan
    * filter remains in the plan (PlanSpec-asserted semi-join). Query
    * probes each band's key at hamming radius ≤ 2: 137 of 65,536 keys
    * per band = **0.21% of bucket space** (vs 40% before); expected
    * candidate fraction on uncorrelated vectors ≈ 1−(1−137/65536)^8 ≈
    * 1.7% of the corpus, then exact cosine rerank of candidates only
    * (TakeOrdered k-merge). Recall for true near-duplicates is high —
    * cos 0.9 ⇒ per-bit flip p ≈ 0.14 ⇒ P(band within radius 2) ≈ 0.56 ⇒
    * 8-band recall ≈ 1−(1−0.56)^8 ≈ 99.9% — while this synthetic
    * corpus's best pair (cos ≈ 0.33) sits near the random-pair floor by
    * construction, so the candidate set here is effectively a 1.7%
    * LSH-stratified sample reranked exactly. Oracle-verified since round
    * 7: the probe-ball semi-join is twinned in SQL as the equivalent
    * per-band `bit_count(xor(key, qkey)) <= 2` predicate over the inlined
    * plane constants (see [[planeKeysCte]]).
    */
  /** The 8 per-row (band, key) structs of the 128-bit banded signature
    * (expects `sig0`/`sig1` [[graft.functions.PlaneSig64]] columns).
    */
  private def bandStructs: Seq[Column] = (0 until 8).map { b =>
    val word = if (b < 4) col("sig0") else col("sig1")
    struct(
      lit(b).as("band"),
      shiftright(word, 16 * (b % 4)).bitwiseAND(lit(0xffffL)).cast("int").as("key"))
  }

  private def withSigs(e: DataFrame): DataFrame =
    e.withColumn("sig0", graft.functions.PlaneSig64.of(col("embedding"), 0))
      .withColumn("sig1", graft.functions.PlaneSig64.of(col("embedding"), 1))

  /** The banded ANN index relation: (vec_id, band, key) — 8 rows per
    * vector. This is what a 100 TB deployment persists, bucketed/sorted
    * by (band, key), so candidate lookups co-locate with the index
    * partitions (BucketingSpec proves the no-index-side-exchange plan).
    */
  private[graft] def bandedIndex(e: DataFrame): DataFrame =
    withSigs(e)
      .select(col("vec_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))

  def qSimAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val Radius = 2
    val e = Tables.embeddings(spark, sfDir)
    val q = withSigs(e)
      .where(col("vec_id") === 0)
      .select(bandStructs.zipWithIndex.map { case (c, b) => c.as(s"bk$b") }: _*)
    val masks = spark
      .range(1 << 16)
      .select(col("id").cast("int").as("mask"))
      .where(bit_count(col("mask")) <= Radius)
    // 8 bands × Σ C(16,k≤2) = 1096 probe keys, broadcast
    val probes = q
      .crossJoin(masks)
      .select(explode(array((0 until 8).map(b =>
        struct(
          col(s"bk$b.band").as("band"),
          col(s"bk$b.key").bitwiseXOR(col("mask")).as("key"))): _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"))
    // banded index rows are (vec_id, band, key) — ids only through the
    // candidate semi-join + distinct; embeddings join back for rerank
    val banded = bandedIndex(e.where(col("vec_id") =!= 0))
    val candidates = banded
      .join(broadcast(probes), Seq("band", "key"), "left_semi")
      .select("vec_id")
      .distinct()
    annRerank(e, candidates)
  }

  /** The exact rerank every single-query ANN entry ends in — the engine
    * twin of [[ANN_RERANK_TAIL]]: fixed-point cosine of each candidate
    * vector against vec 0, top 10 by (sim DESC, vec_id). `cand` holds
    * distinct `vec_id`s; embeddings join back by id, so only the
    * candidates' vectors are read for scoring (TakeOrdered k-merge).
    */
  private def annRerank(e: DataFrame, cand: DataFrame): DataFrame = {
    val q = e.where(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    e.join(cand.select("vec_id"), "vec_id")
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        col("label"),
        cosSim(col("embedding"), col("q_emb")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(10)
  }

  private val RecallQueries = 5 // the eval batch: vec_ids 0..4 query the rest

  /** ANN recall@10 evaluation harness — the measurement loop that makes
    * an ANN index deployable (the `q_dedup_near_eval` idea applied to
    * similarity search): for a 5-query batch, run BOTH the exact
    * brute-force top-10 and the banded multi-probe LSH top-10
    * ([[qSimAnn]]'s radius-2 probe ball, generalized to a query batch),
    * and report per query the candidate count and recall@10 =
    * |ANN ∩ exact| / 10. Recall near 1 with a small candidate fraction
    * is the go/no-go for replacing the exact path; a recall drop after
    * re-hashing or re-banding is the regression this entry catches.
    *
    * Scale shape: the query side (5 vectors, then 5×137×8 probe keys)
    * broadcasts; the corpus-scale work is one banded-index semi-lookup
    * plus one exact-scan rerank — the exact arm IS the expensive truth
    * twin, which is the point of an eval harness (run on a sampled
    * query set, not per-query in production). Ranks use the shared
    * fixed-point cosine, so both engines agree bit-for-bit; recall is
    * one IEEE division of exact integers.
    *
    * On THIS synthetic corpus the measured recall is low (0–0.3) and
    * that is the harness working, not failing: the corpus's best pairs
    * sit near the random-cosine floor (see [[qSimAnn]]'s probe-ball
    * note), and LSH fundamentally cannot rank a query's random-level
    * neighbors — there is no locality to be sensitive to. The
    * planted-near-duplicate spec proves the other side: an actual
    * near-dup neighbor is recalled.
    */
  /** The shared recall@10 readout of the three ANN eval harnesses
    * (LSH/IVF/PQ) — the Scala twin of the oracles' [[ANN_RECALL_TAIL]],
    * ONE definition so the matrix rows cannot drift: exact brute-force
    * top-k per query, candidate-restricted rerank (the production plan
    * shape — not a filtered copy of the exact scan), per-query hit
    * count, candidate count, and recall over the [[RecallQueries]]-query
    * batch, for a (q_id, vec_id) `candidates` frame.
    */
  private def recallReadout(e: DataFrame, candidates: DataFrame): DataFrame = {
    val k = 10
    val data = e.where(col("vec_id") >= RecallQueries)
    val q = e
      .where(col("vec_id") < RecallQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cand = Materialize.eager(candidates) // feeds both the rerank and the candidate count
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id").asc)
    val exact = data
      .crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"), cosSim(col("embedding"), col("q_emb")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select("q_id", "vec_id")
    val ann = cand
      .join(data.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("vec_id"), cosSim(col("embedding"), col("q_emb")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select("q_id", "vec_id")
    val hits = ann
      .join(exact, Seq("q_id", "vec_id"), "left_semi")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_hit"))
    val nc = cand.groupBy("q_id").agg(count(lit(1)).as("n_candidates"))
    q.select("q_id")
      .join(nc, Seq("q_id"), "left")
      .join(hits, Seq("q_id"), "left")
      .select(
        col("q_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / k).as("recall"))
      .orderBy("q_id")
  }

  def qAnnRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val masks = spark
      .range(1 << 16)
      .select(col("id").cast("int").as("mask"))
      .where(bit_count(col("mask")) <= 2)
    val probes = withSigs(e.where(col("vec_id") < RecallQueries))
      .select(col("vec_id").as("q_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("q_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .crossJoin(masks)
      .select(col("q_id"), col("band"), col("key").bitwiseXOR(col("mask")).as("key"))
    val cand = bandedIndex(e.where(col("vec_id") >= RecallQueries))
      .join(broadcast(probes), Seq("band", "key"))
      .select("q_id", "vec_id")
      .distinct()
    recallReadout(e, cand)
  }

  /** ANN recall@10 for the IVF index — [[qAnnRecall]]'s harness applied
    * to the second index family: the IVF centroids/assignments build
    * over the CORPUS (queries excluded, exactly like [[qSimAnnIvf]]'s
    * persisted-index rule), each of the 5 eval queries probes its
    * NProbe=4 nearest centroids, and the probed clusters' members are
    * reranked exactly against the brute-force top-10. Together with the
    * banded-LSH recall row this completes the recall-vs-candidate-count
    * matrix an index choice is made from: LSH probes a hamming ball
    * (candidate count varies per query), IVF scans a fixed cluster
    * fraction (≈ NProbe/K of the corpus) — the harness shows which buys
    * more recall per candidate on THIS corpus.
    *
    * Scale shape: the candidate stage is [[ivfCandidates]]; only the
    * exact truth arm scans all pairs (the harness's job; run sampled in
    * production).
    */
  def qAnnRecallIvf(spark: SparkSession, sfDir: String): DataFrame =
    recallReadout(Tables.embeddings(spark, sfDir), ivfCandidates(spark, sfDir, RecallQueries))

  /** ANN recall@10 for the PQ index — the harness applied to the third
    * index family, completing the recall-vs-candidate-count matrix
    * (LSH hamming ball / IVF cluster probe / PQ ADC top-50): the
    * codebook trains over the query-free corpus, each eval query's
    * 8×16 distance LUT broadcasts, the ADC code scan keeps the 50 best
    * compressed distances per query, and those candidates rerank
    * exactly against the brute-force top-10. PQ's candidate count is
    * FIXED (50) by construction — the matrix row that shows what a
    * constant-budget candidate set buys vs LSH's variable ball and
    * IVF's cluster fraction.
    *
    * Scale shape: the candidate stage is [[pqAdcCandidates]]; only the
    * exact truth arm scans all pairs (the harness's job, sampled in
    * production).
    */
  def qAnnRecallPq(spark: SparkSession, sfDir: String): DataFrame =
    recallReadout(Tables.embeddings(spark, sfDir), pqAdcCandidates(spark, sfDir, RecallQueries))

  /** Matryoshka (prefix-dimension) retrieval eval: rank by cosine over
    * only the FIRST [[MrlPrefixDims]] of the 64 embedding dims, and score
    * recall@10 against the full-dimension exact ranking — the evaluation
    * that justifies MRL-style truncation (Kusupati et al. 2022 shape:
    * nested prefixes of one embedding carry most of the signal, so a
    * 4× narrower scan serves the candidate pass). The quantization rung
    * next to `q_embed_quantize` (int8) and `q_embed_quantize_binary`
    * (1-bit): those shrink per-dim precision, this shrinks the number of
    * dims — at 100 TB a prefix scan reads ¼ of the vector bytes with NO
    * index build at all, and reranking the prefix top-k with full
    * vectors restores exactness where it matters.
    *
    * Scale shape: both arms are the `q_sim_knn_batch` plan — the 5-query
    * set broadcast, one linear corpus scan each (prefix arm on
    * `slice(embedding, 1, 16)`, a pure projection), per-query top-10 via
    * window rank over the tiny (5 × N) sim frame. Cosines are exact
    * fixed-point [[graft.functions.ScaledDot]] LONGs, so both engines
    * rank identical doubles (`vec_id` tiebreak).
    */
  val MrlPrefixDims = 16

  def qEmbedMatryoshka(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 10
    val nQ = 5
    val e = Tables.embeddings(spark, sfDir)
    val data = e.where(col("vec_id") >= nQ)
    val q = e
      .where(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id").asc)
    def topK(sim: Column) = data
      .crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"), sim.as("sim"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select("q_id", "vec_id")
    val full = topK(cosSim(col("embedding"), col("q_emb")))
    val prefix = topK(
      cosSim(
        slice(col("embedding"), 1, MrlPrefixDims),
        slice(col("q_emb"), 1, MrlPrefixDims)))
    val hits = prefix
      .join(full, Seq("q_id", "vec_id"), "left_semi")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_hit"))
    q.select("q_id")
      .join(hits, Seq("q_id"), "left")
      .select(
        col("q_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / k).as("recall"))
      .orderBy("q_id")
  }

  // ----------------------------------------------------- k-means index builds

  private val EmbDim = 64 // embedding width of every fixture

  /** One (m, code, codeword) row per trained codeword: IVF centroids are
    * the codewords of the single full-width subspace m = 0, the PQ
    * codebook is [[PqK]] codewords in each of [[PqM]] subspaces.
    */
  private[queries] type Codebook = Seq[(Int, Int, Seq[Float])]

  /** (vec_id, m, sv) k-means points: each embedding of `corpus` splits
    * into `nSub` contiguous slices of `EmbDim / nSub` dims — one
    * full-width point per vector for IVF (`nSub` = 1), [[PqM]] 8-dim
    * subvectors for PQ.
    */
  private def subvectors(corpus: DataFrame, nSub: Int): DataFrame = {
    val dim = EmbDim / nSub
    corpus
      .select(
        col("vec_id"),
        explode(sequence(lit(0), lit(nSub - 1))).as("m"),
        col("embedding"))
      .select(
        col("vec_id"),
        col("m"),
        slice(col("embedding"), col("m") * dim + 1, lit(dim)).as("sv"))
  }

  /** Nearest-codeword assignment of (vec_id, m, sv) points — the one
    * assignment behind both index builds, both encoders and every Lloyd
    * round: broadcast the codebook, one partial-aggregable `min_by` pass
    * per (vec_id, m) (no window sort/exchange), (d, code) ordering struct
    * for a deterministic tiebreak — identical to the oracles' row_number
    * over (dist asc, code asc). The oracles replay the FULL squared
    * distance |v|² + |c|² − 2v·c; the engine orders by a reduced key
    * (identical argmin — see the body).
    */
  private def assignCodes(spark: SparkSession, points: DataFrame, cb: Codebook): DataFrame = {
    import spark.implicits._
    // Reduced ordering key: the full squared distance is only ever an
    // argmin order within a (vec_id, m) group, and |v|² is constant
    // within the group — dropping it cannot reorder candidates. The key
    // is built from the RAW ScaledDot LONGs (|c|²_raw − 2·⟨v,c⟩_raw), so
    // the comparison is exact integer arithmetic: on the 1e-12
    // quantization grid its order equals the full-distance order term
    // for term, and the oracles' descaled DOUBLE distances carry
    // < half-grid rounding error, so distinct-key comparisons agree
    // everywhere. The only theoretical divergence is an EXACT rational
    // tie between two codewords (both formulations then fall to
    // noise/code tiebreaks) — absent in every fixture (hash-PASS
    // sf0.001/sf0.01). |c|² is computed once per codeword on the
    // broadcast side; the hot projection runs ONE ScaledDot per
    // (point, codeword) pair.
    val cbn = broadcast(
      cb.toDF("m", "code", "cw")
        .withColumn("cwn", ScaledDot.dotRaw(col("cw"), col("cw"))))
    // exact only while |⟨v,c⟩| < ~4.6e6 (see ScaledDot.dotRaw): the
    // long key overflows past it
    points
      .join(cbn, "m")
      .select(
        col("vec_id"),
        col("m"),
        col("code"),
        (col("cwn") - lit(2L) * ScaledDot.dotRaw(col("sv"), col("cw"))).as("d"))
      .groupBy("vec_id", "m")
      .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"))
  }

  /** Test probe: the IVF assignment plan against a fixed 2-centroid
    * model — exposes [[assignCodes]]'s plan shape without running the
    * k-means build.
    */
  private[graft] def ivfAssignmentPlanProbe(spark: SparkSession, sfDir: String): DataFrame =
    assignCodes(
      spark,
      subvectors(Tables.embeddings(spark, sfDir), 1),
      Seq((0, 0, Seq.fill(EmbDim)(0.1f)), (0, 1, Seq.fill(EmbDim)(-0.1f))))

  /** The one Lloyd trainer behind both index builds: deterministic init
    * (codeword c of subspace m = the m-th slice of the c-th seed, the
    * seeds being the points with `vec_id` in `[seedLo, seedLo + k)`
    * numbered in id order), then 2 rounds of [[assignCodes]] + exact
    * decimal means (davg contract, `.toFloat` model state) — identical
    * across partitionings, so [[ivfBuildCtes]] / [[pqBuildCtes]] replay
    * the build bit-for-bit. A codeword that loses all its members is
    * dropped, not re-seeded. Driver state is the bounded codebook
    * (subspaces × k × dims floats), never data.
    */
  private[queries] def trainCodebook(
      spark: SparkSession,
      points: DataFrame,
      seedLo: Int,
      k: Int): Codebook = {
    val seeds = points
      .where(col("vec_id").between(seedLo, seedLo + k - 1))
      .select("vec_id", "m", "sv")
      .collect()
      .toIndexedSeq
    val seedCode = seeds.map(_.getLong(0)).distinct.sorted.zipWithIndex.toMap
    var cb: Codebook = seeds
      .map(r => (r.getInt(1), seedCode(r.getLong(0)), r.getSeq[Float](2)))
      .sortBy(c => (c._1, c._2))
    (1 to 2).foreach { _ =>
      cb = assignCodes(spark, points, cb)
        .join(points, Seq("vec_id", "m"))
        .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("m", "code", "pos")
        .agg(Tables.davg(col("x").cast("double")).as("mean"))
        .collect()
        .toIndexedSeq
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case ((m, code), rows) =>
          val byPos = rows.map(r => r.getInt(2) -> r.getDouble(3).toFloat).toMap
          (m, code, (0 until byPos.size).map(byPos))
        }
        .toSeq
        .sortBy(c => (c._1, c._2))
    }
    cb
  }

  /** The query batch `vec_id < nQ` as driver-side (q_id, vector) pairs in
    * id order — the input of the IVF probe and PQ LUT model math.
    */
  private def queryBatch(e: DataFrame, nQ: Int): IndexedSeq[(Long, Seq[Float])] =
    e.where(col("vec_id") < nQ)
      .select("vec_id", "embedding")
      .orderBy("vec_id")
      .collect()
      .toIndexedSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

  // ------------------------------------------------------------------- IVF

  private val IvfK = 16 // centroids
  private val IvfNProbe = 4 // clusters probed per query

  /** The fixed-point squared-distance of a query vector to a centroid —
    * the driver-side probe-selection arithmetic (scaled-round-sum, so
    * ordering is summation-order-independent and the oracles' `pd` CTE
    * replays it exactly; plain double sums would tie the result to
    * Scala's left-fold order, which SQL cannot promise).
    */
  private def ivfProbeDist(c: Seq[Float], qVec: Seq[Float]): Long =
    c.zip(qVec).map { case (a, b) =>
      val d = a.toDouble - b.toDouble
      ScaledDot.roundHalfAway(d * d * 1e12)
    }.sum

  /** The IVF candidate stage for the query batch `vec_id < nQ`, shared by
    * [[qSimAnnIvf]] (nQ = 1) and [[qAnnRecallIvf]] (nQ = 5). The index
    * ([[IvfK]] centroids from [[trainCodebook]] seeded by vec_ids
    * nQ..nQ+15, plus every corpus vector's assignment) builds over the
    * corpus `vec_id ≥ nQ` only — a persisted IVF index cannot depend on
    * its queries. Each query probes its [[IvfNProbe]] nearest centroids
    * (driver-side model math over nQ×K cells), and the probed clusters'
    * members flow out as (q_id, vec_id) through one broadcast join
    * against the assignment frame.
    */
  private def ivfCandidates(spark: SparkSession, sfDir: String, nQ: Int): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val points = subvectors(e.where(col("vec_id") >= nQ), 1)
    val cents = trainCodebook(spark, points, seedLo = nQ, k = IvfK)
    val probes = queryBatch(e, nQ).flatMap { case (qid, qv) =>
      cents
        .sortBy { case (_, cid, c) => (ivfProbeDist(c, qv), cid) }
        .take(IvfNProbe)
        .map { case (_, cid, _) => (qid, cid) }
    }.toDF("q_id", "code")
    assignCodes(spark, points, cents)
      .join(broadcast(probes), "code")
      .select("q_id", "vec_id")
  }

  /** ANN via IVF (inverted file): k-means-lite centroids (deterministic
    * init, two Lloyd iterations with exact decimal-mean centroid
    * updates), every vector assigned to its nearest centroid, the query
    * probes the [[IvfNProbe]] nearest clusters, exact cosine rerank of
    * only those clusters' vectors ([[ivfCandidates]] then [[annRerank]]).
    * The industry-standard dense-ANN shape next to the LSH probe-ball of
    * `q_sim_ann`: at 100 TB the assignment is one linear N×K pass, the
    * vector table is stored partitioned by cluster id, and a query reads
    * NProbe/K of the corpus.
    *
    * Model state (K centroids = K×64 floats) is bounded and driver-side
    * by design — the standard k-means pattern; nothing unbounded is ever
    * collected. Oracle-verified since round 7: the whole build replays in
    * generated SQL with the 2 Lloyd iterations unrolled as CTEs (see
    * [[ivfOracle]], the `q_embed_pca` unrolled-iteration precedent).
    */
  def qSimAnnIvf(spark: SparkSession, sfDir: String): DataFrame =
    annRerank(Tables.embeddings(spark, sfDir), ivfCandidates(spark, sfDir, nQ = 1))

  // -------------------------------------------------------- product quantization

  private val PqM = 8 // subspaces
  private val PqK = 16 // codewords per subspace (4-bit codes)
  private val PqSub = EmbDim / PqM // dims per subspace

  /** The driver-side PQ distance LUT row for one (query, codeword)
    * cell: the query's m-th slice vs the codeword, float subtraction →
    * double square, summed in pos order, 1e-6 fixed point (the ADC sum
    * of 8 of these is then a LONG — merge-order-independent, so the
    * top-50 cut can't flip with partitioning; same rule as lp_micro).
    */
  private def pqLutMicro(qEmb: Seq[Float], m: Int, cw: Seq[Float]): Long = {
    val qs = qEmb.slice(m * PqSub, (m + 1) * PqSub)
    val d = qs.zip(cw).map { case (a, b) => (a - b).toDouble * (a - b) }.sum
    math.round(d * 1e6)
  }

  /** The PQ candidate stage for the query batch `vec_id < nQ`, shared by
    * [[qSimAnnPq]] (nQ = 1) and [[qAnnRecallPq]] (nQ = 5): the codebook
    * trains over the query-free corpus `vec_id ≥ nQ` ([[trainCodebook]],
    * seeds nQ..nQ+15 → codes 0..15), each query's [[PqM]]×[[PqK]]
    * distance LUT is built driver-side and broadcast as one frame, the
    * ADC scan is one broadcast join + (q_id, vec_id) partial agg over
    * 4-bit codes (never embeddings), and the 50 best compressed
    * distances per query are the candidates. Package-visible so PlanSpec
    * can pin its physical shape: the ascending-distance top-50 ranks
    * through the native bounded-heap [[graft.plans.GroupTopK]] (ASC form
    * — one hash exchange + 50-slot heaps) instead of a WindowExec FULL
    * sort of the (nQ×N) distance frame across only nQ partitions.
    * SQL/window users
    * writing the equivalent `row_number() OVER (ORDER BY adc ASC, vec_id
    * ASC)` shape get the same operator via the generalized
    * WindowTopKRule in extension-configured sessions (pinned in
    * ExtensionsSpec).
    */
  private[graft] def pqAdcCandidates(
      spark: SparkSession,
      sfDir: String,
      nQ: Int = RecallQueries): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    // NOT checkpointed despite 5 references (r17 A/B): materializing the
    // exploded subvector rows measured +0.5 s warm min-of-4 vs letting
    // each reference re-run the column-pruned scan + slice projection —
    // block-store float-array round-trips cost more than the re-derive.
    val points = subvectors(e.where(col("vec_id") >= nQ), PqM)
    val codebook = trainCodebook(spark, points, seedLo = nQ, k = PqK)
    val lut = queryBatch(e, nQ).flatMap { case (qid, qv) =>
      codebook.map { case (m, code, cw) => (qid, m, code, pqLutMicro(qv, m, cw)) }
    }.toDF("q_id", "m", "code", "d_micro")
    val adc = assignCodes(spark, points, codebook)
      .join(broadcast(lut), Seq("m", "code"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("d_micro")).as("adc"))
    graft.plans.GroupTopK
      .topk(adc, "q_id", "adc", "vec_id", 50, "rk", orderAsc = true)
      .select("q_id", "vec_id")
  }

  /** ANN via product quantization — the fourth rung of the vector-search
    * ladder (brute force → banded LSH → IVF → PQ), the standard
    * billion-scale memory trade: each vector compresses to [[PqM]]
    * 4-bit codes (32 bits vs 256 bytes — 64×), queries scan CODES with
    * an additive lookup table, and only the ADC top-50 see their full
    * embeddings again for the exact rerank ([[pqAdcCandidates]] then
    * [[annRerank]]).
    *
    * Scale shapes: codebook training is [[PqM]] parallel k-means-lite
    * problems run as one grouped k-means ([[trainCodebook]] with the
    * subspace `m` as a key — at 100 TB you train on a
    * `q_sample_hash`-style sample and encode the full corpus map-side);
    * the trained codebook and the query's distance LUT are bounded model
    * state (8×16 codewords / 128 doubles) broadcast like the IVF
    * centroids; ADC scoring is a broadcast join + one partial-agg
    * shuffle of (vec_id, partial sums) — NO higher-order functions on
    * the hot path (the LUT lookup is a join, not an `aggregate` lambda —
    * §6's cliff); rerank joins embeddings back by id for the top-50
    * only. Fully oracle-checked: [[pqOracle]] replays the entire build
    * plus LUT/ADC/rerank; PqSpec additionally pins determinism,
    * code-range, and rerank recall vs the exact top-k.
    */
  def qSimAnnPq(spark: SparkSession, sfDir: String): DataFrame =
    annRerank(Tables.embeddings(spark, sfDir), pqAdcCandidates(spark, sfDir, nQ = 1))

  // ------------------------------------------------------------ text analysis

  /** The text battery (`q_text_stats/quality/langid/tokens`) computes all
    * per-document metrics through [[graft.functions.TextProfile]] — one
    * codegen'd single-pass kernel per row — instead of stacks of
    * higher-order functions. Semantics are unchanged (the DuckDB oracles
    * still replay the HOF formulations); see TextProfile's scaladoc for
    * the measured 25-100× interpreted-path cliff this avoids.
    */
  private[queries] def profiled(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .withColumn("p", graft.functions.TextProfile.profile(col("text")))

  def qTextStats(spark: SparkSession, sfDir: String): DataFrame =
    profiled(spark, sfDir)
      .select(
        col("doc_id"),
        col("lang"),
        col("p.len").as("len"),
        col("p.n_tokens").as("n_tokens"),
        (col("p.sum_tok_len").cast("double") /
          nullif(col("p.n_tokens"), lit(0))).as("avg_tok_len"))
      .orderBy("doc_id")

  def qTextLangdist(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        davg(col("n_chars").cast("double")).as("avg_chars"))
      .orderBy("lang")

  def qTextQuality(spark: SparkSession, sfDir: String): DataFrame =
    profiled(spark, sfDir)
      .select(
        col("doc_id"),
        col("lang"),
        (col("p.n_punct").cast("double") / nullif(col("p.len"), lit(0))).as("punct_ratio"),
        (col("p.n_stop").cast("double") / nullif(col("p.n_tokens"), lit(0))).as("stop_ratio"),
        (col("p.n_distinct").cast("double") / nullif(col("p.n_tokens"), lit(0))).as("ttr"),
        (col("p.len") >= 100 && col("p.n_tokens") >= 20).as("passes_len"))
      .orderBy("doc_id")

  /** N-gram/stopword-profile language ID. Marker-count argmax with a fixed
    * tie-break priority; fully SQL-expressible, so oracle-checked.
    */
  def qTextLangid(spark: SparkSession, sfDir: String): DataFrame = {
    val best =
      greatest(col("p.s_en"), col("p.s_de"), col("p.s_fr"), col("p.s_es"), col("p.s_zh"))
    profiled(spark, sfDir)
      .select(
        col("doc_id"),
        col("lang"),
        when(col("p.s_en") === best, "en")
          .when(col("p.s_de") === best, "de")
          .when(col("p.s_fr") === best, "fr")
          .when(col("p.s_es") === best, "es")
          .otherwise("zh")
          .as("pred"))
      .withColumn("hit", col("pred") === col("lang"))
      .orderBy("doc_id")
  }

  /** Whitespace vs BPE-ish regex token counts. */
  def qTextTokens(spark: SparkSession, sfDir: String): DataFrame =
    profiled(spark, sfDir)
      .select(
        col("doc_id"),
        col("p.n_tokens").as("n_ws"),
        col("p.n_bpe").as("n_bpe"))
      .orderBy("doc_id")

  /** Sliding-window token chunking parameters: window of
    * [[ChunkWin]] whitespace tokens, stride [[ChunkStride]] (25%
    * overlap) — the RAG / context-window preprocessing constants; both
    * are inlined in the DuckDB oracle below.
    */
  val ChunkWin = 32
  val ChunkStride = 24

  /** Fixed-size token-window chunking with overlap — the 1:N explode
    * every retrieval/pretraining pipeline runs before embedding or
    * packing: each document splits into windows of [[ChunkWin]]
    * whitespace tokens starting every [[ChunkStride]] tokens (the final
    * window is the partial tail), emitting per chunk its index, start
    * offset, token count, and an md5 content id (the dedup/cache key a
    * chunk store uses). Zero-token documents produce no chunks.
    *
    * Scale shape: pure map-side generate — split, `sequence()` over the
    * window starts, one `posexplode`, `slice` + md5 per chunk; no
    * shuffle anywhere (the output explodes rows ~n/stride-fold, which is
    * the operator's own output size, not join waste). At 100 TB this
    * runs as one whole-stage-codegen pass over the text scan, and the
    * chunk rows stream straight into the next stage's partitioning.
    */
  def qTextChunk(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= lit(""))
    Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), toks.as("toks"))
      .where(size(col("toks")) > 0)
      .select(
        col("doc_id"),
        col("toks"),
        posexplode(sequence(lit(1), size(col("toks")), lit(ChunkStride)))
          .as(Seq("chunk_idx", "start_tok")))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        col("start_tok"),
        least(lit(ChunkWin), size(col("toks")) - col("start_tok") + 1).as("n_toks"),
        md5(concat_ws(" ", slice(col("toks"), col("start_tok"), lit(ChunkWin))).cast("binary"))
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Tokenizer fertility per language — the tokenizer-efficiency eval
    * (Rust 2021 multilingual-fertility shape): subword-tokens-per-word
    * and bytes-per-subword over the corpus, by language. A language with
    * fertility ≫ 1.5 against a tokenizer is under-served by its vocab
    * (more compute per word, shorter effective context); this table is
    * the evidence a vocab rebalance acts on. Words = whitespace tokens,
    * subwords = the BPE-ish regex classes — both from the single-pass
    * [[graft.functions.TextProfile]] codegen kernel (parity with the
    * oracle's `len(toks)` / `regexp_extract_all` pinned by
    * `q_text_tokens`).
    *
    * Scale shape: ONE map-side kernel pass over documents → |langs|-row
    * partial agg; no shuffle carries text. Sums are exact longs; the two
    * ratios divide once in IEEE and round 1e-6 — identical on both
    * engines.
    */
  def qTokenizerFertility(spark: SparkSession, sfDir: String): DataFrame =
    profiled(spark, sfDir)
      .select(
        col("lang"),
        col("p.n_tokens").cast("long").as("ws"),
        col("p.n_bpe").cast("long").as("bpe"),
        octet_length(col("text")).cast("long").as("nb"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws")).as("n_words"),
        sum(col("bpe")).as("n_subtokens"),
        sum(col("nb")).as("n_bytes"),
        round(sum(col("bpe")).cast("double") / sum(col("ws")).cast("double"), 6)
          .as("fertility"),
        round(sum(col("nb")).cast("double") / sum(col("bpe")).cast("double"), 6)
          .as("bytes_per_subtok"))
      .orderBy("lang")

  /** Winnowing-lite document fingerprint: polynomial rolling hash per
    * token (mod 1e9+7), then min over 4-token windows — as the codegen'd
    * [[graft.functions.TextFingerprint]] kernel; the oracle replays the
    * identical fold in DuckDB lambdas.
    */
  def qTextFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .select(
        col("doc_id"),
        graft.functions.TextFingerprint.of(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Compressibility quality signal: raw-DEFLATE length of each doc's
    * UTF-8 bytes over the [[graft.functions.DeflateLen]] kernel — the
    * corpus-hygiene gate that catches long-range and sub-token redundancy
    * (boilerplate, machine-generated loops, base64 blobs read LOW ratio;
    * the token-level ratios of `q_text_repetition` can miss all three).
    * Pure per-row projection at the scan, no shuffle; thresholds
    * (ratio < 0.35 → repetitive, > 0.95 → binary-ish/random) are the
    * standard Gopher-style gates. No DuckDB deflate ⇒ rows-only check;
    * determinism + ordering pinned in spec.
    */
  def qTextCompressibility(spark: SparkSession, sfDir: String): DataFrame = {
    val nBytes = octet_length(col("text"))
    val zBytes = graft.functions.DeflateLen.of(col("text"))
    Tables
      .documents(spark, sfDir)
      .select(
        col("doc_id"),
        nBytes.as("n_bytes"),
        zBytes.as("z_bytes"),
        when(nBytes > 0, round(zBytes.cast("double") / nBytes.cast("double"), 4))
          .otherwise(lit(1.0))
          .as("ratio"))
      .withColumn(
        "gate",
        when(col("ratio") < 0.35, "repetitive")
          .when(col("ratio") > 0.95, "incompressible")
          .otherwise("ok"))
      .orderBy("doc_id")
  }

  /** Corpus term frequencies, top 100 (wordcount at scale): explode
    * tokens → map-side partial count → shuffle on the token → TakeOrdered
    * top-k merge. The explode is a codegen'd generate over the native
    * `split` (not a HOF); the aggregate shuffles (token, partial count)
    * pairs only.
    */
  def qTextWordcount(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(100)

  /** Gopher-style repetition quality signals, per document: the
    * most-frequent-token fraction and the repeated-token fraction
    * (1 − distinct/total) — the two cheap signals that catch boilerplate
    * and degenerate generations. One explode over the native `split`
    * (codegen generate, no HOF), then (doc_id, tok) partial counts with
    * map-side combine and a per-doc max/sum/count — keys are (doc_id,
    * token) pairs; document bodies never shuffle. Thresholds (top token
    * > 12.5% of the doc, or > 30% repeats) flag `repetitive`.
    */
  def qTextRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    val topFrac = col("top_tok_n").cast("double") / col("n_tokens")
    val dupFrac = lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")
    docTokens(Tables.documents(spark, sfDir))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(
        max(col("n")).as("top_tok_n"),
        sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_distinct"),
        topFrac.as("top_tok_frac"),
        dupFrac.as("dup_frac"),
        (topFrac > 0.125 || dupFrac > 0.3).as("repetitive"))
      .orderBy("doc_id")
  }

  /** Unicode normalization / encoding-repair audit — the standard FIRST
    * stage of a web-corpus pipeline (before dedup/quality gates, whose
    * hashes assume canonical codepoints): per document, the NFC repair
    * deltas plus the three classic encoding-damage counters —
    *
    *   - `n_cp_raw` / `n_cp_nfc` / `nfc_delta` / `is_nfc`: codepoint
    *     length before/after NFC ([[graft.functions.NfcNormalize]], the
    *     codegen kernel — é as e+U+0301 composes to one codepoint, so a
    *     nonzero delta marks decomposed text to re-write;
    *   - `n_ctrl`: C0 control chars (minus \t\n\r) + DEL — binary
    *     garbage that leaked into a text column;
    *   - `n_repl`: U+FFFD replacement chars — a lossy upstream decode;
    *   - `n_mojibake`: UTF-8-read-as-Latin-1 double-encoding signatures
    *     (Ã followed by a continuation-byte-mapped codepoint, the 'Ã©'
    *     pattern) — text to route through an encoding-repair pass.
    *
    * Scale shape: stateless per-row projection at the scan — the NFC
    * kernel short-circuits on already-normalized text (the overwhelming
    * case) via an allocation-free `isNormalized` scan, and the counters
    * are builtin codegen regexes; no shuffle before the presentation
    * sort. Crafted-damage cases (decomposed accents, mojibake, control
    * bytes) are pinned in NfcNormalizeSpec; the fixtures are clean, so
    * the oracle certifies the audit's zero/identity readings row-by-row.
    */
  def qTextNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    def nfc = graft.functions.NfcNormalize.of(col("text"))
    Tables
      .documents(spark, sfDir)
      .select(
        col("doc_id"),
        length(col("text")).as("n_cp_raw"),
        length(nfc).as("n_cp_nfc"),
        (length(col("text")) - length(nfc)).as("nfc_delta"),
        (nfc === col("text")).as("is_nfc"),
        regexp_count(col("text"), lit("[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}]"))
          .as("n_ctrl"),
        regexp_count(col("text"), lit("\\x{FFFD}")).as("n_repl"),
        regexp_count(col("text"), lit("\\x{C3}[\\x{80}-\\x{BF}]")).as("n_mojibake"))
      .orderBy("doc_id")
  }

  /** Per-doc token Shannon entropy (nats): `H = ln N − (Σ nₜ·ln nₜ)/N` —
    * the token-diversity quality signal between `q_text_repetition`'s
    * ratio heuristics and `q_text_compressibility`'s byte-level DEFLATE
    * gate: a doc cycling five words scores low H however long it is.
    * Same shape as repetition (one (doc, tok) partial-count shuffle, one
    * per-doc agg); each `ln nₜ` is quantized to 1e-6 fixed point BEFORE
    * the weighted sum (the `q_text_unigram_nll` cross-libm discipline —
    * Java and C `ln` differ in the last ulp), so the aggregate is exact
    * integer arithmetic on both engines and the closed form rounds
    * identically.
    */
  def qTextEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val lnMicro = round(log(col("n")) * 1e6, 0).cast("long")
    val hN = round(log(col("n_tokens")) * 1e6, 0).cast("long").cast("double")
    docTokens(Tables.documents(spark, sfDir))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(
        sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("n") * lnMicro).as("s_micro"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_distinct"),
        round((hN - col("s_micro").cast("double") / col("n_tokens").cast("double")) / 1e6, 6)
          .as("entropy"))
      .withColumn("low_diversity", col("entropy") < 1.5)
      .orderBy("doc_id")
  }

  /** Train↔test decontamination core: for each train document, how many
    * of its distinct 3-token shingles appear anywhere in the eval set.
    * The scalable shape: eval shingles reduce to a DISTINCT shingle
    * relation, train docs explode to (doc_id, shingle), and overlap is a
    * key-equality join on the shingle — at 100 TB both sides shuffle
    * (hash-partition) on the shingle key; no document body and no O(n×m)
    * comparison anywhere. Package-visible so the spec can drive it with
    * crafted train/eval sets.
    */
  private[graft] def contamination(train: DataFrame, evalDocs: DataFrame): DataFrame = {
    // hashed shingles (round 6): the overlap join shuffles 8-byte keys,
    // not shingle text — same rationale and DuckDB twin as the dedup family
    val sh = graft.functions.Shingles3Hashed.of(col("text"))
    val evalSh = evalDocs.select(explode(sh).as("sh")).distinct()
    val shared = train
      .select(col("doc_id"), explode(sh).as("sh"))
      .join(evalSh, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
    train
      .select(col("doc_id"), size(sh).cast("long").as("n_shingles"))
      .join(shared, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)).cast("double") /
          nullif(col("n_shingles").cast("double"), lit(0.0))).as("contamination"))
  }

  /** Benchmark-contamination check over the engine's own deterministic
    * splits: train = q_split_assign buckets 0-79, eval = the test split
    * (buckets 90-99); a train document whose shingles overlap the test
    * set would leak eval data into training. Shingles come from the
    * [[graft.functions.Shingles3Hashed]] kernel (distinct per doc, same
    * semantics as the dedup family), so `n_shared` counts distinct
    * contaminated shingle hashes.
    */
  def qDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs =
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text"), splitBucket.as("b"))
    contamination(docs.where(col("b") < 80), docs.where(col("b") >= 90))
      .orderBy("doc_id")
  }

  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\d{3}[-.]\\d{3}[-.]\\d{4}"

  /** PII scrub column: emails then phones replaced by typed placeholders
    * (both regexes are deliberately in the RE2-compatible subset so the
    * DuckDB twin evaluates the identical language).
    */
  private[graft] def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, lit(EmailRe), lit("<EMAIL>")),
      lit(PhoneRe),
      lit("<PHONE>"))

  /** PII detection + redaction accounting, per document: email/phone
    * match counts and the redacted length — the audit output a cleaning
    * pipeline records before dropping or scrubbing. Pure per-row codegen
    * (regexp_count / regexp_replace builtins), embarrassingly parallel,
    * no shuffle; the spec proves the scrub on crafted PII strings.
    */
  def qTextPii(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).cast("int").as("n_emails"),
        regexp_count(col("text"), lit(PhoneRe)).cast("int").as("n_phones"),
        length(scrubPii(col("text"))).cast("int").as("clean_len"))
      .orderBy("doc_id")

  /** Composed cleaning pipeline — the operators chained the way a real
    * training-data job runs them: quality gate (length/token floors) →
    * exact dedup (keep the min doc_id per sha256) → deterministic
    * train/val/test assignment → per-split corpus stats. One digest
    * shuffle and one split aggregation; the document body never shuffles
    * (the digest group-by carries doc_id + stats only).
    */
  def qPipelineClean(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val p = graft.functions.TextProfile.profile(col("text"))
    val passed = docs
      .select(col("doc_id"), col("text"), col("n_chars"), p.as("p"))
      .where(col("p.len") >= 100 && col("p.n_tokens") >= 20)
    val kept = passed
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("n_chars")).as("n_chars"))
    kept
      .select(col("doc_id"), col("n_chars"), splitCol.as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("split")
  }

  /** Near-dup candidate pairs → dedup GROUPS: connected components over
    * the df-capped shingle-Jaccard pairs (see
    * [[graft.operators.DedupClusters]] — iterative min-label propagation,
    * one shuffle per round, rounds bounded by cluster diameter). Output:
    * one row per multi-member cluster with its representative (min
    * doc_id), size, and `members` as a sorted comma-joined STRING (a
    * deliberate scalar-schema choice — hashable by any comparator; a
    * consumer wanting the array splits it back). Hash-matched against a
    * DuckDB `WITH RECURSIVE` min-label twin over the same pairs SQL; the
    * spec additionally pins the labeling against a union-find reference.
    */
  def qDedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.DedupClusters
      .summarize(qDedupNgramCapped(spark, sfDir), "d1", "d2")

  /** The dedup pipeline's actionable end product: the DROP list — every
    * clustered document except its cluster's representative (min
    * doc_id). A cleaning job anti-joins the corpus against this (or
    * equivalently keeps `cluster` from the summary). Same propagation
    * output as `q_dedup_clusters`, projected to (drop_id,
    * keep_id) pairs; hash-matched against the recursive-CTE twin.
    */
  def qDedupDroplist(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.DedupClusters
      .clusters(qDedupNgramCapped(spark, sfDir), "d1", "d2")
      .where(col("id") =!= col("label"))
      .select(col("id").as("drop_id"), col("label").as("keep_id"))
      .orderBy("drop_id")

  // ---------------------------------------------------- deterministic sampling

  /** Deterministic content-keyed sample (~10%): keep documents whose md5
    * hex prefix sorts below '1a' (26/256 ≈ 10.2%). Content hashing makes
    * the sample REPRODUCIBLE across engines, runs, partitionings and
    * cluster sizes — the property a training-data pipeline needs that
    * `df.sample()` (RNG per partition) cannot give. Embarrassingly
    * parallel; the filter runs at the scan.
    */
  def qSampleHash(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .where(substring(md5(col("text").cast("binary")), 1, 2) < "1a")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")

  /** Micro-quantized ln(2^40): the A-ES key constant, pinned as an
    * integer LITERAL (= round(1e6·40·ln 2)) rather than computed — a
    * 1-ulp cross-engine disagreement on a shared `ln` constant would
    * shift every key by a w-dependent amount and could flip rank-20
    * boundaries at scale.
    */
  private val EsLnCapMicro = 27725887L

  /** Per-group uniform k-reservoir sample (k = 4 per event type), made
    * deterministic the `q_sample_hash` way: each row's reservoir
    * priority is md5 of its unique event_id, so "keep the k smallest
    * priorities per group" IS a uniform without-replacement k-sample —
    * the distributed equivalent of Vitter's Algorithm R with the PRNG
    * replaced by a reproducible hash (same winners across engines, runs,
    * and partitionings; `df.sample()` stays banned from this family).
    *
    * Scale shape: this is EXACTLY the bounded per-group top-k shape —
    * WindowTopKRule rewrites the row_number ≤ k window (md5 order key +
    * event_id tiebreak) to the two-phase GroupTopK heap, so ≤ k·|groups|
    * rows cross the exchange and the full sort never happens. The hash
    * is computed once at the scan (stateless, codegen'd md5).
    */
  def qSampleReservoir(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 4
    val w = Window.partitionBy("event_type").orderBy(col("rkey").asc, col("event_id").asc)
    Tables
      .events(spark, sfDir)
      .select(
        col("event_type"),
        col("event_id"),
        col("user_id"),
        md5(col("event_id").cast("string").cast("binary")).as("rkey"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("event_type"), col("rn"), col("event_id"), col("user_id"), col("rkey"))
      .orderBy("event_type", "rn")
  }

  /** Weighted sampling without replacement, top-20 by n_chars weight —
    * the Efraimidis–Spirakis A-ES scheme made deterministic: each row
    * draws u ∈ (0,1] from a 40-bit md5 of its doc_id (reproducible
    * across engines/runs/partitionings — the same reason `df.sample()`
    * is banned from this family) and wins by largest u^(1/w), i.e.
    * SMALLEST −ln(u)/w. A-ES is the standard one-pass distributed
    * weighted sample: P(row in top-k) matches sequential weighted
    * draws without replacement, and the key is computable per-row with
    * no global state.
    *
    * Cross-engine float discipline: with h ∈ [1, 2^40] integer,
    * −ln(u) = ln(2^40) − ln(h); `ln` takes only INTEGER arguments
    * (micro-quantized, the q_text_zipf pattern), the cap is the pinned
    * [[EsLnCapMicro]] literal, and the key is ONE IEEE division of two
    * exact integers — bit-identical across engines. Scale shape:
    * stateless per-row key at the scan + TakeOrdered k-merge; zero
    * shuffles.
    */
  def qSampleWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 10), 16, 10)
      .cast("long") + lit(1L)
    Tables
      .documents(spark, sfDir)
      .select(
        col("doc_id"),
        col("n_chars").as("weight"),
        ((lit(EsLnCapMicro) - round(log(h) * 1e6).cast("long")).cast("double") /
          col("n_chars")).as("es_key"))
      .orderBy(col("es_key").asc, col("doc_id").asc)
      .limit(20)
  }

  /** Deterministic train/val/test assignment (80/10/10) keyed on doc_id
    * (the standard split-by-document rule: a document must never straddle
    * splits). Multiplicative-hash mod keeps both engines in exact integer
    * range; per-row, no shuffle, stable under any partitioning.
    */
  def qSplitAssign(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), splitCol.as("split"))
      .orderBy("doc_id")

  // ----------------------------------------------------------- sessionization

  /** Events with their gap-based session index (30-min gap, `>=`
    * boundary to match Spark's session_window semantics exactly):
    * lag → new-session flag → running-sum session_id. One shuffle on
    * user_id; shared by [[qEventsSessionize]] and
    * [[qJoinIntervalOverlap]] so the session semantics can't drift
    * between them.
    */
  private def sessionized(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn(
        "new_s",
        when(
          col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) >= 1800000000L,
          1).otherwise(0))
      .withColumn(
        "session_id",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Gap-based sessionization: per-session aggregate over [[sessionized]]. */
  def qEventsSessionize(spark: SparkSession, sfDir: String): DataFrame =
    sessionized(Tables.events(spark, sfDir))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"))
      .orderBy("user_id", "session_id")

  /** Interval × interval overlap join WITHOUT an equality key — the one
    * join algorithm shape the range/as-of family doesn't cover: user
    * sessions (varying width) against global high-activity "incident"
    * hours (hours with ≥ 12 events). A naive formulation is an O(n·m)
    * nested loop; the scale shape bins BOTH interval sets to a common
    * unit (1 day), explodes each interval into every bin it touches
    * (bounded: intervals are short relative to the unit), joins on bin
    * equality — a hash shuffle — then applies the exact overlap
    * predicate and de-dups pairs that met in several bins (the step
    * point-in-range binning never needs). Output is the per-incident
    * session/user count; the DuckDB twin runs the quadratic form, so
    * the binned plan must reproduce it row-for-row.
    */
  def qJoinIntervalOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val sess = sessionized(ev)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
    // incident = hour busier than the corpus mean hourly rate (relative
    // threshold: meaningful at every scale factor; the mean is a 1-row
    // broadcast like the z-order bounds)
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("w_start"))
      .agg(count(lit(1)).as("n"))
    val incidents = hourly
      .crossJoin(broadcast(hourly.agg(avg(col("n")).as("mean_n"))))
      .where(col("n") > col("mean_n"))
      .select(col("w_start"), (col("w_start") + expr("INTERVAL 1 HOUR")).as("w_end"))
    val day = 86400L
    val sessBins = sess.withColumn(
      "bin",
      explode(
        sequence(
          floor(unix_seconds(col("s_start")) / day).cast("long"),
          floor(unix_seconds(col("s_end")) / day).cast("long"))))
    val winBins = incidents.withColumn(
      "bin",
      explode(
        sequence(
          floor(unix_seconds(col("w_start")) / day).cast("long"),
          floor(unix_seconds(col("w_end")) / day).cast("long"))))
    sessBins
      .join(winBins, Seq("bin"))
      .where(col("s_start") < col("w_end") && col("w_start") <= col("s_end"))
      .select("user_id", "session_id", "w_start")
      .distinct() // a pair can meet in 2 bins when either interval crosses midnight
      .groupBy(col("w_start"))
      .agg(count(lit(1)).as("n_sessions"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("w_start")
  }

  // ------------------------------------------------------------- multimodal

  /** Multimodal binary-column metadata extraction: docs → opaque binary
    * payloads, probed in distributed batches via mapPartitions (the Scala
    * analog of mapInPandas). The metadata stage is REAL:
    * [[graft.operators.MediaProbe]] identifies PNG/GIF/BMP/JPEG
    * containers and parses pixel dimensions straight from the binary
    * headers — no codec library needed, proven on crafted headers in
    * MediaProbeSpec. Only the pixel decode behind the header remains the
    * documented stub boundary (no libjpeg/libpng in this container).
    * The DuckDB oracle replays the classification rules byte-for-byte
    * from the hexed payload (see the registry entry), so the probe's
    * container walk — not just the all-`unknown` outcome this text
    * corpus produces — is hash-checked end-to-end; crafted-header
    * parsing is additionally unit-tested in MediaProbeSpec.
    */
  def qMultimodalMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bin = Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
      .as[(Long, Array[Byte])]
    bin
      .mapPartitions { it =>
        // one probe per record, batch-shaped: the partition iterator is
        // where a real impl would also hold codec/ort sessions.
        it.map { case (id, bytes) =>
          val p = graft.operators.MediaProbe.probe(bytes)
          MediaMeta(
            id,
            bytes.length.toLong,
            bytes.take(4).map(b => f"${b & 0xff}%02x").mkString,
            p.format,
            p.width,
            p.height)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Audio-modality metadata: per-doc WAV payloads synthesized from
    * doc_id-derived parameters (rate/channels/sample-count), then parsed
    * back by [[graft.operators.AudioProbe]]'s RIFF chunk walk in a
    * second, bytes-only mapPartitions stage. Unlike the image probe
    * (whose corpus payloads are text → `unknown`), this one carries a
    * REAL hash-match oracle: the DuckDB twin recomputes the expected
    * metadata from the same doc_id arithmetic, so the Spark side only
    * matches if the 44 actual RIFF header bytes round-trip through the
    * parser exactly — an end-to-end binary-format check, not a stub.
    * Payloads are born and probed in the same partition; no binary ever
    * shuffles (the output is scalar metadata).
    */
  def qMultimodalAudio(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rates = Array(8000, 16000, 22050, 44100, 48000)
    val synth = Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        it.map { case (id, nChars) =>
          val h = graft.operators.AudioProbe.wavHeader(
            channels = (id % 2 + 1).toInt,
            rate = rates((id % 5).toInt),
            bits = 16,
            nSamples = nChars * 100)
          (id, h)
        }
      }
      .toDF("doc_id", "content")
      .as[(Long, Array[Byte])]
    synth
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val a = graft.operators.AudioProbe.probe(bytes)
          (id, a.format, a.channels, a.sampleRate, a.bitsPerSample, a.nSamples,
            if (a.sampleRate > 0) a.nSamples * 1000L / a.sampleRate else -1L)
        }
      }
      .toDF("doc_id", "format", "channels", "sample_rate", "bits", "n_samples", "duration_ms")
      .orderBy("doc_id")
  }

  /** Video-modality metadata probe — the MP4 sibling of
    * `q_multimodal_audio`, completing the image/audio/video trio: a
    * minimal-but-valid ISO-BMFF file (ftyp + moov(mvhd + trak/tkhd), with
    * decoy `free`/`iods` boxes the walk must skip) is synthesized per
    * document from its (doc_id, n_chars), then parsed back by the real
    * [[graft.operators.VideoProbe]] box walk. The DuckDB twin recomputes
    * the expected brand/timescale/duration/dimensions from the same
    * arithmetic — a true binary round-trip oracle: any parser or
    * synthesizer bug (wrong offset, wrong endianness, fixed-point slip)
    * breaks the hash match. Bytes are born and probed in-partition,
    * never shuffled.
    */
  def qMultimodalVideo(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val brands = Array("isom", "mp42", "avc1")
    val scales = Array(600, 1000, 90000)
    val synth = Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        it.map { case (id, nChars) =>
          val k = (id % 3).toInt
          val b = graft.operators.VideoProbe.mp4Header(
            brand = brands(k),
            timescale = scales(k),
            duration = nChars * scales(k) / 100,
            width = 320 + (id % 4).toInt * 160,
            height = 240 + (id % 4).toInt * 120)
          (id, b)
        }
      }
      .toDF("doc_id", "content")
      .as[(Long, Array[Byte])]
    synth
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val v = graft.operators.VideoProbe.probe(bytes)
          (id, v.format, v.brand, v.timescale, v.durationMs, v.width, v.height)
        }
      }
      .toDF("doc_id", "format", "brand", "timescale", "duration_ms", "width", "height")
      .orderBy("doc_id")
  }

  /** Image near-dup via perceptual hash — the pixel-DATA member of the
    * multimodal battery (the header probes stop at metadata; this one
    * decodes): each document synthesizes a real 8×8 24-bpp BMP tile
    * ([[graft.operators.ImageCodec]]; same-scene documents are near- but
    * not byte-identical), a second bytes-only stage parses the BMP and
    * computes the 64-bit average hash, and near-dup pairs come from the
    * same 4×16-bit pigeonhole equi-join as `q_dedup_simhash_pairs`
    * (exact at hamming ≤ 3, key shuffle only — never O(n²)). The tile
    * cache this engine's reference uploads is the textbook use: ocean
    * tiles are near-identical and a byte digest misses them.
    *
    * The DuckDB oracle recomputes hashes ARITHMETICALLY from the same
    * synthesis formula and compares pairs — a true binary round-trip
    * gate: any bug in BMP write (stride, row order, BGR), parse
    * (offsets, height sign) or hash (luminance, mean, bit order) breaks
    * the hash-match. Bytes are born and hashed in-partition, never
    * shuffled; only (doc_id, 8-byte hash) leaves the scan.
    */
  def qMultimodalPhash(spark: SparkSession, sfDir: String): DataFrame =
    // materializeSegs = false: see hammingPairs64 — 2 references and a
    // cheap synth-side pipeline; the checkpoint measured slower here
    hammingPairs64(phashSigs(spark, sfDir), "phash", cap = None, materializeSegs = false)

  /** [[qMultimodalPhash]] with the [[CapBucket]] pigeonhole guard — the
    * production twin (round-14 verdict ask #1). The tile domain is the
    * textbook trigger: near-identical ocean tiles share all four hash
    * segments, so the uncapped pair OUTPUT is quadratic in clique size
    * (the ×10 dup-mode recert measured 64.4M pair rows / a 6.5-minute
    * oracle replay on the uncapped entry). Over-popular (seg, seg_val)
    * buckets are dropped BEFORE the join — their members are mutual
    * near-dups that exact digest dedup already owns — bounding each
    * bucket at C(cap,2) = 120 pairs; see [[qDedupSimhashPairsCapped]].
    */
  def qMultimodalPhashCapped(spark: SparkSession, sfDir: String): DataFrame =
    hammingPairs64(phashSigs(spark, sfDir), "phash", cap = Some(CapBucket))

  /** (doc_id, phash) — the BMP-synthesize + parse + aHash stage shared by
    * the capped and uncapped phash entries. Bytes are born and hashed
    * in-partition; only the 8-byte hash leaves the scan.
    */
  private def phashSigs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables
      .documents(spark, sfDir)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val bytes = graft.operators.ImageCodec.bmp8x8(id)
          (id, graft.operators.ImageCodec.aHash(bytes))
        }
      }
      .toDF("doc_id", "phash")
  }

  /** Multimodal 1:N frame sampling: each binary payload ("video") yields
    * every 4th 1 KiB block as a "frame" row — the row-exploding batch
    * shape of video frame extraction (one decoder per partition, an
    * iterator flatMap per record, bounded memory: no frame list is ever
    * materialized per document). The "decode" is a deterministic STUB
    * like `q_multimodal_meta`'s (no codecs in this container); the real
    * parts are the 1:N iterator plumbing, the binary-safe schema, and
    * that frame bytes are born in the output partition — never shuffled.
    * Deterministic stub ⇒ full oracle: the DuckDB twin recomputes every
    * block boundary and Arrays.hashCode value from the payload bytes.
    */
  def qMultimodalFrames(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bin = Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
      .as[(Long, Array[Byte])]
    bin
      .mapPartitions { it =>
        // one "decoder" per partition; flatMap keeps the frame stream lazy
        it.flatMap { case (id, bytes) =>
          val block = 1024
          val stride = 4
          val nBlocks = (bytes.length + block - 1) / block
          (0 until nBlocks by stride).iterator.map { b =>
            val start = b * block
            val end = math.min(start + block, bytes.length)
            MediaFrame(
              id,
              b / stride,
              end - start,
              java.util.Arrays.hashCode(java.util.Arrays.copyOfRange(bytes, start, end)))
          }
        }
      }
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  // ------------------------------------------------------------- registry

  val all: Seq[(String, Q)] = Seq(
    "q_dedup_exact" -> Q(
      qDedupExact,
      Some("""SELECT sha256(text) AS h, min(doc_id) AS keep_id, count(1) AS n_dups
             |FROM documents GROUP BY 1 ORDER BY h""".stripMargin)),
    "q_dedup_ngram" -> Q(
      qDedupNgram,
      Some(s"""WITH docs AS (
             |$SHINGLE_DOCS),
             |dh AS (
             |$SHINGLE_HASH_LIST),
             |sizes AS (SELECT doc_id, len(hs) AS n_sh FROM dh),
             |ex AS (SELECT doc_id, unnest(hs) AS sh FROM dh),
             |pairs AS (
             | SELECT a.doc_id AS d1, b.doc_id AS d2, count(1) AS common
             | FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
             | GROUP BY 1, 2)
             |SELECT d1, d2, common,
             |  CAST(common AS DOUBLE) / CAST(s1.n_sh + s2.n_sh - common AS DOUBLE) AS jaccard
             |FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
             |WHERE CAST(common AS DOUBLE) / CAST(s1.n_sh + s2.n_sh - common AS DOUBLE) >= 0.5
             |ORDER BY d1, d2""".stripMargin),
      bench = false),
    "q_dedup_ngram_capped" -> Q(
      qDedupNgramCapped,
      Some(s"""WITH docs AS (
             |$SHINGLE_DOCS),
             |dh AS (
             |$SHINGLE_HASH_LIST),
             |ex0 AS (SELECT doc_id, unnest(hs) AS sh FROM dh),
             |df AS (SELECT sh, count(1) AS df FROM ex0 GROUP BY sh),
             |ex AS (SELECT ex0.doc_id, ex0.sh FROM ex0 JOIN df USING (sh) WHERE df.df <= 50),
             |sizes AS (SELECT doc_id, count(1) AS n_sh FROM ex GROUP BY doc_id),
             |pairs AS (
             | SELECT a.doc_id AS d1, b.doc_id AS d2, count(1) AS common
             | FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
             | GROUP BY 1, 2)
             |SELECT d1, d2, common,
             |  CAST(common AS DOUBLE) / CAST(s1.n_sh + s2.n_sh - common AS DOUBLE) AS jaccard
             |FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
             |WHERE CAST(common AS DOUBLE) / CAST(s1.n_sh + s2.n_sh - common AS DOUBLE) >= 0.5
             |ORDER BY d1, d2""".stripMargin)),
    "q_dedup_containment" -> Q(
      qDedupContainment,
      Some(s"""WITH docs AS (
             |$SHINGLE_DOCS),
             |dh AS (
             |$SHINGLE_HASH_LIST),
             |ex0 AS (SELECT doc_id, unnest(hs) AS sh FROM dh),
             |df AS (SELECT sh, count(1) AS df FROM ex0 GROUP BY sh),
             |ex AS (SELECT ex0.doc_id, ex0.sh FROM ex0 JOIN df USING (sh) WHERE df.df <= 50),
             |sizes AS (SELECT doc_id, count(1) AS n_sh FROM ex GROUP BY doc_id),
             |pairs AS (
             | SELECT a.doc_id AS d1, b.doc_id AS d2, count(1) AS common
             | FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
             | GROUP BY 1, 2),
             |dir AS (
             | SELECT d1 AS d_sub, d2 AS d_sup, common, s1.n_sh AS n_sub
             | FROM pairs JOIN sizes s1 ON d1 = s1.doc_id
             | UNION ALL
             | SELECT d2 AS d_sub, d1 AS d_sup, common, s2.n_sh AS n_sub
             | FROM pairs JOIN sizes s2 ON d2 = s2.doc_id)
             |SELECT d_sub, d_sup, common,
             |  CAST(common AS DOUBLE) / CAST(n_sub AS DOUBLE) AS containment
             |FROM dir
             |WHERE CAST(common AS DOUBLE) / CAST(n_sub AS DOUBLE) >= 0.8
             |ORDER BY d_sub, d_sup""".stripMargin)),
    "q_dedup_incremental" -> Q(
      qDedupIncremental,
      Some("""WITH d AS (SELECT doc_id, source, sha256(text) AS h FROM documents),
             |corpus AS (SELECT DISTINCT h FROM d WHERE length(source) = 4),
             |inc AS (SELECT doc_id, h FROM d WHERE length(source) = 5),
             |m AS (
             | SELECT i.doc_id, (c.h IS NOT NULL) AS in_corpus,
             |        min(i.doc_id) OVER (PARTITION BY i.h) AS first_id
             | FROM inc i LEFT JOIN corpus c USING (h))
             |SELECT doc_id,
             | CASE WHEN in_corpus THEN 'drop_corpus_dup'
             |      WHEN doc_id > first_id THEN 'drop_batch_dup'
             |      ELSE 'ingest' END AS status
             |FROM m ORDER BY doc_id""".stripMargin)),
    // Oracle replays the whole incremental pipeline: MINHASH_CAND's
    // signature CTEs (mh_cand itself is never referenced, so the
    // uncapped pair join never executes), bands unpivoted to rows and
    // split corpus/batch by source-name length, the corpus-side bucket
    // cap, the band-equality probe, then the exact-Jaccard rerank on the
    // hashed shingle lists (list_intersect == the engine's distinct-hash
    // equi-join count).
    "q_dedup_near_incremental" -> Q(
      qDedupNearIncremental,
      Some {
        s"""$NearIncCandSql,
           |hs AS (
           |${shingleHashList("mh_docs")}),
           |sc AS (
           | SELECT batch_doc, corpus_dup,
           |  len(list_intersect(ha.hs, hb.hs)) AS common,
           |  len(ha.hs) AS n1, len(hb.hs) AS n2
           | FROM cand
           | JOIN hs ha ON ha.doc_id = batch_doc
           | JOIN hs hb ON hb.doc_id = corpus_dup)
           |SELECT batch_doc, corpus_dup, CAST(common AS BIGINT) AS common,
           | CAST(common AS DOUBLE) / CAST(n1 + n2 - common AS DOUBLE) AS jaccard
           |FROM sc
           |WHERE CAST(common AS DOUBLE) / CAST(n1 + n2 - common AS DOUBLE) >= 0.5
           |ORDER BY batch_doc, corpus_dup""".stripMargin
      }),
    "q_dedup_substring" -> Q(
      qDedupSubstring,
      Some("""WITH docs AS (
             | SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
             | FROM documents),
             |w AS (
             | SELECT doc_id, i AS pos, array_to_string(toks[i:i+9], ' ') AS win
             | FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 9)) AS i
             |       FROM docs WHERE len(toks) >= 10)),
             |dup AS (SELECT win FROM w GROUP BY win HAVING count(1) >= 2),
             |dp AS (SELECT doc_id, pos FROM w JOIN dup USING (win)),
             |m AS (
             | SELECT doc_id, pos,
             |  CASE WHEN pos > coalesce(max(pos + 9) OVER (
             |    PARTITION BY doc_id ORDER BY pos
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             |  THEN 1 ELSE 0 END AS brk
             | FROM dp),
             |isl AS (
             | SELECT doc_id, pos,
             |  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS gid
             | FROM m),
             |spans AS (
             | SELECT doc_id, gid, min(pos) AS s, max(pos) + 9 AS e
             | FROM isl GROUP BY doc_id, gid),
             |perdoc AS (
             | SELECT doc_id, count(1) AS dup_spans, CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
             | FROM spans GROUP BY doc_id)
             |SELECT d.doc_id, p.dup_spans, p.dup_tokens, len(d.toks) AS n_tokens
             |FROM docs d JOIN perdoc p USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),
    "q_dedup_near" -> Q(
      qDedupNear,
      Some(s"""WITH $MINHASH_CAND
              |SELECT d1, d2, est_sim FROM mh_cand ORDER BY d1, d2""".stripMargin)),
    // The capped oracle reuses MINHASH_CAND's signature CTEs (mh_cand
    // itself is never referenced, so DuckDB never executes the uncapped
    // pair join), unpivots the 4 bands into rows, counts each bucket,
    // and only joins pairs inside buckets of <= CapBucket members —
    // exactly the engine's filter.
    "q_dedup_near_capped" -> Q(
      qDedupNearCapped,
      Some {
        val bandRows = (0 until NumHashes / BandSize)
          .map { b =>
            val ks = (0 until BandSize)
              .map(j => s"m${b * BandSize + j} AS k${j}")
              .mkString(", ")
            s"SELECT doc_id, $b AS band, $ks FROM mh_sig"
          }
          .mkString("\n  UNION ALL ")
        val keyEq = (0 until BandSize).map(j => s"a.k$j = b.k$j").mkString(" AND ")
        val keyCols = (0 until BandSize).map(j => s"k$j").mkString(", ")
        val nmatch = (0 until NumHashes).map(k => s"CAST(sa.m$k = sb.m$k AS INT)").mkString(" + ")
        s"""WITH $MINHASH_CAND,
           |bandrows AS (
           |  $bandRows),
           |okb AS (
           | SELECT band, $keyCols FROM bandrows
           | GROUP BY band, $keyCols HAVING count(1) <= $CapBucket),
           |cpairs AS (
           | SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           | FROM (SELECT br.* FROM bandrows br JOIN okb USING (band, $keyCols)) a
           | JOIN (SELECT br.* FROM bandrows br JOIN okb USING (band, $keyCols)) b
           |  ON a.band = b.band AND $keyEq AND a.doc_id < b.doc_id)
           |SELECT p.d1, p.d2, CAST($nmatch AS DOUBLE) / $NumHashes AS est_sim
           |FROM cpairs p
           |JOIN mh_sig sa ON p.d1 = sa.doc_id
           |JOIN mh_sig sb ON p.d2 = sb.doc_id
           |ORDER BY p.d1, p.d2""".stripMargin
      }),
    "q_dedup_cross_source" -> Q(
      qDedupCrossSource,
      Some {
        val bandRows = (0 until NumHashes / BandSize)
          .map { b =>
            val ks = (0 until BandSize)
              .map(j => s"m${b * BandSize + j} AS k${j}")
              .mkString(", ")
            s"SELECT doc_id, $b AS band, $ks FROM mh_sig"
          }
          .mkString("\n  UNION ALL ")
        val keyEq = (0 until BandSize).map(j => s"a.k$j = b.k$j").mkString(" AND ")
        val keyCols = (0 until BandSize).map(j => s"k$j").mkString(", ")
        val nmatch = (0 until NumHashes).map(k => s"CAST(sa.m$k = sb.m$k AS INT)").mkString(" + ")
        s"""WITH $MINHASH_CAND,
           |bandrows AS (
           |  $bandRows),
           |okb AS (
           | SELECT band, $keyCols FROM bandrows
           | GROUP BY band, $keyCols HAVING count(1) <= $CapBucket),
           |cpairs AS (
           | SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           | FROM (SELECT br.* FROM bandrows br JOIN okb USING (band, $keyCols)) a
           | JOIN (SELECT br.* FROM bandrows br JOIN okb USING (band, $keyCols)) b
           |  ON a.band = b.band AND $keyEq AND a.doc_id < b.doc_id),
           |sims AS (
           | SELECT p.d1, p.d2, CAST($nmatch AS DOUBLE) / $NumHashes AS est_sim
           | FROM cpairs p
           | JOIN mh_sig sa ON p.d1 = sa.doc_id
           | JOIN mh_sig sb ON p.d2 = sb.doc_id),
           |lab AS (
           | SELECT least(da.source, db.source) AS src_a,
           |  greatest(da.source, db.source) AS src_b, est_sim
           | FROM sims
           | JOIN documents da ON da.doc_id = d1
           | JOIN documents db ON db.doc_id = d2
           | WHERE est_sim >= 0.5)
           |SELECT src_a, src_b, count(1) AS n_pairs,
           | round(sum(est_sim) / count(1), 6) AS avg_sim
           |FROM lab GROUP BY src_a, src_b
           |ORDER BY src_a, src_b""".stripMargin
      }),
    // same pairs CTE as q_dedup_ngram_capped, then connected components as
    // a recursive reachability fixpoint (UNION dedups, so it terminates):
    // label = min reachable vertex — exactly DedupClusters' fixpoint.
    "q_dedup_clusters" -> Q(
      qDedupClusters,
      Some(s"""WITH RECURSIVE docs AS (
             |$SHINGLE_DOCS),
             |dh AS (
             |$SHINGLE_HASH_LIST),
             |ex0 AS (SELECT doc_id, unnest(hs) AS sh FROM dh),
             |df AS (SELECT sh, count(1) AS df FROM ex0 GROUP BY sh),
             |ex AS (SELECT ex0.doc_id, ex0.sh FROM ex0 JOIN df USING (sh) WHERE df.df <= 50),
             |sizes AS (SELECT doc_id, count(1) AS n_sh FROM ex GROUP BY doc_id),
             |pairs AS (
             | SELECT a.doc_id AS d1, b.doc_id AS d2, count(1) AS common
             | FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
             | GROUP BY 1, 2),
             |sel AS (
             | SELECT d1, d2 FROM pairs
             | JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
             | WHERE CAST(common AS DOUBLE) / CAST(s1.n_sh + s2.n_sh - common AS DOUBLE) >= 0.5),
             |edges AS (SELECT d1 AS a, d2 AS b FROM sel UNION SELECT d2, d1 FROM sel),
             |reach(id, r) AS (
             | SELECT a, a FROM edges
             | UNION
             | SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
             |lab AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
             |SELECT label AS cluster, count(1) AS n_members,
             | string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
             |FROM lab GROUP BY label ORDER BY cluster""".stripMargin)),
    // bench=false: same pairs pipeline + propagation loop as the benched
    // q_dedup_clusters, differing only in the final projection — benching
    // both would double-count the loop's cost in the headline total.
    "q_dedup_droplist" -> Q(
      qDedupDroplist,
      bench = false,
      oracle = Some(s"""WITH RECURSIVE docs AS (
             |$SHINGLE_DOCS),
             |dh AS (
             |$SHINGLE_HASH_LIST),
             |ex0 AS (SELECT doc_id, unnest(hs) AS sh FROM dh),
             |df AS (SELECT sh, count(1) AS df FROM ex0 GROUP BY sh),
             |ex AS (SELECT ex0.doc_id, ex0.sh FROM ex0 JOIN df USING (sh) WHERE df.df <= 50),
             |sizes AS (SELECT doc_id, count(1) AS n_sh FROM ex GROUP BY doc_id),
             |pairs AS (
             | SELECT a.doc_id AS d1, b.doc_id AS d2, count(1) AS common
             | FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
             | GROUP BY 1, 2),
             |sel AS (
             | SELECT d1, d2 FROM pairs
             | JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
             | WHERE CAST(common AS DOUBLE) / CAST(s1.n_sh + s2.n_sh - common AS DOUBLE) >= 0.5),
             |edges AS (SELECT d1 AS a, d2 AS b FROM sel UNION SELECT d2, d1 FROM sel),
             |reach(id, r) AS (
             | SELECT a, a FROM edges
             | UNION
             | SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
             |lab AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
             |SELECT id AS drop_id, label AS keep_id FROM lab
             |WHERE id <> label ORDER BY drop_id""".stripMargin)),
    "q_dedup_simhash" -> Q(
      qDedupSimhash,
      Some(s"$SIMHASH_SIG\nSELECT doc_id, simhash FROM sig ORDER BY doc_id")),
    "q_dedup_simhash_pairs" -> Q(
      qDedupSimhashPairs,
      Some(s"""$SIMHASH_SIG
              |SELECT a.doc_id AS d1, b.doc_id AS d2,
              | CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
              |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
              |ORDER BY d1, d2""".stripMargin)),
    // The capped oracle replays the ENGINE's pigeonhole bucket structure
    // (the uncapped oracle can stay all-pairs because pigeonholing is
    // output-invariant there; once buckets are dropped the bucket walk IS
    // the semantics): unpivot the 4 segments, drop buckets over CapBucket,
    // join only inside surviving buckets. `(x >> n) & 65535` equals the
    // engine's shiftrightunsigned-then-mask for every n ≤ 48 regardless of
    // the engine/DuckDB arithmetic-vs-logical shift choice, because the
    // mask keeps only the 16 low bits the fill can't reach.
    "q_dedup_simhash_pairs_capped" -> Q(
      qDedupSimhashPairsCapped,
      Some(s"""$SIMHASH_SIG,
              |segs AS (
              | SELECT doc_id, simhash, CAST(s.seg AS INT) AS seg,
              |  ((simhash >> (s.seg * 16)) & 65535) AS seg_val
              | FROM sig, (SELECT unnest([0, 1, 2, 3]) AS seg) s),
              |okb AS (
              | SELECT seg, seg_val FROM segs
              | GROUP BY seg, seg_val HAVING count(1) <= $CapBucket),
              |cseg AS (SELECT segs.* FROM segs JOIN okb USING (seg, seg_val)),
              |cand AS (
              | SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
              | FROM cseg a JOIN cseg b
              |  ON a.seg = b.seg AND a.seg_val = b.seg_val AND a.doc_id < b.doc_id)
              |SELECT c.d1, c.d2,
              | CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
              |FROM cand c
              |JOIN sig sa ON c.d1 = sa.doc_id
              |JOIN sig sb ON c.d2 = sb.doc_id
              |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
              |ORDER BY d1, d2""".stripMargin)),
    "q_dedup_embed" -> Q(
      qDedupEmbed,
      Some("""WITH pr AS (
             | SELECT a.vec_id AS v1, b.vec_id AS v2, a.embedding AS e1, b.embedding AS e2
             | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
             |un AS (
             | SELECT v1, v2, unnest(e1) AS x, unnest(e2) AS y FROM pr),
             |s AS (
             | SELECT v1, v2,
             |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS dot,
             |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS n1,
             |  CAST(CAST(sum(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS n2
             | FROM un GROUP BY v1, v2)
             |SELECT v1, v2, dot / (sqrt(n1) * sqrt(n2)) AS cos,
             | CAST(dot / (sqrt(n1) * sqrt(n2)) >= 0.8 AS INT) AS is_near_dup FROM s
             |WHERE dot / (sqrt(n1) * sqrt(n2)) >= 0.4
             |ORDER BY v1, v2""".stripMargin),
      bench = false),
    "q_dedup_embed_lsh" -> Q(
      qDedupEmbedLsh,
      Some(s"""WITH ${planeKeysCte(16, 4)},
              |cand AS (
              | SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
              | FROM pkeys a JOIN pkeys b
              |  ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
              |pr AS (
              | SELECT c.v1, c.v2, ea.embedding AS e1, eb.embedding AS e2
              | FROM cand c JOIN embeddings ea ON ea.vec_id = c.v1
              |  JOIN embeddings eb ON eb.vec_id = c.v2),
              |$PAIR_DOT_TAIL
              |SELECT v1, v2, dot / (sqrt(n1) * sqrt(n2)) AS cos,
              | CAST(dot / (sqrt(n1) * sqrt(n2)) >= 0.8 AS INT) AS is_near_dup FROM s
              |WHERE dot / (sqrt(n1) * sqrt(n2)) >= 0.4
              |ORDER BY v1, v2""".stripMargin)),
    "q_sim_topk" -> Q(
      qSimTopk,
      Some("""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
             |un AS (
             | SELECT e.vec_id, e.label, unnest(e.embedding) AS x, unnest(q.q_emb) AS y
             | FROM embeddings e, q WHERE e.vec_id <> 0),
             |s AS (
             | SELECT vec_id, any_value(label) AS label,
             |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS dot,
             |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS ne,
             |  CAST(CAST(sum(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS nq
             | FROM un GROUP BY vec_id)
             |SELECT vec_id, label, dot / (sqrt(ne) * sqrt(nq)) AS sim FROM s
             |ORDER BY sim DESC, vec_id ASC LIMIT 10""".stripMargin)),
    "q_embed_quantize_binary" -> Q(
      qEmbedQuantizeBinary,
      Some("""WITH un AS (
             | SELECT vec_id, label, g AS i, CAST(embedding[g] AS DOUBLE) AS v
             | FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS g) s),
             |a AS (
             | SELECT vec_id, any_value(label) AS label, count(1) AS n,
             |  sum(CAST(round(abs(v) * 1e9, 0) AS BIGINT)) AS abs_fp,
             |  sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS n_pos,
             |  sum(CASE WHEN v > 0 AND i <= 32 THEN (1::BIGINT << (i - 1)) ELSE 0 END) AS sig_lo,
             |  sum(CASE WHEN v > 0 AND i > 32 AND i <= 64 THEN (1::BIGINT << (i - 33)) ELSE 0 END) AS sig_hi
             | FROM un GROUP BY vec_id),
             |sc AS (SELECT *, CAST(abs_fp AS DOUBLE) / n / 1e9 AS scale FROM a),
             |er AS (
             | SELECT un.vec_id, sum(CAST(round(abs(abs(v) - scale) * 1e9, 0) AS BIGINT)) AS err_fp
             | FROM un JOIN sc USING (vec_id) GROUP BY un.vec_id)
             |SELECT sc.vec_id, sc.label, CAST(n AS BIGINT) AS n_dims,
             | CAST(n_pos AS BIGINT) AS n_pos, CAST(sig_hi AS BIGINT) AS sig_hi,
             | CAST(sig_lo AS BIGINT) AS sig_lo, round(scale, 6) AS scale,
             | round(CAST(err_fp AS DOUBLE) / n / 1e9, 6) AS mean_err
             |FROM sc JOIN er ON sc.vec_id = er.vec_id
             |ORDER BY sc.vec_id""".stripMargin)),
    "q_embed_quantize" -> Q(
      qEmbedQuantize,
      Some("""WITH un AS (
             | SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
             |m AS (SELECT vec_id, any_value(label) AS label, count(1) AS n, max(abs(x)) AS mx
             |      FROM un GROUP BY vec_id),
             |q AS (SELECT un.vec_id, x, mx, mx / 127 AS scale,
             |       CASE WHEN mx = 0 THEN 0.0
             |            ELSE least(greatest(round(x / (mx / 127), 0), -127), 127) END AS qi
             |      FROM un JOIN m USING (vec_id)),
             |er AS (SELECT vec_id, abs(x - qi * scale) AS e FROM q)
             |SELECT vec_id, label, CAST(n AS BIGINT) AS n_dims,
             | round(mx / 127, 6) AS scale, round(max(e), 6) AS max_err,
             | round(CAST(sum(CAST(round(e * 1e9, 0) AS BIGINT)) AS DOUBLE) / n / 1e9, 6) AS mean_err
             |FROM er JOIN m USING (vec_id)
             |GROUP BY vec_id, label, n, mx ORDER BY vec_id""".stripMargin)),
    "q_sim_knn_batch" -> Q(
      qSimKnnBatch,
      Some("""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
             |un AS (
             | SELECT q.q_id, e.vec_id, unnest(e.embedding) AS x, unnest(q.q_emb) AS y
             | FROM embeddings e, q WHERE e.vec_id >= 10),
             |s AS (
             | SELECT q_id, vec_id,
             |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS dot,
             |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS ne,
             |  CAST(CAST(sum(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS nq
             | FROM un GROUP BY q_id, vec_id),
             |r AS (
             | SELECT q_id, vec_id, dot / (sqrt(ne) * sqrt(nq)) AS sim,
             |  row_number() OVER (PARTITION BY q_id ORDER BY dot / (sqrt(ne) * sqrt(nq)) DESC, vec_id ASC) AS rk
             | FROM s)
             |SELECT q_id, rk, vec_id, sim FROM r WHERE rk <= 3
             |ORDER BY q_id, rk""".stripMargin)),
    "q_sim_ann" -> Q(
      qSimAnn,
      Some(s"""WITH ${planeKeysCte(128, 16)},
              |qk AS (SELECT band, key AS qkey FROM pkeys WHERE vec_id = 0),
              |sel AS (
              | SELECT DISTINCT k.vec_id FROM pkeys k JOIN qk ON k.band = qk.band
              | WHERE k.vec_id <> 0 AND bit_count(xor(k.key, qk.qkey)) <= 2),
              |$ANN_RERANK_TAIL""".stripMargin)),
    "q_ann_recall" -> Q(
      qAnnRecall,
      Some(s"""WITH ${planeKeysCte(128, 16)},
              |qk AS (SELECT vec_id AS q_id, band, key AS qkey FROM pkeys WHERE vec_id < 5),
              |sel AS (
              | SELECT DISTINCT qk.q_id, k.vec_id FROM pkeys k JOIN qk ON k.band = qk.band
              | WHERE k.vec_id >= 5 AND bit_count(xor(k.key, qk.qkey)) <= 2),
              |$ANN_RECALL_TAIL""".stripMargin)),
    "q_ann_recall_ivf" -> Q(qAnnRecallIvf, Some(annRecallIvfOracle)),
    "q_ann_recall_pq" -> Q(qAnnRecallPq, Some(annRecallPqOracle)),
    "q_embed_matryoshka" -> Q(
      qEmbedMatryoshka,
      Some("""WITH qv AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
             |unf AS (
             | SELECT qv.q_id, e.vec_id, unnest(e.embedding) AS x, unnest(qv.q_emb) AS y
             | FROM embeddings e, qv WHERE e.vec_id >= 5),
             |unp AS (
             | SELECT qv.q_id, e.vec_id, unnest(e.embedding[1:16]) AS x, unnest(qv.q_emb[1:16]) AS y
             | FROM embeddings e, qv WHERE e.vec_id >= 5),
             |sf AS (
             | SELECT q_id, vec_id,
             |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS dot,
             |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS ne,
             |  CAST(CAST(sum(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS nq
             | FROM unf GROUP BY q_id, vec_id),
             |sp AS (
             | SELECT q_id, vec_id,
             |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS dot,
             |  CAST(CAST(sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS ne,
             |  CAST(CAST(sum(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12 AS nq
             | FROM unp GROUP BY q_id, vec_id),
             |ex AS (
             | SELECT q_id, vec_id FROM (
             |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
             |    ORDER BY dot / (sqrt(ne) * sqrt(nq)) DESC, vec_id ASC) AS rk FROM sf)
             | WHERE rk <= 10),
             |pre AS (
             | SELECT q_id, vec_id FROM (
             |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
             |    ORDER BY dot / (sqrt(ne) * sqrt(nq)) DESC, vec_id ASC) AS rk FROM sp)
             | WHERE rk <= 10),
             |h AS (SELECT q_id, count(1) AS n_hit FROM pre JOIN ex USING (q_id, vec_id) GROUP BY 1)
             |SELECT q.q_id, coalesce(h.n_hit, 0) AS n_hit,
             | CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 10 AS recall
             |FROM (SELECT q_id FROM qv) q LEFT JOIN h USING (q_id)
             |ORDER BY q_id""".stripMargin)),
    // bench=false: the run is dominated by the IVF BUILD (k-means
    // training = 6+ jobs with driver-side model updates) — index
    // construction, not per-query cost; q_sim_ann is the benched ANN.
    "q_sim_ann_ivf" -> Q(qSimAnnIvf, Some(ivfOracle), bench = false),
    // bench=false: like IVF, the run is dominated by the codebook BUILD
    // (16 k-means-lite jobs); the encode/ADC query path is the scale story.
    "q_sim_ann_pq" -> Q(qSimAnnPq, Some(pqOracle), bench = false),
    "q_join_interval_overlap" -> Q(
      qJoinIntervalOverlap,
      Some(s"""WITH ord AS (
              | SELECT user_id, event_id, ts,
              |  CASE WHEN lag(ts) OVER w IS NULL
              |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS new_s
              | FROM $EV
              | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              |sess AS (
              | SELECT user_id, sid, min(ts) AS s_start, max(ts) AS s_end
              | FROM (SELECT user_id, ts,
              |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              |                         ROWS UNBOUNDED PRECEDING) AS sid
              |       FROM ord)
              | GROUP BY user_id, sid),
              |hourly AS (
              | SELECT date_trunc('hour', ts) AS w_start, count(1) AS n
              | FROM $EV GROUP BY 1),
              |inc AS (
              | SELECT w_start, w_start + INTERVAL 1 HOUR AS w_end
              | FROM hourly, (SELECT avg(n) AS mean_n FROM hourly) m
              | WHERE n > mean_n)
              |SELECT i.w_start, count(1) AS n_sessions,
              | count(DISTINCT s.user_id) AS n_users
              |FROM sess s JOIN inc i
              | ON s.s_start < i.w_end AND i.w_start <= s.s_end
              |GROUP BY i.w_start ORDER BY i.w_start""".stripMargin)),
    "q_text_stats" -> Q(
      qTextStats,
      Some(s"""SELECT doc_id, lang, CAST(length(text) AS INT) AS len,
              | CAST(len(toks) AS INT) AS n_tokens,
              | CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
              |   / nullif(CAST(len(toks) AS INT), 0) AS avg_tok_len
              |FROM $DOCS_T ORDER BY doc_id""".stripMargin)),
    "q_text_normalize" -> Q(
      qTextNormalize,
      Some("""SELECT doc_id,
             | CAST(length(text) AS INT) AS n_cp_raw,
             | CAST(length(nfc_normalize(text)) AS INT) AS n_cp_nfc,
             | CAST(length(text) - length(nfc_normalize(text)) AS INT) AS nfc_delta,
             | nfc_normalize(text) = text AS is_nfc,
             | CAST(len(regexp_extract_all(text, '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}]')) AS INT) AS n_ctrl,
             | CAST(len(regexp_extract_all(text, '\x{FFFD}')) AS INT) AS n_repl,
             | CAST(len(regexp_extract_all(text, '\x{C3}[\x{80}-\x{BF}]')) AS INT) AS n_mojibake
             |FROM documents ORDER BY doc_id""".stripMargin)),
    "q_text_langdist" -> Q(
      qTextLangdist,
      Some("""SELECT lang, count(1) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
             | CAST(sum(CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) / count(n_chars) AS avg_chars
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    "q_text_quality" -> Q(
      qTextQuality,
      Some(s"""SELECT doc_id, lang,
              | CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
              |   / nullif(CAST(length(text) AS INT), 0) AS punct_ratio,
              | CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
              |   / nullif(CAST(len(toks) AS INT), 0) AS stop_ratio,
              | CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(CAST(len(toks) AS INT), 0) AS ttr,
              | (length(text) >= 100 AND len(toks) >= 20) AS passes_len
              |FROM $DOCS_T ORDER BY doc_id""".stripMargin)),
    "q_text_langid" -> Q(
      qTextLangid,
      Some(s"""WITH sc AS (
              | SELECT doc_id, lang,
              |  CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','is'], x))) AS INT) AS s_en,
              |  CAST(len(list_filter(toks, x -> list_contains(['der','und','die','das','ist'], x))) AS INT) AS s_de,
              |  CAST(len(list_filter(toks, x -> list_contains(['le','la','et','les','est'], x))) AS INT) AS s_fr,
              |  CAST(len(list_filter(toks, x -> list_contains(['el','los','y','es','las'], x))) AS INT) AS s_es,
              |  CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS INT) AS s_zh
              | FROM $DOCS_T)
              |SELECT doc_id, lang,
              | CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
              |      WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
              |      WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
              |      WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
              |      ELSE 'zh' END AS pred,
              | (CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
              |      WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
              |      WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
              |      WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
              |      ELSE 'zh' END) = lang AS hit
              |FROM sc ORDER BY doc_id""".stripMargin)),
    "q_text_tokens" -> Q(
      qTextTokens,
      Some(s"""SELECT doc_id, CAST(len(toks) AS INT) AS n_ws,
              | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe
              |FROM $DOCS_T ORDER BY doc_id""".stripMargin)),
    "q_text_chunk" -> Q(
      qTextChunk,
      Some(s"""SELECT doc_id, CAST((start_tok - 1) // $ChunkStride AS INT) AS chunk_idx,
              | CAST(start_tok AS INT) AS start_tok,
              | CAST(least($ChunkWin, n - start_tok + 1) AS INT) AS n_toks,
              | md5(array_to_string(list_slice(toks, start_tok, least(start_tok + ${ChunkWin - 1}, n)), ' ')) AS chunk_md5
              |FROM (SELECT doc_id, toks, len(toks) AS n,
              |      unnest(generate_series(1, len(toks), $ChunkStride)) AS start_tok
              |      FROM $DOCS_T WHERE len(toks) > 0)
              |ORDER BY doc_id, chunk_idx""".stripMargin)),
    "q_tokenizer_fertility" -> Q(
      qTokenizerFertility,
      Some(s"""SELECT lang, count(1) AS n_docs,
              | CAST(sum(len(toks)) AS BIGINT) AS n_words,
              | CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS n_subtokens,
              | CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
              | round(CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS DOUBLE) /
              |       CAST(sum(len(toks)) AS DOUBLE), 6) AS fertility,
              | round(CAST(sum(strlen(text)) AS DOUBLE) /
              |       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS DOUBLE), 6) AS bytes_per_subtok
              |FROM $DOCS_T GROUP BY lang ORDER BY lang""".stripMargin)),
    "q_text_fingerprint" -> Q(
      qTextFingerprint,
      Some(s"""SELECT doc_id,
              | CASE WHEN len(th) >= 4 THEN
              |   list_min(list_transform(generate_series(1, len(th) - 3), j ->
              |     (th[j] * 31957 + th[j + 1] * 1031 + th[j + 2] * 97 + th[j + 3]) % 1000000007))
              | ELSE NULL END AS fingerprint
              |FROM (
              | SELECT doc_id,
              |  list_transform(toks, t ->
              |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, length(t)), i -> ord(substr(t, i, 1)))),
              |      (acc, c) -> (acc * 31 + c) % 1000000007)) AS th
              | FROM $DOCS_T)
              |ORDER BY doc_id""".stripMargin)),
    "q_text_wordcount" -> Q(
      qTextWordcount,
      Some("""SELECT tok, count(1) AS n
             |FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
             |      FROM documents)
             |GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 100""".stripMargin)),
    "q_text_compressibility" -> Q(
      qTextCompressibility,
      None,
      noOracleReason = Some("deflate ratio via java.util.zip.Deflater; the native zlib byte stream has no DuckDB twin (spec pins the kernel against the JDK reference)")),
    "q_text_entropy" -> Q(
      qTextEntropy,
      Some("""WITH tf AS (
             | SELECT doc_id, tok, count(1) AS n
             | FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
             |       FROM documents)
             | GROUP BY doc_id, tok),
             |agg AS (
             | SELECT doc_id,
             |  CAST(sum(n) AS BIGINT) AS n_tokens,
             |  count(1) AS n_distinct,
             |  CAST(sum(n * CAST(round(ln(n) * 1e6, 0) AS BIGINT)) AS BIGINT) AS s_micro
             | FROM tf GROUP BY doc_id)
             |SELECT doc_id, n_tokens, n_distinct,
             | round((CAST(CAST(round(ln(n_tokens) * 1e6, 0) AS BIGINT) AS DOUBLE)
             |   - CAST(s_micro AS DOUBLE) / CAST(n_tokens AS DOUBLE)) / 1e6, 6) AS entropy,
             | round((CAST(CAST(round(ln(n_tokens) * 1e6, 0) AS BIGINT) AS DOUBLE)
             |   - CAST(s_micro AS DOUBLE) / CAST(n_tokens AS DOUBLE)) / 1e6, 6) < 1.5 AS low_diversity
             |FROM agg ORDER BY doc_id""".stripMargin)),
    "q_text_repetition" -> Q(
      qTextRepetition,
      Some("""WITH tf AS (
             | SELECT doc_id, tok, count(1) AS n
             | FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
             |       FROM documents)
             | GROUP BY doc_id, tok),
             |agg AS (
             | SELECT doc_id, CAST(max(n) AS BIGINT) AS top_tok_n,
             |  CAST(sum(n) AS BIGINT) AS n_tokens, count(1) AS n_distinct
             | FROM tf GROUP BY doc_id)
             |SELECT doc_id, n_tokens, n_distinct,
             | CAST(top_tok_n AS DOUBLE) / n_tokens AS top_tok_frac,
             | 1.0 - CAST(n_distinct AS DOUBLE) / n_tokens AS dup_frac,
             | (CAST(top_tok_n AS DOUBLE) / n_tokens > 0.125
             |  OR 1.0 - CAST(n_distinct AS DOUBLE) / n_tokens > 0.3) AS repetitive
             |FROM agg ORDER BY doc_id""".stripMargin)),
    "q_decontaminate" -> Q(
      qDecontaminate,
      Some(s"""WITH docs AS (
             |$SHINGLE_DOCS),
             |dh0 AS (
             |$SHINGLE_HASH_LIST),
             |dh AS (SELECT doc_id, ((doc_id % 2147483648) * 40503) % 100 AS b, hs FROM dh0),
             |test_sh AS (SELECT DISTINCT unnest(hs) AS sh FROM dh WHERE b >= 90),
             |train AS (SELECT doc_id, hs FROM dh WHERE b < 80),
             |shared AS (
             | SELECT doc_id, count(1) AS n_shared
             | FROM (SELECT doc_id, unnest(hs) AS sh FROM train) t
             | JOIN test_sh USING (sh) GROUP BY doc_id)
             |SELECT t.doc_id, CAST(len(t.hs) AS BIGINT) AS n_shingles,
             | CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
             | CAST(coalesce(s.n_shared, 0) AS DOUBLE)
             |   / nullif(CAST(len(t.hs) AS DOUBLE), 0) AS contamination
             |FROM train t LEFT JOIN shared s ON t.doc_id = s.doc_id
             |ORDER BY t.doc_id""".stripMargin)),
    "q_text_pii" -> Q(
      qTextPii,
      Some("""SELECT doc_id,
             | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
             | CAST(len(regexp_extract_all(text, '\d{3}[-.]\d{3}[-.]\d{4}')) AS INT) AS n_phones,
             | CAST(length(regexp_replace(
             |   regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |   '\d{3}[-.]\d{3}[-.]\d{4}', '<PHONE>', 'g')) AS INT) AS clean_len
             |FROM documents ORDER BY doc_id""".stripMargin)),
    "q_pipeline_clean" -> Q(
      qPipelineClean,
      Some("""WITH passed AS (
             | SELECT doc_id, text, n_chars FROM documents
             | WHERE length(text) >= 100
             |   AND len(list_filter(string_split(text, ' '), t -> t <> '')) >= 20),
             |kept AS (
             | SELECT min(doc_id) AS doc_id, min(n_chars) AS n_chars
             | FROM passed GROUP BY sha256(text)),
             |labeled AS (
             | SELECT CASE WHEN ((doc_id % 2147483648) * 40503) % 100 < 80 THEN 'train'
             |             WHEN ((doc_id % 2147483648) * 40503) % 100 < 90 THEN 'val'
             |             ELSE 'test' END AS split, n_chars
             | FROM kept)
             |SELECT split, count(1) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
             |FROM labeled GROUP BY split ORDER BY split""".stripMargin)),
    "q_sample_hash" -> Q(
      qSampleHash,
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |WHERE substr(md5(text), 1, 2) < '1a' ORDER BY doc_id""".stripMargin)),
    "q_sample_reservoir" -> Q(
      qSampleReservoir,
      Some(s"""WITH s AS (
              | SELECT event_type, event_id, user_id,
              |  md5(CAST(event_id AS VARCHAR)) AS rkey,
              |  row_number() OVER (PARTITION BY event_type
              |    ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
              | FROM $EV)
              |SELECT event_type, CAST(rn AS INT) AS rn, event_id, user_id, rkey
              |FROM s WHERE rn <= 4 ORDER BY event_type, rn""".stripMargin)),
    "q_sample_weighted" -> Q(
      qSampleWeighted,
      Some("""SELECT doc_id, n_chars AS weight,
             | CAST(27725887 - CAST(round(ln(h) * 1e6, 0) AS BIGINT) AS DOUBLE) / n_chars AS es_key
             |FROM (SELECT doc_id, n_chars,
             |       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::UBIGINT + 1 AS BIGINT) AS h
             |      FROM documents)
             |ORDER BY es_key ASC, doc_id ASC LIMIT 20""".stripMargin)),
    "q_split_assign" -> Q(
      qSplitAssign,
      Some("""SELECT doc_id,
             | CASE WHEN ((doc_id % 2147483648) * 40503) % 100 < 80 THEN 'train'
             |      WHEN ((doc_id % 2147483648) * 40503) % 100 < 90 THEN 'val'
             |      ELSE 'test' END AS split
             |FROM documents ORDER BY doc_id""".stripMargin)),
    "q_events_sessionize" -> Q(
      qEventsSessionize,
      Some(s"""WITH flagged AS (
              | SELECT user_id, event_id, ts, value,
              |  CASE WHEN lag(ts) OVER w IS NULL
              |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS new_s
              | FROM $EV
              | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              |sess AS (
              | SELECT user_id, ts, value,
              |  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              | FROM flagged)
              |SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
              | count(1) AS n_events,
              | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
              |FROM sess GROUP BY user_id, session_id
              |ORDER BY user_id, session_id""".stripMargin)),
    "q_multimodal_meta" -> Q(
      qMultimodalMeta,
      // Byte-level DuckDB twin: v1.0.0 has no BLOB slicing, so the twin
      // hexes the whole payload once and does all byte arithmetic on the
      // hex string (byte k = ('0x'||substr(hx,2k+1,2))::INT). It replays
      // MediaProbe's classification rules — GIF87a/GIF89a and BM magics
      // with their length guards, little-endian u16/i32 dimension parses,
      // abs() on BMP height — so the probe's container walk is verified
      // end-to-end on every payload, not just asserted 'unknown'. PNG and
      // JPEG branches are unreachable here BY CONSTRUCTION (0x89 is a
      // UTF-8 continuation byte and 0xFF is invalid anywhere, so neither
      // can open text encoded from a valid string), hence not twinned.
      Some("""WITH raw AS (
             | SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             |        lower(hex(encode(text))) AS hx
             | FROM documents),
             |by8 AS (
             | SELECT doc_id, n_bytes, hx,
             |  CASE WHEN n_bytes >= 5 THEN ('0x'||substring(hx, 9, 2))::INT END AS b4,
             |  CASE WHEN n_bytes >= 6 THEN ('0x'||substring(hx, 11, 2))::INT END AS b5
             | FROM raw),
             |cls AS (
             | SELECT doc_id, n_bytes, hx,
             |  CASE
             |   WHEN n_bytes >= 10 AND substring(hx, 1, 8) = '47494638'
             |        AND b4 IN (55, 57) AND b5 = 97 THEN 'gif'
             |   WHEN n_bytes >= 26 AND substring(hx, 1, 4) = '424d' THEN 'bmp'
             |   ELSE 'unknown' END AS format
             | FROM by8),
             |le AS (
             | SELECT doc_id, n_bytes, hx, format,
             |  CASE WHEN format IN ('gif', 'bmp') THEN
             |   (SELECT list(('0x'||substring(hx, 2*i.i+1, 2))::BIGINT ORDER BY i.i)
             |    FROM (SELECT unnest(generate_series(0, 25)) AS i) i
             |    WHERE 2*i.i+2 <= length(hx))
             |  END AS bs
             | FROM cls)
             |SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
             | substring(hx, 1, 8) AS magic, format,
             | CAST(CASE
             |  WHEN format = 'gif' THEN bs[7] + bs[8]*256
             |  WHEN format = 'bmp' THEN
             |   CASE WHEN bs[19] + bs[20]*256 + bs[21]*65536 + bs[22]*16777216 >= 2147483648
             |        THEN bs[19] + bs[20]*256 + bs[21]*65536 + bs[22]*16777216 - 4294967296
             |        ELSE bs[19] + bs[20]*256 + bs[21]*65536 + bs[22]*16777216 END
             |  ELSE -1 END AS INT) AS width,
             | CAST(CASE
             |  WHEN format = 'gif' THEN bs[9] + bs[10]*256
             |  WHEN format = 'bmp' THEN
             |   abs(CASE WHEN bs[23] + bs[24]*256 + bs[25]*65536 + bs[26]*16777216 >= 2147483648
             |        THEN bs[23] + bs[24]*256 + bs[25]*65536 + bs[26]*16777216 - 4294967296
             |        ELSE bs[23] + bs[24]*256 + bs[25]*65536 + bs[26]*16777216 END)
             |  ELSE -1 END AS INT) AS height
             |FROM le ORDER BY doc_id""".stripMargin),
      bench = false),
    "q_multimodal_audio" -> Q(
      qMultimodalAudio,
      Some("""SELECT doc_id, 'wav' AS format,
             | CAST(doc_id % 2 + 1 AS INT) AS channels,
             | CAST([8000, 16000, 22050, 44100, 48000][CAST(doc_id % 5 AS INT) + 1] AS INT) AS sample_rate,
             | CAST(16 AS INT) AS bits,
             | n_chars * 100 AS n_samples,
             | (n_chars * 100 * 1000) // [8000, 16000, 22050, 44100, 48000][CAST(doc_id % 5 AS INT) + 1] AS duration_ms
             |FROM documents ORDER BY doc_id""".stripMargin)),
    "q_multimodal_video" -> Q(
      qMultimodalVideo,
      Some("""SELECT doc_id, 'mp4' AS format,
             | ['isom', 'mp42', 'avc1'][CAST(doc_id % 3 AS INT) + 1] AS brand,
             | CAST([600, 1000, 90000][CAST(doc_id % 3 AS INT) + 1] AS INT) AS timescale,
             | ((n_chars * [600, 1000, 90000][CAST(doc_id % 3 AS INT) + 1]) // 100) * 1000
             |   // [600, 1000, 90000][CAST(doc_id % 3 AS INT) + 1] AS duration_ms,
             | CAST(320 + (doc_id % 4) * 160 AS INT) AS width,
             | CAST(240 + (doc_id % 4) * 120 AS INT) AS height
             |FROM documents ORDER BY doc_id""".stripMargin)),
    // Oracle r8: candidate pairs come from the same 4×16-bit pigeonhole
    // the engine uses (hamming ≤ 3 over 64 bits ⟹ at least one of four
    // 16-bit segments is EQUAL, so the seg-value equi-join provably
    // covers every output pair) — the r7 all-pairs formulation needed
    // > 75 GB of DuckDB spill at ×10 and timed out of the certification.
    "q_multimodal_phash" -> Q(
      qMultimodalPhash,
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
             | SELECT v.doc_id, idx, CASE WHEN lum > mean THEN 1 ELSE 0 END AS b
             | FROM v JOIN m USING (doc_id)),
             |segs AS (
             | SELECT doc_id, idx // 16 AS seg,
             |  CAST(sum(b * (1 << (idx % 16))) AS BIGINT) AS seg_val
             | FROM bits GROUP BY doc_id, idx // 16),
             |cand AS (
             | SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
             | FROM segs a JOIN segs b
             |  ON a.seg = b.seg AND a.seg_val = b.seg_val AND a.doc_id < b.doc_id),
             |p AS (
             | SELECT c.d1, c.d2, bit_count(xor(a.seg_val, b.seg_val)) AS hd
             | FROM cand c
             | JOIN segs a ON a.doc_id = c.d1
             | JOIN segs b ON b.doc_id = c.d2 AND b.seg = a.seg)
             |SELECT d1, d2, CAST(sum(hd) AS INT) AS hamming
             |FROM p GROUP BY d1, d2 HAVING sum(hd) <= 3
             |ORDER BY d1, d2""".stripMargin)),
    // Capped production twin (r14 ask #1): same arithmetic hash replay,
    // but over-popular (seg, seg_val) buckets are dropped before the
    // candidate join — exactly the engine's CapBucket filter.
    "q_multimodal_phash_capped" -> Q(
      qMultimodalPhashCapped,
      Some(s"""WITH g AS (
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
             | SELECT v.doc_id, idx, CASE WHEN lum > mean THEN 1 ELSE 0 END AS b
             | FROM v JOIN m USING (doc_id)),
             |segs AS (
             | SELECT doc_id, idx // 16 AS seg,
             |  CAST(sum(b * (1 << (idx % 16))) AS BIGINT) AS seg_val
             | FROM bits GROUP BY doc_id, idx // 16),
             |okb AS (
             | SELECT seg, seg_val FROM segs
             | GROUP BY seg, seg_val HAVING count(1) <= $CapBucket),
             |cseg AS (SELECT segs.* FROM segs JOIN okb USING (seg, seg_val)),
             |cand AS (
             | SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
             | FROM cseg a JOIN cseg b
             |  ON a.seg = b.seg AND a.seg_val = b.seg_val AND a.doc_id < b.doc_id),
             |p AS (
             | SELECT c.d1, c.d2, bit_count(xor(a.seg_val, b.seg_val)) AS hd
             | FROM cand c
             | JOIN segs a ON a.doc_id = c.d1
             | JOIN segs b ON b.doc_id = c.d2 AND b.seg = a.seg)
             |SELECT d1, d2, CAST(sum(hd) AS INT) AS hamming
             |FROM p GROUP BY d1, d2 HAVING sum(hd) <= 3
             |ORDER BY d1, d2""".stripMargin)),
    "q_multimodal_frames" -> Q(
      qMultimodalFrames,
      // DuckDB twin of the 1:N frame sampler, byte-exact: blocks at
      // stride 4 × 1 KiB, and frame_hash replays java.util.Arrays
      // .hashCode (h = 31·h + signed byte, 32-bit wrap) as a list_reduce
      // over the block's bytes with h carried mod 2^32 (congruence-
      // preserving, so per-step reduction ≡ Java's wrapping int), the
      // leading 1 prepended, and the final value re-signed. Bytes come
      // from the hexed payload as in q_multimodal_meta's twin.
      Some("""WITH raw AS (
             | SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             |        lower(hex(encode(text))) AS hx
             | FROM documents),
             |blocks AS (
             | SELECT doc_id, n_bytes, hx, CAST(bi.b AS INT) AS blk
             | FROM raw,
             |  LATERAL (SELECT unnest(generate_series(0, CAST(ceil(n_bytes/1024.0) AS INT) - 1, 4)) AS b) bi),
             |fr AS (
             | SELECT doc_id, blk // 4 AS frame_idx,
             |  least((blk+1)*1024, n_bytes) - blk*1024 AS frame_bytes,
             |  (SELECT list(('0x'||substring(hx, 2*p.p+1, 2))::BIGINT ORDER BY p.p)
             |   FROM (SELECT unnest(generate_series(blk*1024, least((blk+1)*1024, n_bytes)-1)) AS p) p) AS bs
             | FROM blocks),
             |hashed AS (
             | SELECT doc_id, frame_idx, frame_bytes,
             |  list_reduce(
             |   list_prepend(CAST(1 AS BIGINT),
             |    list_transform(bs, x -> CASE WHEN x > 127 THEN x - 256 ELSE x END)),
             |   (a, b) -> ((a * 31 + b) % 4294967296 + 4294967296) % 4294967296) AS h
             | FROM fr)
             |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
             | CAST(frame_bytes AS INT) AS frame_bytes,
             | CAST(CASE WHEN h >= 2147483648 THEN h - 4294967296 ELSE h END AS INT) AS frame_hash
             |FROM hashed ORDER BY doc_id, frame_idx""".stripMargin),
      bench = false))
}

/** Output record of the multimodal decode stub. */
case class MediaMeta(
    doc_id: Long,
    n_bytes: Long,
    magic: String,
    format: String,
    width: Int,
    height: Int)

/** Output record of the multimodal frame-sampling stub. */
case class MediaFrame(doc_id: Long, frame_idx: Int, frame_bytes: Int, frame_hash: Int)
