package graft.queries

import graft.{Q, Tables}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch-equivalence entry points for the streaming operators: the same
  * transform (graft.streaming.Streams) runs here over the batch events
  * table so the driver's DuckDB oracle can check windowing semantics;
  * the scalatest suite separately proves readStream + watermark produces
  * the identical result. `window()` aligns buckets to the 1970 epoch;
  * DuckDB `time_bucket` aligns 5/10-minute buckets identically (its
  * 2000-01-03 origin is a whole multiple of 5 minutes from the epoch).
  */
object StreamingQueries {
  private val EV =
    "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"

  /** Shared oracle body of the HLL register table — `s_stream_hll` is
    * this text verbatim; `q_agg_hll_replayable` (CorpusOps) wraps it as
    * its `regs` CTE, so the streaming state and the batch sketch cannot
    * drift (the Scala side shares [[graft.streaming.Streams.hllRegisters]]
    * the same way).
    */
  private[queries] val HllRegsSql: String =
    """WITH h AS (
      | SELECT event_type,
      |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) AS hv
      | FROM events)
      |SELECT event_type, hv % 256 AS j,
      | CAST(max(CASE WHEN hv // 256 = 0 THEN 53
      |               ELSE 53 - length(bin(hv // 256)) END) AS INTEGER) AS m_rho
      |FROM h GROUP BY event_type, j""".stripMargin

  def tumbling(spark: SparkSession, sfDir: String): DataFrame =
    Streams
      .tumbling(Tables.events(spark, sfDir))
      .orderBy("ws", "event_type")

  def sliding(spark: SparkSession, sfDir: String): DataFrame =
    Streams
      .sliding(Tables.events(spark, sfDir))
      .orderBy("ws", "event_type")

  def m4(spark: SparkSession, sfDir: String): DataFrame =
    Streams
      .m4(Tables.events(spark, sfDir))
      .orderBy("ws", "event_type")

  def gapAlerts(spark: SparkSession, sfDir: String): DataFrame =
    Streams.gapAlerts(Tables.events(spark, sfDir))

  def session(spark: SparkSession, sfDir: String): DataFrame =
    Streams
      .session(Tables.events(spark, sfDir))
      .orderBy("user_id", "session_start")

  /** Batch twin of the streaming dedup (kept to the key projection: which
    * non-key columns `dropDuplicates` keeps is tie-broken arbitrarily, so
    * only the key set is engine-comparable).
    */
  def dedup(spark: SparkSession, sfDir: String): DataFrame =
    Streams
      .dedupEvents(Tables.events(spark, sfDir))
      .select("event_id")
      .orderBy("event_id")

  /** Batch twin of the stream-stream attribution join (same transform;
    * Spark drops its watermarks from a batch plan): click→purchase pairs
    * per user within 30 minutes.
    */
  def join(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    Streams
      .attribution(ev, ev)
      .orderBy("click_id", "purchase_id")
  }

  /** Batch twin of the left-outer attribution join: clicks with no
    * purchase within 30 minutes keep NULL purchase columns.
    */
  def joinOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    Streams
      .attributionOuter(ev, ev)
      .orderBy("click_id", "purchase_id")
  }

  /** Batch twin of the stream-static enrichment join. */
  def enrich(spark: SparkSession, sfDir: String): DataFrame =
    Streams
      .enrich(Tables.events(spark, sfDir), Tables.customer(spark, sfDir))
      .orderBy("event_id")

  /** Batch twin of the streaming CDC latest-wins materialization. */
  def cdcLatest(spark: SparkSession, sfDir: String): DataFrame =
    Streams
      .cdcLatest(Tables.events(spark, sfDir))
      .orderBy("user_id")

  /** Batch twin of the streaming HLL register state (see
    * [[graft.streaming.Streams.hllRegisters]]): the sketch a reader
    * estimates from is identical whether maintained incrementally or
    * computed in one batch pass — max is order-free, and the oracle
    * replays the registers bit-for-bit.
    */
  def hllRegisters(spark: SparkSession, sfDir: String): DataFrame =
    Streams
      .hllRegisters(Tables.events(spark, sfDir))
      .orderBy("event_type", "j")

  /** Batch twin of the streaming reservoir sample (see
    * [[graft.streaming.Streams.reservoirState]]): the same MinK
    * aggregation over all events at once — equal by the lattice-join
    * argument to any chunked streaming run, and pinned by the
    * q_sample_reservoir window-formulation oracle.
    */
  def reservoir(spark: SparkSession, sfDir: String): DataFrame =
    Streams
      .reservoirSample(Streams.reservoirState(Tables.events(spark, sfDir)))
      .orderBy("event_type", "rn")

  /** Batch twin of the streaming Count-Min sketch (see
    * [[graft.streaming.Streams.countMinState]]): identical construction
    * + probe to `q_agg_count_min` by delegation — the entries differ
    * only in which side (batch registry vs StreamingSpec chunk feed)
    * exercises the state.
    */
  def countMin(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    Streams.countMinProbe(Streams.countMinState(docs), LlmOps.docTokens(docs))
  }

  /** Batch twin of the streaming KMV sketch (see
    * [[graft.streaming.Streams.kmvState]]): same MinK lattice over all
    * events at once; oracle = the per-type half of the
    * q_agg_kmv_distinct formulation (rank ≤ k smallest hashes).
    */
  def kmv(spark: SparkSession, sfDir: String): DataFrame =
    Streams
      .kmvEstimate(Streams.kmvState(Tables.events(spark, sfDir)))
      .orderBy("scope")

  /** Batch twin of the streaming Space-Saving heavy hitters (see
    * [[graft.streaming.Streams.topkTokens]]): one shared sketch
    * construction, exact while capacity (256) ≥ vocabulary (31) — so the
    * exact-count oracle certifies the streaming state's readout.
    */
  def topkTokens(spark: SparkSession, sfDir: String): DataFrame =
    Streams
      .topkTokens(Tables.documents(spark, sfDir))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(20)

  /** Batch twin of the stateful streaming EWMA (see
    * [[graft.streaming.Streams.ewmaStateful]]): the same ring-buffer
    * function over all events per key at once — bit-identical to the
    * `q_events_ewma` lag-window formulation, which is the oracle.
    */
  def ewma(spark: SparkSession, sfDir: String): DataFrame =
    Streams
      .ewmaStateful(Tables.events(spark, sfDir))
      .toDF()
      .orderBy("event_id")

  /** Batch twin of the windowed exact-uniques metric. */
  def windowDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Streams
      .windowDistinct(Tables.events(spark, sfDir))
      .orderBy("ws")

  /** Batch twin of the windowed quantile sketch (see
    * [[graft.streaming.Streams.quantileSketch]]): the log-histogram
    * state is a pure function of each window's value multiset and
    * merges exactly, so incremental maintenance and the one-pass batch
    * produce identical sketches — the oracle replays the whole
    * histogram → nearest-rank → geometric-midpoint readout per window
    * (the `q_agg_quantile_sketch` SQL with the window as the group).
    */
  def quantileSketch(spark: SparkSession, sfDir: String): DataFrame =
    Streams
      .quantileSketch(Tables.events(spark, sfDir))
      .orderBy("ws")

  /** Batch run of the flatMapGroupsWithState sessionizer (custom-state
    * API surface); bit-identical to `q_events_sessionize`'s oracle.
    */
  def sessionStateful(spark: SparkSession, sfDir: String): DataFrame =
    Streams
      .sessionizeStateful(Tables.events(spark, sfDir))
      .toDF()
      .orderBy("user_id", "session_id")

  /** Batch twin of the stateful streaming funnel (see
    * [[graft.streaming.Streams.funnelStateful]]): the same advance-only
    * state function over all events per user at once. The oracle chains
    * three first-match window picks under the identical strict
    * (ts, event_id) order key.
    */
  def funnel(spark: SparkSession, sfDir: String): DataFrame =
    Streams
      .funnelStateful(Tables.events(spark, sfDir))
      .toDF()
      .orderBy("user_id", "stage")

  /** Batch twin of the stateful streaming anomaly detector (see
    * [[graft.streaming.Streams.anomalyStateful]]): the same running
    * (n, Σv, Σv²) state over the identical (ts, event_id) order, computed
    * by the prefix scan [[graft.streaming.Streams.anomalyScan]]. The
    * oracle replays the state as exact-integer window sums — `ROWS … AND
    * 1 PRECEDING` IS the history-to-date the online detector holds when
    * each event arrives.
    */
  def anomaly(spark: SparkSession, sfDir: String): DataFrame =
    Streams
      .anomalyScan(Tables.events(spark, sfDir))
      ._1
      .toDF()
      .orderBy("event_id")

  /** Batch twin of the streaming near-dup ingest guard (see
    * [[graft.streaming.Streams.nearDupCandidates]]): the "new batch"
    * sources (src10–src19, slen=5) probe the capped band index of the
    * existing corpus (src0–src9, slen=4) — the same split and the same
    * index builder as `q_dedup_near_incremental`, truncated at the
    * candidate stage (the rerank is the batch layer's job). The oracle
    * reads the shared `cand` CTE of [[LlmOps.NearIncCandSql]] directly.
    */
  def dedupNear(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    Streams
      .nearDupCandidates(
        d.where(length(col("source")) === 5),
        LlmOps.cappedBandIndex(d.where(length(col("source")) === 4)))
      .orderBy("batch_doc", "corpus_dup")
  }

  val all: Seq[(String, Q)] = Seq(
    "s_stream_tumbling" -> Q(
      tumbling,
      Some(s"""SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws,
              | time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS we,
              | event_type, count(1) AS n,
              | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
              |FROM $EV GROUP BY 1, 2, 3 ORDER BY ws, event_type""".stripMargin)),
    "s_stream_m4" -> Q(
      m4,
      Some(s"""WITH e AS (
              | SELECT event_id, ts, event_type, value,
              |  time_bucket(INTERVAL '5 minutes', ts) AS ws
              | FROM $EV WHERE value IS NOT NULL),
              |r AS (
              | SELECT *,
              |  row_number() OVER (PARTITION BY event_type, ws ORDER BY ts, event_id) AS rf,
              |  row_number() OVER (PARTITION BY event_type, ws ORDER BY ts DESC, event_id DESC) AS rl
              | FROM e)
              |SELECT ws, ws + INTERVAL '5 minutes' AS we, event_type, count(1) AS n_points,
              | max(CASE WHEN rf = 1 THEN value END) AS v_first,
              | max(CASE WHEN rl = 1 THEN value END) AS v_last,
              | min(value) AS v_min, max(value) AS v_max
              |FROM r GROUP BY 1, 2, 3 ORDER BY ws, event_type""".stripMargin)),
    "s_stream_gap_alerts" -> Q(
      gapAlerts,
      Some(s"""WITH w AS (
              | SELECT DISTINCT event_type, time_bucket(INTERVAL '5 minutes', ts) AS ws
              | FROM $EV),
              |l AS (
              | SELECT event_type, ws,
              |  lag(ws) OVER (PARTITION BY event_type ORDER BY ws) + INTERVAL '5 minutes' AS prev_end
              | FROM w)
              |SELECT event_type, prev_end AS gap_start, ws AS gap_end,
              | CAST((epoch_us(ws) - epoch_us(prev_end)) // 300000000 AS BIGINT) AS n_missed
              |FROM l WHERE prev_end IS NOT NULL AND ws > prev_end
              |ORDER BY event_type, gap_start""".stripMargin)),
    "s_stream_cdc_latest" -> Q(
      cdcLatest,
      Some(s"""WITH r AS (
              | SELECT user_id, ts, event_id, event_type, value,
              |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
              |  count(1) OVER (PARTITION BY user_id) AS n_changes
              | FROM $EV)
              |SELECT user_id, ts, event_id, event_type, value, n_changes
              |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)),
    "s_stream_hll" -> Q(
      hllRegisters,
      Some(StreamingQueries.HllRegsSql + "\nORDER BY event_type, j")),
    // mergeable Count-Min state: the streaming sibling of
    // q_agg_count_min via the SHARED Streams.countMinState/Probe pair;
    // same exact-regime oracle (capacity ≥ vocabulary)
    "s_stream_count_min" -> Q(
      countMin,
      Some(s"""SELECT tok, count(1) AS n
              |FROM (SELECT unnest(toks) AS tok FROM ${LlmOps.DOCS_T})
              |GROUP BY tok ORDER BY tok""".stripMargin)),
    // mergeable KMV distinct state — the oracle-checkable sketch beside
    // the HLL registers; oracle = the q_agg_kmv_distinct per-type
    // formulation, so the hash match proves the MinK lattice state ≡
    // the rank ≤ k smallest-hash definition
    "s_stream_kmv" -> Q(
      kmv,
      Some(s"""WITH uh AS (
              | SELECT DISTINCT event_type,
              |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) AS h
              | FROM $EV),
              |kept AS (
              | SELECT event_type, h, rank() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM uh),
              |pt AS (SELECT event_type AS scope, CAST(count(1) AS BIGINT) AS k_used,
              |        CAST(max(h) AS BIGINT) AS kth_hash
              |       FROM kept WHERE rn <= 32 GROUP BY 1)
              |SELECT scope, k_used, kth_hash,
              | CASE WHEN k_used < 32 THEN CAST(k_used AS DOUBLE)
              |      ELSE CAST(31 AS DOUBLE) * 1152921504606846976.0 / CAST(kth_hash AS DOUBLE)
              | END AS est_distinct
              |FROM pt ORDER BY scope""".stripMargin)),
    // bounded monotone sample state — the sketch state class applied to
    // sampling; oracle = the q_sample_reservoir window formulation, so
    // the hash match proves the mergeable min-k state ≡ the batch
    // row_number ≤ k definition on the same data
    "s_stream_reservoir" -> Q(
      reservoir,
      Some(s"""WITH s AS (
              | SELECT event_type, event_id, user_id,
              |  md5(CAST(event_id AS VARCHAR)) AS rkey,
              |  row_number() OVER (PARTITION BY event_type
              |    ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
              | FROM $EV)
              |SELECT event_type, CAST(rn AS INT) AS rn, event_id, user_id, rkey
              |FROM s WHERE rn <= 4 ORDER BY event_type, rn""".stripMargin)),
    // per-event stateful feature enrichment — the ring-buffer state
    // class; oracle = the q_events_ewma lag-window formulation, so the
    // hash match proves the stateful recurrence ≡ the window definition
    "s_stream_ewma" -> Q(
      ewma,
      Some(s"""WITH v AS (
              | SELECT event_id, user_id, ts,
              |  CAST(round(value * 1e6, 0) AS BIGINT) AS vfp
              | FROM $EV),
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
    "s_stream_funnel" -> Q(
      funnel,
      Some(s"""WITH ev AS (SELECT event_id, ts, user_id, event_type FROM $EV),
              |v AS (
              | SELECT user_id, event_id, ts FROM (
              |  SELECT user_id, event_id, ts,
              |   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
              |  FROM ev WHERE event_type = 'view') WHERE rn = 1),
              |c AS (
              | SELECT user_id, event_id, ts FROM (
              |  SELECT e.user_id, e.event_id, e.ts,
              |   row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
              |  FROM ev e JOIN v ON e.user_id = v.user_id
              |  WHERE e.event_type = 'click'
              |   AND (e.ts > v.ts OR (e.ts = v.ts AND e.event_id > v.event_id)))
              | WHERE rn = 1),
              |p AS (
              | SELECT user_id, event_id FROM (
              |  SELECT e.user_id, e.event_id,
              |   row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
              |  FROM ev e JOIN c ON e.user_id = c.user_id
              |  WHERE e.event_type = 'purchase'
              |   AND (e.ts > c.ts OR (e.ts = c.ts AND e.event_id > c.event_id)))
              | WHERE rn = 1)
              |SELECT user_id, CAST(1 AS INT) AS stage, event_id FROM v
              |UNION ALL SELECT user_id, CAST(2 AS INT), event_id FROM c
              |UNION ALL SELECT user_id, CAST(3 AS INT), event_id FROM p
              |ORDER BY user_id, stage""".stripMargin)),
    "s_stream_anomaly" -> Q(
      anomaly,
      Some(s"""WITH e AS (
              | SELECT event_id, ts, event_type,
              |  CAST(round(value * 1e3, 0) AS BIGINT) AS vfp
              | FROM $EV),
              |c AS (
              | SELECT event_id, event_type, vfp,
              |  count(1) OVER w AS n,
              |  CAST(sum(vfp) OVER w AS BIGINT) AS s,
              |  CAST(sum(vfp * vfp) OVER w AS BIGINT) AS ss
              | FROM e
              | WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
              |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
              |z AS (
              | SELECT event_id, event_type, CAST(n AS BIGINT) AS n_prev,
              |  round((CAST(vfp AS DOUBLE) - CAST(s AS DOUBLE) / n) /
              |        sqrt(CAST(ss AS DOUBLE) / n -
              |             (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)), 6) AS z
              | FROM c
              | WHERE n >= 30
              |   AND CAST(ss AS DOUBLE) / n -
              |       (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) > 0)
              |SELECT event_id, event_type, n_prev, z FROM z
              |WHERE abs(z) >= 1.5 ORDER BY event_id""".stripMargin)),
    // bench=false: shares q_topk_approx's sketch construction (benching
    // both would double-count it); the streaming surface is what this
    // entry adds, proven in StreamingSpec.
    "s_stream_topk" -> Q(
      topkTokens,
      bench = false,
      oracle = Some("""WITH toks AS (
             | SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
             | FROM documents),
             |c AS (SELECT tok, count(1) AS cnt FROM toks GROUP BY 1)
             |SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 20""".stripMargin)),
    "s_stream_window_distinct" -> Q(
      windowDistinct,
      Some(s"""SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws,
              | time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS we,
              | count(DISTINCT user_id) AS n_users
              |FROM $EV GROUP BY 1, 2 ORDER BY ws""".stripMargin)),
    "s_stream_quantile" -> Q(
      quantileSketch,
      Some(s"""WITH v AS (
              | SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws,
              |  CASE WHEN NOT (value > 0.0) THEN -2147483648
              |       ELSE CAST(floor(ln(value) / ln(1.02)) AS INT) END AS bin
              | FROM $EV WHERE NOT isnan(value)),
              |h AS (SELECT ws, bin, count(1) AS c FROM v GROUP BY 1, 2),
              |t AS (SELECT ws, sum(c) AS total FROM h GROUP BY 1),
              |cum AS (
              | SELECT ws, bin, c,
              |  sum(c) OVER (PARTITION BY ws ORDER BY bin
              |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS acc
              | FROM h),
              |pick AS (
              | SELECT c.ws, q.q,
              |  min(CASE WHEN c.bin = -2147483648 THEN 0.0
              |           ELSE exp((c.bin + 0.5) * ln(1.02)) END) AS val
              | FROM cum c
              | JOIN t ON c.ws = t.ws
              | CROSS JOIN (SELECT unnest([0.5, 0.95, 0.99]) AS q) q
              | WHERE c.acc >= greatest(1, CAST(ceil(q.q * t.total) AS BIGINT))
              |   AND c.acc - c.c < greatest(1, CAST(ceil(q.q * t.total) AS BIGINT))
              | GROUP BY 1, 2)
              |SELECT p.ws, p.ws + INTERVAL '5 minutes' AS we,
              | CAST(t.total AS BIGINT) AS n,
              | round(max(CASE WHEN p.q = 0.5 THEN p.val END), 4) AS p50,
              | round(max(CASE WHEN p.q = 0.95 THEN p.val END), 4) AS p95,
              | round(max(CASE WHEN p.q = 0.99 THEN p.val END), 4) AS p99
              |FROM pick p JOIN t ON p.ws = t.ws
              |GROUP BY p.ws, t.total ORDER BY p.ws""".stripMargin)),
    "s_stream_sliding" -> Q(
      sliding,
      Some(s"""WITH ex AS (
              | SELECT time_bucket(INTERVAL '5 minutes', ts) - k.k * INTERVAL '5 minutes' AS ws,
              |        event_type
              | FROM $EV e, (SELECT unnest([0, 1]) AS k) k)
              |SELECT ws, ws + INTERVAL '10 minutes' AS we, event_type, count(1) AS n
              |FROM ex GROUP BY 1, 2, 3 ORDER BY ws, event_type""".stripMargin)),
    "s_stream_session" -> Q(
      session,
      Some(s"""WITH flagged AS (
              | SELECT user_id, ts,
              |  CASE WHEN lag(ts) OVER w IS NULL
              |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS new_s
              | FROM $EV
              | WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
              |sess AS (
              | SELECT user_id, ts,
              |  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
              | FROM flagged)
              |SELECT user_id, min(ts) AS session_start,
              | max(ts) + INTERVAL '30 minutes' AS session_end,
              | count(1) AS n_events
              |FROM sess GROUP BY user_id, sid
              |ORDER BY user_id, session_start""".stripMargin)),
    "s_stream_dedup" -> Q(
      dedup,
      Some(s"SELECT DISTINCT event_id FROM $EV ORDER BY event_id")),
    "s_stream_dedup_near" -> Q(
      dedupNear,
      Some(s"""${LlmOps.NearIncCandSql}
              |SELECT batch_doc, corpus_dup FROM cand
              |ORDER BY batch_doc, corpus_dup""".stripMargin)),
    "s_stream_join" -> Q(
      join,
      Some(s"""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
              | c.ts AS click_ts, p.ts AS purchase_ts
              |FROM $EV c JOIN $EV p ON c.user_id = p.user_id
              |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
              | AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
              |ORDER BY click_id, purchase_id""".stripMargin)),
    "s_stream_join_outer" -> Q(
      joinOuter,
      Some(s"""SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
              | p.event_id AS purchase_id, p.ts AS purchase_ts
              |FROM (SELECT * FROM $EV WHERE event_type = 'click') c
              |LEFT JOIN (SELECT * FROM $EV WHERE event_type = 'purchase') p
              | ON c.user_id = p.user_id
              | AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
              |ORDER BY click_id, purchase_id""".stripMargin)),
    "s_stream_enrich" -> Q(
      enrich,
      Some(s"""SELECT e.event_id, e.user_id, e.event_type, e.ts, e.value,
              | c.c_mktsegment, c.c_acctbal
              |FROM $EV e JOIN customer c ON e.user_id = c.c_custkey
              |ORDER BY e.event_id""".stripMargin)),
    "s_stream_session_state" -> Q(
      sessionStateful,
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
              |ORDER BY user_id, session_id""".stripMargin)))
}
