package graft.streaming

import graft.operators.PrefixScan
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming transforms (SURVEY.md §2.2-S), written against a generic
  * DataFrame so the SAME definition serves `readStream` (with watermark →
  * late-data drop + state cleanup) and the batch equivalence queries the
  * driver oracle-checks. Structured Streaming only — no DStreams.
  *
  * The mode comes from the input, never from a parameter: watermarks are
  * unconditional (Spark's analyzer removes them from a batch plan), state
  * functions always `update` (a batch `flatMapGroupsWithState` discards
  * the update), and only the operators whose batch and stream forms
  * differ — [[dedupEvents]], [[windowDistinct]], [[sessionizeStateful]]
  * and [[gapAlerts]] — read `isStreaming`.
  */
object Streams {
  import StateMath._
  import graft.Tables.dsum

  /** 5-minute tumbling windows per event_type. Streaming: append mode
    * after watermark expiry; batch: plain groupBy(window(...)).
    */
  def tumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))
      .select(
        col("window.start").as("ws"),
        col("window.end").as("we"),
        col("event_type"),
        col("n"),
        col("sum_v"))

  /** Streaming M4 downsampling (the `q_time_m4` sibling over 5-minute
    * tumbling windows): per (window, type) the FIRST/LAST/MIN/MAX values
    * — the four points that render the window pixel-exact on a live
    * dashboard. All four extrema are DECLARATIVE aggregates (min_by/
    * max_by on the injective [[graft.Tables.tsIdKey]] decimal key;
    * min/max tie-free because only the value is emitted), so the state
    * store holds a FLAT fixed-width row per open window — 4 doubles +
    * 2 decimals + a count — merged incrementally across triggers; no
    * per-window buffering of raw points, which is what makes this shape
    * viable when one hot window sees millions of events. Streaming:
    * append mode after watermark expiry; batch: plain groupBy.
    */
  def m4(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .where(col("value").isNotNull)
      .withColumn("tk", graft.Tables.tsIdKey(col("ts"), col("event_id")))
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_points"),
        min_by(col("value"), col("tk")).as("v_first"),
        max_by(col("value"), col("tk")).as("v_last"),
        min(col("value")).as("v_min"),
        max(col("value")).as("v_max"))
      .select(
        col("window.start").as("ws"),
        col("window.end").as("we"),
        col("event_type"),
        col("n_points"),
        col("v_first"),
        col("v_last"),
        col("v_min"),
        col("v_max"))

  /** 10-minute windows sliding by 5 — each event lands in 2 windows. */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("window.end").as("we"), col("event_type"), col("n"))

  /** Custom-state sessionization via `flatMapGroupsWithState` — the
    * KeyValueGroupedDataset state API the built-in `session_window` can't
    * replace when per-session state is richer than an aggregate. Same
    * semantics as the batch window twin (`q_events_sessionize`): 30-minute
    * `>=` gap, session_end = last event ts, exact DECIMAL(18,6)-quantized
    * value sum (Long-micros accumulator), session_id = 1-based per-user
    * arrival order.
    *
    * One shuffle on user_id; state is O(1) per user — the open session,
    * or after a timeout a tiny closed marker carrying the next session
    * id (the 1-based-per-user contract REQUIRES remembering the count
    * across timeouts; dropping state entirely restarted returning users
    * at session 1, duplicating keys — the same O(#users) state any
    * per-user aggregation keeps; at corpus scale, key sessions by
    * (user, session_start) instead if per-user counters must expire).
    * In streaming mode sessions close either when a later event opens a
    * gap or when the event-time watermark passes last+gap
    * (EventTimeTimeout); in batch mode each key sees all its events in
    * one call and the final open session is emitted at the end, which
    * makes the batch run of the SAME function bit-identical to the SQL
    * oracle. Cross-trigger event disorder beyond the watermark is the
    * usual Structured Streaming contract (late events are dropped by the
    * watermark before reaching the state function).
    */
  def sessionizeStateful(events: DataFrame): Dataset[SessionRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    // read here, outside the state function, which must not capture `events`
    val streaming = events.isStreaming
    val gap = 1800000000L // 30 min in micros
    def close(uid: Long, s: SessionState): SessionRow =
      SessionRow(
        uid,
        s.session_id,
        ts(s.startMicros),
        ts(s.lastMicros),
        s.n_events,
        java.math.BigDecimal.valueOf(s.sumMicros, 6).doubleValue())

    def fn(uid: Long, it: Iterator[(Long, java.sql.Timestamp, Double)], state: GroupState[SessionState]): Iterator[SessionRow] =
      if (state.hasTimedOut) {
        val s = state.get
        val out = Iterator.single(close(uid, s))
        // keep the per-user counter as a CLOSED marker (startMicros = -1,
        // no timeout registered): a user returning after a timeout must
        // continue the 1-based session sequence, not restart at 1 —
        // `state.remove()` here made streaming emit duplicate
        // (user_id, session_id) keys and diverge from the batch oracle.
        state.update(SessionState(s.session_id + 1, -1L, -1L, 0L, 0L))
        out
      } else {
        val evs = it.toArray.sortBy(e => micros(e._2))
        val out = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
        // first session id when no session is open: the closed marker's
        // carried counter, or 1 for a never-seen user
        val nextId = state.getOption match {
          case Some(s) if s.startMicros < 0 => s.session_id
          case _ => 1L
        }
        var open = state.getOption.filter(_.startMicros >= 0)
        evs.foreach { case (_, t, v) =>
          val m = micros(t)
          val vq = graft.Tables.decimalMicros(v)
          open match {
            case Some(s) if m - s.lastMicros >= gap =>
              out += close(uid, s)
              open = Some(SessionState(s.session_id + 1, m, m, 1L, vq))
            case Some(s) =>
              open = Some(s.copy(lastMicros = m, n_events = s.n_events + 1, sumMicros = s.sumMicros + vq))
            case None =>
              open = Some(SessionState(nextId, m, m, 1L, vq))
          }
        }
        if (!streaming) open.foreach(s => out += close(uid, s))
        else open.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp((s.lastMicros + gap) / 1000L) // millis
        }
        out.iterator
      }

    val timeout = if (streaming) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    events
      .select(col("user_id"), col("ts"), col("value"))
      .withWatermark("ts", "30 minutes")
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionRow](OutputMode.Append, timeout)(fn)
  }

  /** Outage (gap) alerts — the streaming sibling of `q_dq_heartbeat`:
    * per event type, emit one alert row for every maximal run of empty
    * 5-minute slots strictly inside the type's live span
    * (gap_start/gap_end timestamps + missed-slot count). Heartbeat
    * reports the aggregate continuity posture; this emits the actionable
    * per-outage stream an on-call pages on.
    *
    * Batch form (the oracle twin): distinct (type, 5-min window) slots —
    * one corpus partial agg — then a single `lag` window over the MODEL
    * frame (slots grow with wall time, not corpus size) yields each gap
    * between consecutive present slots. Streaming form: the SAME
    * 5-minute tumbling agg (append mode, watermark-finalized) feeds a
    * per-type `flatMapGroupsWithState` whose whole state is ONE long —
    * the last finalized window end; a finalized window starting past it
    * emits the gap row. Windows finalize in event-time order per key
    * (the watermark is monotone), so detection-on-next-arrival is exact:
    * StreamingSpec pins chunk-fed streamed alerts ≡ the batch twin
    * row-for-row. An OPEN trailing outage is deliberately not emitted by
    * either form (the batch span ends at the last event; the streaming
    * watermark cannot finalize windows nobody has seen past) — the
    * freshness gate (`q_dq_freshness`) owns the "producer is silent
    * right now" signal. Parallelism is bounded by event-type
    * cardinality, which is inherent to a per-type alert stream (the
    * anomaly-scan note); state is 8 bytes per type.
    */
  def gapAlerts(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val slotUs = 300000000L // 5 min in micros
    if (!events.isStreaming) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("ws"))
      events
        .groupBy(col("event_type"), window(col("ts"), "5 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("window.start").as("ws"), col("window.end").as("we"))
        .withColumn("prev_end", lag(col("we"), 1).over(w))
        .where(col("prev_end").isNotNull && col("ws") > col("prev_end"))
        .select(
          col("event_type"),
          col("prev_end").as("gap_start"),
          col("ws").as("gap_end"),
          // the diff is an exact multiple of slotUs, so the double
          // quotient is integral and the cast is lossless
          ((unix_micros(col("ws")) - unix_micros(col("prev_end"))) / slotUs)
            .cast("long")
            .as("n_missed"))
        .orderBy("event_type", "gap_start")
    } else {
      def fn(
          et: String,
          it: Iterator[(String, java.sql.Timestamp, java.sql.Timestamp)],
          state: GroupState[GapState]): Iterator[GapRow] = {
        val wins = it.toArray.sortBy(w => micros(w._2))
        val out = scala.collection.mutable.ArrayBuffer.empty[GapRow]
        var lastEnd = state.getOption.map(_.lastEndUs).getOrElse(-1L)
        wins.foreach { case (_, wsT, weT) =>
          val ws = micros(wsT)
          if (lastEnd >= 0 && ws > lastEnd)
            out += GapRow(et, ts(lastEnd), wsT, (ws - lastEnd) / slotUs)
          lastEnd = math.max(lastEnd, micros(weT))
        }
        if (lastEnd >= 0) state.update(GapState(lastEnd))
        out.iterator
      }
      events
        .withWatermark("ts", "10 minutes")
        .groupBy(col("event_type"), window(col("ts"), "5 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("window.start").as("ws"), col("window.end").as("we"))
        .as[(String, java.sql.Timestamp, java.sql.Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[GapState, GapRow](
          OutputMode.Append,
          GroupStateTimeout.NoTimeout)(fn)
        .toDF()
    }
  }

  /** Stream-static enrichment: each event picks up its user's dimension
    * attributes (market segment, account balance) via a broadcast hash
    * join against the static customer table — the canonical "enrich the
    * click stream with the user profile" shape. Stateless: no watermark
    * or state store needed (the static side is re-read per micro-batch,
    * which is also how dimension updates become visible mid-stream). At
    * scale the dim broadcasts (bounded) or, if it outgrows broadcast,
    * Spark falls back to a per-batch shuffle join — either way no
    * streaming state accumulates. Same definition serves batch (the
    * driver's oracle twin) and readStream; StreamingSpec proves
    * equivalence.
    */
  def enrich(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .join(
        broadcast(customers.select(
          col("c_custkey"),
          col("c_mktsegment"),
          col("c_acctbal"))),
        col("user_id") === col("c_custkey"))
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        col("ts"),
        col("value"),
        col("c_mktsegment"),
        col("c_acctbal"))

  /** Streaming near-dup ingest guard (r10 verdict ask #5) — the
    * stream-static form of `q_dedup_near_incremental`'s candidate stage:
    * each micro-batch of (doc_id, text) documents is MinHash16-banded
    * map-side (the codegen kernel — stateless per-row, no token
    * shuffle), probed by band equality against the PERSISTED capped
    * corpus band index ([[graft.queries.LlmOps.cappedBandIndex]] — the
    * SAME builder as the batch form, so the CapBucket guard and index
    * semantics cannot drift), and emitted as DISTINCT
    * (batch_doc, corpus_dup) candidate pairs.
    *
    * Streaming semantics: the band projection is stateless, the join is
    * stream-static (no watermark state, index re-read per micro-batch —
    * at 100 TB the index is the persisted table, batch reads are the
    * daily ingest), and `dropDuplicates` keys only the 16-byte id pair,
    * so state is candidate-count-sized, not corpus-sized. Append mode.
    * State lifetime contract: candidate-pair state has no watermark, so
    * over an UNBOUNDED continuous stream it grows monotonically — the
    * intended deployment is the ingest-guard shape (one bounded ingest
    * per run: `Trigger.AvailableNow` or a per-batch restart), where
    * state is bounded by that ingest's candidate count and the
    * exactly-once re-delivery suppression pinned in StreamingSpec holds
    * within the run. A truly continuous deployment uses
    * [[nearDupCandidatesWatermarked]] (r12): ingest-time watermark +
    * `dropDuplicatesWithinWatermark`, state bounded by the delay
    * window, re-emission accepted across state expiry.
    * The exact-Jaccard rerank stays in the batch layer (it re-shingles
    * matched corpus docs — a per-candidate batch job, not per-event
    * streaming state). Same definition serves batch (the driver's
    * oracle twin `s_stream_dedup_near`); StreamingSpec proves chunk-fed
    * equivalence.
    */
  def nearDupCandidates(batchDocs: DataFrame, corpusIndex: DataFrame): DataFrame =
    graft.queries.LlmOps
      .minhashBands(batchDocs)
      .select(col("doc_id").as("batch_doc"), col("band"), col("band_key"))
      .join(corpusIndex, Seq("band", "band_key"))
      .select("batch_doc", "corpus_dup")
      .dropDuplicates("batch_doc", "corpus_dup")

  /** Continuous-deployment form of [[nearDupCandidates]] (r12 — the
    * watermarked variant the bounded-ingest contract note prescribes):
    * `batchDocs` carries an INGEST-TIME column, the candidate-pair
    * dedup runs `dropDuplicatesWithinWatermark`, and Spark evicts a
    * pair's suppression state once the ingest-time watermark passes it
    * by `delay` — state is bounded by the candidate rate × delay window
    * instead of growing monotonically for the life of the query. The
    * accepted trade (documented on the unwatermarked form): a duplicate
    * re-delivered AFTER its state expired re-emits; within the window
    * the exactly-once suppression holds. Both behaviors are pinned in
    * StreamingSpec (suppression within the watermark, re-emission after
    * eviction). The band projection and index probe are identical to
    * the bounded-ingest form — only the dedup state lifetime differs.
    */
  def nearDupCandidatesWatermarked(
      batchDocs: DataFrame,
      corpusIndex: DataFrame,
      tsCol: String = "ingest_ts",
      delay: String = "30 minutes"): DataFrame =
    graft.queries.LlmOps
      .minhashBands(batchDocs, passthrough = Seq(tsCol))
      .select(col("doc_id").as("batch_doc"), col("band"), col("band_key"), col(tsCol))
      .withWatermark(tsCol, delay)
      .join(corpusIndex, Seq("band", "band_key"))
      .select(col("batch_doc"), col("corpus_dup"), col(tsCol))
      .dropDuplicatesWithinWatermark("batch_doc", "corpus_dup")
      .select("batch_doc", "corpus_dup")

  /** Stream → object store: each micro-batch of (key, content) rows is
    * written through [[graft.sinks.ObjectSink]] via `foreachBatch` — the
    * production pattern for sinks Spark has no native streaming writer
    * for. Per-batch semantics inherit the sink's contract (at-least-once,
    * idempotent by key, per-record fault counting); `batchId` is passed
    * through for callers that want to record progress per epoch.
    */
  def objectSinkStream(
      stream: DataFrame,
      store: graft.sinks.ObjectStore,
      keyCol: String,
      contentCol: String,
      contentType: String)(
      onBatch: (Long, Long, Long) => Unit = (_, _, _) => ()): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val (ok, failed, _) =
        graft.sinks.ObjectSink.write(batch, store, keyCol, contentCol, contentType)
      onBatch(batchId, ok, failed)
    }

  /** Streaming CDC latest-wins materialization — `q_events_cdc_latest`'s
    * exact transform run over the change stream: per key, `max_by` on
    * the (ts, event_id) version struct. No watermark by design: the
    * state IS the compacted current table (one struct per key — the
    * floor for any latest-wins materialization), served in
    * complete/update mode; a late change simply loses the version
    * comparison, so out-of-order delivery cannot regress a key. The
    * batch run of the same function is the driver's oracle entry;
    * StreamingSpec proves an incrementally-fed MemoryStream converges to
    * the batch table.
    *
    * State sizing, MEASURED (STREAMSTATE.json, r16): ~295 bytes/key
    * peak in the HDFS-backed store, growing linearly in distinct keys
    * (exactly ×10 at the ×10 feed) — at 10⁹ keys that is ~295 GB, so a
    * production deployment shards it across executors (state is
    * hash-partitioned by the group key for free) and should run the
    * RocksDB state store (`spark.sql.streaming.stateStore.providerClass`)
    * to keep it off-heap and incrementally checkpointed.
    */
  def cdcLatest(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        max_by(
          struct(col("ts"), col("event_id"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("cur"),
        count(lit(1)).as("n_changes"))
      .select(
        col("user_id"),
        col("cur.ts").as("ts"),
        col("cur.event_id").as("event_id"),
        col("cur.event_type").as("event_type"),
        col("cur.value").as("value"),
        col("n_changes"))

  /** Streaming HyperLogLog register state per event_type — the
    * `q_agg_hll_replayable` sketch maintained incrementally. `max(rho)`
    * is monotone and commutative, so the streaming aggregation state IS
    * the 256-register sketch: bounded at m rows per key with NO
    * watermark needed (the point of a sketch — approximate-distinct
    * over the whole stream in O(m) state, where the exact version's
    * state grows with cardinality). Registers are mergeable across
    * restarts/partitions by construction; the estimate is a stateless
    * projection a reader applies downstream (see the batch entry).
    * Same md5-hex60 / bin-length rho as the batch sketch, so the batch
    * twin oracle replays the streaming state bit-for-bit.
    *
    * `extraKeys` (r14 ADVICE) widens the register key for keyed variants
    * — `q_agg_hll_merge`'s day-keyed daily cells pass
    * `to_date(col("ts")).as("d")` — so there is ONE register
    * construction for batch, streaming, and every keyed derivative: a
    * hash/width change here moves all of them (and their oracles)
    * together. Each extra key must be an aliased Column; it is appended
    * to the (event_type, j) grouping key.
    */
  def hllRegisters(events: DataFrame, extraKeys: org.apache.spark.sql.Column*): DataFrame = {
    val h = graft.Tables.hash60(col("user_id"))
    val keyed = events.select((col("event_type") +: extraKeys) :+ h.as("hv"): _*)
    val keyNames = keyed.columns.dropRight(1)
    keyed
      .select(
        keyNames.map(col) ++ Seq(
          (col("hv") % 256).as("j"),
          when(expr("hv div 256") === 0L, 53)
            .otherwise(lit(53) - length(bin(expr("hv div 256"))))
            .as("rho")): _*)
      .groupBy((keyNames :+ "j").map(col): _*)
      .agg(max(col("rho")).as("m_rho"))
  }

  /** Streaming per-group uniform k-reservoir STATE — the incremental
    * twin of `q_sample_reservoir`: ≤k (md5-priority, event_id, user_id)
    * entries per event_type, maintained by the [[graft.functions.MinK]]
    * bounded monotone aggregation. Like the HLL register table, this
    * needs NO watermark: "k smallest priorities" is a commutative,
    * associative, idempotent lattice join, so any trigger chunking or
    * merge tree yields the identical O(k)-per-group state, and the
    * sample stays a uniform without-replacement k-sample of EVERYTHING
    * seen so far (the property windowed sampling loses). Readout is the
    * stateless [[reservoirSample]] projection downstream.
    */
  def reservoirState(events: DataFrame, k: Int = 4): DataFrame = {
    val mk = udaf(new graft.functions.MinK(k))
    events
      .select(
        col("event_type"),
        md5(col("event_id").cast("string").cast("binary")).as("rkey"),
        col("event_id"),
        col("user_id"))
      .groupBy(col("event_type"))
      .agg(mk(col("rkey"), col("event_id"), col("user_id")).as("sample"))
  }

  /** Stateless readout of [[reservoirState]]: one row per sampled event
    * with its rank — entry order in the state array IS ascending
    * (rkey, event_id), so position+1 equals the batch twin's
    * row_number.
    */
  def reservoirSample(state: DataFrame): DataFrame =
    state
      .select(col("event_type"), posexplode(col("sample")))
      .select(
        col("event_type"),
        (col("pos") + 1).as("rn"),
        col("col.event_id").as("event_id"),
        col("col.user_id").as("user_id"),
        col("col.rkey").as("rkey"))

  /** Streaming Count-Min sketch over the token stream — ONE mergeable
    * 3×4096 counter grid as the whole aggregation state (complete mode,
    * no watermark: counters are monotone adds, the hllRegisters
    * argument). Shared verbatim with the batch `q_agg_count_min` (which
    * delegates here), so the streaming state and the batch sketch
    * cannot drift.
    *
    * Certification boundary (both count-min entries): the exact-count
    * oracle holds only while capacity ≥ vocabulary. DUP-mode inflation
    * preserves the vocabulary (×10 cert hash-PASSES); ORGANIC inflation
    * mints new tokens past the collision-free regime, where the sketch
    * CORRECTLY overestimates and the exact oracle no longer applies —
    * the declared sketch-capacity boundary (measured at ×63 organic:
    * 75% of probes collide). The approximate regime is spec-pinned at
    * capacity 2 in CountMin's own suite.
    */
  def countMinState(docs: DataFrame): DataFrame = {
    val cm = udaf(graft.functions.CountMin)
    docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .agg(cm(col("tok")).as("sk"))
  }

  /** Stateless point-lookup readout over [[countMinState]]: probe each
    * token with plain column arithmetic (xxhash64 rows bit-identical to
    * the aggregator's — no UDF on the probe path).
    */
  def countMinProbe(state: DataFrame, toks: DataFrame): DataFrame = {
    import graft.functions.CountMin
    def est(i: Int): org.apache.spark.sql.Column =
      element_at(
        col("sk"),
        (pmod(xxhash64(col("tok"), lit(i.toLong)), lit(CountMin.W.toLong))
          + lit(i.toLong * CountMin.W) + lit(1L)).cast("int"))
    toks
      .select("tok")
      .distinct()
      .crossJoin(broadcast(state))
      .select(col("tok"), least(est(0), est(1), est(2)).as("n"))
      .orderBy("tok")
  }

  /** Streaming KMV distinct sketch per event type — the ORACLE-CHECKABLE
    * approximate-distinct state beside [[hllRegisters]]: the k smallest
    * md5 user hashes per type, maintained by the same [[graft.functions.
    * MinK]] lattice as [[reservoirState]] (the squeeze dedup makes
    * re-seen users idempotent, so the state IS the set-of-k-smallest —
    * order/chunking/replay-proof). The hash rides as its 15-hex md5
    * prefix: lowercase hex sorts identically to its numeric value, so
    * MinK's string priority needs no conversion. Estimate readout is the
    * stateless [[kmvEstimate]] projection — `(k−1)·2⁶⁰ / h₍ₖ₎`, a
    * deterministic function of the state (the q_agg_kmv_distinct
    * contract).
    */
  def kmvState(events: DataFrame, k: Int = 32): DataFrame = {
    val mk = udaf(new graft.functions.MinK(k))
    events
      .select(col("event_type"), graft.Tables.hash60Hex(col("user_id")).as("hhex"))
      .groupBy(col("event_type"))
      // id/uid slots pinned to 0 so MinK's (rkey, id) dedup degrades to
      // DEDUP BY HASH ALONE — two users colliding on the 15-hex prefix
      // must occupy ONE slot, matching the oracle's rank-over-DISTINCT-
      // hash definition (r12 third-session review)
      .agg(mk(col("hhex"), lit(0L), lit(0L)).as("sk"))
      // the sketch CARRIES its k: a reader must not guess (a k=16 state
      // read with an assumed k=32 would silently take the under-fill
      // branch on a full sketch)
      .withColumn("k", lit(k))
  }

  /** Stateless estimate projection over [[kmvState]]: held count, kth
    * hash, and the KMV estimate (exact held count when under-filled).
    * k comes FROM the state frame.
    */
  def kmvEstimate(state: DataFrame): DataFrame = {
    val kth = conv(element_at(col("sk"), -1).getField("rkey"), 16, 10).cast("long")
    state
      .select(
        col("event_type").as("scope"),
        size(col("sk")).cast("long").as("k_used"),
        kth.as("kth_hash"),
        col("k"))
      .select(
        col("scope"),
        col("k_used"),
        col("kth_hash"),
        when(col("k_used") < col("k"), col("k_used").cast("double"))
          .otherwise(
            (col("k") - 1).cast("double") * lit(graft.Tables.KmvRange) /
              col("kth_hash").cast("double"))
          .as("est_distinct"))
  }

  /** Per-event decayed rolling feature maintained as keyed state — the
    * `q_events_ewma` truncated EWMA (weights 16:8:4:2:1 over the last 5
    * events, α = 1/2) computed incrementally: the state is a ≤4-value
    * fixed-point ring buffer per user, and every event emits its feature
    * row in append mode. This is the streaming FEATURE-ENGINEERING shape
    * (per-event enrichment from bounded per-key history) beside the
    * window (tumbling/sliding), session, and sketch (hll/topk) state
    * classes. Arithmetic replicates the batch lag-window bit-for-bit:
    * the same HALF_UP micro quantization (`BigDecimal.valueOf`, Spark's
    * own double-round algorithm), exact integer numerator/denominator,
    * one double division, scale-6 round — so streaming output ≡ the
    * batch twin row-for-row (StreamingSpec feeds chronological chunks).
    * In-batch disorder is sorted per key exactly like
    * [[sessionizeStateful]]; a production deployment adds a watermark to
    * bound disorder across triggers (late events would see a truncated
    * ring, exactly as they would in any online feature store).
    */
  def ewmaStateful(events: DataFrame): Dataset[EwmaRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val wts = Seq(8L, 4L, 2L, 1L)
    def fn(
        uid: Long,
        it: Iterator[(Long, java.sql.Timestamp, Long, Double)],
        state: GroupState[EwmaState]): Iterator[EwmaRow] = {
      val evs = it.toArray.sortBy(e => (micros(e._2), e._1))
      var ring = state.getOption.map(_.ring).getOrElse(List.empty[Long])
      val out = evs.map { case (eid, _, _, v) =>
        val vfp = round0(v * 1e6)
        val num = ring.zip(wts).foldLeft(vfp * 16L) { case (a, (x, w)) => a + x * w }
        val den = ring.zip(wts).foldLeft(16L) { case (a, (_, w)) => a + w }
        ring = (vfp :: ring).take(4)
        EwmaRow(eid, uid, round6(num.toDouble / den / 1e6))
      }
      state.update(EwmaState(ring))
      out.iterator
    }
    events
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[EwmaState, EwmaRow](OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Streaming Space-Saving heavy hitters over the token stream — the
    * `q_topk_approx` sketch maintained incrementally (the heavy-hitter
    * sibling of [[hllRegisters]]'s distinct-count sketch). The streaming
    * aggregation state IS the ≤256-counter sketch: bounded memory over
    * an unbounded stream with NO watermark (approximate whole-stream
    * top-k is exactly what a sketch buys), and the Space-Saving merge is
    * the UDAF's own partial-merge, so micro-batch state composes the
    * same way partitions do in batch — estimates are monotone across
    * triggers. ONE construction serves batch (the driver's oracle twin,
    * exact while capacity ≥ vocabulary) and `readStream` (StreamingSpec
    * feeds chunks and pins convergence to the batch sketch).
    */
  def topkTokens(docs: DataFrame): DataFrame = {
    val ss = udaf(new graft.functions.SpaceSaving(256))
    docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .agg(ss(col("tok")).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.tok").as("tok"), col("e.est").as("cnt"))
  }

  /** Exact windowed unique users per 5-minute tumbling window — the
    * exact-uniques streaming metric (its batch/extreme-scale twins are
    * `q_events_wau`, `q_agg_bitmap_distinct`, `q_agg_hll_merge`). Two
    * chained stateful operators (Spark ≥ 3.4 multi-stateful support):
    * dedup on (user, window) inside the watermark horizon, then a
    * windowed count. Both states are watermark-evicted — per-window
    * dedup keys die when the watermark passes the window end, so state
    * is bounded by uniques-per-horizon, never stream history.
    */
  def windowDistinct(events: DataFrame): DataFrame = {
    // Dedup on a PLAIN 5-minute slot column (≡ the window start), NOT on
    // the window struct, keeping ts as the stream's single event-time
    // column. r16 fix: with the window struct as the dedup key's
    // event-time carrier, dropDuplicatesWithinWatermark's state was
    // measured evicted at the very first watermark advance (well before
    // ts + delay), so a duplicate arriving in a later trigger was
    // re-counted — dedup held only within one micro-batch. With ts as
    // the event-time column the state lives until the watermark passes
    // ts + delay, the documented within-watermark contract
    // (RestartSpec pins the cross-trigger AND cross-restart dedup).
    val slotUs = 300000000L // 5 min in micros
    val keyed = events
      .withWatermark("ts", "10 minutes")
      .withColumn("slot", timestamp_micros(floor(unix_micros(col("ts")) / slotUs) * slotUs))
    // Spark rejects dropDuplicatesWithinWatermark on a batch frame
    val dedup =
      if (events.isStreaming) keyed.dropDuplicatesWithinWatermark("user_id", "slot")
      else keyed.dropDuplicates("user_id", "slot")
    dedup
      .groupBy(window(col("ts"), "5 minutes").as("win"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("win.start").as("ws"), col("win.end").as("we"), col("n_users"))
  }

  /** Windowed mergeable quantiles — the streaming latency/price-tail
    * dashboard metric: per 5-minute tumbling window, p50/p95/p99 of the
    * event value via the [[graft.functions.LogHistQuantile]]
    * log-histogram sketch. The sketch state is a pure function of the
    * window's value multiset and merges exactly (element-wise bucket
    * addition), so the incremental streaming aggregation and the batch
    * twin produce IDENTICAL results — the same replayability argument as
    * `s_stream_hll`'s registers, applied to quantiles. State per window
    * is bounded by the value DYNAMIC RANGE (~hundreds of buckets), not
    * by row count, and the watermark evicts closed windows.
    */
  def quantileSketch(events: DataFrame): DataFrame = {
    val qsk = udaf(new graft.functions.LogHistQuantile(Seq(0.5, 0.95, 0.99)))
    events
      .withWatermark("ts", "10 minutes")
      // NULL/NaN values leave both the sketch AND the window's n — the
      // oracle's `WHERE NOT isnan(value)` (NULL-dropping in SQL) does the
      // same, so the two engines' totals cannot diverge on dirty data
      // (the primitive-Double UDAF would otherwise coerce NULL to 0.0
      // into the underflow bucket while count(1) still counted the row)
      .where(col("value").isNotNull && !isnan(col("value")))
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"), qsk(col("value")).as("qv"))
      .select(
        col("window.start").as("ws"),
        col("window.end").as("we"),
        col("n"),
        round(element_at(col("qv"), 1), 4).as("p50"),
        round(element_at(col("qv"), 2), 4).as("p95"),
        round(element_at(col("qv"), 3), 4).as("p99"))
  }

  /** Streaming exact dedup by event_id within the watermark horizon —
    * the ingestion-side guard an at-least-once source needs (retried
    * sends, replayed offsets). State boundedness needs the RIGHT
    * operator: plain `dropDuplicates("event_id")` under a watermark
    * never evicts (Spark only cleans dedup state when the event-time
    * column is part of the keys — the watermark would drop late rows
    * but the state store still grows one entry per key forever).
    * `dropDuplicatesWithinWatermark` exists for exactly this: dedup by
    * key, state evicted once the watermark passes the key's event time
    * — O(keys-per-horizon), which is the correct guarantee for retry
    * storms (an at-least-once source re-sends within the horizon).
    * Batch runs the plain distinct-by-key: Spark rejects
    * `dropDuplicatesWithinWatermark` on a batch frame.
    */
  def dedupEvents(events: DataFrame): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** Stream-stream interval join — click→purchase attribution: each
    * purchase is credited to every click by the same user in the
    * preceding 30 minutes. The canonical two-stream correlation shape
    * Structured Streaming supports natively: BOTH sides watermarked, an
    * equality key (user_id) plus an event-time range predicate — the
    * range is what lets the engine evict buffered rows once the other
    * side's watermark passes `ts + 30 min`, so per-side state is bounded
    * by the horizon, never the stream's history. At scale the equality
    * key also makes the join a hash-partition shuffle on user_id, not a
    * cross-stream scan. Same definition runs in batch (the driver's
    * oracle twin `s_stream_join`); StreamingSpec proves the MemoryStream
    * run emits exactly the batch pairs.
    */
  def attribution(clicksSrc: DataFrame, purchasesSrc: DataFrame): DataFrame =
    clickPurchaseJoin(clicksSrc, purchasesSrc, "inner")
      .select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")

  /** Left-outer stream-stream interval join — the abandonment twin of
    * [[attribution]]: every click appears exactly once per matching
    * purchase, and clicks with NO purchase by the same user in the
    * following 30 minutes surface with NULL purchase columns. The outer
    * side is what makes this a distinct streaming mode: matched pairs
    * emit as they join, but a null row can only emit once the purchase
    * side's watermark has passed `click_ts + 30 min` (before that, a
    * matching purchase could still arrive) — so correctness depends on
    * the same watermark + range predicate that bounds the join state.
    * Batch runs the identical transform as a plain left join (the
    * driver's oracle twin `s_stream_join_outer`).
    */
  def attributionOuter(clicksSrc: DataFrame, purchasesSrc: DataFrame): DataFrame =
    clickPurchaseJoin(clicksSrc, purchasesSrc, "left_outer")
      .select("user_id", "click_id", "click_ts", "purchase_id", "purchase_ts")

  /** Clicks joined to the same user's purchases in the following 30
    * minutes, both sides watermarked: the one join behind [[attribution]]
    * and [[attributionOuter]].
    */
  private def clickPurchaseJoin(
      clicksSrc: DataFrame,
      purchasesSrc: DataFrame,
      joinType: String): DataFrame = {
    val clicks = clicksSrc
      .where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    val purch = purchasesSrc
      .where(col("event_type") === "purchase")
      .select(
        col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "30 minutes")
    clicks.join(
      purch,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") + expr("INTERVAL 30 MINUTES"),
      joinType)
  }

  /** Stateful streaming funnel: per user, emit a row each time the
    * view → click → purchase funnel ADVANCES — stage 1 on the user's
    * first view, stage 2 on the first click strictly after that view,
    * stage 3 on the first purchase strictly after that click. The
    * online form of `q_events_funnel`'s conversion report: the emitted
    * stream is the per-user conversion log a dashboard tails, and
    * COUNTing stages reproduces the batch funnel totals.
    *
    * Semantics are pinned to the event-time order key (ts, event_id):
    * "after" is a strict tuple comparison, so simultaneous-timestamp
    * events resolve deterministically. State per user is 3 longs
    * (stage, last-advance order key) — bounded for any stream length;
    * a user who completes the funnel stops updating state. Within a
    * trigger the state fn sorts its slice by the order key; ACROSS
    * triggers events must arrive key-ordered per user (the same
    * online-semantics caveat [[ewmaStateful]] documents: a late view
    * cannot retroactively un-advance a funnel an online system already
    * acted on).
    */
  def funnelStateful(events: DataFrame): Dataset[FunnelRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    def fn(
        uid: Long,
        it: Iterator[(Long, java.sql.Timestamp, String)],
        state: GroupState[FunnelState]): Iterator[FunnelRow] = {
      val evs = it.toArray.sortBy(e => (micros(e._2), e._1))
      var s = state.getOption.getOrElse(FunnelState(0, 0L, 0L))
      val wanted = Map(0 -> "view", 1 -> "click", 2 -> "purchase")
      val out = Vector.newBuilder[FunnelRow]
      evs.foreach { case (eid, ts, typ) =>
        val us = micros(ts)
        val after = s.stage == 0 ||
          us > s.lastUs || (us == s.lastUs && eid > s.lastId)
        if (s.stage < 3 && wanted(s.stage) == typ && after) {
          s = FunnelState(s.stage + 1, us, eid)
          out += FunnelRow(uid, s.stage, eid)
        }
      }
      state.update(s)
      out.result().iterator
    }
    events
      .select(col("event_id"), col("ts"), col("event_type"), col("user_id"))
      .as[(Long, java.sql.Timestamp, String, Long)]
      .groupByKey(_._4)
      .flatMapGroupsWithState[FunnelState, FunnelRow](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout) { (uid, it, st) =>
        fn(uid, it.map(t => (t._1, t._2, t._3)), st)
      }
  }

  /** Stateful streaming anomaly detector: per event type, maintain the
    * RUNNING (count, Σv, Σv²) of all prior events' values and flag each
    * arriving event whose z-score against that history-to-date clears
    * the threshold — the online form of `q_events_anomaly` (which scores
    * against the WHOLE series retrospectively; an online monitor only
    * has the past). Warmup: no verdicts until 30 prior events.
    *
    * Determinism discipline: values quantize to 1e-3 fixed-point LONGs,
    * so the running sums are exact integers in any arrival grouping and
    * the oracle's window replay (`sum(vfp) OVER (… ROWS … 1 PRECEDING)`)
    * reproduces the state bit-for-bit; mean/variance/z then derive from
    * identical integers by identical IEEE steps on both engines, and z
    * rounds to 1e-6 before the threshold compare. Σv² uses
    * `Math.multiplyExact`/`addExact` (the `q_events_autocorr` checked-
    * arithmetic discipline): beyond ~10¹³ rows per key the LONG would
    * wrap — the engine throws loudly instead, matching the oracle's
    * abort. At production scale the key would be (event_type, shard) or
    * per-entity, which both raises parallelism and defers the bound.
    *
    * State per key is 3 longs — bounded for any stream length. Within a
    * trigger the slice sorts by (ts, event_id); across triggers events
    * must arrive key-ordered (the [[ewmaStateful]] online caveat).
    */
  def anomalyStateful(events: DataFrame): Dataset[AnomalyRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    def fn(
        typ: String,
        it: Iterator[(Long, java.sql.Timestamp, String, Double)],
        state: GroupState[AnomalyState]): Iterator[AnomalyRow] = {
      val evs = it.toArray.sortBy(e => (micros(e._2), e._1))
      var s = state.getOption.getOrElse(AnomalyState(0L, 0L, 0L))
      val out = Vector.newBuilder[AnomalyRow]
      evs.foreach { case (eid, _, _, v) =>
        val vfp = round0(v * 1e3)
        anomalyZ(s, vfp).foreach(z => out += AnomalyRow(eid, typ, s.n, z))
        s = anomalyStep(s, vfp)
      }
      state.update(s)
      out.result().iterator
    }
    events
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[(Long, java.sql.Timestamp, String, Double)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[AnomalyState, AnomalyRow](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  /** The running z-score of [[anomalyStateful]] as an exact prefix scan
    * ([[graft.operators.PrefixScan]]) over (event_type; ts, event_id), so
    * parallelism is the partition count, not the event-type cardinality.
    * Each event's prior state is `carry(type)` plus the scan's exclusive
    * prefix (rank − 1, Σvfp, Σvfp²), and it is scored by the stateful
    * fold's own [[StateMath.anomalyZ]]. StreamingSpec pins scan ≡ fold
    * row for row.
    *
    * Deployed through foreachBatch: scan each micro-batch with the
    * previous batch's `carry` and keep the returned carry (the input
    * carry plus this batch's per-type totals) for the next, under the
    * same chronological-arrival contract as the stateful form.
    */
  def anomalyScan(
      events: DataFrame,
      carry: Map[String, AnomalyState] = Map.empty): (Dataset[AnomalyRow], Map[String, AnomalyState]) = {
    val spark = events.sparkSession
    import spark.implicits._
    val zero = AnomalyState(0L, 0L, 0L)
    val fp = events
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[(Long, java.sql.Timestamp, String, Double)]
      .map { case (eid, ts, typ, v) =>
        val vfp = round0(v * 1e3)
        (eid, ts, typ, vfp, Math.multiplyExact(vfp, vfp))
      }
      .toDF("event_id", "ts", "event_type", "vfp", "vfp2")
    // the carry's per-type totals fold each partition's values with the
    // stateful fold's own checked step: one job with no shuffle, so the
    // scan's offsets run once, in the scored rows' action
    val totals = fp
      .select("event_type", "vfp")
      .as[(String, Long)]
      .mapPartitions { it =>
        val part = scala.collection.mutable.HashMap.empty[String, AnomalyState]
        it.foreach { case (t, vfp) => part(t) = anomalyStep(part.getOrElse(t, zero), vfp) }
        part.iterator
      }
      .collect()
    val nextCarry = totals.foldLeft(carry) { case (c, (t, s)) =>
      c.updated(t, anomalyAdd(c.getOrElse(t, zero), s))
    }
    val scored = PrefixScan(fp, Seq("event_type"), Seq(col("ts"), col("event_id")), Seq("vfp", "vfp2"))
      .select("event_id", "event_type", "vfp", "vfp2", "rank", "cum_vfp", "cum_vfp2")
      .as[(Long, String, Long, Long, Long, Long, Long)]
      .flatMap { case (eid, typ, vfp, vfp2, rank, cum, cum2) =>
        val s = anomalyAdd(carry.getOrElse(typ, zero), AnomalyState(rank - 1L, cum - vfp, cum2 - vfp2))
        anomalyZ(s, vfp).map(z => AnomalyRow(eid, typ, s.n, z))
      }
    (scored, nextCarry)
  }

  /** Per-user session windows, 30-minute gap. Session end = last event +
    * gap (Spark session_window semantics).
    */
  def session(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
}

/** The state functions' shared arithmetic. It lives outside [[Streams]]
  * so that their closures reach it as a static module, not by capturing
  * `Streams`, which is not serializable.
  */
private[streaming] object StateMath {

  /** Epoch microseconds of `t`, the event-time unit of every state
    * function in [[Streams]], and back.
    */
  def micros(t: java.sql.Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  def ts(m: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(m / 1000000L, (m % 1000000L) * 1000L))

  /** HALF_UP rounding through `BigDecimal.valueOf`, Spark's own
    * double-round algorithm: to a whole number (fixed-point quantization)
    * and to scale 6 (emitted features and scores).
    */
  def round0(x: Double): Long =
    java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue

  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** One value folded into a key's running anomaly state, with checked
    * adds (see [[Streams.anomalyStateful]]).
    */
  def anomalyStep(s: AnomalyState, vfp: Long): AnomalyState =
    AnomalyState(
      s.n + 1L,
      Math.addExact(s.s, vfp),
      Math.addExact(s.ss, Math.multiplyExact(vfp, vfp)))

  /** Two anomaly states of one key summed, with checked adds. */
  def anomalyAdd(a: AnomalyState, b: AnomalyState): AnomalyState =
    AnomalyState(Math.addExact(a.n, b.n), Math.addExact(a.s, b.s), Math.addExact(a.ss, b.ss))

  /** The z-score of `vfp` against the prior state `s`, rounded to 1e-6,
    * when it is a verdict: at least 30 prior values, a positive variance
    * and |z| ≥ 1.5. [[Streams.anomalyStateful]] and [[Streams.anomalyScan]]
    * both score through here, so their arithmetic is the same by
    * construction.
    */
  def anomalyZ(s: AnomalyState, vfp: Long): Option[Double] =
    if (s.n < 30L) None
    else {
      val m = s.s.toDouble / s.n
      val variance = s.ss.toDouble / s.n - m * m
      if (variance > 0) {
        val z = round6((vfp.toDouble - m) / math.sqrt(variance))
        if (math.abs(z) >= 1.5) Some(z) else None
      } else None
    }
}

/** Open-session state carried per user by [[Streams.sessionizeStateful]]. */
case class SessionState(
    session_id: Long,
    startMicros: Long,
    lastMicros: Long,
    n_events: Long,
    sumMicros: Long)

/** Keyed state of [[Streams.gapAlerts]]: the type's last finalized
  * window end, in epoch microseconds.
  */
case class GapState(lastEndUs: Long)
case class GapRow(
    event_type: String,
    gap_start: java.sql.Timestamp,
    gap_end: java.sql.Timestamp,
    n_missed: Long)

/** Keyed state of [[Streams.ewmaStateful]]: the user's last ≤4 event
  * values as 1e-6 fixed-point longs, newest first.
  */
case class EwmaState(ring: List[Long])

/** Per-event output of [[Streams.ewmaStateful]]. */
case class EwmaRow(event_id: Long, user_id: Long, ewma_value: Double)

/** Keyed state of [[Streams.funnelStateful]]: funnel stage reached plus
  * the (micros, event_id) order key of the advancing event.
  */
case class FunnelState(stage: Int, lastUs: Long, lastId: Long)

/** Funnel-advance output of [[Streams.funnelStateful]]. */
case class FunnelRow(user_id: Long, stage: Int, event_id: Long)

/** Keyed state of [[Streams.anomalyStateful]]: running count / Σv / Σv²
  * of the key's prior values as 1e-3 fixed-point longs.
  */
case class AnomalyState(n: Long, s: Long, ss: Long)

/** Flagged-event output of [[Streams.anomalyStateful]]. */
case class AnomalyRow(event_id: Long, event_type: String, n_prev: Long, z: Double)

/** Closed-session output of [[Streams.sessionizeStateful]]. */
case class SessionRow(
    user_id: Long,
    session_id: Long,
    session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp,
    n_events: Long,
    sum_value: Double)
