package graft

import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Streaming state-size probe (r15 VERDICT ask #3): run every stateful
  * stream over a REAL file-source feed at ×1 (sf0.1) and ×10 (the
  * inflated dup-mode workdir) and RECORD
  * `StreamingQueryProgress.stateOperators` — numRowsTotal and
  * memoryUsedBytes, peak across micro-batches — into a STREAMSTATE.json
  * artifact. The 100 TB streaming story previously rested on state-CLASS
  * arguments (sketch lattices O(m·|keys|), fMGWS O(keys), watermark
  * eviction) with no measured numbers; this probe measures them, and
  * GATES the bounded claims: an entry whose declared class predicts a
  * ~flat ×10/×1 state ratio FAILS the probe if the measured ratio
  * exceeds [[BoundedRatioCap]].
  *
  * State classes (dup-mode ×10 inflation shifts event/user/doc ids —
  * fact keys ×10 — but leaves the event-time RANGE and the token
  * vocabulary unchanged):
  *
  *  - `sketch`: fixed-shape sketch per group (HLL registers, KMV minima,
  *    reservoir, CountMin lattice, SpaceSaving heap) keyed by a
  *    CONSTANT-cardinality key (event_type / global) — rows must stay
  *    ~flat at ×10. GATED.
  *  - `window`: watermark-evicted per-window aggregates; the window
  *    count depends on the TIME RANGE, which dup-mode inflation
  *    preserves — rows must stay ~flat at ×10. GATED.
  *  - `keys`: O(distinct keys) state (fMGWS per user, windowed dedup per
  *    (user, slot), CDC per user). Dup mode multiplies users ×10, so
  *    rows are EXPECTED to grow ~×10 — recorded, not gated flat; the
  *    measurement IS the deliverable (bytes/key for the documented
  *    unbounded `s_stream_cdc_latest`).
  *  - `horizon`: stream-stream join buffers — state ~ rows inside the
  *    watermark horizon. The feed arrives as one AvailableNow batch, so
  *    the horizon is the whole feed and rows grow ~×10 by construction.
  *    Recorded.
  *
  * Usage: StreamState <x1SfDir> <x10WorkDir> [entry...]
  * Env: SPARK_GRAFT_STREAMSTATE_OUT (default STREAMSTATE.json); cores as
  * in [[Sessions.cpus]].
  */
object StreamState {

  /** Bounded classes must not exceed this ×10/×1 state-row ratio. 1.5
    * leaves room for per-partition store overheads while sitting far
    * below the ×10 a rows-proportional regression would show.
    */
  val BoundedRatioCap = 1.5

  final case class Probe(
      name: String,
      feed: String, // "events" | "documents"
      stateClass: String, // "sketch" | "window" | "keys" | "horizon"
      mode: String, // sink output mode
      mk: Seq[DataFrame] => DataFrame,
      sources: Int = 1)

  private[graft] def probes: Seq[Probe] = Seq(
    // windowed aggregates — watermark-evicted, window count ~ time range
    Probe("s_stream_tumbling", "events", "window", "append", s => Streams.tumbling(s.head)),
    Probe("s_stream_sliding", "events", "window", "append", s => Streams.sliding(s.head)),
    Probe("s_stream_m4", "events", "window", "append", s => Streams.m4(s.head)),
    // session windows are keyed (session_window, user_id): state is one
    // row per OPEN (user, session), i.e. O(active users) — the first
    // probe run misdeclared this "window" and the ×10 gate correctly
    // FLAGGED it (rows went 95465 → 954650 with users ×10). The probe
    // gating its own author is exactly the point.
    Probe("s_stream_session", "events", "keys", "append", s => Streams.session(s.head)),
    Probe("s_stream_quantile", "events", "window", "append", s => Streams.quantileSketch(s.head)),
    // sketch lattices — fixed shape per constant-cardinality group
    Probe("s_stream_hll", "events", "sketch", "complete", s => Streams.hllRegisters(s.head)),
    Probe("s_stream_kmv", "events", "sketch", "complete", s => Streams.kmvState(s.head)),
    Probe("s_stream_reservoir", "events", "sketch", "complete", s => Streams.reservoirState(s.head)),
    Probe("s_stream_count_min", "documents", "sketch", "complete", s => Streams.countMinState(s.head)),
    Probe("s_stream_topk", "documents", "sketch", "complete", s => Streams.topkTokens(s.head)),
    // keyed state — O(distinct keys); dup-mode keys grow ×10 by design
    Probe("s_stream_window_distinct", "events", "keys", "append", s => Streams.windowDistinct(s.head)),
    Probe("s_stream_dedup", "events", "keys", "append", s => Streams.dedupEvents(s.head)),
    Probe("s_stream_cdc_latest", "events", "keys", "complete", s => Streams.cdcLatest(s.head)),
    Probe("s_stream_session_state", "events", "keys", "append", s => Streams.sessionizeStateful(s.head).toDF()),
    Probe("s_stream_ewma", "events", "keys", "append", s => Streams.ewmaStateful(s.head).toDF()),
    Probe("s_stream_funnel", "events", "keys", "append", s => Streams.funnelStateful(s.head).toDF()),
    Probe("s_stream_anomaly", "events", "keys", "append", s => Streams.anomalyStateful(s.head).toDF()),
    Probe("s_stream_gap_alerts", "events", "keys", "append", s => Streams.gapAlerts(s.head)),
    // stream-stream joins — state ~ rows inside the watermark horizon
    Probe("s_stream_join", "events", "horizon", "append", s => Streams.attribution(s(0), s(1)), sources = 2),
    Probe("s_stream_join_outer", "events", "horizon", "append", s => Streams.attributionOuter(s(0), s(1)), sources = 2))

  /** Materialize the feed ONCE per (scale, table) as Spark-written
    * parquet with the ts cast already applied: the file streaming source
    * wants a directory, and pre-converting keeps the stream schema free
    * of the nanos-as-long layout adaptivity (state sizes are unaffected).
    */
  private[graft] def prepFeed(spark: SparkSession, sfDir: String, table: String, scratch: String): String = {
    val dir = new java.io.File(scratch, s"${table}_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}")
    if (!new java.io.File(dir, "_SUCCESS").exists()) {
      Tables.table(spark, sfDir, table).write.mode("overwrite").parquet(dir.toString)
    }
    dir.toString
  }

  final case class Peak(rows: Long, bytes: Long, batches: Int)

  private[graft] def run(spark: SparkSession, feedDir: String, p: Probe): Peak = {
    val sch = spark.read.parquet(feedDir).schema
    def src() = spark.readStream.schema(sch).parquet(feedDir)
    val df = p.mk((1 to p.sources).map(_ => src()))
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft_ss_${p.name}").toString
    val q = df.writeStream
      .outputMode(p.mode)
      .format("noop")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally q.stop()
    val progs = q.recentProgress.toSeq
    val withState = progs.filter(_.stateOperators.nonEmpty)
    val rows = withState.map(_.stateOperators.map(_.numRowsTotal).sum).maxOption.getOrElse(0L)
    val bytes =
      withState.map(_.stateOperators.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt)): Unit
    Peak(rows, bytes, progs.size)
  }

  def main(args: Array[String]): Unit = {
    val x1Dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val x10Dir = args.drop(1).headOption.getOrElse("/tmp/graft_x10_r16")
    val only = args.drop(2).toSet
    val spark = Sessions.local()
    val scratch = new java.io.File(sys.props("java.io.tmpdir"), "graft_streamstate_feed").toString
    val active = probes.filter(p => only.isEmpty || only(p.name))
    var out = Vector.empty[String]
    var violations = Vector.empty[String]
    active.foreach { p =>
      val f1 = prepFeed(spark, x1Dir, p.feed, scratch)
      val f10 = prepFeed(spark, x10Dir, p.feed, scratch)
      val r1 = run(spark, f1, p)
      val r10 = run(spark, f10, p)
      val ratio = if (r1.rows > 0) r10.rows.toDouble / r1.rows else Double.NaN
      val bounded = p.stateClass == "sketch" || p.stateClass == "window"
      val pass = !bounded || (!ratio.isNaN && ratio <= BoundedRatioCap)
      if (!pass)
        violations :+= s"${p.name}: class ${p.stateClass} predicts ~flat state, measured ×10/×1 rows ratio $ratio"
      System.err.println(
        f"[streamstate] ${p.name}%-28s ${p.stateClass}%-8s x1 rows=${r1.rows}%9d bytes=${r1.bytes}%12d " +
          f"x10 rows=${r10.rows}%9d bytes=${r10.bytes}%12d ratio=$ratio%6.2f ${if (pass) "OK" else "VIOLATION"}")
      out :+= s"""  "${p.name}": {"class":"${p.stateClass}","x1":{"rows":${r1.rows},"bytes":${r1.bytes},"batches":${r1.batches}},""" +
        s""""x10":{"rows":${r10.rows},"bytes":${r10.bytes},"batches":${r10.batches}},""" +
        s""""rows_ratio":${if (ratio.isNaN) "null" else f"$ratio%.3f"},"bounded_gate":${if (bounded) s""""${if (pass) "PASS" else "FAIL"}"""" else "null"}}"""
    }
    val json =
      s"""{"x1":"$x1Dir","x10":"$x10Dir","bounded_ratio_cap":$BoundedRatioCap,"entries":{\n""" +
        out.mkString(",\n") + "\n}}"
    println(json)
    val dest = sys.env.getOrElse("SPARK_GRAFT_STREAMSTATE_OUT", "STREAMSTATE.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dest), json + "\n"): Unit
    spark.stop()
    if (violations.nonEmpty) {
      violations.foreach(v => System.err.println(s"[streamstate] BOUNDED-STATE VIOLATION: $v"))
      sys.exit(1)
    }
  }
}
