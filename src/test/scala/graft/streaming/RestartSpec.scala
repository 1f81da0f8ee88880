package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Checkpoint-restart proofs for the watermark/window/stream-join state
  * class (r15 verdict ask #2) — the state a crashed 100 TB ingest
  * actually restarts into. Pattern (same as the sessionize/funnel
  * restart tests in StreamingSpec): file source + checkpoint + parquet
  * sink, stop mid-stream, data lands WHILE THE QUERY IS DOWN — always
  * including at least one late-arrival whose event time precedes data
  * already seen before the stop (late relative to the stream, still
  * inside the watermark, landing in a window/buffer that was OPEN in
  * the state store at the crash) — restart as a NEW query, and require
  * streamed-across-restart ≡ the uninterrupted batch run of the same
  * transform. Each test's late arrival is chosen so that LOST state has
  * a distinct failure signature (a split window count, a split session,
  * a missing join pair, a missing gap row), so a restore bug cannot
  * pass by accident.
  *
  * Two hard-won harness rules (cost a debugging session each):
  *  - Comparison filters (drop the sentinel type / user) must be applied
  *    AT READ TIME, never inside the streaming query: a filter on a
  *    grouping/join column pushes below the aggregation all the way to
  *    the source, so the watermark-advancing sentinels would be filtered
  *    out BEFORE the EventTimeWatermark node and no window would ever
  *    finalize.
  *  - processAllAvailable only waits for source DATA; the watermark
  *    flush runs as a NO-DATA batch that stop() can kill mid-flight, so
  *    quiescence must wait for that batch to commit (see [[quiesce]]).
  */
class RestartSpec extends SparkSuite {
  import spark.implicits._

  private type Ev = (Long, java.sql.Timestamp, Long, String, Double)
  private val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"
  private val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:00:00").getTime
  private def at(minutes: Double) = new java.sql.Timestamp(t0 + (minutes * 60000L).toLong)

  /** Every scenario here advances the watermark in both runs, so
    * quiescence = the last committed batch is the no-data flush batch.
    */
  private def quiesce(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.processAllAvailable()
    val deadline = System.nanoTime + 60L * 1000000000L
    while ((q.lastProgress == null || q.lastProgress.numInputRows != 0L) &&
      System.nanoTime < deadline) {
      Thread.sleep(100)
      q.processAllAvailable()
    }
    assert(
      q.lastProgress != null && q.lastProgress.numInputRows == 0L,
      "no-data flush batch did not commit within 60s")
  }

  /** Write pre, run to quiescence, stop; write post while DOWN; restart
    * from the same checkpoint; return (streamed parquet, `transform` run
    * as a batch over every file) — both UNFILTERED (see the class doc for
    * why the transform must not carry comparison filters).
    */
  private def runRestarted(
      tag: String,
      pre: Seq[Ev],
      post: Seq[Ev],
      transform: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_restart_$tag")
    val srcDir = root.resolve("src").toString
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    def writeFile(rows: Seq[Ev]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").json(srcDir)
    // parquet FILE sink, not memory: append-mode memory sinks refuse
    // checkpoint recovery, and the file sink's commit log makes the
    // restart exactly-once (a replayed micro-batch deduplicates)
    def start() = transform(spark.readStream.schema(schema).json(srcDir))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .option("path", outDir)
      .format("parquet")
      .start()
    writeFile(pre)
    val q1 = start()
    quiesce(q1)
    q1.stop()
    writeFile(post)
    val q2 = start()
    try quiesce(q2)
    finally q2.stop()
    (spark.read.parquet(outDir), transform(spark.read.schema(schema).json(srcDir)))
  }

  private def assertStreamEqBatch(streamed: DataFrame, batch: DataFrame): Unit = {
    assert(batch.count() > 0, "vacuous fixture: batch twin emitted nothing")
    assert(
      streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0,
      s"streamed=${streamed.collect().mkString("; ")} batch=${batch.collect().mkString("; ")}")
  }

  // watermark-advancing sentinels: type "zzz" / user -999 rows flow
  // through the streaming query unfiltered (so they advance the
  // watermark); their windows are excluded from the comparison at READ
  // time, identically on both sides (the final far-future sentinel's
  // own window never finalizes in streaming, so it must not count)

  test("s_stream_tumbling restart: an open window's count merges across the stop (r16)") {
    // pre-restart watermark = 22-10 = 12 min: window [10,15) is OPEN in
    // the state store holding B's two rows when the query stops. The
    // post-restart 13-min B row is late relative to the 22-min sentinel
    // and must MERGE into that restored window: n=3, not 1.
    val pre = Seq[Ev](
      (1L, at(1), 1L, "A", 1.0), (2L, at(2), 2L, "A", 2.0),
      (3L, at(11), 1L, "B", 3.0), (4L, at(12), 2L, "B", 4.0),
      (90L, at(22), -999L, "zzz", 0.0))
    val post = Seq[Ev](
      (5L, at(13), 3L, "B", 5.0),
      (6L, at(31), 1L, "A", 6.0),
      (91L, at(5000), -999L, "zzz", 0.0))
    val (streamedRaw, batchRaw) = runRestarted("tumbling", pre, post, Streams.tumbling)
    val flt = (df: DataFrame) => df.where(col("event_type") =!= "zzz")
    val streamed = flt(streamedRaw)
    assertStreamEqBatch(streamed, flt(batchRaw))
    val b = streamed.where(col("event_type") === "B").collect()
    assert(b.length == 1 && b.head.getAs[Long]("n") == 3L, b.mkString(", "))
  }

  test("s_stream_sliding restart: both overlapping open windows merge across the stop (r16)") {
    // each event lands in TWO 10-by-5 windows; B's open windows [5,15)
    // and [10,20) both hold pre-restart state the 13-min late row must
    // merge into after the restart
    val pre = Seq[Ev](
      (1L, at(1), 1L, "A", 1.0), (2L, at(2), 2L, "A", 2.0),
      (3L, at(11), 1L, "B", 3.0), (4L, at(12), 2L, "B", 4.0),
      (90L, at(22), -999L, "zzz", 0.0))
    val post = Seq[Ev](
      (5L, at(13), 3L, "B", 5.0),
      (6L, at(31), 1L, "A", 6.0),
      (91L, at(5000), -999L, "zzz", 0.0))
    val (streamedRaw, batchRaw) = runRestarted("sliding", pre, post, Streams.sliding)
    val flt = (df: DataFrame) => df.where(col("event_type") =!= "zzz")
    val streamed = flt(streamedRaw)
    assertStreamEqBatch(streamed, flt(batchRaw))
    val b = streamed.where(col("event_type") === "B").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ws"), r.getAs[Long]("n"))).sortBy(_._1.getTime)
    assert(b.map(_._2).toSeq == Seq(3L, 3L), b.mkString(", "))
  }

  test("s_stream_m4 restart: window extrema state merges across the stop (r16)") {
    // B's open window [10,15): pre first=5.0 (id 3), min=1.0; the
    // post-restart late row (id 5, value 9.0) must update last and max
    // of the RESTORED flat state row: (first,last,min,max)=(5,9,1,9)
    val pre = Seq[Ev](
      (1L, at(1), 1L, "A", 2.5),
      (3L, at(11), 1L, "B", 5.0), (4L, at(12), 2L, "B", 1.0),
      (90L, at(22), -999L, "zzz", 0.0))
    val post = Seq[Ev](
      (5L, at(13), 3L, "B", 9.0),
      (6L, at(31), 1L, "A", 6.5),
      (91L, at(5000), -999L, "zzz", 0.0))
    val (streamedRaw, batchRaw) = runRestarted("m4", pre, post, Streams.m4)
    val flt = (df: DataFrame) => df.where(col("event_type") =!= "zzz")
    val streamed = flt(streamedRaw)
    assertStreamEqBatch(streamed, flt(batchRaw))
    val b = streamed.where(col("event_type") === "B").collect()
    assert(b.length == 1, b.mkString(", "))
    val r = b.head
    assert(
      (r.getAs[Long]("n_points"), r.getAs[Double]("v_first"), r.getAs[Double]("v_last"),
        r.getAs[Double]("v_min"), r.getAs[Double]("v_max")) == ((3L, 5.0, 9.0, 1.0, 9.0)),
      r.toString)
  }

  test("s_stream_window_distinct restart: BOTH chained state stores survive the stop (r16)") {
    // two states cross the restart with distinct failure signatures:
    // user 1's (user, window) dedup key — the post-restart duplicate at
    // 13 min must NOT re-count (lost dedup state → n_users=4) — and the
    // open window's count, which user 3's new arrival must increment
    // (lost agg state → n_users=2). NO pre-restart watermark sentinel:
    // dropDuplicatesWithinWatermark only guarantees dedup while the
    // watermark has not passed the key (its state was measured evicted
    // once wm reached the window start), so the pre-restart watermark
    // stays at 12-10=2 min — the dedup key for window [10,15) is alive
    // in the state store at the stop, which is exactly what makes this
    // a restore test rather than a re-dedup accident.
    val pre = Seq[Ev](
      (1L, at(11), 1L, "A", 1.0), (2L, at(12), 1L, "A", 2.0),
      (3L, at(12), 2L, "A", 3.0))
    val post = Seq[Ev](
      (4L, at(13), 1L, "A", 4.0),
      (5L, at(13.5), 3L, "A", 5.0),
      (91L, at(5000), -999L, "zzz", 0.0))
    val cutoff = at(4000)
    val (streamedRaw, batchRaw) = runRestarted("windist", pre, post, Streams.windowDistinct)
    val flt = (df: DataFrame) => df.where(col("ws") < cutoff)
    val streamed = flt(streamedRaw)
    assertStreamEqBatch(streamed, flt(batchRaw))
    val w = streamed.where(col("ws") === at(10)).collect()
    assert(w.length == 1 && w.head.getAs[Long]("n_users") == 3L, w.mkString(", "))
  }

  test("s_stream_quantile restart: the window's quantile sketch merges across the stop (r16)") {
    // the log-histogram sketch for open window [10,15) holds {1,2,3}
    // pre-restart; the late 4.0 must merge into the restored bucket
    // vector — the sketch is a pure function of the multiset, so the
    // full run must equal batch EXACTLY
    val pre = Seq[Ev](
      (1L, at(11), 1L, "A", 1.0), (2L, at(11.5), 2L, "A", 2.0),
      (3L, at(12), 3L, "A", 3.0),
      (90L, at(22), -999L, "zzz", 0.0))
    val post = Seq[Ev](
      (4L, at(13), 4L, "A", 4.0),
      (91L, at(5000), -999L, "zzz", 0.0))
    val cutoff = at(4000)
    val (streamedRaw, batchRaw) = runRestarted("quantile", pre, post, Streams.quantileSketch)
    val flt = (df: DataFrame) => df.where(col("ws") < cutoff)
    val streamed = flt(streamedRaw)
    assertStreamEqBatch(streamed, flt(batchRaw))
    val w = streamed.where(col("ws") === at(10)).collect()
    assert(w.length == 1 && w.head.getAs[Long]("n") == 4L, w.mkString(", "))
  }

  test("s_stream_gap_alerts restart: chained window + fMGWS gap state survive the stop (r16)") {
    // dual chained state: the windowed agg's open [10,15) window AND
    // the per-type GapState. Type A's [0,5) window was emitted to the
    // gap tracker BEFORE the stop (lastEnd=5); its post-restart [30,35)
    // window must produce gap (5,30,n=5) — lost fMGWS state emits no A
    // gap at all. Type B's [10,15) window finalizes only after the
    // restart; its gap (5,10,n=1) needs the restored lastEnd too.
    val pre = Seq[Ev](
      (1L, at(1), 1L, "A", 1.0),
      (2L, at(1), 1L, "B", 2.0), (3L, at(11), 2L, "B", 3.0),
      (90L, at(22), -999L, "zzz", 0.0))
    val post = Seq[Ev](
      (4L, at(13), 3L, "B", 4.0),
      (5L, at(31), 1L, "A", 5.0),
      (91L, at(5000), -999L, "zzz", 0.0))
    val (streamedRaw, batchRaw) = runRestarted("gaps", pre, post, Streams.gapAlerts)
    val flt = (df: DataFrame) => df.where(col("event_type") =!= "zzz")
    val streamed = flt(streamedRaw)
    assertStreamEqBatch(streamed, flt(batchRaw))
    val got = streamed.collect()
      .map(r => (r.getString(0), r.getAs[java.sql.Timestamp]("gap_start"),
        r.getAs[java.sql.Timestamp]("gap_end"), r.getAs[Long]("n_missed"))).sortBy(_._1)
    assert(
      got.toSeq == Seq(("A", at(5), at(30), 5L), ("B", at(5), at(10), 1L)),
      got.mkString(", "))
  }

  test("s_stream_session restart: an open session window extends across the stop (r16)") {
    // user 10's session [0, 40) is OPEN at the stop (watermark 35-30=5
    // min); the post-restart 20-min event is late relative to the
    // sentinel and must MERGE the restored session to [0,50) with n=3 —
    // lost state would emit a split pair of sessions instead
    val pre = Seq[Ev](
      (1L, at(0), 10L, "click", 1.0), (2L, at(10), 10L, "click", 2.0),
      (90L, at(35), -999L, "zzz", 0.0))
    val post = Seq[Ev](
      (3L, at(20), 10L, "click", 3.0),
      (4L, at(100), 11L, "click", 4.0),
      (91L, at(5000), -999L, "zzz", 0.0))
    val (streamedRaw, batchRaw) = runRestarted("session", pre, post, Streams.session)
    val flt = (df: DataFrame) => df.where(col("user_id") > 0)
    val streamed = flt(streamedRaw)
    assertStreamEqBatch(streamed, flt(batchRaw))
    val u10 = streamed.where(col("user_id") === 10L).collect()
    assert(u10.length == 1, u10.mkString(", "))
    assert(
      (u10.head.getAs[java.sql.Timestamp]("session_start"),
        u10.head.getAs[java.sql.Timestamp]("session_end"),
        u10.head.getAs[Long]("n_events")) == ((at(0), at(50), 3L)),
      u10.head.toString)
  }

  test("s_stream_join restart: a buffered click matches a post-restart purchase (r16)") {
    // user 2's click is BUFFERED in the join state at the stop (global
    // watermark = min(40,41)-30 ≈ 10 min < 5+30); the purchase arriving
    // while the query was down must join against the RESTORED buffer —
    // lost state silently drops the (c3, p6) pair
    val pre = Seq[Ev](
      (1L, at(0), 1L, "click", 1.0), (2L, at(10), 1L, "purchase", 2.0),
      (3L, at(5), 2L, "click", 3.0),
      (4L, at(40), 3L, "click", 4.0), (5L, at(41), 3L, "purchase", 5.0))
    val post = Seq[Ev](
      (6L, at(20), 2L, "purchase", 6.0),
      (90L, at(5000), -999L, "click", 0.0), (91L, at(5000), -998L, "purchase", 0.0))
    val (streamedRaw, batchRaw) = runRestarted("join", pre, post, src => Streams.attribution(src, src))
    val flt = (df: DataFrame) => df.where(col("user_id") > 0)
    val streamed = flt(streamedRaw)
    assertStreamEqBatch(streamed, flt(batchRaw))
    val got = streamed.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id")))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1L, 2L), (2L, 3L, 6L), (3L, 4L, 5L)), got.mkString(", "))
  }

  test("s_stream_join_outer restart: buffer match AND watermark-gated null row (r16)") {
    // two restored-state signatures: user 5's buffered click must emit
    // the PAIR with its post-restart purchase (lost buffer → a spurious
    // null row once the watermark passes), and user 2's never-purchased
    // click must emit its null row only AFTER the restart, when the
    // restored watermark machinery advances past click_ts + 30 min
    val pre = Seq[Ev](
      (1L, at(0), 1L, "click", 1.0), (2L, at(10), 1L, "purchase", 2.0),
      (3L, at(5), 2L, "click", 3.0),
      (4L, at(6), 5L, "click", 4.0),
      (5L, at(40), 3L, "click", 5.0), (6L, at(41), 3L, "purchase", 6.0))
    val post = Seq[Ev](
      (7L, at(25), 5L, "purchase", 7.0),
      (8L, at(50), 4L, "click", 8.0), (9L, at(60), 4L, "purchase", 9.0),
      (90L, at(5000), -999L, "click", 0.0), (91L, at(5000), -998L, "purchase", 0.0))
    val (streamedRaw, batchRaw) = runRestarted("joinouter", pre, post, src => Streams.attributionOuter(src, src))
    val flt = (df: DataFrame) => df.where(col("user_id") > 0)
    val streamed = flt(streamedRaw)
    assertStreamEqBatch(streamed, flt(batchRaw))
    val byUser = streamed.collect()
      .map(r => (r.getAs[Long]("user_id"), Option(r.getAs[java.lang.Long]("purchase_id")).map(_.toLong)))
      .sortBy(_._1)
    assert(
      byUser.toSeq == Seq(
        (1L, Some(2L)), (2L, None), (3L, Some(6L)), (4L, Some(9L)), (5L, Some(7L))),
      byUser.mkString(", "))
  }
}
