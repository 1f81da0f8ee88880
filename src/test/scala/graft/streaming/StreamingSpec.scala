package graft.streaming

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming equivalence (SURVEY.md §5.6): the same Streams
  * transform over a MemoryStream must reproduce the batch result; with a
  * watermark, emitted (append-mode) windows must be a correct subset.
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private type Ev = (Long, java.sql.Timestamp, Long, String, Double)

  /** The sf0.001 events under the event-tuple columns: the batch input of
    * the equivalence tests.
    */
  private lazy val batchEvents =
    Tables.events(spark, sf001).select("event_id", "ts", "user_id", "event_type", "value")

  private def eventTuples = batchEvents.as[Ev].collect().sortBy(_._2.getTime)

  /** A fresh MemoryStream of event tuples, and its frame under the
    * columns of [[batchEvents]].
    */
  private def eventStream() = {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Ev]
    (mem, mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))
  }

  test("the mode follows the input: every operator runs on a batch frame, and watermarks a stream") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, LogicalPlan}
    val ops = Seq[(String, DataFrame => DataFrame)](
      "tumbling" -> Streams.tumbling,
      "m4" -> Streams.m4,
      "sliding" -> Streams.sliding,
      "quantileSketch" -> Streams.quantileSketch,
      "session" -> Streams.session,
      "windowDistinct" -> Streams.windowDistinct,
      "dedupEvents" -> Streams.dedupEvents,
      "gapAlerts" -> Streams.gapAlerts,
      "attribution" -> (ev => Streams.attribution(ev, ev)),
      "attributionOuter" -> (ev => Streams.attributionOuter(ev, ev)),
      "sessionizeStateful" -> (ev => Streams.sessionizeStateful(ev).toDF()),
      "ewmaStateful" -> (ev => Streams.ewmaStateful(ev).toDF()),
      "funnelStateful" -> (ev => Streams.funnelStateful(ev).toDF()),
      "anomalyStateful" -> (ev => Streams.anomalyStateful(ev).toDF()))
    // the keyed state folds order events by arrival, not by a watermark
    val unwatermarked = Set("ewmaStateful", "funnelStateful", "anomalyStateful")
    def watermarks(p: LogicalPlan) = p.collect { case w: EventTimeWatermark => w }.length
    val (_, stream) = eventStream()
    ops.foreach { case (name, op) =>
      val batch = op(batchEvents)
      assert(batch.collect().nonEmpty, name)
      assert(watermarks(batch.queryExecution.optimizedPlan) == 0, s"$name: ${batch.queryExecution.optimizedPlan}")
      val streamed = op(stream)
      assert(streamed.isStreaming, name)
      assert((watermarks(streamed.queryExecution.analyzed) > 0) == !unwatermarked(name), name)
    }
  }

  test("streaming HLL registers: incremental chunks converge to batch, state bounded") {
    val (mem, df) = eventStream()
    val q = Streams
      .hllRegisters(df)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("hll_registers_complete")
      .start()
    try {
      // feed in three chunks: registers only ever RISE (max is monotone),
      // and the final state equals the single-pass batch sketch exactly
      val all = eventTuples.toIndexedSeq
      val (c1, rest) = all.splitAt(all.length / 3)
      val (c2, c3) = rest.splitAt(rest.length / 3)
      mem.addData(c1)
      q.processAllAvailable()
      val after1 = spark
        .table("hll_registers_complete")
        .as[(String, Long, Int)]
        .collect()
        .map { case (t, j, m) => (t, j) -> m }
        .toMap
      mem.addData(c2)
      mem.addData(c3)
      q.processAllAvailable()
      val fin = spark.table("hll_registers_complete")
      val finMap = fin
        .as[(String, Long, Int)]
        .collect()
        .map { case (t, j, m) => (t, j) -> m }
        .toMap
      after1.foreach { case (k, m) =>
        assert(finMap(k) >= m, s"register $k must be monotone")
      }
      // sketch state is bounded at m registers per key, independent of rows
      val types = fin.select("event_type").distinct().count()
      assert(fin.count() <= types * 256)
      val batch = Streams.hllRegisters(batchEvents)
      assert(fin.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(fin).count() == 0)
    } finally q.stop()
  }

  test("streaming reservoir: chunk-fed min-k state equals the batch sample exactly") {
    val (mem, df) = eventStream()
    val q = Streams
      .reservoirState(df)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("reservoir_complete")
      .start()
    try {
      // DELIBERATELY unsorted, uneven chunks: the min-k lattice join is
      // order-insensitive, so arrival order must not matter (unlike the
      // watermark-gated tests above)
      val all = eventTuples.toIndexedSeq.sortBy(_._1)
      val (c1, rest) = all.splitAt(all.length / 4)
      val (c2, c3) = rest.splitAt(rest.length / 2)
      mem.addData(c1)
      q.processAllAvailable()
      val after1 = readSample("reservoir_complete")
      mem.addData(c2)
      mem.addData(c3)
      q.processAllAvailable()
      val fin = readSample("reservoir_complete")
      // state is bounded at k entries per type, forever
      assert(fin.groupBy(_._1).forall(_._2.length <= 4))
      // monotone improvement: a type's worst kept priority never rises
      after1.groupBy(_._1).foreach { case (et, g) =>
        if (g.length == 4)
          assert(fin.filter(_._1 == et).map(_._5).max <= g.map(_._5).max)
      }
      // final streaming state ≡ the oracle-checked batch twin, row for row
      val batch = graft.queries.StreamingQueries.reservoir(spark, sf001).collect().map(rowKey)
      assert(fin.sortBy(r => (r._1, r._2)).toSeq == batch.toSeq)
    } finally q.stop()
  }

  private def readSample(table: String) =
    graft.streaming.Streams
      .reservoirSample(spark.table(table))
      .collect()
      .map(rowKey)

  private def rowKey(r: org.apache.spark.sql.Row) =
    (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4))

  test("streaming count-min: chunked feed converges to the exact batch counts") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[String]
    val df = mem.toDF().toDF("text")
    val q = Streams
      .countMinState(df)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("cm_complete")
      .start()
    try {
      val texts = Tables
        .documents(spark, sf001)
        .select("text")
        .as[String]
        .collect()
        .toIndexedSeq
      val (c1, c2) = texts.splitAt(texts.length / 2)
      mem.addData(c1)
      q.processAllAvailable()
      val docs = Tables.documents(spark, sf001)
      val toks = docs
        .select(explode(split($"text", " ")).as("tok"))
        .where($"tok" =!= "")
      val mid = Streams
        .countMinProbe(spark.table("cm_complete"), toks)
        .as[(String, Long)]
        .collect()
        .toMap
      mem.addData(c2)
      q.processAllAvailable()
      val fin = Streams
        .countMinProbe(spark.table("cm_complete"), toks)
        .as[(String, Long)]
        .collect()
        .toMap
      // counters only grow
      mid.foreach { case (t, n) => assert(fin(t) >= n, t) }
      // capacity ≥ vocabulary ⇒ the final sketch answers exactly
      val exact = toks.groupBy("tok").count().as[(String, Long)].collect().toMap
      assert(fin == exact)
    } finally q.stop()
  }

  test("streaming KMV sketch: chunked, duplicate-heavy feed equals the batch estimate") {
    val (mem, df) = eventStream()
    val q = Streams
      .kmvState(df)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("kmv_complete")
      .start()
    try {
      val all = eventTuples.toIndexedSeq
      val (c1, c2) = all.splitAt(all.length / 3)
      mem.addData(c1)
      q.processAllAvailable()
      val after1 = graft.streaming.Streams
        .kmvEstimate(spark.table("kmv_complete"))
        .collect()
        .map(r => r.getString(0) -> r.getLong(2))
        .toMap
      // REPLAY chunk 1 (duplicate users must not occupy extra slots —
      // the squeeze dedup), then the rest
      mem.addData(c1)
      mem.addData(c2)
      q.processAllAvailable()
      val fin = graft.streaming.Streams
        .kmvEstimate(spark.table("kmv_complete"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      // kth hash only ever decreases (min-k lattice is monotone)
      fin.foreach { case (scope, _, kth, _) =>
        after1.get(scope).foreach(k1 => assert(kth <= k1, scope))
      }
      // final state ≡ the oracle-checked batch twin row-for-row
      val batch = graft.queries.StreamingQueries
        .kmv(spark, sf001)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(fin.sortBy(_._1).toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("stateful streaming EWMA equals the batch lag-window, fed in chunks") {
    val (mem, df) = eventStream()
    val q = Streams
      .ewmaStateful(df)
      .toDF()
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("ewma_stream")
      .start()
    try {
      // chunk at (ts, event_id) boundaries so each key's events arrive
      // in order ACROSS triggers (within a trigger the state fn sorts)
      val all = eventTuples.sortBy(t => (t._2.getTime, t._1)).toIndexedSeq
      val (c1, rest) = all.splitAt(all.length / 3)
      val (c2, c3) = rest.splitAt(rest.length / 3)
      Seq(c1, c2, c3).foreach { c => mem.addData(c); q.processAllAvailable() }
      val got = spark
        .table("ewma_stream")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      val want = graft.queries.StreamingQueries
        .ewma(spark, sf001)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.length == want.length)
      assert(got.toSeq == want.toSeq) // ring state carried across triggers exactly
    } finally q.stop()
  }

  test("stateful streaming funnel equals batch, fed in chunks; stages advance once") {
    val (mem, df) = eventStream()
    val q = Streams
      .funnelStateful(df)
      .toDF()
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("funnel_stream")
      .start()
    try {
      val all = eventTuples.sortBy(t => (t._2.getTime, t._1)).toIndexedSeq
      val (c1, rest) = all.splitAt(all.length / 3)
      val (c2, c3) = rest.splitAt(rest.length / 3)
      Seq(c1, c2, c3).foreach { c => mem.addData(c); q.processAllAvailable() }
      val got = spark
        .table("funnel_stream")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2))
      val want = graft.queries.StreamingQueries
        .funnel(spark, sf001)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      assert(got.toSeq == want.toSeq) // funnel state carried across triggers exactly
      // laws: per user stages are distinct and gapless from 1
      got.groupBy(_._1).foreach { case (_, rs) =>
        val stages = rs.map(_._2).sorted
        assert(stages.sameElements(1 to stages.length))
      }
    } finally q.stop()
  }

  test("stateful streaming anomaly equals batch running z-score, fed in chunks") {
    val (mem, df) = eventStream()
    val q = Streams
      .anomalyStateful(df)
      .toDF()
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("anomaly_stream")
      .start()
    try {
      // chunk at (ts, event_id) boundaries so each key's events arrive
      // in order ACROSS triggers (within a trigger the state fn sorts)
      val all = eventTuples.sortBy(t => (t._2.getTime, t._1)).toIndexedSeq
      val (c1, rest) = all.splitAt(all.length / 3)
      val (c2, c3) = rest.splitAt(rest.length / 3)
      Seq(c1, c2, c3).foreach { c => mem.addData(c); q.processAllAvailable() }
      val got = spark
        .table("anomaly_stream")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1)
      val want = graft.queries.StreamingQueries
        .anomaly(spark, sf001)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(got.nonEmpty) // threshold must fire on this fixture
      assert(got.toSeq == want.toSeq) // (n, Σv, Σv²) carried across triggers exactly
      // law: a verdict only after the 30-event warmup of ITS key
      got.foreach { case (_, _, nPrev, z) =>
        assert(nPrev >= 30L)
        assert(math.abs(z) >= 1.5)
      }
    } finally q.stop()
  }

  test("sharded anomaly scan equals the sequential stateful fold row-for-row (r12)") {
    // the scan's range-sliced two-phase prefix must be output-identical
    // to the one-task-per-type fold it replaces — including z DOUBLES
    val scan = Streams
      .anomalyScan(graft.Tables.events(spark, sf001))
      ._1
      .collect()
      .map(r => (r.event_id, r.event_type, r.n_prev, r.z))
      .sortBy(_._1)
    val fold = Streams
      .anomalyStateful(graft.Tables.events(spark, sf001))
      .collect()
      .map(r => (r.event_id, r.event_type, r.n_prev, r.z))
      .sortBy(_._1)
    assert(scan.nonEmpty && scan.toSeq == fold.toSeq)
  }

  test("anomaly scan's scoring adds no shuffle: every exchange outside the pinned slices feeds the offsets broadcast") {
    // the range exchange sits inside the pinned slices (an RDD scan) and
    // the offsets' exchanges inside the broadcast; scoring must be a
    // per-row map over the slices joined to the broadcast — a shuffle
    // there would break the scale claim. AQE off: with it on, the plan
    // is one AdaptiveSparkPlanExec leaf and a collect would find nothing
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    def outsideBroadcast(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: BroadcastExchangeLike => Nil
      case _ => p +: p.children.flatMap(outsideBroadcast)
    }
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val plan = Streams.anomalyScan(graft.Tables.events(spark, sf001))._1.queryExecution.executedPlan
      assert(plan.collect { case b: BroadcastExchangeLike => b }.nonEmpty, plan.toString)
      assert(!outsideBroadcast(plan).exists(_.isInstanceOf[ShuffleExchangeLike]), plan.toString)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("anomaly scan deployed via foreachBatch: streamed micro-batches equal the whole-corpus scan (r12)") {
    // the documented streaming shape END-TO-END: readStream -> foreachBatch
    // scans each micro-batch with the previous batch's carry; the union of
    // emitted rows must equal one whole-corpus scan
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Double)]
    var carry = Map.empty[String, graft.streaming.AnomalyState]
    val q = df.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (rows, next) = Streams.anomalyScan(batch, carry)
        emitted.synchronized {
          emitted ++= rows.collect().map(r => (r.event_id, r.event_type, r.n_prev, r.z))
        }
        carry = next
      }
      .start()
    try {
      val all = graft.Tables
        .events(spark, sf001)
        .select("event_id", "ts", "event_type", "value")
        .as[(Long, java.sql.Timestamp, String, Double)]
        .collect()
        .sortBy(t => (t._2.getTime, t._1))
        .toIndexedSeq
      val (c1, rest) = all.splitAt(all.length / 3)
      val (c2, c3) = rest.splitAt(rest.length / 3)
      Seq(c1, c2, c3).foreach { c => mem.addData(c); q.processAllAvailable() }
      val whole = Streams
        .anomalyScan(graft.Tables.events(spark, sf001))
        ._1
        .collect()
        .map(r => (r.event_id, r.event_type, r.n_prev, r.z))
        .sortBy(_._1)
      assert(whole.nonEmpty)
      assert(emitted.sortBy(_._1).toSeq == whole.toSeq)
    } finally q.stop()
  }

  test("property: random frames — anomaly scan equals the stateful fold across partitionings (r12)") {
    // the offset algebra must hold for ANY slice boundaries: random
    // value distributions, skewed type frequencies, and a different
    // input partitioning per trial (range boundaries resample)
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    (1 to 3).foreach { trial =>
      val n = 400 + rnd.nextInt(800)
      val nTypes = 1 + rnd.nextInt(4)
      val rows = (0 until n).map { i =>
        val typ = s"t${if (rnd.nextBoolean()) 0 else rnd.nextInt(nTypes)}" // skew to t0
        (i.toLong, new java.sql.Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L),
          typ, rnd.nextDouble() * 100 - 50)
      }
      val df = rows
        .toDF("event_id", "ts", "event_type", "value")
        .repartition(1 + rnd.nextInt(13))
      val scan = Streams
        .anomalyScan(df)
        ._1
        .collect()
        .map(r => (r.event_id, r.event_type, r.n_prev, r.z))
        .sortBy(_._1)
      val fold = Streams
        .anomalyStateful(df)
        .collect()
        .map(r => (r.event_id, r.event_type, r.n_prev, r.z))
        .sortBy(_._1)
      assert(scan.toSeq == fold.toSeq, s"trial $trial n=$n types=$nTypes")
    }
  }

  test("anomaly scan carry composes across chronological chunks (the foreachBatch shape, r12)") {
    import org.apache.spark.sql.functions.col
    val ev = graft.Tables.events(spark, sf001)
    val bounds = ev
      .selectExpr("ts", "event_id")
      .orderBy("ts", "event_id")
      .collect()
    val cut1 = bounds(bounds.length / 3)
    val cut2 = bounds(2 * bounds.length / 3)
    def upTo(c: org.apache.spark.sql.Row) =
      col("ts") < c.getTimestamp(0) ||
        (col("ts") === c.getTimestamp(0) && col("event_id") <= c.getLong(1))
    val chunks = Seq(
      ev.where(upTo(cut1)),
      ev.where(!upTo(cut1) && upTo(cut2)),
      ev.where(!upTo(cut2)))
    var carry = Map.empty[String, graft.streaming.AnomalyState]
    val pieces = chunks.map { c =>
      val (rows, next) = Streams.anomalyScan(c, carry)
      carry = next
      rows.collect().map(r => (r.event_id, r.event_type, r.n_prev, r.z))
    }
    val whole = Streams
      .anomalyScan(ev)
      ._1
      .collect()
      .map(r => (r.event_id, r.event_type, r.n_prev, r.z))
      .sortBy(_._1)
    assert(pieces.flatten.sortBy(_._1).toSeq == whole.toSeq)
    // and the final carry equals the whole-run carry (state composition)
    assert(carry == Streams.anomalyScan(ev)._2)
  }

  test("streaming space-saving top-k: estimates monotone, converges to exact batch counts") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[String]
    val df = mem.toDF().toDF("text")
    val q = Streams
      .topkTokens(df)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("topk_stream")
      .start()
    try {
      val texts = Tables
        .documents(spark, sf001)
        .select("text")
        .as[String]
        .collect()
        .toIndexedSeq
      val (c1, rest) = texts.splitAt(texts.length / 3)
      mem.addData(c1)
      q.processAllAvailable()
      val after1 = spark.table("topk_stream").as[(String, Long)].collect().toMap
      assert(after1.nonEmpty)
      mem.addData(rest)
      q.processAllAvailable()
      val fin = spark.table("topk_stream").as[(String, Long)].collect().toMap
      // Space-Saving estimates never shrink as the stream grows
      after1.foreach { case (t, e) => assert(fin.getOrElse(t, 0L) >= e, t) }
      // capacity (256) ≥ vocabulary: the final streaming state IS the
      // exact count table — the same property the batch oracle certifies
      val batch = Tables
        .documents(spark, sf001)
        .select(explode(split($"text", " ")).as("tok"))
        .where($"tok" =!= "")
        .groupBy("tok")
        .count()
        .as[(String, Long)]
        .collect()
        .toMap
      assert(fin == batch)
    } finally q.stop()
  }

  test("streaming gap alerts equal the batch twin, fed in chunks (r12)") {
    val (mem, df) = eventStream()
    val q = Streams
      .gapAlerts(df)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("gaps_stream")
      .start()
    try {
      // one far-future sentinel per type flushes the watermark past every
      // fixture window, so all real windows finalize; the sentinel's own
      // giant gap appears in BOTH forms (the batch twin runs on the same
      // sentinel-extended input), keeping the comparison exactly 1:1
      // chronological chunks: a disordered split would have chunk b's
      // early events land behind chunk a's watermark and drop as late —
      // a test artifact, not the semantics under test
      val evs = eventTuples.toIndexedSeq.sortBy(_._2.getTime)
      val maxTs = evs.map(_._2.getTime).max
      val sentinels = evs.map(_._4).distinct.zipWithIndex.map { case (et, i) =>
        (900000L + i, new java.sql.Timestamp(maxTs + 86400000L), 0L, et, 0.0)
      }
      val (a, b) = evs.splitAt(evs.length / 2)
      mem.addData(a)
      q.processAllAvailable()
      mem.addData(b)
      q.processAllAvailable()
      mem.addData(sentinels)
      q.processAllAvailable()
      // compare pre-sentinel gaps only: the gap INTO each sentinel exists
      // in the batch twin but the sentinel's own window can never
      // finalize in streaming (nothing flows past it) — the declared
      // trailing-open-outage exclusion, here induced by the flush rows
      val cutoff = new java.sql.Timestamp(maxTs)
      val streamed = spark.table("gaps_stream").where(col("gap_end") <= lit(cutoff))
      val batch = Streams
        .gapAlerts(batchEvents.unionByName(sentinels.toDF("event_id", "ts", "user_id", "event_type", "value")))
        .where(col("gap_end") <= lit(cutoff))
      assert(streamed.count() > 0, "fixture must contain at least one gap")
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streaming tumbling (complete mode) equals batch") {
    val (mem, df) = eventStream()
    val q = Streams
      .tumbling(df)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("tumbling_complete")
      .start()
    try {
      mem.addData(eventTuples.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("tumbling_complete")
      val batch = Streams.tumbling(batchEvents)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streaming M4 equals batch, fed in chunks — extrema state merges across triggers (r12)") {
    val (mem, df) = eventStream()
    val q = Streams
      .m4(df)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("m4_complete")
      .start()
    try {
      // two chunks: the second trigger must MERGE min_by/max_by state
      // into windows the first already opened — equality proves the
      // declarative extrema buffers are merge-correct, not just one-pass
      val evs = eventTuples.toIndexedSeq
      val (a, b) = evs.splitAt(evs.length / 2)
      mem.addData(a)
      q.processAllAvailable()
      mem.addData(b)
      q.processAllAvailable()
      val streamed = spark.table("m4_complete")
      val batch = Streams.m4(batchEvents)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streaming windowed quantile sketch equals batch, fed in chunks (r10)") {
    val (mem, df) = eventStream()
    val q = Streams
      .quantileSketch(df)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("quantile_complete")
      .start()
    try {
      // two chunks: the second trigger MERGES sketch state into windows
      // the first already opened — exact equality below proves the
      // log-histogram's merge ≡ one-pass property end to end
      val evs = eventTuples.toIndexedSeq
      val (a, b) = evs.splitAt(evs.length / 2)
      mem.addData(a)
      q.processAllAvailable()
      mem.addData(b)
      q.processAllAvailable()
      val streamed = spark.table("quantile_complete")
      val batch = Streams.quantileSketch(batchEvents)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streaming tumbling with watermark emits finalized windows (append mode)") {
    val (mem, df) = eventStream()
    val q = Streams
      .tumbling(df)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("tumbling_append")
      .start()
    try {
      val evs = eventTuples
      mem.addData(evs.toIndexedSeq)
      q.processAllAvailable()
      // advance the watermark far past the data to flush remaining windows
      val maxTs = evs.map(_._2.getTime).max
      mem.addData((-1L, new java.sql.Timestamp(maxTs + 3600L * 1000), 0L, "sentinel", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("tumbling_append")
      val batch = Streams.tumbling(batchEvents)
      // all original windows must have been emitted exactly once
      assert(streamed.where($"event_type" =!= "sentinel").exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streaming sliding windows with watermark equal batch sliding windows") {
    val (mem, df) = eventStream()
    val q = Streams
      .sliding(df)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sliding_append")
      .start()
    try {
      val evs = eventTuples
      mem.addData(evs.toIndexedSeq)
      q.processAllAvailable()
      val maxTs = evs.map(_._2.getTime).max
      mem.addData((-1L, new java.sql.Timestamp(maxTs + 3600L * 1000), 0L, "sentinel", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sliding_append")
      val batch = Streams.sliding(batchEvents)
      // every batch window (incl. both overlapping windows per event) must
      // have been emitted exactly once after the watermark passed it
      assert(streamed.where($"event_type" =!= "sentinel").exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("foreachBatch object-sink stream uploads every micro-batch (R10 streaming twin)") {
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_stream_bucket").toFile
    val mem = MemoryStream[(String, Array[Byte])]
    val df = mem.toDF().toDF("object_key", "content")
    var batches = Vector.empty[(Long, Long, Long)]
    val q = graft.streaming.Streams
      .objectSinkStream(
        df,
        new graft.sinks.HadoopFsStore(s"file://${root.getAbsolutePath}"),
        "object_key",
        "content",
        "image/jpg") { (id, ok, failed) => batches :+= ((id, ok, failed)) }
      .start()
    try {
      mem.addData(("Lite/1/2/3", "tile-1-2-3".getBytes("UTF-8")))
      q.processAllAvailable()
      mem.addData(("Lite/4/5/6", "tile-4-5-6".getBytes("UTF-8")))
      q.processAllAvailable()
      assert(batches.map(b => (b._2, b._3)) == Vector((1L, 0L), (1L, 0L)))
      Seq("Lite/1/2/3" -> "tile-1-2-3", "Lite/4/5/6" -> "tile-4-5-6").foreach { case (k, v) =>
        val f = new java.io.File(root, k)
        assert(f.exists(), k)
        assert(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8") == v)
        assert(new java.io.File(root, s"_meta/$k").exists(), s"sidecar for $k")
      }
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event_ids across triggers") {
    val (mem, df) = eventStream()
    val q = Streams
      .dedupEvents(df)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("dedup_append")
      .start()
    try {
      val evs = eventTuples.take(500)
      mem.addData(evs.toIndexedSeq)
      q.processAllAvailable()
      // re-send the same 500 events (an at-least-once source retrying),
      // plus 100 genuinely new ones
      val more = eventTuples.slice(500, 600)
      mem.addData((evs ++ more).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("dedup_append")
      assert(got.count() == 600)
      assert(got.select("event_id").distinct().count() == 600)
    } finally q.stop()
  }

  test("stream-stream attribution join emits exactly the batch pairs") {
    val (mem, df) = eventStream()
    // one source branched into two watermarked sides (a supported
    // stream-stream self-join); the range predicate bounds both buffers
    val q = Streams
      .attribution(df, df)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("attribution_append")
      .start()
    try {
      val evs = eventTuples
      mem.addData(evs.toIndexedSeq)
      q.processAllAvailable()
      // advance both watermarks far past the data so every buffered
      // click/purchase pair has been resolved and emitted
      val maxTs = evs.map(_._2.getTime).max
      mem.addData((-1L, new java.sql.Timestamp(maxTs + 7200L * 1000), 0L, "sentinel", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("attribution_append")
      val batch = Streams.attribution(batchEvents, batchEvents)
      assert(batch.count() > 0, "fixture must produce at least one attribution pair")
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("left-outer attribution join emits null rows once the watermark passes") {
    val (mem, df) = eventStream()
    val q = Streams
      .attributionOuter(df, df)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("attribution_outer_append")
      .start()
    try {
      val evs = eventTuples
      mem.addData(evs.toIndexedSeq)
      q.processAllAvailable()
      // a null row may only emit after the GLOBAL watermark (min across
      // both sides' watermark nodes) passes click_ts + 30 min. The
      // sentinels must survive the event_type filters that precede the
      // watermark nodes, so send one far-future click AND purchase for a
      // user id that matches nothing; the sentinel click's own null row
      // stays buffered forever (the watermark never passes IT), so it
      // never reaches the output.
      val maxTs = evs.map(_._2.getTime).max
      mem.addData(
        (-1L, new java.sql.Timestamp(maxTs + 7200L * 1000), -999L, "click", 0.0),
        (-2L, new java.sql.Timestamp(maxTs + 7200L * 1000), -998L, "purchase", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("attribution_outer_append")
      val batch = Streams.attributionOuter(batchEvents, batchEvents)
      assert(
        batch.where(col("purchase_id").isNull).count() > 0,
        "fixture must contain at least one unattributed click")
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("stream-static near-dup guard: chunk-fed candidates equal the batch twin (r11)") {
    implicit val ctx = spark.sqlContext
    // static side: the persisted capped corpus band index (src0-src9);
    // stream side: the new-batch docs (src10-src19) fed in three chunks —
    // the daily-ingest shape of q_dedup_near_incremental as a stream
    val d = Tables.documents(spark, sf001)
    val corpusIdx = graft.queries.LlmOps
      .cappedBandIndex(d.where(length(col("source")) === 4))
      .localCheckpoint() // static frames re-evaluate per micro-batch; pin it
    val batchDocs = d
      .where(length(col("source")) === 5)
      .select("doc_id", "text")
      .as[(Long, String)]
      .collect()
      .sortBy(_._1)
      .toIndexedSeq
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val q = Streams
      .nearDupCandidates(df, corpusIdx)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("neardup_append")
      .start()
    try {
      val (c1, rest) = batchDocs.splitAt(batchDocs.length / 3)
      val (c2, c3) = rest.splitAt(rest.length / 3)
      mem.addData(c1); q.processAllAvailable()
      mem.addData(c2); q.processAllAvailable()
      mem.addData(c3); q.processAllAvailable()
      val streamed = spark.table("neardup_append")
      val batch = graft.queries.StreamingQueries.dedupNear(spark, sf001)
      assert(batch.count() > 0, "fixture must produce at least one candidate pair")
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
      // dropDuplicates state holds only id pairs: re-feeding a chunk adds
      // NO new output rows (the at-least-once ingest re-delivery case)
      val before = streamed.count()
      mem.addData(c1); q.processAllAvailable()
      assert(spark.table("neardup_append").count() == before)
    } finally q.stop()
  }

  test("watermarked near-dup guard: suppression within the window, state evicted after (r12)") {
    implicit val ctx = spark.sqlContext
    // continuous-trigger deployment shape: candidate-pair dedup state is
    // bounded by the watermark window — re-delivery WITHIN the window is
    // suppressed, re-delivery AFTER eviction re-emits (the documented
    // trade of nearDupCandidatesWatermarked)
    val d = Tables.documents(spark, sf001)
    val corpusIdx = graft.queries.LlmOps
      .cappedBandIndex(d.where(length(col("source")) === 4))
      .localCheckpoint()
    val someDocs = d
      .where(length(col("source")) === 5)
      .select("doc_id", "text")
      .as[(Long, String)]
      .collect()
      .sortBy(_._1)
      .toIndexedSeq
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = Streams
      .nearDupCandidatesWatermarked(df, corpusIdx, "ingest_ts", "30 minutes")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("neardup_wm")
      .start()
    try {
      // chunk 1 at t=0
      mem.addData(someDocs.map(dc => (dc._1, dc._2, ts(0))))
      q.processAllAvailable()
      val base = spark.table("neardup_wm").count()
      assert(base > 0, "fixture must produce candidate pairs")
      // re-delivery at t=10 (inside the 30-min window): suppressed
      mem.addData(someDocs.map(dc => (dc._1, dc._2, ts(10))))
      q.processAllAvailable()
      assert(spark.table("neardup_wm").count() == base, "within-watermark re-delivery must dedup")
      // advance the watermark far past t=10 + 30min with a later doc,
      // then re-deliver: state was evicted, pairs re-emit
      mem.addData(Seq((someDocs.head._1, someDocs.head._2, ts(600))))
      q.processAllAvailable()
      val afterAdvance = spark.table("neardup_wm").count()
      mem.addData(someDocs.map(dc => (dc._1, dc._2, ts(610))))
      q.processAllAvailable()
      assert(
        spark.table("neardup_wm").count() > afterAdvance,
        "post-eviction re-delivery must re-emit (state bounded by the window)")
    } finally q.stop()
  }

  test("stream-static enrichment join equals the batch join") {
    val (mem, df) = eventStream()
    val q = Streams
      .enrich(df, Tables.customer(spark, sf001))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("enrich_append")
      .start()
    try {
      mem.addData(eventTuples.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("enrich_append")
      val batch = Streams.enrich(batchEvents, Tables.customer(spark, sf001))
      assert(batch.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("flatMapGroupsWithState streaming sessionize equals batch sessionize") {
    val (mem, df) = eventStream()
    val q = Streams
      .sessionizeStateful(df)
      .toDF()
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("session_state_append")
      .start()
    try {
      val evs = eventTuples
      mem.addData(evs.toIndexedSeq)
      q.processAllAvailable()
      // two watermark advances: the first lets gap-closed sessions time
      // out, the second times out sessions that ended near max ts
      val maxTs = evs.map(_._2.getTime).max
      mem.addData((-1L, new java.sql.Timestamp(maxTs + 24L * 3600 * 1000), -999L, "sentinel", 0.0))
      q.processAllAvailable()
      mem.addData((-2L, new java.sql.Timestamp(maxTs + 48L * 3600 * 1000), -999L, "sentinel", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("session_state_append").where($"user_id" =!= -999L)
      val batch = graft.queries.StreamingQueries.sessionStateful(spark, sf001)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streaming session windows equal batch session windows") {
    val (mem, df) = eventStream()
    val q = Streams
      .session(df)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("session_append")
      .start()
    try {
      val evs = eventTuples
      mem.addData(evs.toIndexedSeq)
      q.processAllAvailable()
      val maxTs = evs.map(_._2.getTime).max
      mem.addData((-1L, new java.sql.Timestamp(maxTs + 24L * 3600 * 1000), 0L, "sentinel", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("session_append").where($"n_events" > 0)
      val batch = Streams.session(batchEvents)
      val missing = batch.exceptAll(streamed.select("user_id", "session_start", "session_end", "n_events"))
      assert(missing.count() == 0)
    } finally q.stop()
  }

  test("checkpointed query resumes across restart with no loss or duplication") {
    // exactly-once recovery: a file-source stream with a checkpoint is
    // stopped mid-stream and restarted as a NEW query; the sink must end
    // up with every input row exactly once — the property that makes a
    // 100 TB streaming ingest operable (crash = restart, not replay-audit)
    val root = java.nio.file.Files.createTempDirectory("graft_resume")
    val srcDir = root.resolve("src").toString
    val ckpt = root.resolve("ckpt").toString
    val schema = "event_id BIGINT, user_id BIGINT, value DOUBLE"
    val evs = eventTuples.map(t => (t._1, t._3, t._5))
    def writeBatchFile(part: Seq[(Long, Long, Double)]): Unit =
      part.toDF("event_id", "user_id", "value")
        .coalesce(1).write.mode("append").json(srcDir)
    writeBatchFile(evs.take(400).toSeq)
    def startQuery() = spark.readStream
      .schema(schema)
      .json(srcDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,6)")).as("s"))
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .format("memory")
      .queryName("resume_agg")
      .start()
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    // more data lands while the query is DOWN
    writeBatchFile(evs.drop(400).toSeq)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val got = spark.table("resume_agg")
      val want = evs.toSeq
        .toDF("event_id", "user_id", "value")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,6)")).as("s"))
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
      // totals prove no row was lost or double-counted across the restart
      assert(got.agg(sum(col("n"))).head().getLong(0) == evs.length.toLong)
    } finally q2.stop()
  }

  test("checkpointed sessionize restart: open AND closed-marker state survive (r8)") {
    // kill-and-resume for the STATEFUL path (round-7 verdict ask #7): the
    // flatMapGroupsWithState session query is stopped mid-stream and
    // restarted from its checkpoint as a new query; the union of rows
    // emitted before and after the restart must equal the uninterrupted
    // batch run. Two state classes cross the restart: user 7's OPEN
    // session (its continuation event must extend session 1, not open a
    // fresh one) and user 8's CLOSED marker (it returns after a pre-
    // restart timeout and must get session 2, not a duplicate 1).
    val root = java.nio.file.Files.createTempDirectory("graft_sess_resume")
    val srcDir = root.resolve("src").toString
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:00:00").getTime
    def at(minutes: Long) = new java.sql.Timestamp(t0 + minutes * 60000L)
    def writeFile(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").json(srcDir)
    // parquet FILE sink, not memory: append-mode memory sinks refuse
    // checkpoint recovery, and the file sink's commit log additionally
    // makes the restart exactly-once (a replayed micro-batch would be
    // deduplicated) — the operable 100 TB shape
    def startQuery() =
      Streams
        .sessionizeStateful(spark.readStream.schema(schema).json(srcDir))
        .toDF()
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .format("parquet")
        .start()
    // Exact-minute watermark arithmetic makes the pre-restart timeout
    // deterministic: sentinel at 63min → watermark 33min, which fires
    // user 8's timeout (last 2min + 30min gap = 32 < 33) but NOT
    // user 7's (last 5min + 30min = 35 > 33).
    writeFile(Seq(
      (1L, at(0), 7L, "click", 1.0),
      (2L, at(5), 7L, "click", 2.0),
      (3L, at(2), 8L, "click", 5.0),
      (4L, at(63), -999L, "sentinel", 0.0)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    // while the query is DOWN: user 7 continues session 1 (34min − 5min
    // = 29min < gap; and 34min > watermark 33min so it is not late),
    // user 8 returns into session 2, and a far sentinel times out every
    // open session so the streaming output is complete
    writeFile(Seq(
      (5L, at(34), 7L, "click", 3.0),
      (6L, at(40), 8L, "click", 7.0),
      (7L, at(5000), -999L, "sentinel", 0.0)))
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
    } finally q2.stop()
    val streamedDf = spark.read.parquet(outDir).where(col("user_id") > 0).cache()
    val streamed = streamedDf.collect().toSeq
    // session CONTINUATION across the restart: user 7 emits exactly one
    // session, with all 3 events (2 pre-restart + 1 post)
    val u7 = streamed.filter(_.getLong(0) == 7L)
    assert(u7.map(r => (r.getLong(1), r.getLong(4))) == Seq((1L, 3L)), u7.mkString(", "))
    // the CLOSED-marker state also survived: user 8's second session
    // carries the marker's counter (2), alongside its pre-restart session 1
    val u8 = streamed.filter(_.getLong(0) == 8L).sortBy(_.getLong(1))
    assert(u8.map(r => (r.getLong(1), r.getLong(4))) == Seq((1L, 1L), (2L, 1L)), u8.mkString(", "))
    // full-row identity: streamed-across-restart ≡ the uninterrupted
    // batch run (real users only: the sentinel user's final session
    // never times out, by design)
    val batchDf = Streams
      .sessionizeStateful(spark.read.schema(schema).json(srcDir))
      .toDF()
      .where(col("user_id") > 0)
    assert(
      streamedDf.exceptAll(batchDf).count() == 0 &&
        batchDf.exceptAll(streamedDf).count() == 0,
      s"streamed=${streamed.mkString("; ")}")
    streamedDf.unpersist()
  }

  test("checkpointed funnel restart: mid-funnel AND completed state survive (r10)") {
    // kill-and-resume for the funnel (round-9 verdict ask #4): the
    // flatMapGroupsWithState funnel query is stopped mid-stream and
    // restarted from its checkpoint as a NEW query. Three state classes
    // cross the restart, each with a distinct failure signature if state
    // were lost:
    //  - user 7 is MID-FUNNEL (stage 1): their post-restart click+purchase
    //    must advance 2→3. Lost state would leave stage 0, where a click
    //    matches nothing — u7 would emit NO post-restart rows.
    //  - user 8 is COMPLETED (stage 3): their post-restart view must emit
    //    NOTHING. Lost state would restart the funnel and emit stage 1.
    //  - user 9 is at stage 1: a second view must not re-advance. Lost
    //    state would emit a duplicate stage-1 row.
    val root = java.nio.file.Files.createTempDirectory("graft_funnel_resume")
    val srcDir = root.resolve("src").toString
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:00:00").getTime
    def at(minutes: Long) = new java.sql.Timestamp(t0 + minutes * 60000L)
    def writeFile(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").json(srcDir)
    // parquet FILE sink + checkpoint = the exactly-once restart shape
    // (same rationale as the sessionize restart test above)
    def startQuery() =
      Streams
        .funnelStateful(spark.readStream.schema(schema).json(srcDir))
        .toDF()
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .format("parquet")
        .start()
    writeFile(Seq(
      (1L, at(0), 7L, "view", 1.0),
      (2L, at(1), 8L, "view", 1.0),
      (3L, at(2), 8L, "click", 1.0),
      (4L, at(3), 8L, "purchase", 1.0),
      (5L, at(4), 9L, "view", 1.0)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    // more events land while the query is DOWN
    writeFile(Seq(
      (6L, at(10), 7L, "click", 1.0),
      (7L, at(11), 7L, "purchase", 1.0),
      (8L, at(12), 8L, "view", 1.0),
      (9L, at(13), 9L, "view", 1.0)))
    val q2 = startQuery()
    try q2.processAllAvailable()
    finally q2.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(
      streamed == Seq(
        (7L, 1, 1L), (7L, 2, 6L), (7L, 3, 7L),
        (8L, 1, 2L), (8L, 2, 3L), (8L, 3, 4L),
        (9L, 1, 5L)),
      streamed.mkString("; "))
    // cross-check vs the uninterrupted batch run over the union of files
    val batch = Streams
      .funnelStateful(spark.read.schema(schema).json(srcDir))
      .toDF()
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("checkpointed anomaly restart: running moments survive a stop/start (r10)") {
    // kill-and-resume for the online z-score detector: state is the
    // running (n, Σv, Σv²) per event type. Two state classes cross the
    // restart, each with a distinct failure signature if state were lost:
    //  - type "m" is PAST WARMUP (35 events) with a pre-restart alert;
    //    its post-restart outlier must alert with n_prev = 35 (the full
    //    history). Lost state would leave n = 1 < 30 — no alert at all.
    //  - type "k" is MID-WARMUP (25 events < 30); its post-restart
    //    normals push the count across the threshold and the outlier
    //    must alert with n_prev = 30 — proving the COUNT accumulated
    //    across the restart rather than restarting from 0.
    val root = java.nio.file.Files.createTempDirectory("graft_anom_resume")
    val srcDir = root.resolve("src").toString
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:00:00").getTime
    def at(minutes: Long) = new java.sql.Timestamp(t0 + minutes * 60000L)
    def writeFile(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").json(srcDir)
    def startQuery() =
      Streams
        .anomalyStateful(spark.readStream.schema(schema).json(srcDir))
        .toDF()
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .format("parquet")
        .start()
    // alternating 9/11 gives exact fixed-point mean 10, variance 1 —
    // value 20 is a z = 10 outlier
    def alt(i: Int): Double = if (i % 2 == 0) 9.0 else 11.0
    var id = 0L
    def next(): Long = { id += 1; id }
    val preM = (0 until 34).map(i => (next(), at(i), 1L, "m", alt(i))) :+
      ((next(), at(40), 1L, "m", 20.0)) // alert #1: n_prev = 34
    val preK = (0 until 25).map(i => (next(), at(i), 2L, "k", alt(i)))
    writeFile(preM ++ preK)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    // while DOWN: m gets one more outlier; k crosses warmup then spikes
    val postM = Seq((next(), at(50), 1L, "m", 20.0)) // alert #2: n_prev = 35
    val postK = (0 until 5).map(i => (next(), at(30 + i), 2L, "k", alt(i + 1))) :+
      ((next(), at(40), 2L, "k", 20.0)) // alert: n_prev = 30
    writeFile(postM ++ postK)
    val q2 = startQuery()
    try q2.processAllAvailable()
    finally q2.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val mAlerts = streamed.filter(_._2 == "m").map(t => t._3)
    val kAlerts = streamed.filter(_._2 == "k").map(t => t._3)
    assert(mAlerts == Seq(34L, 35L), s"m=$mAlerts")
    assert(kAlerts == Seq(30L), s"k=$kAlerts")
    // cross-check vs the uninterrupted batch run over the union of files
    val batch = Streams
      .anomalyStateful(spark.read.schema(schema).json(srcDir))
      .toDF()
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("stateful sessionize continues session ids after a timeout-closed session") {
    val (mem, df) = eventStream()
    val q = Streams
      .sessionizeStateful(df)
      .toDF()
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("session_resume_append")
      .start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:00:00").getTime
      def at(minutes: Long) = new java.sql.Timestamp(t0 + minutes * 60000L)
      // session 1 for user 7, then advance the watermark far enough for
      // EventTimeTimeout to close it (state becomes the closed marker)
      mem.addData((1L, at(0), 7L, "click", 1.0), (2L, at(5), 7L, "click", 1.0))
      q.processAllAvailable()
      mem.addData((3L, at(24 * 60), -999L, "sentinel", 0.0))
      q.processAllAvailable()
      // the user RETURNS after the timeout: this must be session 2, not a
      // duplicate session 1 (the batch oracle numbers cumulatively)
      mem.addData((4L, at(25 * 60), 7L, "click", 1.0))
      q.processAllAvailable()
      mem.addData((5L, at(72 * 60), -999L, "sentinel", 0.0))
      q.processAllAvailable()
      val got = spark
        .table("session_resume_append")
        .where($"user_id" === 7L)
        .orderBy("session_id")
        .collect()
        .map(r => (r.getLong(1), r.getLong(4)))
      assert(got.toSeq == Seq((1L, 2L), (2L, 1L)), got.mkString(", "))
    } finally q.stop()
  }

  test("streaming CDC latest-wins converges to the batch table, fed incrementally") {
    val (mem, df) = eventStream()
    val q = Streams
      .cdcLatest(df)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("cdc_latest_complete")
      .start()
    try {
      // two chunks, deliberately NOT time-ordered across the split: the
      // second chunk contains earlier versions of some keys — they must
      // lose the version comparison, never regress the materialization
      val (chunk1, chunk2) = eventTuples.zipWithIndex.partition(_._2 % 3 != 0)
      mem.addData(chunk1.map(_._1).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(chunk2.map(_._1).toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("cdc_latest_complete")
      val batch = Streams.cdcLatest(batchEvents)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streaming windowed distinct (complete mode) equals batch") {
    val (mem, df) = eventStream()
    val q = Streams
      .windowDistinct(df)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("window_distinct_complete")
      .start()
    try {
      mem.addData(eventTuples.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("window_distinct_complete")
      val batch = Streams.windowDistinct(batchEvents)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("windowed distinct chains two stateful ops under a watermark (append mode)") {
    val (mem, df) = eventStream()
    val q = Streams
      .windowDistinct(df)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("window_distinct_append")
      .start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:00:00").getTime
      def at(minutes: Long) = new java.sql.Timestamp(t0 + minutes * 60000L)
      // user 7 appears twice in the same window (must count once), user 8
      // once; then a far-future sentinel finalizes the window
      mem.addData(
        (1L, at(0), 7L, "click", 1.0),
        (2L, at(2), 7L, "view", 1.0),
        (3L, at(3), 8L, "click", 1.0))
      q.processAllAvailable()
      mem.addData((4L, at(60), -999L, "sentinel", 0.0))
      q.processAllAvailable()
      val got = spark
        .table("window_distinct_append")
        .where(col("ws") === at(0))
        .collect()
      assert(got.length == 1 && got.head.getLong(2) == 2L, got.mkString(", "))
    } finally q.stop()
  }

  // ------------------------------------------------------------------
  // Checkpointed stop/start for the SKETCH-STATE streams (r14 ask #2):
  // only funnel/sessionize/anomaly had end-to-end restart tests, so the
  // r14 versioned buffers (GMK/GCM) had never crossed a REAL state-store
  // restore. Pattern: file-source stream + checkpoint, stop mid-stream,
  // more data lands while DOWN, restart as a NEW query; the final state
  // must equal the uninterrupted batch run over everything — the lattice
  // (max / min-k / counter-add) replay argument, now proven through the
  // restore path, not just chunk feeding.
  // ------------------------------------------------------------------

  /** Drives `transform` over a checkpointed json file stream in complete
    * mode with a stop/start in the middle; returns the post-restart
    * memory table (reader must compare against the batch twin).
    */
  private def restartComplete(
      tag: String,
      rows: Seq[(Long, Long, String)], // (event_id, user_id, event_type)
      splitAt: Int)(transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_restart_$tag")
    val srcDir = root.resolve("src").toString
    val ckpt = root.resolve("ckpt").toString
    val schema = "event_id BIGINT, user_id BIGINT, event_type STRING"
    def writeFile(part: Seq[(Long, Long, String)]): Unit =
      part.toDF("event_id", "user_id", "event_type")
        .coalesce(1).write.mode("append").json(srcDir)
    def startQuery() = transform(spark.readStream.schema(schema).json(srcDir))
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .format("memory")
      .queryName(s"restart_$tag")
      .start()
    writeFile(rows.take(splitAt))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    writeFile(rows.drop(splitAt)) // lands while the query is DOWN
    val q2 = startQuery()
    try q2.processAllAvailable()
    finally q2.stop()
    spark.table(s"restart_$tag")
  }

  private def restartRows: Seq[(Long, Long, String)] =
    eventTuples.toIndexedSeq.map(t => (t._1, t._3, t._4))

  test("checkpointed HLL register restart: restored registers equal the uninterrupted batch (r15)") {
    val rows = restartRows
    val got = restartComplete("hll", rows, rows.length / 2)(Streams.hllRegisters(_))
    val want = Streams.hllRegisters(rows.toDF("event_id", "user_id", "event_type"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("checkpointed KMV restart: the GMK MinK buffer survives a real state-store restore (r15)") {
    val rows = restartRows
    val got = Streams.kmvEstimate(
      restartComplete("kmv", rows, rows.length / 2)(Streams.kmvState(_)))
    val want = Streams.kmvEstimate(
      Streams.kmvState(rows.toDF("event_id", "user_id", "event_type")))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("checkpointed reservoir restart: the min-k sample survives a real state-store restore (r15)") {
    val rows = restartRows
    val got = Streams.reservoirSample(
      restartComplete("reservoir", rows, rows.length / 2)(Streams.reservoirState(_)))
    val want = Streams.reservoirSample(
      Streams.reservoirState(rows.toDF("event_id", "user_id", "event_type")))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("checkpointed Count-Min restart: the GCM counter grid survives a real state-store restore (r15)") {
    val texts = Tables
      .documents(spark, sf001)
      .select("doc_id", "text")
      .as[(Long, String)]
      .collect()
      .sortBy(_._1)
      .toIndexedSeq
    val root = java.nio.file.Files.createTempDirectory("graft_restart_cm")
    val srcDir = root.resolve("src").toString
    val ckpt = root.resolve("ckpt").toString
    def writeFile(part: Seq[(Long, String)]): Unit =
      part.toDF("doc_id", "text").coalesce(1).write.mode("append").json(srcDir)
    def startQuery() =
      Streams.countMinState(spark.readStream.schema("doc_id BIGINT, text STRING").json(srcDir))
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .format("memory")
        .queryName("restart_cm")
        .start()
    writeFile(texts.take(texts.length / 2))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    writeFile(texts.drop(texts.length / 2))
    val q2 = startQuery()
    try q2.processAllAvailable()
    finally q2.stop()
    val docs = texts.toDF("doc_id", "text")
    // same tokenization as countMinState's input side
    val probeToks = docs.select(explode(split(col("text"), " ")).as("tok")).where(col("tok") =!= "")
    val got = Streams.countMinProbe(spark.table("restart_cm"), probeToks)
    val want = Streams.countMinProbe(Streams.countMinState(docs), probeToks)
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("cross-version MinK state restored from a REAL checkpoint fails with the versioned error (r15)") {
    // the r13 encoder break scenario, driven end-to-end: a checkpoint
    // written by the CURRENT layout generation is restored by a build
    // whose MinK expects the NEXT generation — the restored v2 buffers
    // must hit the loud GMK discard-the-checkpoint error inside the
    // restarted query, not a silent codec misparse
    val rows = restartRows
    val root = java.nio.file.Files.createTempDirectory("graft_restart_xver")
    val srcDir = root.resolve("src").toString
    val ckpt = root.resolve("ckpt").toString
    val schema = "event_id BIGINT, user_id BIGINT, event_type STRING"
    def writeFile(part: Seq[(Long, Long, String)]): Unit =
      part.toDF("event_id", "user_id", "event_type")
        .coalesce(1).write.mode("append").json(srcDir)
    def kmvStateAtVersion(df: org.apache.spark.sql.DataFrame, ver: Int) = {
      val mk = udaf(new graft.functions.MinK(32, layoutVersion = ver))
      df.select(col("event_type"), graft.Tables.hash60Hex(col("user_id")).as("hhex"))
        .groupBy(col("event_type"))
        .agg(mk(col("hhex"), lit(0L), lit(0L)).as("sk"))
    }
    def startQuery(ver: Int) =
      kmvStateAtVersion(spark.readStream.schema(schema).json(srcDir), ver)
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .format("memory")
        .queryName("restart_xver")
        .start()
    writeFile(rows.take(rows.length / 2))
    val q1 = startQuery(graft.functions.MinK.CurrentVersion)
    q1.processAllAvailable()
    q1.stop()
    writeFile(rows.drop(rows.length / 2))
    val q2 = startQuery(graft.functions.MinK.CurrentVersion + 1)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q2.processAllAvailable()
      finally q2.stop()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20).toSeq
    val msgs = chain(err).map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    assert(
      msgs.contains("discard the streaming checkpoint"),
      s"expected the versioned GMK discard error in the failure chain, got: $msgs")
  }
}
