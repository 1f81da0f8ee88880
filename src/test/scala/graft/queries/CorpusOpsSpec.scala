package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Round-4 corpus ops: VecMean centroid exactness + merge invariance,
  * packing invariants, SCD2 interval laws, bloom-join result identity.
  */
class CorpusOpsSpec extends SparkSuite {
  import spark.implicits._

  test("q_events_survival: KM laws hold and the curve recomputes from local lifetimes") {
    val rows = CorpusOps.qEventsSurvival(spark, sf001).collect()
    assert(rows.nonEmpty)
    // local lifetime recompute
    val lifetimes = graft.Tables
      .events(spark, sf001)
      .groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("f"), max(to_date(col("ts"))).as("l"))
      .select(datediff(col("l"), col("f")))
      .as[Int]
      .collect()
    val d = lifetimes.groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    val total = lifetimes.length.toLong
    assert(rows.map(_.getLong(2)).sum == total) // every user churns exactly once
    var cum = 0L
    var lnMicro = 0L
    rows.foreach { r =>
      val (day, nRisk, nChurn) = (r.getInt(0), r.getLong(1), r.getLong(2))
      assert(nChurn == d(day))
      assert(nRisk == total - cum) // risk set = everyone not yet churned
      assert(r.getDouble(3) == nChurn.toDouble / nRisk)
      if (nRisk > nChurn) {
        lnMicro += math.round(math.log((nRisk - nChurn).toDouble) * 1e6) -
          math.round(math.log(nRisk.toDouble) * 1e6)
        assert(r.getDouble(4) == lnMicro.toDouble / 1e6)
        assert(r.getDouble(4) <= 0.0) // log of a probability
      } else assert(r.isNullAt(4)) // extinction week: S = 0 has no finite log
      cum += nChurn
    }
    // weeks strictly increasing; at-risk strictly decreasing
    assert(rows.map(_.getInt(0)).toSeq == rows.map(_.getInt(0)).toSeq.sorted)
    val risks = rows.map(_.getLong(1)).toSeq
    assert(risks.zip(risks.tail).forall { case (a, b) => a > b })
  }

  test("q_io_jsonl_roundtrip: checksum equals the one computed straight off the parquet") {
    val rt = CorpusOps.qIoJsonlRoundtrip(spark, sf001).collect()
    val direct = CorpusOps
      .checksumCore(
        graft.Tables.documents(spark, sf001),
        col("doc_id"),
        Seq(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")))
      .collect()
    assert(rt.length == direct.length && rt.length == 32)
    rt.zip(direct).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(1) &&
        a.getLong(2) == b.getLong(2))
    }
  }

  test("q_privacy_dp_count: noise equals the local inverse-CDF recompute per cell") {
    val rows = CorpusOps.qPrivacyDpCount(spark, sf001).collect()
    assert(rows.nonEmpty)
    def md5hex(s: String): String =
      java.security.MessageDigest
        .getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x")
        .mkString
    rows.foreach { r =>
      val (name, nTrue, noised) = (r.getString(0), r.getLong(1), r.getDouble(2))
      val h = java.lang.Long.parseLong(md5hex(name).substring(0, 10), 16)
      val m = math.max(1L, (1L << 40) - 2L * math.abs(h - (1L << 39)))
      val lnq = BigDecimal(math.log(m.toDouble) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toLong
      val sgn = if (h >= (1L << 39)) 1L else -1L
      val noiseMicro = sgn * 2L * (27725887L - lnq)
      assert(noised == (nTrue * 1000000L + noiseMicro).toDouble / 1e6)
      // Laplace law: the noise magnitude is 2*(-ln(1-2|u-1/2|)) >= 0
      assert(sgn * noiseMicro >= 0L)
    }
  }

  // ------------------------------------------------------------ VecMean

  test("VecMean centroid is the exact fixed-point mean, any partitioning") {
    val rows = Seq(
      (0, Array(1.0f, -2.0f, 0.5f)),
      (0, Array(2.0f, 4.0f, 0.25f)),
      (1, Array(0.1f, 0.2f, 0.3f)))
    val vm = udaf(graft.functions.VecMean)
    // expected via the same quantization contract: round(x*1e6) sums
    def mean(vs: Seq[Array[Float]]): Seq[Double] =
      vs.map(_.map(x => graft.functions.ScaledDot.roundHalfAway(x.toDouble * 1e6)))
        .transpose
        .map(col => col.sum.toDouble / 1e6 / vs.length)
    for (parts <- Seq(1, 3)) {
      val got = rows
        .toDF("label", "embedding")
        .repartition(parts)
        .groupBy("label")
        .agg(vm(col("embedding")).as("c"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1))
        .toMap
      assert(got(0) == mean(Seq(rows(0)._2, rows(1)._2)))
      assert(got(1) == mean(Seq(rows(2)._2)))
    }
  }

  test("q_embed_centroid emits label x pos scalar rows, sorted") {
    val df = CorpusOps.qEmbedCentroid(spark, sf001)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // one row per (label, pos); pos spans the full embedding dim per label
    val byLabel = rows.groupBy(_.getInt(0))
    byLabel.foreach { case (_, rs) =>
      assert(rs.map(_.getInt(1)).toSeq == (0 until rs.length))
    }
  }

  test("q_embed_whitening: 64 dims; dim-0 stats replay the fixed-point chain exactly") {
    val rows = CorpusOps.qEmbedWhitening(spark, sf001).collect()
    assert(rows.length == 64)
    assert(rows.map(_.getInt(0)).toSeq == (0 until 64))
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0) // std
      assert(r.getDouble(4) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(5)) // min<=mean<=max
    }
    // local replay for dim 0 with the identical integer + IEEE sequence
    def r0(x: Double) =
      java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue
    def r6(x: Double) =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val v0 = graft.Tables
      .embeddings(spark, sf001)
      .select(element_at(col("embedding"), 1).cast("double"))
      .as[Double]
      .collect()
    val vq = v0.map(v => r0(v * 1e6))
    val n = vq.length.toLong
    val s = vq.map(BigInt(_)).sum
    val ss = vq.map(q => BigInt(q) * BigInt(q)).sum
    val sD = s.toDouble; val ssD = ss.toDouble
    val mean = r6(sD / n / 1e6)
    val std = r6(math.sqrt(ssD / n - (sD / n) * (sD / n)) / 1e6)
    val d0 = rows.head
    assert(d0.getLong(1) == n)
    assert(d0.getDouble(2) == mean, s"mean ${d0.getDouble(2)} vs $mean")
    assert(d0.getDouble(3) == std, s"std ${d0.getDouble(3)} vs $std")
    assert(d0.getDouble(4) == v0.min && d0.getDouble(5) == v0.max)
  }

  // ------------------------------------------------------------- packing

  test("q_pack_sequences: pack ids contiguous, token accounting closes") {
    val df = CorpusOps.qPackSequences(spark, sf001).cache()
    val rows = df.collect()
    assert(rows.nonEmpty)
    // per (split, bucket): pack ids are 0..max contiguous, and each
    // non-final pack holds >= 2048 of the running stream (a pack only
    // closes once the stream passes its boundary)
    rows.groupBy(r => (r.getString(0), r.getLong(1))).foreach { case (_, rs) =>
      val ids = rs.map(_.getLong(2)).sorted
      assert(ids.toSeq == (0L until ids.length))
    }
    // global token accounting: sum over packs == sum of per-doc tokens
    val total = rows.map(_.getLong(4)).sum
    val expected = graft.Tables
      .documents(spark, sf001)
      .select(
        graft.functions.TextProfile
          .profile(col("text"))
          .getField("n_tokens")
          .cast("long"))
      .as[Long]
      .collect()
      .sum
    assert(total == expected)
    df.unpersist()
  }

  // --------------------------------------------------------------- SCD2

  test("q_events_scd2: intervals chain per user, exactly one open") {
    val rows = CorpusOps.qEventsScd2(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      // one open interval per user, and it is the last one
      assert(rs.count(_.isNullAt(3)) == 1)
      assert(rs.last.isNullAt(3) && rs.last.getInt(5) == 1)
      // closed intervals chain: valid_to == next valid_from, from <= to
      rs.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getTimestamp(3) == b.getTimestamp(2))
          assert(!a.getTimestamp(2).after(a.getTimestamp(3)))
        case _ =>
      }
    }
  }

  // --------------------------------------------------- stratified sample

  test("q_sample_stratified: <= 20 per stratum, deterministic, ranked 1..k") {
    val rows = CorpusOps.qSampleStratified(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.length <= 20)
      assert(rs.map(_.getInt(1)).toSeq == (1 to rs.length))
      // hash order within the stratum: rk follows (h, doc_id) ascending
      val sorted = rs.sortBy(r => (r.getString(3), r.getLong(2)))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to rs.length))
    }
    // reruns are identical (content-keyed, not RNG)
    val again = CorpusOps.qSampleStratified(spark, sf001).collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("q_mix_sources: even sources keep everything, odd sources a fraction") {
    val kept = CorpusOps
      .qMixSources(spark, sf001)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val totals = graft.Tables
      .documents(spark, sf001)
      .groupBy("source")
      .count()
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    totals.foreach { case (src, n) =>
      val evenSrc = src.replaceAll("[^0-9]", "").toInt % 2 == 0
      if (evenSrc) assert(kept(src) == n, src) // threshold 256 keeps all
      else assert(kept.getOrElse(src, 0L) <= n, src)
    }
  }

  // ------------------------------------------------------------ exact corr

  test("q_agg_corr matches Spark's built-in corr to quantization tolerance") {
    val ours = CorpusOps
      .qAggCorr(spark, sf001)
      .collect()
      .map(r => r.getString(0) -> r.getDouble(2))
      .toMap
    val builtin = graft.Tables
      .lineitem(spark, sf001)
      .groupBy("l_returnflag")
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"))
      .collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .toMap
    ours.foreach { case (k, v) =>
      assert(math.abs(v - builtin(k)) < 1e-6, s"$k: $v vs ${builtin(k)}")
    }
  }

  // -------------------------------------------------------------- resample

  test("q_events_resample: contiguous hourly grid, LOCF fills every gap") {
    val rows = CorpusOps.qEventsResample(spark, sf001).collect()
    assert(rows.nonEmpty)
    val hourMs = 3600 * 1000L
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      // grid is contiguous hourly steps
      val ts = rs.map(_.getTimestamp(1).getTime)
      assert(ts.zip(ts.tail).forall { case (a, b) => b - a == hourMs })
      // first grid point is observed (grid starts at the first event's
      // hour), so LOCF leaves no nulls anywhere
      assert(rs.head.getInt(2) == 1)
      assert(rs.forall(!_.isNullAt(3)))
    }
    // observed bucket count == distinct (user, hour) pairs in the source
    val observed = rows.count(_.getInt(2) == 1)
    val expected = graft.Tables
      .events(spark, sf001)
      .select(col("user_id"), expr("unix_micros(ts) div 3600000000"))
      .distinct()
      .count()
    assert(observed.toLong == expected)
  }

  test("q_events_interpolate: grid contiguous, ends observed, gaps on the straight line") {
    val rows = CorpusOps.qEventsInterpolate(spark, sf001).collect()
    assert(rows.nonEmpty)
    val slotMs = 300 * 1000L
    var sawGap = false
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val ts = rs.map(_.getTimestamp(1).getTime)
      assert(ts.zip(ts.tail).forall { case (a, b) => b - a == slotMs })
      // span ends are observed by construction → every slot has a value
      assert(rs.head.getInt(2) == 1 && rs.last.getInt(2) == 1)
      assert(rs.forall(!_.isNullAt(3)))
      // every missing slot lies on the line between its observed neighbors
      val obsIdx = rs.indices.filter(rs(_).getInt(2) == 1)
      rs.indices.filterNot(rs(_).getInt(2) == 1).foreach { i =>
        sawGap = true
        val p = obsIdx.filter(_ < i).max
        val n = obsIdx.filter(_ > i).min
        val (pv, nv) = (rs(p).getDouble(3), rs(n).getDouble(3))
        val want = pv + (nv - pv) * ((i - p).toDouble / (n - p).toDouble)
        assert(rs(i).getDouble(3) == want)
      }
    }
    assert(sawGap) // anti-vacuity: the sf0.001 grid DOES have holes
    // observed-slot values are the per-(type, slot) means
    val means = graft.Tables
      .events(spark, sf001)
      .where(col("value").isNotNull)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 300000000").as("b"))
      .agg((graft.Tables.dsum(col("value")) / count(lit(1))).as("m"))
      .as[(String, Long, Double)]
      .collect()
      .map { case (et, b, m) => (et, b) -> m }
      .toMap
    rows.filter(_.getInt(2) == 1).foreach { r =>
      val b = r.getTimestamp(1).getTime / slotMs
      assert(r.getDouble(3) == means((r.getString(0), b)))
    }
  }

  test("q_seq_mining: trigram support recomputes from local per-user walks") {
    val rows = CorpusOps.qSeqMining(spark, sf001).collect()
    assert(rows.nonEmpty)
    val streams = graft.Tables
      .events(spark, sf001)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .collect()
      .groupBy(_._1)
      .map { case (u, g) => u -> g.sortBy(e => (e._2, e._3)).map(_._4).toSeq }
    val walks = streams.toSeq.flatMap { case (u, s) => s.sliding(3).filter(_.size == 3).map(u -> _) }
    val byPat = walks.groupBy(_._2)
    val want = byPat.collect {
      case (pat, g) if g.map(_._1).distinct.size >= 2 =>
        (pat(0), pat(1), pat(2)) -> ((g.size.toLong, g.map(_._1).distinct.size.toLong))
    }
    assert(rows.length == want.size)
    rows.foreach { r =>
      val k = (r.getString(0), r.getString(1), r.getString(2))
      assert(want(k) == ((r.getLong(3), r.getLong(4))))
    }
    // support ordering is what the query promises (desc users, desc occ)
    val keys = rows.map(r => (r.getLong(4), r.getLong(3))).toSeq
    assert(keys == keys.sortBy { case (u, o) => (-u, -o) })
  }

  test("q_events_markov: fixed point is stationary and mass is conserved") {
    val rows = CorpusOps.qEventsMarkov(spark, sf001).collect()
    assert(rows.nonEmpty)
    val mass = rows.map(_.getLong(1)).sum
    // per-iteration half-up rounding loses/gains ≤ |types|/2 micro over
    // 20 iterations from the 1e12 grain
    assert(math.abs(mass - 1000000000000L) <= 20L * rows.length)
    // fixed point: one more EXACT integer step barely moves the vector
    val ev = graft.Tables
      .events(spark, sf001)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .collect()
    val trans = ev
      .groupBy(_._1)
      .values
      .flatMap { g =>
        val s = g.sortBy(e => (e._2, e._3)).map(_._4)
        s.zip(s.tail)
      }
      .toSeq
    val cnt = trans.groupBy(identity).map { case (k, g) => k -> BigInt(g.size) }
    val types = rows.map(_.getString(0))
    val outSum = cnt.groupBy(_._1._1).map { case (t, g) => t -> g.values.sum }
    val cells = cnt.toSeq ++ types.filterNot(outSum.contains).map(t => ((t, t), BigInt(1)))
    val rowSum = cells.groupBy(_._1._1).map { case (t, g) => t -> g.map(_._2).sum }
    val pi = rows.map(r => r.getString(0) -> BigInt(r.getLong(1))).toMap
    val next = scala.collection.mutable.Map.empty[String, BigInt].withDefaultValue(BigInt(0))
    cells.foreach { case ((from, to), n) =>
      next(to) += (pi(from) * n * 2 + rowSum(from)) / (rowSum(from) * 2)
    }
    types.foreach { t =>
      assert((next(t) - pi(t)).abs <= BigInt(2000000L), s"$t moved ${(next(t) - pi(t)).abs}")
    }
  }

  test("q_agg_kmv_distinct: estimate recomputes from local k-minimum hashes; union law holds") {
    val rows = CorpusOps.qAggKmvDistinct(spark, sf001).collect()
    assert(rows.nonEmpty)
    def md5hex15(s: String): Long = {
      val d = java.security.MessageDigest
        .getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x")
        .mkString
      java.lang.Long.parseLong(d.substring(0, 15), 16)
    }
    val ev = graft.Tables
      .events(spark, sf001)
      .select(col("event_type"), col("user_id"))
      .as[(String, Long)]
      .collect()
    val byType = ev.groupBy(_._1).map { case (t, g) => t -> g.map(_._2).distinct }
    val k = 32
    rows.foreach { r =>
      val users =
        if (r.getString(0) == "ALL") ev.map(_._2).distinct else byType(r.getString(0))
      val hs = users.map(u => md5hex15(u.toString)).sorted.take(k)
      assert(r.getLong(1) == hs.length.toLong)
      assert(r.getLong(2) == hs.max)
      val est =
        if (hs.length < k) hs.length.toDouble else 31.0 * 1152921504606846976.0 / hs.max.toDouble
      assert(r.getDouble(3) == est)
      assert(r.getLong(4) == users.length.toLong)
      // with k ≥ 32 the estimator should land within ~35% on this fixture
      assert(math.abs(r.getDouble(5)) < 0.35, s"rel_err ${r.getDouble(5)}")
      // mergeability law (the lattice argument): k-min of the union ==
      // k-min of the union of per-type k-mins
      if (r.getString(0) == "ALL") {
        val merged = byType.values
          .flatMap(_.map(u => md5hex15(u.toString)).sorted.take(k))
          .toSeq
          .distinct
          .sorted
          .take(k)
        assert(merged == hs.toSeq)
      }
    }
  }

  test("q_agg_kmv_intersect: pair estimates recompute from local sketch algebra") {
    val rows = CorpusOps.qAggKmvIntersect(spark, sf001).collect()
    assert(rows.nonEmpty)
    // EVERY type pair must appear — including a pair whose common hashes
    // all rank above θ (c = 0), which a post-join filter would drop
    val nTypes = graft.Tables.events(spark, sf001).select("event_type").distinct().count().toInt
    assert(rows.length == nTypes * (nTypes - 1) / 2)
    def md5hex15(s: String): Long = {
      val d = java.security.MessageDigest
        .getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x")
        .mkString
      java.lang.Long.parseLong(d.substring(0, 15), 16)
    }
    val ev = graft.Tables
      .events(spark, sf001)
      .select(col("event_type"), col("user_id"))
      .as[(String, Long)]
      .collect()
    val byType = ev.groupBy(_._1).map { case (t, g) => t -> g.map(_._2).distinct }
    val k = 32
    val sk = byType.map { case (t, us) => t -> us.map(u => md5hex15(u.toString)).sorted.take(k) }
    rows.foreach { r =>
      val (ta, tb) = (r.getString(0), r.getString(1))
      val union = (sk(ta) ++ sk(tb)).distinct.sorted.take(k)
      assert(r.getLong(2) == union.length.toLong)
      val theta = union.max
      val c = sk(ta).toSet.intersect(sk(tb).toSet).count(_ <= theta).toLong
      assert(r.getLong(3) == c)
      val est =
        if (union.length < k) c.toDouble
        else c.toDouble / 32.0 * (31.0 * 1152921504606846976.0 / theta.toDouble)
      assert(r.getDouble(4) == est)
      val exact = byType(ta).toSet.intersect(byType(tb).toSet).size.toLong
      assert(r.getLong(5) == exact)
      assert(r.getDouble(6) == est - exact.toDouble)
    }
  }

  test("q_events_lifecycle: growth ledger closes against local per-user day walks") {
    val rows = CorpusOps.qEventsLifecycle(spark, sf001).collect()
    assert(rows.nonEmpty)
    val act = graft.Tables
      .events(spark, sf001)
      .select(col("user_id"), to_date(col("ts")))
      .distinct()
      .as[(Long, java.sql.Date)]
      .collect()
      .map { case (u, d) => (u, d.toLocalDate) }
    val byUser = act.groupBy(_._1).map { case (u, g) => u -> g.map(_._2).sorted }
    val activeByDay = act.groupBy(_._2).map { case (d, g) => d -> g.length.toLong }
    val maxDay = act.map(_._2).max
    // local status walk per user
    val statuses = byUser.values.flatMap { days =>
      days.zip(None +: days.init.map(Some(_))).map {
        case (d, None) => d -> "new"
        case (d, Some(p)) =>
          d -> (if (java.time.temporal.ChronoUnit.DAYS.between(p, d) <= 7) "retained"
                else "resurrected")
      }
    }.toSeq
    val churns = byUser.values.flatMap { days =>
      val lapses = days.zip(days.tail).collect {
        case (p, d) if java.time.temporal.ChronoUnit.DAYS.between(p, d) > 7 => p.plusDays(8)
      }
      val tail = Option(days.last.plusDays(8)).filter(!_.isAfter(maxDay))
      lapses ++ tail
    }.toSeq
    rows.foreach { r =>
      val d = r.getDate(0).toLocalDate
      val g = statuses.filter(_._1 == d).map(_._2)
      assert(r.getLong(1) == g.count(_ == "new").toLong)
      assert(r.getLong(2) == g.count(_ == "retained").toLong)
      assert(r.getLong(3) == g.count(_ == "resurrected").toLong)
      assert(r.getLong(4) == churns.count(_ == d).toLong)
      // closure: the day's activity = new + retained + resurrected
      assert(r.getLong(1) + r.getLong(2) + r.getLong(3) == activeByDay.getOrElse(d, 0L))
    }
    // ledger laws: every user is NEW exactly once; churn ≤ users; a churn
    // booked while resurrections exist means the gap logic is live
    assert(rows.map(_.getLong(1)).sum == byUser.size.toLong)
    assert(rows.map(_.getLong(4)).sum <= byUser.size.toLong + rows.map(_.getLong(3)).sum)
  }

  test("q_events_streaks: island lengths recompute from local per-user walks") {
    val rows = CorpusOps.qEventsStreaks(spark, sf001).collect()
    assert(rows.nonEmpty)
    val streams = graft.Tables
      .events(spark, sf001)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .collect()
      .groupBy(_._1)
      .map { case (u, g) => u -> g.sortBy(e => (e._2, e._3)).map(_._4).toSeq }
    // local run-length encoding per user
    def runs(s: Seq[String]): Map[String, Int] = {
      val out = scala.collection.mutable.Map.empty[String, Int]
      var i = 0
      while (i < s.length) {
        var j = i
        while (j < s.length && s(j) == s(i)) j += 1
        out(s(i)) = math.max(out.getOrElse(s(i), 0), j - i)
        i = j
      }
      out.toMap
    }
    val best = streams.toSeq.flatMap { case (u, s) => runs(s).map { case (t, l) => (t, u, l) } }
    rows.foreach { r =>
      val g = best.filter(_._1 == r.getString(0))
      val mx = g.map(_._3).max
      assert(r.getLong(1) == mx.toLong)
      assert(r.getLong(2) == g.filter(_._3 == mx).map(_._2).min)
      assert(r.getLong(3) == g.count(_._3 >= 3).toLong)
    }
    // anti-vacuity: at least one real streak (> 1) exists in the fixture
    assert(rows.map(_.getLong(1)).max > 1L)
  }

  test("q_feature_hashing: dim loads recompute from a local hash of the vocab") {
    val rows = CorpusOps.qFeatureHashing(spark, sf001).collect()
    assert(rows.nonEmpty)
    val toks = graft.Tables
      .documents(spark, sf001)
      .select(col("text"))
      .as[String]
      .collect()
      .flatMap(_.split(" ", -1).filter(_.nonEmpty))
    val cnt = toks.groupBy(identity).map { case (t, g) => t -> g.length.toLong }
    def dim(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(4), 16) % 64
    }
    val byDim = cnt.toSeq.map { case (t, c) => (dim(t), t, c) }.groupBy(_._1)
    assert(rows.length == byDim.size)
    rows.foreach { r =>
      val g = byDim(r.getLong(0))
      assert(r.getLong(1) == g.map(_._3).sum)
      assert(r.getLong(2) == g.length.toLong)
      val (top, tc) = g.map { case (_, t, c) => (t, c) }.maxBy { case (t, c) => (c, t) }
      assert(r.getString(3) == top && r.getLong(4) == tc)
      assert(r.getDouble(5) == tc.toDouble / g.map(_._3).sum.toDouble)
    }
    // anti-vacuity: the tiny vocab must still produce ≥ 1 colliding dim
    // for the collision readout to be exercised
    assert(rows.exists(_.getLong(2) > 1L))
  }

  test("q_text_collocations: PMI recomputes from local bigram/unigram counts") {
    val rows = CorpusOps.qTextCollocations(spark, sf001).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val toks = graft.Tables
      .documents(spark, sf001)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .collect()
      .map { case (id, t) => id -> t.split(" ", -1).filter(_.nonEmpty).toSeq }
    val uni = toks.flatMap(_._2).groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    val bis = toks.flatMap(_._2.sliding(2).filter(_.size == 2).map(p => (p(0), p(1))))
    val cbg = bis.groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    val nu = uni.values.sum
    val nb = cbg.values.sum
    // HALF_UP like Spark's round(), not rint's half-even
    def lnMicro(x: Long) =
      BigDecimal.decimal(math.log(x.toDouble) * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val pmi = cbg.collect {
      case ((a, b), cab) if cab >= 5 =>
        (a, b) -> ((lnMicro(cab) - lnMicro(nb) - lnMicro(uni(a)) - lnMicro(uni(b)) +
          2 * lnMicro(nu)).toDouble / 1e6, cab)
    }
    val want = pmi.toSeq
      .map { case ((a, b), (p, c)) => (p, a, b, c) }
      .sortBy { case (p, a, b, _) => (-p, a, b) }
      .take(50)
    assert(rows.length == want.length)
    rows.zip(want).foreach { case (r, (p, a, b, c)) =>
      assert((r.getString(0), r.getString(1), r.getLong(2)) == ((a, b, c)))
      assert(r.getLong(3) == uni(a) && r.getLong(4) == uni(b))
      assert(r.getDouble(5) == p)
    }
  }

  // ----------------------------------------------------------- fuzzy dedup

  test("fuzzyCore finds prefix-blocked near-dups, skips far pairs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // dist 3
      (3L, "the quick brown elephant stampedes through everything here"), // same prefix, too far
      (4L, "completely different text with no shared prefix at all"))
      .toDF("doc_id", "text")
    val pairs = CorpusOps
      .fuzzyCore(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 3)))
  }

  // ---------------------------------------------------------------- tf-idf

  test("q_text_tfidf: <= 3 terms per doc, ranked by non-increasing score") {
    val rows = CorpusOps.qTextTfidf(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= 3)
      assert(rs.map(_.getInt(1)).toSeq == (1 to rs.length))
      val scores = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  // ---------------------------------------------------------------- funnel

  test("q_events_funnel: stage counts are monotone, users complete") {
    val r = CorpusOps.qEventsFunnel(spark, sf001).collect().head
    val (v, vc, full, users) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(v >= vc && vc >= full && full >= 0)
    assert(users == graft.Tables.events(spark, sf001).select("user_id").distinct().count())
  }

  // -------------------------------------------------------------- checksum

  test("checksumCore: identical tables match; a one-row change flips one bucket") {
    val t = Seq((1L, "a"), (2L, "b"), (33L, "c")).toDF("k", "v")
    val cols = Seq(col("k"), col("v"))
    val base = CorpusOps.checksumCore(t, col("k"), cols).collect()
    val same = CorpusOps.checksumCore(t.repartition(3), col("k"), cols).collect()
    assert(base.toSeq == same.toSeq)
    val mutated = Seq((1L, "a"), (2L, "CHANGED"), (33L, "c")).toDF("k", "v")
    val diff = CorpusOps.checksumCore(mutated, col("k"), cols).collect()
    // bucket 1 holds keys 1 and 33... no: 1 % 32 = 1, 33 % 32 = 1, 2 % 32 = 2.
    // Key 2's bucket (2) must differ; key-1/33's bucket (1) must not.
    val baseBy = base.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val diffBy = diff.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(baseBy(1L) == diffBy(1L))
    assert(baseBy(2L) != diffBy(2L))
  }

  // ----------------------------------------------------------- unigram NLL

  test("q_text_unigram_nll: positive scores, one row per non-empty doc") {
    val rows = CorpusOps.qTextUnigramNll(spark, sf001).collect()
    assert(rows.nonEmpty)
    // Laplace probabilities are < 1, so -log p > 0 always
    assert(rows.forall(_.getDouble(3) > 0))
    val nonEmptyDocs = graft.Tables
      .documents(spark, sf001)
      .where(size(filter(split(col("text"), " "), t => t =!= "")) > 0)
      .count()
    assert(rows.length.toLong == nonEmptyDocs)
    // a doc made of the corpus's most common tokens must score lower
    // (more likely) than the per-doc maximum: sanity that the model
    // orders documents and is not constant
    val scores = rows.map(_.getDouble(3))
    assert(scores.min < scores.max)
  }

  // --------------------------------------------------------- ppl buckets

  test("q_text_ppl_buckets: terciles partition the scored corpus in rank order") {
    val rows = CorpusOps.qTextPplBuckets(spark, sf001).collect()
    assert(rows.length == 3)
    val byName = rows.map(r => r.getString(0) -> r).toMap
    assert(byName.keySet == Set("head", "middle", "tail"))
    val scored = CorpusOps.qTextUnigramNll(spark, sf001).collect()
    // partition: every scored doc lands in exactly one bucket
    assert(rows.map(_.getLong(1)).sum == scored.length)
    // ntile balance: bucket sizes differ by at most 1
    val sizes = rows.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1)
    // rank order: head's worst score <= middle's best, middle's worst <= tail's best
    val (h, m, t) = (byName("head"), byName("middle"), byName("tail"))
    assert(h.getDouble(3) <= m.getDouble(2), "head.max <= middle.min")
    assert(m.getDouble(3) <= t.getDouble(2), "middle.max <= tail.min")
    // head holds the corpus minimum, tail the maximum
    assert(h.getDouble(2) == scored.map(_.getDouble(3)).min)
    assert(t.getDouble(3) == scored.map(_.getDouble(3)).max)
  }

  // --------------------------------------------------------- bloom join

  test("q_join_bloom equals the plain exact join (FPs removed by join)") {
    val viaBloom = CorpusOps.qJoinBloom(spark, sf001).collect()
    val li = graft.Tables.lineitem(spark, sf001)
    val dim = graft.Tables
      .orders(spark, sf001)
      .where(col("o_totalprice") > 150000.0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val plain = li
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        graft.Tables
          .dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("o_orderpriority")
      .collect()
    assert(viaBloom.toSeq == plain.toSeq)
  }

  // ---------------------------------------------------------- HLL merge

  test("q_agg_hll_merge: merged daily sketches equal one direct sketch") {
    val ev = graft.Tables.events(spark, sf001)
    val merged = CorpusOps
      .qAggHllMerge(spark, sf001)
      .collect()
      .map(r => (r.getString(0), (r.getDouble(1), r.getLong(2))))
      .toMap
    // the same data sketched in ONE pass (no daily split, no merge):
    // q_agg_hll_replayable's hll_est IS the direct house sketch, so
    // register max-merge being lossless means the two estimates are
    // IDENTICAL doubles, not merely close (r14: cross-entry pin)
    val direct = CorpusOps
      .qAggHllReplayable(spark, sf001)
      .collect()
      .map(r => (r.getString(0), r.getDouble(3)))
      .toMap
    assert(merged.view.mapValues(_._1).toMap == direct)
    // n_days really counts the daily cells that were merged
    val days = ev
      .groupBy(col("event_type"))
      .agg(countDistinct(to_date(col("ts"))).as("nd"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toMap
    assert(merged.view.mapValues(_._2).toMap == days)
    // and the estimate is an estimate OF the right thing: the
    // replayable raw-HLL ±3σ band at m = 256 (~±20%)
    val exact = ev
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toMap
    exact.foreach { case (t, n) =>
      assert(math.abs(merged(t)._1 - n) <= math.max(1.0, 0.20 * n),
        s"$t: est ${merged(t)._1} vs exact $n")
    }
  }

  test("q_agg_hll_replayable: equals a from-scratch scala HLL; sane accuracy") {
    val rows = CorpusOps.qAggHllReplayable(spark, sf001).collect()
    assert(rows.nonEmpty)
    val data = graft.Tables
      .events(spark, sf001)
      .select(col("event_type"), col("user_id").cast("string"))
      .as[(String, String)]
      .collect()
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val h = md5.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 15), 16)
    }
    val m = 256
    def r6d(d: Double) =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { r =>
      val t = r.getString(0)
      val ids = data.collect { case (tt, u) if tt == t => u }
      // register construction: j = h mod m, rho = 53 - bitlength(h div m)
      val regs = scala.collection.mutable.Map.empty[Long, Int]
      ids.foreach { u =>
        val hv = h60(u)
        val (j, w) = (hv % m, hv / m)
        val rho = if (w == 0) 53 else 53 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        regs(j) = math.max(regs.getOrElse(j, 0), rho)
      }
      val c = regs.size
      val sPresent = regs.values.map(mm => 1L << (53 - mm)).sum
      val s = (sPresent + (m - c).toLong * (1L << 53)).toDouble
      val raw = 0.7213 / (1.0 + 1.079 / m) * (m.toDouble * m) * 9007199254740992.0 / s
      val v = m - c
      val est =
        if (raw <= 2.5 * m && v > 0) m.toDouble * r6d(math.log(m.toDouble / v))
        else raw
      assert(r.getLong(1) == ids.distinct.length.toLong, s"$t exact")
      assert(r.getLong(2) == c.toLong, s"$t n_regs")
      assert(r.getDouble(3) == r6d(est), s"$t estimate")
      // raw (bias-uncorrected) HLL at m=256: generous ±3σ ≈ ±20% bound
      assert(math.abs(r.getDouble(4)) < 20.0, s"$t err_pct ${r.getDouble(4)}")
    }
  }

  // ------------------------------------------------------------- moments

  test("q_agg_moments equals Spark's own skewness/kurtosis builtins") {
    val mine = CorpusOps
      .qAggMoments(spark, sf001)
      .collect()
      .map(r => (r.getString(0), (r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // Spark's builtins are the population skew / excess-kurtosis
    // definitions this operator re-derives from exact power sums; they
    // must agree to well past the 1e-9 rounding the oracle relies on
    val builtin = graft.Tables
      .lineitem(spark, sf001)
      .groupBy(col("l_returnflag"))
      .agg(
        avg(col("l_quantity")).as("m"),
        skewness(col("l_quantity")).as("sk"),
        kurtosis(col("l_quantity")).as("ku"))
      .collect()
      .map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(mine.keySet == builtin.keySet)
    mine.foreach { case (k, (m, sk, ku)) =>
      val (bm, bsk, bku) = builtin(k)
      assert(math.abs(m - bm) < 1e-6, s"$k mean $m vs $bm")
      assert(math.abs(sk - bsk) < 1e-6, s"$k skew $sk vs $bsk")
      assert(math.abs(ku - bku) < 1e-6, s"$k kurt $ku vs $bku")
    }
  }

  // --------------------------------------------------- incremental dedup

  test("incremental dedup: corpus dup beats batch dup beats ingest") {
    import spark.implicits._
    val corpus = Seq((1L, "aaa"), (2L, "bbb"))
      .toDF("doc_id", "text")
      .select($"doc_id", sha2($"text", 256).as("h"))
    val incoming = Seq(
      (10L, "aaa"), // in corpus -> drop_corpus_dup
      (11L, "ccc"), // new, first -> ingest
      (12L, "ccc"), // new, repeat in batch -> drop_batch_dup
      (13L, "ddd") //  new, unique -> ingest
    ).toDF("doc_id", "text").select($"doc_id", sha2($"text", 256).as("h"))
    val got = graft.queries.LlmOps
      .incrementalStatus(corpus, incoming)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq(
      (10L, "drop_corpus_dup"),
      (11L, "ingest"),
      (12L, "drop_batch_dup"),
      (13L, "ingest")))
  }

  // ------------------------------------------------------------- anomaly

  test("q_events_anomaly: flag consistent with z, z-scores center at 0 per type") {
    val rows = CorpusOps.qEventsAnomaly(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(4) == (math.abs(r.getDouble(3)) > 2.0))
    }
    // sum of z-scores per type is 0 by construction (each term is
    // (n - mean)/std); rounded at 1e-6 per row, so the sum stays tiny
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(math.abs(rs.map(_.getDouble(3)).sum) < 1e-3)
    }
  }

  // ------------------------------------------------------- sketch algebra

  test("q_agg_hll_intersect: inclusion-exclusion estimate tracks exact overlap") {
    val r = CorpusOps.qAggHllIntersect(spark, sf001).head()
    // the inclusion-exclusion identity holds EXACTLY by construction
    // (est_both is defined as the closed form of the other three)
    assert(r.getDouble(3) == r.getDouble(0) + r.getDouble(1) - r.getDouble(2))
    val ev = graft.Tables.events(spark, sf001)
    def users(t: String) =
      ev.where(col("event_type") === t).select("user_id").distinct()
    val exactBoth = users("click").intersect(users("purchase")).count().toDouble
    assert(exactBoth > 0)
    // est_both is a DIFFERENCE of three m=256 raw-HLL estimates (σ ≈
    // 6.5% each), so its own σ scales by |A|/|A∩B| — generous band
    assert(
      math.abs(r.getDouble(3) - exactBoth) / exactBoth < 0.5,
      s"est_both ${r.getDouble(3)} vs exact $exactBoth")
  }

  // ------------------------------------------------------------ PIT join

  test("q_join_scd2_pit: each purchase gets exactly the latest prior view") {
    val rows = CorpusOps.qJoinScd2Pit(spark, sf001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length) // <=1 version per fact
    // brute force on the raw events: the valid version IS the as-of view
    val evs = graft.Tables
      .events(spark, sf001)
      .select("user_id", "event_id", "ts", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime, r.getString(3)))
    val viewsByUser = evs.filter(_._4 == "view").groupBy(_._1)
    rows.foreach { r =>
      val (uid, ts) = (r.getLong(1), r.getTimestamp(2).getTime)
      val expect = viewsByUser
        .getOrElse(uid, Array.empty)
        .filter(_._3 <= ts)
        .sortBy(v => (v._3, v._2))
        .lastOption
        .map(_._2)
      val got = if (r.isNullAt(4)) None else Some(r.getLong(4))
      assert(got == expect, s"purchase ${r.getLong(0)} user $uid")
    }
  }

  // ------------------------------------------------------------ A/B test

  test("q_events_abtest: variant split is exhaustive, flag matches t") {
    val r = CorpusOps.qEventsAbtest(spark, sf001).collect()
    assert(r.length == 1)
    val row = r(0)
    val purchasers = graft.Tables
      .events(spark, sf001)
      .where(col("event_type") === "purchase")
      .select("user_id")
      .distinct()
      .count()
    assert(row.getLong(0) + row.getLong(1) == purchasers) // A + B = everyone
    assert(row.getBoolean(5) == (math.abs(row.getDouble(4)) > 1.96))
  }

  // ------------------------------------------------------- feature scaling

  test("q_feature_scale: output in [0,1], order-preserving within segment") {
    val scaled = CorpusOps.qFeatureScale(spark, sf001)
    val bal = graft.Tables
      .customer(spark, sf001)
      .select(col("c_custkey"), col("c_acctbal"))
    val rows = scaled
      .join(bal, "c_custkey")
      .select("c_mktsegment", "c_acctbal", "scaled")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    // winsorize + min-max never reorders values within a segment
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val byBal = rs.sortBy(_.getDouble(1)).map(_.getDouble(2)).toSeq
      assert(byBal == byBal.sorted)
      assert(byBal.head == 0.0 && byBal.last == 1.0) // clamped tails hit both ends
    }
  }

  test("q_agg_corr_matrix: 6 pairs per group, q_p equals the standalone corr") {
    val rows = CorpusOps.qAggCorrMatrix(spark, sf001).collect()
    assert(rows.length == 18) // 3 return flags x 6 pairs
    rows.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0))
    val qp = rows
      .filter(_.getString(2) == "q_p")
      .map(r => r.getString(0) -> r.getDouble(3))
      .toMap
    CorpusOps.qAggCorr(spark, sf001).collect().foreach { r =>
      assert(qp(r.getString(0)) == r.getDouble(2), s"flag ${r.getString(0)}")
    }
  }

  test("q_events_ab_srm: cells close over the user set, chi2 re-derives") {
    val row = CorpusOps.qEventsAbSrm(spark, sf001).collect().head
    val (na, nb) = (row.getLong(0), row.getLong(1))
    val users = graft.Tables.events(spark, sf001).select("user_id").distinct().count()
    assert(na + nb == users)
    val chi2 = BigDecimal((na - nb).toDouble * (na - nb) / (na + nb))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    assert(row.getDouble(2) == chi2)
    assert(row.getBoolean(3) == (chi2 > 3.841459))
  }

  test("q_agg_bitmap_distinct: exact under any partitioning; matches countDistinct") {
    val rows = CorpusOps.qAggBitmapDistinct(spark, sf001).collect()
    val expect = graft.Tables
      .events(spark, sf001)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) == expect(r.getString(0))))
    // merge exactness is partitioning-independent (the metric-store law)
    val repart = graft.Tables
      .events(spark, sf001)
      .repartition(13)
      .groupBy(
        col("event_type"),
        to_date(col("ts")).as("d"),
        bitmap_bucket_number(col("user_id")).as("bucket"))
      .agg(bitmap_construct_agg(bitmap_bit_position(col("user_id"))).as("bm"))
      .groupBy("event_type", "bucket")
      .agg(bitmap_count(bitmap_or_agg(col("bm"))).as("bu"))
      .groupBy("event_type")
      .agg(sum("bu").as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    rows.foreach(r => assert(repart(r.getString(0)) == r.getLong(1)))
  }

  test("q_events_cohort_ltv: running totals climb and close to the cohort spend") {
    val rows = CorpusOps.qEventsCohortLtv(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getDate(0)).foreach { case (_, rs) =>
      val byOffset = rs.sortBy(_.getLong(1))
      // ltv is a nondecreasing running sum of the day values
      val ltvs = byOffset.map(_.getDouble(3)).toSeq
      assert(ltvs.zip(ltvs.tail).forall { case (a, b) => b >= a })
      val sumDays = byOffset.map(r => math.round(r.getDouble(2) * 100)).sum
      assert(math.round(byOffset.last.getDouble(3) * 100) == sumDays)
    }
    // grand total closes to the corpus purchase spend (exact cents)
    val total = graft.Tables
      .events(spark, sf001)
      .where(col("event_type") === "purchase")
      .select(sum(round(col("value") * 100).cast("long")))
      .collect()(0)
      .getLong(0)
    val lastPerCohort = rows
      .groupBy(_.getDate(0))
      .map { case (_, rs) => math.round(rs.maxBy(_.getLong(1)).getDouble(3) * 100) }
      .sum
    assert(lastPerCohort == total)
  }

  test("q_text_zipf: totals close over the corpus; fit recomputed locally") {
    val r = CorpusOps.qTextZipf(spark, sf001).collect().head
    // corpus totals close over a direct recount
    val toks = graft.Tables
      .documents(spark, sf001)
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
    val freqs = toks
      .groupBy("tok")
      .count()
      .collect()
      .map(x => x.getString(0) -> x.getLong(1))
    assert(r.getLong(1) == freqs.length.toLong) // n_vocab
    assert(r.getLong(2) == freqs.map(_._2).sum) // n_tokens
    assert(r.getLong(0) == math.min(1000L, freqs.length.toLong)) // head size
    // local least-squares over the same quantized points
    val top = freqs.sortBy { case (t, f) => (-f, t) }.take(1000).map(_._2)
    val x = top.indices.map(i => math.round(math.log((i + 1).toDouble) * 1e6))
    val y = top.map(f => math.round(math.log(f.toDouble) * 1e6))
    val n = x.length.toDouble
    val (sx, sy) = (x.sum.toDouble, y.sum.toDouble)
    val sxy = x.zip(y).map { case (a, b) => a * b }.sum.toDouble
    val sxx = x.map(a => a * a).sum.toDouble
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(r.getDouble(3) == math.rint(slope * 1e9) / 1e9 ||
      math.abs(r.getDouble(3) - slope) < 1e-9)
    // slope negative by construction (rank up ⇒ freq non-increasing);
    // r² in (0,1] — the 31-token synthetic vocab is near-flat, so no
    // natural-text r² floor is assumed here
    assert(r.getDouble(3) < 0.0)
    assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
  }

  // ----------------------------------------------- exact median (radix)

  test("q_agg_median_radix: equals the sorted position pick, per group") {
    val rows = CorpusOps.qAggMedianRadix(spark, sf001).collect()
    assert(rows.nonEmpty)
    val cents = graft.Tables
      .lineitem(spark, sf001)
      .select(
        col("l_returnflag").as("grp"),
        round(col("l_extendedprice") * 100).cast("long").as("v"))
      .as[(String, Long)]
      .collect()
      .groupBy(_._1)
      .map { case (g, vs) => g -> vs.map(_._2).sorted }
    assert(rows.map(_.getString(0)).toSet == cents.keySet)
    rows.foreach { r =>
      val (g, n, med) = (r.getString(0), r.getLong(1), r.getLong(2))
      val sorted = cents(g)
      assert(n == sorted.length.toLong, s"group $g count")
      val want = sorted(((n + 1) / 2 - 1).toInt) // lower median, 1-based pick
      assert(med == want, s"group $g median")
      assert(r.getDouble(3) == med.toDouble / 100.0)
      assert(sorted.contains(med)) // the median IS a data value, never interpolated
    }
  }
}
