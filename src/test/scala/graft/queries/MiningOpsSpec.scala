package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** MiningOps: market-basket laws, TPC-H shape invariants, embed-outlier
  * determinism, SemDeDup drop-list laws. The heavy value checking is the
  * DuckDB oracle (all six entries are oracle-hash-checked); these specs
  * pin the invariants an oracle diff would not explain well.
  */
class MiningOpsSpec extends SparkSuite {
  import spark.implicits._

  test("q_time_decompose: trend/seasonal/residual recompute from local daily counts") {
    val rows = MiningOps.qTimeDecompose(spark, sf001).collect()
    assert(rows.nonEmpty)
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (_, rs) =>
      val days = rs.map(_.getDate(1).toLocalDate)
      // dense contiguous grid
      assert(days.zip(days.tail).forall { case (a, b) => b == a.plusDays(1) })
      val n = rs.map(_.getLong(2))
      rs.indices.foreach { i =>
        // centered 7-day MA with truncated edges: exact sum / count
        val lo = math.max(0, i - 3)
        val hi = math.min(rs.length - 1, i + 3)
        val want = n.slice(lo, hi + 1).sum.toDouble / (hi - lo + 1).toDouble
        assert(rs(i).getDouble(3) == want)
        // decomposition closes: n = trend + seasonal + residual
        assert(
          math.abs(
            n(i).toDouble -
              (rs(i).getDouble(3) + rs(i).getDouble(4) + rs(i).getDouble(5))) < 1e-9)
      }
      // seasonal is constant per day-of-week within a type
      val byDow = rs.groupBy(_.getDate(1).toLocalDate.getDayOfWeek)
      byDow.values.foreach(g => assert(g.map(_.getDouble(4)).distinct.length == 1))
    }
    // total event accounting: grid zero-fill must not invent events
    val total = rows.map(_.getLong(2)).sum
    assert(total == graft.Tables.events(spark, sf001).count())
  }

  // ------------------------------------------------------- market basket

  test("q_market_basket: ordered pairs, support threshold, exact lift") {
    val rows = MiningOps.qMarketBasket(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1)) // unordered pair canonical form
      assert(r.getLong(2) >= 3L) // support floor
    }
    // lift recomputed from first principles for one pair
    val li = graft.Tables.lineitem(spark, sf001)
    val items = li.select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct().cache()
    val n = items.select(countDistinct("o")).as[Long].head()
    val first = rows.head
    val (p1, p2, support) = (first.getLong(0), first.getLong(1), first.getLong(2))
    val c1 = items.where(col("p") === p1).count()
    val c2 = items.where(col("p") === p2).count()
    val expected = BigDecimal(support.toDouble * n / (c1.toDouble * c2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    assert(first.getDouble(3) == expected)
    items.unpersist()
  }

  // ------------------------------------------------------------ TPC-H Q1

  test("q_tpch_q1: group count closes to the filtered scan, sums positive") {
    val df = MiningOps.qTpchQ1(spark, sf001)
    val rows = df.collect()
    assert(rows.length == 6) // 3 return flags x 2 line statuses in this data
    val total = rows.map(_.getLong(9)).sum
    val scan = graft.Tables
      .lineitem(spark, sf001)
      .where(col("l_shipdate") <= lit("1998-12-01").cast("timestamp"))
      .count()
    assert(total == scan)
    rows.foreach { r =>
      // columns: ..., 3=sum_base_price, 4=sum_disc_price, 5=sum_charge
      // charge >= disc_price (tax >= 0) and disc_price <= base (discount >= 0)
      assert(r.getDouble(5) >= r.getDouble(4))
      assert(r.getDouble(4) <= r.getDouble(3))
      assert(r.getDouble(4) >= 0.0)
    }
  }

  test("q_tpch_q3: top-10 revenue is sorted and within the date gates") {
    val rows = MiningOps.qTpchQ3(spark, sf001).collect()
    assert(rows.length == 10)
    val revs = rows.map(_.getDouble(3))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
    // o_orderdate reads back as TIMESTAMP_NTZ => java.time.LocalDateTime
    rows.foreach(r =>
      assert(r.getAs[java.time.LocalDateTime](1)
        .isBefore(java.time.LocalDateTime.parse("1998-03-15T00:00:00"))))
  }

  test("q_tpch_q5: revenue per ASIA nation, local-supply condition holds") {
    val rows = MiningOps.qTpchQ5(spark, sf001).collect()
    assert(rows.nonEmpty)
    // every output nation is in ASIA
    val asia = graft.Tables
      .nation(spark, sf001)
      .join(
        graft.Tables.region(spark, sf001).where(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_name")
      .as[String]
      .collect()
      .toSet
    rows.foreach(r => assert(asia.contains(r.getString(0))))
    val revs = rows.map(_.getDouble(1))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
  }

  test("q_tpch_q10: top-20 returned revenue; winner matches a direct recompute") {
    val rows = MiningOps.qTpchQ10(spark, sf001).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val revs = rows.map(_.getDouble(5))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
    // direct per-customer recompute of the winner's revenue (exact cents)
    val winner = rows.head.getLong(0)
    val want = graft.Tables
      .orders(spark, sf001)
      .where(
        col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp") &&
          col("o_custkey") === winner)
      .join(
        graft.Tables.lineitem(spark, sf001).where(col("l_returnflag") === "R"),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long").as("c"))
      .agg(sum("c")).head.getLong(0)
    assert(rows.head.getDouble(5) == want.toDouble / 100.0)
  }

  test("q_tpch_q7: only the two nation pairs, both directions, years gated") {
    val rows = MiningOps.qTpchQ7(spark, sf001).collect()
    assert(rows.nonEmpty)
    val pairs = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.subsetOf(Set(("NATION_10", "NATION_12"), ("NATION_12", "NATION_10"))))
    rows.foreach { r =>
      val y = r.getInt(2)
      assert(y == 1996 || y == 1997)
      assert(r.getDouble(3) >= 0.0)
    }
    // sorted by (supp, cust, year)
    val keys = rows.map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(keys.sameElements(keys.sorted))
  }

  test("q_tpch_q4: per-priority count equals a local EXISTS recompute") {
    val rows = MiningOps.qTpchQ4(spark, sf001).collect()
    assert(rows.nonEmpty)
    // local recompute: orders in the quarter with >= 1 late line
    // (timestamps as epoch seconds — session TZ is UTC)
    val lateOrders = graft.Tables
      .lineitem(spark, sf001)
      .select(col("l_orderkey").as("k"), col("l_shipdate").cast("timestamp_ltz").cast("long").as("s"))
      .collect()
      .groupBy(_.getLong(0))
      .view
      .mapValues(_.map(_.getLong(1)).max)
      .toMap
    val want = graft.Tables
      .orders(spark, sf001)
      .select(
        col("o_orderkey"),
        col("o_orderdate").cast("timestamp_ltz").cast("long").as("s"),
        col("o_orderpriority"))
      .collect()
      .filter { r =>
        val od = r.getLong(1)
        val q0 = java.time.Instant.parse("1996-07-01T00:00:00Z").getEpochSecond
        val q1 = java.time.Instant.parse("1996-10-01T00:00:00Z").getEpochSecond
        od >= q0 && od < q1 &&
        lateOrders.getOrElse(r.getLong(0), Long.MinValue) > od + 60L * 86400L
      }
      .groupBy(_.getString(2))
      .view
      .mapValues(_.length.toLong)
      .toMap
    assert(rows.map(r => r.getString(0) -> r.getLong(1)).toMap == want)
    val names = rows.map(_.getString(0))
    assert(names.sameElements(names.sorted))
  }

  test("q_tpch_q6: revenue equals a local cents recompute of the filtered scan") {
    val rows = MiningOps.qTpchQ6(spark, sf001).collect()
    assert(rows.length == 1)
    val (rev, n) = (rows.head.getDouble(0), rows.head.getLong(1))
    // independent local recompute with the same exact-integer gates
    val lines = graft.Tables
      .lineitem(spark, sf001)
      .select(
        col("l_shipdate").cast("timestamp_ltz").cast("long").as("s"),
        col("l_discount"),
        col("l_quantity"),
        col("l_extendedprice"))
      .as[(Long, Double, Double, Double)]
      .collect()
    val y0 = java.time.Instant.parse("1997-01-01T00:00:00Z").getEpochSecond
    val y1 = java.time.Instant.parse("1998-01-01T00:00:00Z").getEpochSecond
    def r0(x: Double) =
      java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val kept = lines.filter { case (s, d, q, _) =>
      s >= y0 && s < y1 && { val dc = r0(d * 100); dc >= 5 && dc <= 7 } && q < 24.0
    }
    assert(n == kept.length.toLong && n > 0)
    assert(rev == kept.map { case (_, d, _, ep) => r0(ep * d * 100) }.sum.toDouble / 100.0)
  }

  test("q_tpch_q14: promo share is a consistent ratio of the two exact sums") {
    val rows = MiningOps.qTpchQ14(spark, sf001).collect()
    assert(rows.length == 1)
    val (pct, promo, total) = (rows.head.getDouble(0), rows.head.getDouble(1), rows.head.getDouble(2))
    assert(total > 0.0 && promo >= 0.0 && promo <= total)
    assert(pct >= 0.0 && pct <= 100.0)
    // the ratio re-derives from the published components (both are exact
    // cent sums scaled back, so reconstructing the cents is lossless)
    val pc = math.round(promo * 100)
    val tc = math.round(total * 100)
    val want = java.math.BigDecimal
      .valueOf(100.0 * pc.toDouble / tc.toDouble)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue
    assert(pct == want)
    // promo is a real slice of this data (p_type = 'PROMO' exists)
    assert(promo > 0.0)
  }

  test("q_tpch_q19: row count equals a local recompute of the disjunction") {
    val rows = MiningOps.qTpchQ19(spark, sf001).collect()
    assert(rows.length == 1)
    val (rev, n) = (rows.head.getDouble(0), rows.head.getLong(1))
    val parts = graft.Tables
      .part(spark, sf001)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
      .as[(Long, String, Int)]
      .collect()
      .map(p => p._1 -> (p._2, p._3))
      .toMap
    val kept = graft.Tables
      .lineitem(spark, sf001)
      .select(col("l_partkey"), col("l_quantity"))
      .as[(Long, Double)]
      .collect()
      .filter { case (pk, q) =>
        parts.get(pk).exists { case (b, s) =>
          (b == "Brand#12" && s >= 1 && s <= 5 && q >= 1.0 && q <= 11.0) ||
          (b == "Brand#23" && s >= 1 && s <= 10 && q >= 10.0 && q <= 20.0) ||
          (b == "Brand#3" && s >= 1 && s <= 15 && q >= 20.0 && q <= 30.0)
        }
      }
    assert(n == kept.length.toLong && n > 0)
    assert(rev > 0.0)
  }

  test("q_tpch_q12: counts close to a local late-line recompute; split is a partition") {
    val rows = MiningOps.qTpchQ12(spark, sf001).collect()
    assert(rows.nonEmpty && rows.length <= 3) // ≤ |returnflag|
    // local recompute of the late gate + priority split
    val orders = graft.Tables
      .orders(spark, sf001)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .as[(Long, java.sql.Timestamp, String)]
      .collect()
      .map(o => o._1 -> (o._2.getTime, o._3))
      .toMap
    val y0 = java.sql.Timestamp.valueOf("1997-01-01 00:00:00").getTime
    val y1 = java.sql.Timestamp.valueOf("1998-01-01 00:00:00").getTime
    val want = graft.Tables
      .lineitem(spark, sf001)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
      .as[(Long, String, java.sql.Timestamp)]
      .collect()
      .flatMap { case (ok, rf, sd) =>
        val s = sd.getTime
        orders.get(ok).collect {
          case (od, pri) if s >= y0 && s < y1 && s > od + 60L * 86400000L =>
            (rf, pri == "1-URGENT" || pri == "2-HIGH")
        }
      }
      .groupBy(_._1)
      .map { case (rf, g) => rf -> (g.count(_._2).toLong, g.count(!_._2).toLong) }
    rows.foreach { r =>
      val (hi, lo) = want(r.getString(0))
      assert(r.getLong(1) == hi && r.getLong(2) == lo)
    }
    assert(rows.map(_.getString(0)).toSeq == rows.map(_.getString(0)).toSeq.sorted)
  }

  test("q_tpch_q13: histogram closes to |customer|; excluded orders still count as 0") {
    val rows = MiningOps.qTpchQ13(spark, sf001).collect()
    val nCust = graft.Tables.customer(spark, sf001).count()
    assert(rows.map(_.getLong(1)).sum == nCust) // every customer in exactly one bucket
    // weighted total = number of non-URGENT orders (the join predicate)
    val nKept = graft.Tables
      .orders(spark, sf001)
      .where(col("o_orderpriority") =!= "1-URGENT")
      .count()
    assert(rows.map(r => r.getLong(0) * r.getLong(1)).sum == nKept)
    // sorted by custdist desc then c_count desc
    val key = rows.map(r => (-r.getLong(1), -r.getLong(0))).toSeq
    assert(key == key.sorted)
  }

  test("q_tpch_q15: winner's exact cent revenue is the max over all suppliers") {
    val rows = MiningOps.qTpchQ15(spark, sf001).collect()
    assert(rows.nonEmpty)
    val perSupp = graft.Tables
      .lineitem(spark, sf001)
      .where(
        col("l_shipdate") >= lit("1997-10-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      .as[(Long, Double, Double)]
      .collect()
      .groupBy(_._1)
      .map { case (sk, g) =>
        sk -> g.map { case (_, ep, d) =>
          java.math.BigDecimal
            .valueOf(ep * (1.0 - d) * 100)
            .setScale(0, java.math.RoundingMode.HALF_UP)
            .longValue
        }.sum
      }
    val maxC = perSupp.values.max
    val winners = perSupp.filter(_._2 == maxC).keys.toSeq.sorted
    assert(rows.map(_.getLong(0)).toSeq == winners)
    rows.foreach(r => assert(r.getDouble(2) == maxC.toDouble / 100.0))
  }

  test("q_tpch_q17: the quantity gate is the exact cross-multiplied fifth-of-average") {
    val rows = MiningOps.qTpchQ17(spark, sf001).collect()
    assert(rows.length == 1)
    val (avgY, n) = (rows.head.getDouble(0), rows.head.getLong(1))
    // local recompute: per-part (n, sum_qc) over Brand#23 lines, then the gate
    val brand = graft.Tables
      .part(spark, sf001)
      .where(col("p_brand") === "Brand#23")
      .select(col("p_partkey"))
      .as[Long]
      .collect()
      .toSet
    def r0(x: Double) =
      java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val lines = graft.Tables
      .lineitem(spark, sf001)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .as[(Long, Double, Double)]
      .collect()
      .filter(l => brand.contains(l._1))
      .map { case (pk, q, ep) => (pk, r0(q * 100), r0(ep * 100)) }
    val pp = lines.groupBy(_._1).map { case (pk, g) => pk -> (g.length.toLong, g.map(_._2).sum) }
    val kept = lines.filter { case (pk, qc, _) =>
      val (cnt, sq) = pp(pk); 5L * qc * cnt < sq
    }
    assert(n == kept.length.toLong && n > 0)
    val want = java.math.BigDecimal
      .valueOf(kept.map(_._3).sum.toDouble / 100.0 / 7.0)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue
    assert(avgY == want)
  }

  test("q_tpch_q22: members are above-average balances with no 2000+ orders") {
    val rows = MiningOps.qTpchQ22(spark, sf001).collect()
    assert(rows.nonEmpty)
    def r0(x: Double) =
      java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val cust = graft.Tables
      .customer(spark, sf001)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .as[(Long, Int, Double)]
      .collect()
      .map { case (ck, nk, b) => (ck, nk, r0(b * 100)) }
    val pos = cust.filter(_._3 > 0L)
    val (s, cnt) = (pos.map(_._3).sum, pos.length.toLong)
    val recent = graft.Tables
      .orders(spark, sf001)
      .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey"))
      .as[Long]
      .collect()
      .toSet
    val want = cust
      .filter(c => c._3 * cnt > s && !recent.contains(c._1))
      .groupBy(_._2)
      .map { case (nk, g) => nk -> (g.length.toLong, g.map(_._3).sum) }
    assert(rows.map(_.getInt(0)).toSet == want.keySet)
    rows.foreach { r =>
      val (nc, bal) = want(r.getInt(0))
      assert(r.getLong(1) == nc && r.getDouble(2) == bal.toDouble / 100.0)
    }
  }

  test("q_tpch_q8: share re-derives from its own components; years gated") {
    val rows = MiningOps.qTpchQ8(spark, sf001).collect()
    assert(rows.nonEmpty && rows.length <= 2)
    rows.foreach { r =>
      val y = r.getInt(0)
      assert(y == 1996 || y == 1997)
      val (share, natRev, totRev) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(natRev >= 0.0 && natRev <= totRev && totRev > 0.0)
      // both components are exact cent sums scaled back: reconstruct
      val nc = math.round(natRev * 100); val tc = math.round(totRev * 100)
      val want = java.math.BigDecimal
        .valueOf(nc.toDouble / tc.toDouble)
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue
      assert(share == want)
    }
    assert(rows.map(_.getInt(0)).toSeq == rows.map(_.getInt(0)).toSeq.sorted)
  }

  test("q_tpch_q16: cells recompute from a local distinct set; deny list excluded") {
    val rows = MiningOps.qTpchQ16(spark, sf001).collect()
    assert(rows.nonEmpty)
    val deny = graft.Tables
      .supplier(spark, sf001)
      .where(col("s_acctbal") < 0.0)
      .select(col("s_suppkey"))
      .as[Long]
      .collect()
      .toSet
    val sizes = Set(1, 5, 10, 15, 20, 25, 30, 35)
    val parts = graft.Tables
      .part(spark, sf001)
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      .as[(Long, String, String, Int)]
      .collect()
      .filter(p => p._2 != "Brand#1" && p._3 != "PROMO" && sizes.contains(p._4))
      .map(p => p._1 -> (p._2, p._3, p._4))
      .toMap
    val want = graft.Tables
      .lineitem(spark, sf001)
      .select(col("l_partkey"), col("l_suppkey"))
      .as[(Long, Long)]
      .collect()
      .filter { case (pk, sk) => !deny.contains(sk) && parts.contains(pk) }
      .map { case (pk, sk) => (parts(pk), sk) }
      .distinct
      .groupBy(_._1)
      .map { case (cell, g) => cell -> g.length.toLong }
    assert(rows.length == want.size)
    rows.foreach { r =>
      assert(want((r.getString(0), r.getString(1), r.getInt(2))) == r.getLong(3))
    }
    // sorted: supplier_cnt desc then cell ascending
    val key = rows.map(r => (-r.getLong(3), r.getString(0), r.getString(1), r.getInt(2))).toSeq
    assert(key == key.sorted)
  }

  test("q_tpch_q21: numwait equals a local only-late-supplier recompute") {
    val rows = MiningOps.qTpchQ21(spark, sf001).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val od = graft.Tables
      .orders(spark, sf001)
      .select(col("o_orderkey"), col("o_orderdate").cast("timestamp_ltz").cast("long"))
      .as[(Long, Long)]
      .collect()
      .toMap
    val want = graft.Tables
      .lineitem(spark, sf001)
      .select(
        col("l_orderkey"),
        col("l_suppkey"),
        col("l_shipdate").cast("timestamp_ltz").cast("long"))
      .as[(Long, Long, Long)]
      .collect()
      .groupBy(_._1)
      .flatMap { case (ok, ls) =>
        val suppliers = ls.map(_._2).distinct
        val lateS = ls.filter(l => l._3 > od(ok) + 60L * 86400L).map(_._2).distinct
        if (suppliers.length >= 2 && lateS.length == 1) Some(lateS.head) else None
      }
      .groupBy(identity)
      .map { case (sk, g) => sk -> g.size.toLong }
    rows.foreach(r => assert(want(r.getLong(0)) == r.getLong(2)))
    // top-20 by (numwait desc, name): verify the cut is the true top
    val cut = rows.map(_.getLong(2)).min
    val above = want.values.count(_ > cut)
    assert(above <= rows.count(_.getLong(2) > cut))
    val nw = rows.map(_.getLong(2)).toSeq
    assert(nw == nw.sorted.reverse)
  }

  test("q_time_lttb: equals a local LTTB recompute; endpoints pinned, days increase") {
    val rows = MiningOps.qTimeLttb(spark, sf001).collect()
    assert(rows.nonEmpty)
    // independent local recompute per event type
    val daily = graft.Tables
      .events(spark, sf001)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .as[(String, java.sql.Date, Long)]
      .collect()
    val want = daily.groupBy(_._1).toSeq.flatMap { case (et, g) =>
      val pts = g.sortBy(_._2.getTime).zipWithIndex.map { case ((_, d, y), i) => (i, d, y) }
      val n = pts.length
      val sel =
        if (n <= 10) pts.toSeq
        else {
          var a = pts(0)
          val mid = (0 until 8).map { i =>
            val lo = 1 + i * (n - 2) / 8
            val hi = 1 + (i + 1) * (n - 2) / 8
            val (cx, cy, m) =
              if (i < 7) {
                val nb = pts.slice(1 + (i + 1) * (n - 2) / 8, 1 + (i + 2) * (n - 2) / 8)
                (nb.map(_._1.toLong).sum, nb.map(_._3).sum, nb.length.toLong)
              } else (pts(n - 1)._1.toLong, pts(n - 1)._3, 1L)
            val best = pts.slice(lo, hi).maxBy { p =>
              val area = ((a._1 * m - cx) * (p._3 - a._3) -
                (a._1 - p._1.toLong) * (cy - a._3 * m)).abs
              (area, -p._1.toLong)
            }
            a = best
            best
          }
          pts(0) +: mid :+ pts(n - 1)
        }
      sel.zipWithIndex.map { case ((_, d, y), b) => (et, b, d.toString, y) }
    }.sortBy(t => (t._1, t._2))
    val got = rows.map(r =>
      (r.getString(0), r.getInt(1), r.getDate(2).toString, r.getLong(3))).toSeq
    assert(got == want)
    // laws: bucket 0 is the series start, the last bucket its end, days increase
    got.groupBy(_._1).foreach { case (et, rs) =>
      val series = daily.filter(_._1 == et).map(_._2.toString).sorted
      assert(rs.head._3 == series.head && rs.last._3 == series.last)
      val ds = rs.sortBy(_._2).map(_._3)
      assert(ds.zip(ds.tail).forall { case (x, y) => x < y })
    }
  }

  // -------------------------------------------------------- embed outlier

  test("q_embed_outlier: 20 ascending-cosine rows, stable across partitionings") {
    val a = MiningOps.qEmbedOutlier(spark, sf001).collect()
    assert(a.length == 20)
    val cs = a.map(_.getDouble(2))
    assert(cs.zip(cs.tail).forall { case (x, y) => x <= y })
    // fixed-point centroid + kernel dots => bit-identical on a second run
    val b = MiningOps.qEmbedOutlier(spark, sf001).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  // ------------------------------------------------------------ semdedup

  test("q_semdedup: keep_id is a lower id in the same label with cos >= threshold") {
    val rows = MiningOps.qSemDedup(spark, sf001).collect()
    assert(rows.nonEmpty)
    val emb = graft.Tables
      .embeddings(spark, sf001)
      .select("vec_id", "label", "embedding")
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Float](2).toArray))
      .toMap
    def cos(x: Array[Float], y: Array[Float]): Double = {
      def dot(a: Array[Float], b: Array[Float]): Double =
        a.zip(b).map { case (p, q) =>
          graft.functions.ScaledDot.roundHalfAway(p.toDouble * q.toDouble * 1e12)
        }.sum.toDouble / 1e12
      dot(x, y) / (math.sqrt(dot(x, x)) * math.sqrt(dot(y, y)))
    }
    rows.foreach { r =>
      val (dropId, keepId) = (r.getLong(0), r.getLong(1))
      assert(keepId < dropId)
      val (dl, de) = emb(dropId)
      val (kl, ke) = emb(keepId)
      assert(dl == kl)
      assert(cos(de, ke) >= 0.3)
    }
    // drop rule is "any lower-id similar neighbor": a dropped id may
    // still appear as keep_id for an even later one, but never drops itself
    rows.foreach(r => assert(r.getLong(0) != r.getLong(1)))
  }

  // ------------------------------------------------------------- quadkey

  test("tile_quadkey: digit law and parent-prefix property") {
    val rows = TileQueries
      .tileQuadkey(spark, sf001)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getString(3))
      .toMap
    assert(rows.nonEmpty)
    // independent digit-by-digit reference (Bing quadkey definition)
    def ref(level: Int, row: Int, col: Int): String =
      (level - 1 to 0 by -1).map { i =>
        ('0' + 2 * ((row >> i) & 1) + ((col >> i) & 1)).toChar
      }.mkString
    rows.foreach { case ((l, r, c), qk) =>
      assert(qk.length == l)
      assert(qk == ref(l, r, c), s"level $l row $r col $c")
    }
    // a child's key extends its parent's by exactly one digit
    rows.foreach { case ((l, r, c), qk) =>
      rows.get((l - 1, r >> 1, c >> 1)).foreach(pk => assert(qk.startsWith(pk)))
    }
  }

  // ------------------------------------------------- as-of with tolerance

  test("q_join_asof_tolerance: stale matches null out, fresh ones agree with asof") {
    // event ts reads back as legacy java.sql.Timestamp (LTZ, UTC session),
    // o_orderdate as LocalDateTime (NTZ) — normalize both for comparison
    def ldt(v: Any): java.time.LocalDateTime = v match {
      case t: java.sql.Timestamp => t.toLocalDateTime
      case d: java.time.LocalDateTime => d
      case other => fail(s"unexpected temporal $other")
    }
    val asof = Relational
      .qJoinAsof(spark, sf001)
      .collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(ldt))
      .toMap
    val tol = Relational.qJoinAsofTolerance(spark, sf001).collect()
    assert(tol.nonEmpty)
    var nulled = 0
    tol.foreach { r =>
      val ts = ldt(r.get(2))
      val fresh = Option(r.get(3)).map(ldt)
      val base = asof(r.getLong(0))
      fresh match {
        case Some(d) =>
          assert(base.contains(d))
          assert(!d.isBefore(ts.minusDays(1)))
        case None =>
          nulled += 1
          // either no order at all, or the latest one is stale
          base.foreach(d => assert(d.isBefore(ts.minusDays(1))))
      }
    }
    assert(nulled > 0) // tolerance actually bites on this data
  }

  // -------------------------------------------------------------- linreg

  test("q_agg_linreg: slope/intercept minimize SSE locally; r2 = corr^2") {
    val lr = MiningOps.qAggLinreg(spark, sf001).collect()
    assert(lr.nonEmpty)
    val corr = CorpusOps
      .qAggCorr(spark, sf001)
      .collect()
      .map(r => r.getString(0) -> r.getDouble(2))
      .toMap
    lr.foreach { r =>
      val (flag, slope, r2) = (r.getString(0), r.getDouble(2), r.getDouble(4))
      assert(math.abs(r2 - corr(flag) * corr(flag)) < 1e-6)
      // nudging the slope off the OLS optimum must not reduce SSE
      val pts = graft.Tables
        .lineitem(spark, sf001)
        .where(col("l_returnflag") === flag)
        .select("l_quantity", "l_extendedprice")
        .collect()
        .map(p => (p.getDouble(0), p.getDouble(1)))
      val intercept = r.getDouble(3)
      def sse(m: Double, b: Double): Double =
        pts.map { case (x, y) => val e = y - (m * x + b); e * e }.sum
      val base = sse(slope, intercept)
      assert(base <= sse(slope * 1.01, intercept) + 1e-6)
      assert(base <= sse(slope * 0.99, intercept) + 1e-6)
    }
  }

  // --------------------------------------------------------------- drift

  test("q_dq_drift: 10 bins, counts close, PSI terms sign-consistent") {
    val rows = MiningOps.qDqDrift(spark, sf001).collect()
    assert(rows.map(_.getInt(0)).toSeq == (0 until 10))
    val total = rows.map(r => r.getLong(1) + r.getLong(2)).sum
    assert(total == graft.Tables.orders(spark, sf001).count())
    // PSI term is (p-q)ln(p/q): zero iff shares equal, else positive
    rows.foreach(r => assert(r.getDouble(3) >= 0.0))
  }

  test("q_privacy_ldiversity: flagged classes are single-signed") {
    val rows = MiningOps.qPrivacyLdiversity(spark, sf001).collect()
    rows.foreach(r => assert(r.getLong(3) == 1L))
    // recompute one flagged class from the base table
    if (rows.nonEmpty) {
      val r = rows.head
      val signs = graft.Tables
        .customer(spark, sf001)
        .where(col("c_nationkey") === r.getInt(0) && col("c_mktsegment") === r.getString(1))
        .select(when(col("c_acctbal") < 0, "neg").otherwise("nonneg").as("s"))
        .distinct()
        .count()
      assert(signs == 1L)
    }
  }

  // ----------------------------------------------------------- table diff

  test("q_table_diff: statuses partition correctly by the derivation rules") {
    val rows = MiningOps.qTableDiff(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getLong(0)
      r.getString(1) match {
        case "added" => assert(k % 10 == 3 && k % 10 != 7)
        case "removed" => assert(k % 10 == 7)
        case "changed" =>
          assert(k % 4 == 0 && k % 10 != 3 && k % 10 != 7)
          assert(math.abs(r.getDouble(3) - r.getDouble(2) - 1.5) < 1e-9)
        case other => fail(s"unexpected status $other")
      }
    }
    assert(rows.map(_.getString(1)).toSet == Set("added", "removed", "changed"))
  }

  // ------------------------------------------------------------- pagerank

  test("q_graph_pagerank: ranks positive, sum near 1, flow concentrates mass") {
    val rows = MiningOps.qGraphPagerank(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(1) > 0.0))
    // with no dangling mass the ranks of a stochastic matrix sum to ~1
    val s = rows.map(_.getDouble(1)).sum
    assert(math.abs(s - 1.0) < 1e-3, s"rank mass $s")
    // determinism across runs (fixed-point contributions)
    val again = MiningOps.qGraphPagerank(spark, sf001).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  // ---------------------------------------------------------- seasonality

  test("q_events_holt: recurrence replays locally; forecasts extrapolate the trend") {
    val rows = MiningOps.qEventsHolt(spark, sf001).collect()
    assert(rows.nonEmpty)
    // recompute one event type's Holt state from its daily counts
    val et = rows.head.getString(0)
    val daily = graft.Tables
      .events(spark, sf001)
      .where(org.apache.spark.sql.functions.col("event_type") === et)
      .groupBy(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")).as("day"))
      .count()
      .collect()
      .map(r => r.getDate(0).getTime -> r.getLong(1))
      .sortBy(_._1)
      .map(_._2 * 1000000L)
    var l = daily.head
    var b = 0L
    daily.drop(1).foreach { y =>
      val lNew = Math.floorDiv(y + l + b + 1L, 2L)
      b = Math.floorDiv((lNew - l) + b + 1L, 2L)
      l = lNew
    }
    val r0 = rows.head
    assert(r0.getLong(1) == daily.length.toLong)
    assert(r0.getDouble(2) == l.toDouble / 1e6)
    assert(r0.getDouble(3) == b.toDouble / 1e6)
    // forecasts are exact linear extrapolation of (level, trend)
    rows.foreach { r =>
      val (lv, tr) = (r.getDouble(2), r.getDouble(3))
      assert(math.abs(r.getDouble(4) - (lv + tr)) < 1e-9)
      assert(math.abs(r.getDouble(6) - (lv + 3 * tr)) < 1e-9)
    }
  }

  test("q_events_autocorr: lag-0 identity, bounds, local recompute") {
    val rows = MiningOps.qEventsAutocorr(spark, sf001).collect()
    assert(rows.nonEmpty)
    // |r_k| <= 1 (Cauchy-Schwarz on the deviation vectors)
    rows.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-12))
    // full local recompute of one type's ACF from the daily counts
    val et = rows.head.getString(0)
    val ys = graft.Tables
      .events(spark, sf001)
      .where(col("event_type") === et)
      .groupBy(to_date(col("ts")).as("day"))
      .count()
      .collect()
      .map(r => r.getDate(0).getTime -> r.getLong(1))
      .sortBy(_._1)
      .map(_._2)
    val n = ys.length.toLong
    val s = ys.sum
    val d = ys.map(_ * n - s)
    val den = d.map(x => x * x).sum
    val byLag = rows.filter(_.getString(0) == et).map(r => r.getInt(1) -> r.getDouble(3)).toMap
    (1 to 7).foreach { k =>
      val num = d.dropRight(k).zip(d.drop(k)).map { case (a, b) => a * b }.sum
      assert(byLag(k) == num.toDouble / den.toDouble, s"lag $k")
    }
  }

  test("autocorr/changepoint throw loudly past the LONG exactness bound (r10)") {
    import java.sql.Date
    // Crafted daily series whose deviations overflow the d*d product:
    // y2*n = 6e18 and S ~ 2e18 are in range, but d2 ~ 4e18 makes
    // d2^2 ~ 1.6e37 >> 2^63. Pre-r10 this wrapped silently (engine
    // drifting from the aborting DuckDB oracle); now it must throw.
    val daily = Seq(
      ("a", Date.valueOf("2024-01-01"), 1000000000000000L),
      ("a", Date.valueOf("2024-01-02"), 2000000000000000000L),
      ("a", Date.valueOf("2024-01-03"), 3000000000000000L))
      .toDF("event_type", "day", "y")
    def fullMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).flatMap(c => Option(c.getMessage)).mkString("\n")
    val eAcf = intercept[Exception] {
      MiningOps.autocorrCore(daily).collect()
    }
    assert(fullMsg(eAcf).contains("overflow"), fullMsg(eAcf))
    // changepoint: overflow must hit a SURVIVING row (t < n): with
    // y = 2e18 each, cumy at t=2 is 4e18 and cumy*n = 1.2e19 > 2^63
    // (S = 6e18 itself stays in range)
    val dailyCp = Seq(
      ("a", Date.valueOf("2024-01-01"), 2000000000000000000L),
      ("a", Date.valueOf("2024-01-02"), 2000000000000000000L),
      ("a", Date.valueOf("2024-01-03"), 2000000000000000000L))
      .toDF("event_type", "day", "y")
    val eCp = intercept[Exception] {
      MiningOps.changepointCore(dailyCp).collect()
    }
    assert(fullMsg(eCp).contains("overflow"), fullMsg(eCp))
    // and a well-inside-bound series still computes exactly (the guard
    // costs a checked multiply, not a semantics change)
    val ok = Seq(
      ("a", Date.valueOf("2024-01-01"), 10L),
      ("a", Date.valueOf("2024-01-02"), 30L),
      ("a", Date.valueOf("2024-01-03"), 20L))
      .toDF("event_type", "day", "y")
    // d = (-30, 30, 0); den = 1800; num1 = -30*30 + 30*0 = -900
    val acf1 = MiningOps.autocorrCore(ok).collect().find(_.getInt(1) == 1).get.getDouble(3)
    assert(acf1 == -0.5, acf1.toString)
    val cp = MiningOps.changepointCore(ok).collect()(0)
    assert(cp.getDate(2) == Date.valueOf("2024-01-01"), cp.toString)
  }

  test("q_events_changepoint: split maximizes |cusum|, means bracket the level shift") {
    val rows = MiningOps.qEventsChangepoint(spark, sf001).collect()
    assert(rows.nonEmpty)
    val et = rows.head.getString(0)
    val ys = graft.Tables
      .events(spark, sf001)
      .where(col("event_type") === et)
      .groupBy(to_date(col("ts")).as("day"))
      .count()
      .collect()
      .map(r => r.getDate(0).getTime -> r.getLong(1))
      .sortBy(_._1)
    val n = ys.length.toLong
    val s = ys.map(_._2).sum
    // local argmax over the same n-scaled cumulative deviations
    val cums = ys.map(_._2).scanLeft(0L)(_ + _).drop(1).zipWithIndex.dropRight(1).map {
      case (cumy, i) => (cumy * n - (i + 1) * s, i + 1, cumy)
    }
    val best = cums.maxBy(c => (math.abs(c._1), -c._2))
    val r0 = rows.head
    assert(r0.getLong(1) == n)
    assert(r0.getDouble(3) == best._1.toDouble / n.toDouble)
    assert(r0.getDouble(4) == best._3.toDouble / best._2.toDouble)
    assert(r0.getDouble(5) == (s - best._3).toDouble / (n - best._2).toDouble)
  }

  test("q_events_forecast_eval: mae <= max err, train length = n - 3, holt state agrees") {
    val evalRows = MiningOps.qEventsForecastEval(spark, sf001).collect()
    val holt = MiningOps
      .qEventsHolt(spark, sf001)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(evalRows.nonEmpty)
    evalRows.foreach { r =>
      assert(r.getLong(1) == holt(r.getString(0)) - 3) // trained on all but holdout
      assert(r.getDouble(2) >= 0.0)
      assert(r.getDouble(2) <= r.getDouble(3) + 1e-12) // mean |e| <= max |e|
      assert(r.getDouble(3) >= r.getDouble(2))
    }
  }

  test("q_events_seasonality: totals close, chi2 >= 0, uniform data scores 0") {
    val rows = MiningOps.qEventsSeasonality(spark, sf001).collect()
    assert(rows.nonEmpty)
    val byType = graft.Tables
      .events(spark, sf001)
      .groupBy("event_type")
      .count()
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    rows.foreach { r =>
      assert(r.getLong(1) == byType(r.getString(0))) // grid closure
      assert(r.getDouble(2) >= 0.0)
      assert(r.getBoolean(3) == r.getDouble(2) > 12.592)
    }
  }

  // ------------------------------------------------------ LSH calibration

  test("q_dedup_near_eval: counts consistent, ratios in [0,1]") {
    val r = MiningOps.qDedupNearEval(spark, sf001).collect().head
    val (nc, nt, nh) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nh <= math.min(nc, nt))
    assert(nt > 0) // ground truth exists at sf0.001
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
  }

  // ---------------------------------------------------------------- EWMA

  test("q_events_ewma: first event per user equals its own value") {
    val ew = MiningOps.qEventsEwma(spark, sf001)
    val first = graft.Tables
      .events(spark, sf001)
      .withColumn(
        "rn",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("user_id")
            .orderBy(col("ts").asc, col("event_id").asc)))
      .where(col("rn") === 1)
      .select(col("event_id"), col("value"))
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    val got = ew.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(first.nonEmpty)
    first.foreach { case (eid, v) =>
      val expected = BigDecimal(math.round(v * 1e6).toDouble * 16 / 16 / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      assert(math.abs(got(eid) - expected) < 1e-9, s"event $eid")
    }
  }

  // ------------------------------------------------------ vocab overlap

  test("q_source_vocab_overlap: jaccard bounds and one pair recounted from sets") {
    val rows = MiningOps.qSourceVocabOverlap(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0))
    val top = rows.head
    val vocab = graft.Tables
      .documents(spark, sf001)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .distinct()
      .collect()
      .groupBy(_.getString(0))
      .map { case (s, ts) => s -> ts.map(_.getString(1)).toSet }
    val (s1, s2) = (top.getString(0), top.getString(1))
    val inter = (vocab(s1) & vocab(s2)).size.toLong
    assert(top.getLong(2) == inter)
    val expect = BigDecimal(inter.toDouble / (vocab(s1).size + vocab(s2).size - inter))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    assert(top.getDouble(3) == expect)
  }

  // ------------------------------------------------------------ pareto

  test("q_orders_pareto: the crossover rank really is the 80% point") {
    val rows = MiningOps.qOrdersPareto(spark, sf001).collect()
    assert(rows.length == 5) // five market segments
    rows.foreach { r =>
      assert(r.getLong(2) >= 1L && r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    }
    // recount one segment by brute force
    val seg = rows.head.getString(0)
    val spends = graft.Tables
      .orders(spark, sf001)
      .join(graft.Tables.customer(spark, sf001), col("o_custkey") === col("c_custkey"))
      .where(col("c_mktsegment") === seg)
      .groupBy("c_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(r => (-r._2, r._1))
    val total = spends.map(_._2).sum
    var cum = 0L
    val paretoN = spends.indexWhere { case (_, c) => cum += c; cum * 5 >= total * 4 } + 1
    assert(rows.head.getLong(2) == paretoN.toLong)
  }

  // ---------------------------------------------------------- TPC-H Q18

  test("q_tpch_q18: every order clears the quantity floor; ordered by price") {
    val rows = MiningOps.qTpchQ18(spark, sf001).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach(r => assert(r.getDouble(4) > 250.0))
    val prices = rows.map(_.getDouble(3))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
    // floor recomputed independently: the flagged order set matches
    val flagged = graft.Tables
      .lineitem(spark, sf001)
      .groupBy("l_orderkey")
      .agg(sum(round(col("l_quantity") * 100).cast("long")).as("qc"))
      .where(col("qc") > 25000)
      .count()
    assert(rows.length == math.min(20, flagged.toInt))
  }

  // ------------------------------------------------------- attribution

  test("q_events_attribution: both models conserve the attributed value") {
    val rows = MiningOps.qEventsAttribution(spark, sf001).collect()
    assert(rows.nonEmpty)
    // every attributed purchase's value is fully distributed: the linear
    // credits and the last-touch credits both sum to the same total —
    // the sum of values of purchases that have >= 1 touch
    val ev = graft.Tables.events(spark, sf001)
    val clicks = ev
      .where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"))
    val attributed = ev
      .where(col("event_type") === "purchase")
      .join(
        clicks,
        Seq("user_id"))
      .where(col("ts") >= col("cts") && col("ts") <= col("cts") + expr("INTERVAL 30 MINUTES"))
      .select(col("event_id"), col("value"))
      .distinct()
      .collect()
    val expectFp = attributed.map(r => math.round(r.getDouble(1) * 1e6)).sum
    val lastFp = rows.map(r => math.round(r.getDouble(4) * 1e6)).sum
    assert(lastFp == expectFp)
    // linear credits re-assemble each purchase's value up to the 1e-6
    // per-share rounding (n_touch shares, each rounded once)
    val linFp = rows.map(r => math.round(r.getDouble(3) * 1e6)).sum
    assert(math.abs(linFp - expectFp) <= attributed.length * 50L)
  }

  // ------------------------------------------------------------- PCA

  test("q_embed_pca: equals a local replay; unit norm; dominant direction") {
    val rows = MiningOps.qEmbedPca(spark, sf001).collect()
    assert(rows.length == 64)
    val loadings = rows.sortBy(_.getInt(0)).map(_.getDouble(1))
    // unit norm up to the 1e-6 component quantization
    val nrm = math.sqrt(loadings.map(x => x * x).sum)
    assert(math.abs(nrm - 1.0) < 1e-4)

    // local replay of the exact same fixed-point schedule
    val embs = graft.Tables
      .embeddings(spark, sf001)
      .select("vec_id", "embedding")
      .collect()
      .map(r => r.getSeq[Float](1).toArray)
    val n = embs.length
    // away-from-zero rounding — what Spark round() and DuckDB round()
    // both do on negatives (math.round goes toward +inf instead)
    def rnd(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    var v = Array.fill(64)(0.125)
    for (_ <- 1 to 3) {
      val sFp = embs.map { e =>
        e.indices.map(j => rnd(e(j).toDouble * v(j) * 1e9)).sum
      }
      val wFp = Array.tabulate(64) { j =>
        embs.indices.map(i => rnd(embs(i)(j).toDouble * (sFp(i).toDouble / 1e9) * 1e9)).sum
      }
      val wd = wFp.map(_.toDouble / 1e9 / n)
      val nsqFp = wd.map(x => math.round(x * x * 1e9)).sum
      val norm = math.sqrt(nsqFp.toDouble / 1e9)
      v = wd.map(x => BigDecimal(x / norm).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(loadings.toSeq == v.toSeq)
  }
}
