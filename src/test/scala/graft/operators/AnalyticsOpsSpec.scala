package graft.operators

import graft.{SparkSpec, SparkSuite, Tables}

/** Semantic invariants for the event-analytics / lake-maintenance group —
  * properties that must hold on ANY input, complementing the hash oracle
  * (which pins one dataset's answer). */
class AnalyticsOpsSpec extends SparkSuite {

  private val sf = SparkSpec.sf0001

  test("g_event_funnel: stage populations are monotone non-increasing") {
    val rows = AnalyticsOps.gEventFunnel(spark, sf).collect()
    assert(rows.length == 3)
    val byStage = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStage("1_view") >= byStage("2_click"),
      s"click-through exceeded views: $byStage")
    assert(byStage("2_click") >= byStage("3_purchase"),
      s"purchases exceeded clicks: $byStage")
    assert(byStage("1_view") > 0)
  }

  test("g_cohort_retention: offsets are non-negative and every cohort has a week-0 row") {
    val rows = AnalyticsOps.gCohortRetention(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(1) >= 0), "negative week offset")
    val cohorts = rows.map(_.getDate(0)).distinct
    val withZero = rows.filter(_.getLong(1) == 0).map(_.getDate(0)).distinct
    // a user's first event lands in their cohort week by construction
    assert(cohorts.sorted.sameElements(withZero.sorted),
      "some cohort is missing its week-0 activity row")
  }

  test("g_gap_fill: the hour axis is dense — per-day hours sum to the full inclusive range") {
    val rows = AnalyticsOps.gGapFill(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(1) <= 24), "a day reported more than 24 hours")
    val totalHours = rows.map(_.getLong(1)).sum
    val gapHours = rows.map(_.getLong(2)).sum
    val events = rows.map(_.getLong(3)).sum
    assert(gapHours > 0, "threshold produced no gaps — the fill is untested")
    assert(gapHours < totalHours, "every hour is a gap — the sparse side is empty")
    assert(events > 0)
  }

  test("d_regression: r² in [0,1], moments cover the whole table") {
    val rows = AnalyticsOps.dRegression(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val r2 = r.getDouble(6)
      assert(r2 >= 0.0 && r2 <= 1.0, s"r² out of range: $r2")
    }
    val n = rows.map(_.getLong(1)).sum
    val total = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(n == total, s"moment rows $n != lineitem rows $total")
  }

  test("a_compaction_bins: bins conserve file counts and bytes and are ordered per month") {
    // Contiguity of bin ids is NOT asserted: one file over the 64 KiB
    // target legitimately makes the cumulative sum skip ids — the plan is
    // still correct. What must always hold: bins start at 0, ids strictly
    // increase with disjoint non-overlapping file ranges, and the binned
    // totals conserve the synthesized manifest exactly.
    val rows = AnalyticsOps.aCompactionBins(spark, sf).collect()
    assert(rows.nonEmpty)
    val byMonth = rows.groupBy(_.getDate(0))
    byMonth.foreach { case (m, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.head.getLong(1) == 0L, s"$m: first bin is not 0")
      val bins = sorted.map(_.getLong(1))
      assert(bins.distinct.length == bins.length, s"$m: duplicate bin ids")
      // file ranges of successive bins must not overlap (last_file < next first_file)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(5) < b.getLong(4),
            s"$m: bin ${a.getLong(1)} file range overlaps bin ${b.getLong(1)}")
        case _ => ()
      }
      sorted.foreach(r => assert(r.getLong(2) >= 1 && r.getLong(3) >= 1,
        s"$m: empty bin ${r.getLong(1)}"))
    }
    // conservation: binned files and bytes equal the manifest recomputed
    // straight from lineitem with the same deterministic synthesis rule
    val manifest = spark.sql(
      """SELECT count(*) AS n, sum(sz) AS bytes FROM (
        |  SELECT count(*) * 64 + sum(CAST(l_quantity AS BIGINT)) * 8 AS sz
        |  FROM parquet.`%s/lineitem.parquet`
        |  GROUP BY CAST(date_trunc('month', l_shipdate) AS DATE), l_orderkey DIV 400)"""
        .stripMargin.format(sf)).head
    assert(rows.map(_.getLong(2)).sum == manifest.getLong(0), "file count not conserved")
    assert(rows.map(_.getLong(3)).sum == manifest.getLong(1), "byte total not conserved")
  }

  test("h_inverted_index: df <= cf everywhere, ranking is by descending cf") {
    val rows = AnalyticsOps.hInvertedIndex(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2),
        s"term ${r.getString(0)}: df ${r.getLong(1)} > cf ${r.getLong(2)}")
    }
    val cfs = rows.map(_.getLong(2))
    assert(cfs.zip(cfs.tail).forall { case (a, b) => a >= b }, "cf ordering broken")
  }

  test("h_corpus_merge: action counts reconcile with the base corpus and the delta rules") {
    val rows = AnalyticsOps.hCorpusMerge(spark, sf).collect()
    val byAction = rows.groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val total = base.count()
    val deleted = base.filter("doc_id % 11 = 0").count()
    val updated = base.filter("doc_id % 7 = 0 AND doc_id % 11 <> 0").count()
    val inserted = base.filter("doc_id % 13 = 0").count()
    assert(byAction("deleted") == deleted)
    assert(byAction("updated") == updated)
    assert(byAction("inserted") == inserted)
    assert(byAction("kept") == total - deleted - updated)
  }

  test("g_concurrency: peaks bounded by opens, session totals conserve the event log") {
    val rows = AnalyticsOps.gConcurrency(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (peak, sessions) = (r.getLong(1), r.getLong(2))
      assert(peak >= 1, s"day ${r.getDate(0)}: peak < 1 with $sessions sessions")
      assert(peak <= sessions, s"day ${r.getDate(0)}: peak $peak exceeds opens $sessions")
    }
    val total = rows.map(_.getLong(2)).sum
    val events = spark.read.parquet(s"$sf/events.parquet").count()
    assert(total == events, s"sessions $total != events $events — the sweep lost intervals")
  }

  test("g_concurrency: planted overlaps produce the hand-computed peaks, half-open at the boundary") {
    // Sessions are 60 + event_id % 540 seconds; ids ≡ 0 (mod 540) pin every
    // planted session to exactly 60 s so the sweep is hand-checkable.
    // Day 1 (2024-01-02): starts at +0/+10/+20 s triple-overlap (peak 3);
    // a fourth starts at +60 s, exactly when the first ends — the close
    // must sort before the open (half-open intervals), so the peak stays 3.
    // Day 2 (2024-01-03): two back-to-back sessions [0,60) and [60,120) —
    // peak 1 iff the boundary is half-open (a closed-interval sweep says 2).
    import org.apache.spark.sql.functions._
    val day1 = 1704196800000000L // 2024-01-02 12:00:00 UTC in micros
    val day2 = day1 + 86400L * 1000000L
    val planted = Seq(
      (0L, day1), (540L, day1 + 10000000L), (1080L, day1 + 20000000L),
      (1620L, day1 + 60000000L),
      (2160L, day2), (2700L, day2 + 60000000L))
    val s = spark
    import s.implicits._
    val dir = graft.SparkSpec.tempDir("graft-concur").toString
    planted.toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = AnalyticsOps.gConcurrency(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("2024-01-02", 3L, 4L), ("2024-01-03", 1L, 2L)),
      s"planted sweep mismatch: ${rows.toSeq}")
  }

  test("g_markov_transitions: rows are distributions — per-prev p_milli sums land in (1000 - types, 1000]") {
    val rows = AnalyticsOps.gMarkovTransitions(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val types = rows.map(_._1).distinct.length
    rows.groupBy(_._1).foreach { case (prev, rs) =>
      val pSum = rs.map(_._3).sum
      // each DIV truncation loses < 1 milli, one per curr cell
      assert(pSum <= 1000 && pSum > 1000 - types,
        s"prev=$prev: p_milli sum $pSum outside the truncation envelope")
    }
    // transition mass conserves: total n = events - one first-event per user
    val n = rows.map(_._2).sum
    val ev = graft.Tables.eventsCanonical(spark, sf)
    val users = ev.select("user_id").distinct().count()
    assert(n == ev.count() - users,
      s"transition count $n != events - users (${ev.count()} - $users)")
  }

  test("g_top_paths: counts bounded by the user population, paths well-formed") {
    val rows = AnalyticsOps.gTopPaths(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.length <= 20)
    val users = graft.Tables.eventsCanonical(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.map(_._3).sum <= users, "more path users than users exist")
    rows.foreach { case (path, len, n) =>
      assert(len >= 1 && len <= 4 && n >= 1)
      assert(path.split(">").length == len, s"path '$path' inconsistent with len $len")
    }
    // ranked output: non-increasing counts
    assert(rows.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }

  test("g_bot_regularity: census partitions the qualifying users; buckets in [0, 10]") {
    val rows = AnalyticsOps.gBotRegularity(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (b, users, gaps) =>
      assert(b >= 0 && b <= 10 && users > 0 && gaps >= 5 * users,
        s"bucket $b: $users users but only $gaps gaps (< 5 per user)")
    }
    val users = graft.Tables.eventsCanonical(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.map(_._2).sum <= users)
  }

  test("g_funnel_timing: median <= p90, both within the 7-day clamp") {
    val rows = AnalyticsOps.gFunnelTiming(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq("1_view_to_click", "2_click_to_purchase"))
    rows.foreach { case (stage, n, med, p90) =>
      assert(n > 0)
      assert(med >= 0 && med <= p90, s"$stage: median $med > p90 $p90")
      assert(p90 <= 10080, s"$stage: p90 $p90 beyond the 7-day clamp")
    }
  }

  test("g_changepoint: every event type reported, score in [0, 1000], day within the series") {
    val ev = graft.Tables.eventsCanonical(spark, sf)
    val types = ev.select("event_type").distinct().count()
    val rows = AnalyticsOps.gChangepoint(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == types)
    val (minDay, maxDay) = {
      val d = ev.selectExpr("tus div 86400000000L AS day")
        .agg(org.apache.spark.sql.functions.min("day"),
             org.apache.spark.sql.functions.max("day")).collect()(0)
      (d.getLong(0), d.getLong(1))
    }
    rows.foreach { case (t, nDays, total, cpDay, score) =>
      assert(nDays > 0 && total > 0)
      assert(cpDay >= minDay && cpDay <= maxDay, s"$t: cp_day $cpDay outside the series")
      assert(score >= 0 && score <= 1000, s"$t: score $score out of range")
    }
  }

  test("h_graph_triangles: closed wedges bounded, coefficient in [0, 1000]") {
    val r = AnalyticsOps.hGraphTriangles(spark, sf).collect()(0)
    val (nodes, edges, tris, wedges, cc) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(nodes > 0 && edges > 0)
    assert(edges <= nodes * (nodes - 1) / 2, "more edges than node pairs")
    assert(tris > 0, "co-supply graph is dense — zero triangles means the orientation broke")
    assert(3 * tris <= wedges, "each triangle closes exactly 3 wedges; count exceeds wedges")
    assert(cc >= 0 && cc <= 1000, s"clustering coefficient out of range: $cc")
  }

  test("g_day_similarity: top-15 well-formed — ordered pairs, cor2 in range, sign consistent") {
    val rows = AnalyticsOps.gDaySimilarity(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    Checkpoints.releaseAll()
    assert(rows.length == 15, s"top-15 contract: got ${rows.length}")
    rows.foreach { case (d1, d2, sign, cor2) =>
      assert(d1 < d2, s"pairs must be ordered: ($d1, $d2)")
      assert(sign >= -1 && sign <= 1, s"sign out of range: $sign")
      // squared correlation: Cauchy-Schwarz caps the integer milli at
      // 1000; the -1 sentinel marks a flat (zero-variance) day
      assert(cor2 >= -1 && cor2 <= 1000, s"cor2_milli out of range: $cor2")
    }
    // the list must arrive ranked by signed squared correlation
    val signed = rows.map { case (_, _, sg, c2) => if (c2 == -1) -1001L else sg * c2 }
    assert(signed.sameElements(signed.sortBy(-_)), "rows not rank-ordered")
  }

  test("h_trajectory_search: 20 probes x top-3, distances ranked, no self-matches") {
    val rows = AnalyticsOps.hTrajectorySearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byProbe = rows.groupBy(_._1)
    // the panel is the 20 lowest user_ids — or every user when the
    // population is smaller (sf0.001 has 15)
    val nUsers = Tables.load(spark, sf, "events")
      .select("user_id").distinct().count()
    assert(byProbe.size == math.min(20L, nUsers),
      s"panel contract: ${byProbe.size} probes for $nUsers users")
    byProbe.foreach { case (q, ms) =>
      assert(ms.map(_._2).sorted.sameElements(Array(1L, 2L, 3L)),
        s"probe $q: ranks must be exactly 1..3")
      assert(ms.forall(_._3 != q), s"probe $q matched itself")
      val byRank = ms.sortBy(_._2).map(_._4)
      assert(byRank.sameElements(byRank.sorted),
        s"probe $q: distance must be non-decreasing in rank: ${byRank.toSeq}")
      // 12-initial strings: unit-cost edit distance is bounded by 12
      assert(ms.forall(m => m._4 >= 0 && m._4 <= 12),
        s"probe $q: distance out of [0, 12]: ${ms.map(_._4).toSeq}")
    }
  }

  test("h_rank_convergence: L1 contracts monotonically, mass conserved within truncation") {
    // sf0.001's co-supply graph is REGULAR (every supplier shares every
    // order window), so uniform init IS the fixpoint and L1 hits 0 in
    // round 2 — run the audit where the curve has structure
    val rows = AnalyticsOps.hRankConvergence(spark, "/root/testdata/sf0.01").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    Checkpoints.releaseAll()
    assert(rows.map(_._1).toSeq == (1L to 8L), "one row per round, ordered")
    // damped power iteration contracts until the integer floor; a rising
    // L1 at any point means the update rule broke
    rows.sliding(2).foreach { case Array((_, l1a, _, _), (r, l1b, _, _)) =>
      assert(l1b <= l1a, s"L1 must never grow into round $r: $l1a -> $l1b")
      assert(l1b < l1a || l1a == 0,
        s"a nonzero L1 plateau at round $r says mixing stalled: $l1a -> $l1b")
    }
    rows.foreach { case (r, l1, mx, mass) =>
      assert(mx <= l1, s"round $r: max single-node move $mx exceeds the L1 total $l1")
      // DIV truncation leaks < 1 unit per node per contribution + 1 per
      // update: total mass stays within nodes × (rounds + 1) of 10^12
      // (node count bounded by the supplier domain, far under 10^6 here)
      assert(mass <= 1000000000000L, s"round $r: mass grew past the invariant total")
      assert(1000000000000L - mass < 1000000L * (r + 1),
        s"round $r: mass leak beyond truncation bounds: $mass")
    }
    // round 8 should be deep into convergence: L1 under one millionth
    // of total mass — otherwise 8 rounds wasn't the fixpoint story told
    assert(rows.last._2 < 1000000L,
      s"round-8 L1 ${rows.last._2} says the iteration is far from fixed point")
  }

  test("g_seasonality: shares sum to ~1000 per type, TVD and peak cell well-formed") {
    val rows = AnalyticsOps.gSeasonality(spark, SparkSpec.sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (t, rs) =>
      assert(rs.length <= 7, s"$t: more than 7 weekdays")
      val shareSum = rs.map(_._4).sum
      // each of the <=7 rows floors away <1 milli
      assert(shareSum > 1000 - 7 && shareSum <= 1000, s"$t share sum $shareSum")
      val tvd = rs.head._6
      assert(rs.forall(_._6 == tvd), s"$t: TVD must repeat per type")
      assert(tvd >= 0 && tvd <= 1000)
      val (peakHow, peakCnt) = (rs.head._7, rs.head._8)
      assert(peakHow >= 0 && peakHow < 168)
      // the peak hour-of-week cell can't exceed its weekday's total
      val dowOfPeak = ((peakHow / 24) + 4) % 7
      rs.find(_._2 == dowOfPeak).foreach { r =>
        assert(peakCnt <= r._3, s"$t: peak cell $peakCnt exceeds its dow total ${r._3}")
      }
    }
  }

  test("g_sessionize: sessions partition the event log; rates well-formed") {
    val rows = AnalyticsOps.gSessionize(spark, SparkSpec.sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val totalEvents = graft.Tables.eventsCanonical(spark, SparkSpec.sf0001).count()
    assert(rows.map(_._3).sum == totalEvents,
      "every event belongs to exactly one session")
    rows.foreach { case (entry, nSess, nEv, bounce, eps) =>
      assert(nSess >= 1 && nEv >= nSess)
      assert(bounce >= 0 && bounce <= 1000, s"$entry bounce $bounce")
      assert(eps >= 1000, s"$entry events/session below 1: $eps")
    }
  }

  test("g_funnel_ab: arms partition the viewers; funnel stages monotone; gap consistent") {
    val rows = AnalyticsOps.gFunnelAb(spark, SparkSpec.sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.map(_._1).sorted.toSeq == Seq("A", "B"), "exactly two arms")
    val viewers = graft.Tables.eventsCanonical(spark, SparkSpec.sf0001)
      .filter("event_type = 'view'").select("user_id").distinct().count()
    assert(rows.map(_._2).sum == viewers, "arms partition the view users")
    rows.foreach { case (arm, v, c, p, cm, pm, _) =>
      assert(v >= c && c >= p, s"$arm funnel not monotone: $v/$c/$p")
      assert(cm == 1000L * c / v && pm == 1000L * p / v, s"$arm rate mismatch")
    }
    val Seq(a, b) = rows.sortBy(_._1).toSeq
    val expectGap = 1000L * math.abs(a._4 * b._2 - b._4 * a._2) / (a._2 * b._2)
    assert(a._7 == expectGap && b._7 == expectGap,
      s"gap ${a._7} vs recomputed $expectGap")
  }

  test("g_market_basket: lift/support/confidence recompute exactly; ordering monotone") {
    val rows = AnalyticsOps.gMarketBasket(spark, SparkSpec.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    assert(rows.length == 20)
    rows.foreach { case (pa, pb, cab, ca, cb, n, lift, sup, conf) =>
      assert(pa < pb, "pairs are canonically ordered")
      assert(cab >= 2 && cab <= math.min(ca, cb), s"($pa,$pb) counts inconsistent")
      assert(ca <= n && cb <= n)
      assert(lift == (BigInt(1000000) * cab * n / (BigInt(ca) * cb)).toLong)
      assert(sup == 1000000L * cab / n && conf == 1000L * cab / ca)
    }
    val lifts = rows.map(_._7)
    assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b },
      "top-20 must be lift-ordered")
  }

  test("g_audience_overlap: every cell recomputes exactly from the user-type sets") {
    val rows = AnalyticsOps.gAudienceOverlap(spark, SparkSpec.sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    val sets = graft.Tables.eventsCanonical(spark, SparkSpec.sf0001)
      .selectExpr("user_id", "event_type").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val expected = sets.keys.toSeq.sorted.combinations(2).flatMap { case Seq(a, b) =>
      val both = (sets(a) & sets(b)).size.toLong
      if (both >= 1)
        Some((a, b, sets(a).size.toLong, sets(b).size.toLong, both,
          1000L * both / (sets(a).size + sets(b).size - both),
          1000L * both / math.min(sets(a).size, sets(b).size)))
      else None
    }.toSeq
    assert(rows.toSeq == expected, "overlap matrix diverged from the set referee")
    rows.foreach { case (a, b, na, nb, both, jac, cont) =>
      assert(a < b, "pairs are canonically ordered")
      assert(both <= math.min(na, nb) && jac <= cont && cont <= 1000L)
    }
  }

  test("g_forecast_baseline: both WAPE arms recompute exactly from the daily histogram") {
    val rows = AnalyticsOps.gForecastBaseline(spark, SparkSpec.sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(rows.nonEmpty)
    val hist = graft.Tables.eventsCanonical(spark, SparkSpec.sf0001)
      .selectExpr("event_type", "tus DIV 86400000000L AS day").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .groupBy(_._1._1).view.mapValues(_.map { case ((_, d), c) => d -> c }.toMap).toMap
    hist.foreach { case (t, days) =>
      def arm(lag: Long): (Long, Long, Long) = {
        val scored = days.toSeq.flatMap { case (d, c) =>
          days.get(d - lag).map(p => (c, math.abs(c - p)))
        }
        (scored.length.toLong, scored.map(_._1).sum, scored.map(_._2).sum)
      }
      val (n7, a7, s7) = arm(7)
      val (n1, _, s1e) = arm(1)
      val (gn7, gn1, ga7, gs7, gw7, gw1) = rows(t)
      assert(gn7 == n7 && gn1 == n1 && ga7 == a7 && gs7 == s7,
        s"$t: lag-join counts diverged from the referee")
      assert(gw7 == (if (a7 > 0) 1000L * s7 / a7 else -1L), s"$t wape7")
      val a1 = days.toSeq.flatMap { case (d, c) => days.get(d - 1).map(_ => c) }.sum
      assert(gw1 == (if (a1 > 0) 1000L * s1e / a1 else -1L), s"$t wape1")
    }
  }

  test("g_revenue_concentration: Gini and top-decile share recompute exactly from per-customer spend") {
    val rows = AnalyticsOps.gRevenueConcentration(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(rows.nonEmpty)
    val seg = Tables.load(spark, sf, "customer")
      .selectExpr("c_custkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val spend = Tables.load(spark, sf, "orders")
      .selectExpr("o_custkey", "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    spend.groupBy { case (ck, _) => seg(ck) }.foreach { case (sg, custs) =>
      // ascending Lorenz order with the (cents, custkey) total tiebreak
      val xs = custs.toSeq.sortBy { case (ck, c) => (c, ck) }.map(_._2)
      val n = xs.length.toLong
      val s = xs.sum
      val s1 = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      val k = (n + 9) / 10
      val top = xs.takeRight(k.toInt).sum
      val (gn, gs, gini, tdec) = rows(sg)
      assert(gn == n && gs == s, s"$sg: rollup diverged from the referee")
      assert(gini == (1000 * (2 * s1 - (n + 1) * s)) / (n * s), s"$sg gini")
      assert(tdec == 1000 * top / s, s"$sg top decile")
      assert(gini >= 0 && gini < 1000, s"$sg gini range")
      // the richest decile can never carry less than a uniform decile
      assert(tdec >= 1000 * k / n - 1, s"$sg top-decile lower bound")
    }
  }

  test("g_repeat_purchase: repeat rate, mean and median gap recompute exactly from per-customer order days") {
    val rows = AnalyticsOps.gRepeatPurchase(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(rows.nonEmpty)
    val seg = Tables.load(spark, sf, "customer")
      .selectExpr("c_custkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val days = Tables.load(spark, sf, "orders")
      .selectExpr("o_custkey", "unix_micros(o_orderdate) DIV 86400000000L")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    days.groupBy { case (ck, _) => seg(ck) }.foreach { case (sg, custs) =>
      val gaps = custs.values.toSeq.flatMap(ds => ds.zip(ds.tail).map { case (a, b) => b - a })
      val n = custs.size.toLong
      val rep = custs.values.count(_.length >= 2).toLong
      val (gn, grep, grm, gng, gmean, gmed) = rows(sg)
      assert(gn == n && grep == rep && grm == 1000L * rep / n, s"$sg repeater census")
      assert(gng == gaps.length.toLong, s"$sg gap count")
      if (gaps.nonEmpty) {
        assert(gmean == gaps.sum / gaps.length, s"$sg mean gap")
        // histogram-selection median: smallest v with 2*cum >= n
        val srt = gaps.sorted
        val med = srt.find(v => 2L * srt.count(_ <= v) >= srt.length).get
        assert(gmed == med, s"$sg median gap")
      } else assert(gmean == -1L && gmed == -1L, s"$sg empty-gap sentinel")
    }
  }

  test("g_decayed_popularity: decayed scores recompute exactly from the daily histogram") {
    val rows = AnalyticsOps.gDecayedPopularity(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(rows.nonEmpty)
    val hist = Tables.eventsCanonical(spark, sf)
      .selectExpr("event_type", "tus DIV 86400000000L AS day").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val anchor = hist.keys.map(_._2).max
    val byType = hist.groupBy(_._1._1).view.mapValues(_.map { case ((_, d), c) => (d, c) }.toSeq).toMap
    val decayed = byType.view.mapValues(_.map { case (d, c) =>
      c * (1000000L / (1L << math.min((anchor - d) / 7, 62L))) }.sum).toMap
    val totRaw = hist.values.sum
    val totDec = decayed.values.sum
    byType.foreach { case (t, days) =>
      val (n, dm, rs, dsh, _) = rows(t)
      assert(n == days.map(_._2).sum, s"$t raw count")
      assert(dm == decayed(t), s"$t decayed micro")
      assert(rs == 1000L * n / totRaw && dsh == 1000L * decayed(t) / totDec, s"$t shares")
    }
    // ranks are a permutation ordered by decayed score
    val ranked = rows.toSeq.sortBy(_._2._5)
    assert(ranked.map(_._2._5) == (1L to rows.size).toSeq)
    assert(ranked.map(_._2._2).zip(ranked.map(_._2._2).tail).forall { case (a, b) => a >= b },
      "trend rank must follow descending decayed score")
  }
  test("h_index_compression: varint/gap accounting recomputes exactly from the corpus") {
    val rows = AnalyticsOps.hIndexCompression(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(rows.nonEmpty)
    val docs = graft.Tables.load(spark, sf, "documents")
      .selectExpr("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def bitlen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    docs.groupBy(_._2).foreach { case (lang, ds) =>
      val postings = ds.flatMap { case (id, _, text) => text.split(' ').map(t => (t, id)) }.distinct
      val byTerm = postings.groupBy(_._1)
      var vb = 0L; var gb = 0L
      byTerm.values.foreach { ps =>
        val ids = ps.map(_._2).sorted
        val gaps = (ids.head + 1) +: ids.zip(ids.tail).map { case (a, b) => b - a }
        gaps.foreach { g => vb += (bitlen(g) + 6) / 7; gb += bitlen(g) }
      }
      val (nt, np, raw, vbytes, ratio, gbits) = rows(lang)
      assert(nt == byTerm.size.toLong && np == postings.length.toLong, s"$lang census")
      assert(raw == 8L * postings.length && vbytes == vb, s"$lang byte accounting")
      assert(ratio == 1000L * vb / (8L * postings.length), s"$lang ratio")
      assert(gbits == gb, s"$lang gap bits")
      // the point of the layout: varint gaps must beat raw 8-byte ids
      assert(vbytes < raw, s"$lang: varint layout failed to compress")
    }
  }
  test("g_anomaly_seasonal: per-dow moments recompute exactly; spike flags in both columns") {
    val rows = AnalyticsOps.gAnomalySeasonal(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getBoolean(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // referee: daily counts from the canonical event time
    val daily = graft.Tables.eventsCanonical(spark, sf)
      .selectExpr("tus DIV 86400000000 AS dd").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length.toLong).toMap
    val base = daily.toSeq.map { case (dd, n) => (dd, dd % 7, n * (7 + dd % 7)) }
    val spikeDd = daily.keys.max + 1
    val wtd = base :+ ((spikeDd, spikeDd % 7, 3L * base.map(_._3).max))
    val byDow = wtd.groupBy(_._2)
    val (gn, gs, gq) = (wtd.size.toLong, wtd.map(_._3).sum, wtd.map(x => x._3 * x._3).sum)
    val got = rows.toMap
    wtd.foreach { case (dd, dow, w) =>
      val grp = byDow(dow)
      val (c, s, q) = (grp.size.toLong, grp.map(_._3).sum, grp.map(x => x._3 * x._3).sum)
      val (gdow, gw, rawF, dowF, vs) = got(dd)
      assert(gdow == dow && gw == w, s"day $dd identity")
      assert(rawF == ((gn * w - gs) * (gn * w - gs) > 9 * (gn * gq - gs * gs)), s"day $dd raw flag")
      val (c1, s1, q1) = (c - 1, s - w, q - w * w)
      assert(dowF == ((c1 * w - s1) * (c1 * w - s1) > 9 * (c1 * q1 - s1 * s1)),
        s"day $dd dow flag (leave-one-out)")
      assert(vs == 1000L * w * c / s, s"day $dd vs-mean")
    }
    // the planted spike is extreme globally AND within its own weekday
    val (_, _, spikeRaw, spikeDow, _) = got(spikeDd)
    assert(spikeRaw && spikeDow, "spike day must flag in both columns")
  }
}
