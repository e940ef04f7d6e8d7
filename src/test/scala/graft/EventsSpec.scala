package graft

import graft.ops.Events
import org.apache.spark.sql.functions._

/** Event-time ops against a hand-computable fixture plus sf0.001
  * invariants — the verification story for the no-oracle ops
  * (sliding window, HLL). */
class EventsSpec extends GraftSpec {
  import EventsFixture._

  lazy val fixtureDir: String = writeFixture(spark, tmpDir)

  test("sliding window (1h/15m) matches a from-first-principles computation") {
    val got = Events.slidingWindow(spark, fixtureDir).collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(2)) -> (r.getLong(3), r.getDouble(4)))
      .toMap
    // independent oracle: an event at second t (on the minute grid) falls in
    // exactly the 4 windows starting at the 15-min grid points in (t-1h, t]
    val expected = fixtureEvents
      .flatMap { e =>
        val t = e.ts / 1000000000L
        (0 until 4).map(k => ((t / 900) * 900 - k * 900, e.event_type))
      }
      .groupBy(identity).map { case (key, hits) => key -> hits.size }
    assert(got.keySet === expected.keySet)
    expected.foreach { case (key, n) =>
      assert(got(key)._1 === n, s"count for $key")
      assert(got(key)._2 === n * 1.0, s"value sum for $key (all values are 1.0)")
    }
  }

  test("sliding window on sf0.001: every event lands in exactly 4 windows") {
    val total = Tables.events(spark, sf).count()
    val windowed = Events.slidingWindow(spark, sf)
      .agg(sum("n")).collect().head.getLong(0)
    assert(windowed === 4 * total)
  }

  test("streak islands: hand-computed multi-day streaks") {
    val spark0 = spark
    import spark0.implicits._
    // ns timestamps on distinct days; user 1 active days {0,1,2},{4,5},{9}
    // (two events on day 0 — the distinct must collapse them), user 2
    // every other day so every island is length 1
    def dayEv(id: Long, user: Long, day: Int, hour: Int) =
      RawEv(id, (1735689600L + day * 86400L + hour * 3600L) * 1000000000L,
        user, "a", 1.0, "{}")
    val d = s"$tmpDir/streakfix"
    Seq(
      dayEv(1, 1, 0, 1), dayEv(2, 1, 0, 5), dayEv(3, 1, 1, 1),
      dayEv(4, 1, 2, 1), dayEv(5, 1, 4, 1), dayEv(6, 1, 5, 1),
      dayEv(7, 1, 9, 1),
      dayEv(8, 2, 0, 1), dayEv(9, 2, 2, 1), dayEv(10, 2, 4, 1))
      .toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.streakIslands(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map(1L -> ((3L, 3L, 6L)), 2L -> ((1L, 3L, 3L))))
  }

  test("sessionization matches hand-computed sessions") {
    val got = Events.sessionize(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === expectedSessions)
  }

  test("funnel: strict view -> click -> purchase ordering, hand-computed") {
    val spark0 = spark
    import spark0.implicits._
    def e(id: Long, user: Long, minute: Long, typ: String) =
      RawEv(id, (1735689600L + minute * 60) * 1000000000L, user, typ, 1.0, "{}")
    Seq(
      // user 1: full funnel in order → counts at all 3 stages
      e(1, 1, 0, "view"), e(2, 1, 10, "click"), e(3, 1, 20, "purchase"),
      // user 2: click BEFORE the first view; purchase after a later click
      // → the pre-view click is ignored, the post-view click converts
      e(4, 2, 0, "click"), e(5, 2, 5, "view"), e(6, 2, 9, "click"), e(7, 2, 12, "purchase"),
      // user 3: view then purchase but no click → stage 1 only (a
      // purchase cannot skip the click stage)
      e(8, 3, 0, "view"), e(9, 3, 5, "purchase"),
      // user 4: click at the SAME instant as view → strict '>' rejects it
      e(10, 4, 0, "view"), e(11, 4, 0, "click"),
      // user 5: never views → contributes nowhere
      e(12, 5, 0, "click"), e(13, 5, 5, "purchase"))
      .toDF().write.mode("overwrite").parquet(s"$tmpDir/funnel/events.parquet")
    val got = Events.funnelConversion(spark, s"$tmpDir/funnel").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("1_view" -> 4L, "2_click_after_view" -> 2L,
      "3_purchase_after_click" -> 2L))
  }

  test("cohort retention matches a hand-computed triangle") {
    val spark0 = spark
    import spark0.implicits._
    // days since 2025-01-01; month boundaries at day 31 (Feb), 59 (Mar), 90 (Apr)
    def e(id: Long, user: Long, day: Long) =
      RawEv(id, (1735689600L + day * 86400) * 1000000000L, user, "view", 1.0, "{}")
    Seq(
      // user 1: active Jan, Feb, Apr → cohort Jan, months_since {0, 1, 3}
      e(1, 1, 0), e(2, 1, 15), e(3, 1, 40), e(4, 1, 95),
      // user 2: active Feb, Mar → cohort Feb, months_since {0, 1}
      e(5, 2, 35), e(6, 2, 70),
      // user 3: active Jan only → cohort Jan, months_since {0}
      e(7, 3, 20))
      .toDF().write.mode("overwrite").parquet(s"$tmpDir/cohort/events.parquet")
    val got = Events.cohortRetention(spark, s"$tmpDir/cohort").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString.take(7), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("2025-01", 0) -> 2L, ("2025-01", 1) -> 1L, ("2025-01", 3) -> 1L,
      ("2025-02", 0) -> 1L, ("2025-02", 1) -> 1L))
  }

  test("funnel on sf0.001: stages shrink monotonically") {
    val got = Events.funnelConversion(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("1_view") >= got("2_click_after_view"))
    assert(got("2_click_after_view") >= got("3_purchase_after_click"))
    assert(got("1_view") > 0)
  }

  test("event transitions match the hand-computed pairing on the fixture") {
    // user 1: a b a b a b → a→b ×3, b→a ×2; user 2: a b a b → a→b ×2, b→a ×1
    val got = Events.eventTransitions(spark, fixtureDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(("a", "b") -> 5L, ("b", "a") -> 3L))
  }

  test("event transitions on sf0.001: one transition per non-final event") {
    val ev = Tables.events(spark, sf)
    val transitions = Events.eventTransitions(spark, sf)
      .agg(sum("n")).collect().head.getLong(0)
    val users = ev.select("user_id").distinct().count()
    assert(transitions === ev.count() - users,
      "each user contributes (events - 1) transitions")
  }

  test("resample: full grid, explicit zeros, totals match the filtered stream") {
    val ev = Tables.events(spark, sf)
    val rows = Events.resampleDaily(spark, sf).collect()
    val nTypes = ev.select("event_type").distinct().count()
    assert(rows.length === 30 * nTypes, "every (day, type) cell must be present")
    assert(rows.exists(_.getLong(2) === 0L), "gap cells must surface as explicit zeros")
    val filtered = ev.filter(col("value") > 200).count()
    assert(rows.map(_.getLong(2)).sum === filtered)
    rows.filter(_.getLong(2) === 0L).foreach(r =>
      assert(r.getDouble(3) === 0.0, s"zero-count cell must have zero sum: $r"))
  }

  test("zscore outliers match a driver-side recomputation exactly") {
    val evs = Tables.events(spark, sf)
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // same formula, exact decimal sums replaced by plain sums — tolerable
    // at 1k rows for set-membership with a 3.0 cutoff nothing sits on
    val stats = evs.groupBy(_._2).map { case (t, rs) =>
      val n = rs.length
      val sm = rs.map(_._3).sum
      val sq = rs.map(v => v._3 * v._3).sum
      t -> (sm / n, math.sqrt((sq - sm * sm / n) / (n - 1)))
    }
    val expected = evs.filter { case (_, t, v) =>
      val (mean, sd) = stats(t); math.abs((v - mean) / sd) > 3
    }.map(_._1).toSet
    val got = Events.zscoreOutliers(spark, sf).collect()
    assert(got.map(_.getLong(0)).toSet === expected)
    got.foreach { r =>
      val (mean, sd) = stats(r.getString(1))
      assert(math.abs(r.getDouble(3) - (r.getDouble(2) - mean) / sd) < 1e-3)
    }
  }

  test("approx_count_distinct stays within the 3-sigma bound it reports") {
    val rows = Events.approxDistinctHll(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2),
        s"type ${r.getString(0)}: HLL estimate outside 6% of exact ${r.getLong(1)}")
    }
  }

  test("event gap stats: hand-computed per-(user, type) cadence") {
    // type a: u1 gaps 20,60 min + u2 gap 65 → avg 2900 s, min 1200, max 3900
    // type b: u1 gaps 50,140 min + u2 gap 50 → avg 4800 s, min 3000, max 8400
    val got = Events.eventGapStats(spark, fixtureDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got === Map(
      "a" -> ((3L, 2900.0, 1200.0, 3900.0)),
      "b" -> ((3L, 4800.0, 3000.0, 8400.0))))
  }

  test("hourly heatmap on sf0.001: cells total the stream, grid is calendar-bounded") {
    val cells = Events.hourlyHeatmap(spark, sf).collect()
    assert(cells.map(_.getLong(2)).sum === Tables.events(spark, sf).count())
    assert(cells.length <= 7 * 24)
    cells.foreach { r =>
      assert(r.getInt(0) >= 1 && r.getInt(0) <= 7, "ISO weekday range")
      assert(r.getInt(1) >= 0 && r.getInt(1) <= 23, "hour range")
      assert(r.getLong(3) <= r.getLong(2), "distinct users cannot exceed events")
    }
  }

  test("funnel time-to-convert: hand-computed journey on the fixture") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/convfix"
    // u1 converts: view@0, click@10m, purchase@25m → 1500s journey;
    // u2 never clicks after viewing (click precedes view) → not converted
    Seq(
      ev2(1, 1, 0, "view"), ev2(2, 1, 10, "click"), ev2(3, 1, 25, "purchase"),
      ev2(4, 2, 5, "click"), ev2(5, 2, 8, "view"), ev2(6, 2, 20, "purchase"))
      .toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val r = Events.funnelTimeToConvert(spark, d).collect().head
    assert(r.getLong(0) === 1L, "only u1 converts strictly in order")
    assert(r.getDouble(1) === 1500.0)
    assert(r.getDouble(2) === 1500.0 && r.getDouble(3) === 1500.0)
  }

  test("event mix: shares sum to 1 per day on sf0.001") {
    val mix = Events.eventMixDaily(spark, sf).collect()
    mix.groupBy(_.getDate(0)).foreach { case (d, rs) =>
      assert(math.abs(rs.map(_.getDouble(3)).sum - 1.0) < 1e-4, s"day $d")
    }
    assert(mix.map(_.getLong(2)).sum === Tables.events(spark, sf).count())
  }

  private def ev2(id: Long, user: Long, minute: Long, typ: String) =
    RawEv(id, (1735689600L + minute * 60) * 1000000000L, user, typ, 1.0, "{}")

  test("value percentiles: selection matches a driver-side sort at disc ranks") {
    val rows = Events.valuePercentilesByType(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getString(0)
      val vs = Tables.events(spark, sf).filter(col("event_type") === t)
        .select("value").collect().map(_.getDouble(0)).sorted
      val n = vs.length
      def disc(p: Int) = vs(((p * n + 99) / 100 - 1).toInt)
      assert(r.getLong(1) === n.toLong, t)
      assert(r.getDouble(2) === disc(50), s"$t p50")
      assert(r.getDouble(3) === disc(90), s"$t p90")
      assert(r.getDouble(4) === disc(99), s"$t p99")
    }
  }

  test("value percentiles: small and selection forms are bit-identical") {
    // the size gate dispatches between them, so their outputs must be
    // indistinguishable — same disc convention, same null handling
    val small = Events.valuePercentilesSmall(spark, sf).collect().toSeq
    val sel = Events.valuePercentilesSelection(spark, sf).collect().toSeq
    assert(small === sel)
  }

  test("MAD outliers: planted spike flagged, zero-MAD guard, gate parity") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/madfix"
    def at(id: Long, typ: String, v: Double) =
      RawEv(id, (1735689600L + id * 60) * 1000000000L, 1L, typ, v, "{}")
    // type a: values 1..50 + one 10000 spike -> exactly one outlier;
    // type b: 49×10 + one 1000 -> MAD is 0 (≥ half the devs are 0), so
    // the guard must flag NOTHING despite the obvious spike
    val rows = (1 to 50).map(i => at(i.toLong, "a", i.toDouble)) ++
      Seq(at(51, "a", 10000.0)) ++
      (52 to 100).map(i => at(i.toLong, "b", 10.0)) ++ Seq(at(101, "b", 1000.0))
    rows.toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.madOutliers(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5))).toMap
    // type a: 51 values, med = value at rank ceil(51/2)=26 -> 26.0;
    // devs |v-26| = {25..1, 0, 1..24, 9974}; sorted {0,1,1,2,2,...}
    // puts rank 26 on the upper half of pair 13 -> MAD 13.0;
    // score(10000) huge -> 1 outlier; score(1)=25*0.6745/13=1.30 < 3.5
    // -> no false positives
    assert(got("a") === ((51L, 26.0, 13.0, 1L, 9974.0)))
    assert(got("b") === ((50L, 10.0, 0.0, 0L, 990.0)),
      "zero MAD must flag nothing (robust score undefined)")
    // gate parity: small and selection forms bit-identical on real data
    val small = Events.madOutliersWith(spark, sf, selection = false)
      .collect().toSeq
    val sel = Events.madOutliersWith(spark, sf, selection = true)
      .collect().toSeq
    assert(small === sel)
  }

  test("rolling DAU: trailing-7 window hand-computed on a sparse timeline") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/daufix"
    // u1 active Jan 1, Jan 9 and Jan 20; u2 active Jan 5 (twice — the
    // distinct must collapse them); Jan 7's window [Jan 1..7] still
    // holds u1, Jan 8's [Jan 2..8] ages u1 out — the boundary both
    // sides must cut identically. The grid derives from the DATA span
    // (min..max event day — round-11 advice killed the hard-coded
    // calendar), so the Jan 20 straggler stretches it to 20 days and
    // leaves Jan 16 as a silent all-zero day inside the span.
    def at(id: Long, user: Long, day: Int) =
      RawEv(id, (1704067200L + (day - 1) * 86400L + 3600L) * 1000000000L,
        user, "a", 1.0, "{}")
    Seq(at(1, 1, 1), at(2, 1, 9), at(3, 2, 5), at(4, 2, 5), at(5, 1, 20))
      .toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.rollingDau(spark, d).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.size === 20, "every day of the data-derived grid present")
    assert(got("2024-01-01") === ((1L, 1L)))
    assert(got("2024-01-05") === ((2L, 1L)), "u1 (Jan 1) still in window, u2 active")
    assert(got("2024-01-07") === ((2L, 0L)), "both in trailing window, none today")
    assert(got("2024-01-08") === ((1L, 0L)), "u1's Jan 1 aged out")
    assert(got("2024-01-09") === ((2L, 1L)), "u1 returns")
    assert(got("2024-01-16") === ((0L, 0L)), "silent day is an explicit zero")
    assert(got("2024-01-20") === ((1L, 1L)), "span endpoint present")
  }

  test("burstiness: a metronome cadence lands at B = -1") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/metronome"
    // one user, one type, perfectly regular 60s gaps → sd = 0 → B = -1
    (1 to 20).map(i => RawEv(i.toLong, (1735689600L + i * 60L) * 1000000000L,
        1L, "tick", 1.0, "{}"))
      .toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val r = Events.burstiness(spark, d).collect()
    assert(r.length === 1)
    assert(r.head.getLong(1) === 19L)
    assert(r.head.getDouble(2) === 60.0, "mean gap")
    assert(r.head.getDouble(3) === 0.0, "sd")
    assert(r.head.getDouble(4) === -1.0, "burstiness of a metronome")
  }

  test("event gap stats on sf0.001: one gap per non-first (user,type) event") {
    val perPair = Tables.events(spark, sf)
      .groupBy("user_id", "event_type").count()
    val expectedGaps = perPair.agg(sum(col("count") - 1)).collect().head.getLong(0)
    val gotGaps = Events.eventGapStats(spark, sf)
      .agg(sum("n_gaps")).collect().head.getLong(0)
    assert(gotGaps === expectedGaps)
  }

  test("seasonal naive: a pure weekly pattern gives MASE 0; constant series NULL") {
    import EventsFixture.RawEv
    val spark0 = spark
    import spark0.implicits._
    val day = 86400L * 1000000000L
    val base = 1735689600L * 1000000000L
    // type w: perfect period-7 pattern over 21 days → lag-7 error 0,
    // lag-1 error > 0 → MASE exactly 0, seasonal_wins true;
    // type c: constant series → d1 = 0 → mase/seasonal_wins NULL
    val weekly = (0 until 21).map { i =>
      RawEv(i.toLong, base + i * day, 1L, "w", 10.0 + (i % 7), "{}")
    }
    val const = (0 until 21).map { i =>
      RawEv(100 + i.toLong, base + i * day, 1L, "c", 5.0, "{}")
    }
    val d = s"$tmpDir/snaive"
    (weekly ++ const).toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.seasonalNaive(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    val w = got("w")
    assert(w.getLong(1) === 21L)
    assert(w.getDouble(4) === 0.0, "perfect weekly pattern: MASE 0")
    assert(w.getBoolean(5), "seasonal must win")
    assert(w.getDouble(2) === 0.0 && w.getDouble(3) > 0.0)
    val c = got("c")
    assert(c.isNullAt(4) && c.isNullAt(5), "constant series: no MASE")
    assert(c.getDouble(2) === 0.0 && c.getDouble(3) === 0.0)
  }

  test("user gini: planted inequality is exact; sf matches brute-force ranks") {
    import EventsFixture.RawEv
    val spark0 = spark
    import spark0.implicits._
    val base = 1735689600L * 1000000000L
    // type g: user counts (1,1,2,4) → Σi·x = 1+2+6+16 = 25,
    //   G = (50 − 5·8)/(4·8) = 0.3125; type u: (3,3,3) → G = 0
    def burst(typ: String, user: Long, k: Int, off: Long) =
      (0 until k).map(i => RawEv(off + i, base + (off + i) * 1000000000L,
        user, typ, 1.0, "{}"))
    val rows = burst("g", 1, 1, 0) ++ burst("g", 2, 1, 10) ++
      burst("g", 3, 2, 20) ++ burst("g", 4, 4, 40) ++
      burst("u", 1, 3, 100) ++ burst("u", 2, 3, 110) ++ burst("u", 3, 3, 120)
    val d = s"$tmpDir/gini"
    rows.toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.userGini(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("g").getLong(1) === 4L && got("g").getLong(2) === 8L)
    assert(got("g").getDouble(3) === 0.3125)
    assert(got("u").getDouble(3) === 0.0, "uniform counts: Gini 0")
    // independent recount on real data: brute-force sorted-rank formula
    val counts = Tables.events(spark, sf)
      .groupBy("event_type", "user_id").count().collect()
      .groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getLong(2)).sorted.toSeq }
    val brute = counts.map { case (t, xs) =>
      val n = xs.length.toLong
      val s = xs.sum
      val six = xs.zipWithIndex.map { case (x, i) => (i + 1) * BigInt(x) }.sum
      t -> (BigDecimal(2 * six - (n + 1) * BigInt(s)) /
        BigDecimal(BigInt(n) * s)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    val sfGot = Events.userGini(spark, sf).collect()
    assert(sfGot.nonEmpty)
    sfGot.foreach { r =>
      assert(r.getDouble(3) === brute(r.getString(0)),
        s"gini mismatch for ${r.getString(0)}")
    }
  }

  test("autocorrelation: alternating series gives exact -0.9/-0.3; constant NULL") {
    import EventsFixture.RawEv
    val spark0 = spark
    import spark0.implicits._
    val day = 86400L * 1000000000L
    val base = 1735689600L * 1000000000L
    // type alt: daily values 1,3,1,3,… over 10 days → devs alternate
    // ∓1e7 (micro, n-scaled): acf1 = −9e14/1e15 = −0.9; lag 7 flips
    // parity → acf7 = −3e14/1e15 = −0.3. type c: constant → den 0 → NULL
    val alt = (0 until 10).map(i =>
      RawEv(i.toLong, base + i * day, 1L, "alt", if (i % 2 == 0) 1.0 else 3.0, "{}"))
    val const = (0 until 10).map(i =>
      RawEv(100 + i.toLong, base + i * day, 1L, "c", 7.0, "{}"))
    val d = s"$tmpDir/acf"
    (alt ++ const).toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.autocorrelation(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("alt").getLong(1) === 10L)
    assert(got("alt").getDouble(2) === -0.9)
    assert(got("alt").getDouble(3) === -0.3)
    assert(got("c").isNullAt(2) && got("c").isNullAt(3), "constant: no ACF")
    // independent recount at sf: brute-force cleared-denominator formula
    val daily = Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("d"))
      .agg(sum(round(round(col("value"), 6) * 1e6, 0).cast("long")).as("y"))
      .orderBy("event_type", "d").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(2)).toSeq).toMap
    val sfGot = Events.autocorrelation(spark, sf).collect()
    assert(sfGot.nonEmpty)
    sfGot.foreach { r =>
      val ys = daily(r.getString(0))
      val n = ys.length
      val s = ys.map(BigInt(_)).sum
      def dev(t: Int) = BigInt(n) * ys(t) - s
      val den = (0 until n).map(t => dev(t) * dev(t)).sum
      def acf(k: Int) = (BigDecimal((k until n).map(t => dev(t) * dev(t - k)).sum) /
        BigDecimal(den)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getLong(1) === n.toLong)
      assert(r.getDouble(2) === acf(1), s"acf1 ${r.getString(0)}")
      assert(r.getDouble(3) === acf(7), s"acf7 ${r.getString(0)}")
    }
  }

  test("user overlap: planted audiences give exact set ratios") {
    import EventsFixture.RawEv
    val spark0 = spark
    import spark0.implicits._
    val base = 1735689600L * 1000000000L
    // a: users {1,2,3}; b: {2,3,4}; c: {5} → (a,b) i=2 of 4 union;
    // (a,c)/(b,c) share nobody and must NOT appear (inner-join contract)
    val rows = Seq((1L, "a"), (2L, "a"), (3L, "a"), (2L, "b"), (3L, "b"),
      (4L, "b"), (5L, "c")).zipWithIndex.map { case ((u, t), i) =>
      RawEv(i.toLong, base + i * 1000000000L, u, t, 1.0, "{}")
    }
    val d = s"$tmpDir/overlap"
    rows.toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.userOverlap(spark, d).collect()
    assert(got.length === 1, "only the (a,b) pair shares users")
    val r = got.head
    assert((r.getString(0), r.getString(1)) === (("a", "b")))
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) === ((3L, 3L, 2L)))
    assert(r.getDouble(5) === 0.5, "jaccard 2/4")
    assert(r.getDouble(6) === 0.666667, "overlap 2/3")
    // independent recount at sf from collected distinct pairs
    val pairs = Tables.events(spark, sf)
      .select("event_type", "user_id").distinct().collect()
      .map(r2 => (r2.getString(0), r2.getLong(1)))
    val byType = pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val sfGot = Events.userOverlap(spark, sf).collect()
    val expected = byType.keys.toSeq.sorted.combinations(2).flatMap {
      case Seq(a, b) =>
        val i = (byType(a) & byType(b)).size
        if (i == 0) None else Some((a, b, byType(a).size, byType(b).size, i))
    }.toSeq
    assert(sfGot.length === expected.length)
    sfGot.zip(expected).foreach { case (g, (a, b, na, nb, i)) =>
      assert((g.getString(0), g.getString(1)) === ((a, b)))
      assert((g.getLong(2), g.getLong(3), g.getLong(4)) ===
        ((na.toLong, nb.toLong, i.toLong)))
    }
  }

  test("weekly spectrum: table-built sinusoid ≈ amp 1 / share 1; constant flat") {
    import EventsFixture.RawEv
    val spark0 = spark
    import spark0.implicits._
    val day = 86400L * 1000000000L
    val base = 1735689600L * 1000000000L // 2025-01-01, a Wednesday
    // type w: value = 10 + cos-table(dow)/1e6 over exactly 2 weeks —
    // both literal tables sum to EXACTLY 0 over a whole week, so the
    // mean clears and the fitted amplitude is 1 to table precision;
    // type c: constant → aa = bb = 0 exactly → amp 0, share NULL
    val epochDays0 = (1735689600L / 86400L).toInt
    val w = (0 until 14).map { i =>
      val dow = (epochDays0 + i) % 7
      RawEv(i.toLong, base + i * day, 1L, "w",
        10.0 + Events.WeeklyCos(dow) / 1e6, "{}")
    }
    val c = (0 until 14).map(i =>
      RawEv(100 + i.toLong, base + i * day, 1L, "c", 5.0, "{}"))
    val d = s"$tmpDir/spectrum"
    (w ++ c).toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.weeklySpectrum(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("w").getLong(1) === 14L)
    assert(math.abs(got("w").getDouble(2) - 1.0) < 1e-3, "amp of unit cosine")
    assert(got("w").getDouble(3) > 0.999, "pure weekly signal: share → 1")
    assert(got("c").getDouble(2) === 0.0, "constant: zero amplitude exactly")
    assert(got("c").isNullAt(3), "constant: den 0 → NULL share")
    // independent recount at sf: BigInt replication of the closed form
    val daily = Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("dd"))
      .agg(sum(round(round(col("value"), 6) * 1e6, 0).cast("long")).as("y"))
      .select(col("event_type"), col("dd").cast("date").cast("string"), col("y"))
      .collect().groupBy(_.getString(0)).view
      .mapValues(_.map(r => (java.time.LocalDate.parse(r.getString(1))
        .toEpochDay.toInt, r.getLong(2))).toSeq).toMap
    Events.weeklySpectrum(spark, sf).collect().foreach { r =>
      val ds = daily(r.getString(0))
      val n = ds.length
      val sy = ds.map(x => BigInt(x._2)).sum
      def tab(t: Seq[Long]) = ds.map { case (ed, y) =>
        (BigInt(y) * t(((ed % 7) + 7) % 7), BigInt(t(((ed % 7) + 7) % 7)))
      }
      val (a0, cs) = tab(Events.WeeklyCos).reduce((p, q) => (p._1 + q._1, p._2 + q._2))
      val (b0, ss) = tab(Events.WeeklySin).reduce((p, q) => (p._1 + q._1, p._2 + q._2))
      val aa = (BigInt(n) * a0 - sy * cs).toDouble
      val bb = (BigInt(n) * b0 - sy * ss).toDouble
      val den = ds.map { case (_, y) => val dv = BigInt(n) * y - sy; dv * dv }.sum
      val amp = BigDecimal(2 * math.sqrt(aa * aa + bb * bb) / (n.toDouble * n * 1e12))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getLong(1) === n.toLong)
      assert(r.getDouble(2) === amp, s"amp recount ${r.getString(0)}")
      if (den > 0) {
        val share = BigDecimal(2 * (aa * aa + bb * bb)
          / (1e12 * n.toDouble * den.toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(r.getDouble(3) === share, s"share recount ${r.getString(0)}")
      }
    }
  }

  test("entropy rate: deterministic state is 0 bits, a fair split is 1 bit") {
    import EventsFixture.RawEv
    val spark0 = spark
    import spark0.implicits._
    val base = 1735689600L * 1000000000L
    // user stream x y x y z → transitions x→y ×2 (H=0), y→x, y→z (H=1)
    val seqTypes = Seq("x", "y", "x", "y", "z")
    val rows = seqTypes.zipWithIndex.map { case (t, i) =>
      RawEv(i.toLong, base + i * 1000000000L, 1L, t, 1.0, "{}")
    }
    val d = s"$tmpDir/entropy_rate"
    rows.toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.entropyRate(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet === Set("x", "y"), "z has no outgoing transitions")
    assert(got("x").getLong(1) === 2L && got("x").getLong(2) === 1L)
    assert(got("x").getDouble(3) === 0.0 && got("x").getDouble(4) === 0.0)
    assert(got("y").getLong(1) === 2L && got("y").getLong(2) === 2L)
    assert(got("y").getDouble(3) === 1.0, "fair coin: exactly 1 bit")
    assert(got("y").getDouble(4) === 0.5, "2/4 weight × 1 bit")
    // sf recount: exact counts, entropy within two 6-dp ulps (the only
    // cross-impl risk is the log; engine parity is the oracle's job)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("tu"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val trans = ev.groupBy(_._1).values.flatMap { s =>
      val o = s.sortBy(x => (x._2, x._3)).map(_._4)
      o.zip(o.drop(1))
    }.toSeq
    val byF = trans.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = trans.size
    Events.entropyRate(spark, sf).collect().foreach { r =>
      val ts2 = byF(r.getString(0))
      val cf = ts2.size
      val counts = ts2.groupBy(identity).values.map(_.size)
      assert(r.getLong(1) === cf.toLong)
      assert(r.getLong(2) === counts.size.toLong)
      val h = counts.map { c =>
        val p = c.toDouble / cf
        BigDecimal(-p * math.log(p) / math.log(2.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.sum
      assert(math.abs(r.getDouble(3) - h) < 2e-6, s"H(${r.getString(0)})")
      assert(math.abs(r.getDouble(4) - cf.toDouble / n * h) < 2e-6)
    }
  }

  test("weekly churn: planted comeback pattern; last week right-censored") {
    import EventsFixture.RawEv
    val spark0 = spark
    import spark0.implicits._
    val day = 86400L * 1000000000L
    // week boundaries are epoch weeks: day 0 = 1970-01-01 → wk = d div 7.
    // wk0: users 1,2,3; wk1: users 1,2; wk2: user 1 →
    // wk0: churn 1/3; wk1: churn 1/2; wk2 censored (no wk3 to return in)
    val plan = Seq((0, 1L), (0, 2L), (0, 3L), (7, 1L), (8, 2L), (14, 1L))
    val rows = plan.zipWithIndex.map { case ((d0, u), i) =>
      RawEv(i.toLong, d0 * day + 1000000000L, u, "t", 1.0, "{}")
    }
    val d = s"$tmpDir/churn"
    rows.toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.weeklyChurn(spark, d).collect()
    assert(got.length === 2, "third week censored")
    assert(got(0).getDate(0).toString === "1970-01-01")
    assert((got(0).getLong(1), got(0).getLong(2), got(0).getLong(3)) ===
      ((3L, 2L, 1L)))
    assert(got(0).getDouble(4) === 0.333333 && got(0).getDouble(5) === 0.666667)
    assert((got(1).getLong(1), got(1).getLong(2), got(1).getLong(3)) ===
      ((2L, 1L, 1L)))
    assert(got(1).getDouble(4) === 0.5)
    // independent recount at sf from distinct (week, user) pairs
    val pairs = Tables.events(spark, sf)
      .select(expr("cast(datediff(cast(ts as date), date '1970-01-01') div 7 as int)"),
        col("user_id")).distinct().collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val byWk = pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val mx = byWk.keys.max
    val sfGot = Events.weeklyChurn(spark, sf).collect()
    assert(sfGot.length === byWk.size - 1 ||
      sfGot.length === byWk.keys.count(_ < mx))
    sfGot.foreach { r =>
      val wk = (r.getDate(0).toLocalDate.toEpochDay / 7).toInt
      val act = byWk(wk)
      val ret = byWk.getOrElse(wk + 1, Set.empty[Long])
      assert(r.getLong(1) === act.size.toLong)
      assert(r.getLong(2) === (act & ret).size.toLong, s"wk $wk retained")
    }
  }

  test("user features: planted profile is exact incl. NULL-value guard") {
    import EventsFixture.RawEv
    val spark0 = spark
    import spark0.implicits._
    val day = 86400L * 1000000000L
    val base = 1735689600L * 1000000000L
    // user 1: 3 events on days {0, 0, 4}, types {a, b}, values
    // (10, 20, NULL) → mean 15; span 5, density 2/5
    val rows = Seq(
      RawEv(1, base, 1L, "a", 10.0, "{}"),
      RawEv(2, base + 1000000000L, 1L, "b", 20.0, "{}"),
      RawEv(3, base + 4 * day, 1L, "a", Double.NaN, "{}"))
    val d = s"$tmpDir/ufeat"
    rows.toDF()
      .withColumn("value", when(col("event_id") === 3, lit(null)
        .cast("double")).otherwise(col("value")))
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.userFeatures(spark, d).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((3L, 2L, 2L)))
    assert(r.getDouble(4) === 15.0, "NULL value excluded from the mean")
    assert(r.getLong(5) === 5L && r.getDouble(6) === 0.4)
    // sf recount of the count features from raw rows
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), date_trunc("DAY", col("ts")).as("dd"),
        col("event_type")).collect()
      .map(x => (x.getLong(0), x.getTimestamp(1), x.getString(2)))
    val byU = raw.groupBy(_._1)
    val sfGot = Events.userFeatures(spark, sf).collect()
    sfGot.foreach { r2 =>
      val rs = byU(r2.getLong(0))
      assert(r2.getLong(1) === rs.length.toLong)
      assert(r2.getLong(2) === rs.map(_._2).distinct.length.toLong)
      assert(r2.getLong(3) === rs.map(_._3).distinct.length.toLong)
    }
  }

  test("diff in diff: planted step against a drifting control is exact") {
    import EventsFixture.RawEv
    val spark0 = spark
    import spark0.implicits._
    val day = 86400L * 1000000000L
    val base = 1735689600L * 1000000000L
    // 10 days → cutoff = d0 + 4 (9 div 2): days 0-3 before, 4-9 after.
    // T steps 10 → 20 (Δ = 10); C drifts 5 → 6 (Δ = 1). With two
    // types each is the other's control: did(T) = 9, did(C) = −9
    val rows = (0 until 10).flatMap { i =>
      Seq(RawEv(i.toLong, base + i * day, 1L, "T",
          if (i < 4) 10.0 else 20.0, "{}"),
        RawEv(100 + i.toLong, base + i * day, 2L, "C",
          if (i < 4) 5.0 else 6.0, "{}"))
    }
    val d = s"$tmpDir/did"
    rows.toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.diffInDiff(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    val t = got("T")
    assert((t.getLong(1), t.getLong(2)) === ((4L, 6L)))
    assert(t.getDouble(3) === 10.0 && t.getDouble(4) === 20.0)
    assert(t.getDouble(5) === 10.0, "treatment delta")
    assert(t.getDouble(6) === 1.0, "control delta")
    assert(t.getDouble(7) === 9.0, "DiD")
    assert(got("C").getDouble(7) === -9.0, "mirrored for the control type")
    // sf recount of the cell means from raw micro sums
    val ev = Tables.events(spark, sf).filter(col("value").isNotNull)
      .select(col("event_type"), date_trunc("DAY", col("ts")).as("dd"),
        round(round(col("value"), 6) * 1e6, 0).cast("long").as("v6"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    val (d0, d1) = (ev.map(_._2).min, ev.map(_._2).max)
    val span = java.time.temporal.ChronoUnit.DAYS.between(
      d0.toLocalDateTime, d1.toLocalDateTime)
    val cutD = d0.toLocalDateTime.plusDays(span / 2)
    def mean6(rs: Seq[Long]): Double = BigDecimal(math.round(BigDecimal(
      rs.sum.toDouble / rs.length / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6) / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byT = ev.groupBy(_._1)
    Events.diffInDiff(spark, sf).collect().foreach { r =>
      val rs = byT(r.getString(0))
      val before = rs.filter(_._2.toLocalDateTime.isBefore(cutD)).map(_._3)
      val after = rs.filterNot(_._2.toLocalDateTime.isBefore(cutD)).map(_._3)
      assert(r.getLong(1) === before.length.toLong)
      assert(r.getLong(2) === after.length.toLong)
      assert(r.getDouble(3) === mean6(before.toSeq), s"${r.getString(0)} mb")
      assert(r.getDouble(4) === mean6(after.toSeq), s"${r.getString(0)} ma")
    }
  }

  test("value anova: planted separation gives the textbook F; null effect ~0") {
    import EventsFixture.RawEv
    val spark0 = spark
    import spark0.implicits._
    val base = 1735689600L * 1000000000L
    // group A: {1,3} (mean 2, SS 2), group B: {5,7} (mean 6, SS 2) →
    // SSW = 4, grand mean 4, SSB = 2·4+2·4 = 16, F = 16·2/(4·1) = 8,
    // η² = 16/20 = 0.8
    val rows = Seq(("A", 1.0), ("A", 3.0), ("B", 5.0), ("B", 7.0))
      .zipWithIndex.map { case ((t, v), i) =>
        RawEv(i.toLong, base + i * 1000000000L, 1L, t, v, "{}")
      }
    val d = s"$tmpDir/anova"
    rows.toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.valueAnova(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("A").getDouble(2) === 2.0 && got("B").getDouble(2) === 6.0)
    assert(got("A").getDouble(3) === 1.0, "pop variance of {1,3}")
    assert(got("A").getLong(4) === 2L)
    assert(got("A").getDouble(5) === 8.0, "F exactly 8")
    assert(got("A").getDouble(6) === 0.8, "eta squared exactly 0.8")
    // null effect: identical groups → F ≈ 0 (within a few rounded micro)
    val rows2 = Seq(("A", 1.0), ("A", 3.0), ("B", 1.0), ("B", 3.0))
      .zipWithIndex.map { case ((t, v), i) =>
        RawEv(i.toLong, base + i * 1000000000L, 1L, t, v, "{}")
      }
    val d2 = s"$tmpDir/anova0"
    rows2.toDF().write.mode("overwrite").parquet(s"$d2/events.parquet")
    val z = Events.valueAnova(spark, d2).collect().head
    assert(math.abs(z.getDouble(5)) < 1e-5, "null effect: F ~ 0")
    // sf recount of the group moments feeding the terms
    val raw = Tables.events(spark, sf).filter(col("value").isNotNull)
      .select(col("event_type"),
        round(round(col("value"), 6) * 1e6, 0).cast("long").as("v6"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val by = raw.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    Events.valueAnova(spark, sf).collect().foreach { r =>
      val vs = by(r.getString(0))
      assert(r.getLong(1) === vs.length.toLong)
      val mean = BigDecimal(vs.map(BigInt(_)).sum.toDouble / vs.length / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      assert(r.getDouble(2) === mean, s"${r.getString(0)} mean")
    }
  }

  test("stickiness: hand fixture is exact; sf values recompute from raw pairs") {
    import EventsFixture.RawEv
    val spark0 = spark
    import spark0.implicits._
    val day = 86400L * 1000000000L
    val base = 1735689600L * 1000000000L
    // user 1 active on days 1 and 2 (twice on day 1 — dedup must hold),
    // user 2 on day 1 only → dau = [2, 1], mau = 2 → 3/(2·2) = 0.75
    val rows = Seq(
      RawEv(1, base, 1L, "a", 1.0, "{}"),
      RawEv(2, base + 3600L * 1000000000L, 1L, "a", 1.0, "{}"),
      RawEv(3, base + day, 1L, "a", 1.0, "{}"),
      RawEv(4, base, 2L, "a", 1.0, "{}"))
    val d = s"$tmpDir/stick"
    rows.toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.stickiness(spark, d).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((2L, 3L, 2L)))
    assert(r.getDouble(4) === 0.75)
    // sf recount from raw (month, day, user) triples
    val raw = Tables.events(spark, sf)
      .select(date_trunc("month", col("ts")), date_trunc("day", col("ts")),
        col("user_id"))
      .collect().map(x => (x.getTimestamp(0), x.getTimestamp(1), x.getLong(2)))
      .distinct
    val expect = raw.groupBy(_._1).map { case (mon, xs) =>
      val dauTotal = xs.map(x => (x._2, x._3)).distinct.length.toLong
      val nDays = xs.map(_._2).distinct.length.toLong
      val mau = xs.map(_._3).distinct.length.toLong
      mon -> (nDays, dauTotal, mau)
    }
    Events.stickiness(spark, sf).collect().foreach { r =>
      val (nd, dt, ma) = expect(r.getTimestamp(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((nd, dt, ma)))
      assert(r.getDouble(4) === BigDecimal(dt.toDouble / (nd * ma))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("markov stationary: planted two-state chain hits the analytic fixpoint") {
    import EventsFixture.RawEv
    val spark0 = spark
    import spark0.implicits._
    // walk A A A A B B A → transitions AA×3, AB×1, BB×1, BA×1:
    // P = [[3/4,1/4],[1/2,1/2]], stationary π = (2/3, 1/3)
    val walk = Seq("A", "A", "A", "A", "B", "B", "A")
    val rows = walk.zipWithIndex.map { case (t, i) =>
      RawEv(i.toLong, (1735689600L + i * 60) * 1000000000L, 1L, t, 1.0, "{}")
    }
    val d = s"$tmpDir/markov"
    rows.toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.markovStationary(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    // integer fold replicated exactly: π·w div ow from uniform, 12 rounds
    val tr = Seq(("A", "A", 3L), ("A", "B", 1L), ("B", "B", 1L), ("B", "A", 1L))
    val ow = Map("A" -> 4L, "B" -> 2L)
    var pi = Map("A" -> 500000000L, "B" -> 500000000L)
    for (_ <- 1 to Events.MarkovIters) {
      val nxt = scala.collection.mutable.Map("A" -> 0L, "B" -> 0L)
      tr.foreach { case (f, t, w) => nxt(t) += (BigInt(pi(f)) * w / ow(f)).toLong }
      pi = nxt.toMap
    }
    assert(got("A")._1 === pi("A") && got("B")._1 === pi("B"),
      "distributed pi_ppb must equal the exact integer fold")
    assert(math.abs(got("A")._1 / 1e9 - 2.0 / 3) < 1e-3, "converged near 2/3")
    // observed shares over the walk: A appears 5/7, B 2/7
    assert(got("A")._2 ===
      BigDecimal(5.0 / 7).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("cusum changepoint: a planted level shift is found exactly") {
    import EventsFixture.RawEv
    val spark0 = spark
    import spark0.implicits._
    val day = 86400L * 1000000000L
    val base = 1735689600L * 1000000000L // 2025-01-01 UTC
    // type m: 10.0/day for 10 days then 20.0/day for 10 days — CUSUM
    // |S| peaks at the last low day (S_10 = −50), so cp = 2025-01-10,
    // cusum_max = 50, mean_before = 10, mean_after = 20
    val rows = (1 to 20).map { i =>
      RawEv(i.toLong, base + (i - 1) * day, 1L, "m",
        if (i <= 10) 10.0 else 20.0, "{}")
    }
    val d = s"$tmpDir/cusum"
    rows.toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.cusumChangepoint(spark, d).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getLong(1) === 20L)
    assert(r.getTimestamp(2).toInstant.toString.startsWith("2025-01-10"))
    assert(r.getDouble(3) === 50.0)
    assert(r.getDouble(4) === 10.0)
    assert(r.getDouble(5) === 20.0)
  }

  test("cusum changepoint: argmax recomputes from a driver-side BigInt fold") {
    val daily = Tables.events(spark, sf).filter(col("value").isNotNull)
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("d"))
      .agg(sum(round(round(col("value"), 6) * 1e6, 0).cast("long")).as("x"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    val expect = daily.groupBy(_._1).map { case (t, rows) =>
      val xs = rows.sortBy(_._2.getTime).map(x => (x._2, BigInt(x._3)))
      val (n, tot) = (xs.length, xs.map(_._2).sum)
      val peaks = xs.scanLeft(BigInt(0))(_ + _._2).tail.zipWithIndex.map {
        case (p, idx) => (((p * n) - (tot * (idx + 1))).abs, idx)
      }
      val best = peaks.minBy { case (cv, idx) => (-cv, idx) }
      t -> (xs(best._2)._1, best._1)
    }
    Events.cusumChangepoint(spark, sf).collect().foreach { r =>
      val (expDay, expCv) = expect(r.getString(0))
      assert(r.getTimestamp(2) === expDay, s"cp_day for ${r.getString(0)}")
      val n = r.getLong(1)
      assert(r.getDouble(3) ===
        math.round(expCv.toDouble / (n.toDouble * 1e6) * 1e6) / 1e6,
        s"cusum_max for ${r.getString(0)}")
    }
  }

  test("streaming_dedup parity: the seeded echo dedups to the hand-counted summary") {
    // fixture ids 1..10 (types alternate a/b, users 1/2, value 1.0):
    // only id 10 (type b, user 2) echoes under mod 10, so type a is
    // untouched (5 fed, 5 kept) and type b carries exactly one dupe
    // (6 fed, 5 kept); both types see users {1,2} and Σvalue = 5.0
    val got = Events.dedupStreamParity(spark, fixtureDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.toSeq === Seq(
      ("a", 5L, 5L, 0L, 2L, 5.0),
      ("b", 6L, 5L, 1L, 2L, 5.0)))
    // independent recount of the feed construction itself: the echo
    // adds exactly the mod-10 rows and introduces no new content
    val feed = Events.dedupFeedEvents(spark, fixtureDir)
    assert(feed.count() === 11)
    assert(feed.dropDuplicates().count() === 10,
      "echo rows must be verbatim copies")
  }

  test("late-data parity: the 2-day stragglers drop by the watermark RULE, exactly") {
    // planted feed: ids 1,2,3,17,34 (minutes 0/10/20/100/200, types
    // a/b/a/b/a, value 1.0) — ids 17 and 34 echo 2 days late. cutoff =
    // max(base ts) − 1 h = minute 140; every echo sits ~2 days below
    // it, so the RULE (not the flag) must drop both and nothing else.
    import EventsFixture.RawEv
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/latefix"
    val base = 1735689600L
    def ev(id: Long, user: Long, minute: Long, typ: String) =
      RawEv(id, (base + minute * 60) * 1000000000L, user, typ, 1.0, """{"k":1}""")
    Seq(ev(1, 1, 0, "a"), ev(2, 1, 10, "b"), ev(3, 1, 20, "a"),
        ev(17, 2, 100, "b"), ev(34, 2, 200, "a"))
      .toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.lateDataParity(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    // kept hours: a at minutes 0, 20, 200 → hours {0, 3}; b at 10, 100
    // → hours {0, 1}
    assert(got.toSeq === Seq(
      ("a", 4L, 1L, 3L, 3.0, 2L),
      ("b", 3L, 1L, 2L, 2.0, 2L)))
  }

  test("json struct extract: every probed from_json class lands per the pinned contract") {
    // one row per pinned semantics class (the Spark 4.1.2 probe matrix
    // in the op's scaladoc): in-range int, negative int, string digits,
    // double, bool, json null, absent key + notk int, overflow int,
    // NULL props — each asserting (unparsed, k_long, notk_long, k_raw)
    import EventsFixture.RawEv
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/jsonfix"
    val base = 1735689600L
    def ev(id: Long, props: String) =
      RawEv(id, (base + id * 60) * 1000000000L, 1L, "a", 1.0, props)
    Seq(ev(1, """{"k": 69}"""), ev(2, """{"k": -7}"""),
        ev(3, """{"k": "42"}"""), ev(4, """{"k": 3.7}"""),
        ev(5, """{"k": true}"""), ev(6, """{"k": null}"""),
        ev(7, """{"notk": 9}"""), ev(8, """{"k": 99999999999999999999}"""),
        ev(9, null),
        // the classes the unparsed flag's oracle twin hinges on
        // (round-16 review): malformed-but-non-blank → NON-null struct
        // of NULL fields; whitespace-only → NULL struct; a mixed row
        // exercises partial results (one failing field must not null
        // its valid sibling)
        ev(10, "{"), ev(11, "   "), ev(12, """{"k":"42","notk":7}"""))
      .toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.jsonStructExtract(spark, d).collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        Option(r.getString(4))))
    assert(got.toSeq === Seq(
      (1L, false, Some(69L), None, Some("69")),
      (2L, false, Some(-7L), None, Some("-7")),
      (3L, false, None, None, Some("42")),
      (4L, false, None, None, Some("3.7")),
      (5L, false, None, None, Some("true")),
      (6L, false, None, None, None),
      (7L, false, None, Some(9L), None),
      (8L, false, None, None, Some("99999999999999999999")),
      (9L, true, None, None, None),
      (10L, false, None, None, None),
      (11L, true, None, None, None),
      (12L, false, None, Some(7L), Some("42"))))
  }

  test("json props audit: blank / yields-int64 / other classes count per the pinned contract") {
    import EventsFixture.RawEv
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/jsonauditfix"
    val base = 1735689600L
    def ev(id: Long, typ: String, props: String) =
      RawEv(id, (base + id * 60) * 1000000000L, 1L, typ, 1.0, props)
    // type a: 2 ints (5, -3), 2 blanks (NULL, whitespace), 2 others
    // (malformed, string-valued k); type b: a single int row
    Seq(ev(1, "a", """{"k": 5}"""), ev(2, "a", """{"k": -3}"""),
        ev(3, "a", null), ev(4, "a", "   "), ev(5, "a", "{"),
        ev(6, "a", """{"k":"9"}"""), ev(7, "b", """{"k": 1}"""))
      .toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.jsonPropsAudit(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getLong(7),
        r.getLong(8), r.getLong(9)))
    assert(got.toSeq === Seq(
      ("a", 6L, 2L, 2L, 2L, 0.333333, 0.333333, 2L, -3L, 5L),
      ("b", 1L, 0L, 1L, 0L, 1.0, 0.0, 1L, 1L, 1L)))
  }

  test("runs test: alternation, clumping, degenerate guards — all hand-computed") {
    import EventsFixture.RawEv
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/runsfix"
    val base = 1735689600L
    def ev(id: Long, typ: String, v: Double) =
      RawEv(id, (base + id * 60) * 1000000000L, 1L, typ, v, null)
    // alt: U D U D → 4 runs of 2/2 (oscillation, z = +1.224745);
    // clump: D D U U → 2 runs (clumping, z = −1.224745); one: single
    // row (n ≤ 1 guard); const: all at the mean → n1 = 0, a = 0 guard
    Seq(ev(1, "alt", 10), ev(2, "alt", 0), ev(3, "alt", 10), ev(4, "alt", 0),
        ev(5, "clump", 0), ev(6, "clump", 0), ev(7, "clump", 10),
        ev(8, "clump", 10),
        ev(9, "one", 7.0),
        ev(10, "const", 5), ev(11, "const", 5), ev(12, "const", 5))
      .toDF().write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Events.runsTest(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)),
        if (r.isNullAt(7)) None else Some(r.getBoolean(7))))
    assert(got.toSeq === Seq(
      ("alt", 4L, 2L, 2L, 4L, 3.0, Some(1.224745), Some(false)),
      ("clump", 4L, 2L, 2L, 2L, 3.0, Some(-1.224745), Some(false)),
      ("const", 3L, 0L, 3L, 1L, 1.0, None, None),
      ("one", 1L, 0L, 1L, 1L, 1.0, None, None)))
  }

  test("markov stationary: transition matrix memoizes per relation identity, output unchanged") {
    // round-21 eager-construction memo: the two construction-time
    // collect jobs (top-K types, transition counts) run once per
    // (session, dir, relation identity); a repeat call reuses the SAME
    // matrix instance and computes identical output from it (π
    // re-iterates driver-side, the observed mix re-aggregates the
    // corpus — the memo never holds the op's output)
    val out1 = Events.markovStationary(spark, sf).collect().toSeq
    val m1 = Events.markovTransMemo.peek((spark, sf))
      .getOrElse(fail("first call must populate the transition memo"))
    val out2 = Events.markovStationary(spark, sf).collect().toSeq
    val m2 = Events.markovTransMemo.peek((spark, sf)).get
    assert(m2 eq m1, "repeat call must reuse the memoized matrix")
    assert(out2 === out1)
    // the memoized matrix equals a fresh uncached build (staleness
    // check aside, the memo is a pure cache of markovTransitions)
    val fresh = Events.markovTransitions(Tables.events(spark, sf))
    assert(fresh.toSeq === m1.toSeq)
  }
}

object EventsFixture {
  /** Rows shaped like the raw events parquet (ts = ns since epoch). */
  case class RawEv(event_id: Long, ts: Long, user_id: Long,
                   event_type: String, value: Double, props: String)

  private val base = 1735689600L // 2025-01-01 00:00:00 UTC

  private def ev(id: Long, user: Long, minute: Long, typ: String) =
    RawEv(id, (base + minute * 60) * 1000000000L, user, typ, 1.0, """{"k":1}""")

  // user 1: sessions {0,10,20}, {60,80}, {200}; user 2: {5}, {45,70,95}
  // (gaps of 40 min break; 25 min does not; no exact-30 edge — the batch
  // lag-rule and session_window disagree on whether =gap merges)
  val fixtureEvents: Seq[RawEv] = Seq(
    ev(1, 1, 0, "a"), ev(2, 1, 10, "b"), ev(3, 1, 20, "a"),
    ev(4, 1, 60, "b"), ev(5, 1, 80, "a"), ev(6, 1, 200, "b"),
    ev(7, 2, 5, "a"), ev(8, 2, 45, "b"), ev(9, 2, 70, "a"), ev(10, 2, 95, "b"))

  val expectedSessions: Map[(Long, Int), Long] = Map(
    (1L, 1) -> 3L, (1L, 2) -> 2L, (1L, 3) -> 1L,
    (2L, 1) -> 1L, (2L, 2) -> 3L)

  def writeFixture(spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    import spark.implicits._
    fixtureEvents.toDF().write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }
}
