package graft.ext

import java.sql.Timestamp
import org.apache.spark.sql.Row
import graft.SparkSpec

class TimeSeriesSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = df(
    "event_type STRING, ts TIMESTAMP",
    Seq(
      Row("a", ts("2024-01-01 00:10:00")),
      Row("a", ts("2024-01-01 00:50:00")),
      Row("a", ts("2024-01-01 02:05:00")), // hour 1 is a gap for a
      Row("b", ts("2024-01-01 00:30:00")) // hours 1, 2 are gaps for b
    ))

  test("gapFillHourly: dense keys × hours grid with explicit zero rows") {
    val out = TimeSeries.gapFillHourly(events)
    assert(out.columns.toSeq == Seq("event_type", "hour", "n_events"))
    assert(rowSet(out) == rows(
      Seq("a", "2024-01-01 00:00:00.0", "2"),
      Seq("a", "2024-01-01 01:00:00.0", "0"),
      Seq("a", "2024-01-01 02:00:00.0", "1"),
      Seq("b", "2024-01-01 00:00:00.0", "1"),
      Seq("b", "2024-01-01 01:00:00.0", "0"),
      Seq("b", "2024-01-01 02:00:00.0", "0")))
  }

  test("forwardFillHourly: gap hours carry the last observation; leading gaps stay null") {
    val ev = df("event_type STRING, ts TIMESTAMP, value DOUBLE",
      Seq(
        Row("a", ts("2024-01-01 01:20:00"), 5.0), // a starts at hour 1 → hour-0 row is a leading gap
        Row("a", ts("2024-01-01 01:40:00"), 7.0), // max of hour 1 = 7.0
        Row("a", ts("2024-01-01 03:05:00"), 2.0), // hour 2 is a gap → carries 7.0
        Row("b", ts("2024-01-01 00:15:00"), 1.0)))
    val out = TimeSeries.forwardFillHourly(ev)
    assert(out.columns.toSeq == Seq("event_type", "hour", "v", "v_ff"))
    assert(rowSet(out) == rows(
      Seq("a", "2024-01-01 00:00:00.0", "null", "null"),
      Seq("a", "2024-01-01 01:00:00.0", "7.0", "7.0"),
      Seq("a", "2024-01-01 02:00:00.0", "null", "7.0"),
      Seq("a", "2024-01-01 03:00:00.0", "2.0", "2.0"),
      Seq("b", "2024-01-01 00:00:00.0", "1.0", "1.0"),
      Seq("b", "2024-01-01 01:00:00.0", "null", "1.0"),
      Seq("b", "2024-01-01 02:00:00.0", "null", "1.0"),
      Seq("b", "2024-01-01 03:00:00.0", "null", "1.0")))
  }

  test("gapFillHourly: single-hour corpus → one row per key, no gaps") {
    val one = df("event_type STRING, ts TIMESTAMP",
      Seq(Row("x", ts("2024-06-01 12:00:00")), Row("x", ts("2024-06-01 12:59:59"))))
    val out = TimeSeries.gapFillHourly(one)
    assert(rowSet(out) == rows(Seq("x", "2024-06-01 12:00:00.0", "2")))
  }

  test("groupTrend: exact slope/intercept on a hand-computed line") {
    // g1: perfect line y = 3x + 2; g2: y symmetric around x → slope 0
    val pts = df("g STRING, x BIGINT, y BIGINT", Seq(
      Row("g1", 0L, 2L), Row("g1", 1L, 5L), Row("g1", 2L, 8L),
      Row("g2", 0L, 10L), Row("g2", 1L, 0L), Row("g2", 2L, 10L)))
    val out = TimeSeries.groupTrend(pts, Seq("g"), "x", "y").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out("g1") == ((3L, 3.0, 2.0)))
    // g2: Σy=20, Σxy=20, n=3, Σx=3, Σxx=5 → slope 0, intercept 20/3
    assert(out("g2") == ((3L, 0.0, 6.666667)))
  }

  test("groupTrend: degenerate groups yield NULL, never a division error") {
    val pts = df("g STRING, x BIGINT, y BIGINT", Seq(
      Row("one", 5L, 7L),                     // n = 1
      Row("flat", 4L, 1L), Row("flat", 4L, 9L))) // all x equal
    val out = TimeSeries.groupTrend(pts, Seq("g"), "x", "y").collect()
    assert(out.length == 2 && out.forall(r => r.isNullAt(2) && r.isNullAt(3)))
  }

  test("groupTrend: 128-bit sums survive day-index × money magnitudes") {
    import spark.implicits._
    // x ~ 10^4, y ~ 10^9, n = 5000 → n·Σxy ~ 10^20 (overflows BIGINT)
    val big = (0 until 5000).map(i => ("g", 10000L + i, 1000000000L + i * 1000L))
      .toDF("g", "x", "y")
    val r = TimeSeries.groupTrend(big, Seq("g"), "x", "y").collect().head
    // constructed as exactly y = 1000·x + 990000000
    assert(r.getDouble(2) == 1000.0 && r.getDouble(3) == 9.9E8)
    val rp = TimeSeries.groupTrend(big.repartition(13), Seq("g"), "x", "y")
      .collect().head
    assert(rp.getDouble(2) == r.getDouble(2) && rp.getDouble(3) == r.getDouble(3))
  }

  test("rateAnomalies: integer z-test flags spike and gap-hour dip; in-band hour passes") {
    // key 'a': hours 0..13 alternate 9/11 events (mean 10, var > 0), hour
    // 14 has 14 (beyond 3σ → spike), hour 15 has 13 (inside 3σ → quiet).
    // key 'b': steady 10/hour for hours 0..13, then silent — the
    // gap-filled 0 hours are dips (all-equal prior ⇒ rhs = 0).
    def rowsAt(key: String, hour: Int, n: Int) = (0 until n).map(_ =>
      Row(key, ts(f"2024-01-01 $hour%02d:30:00")))
    val ev = df("event_type STRING, ts TIMESTAMP",
      (0 until 14).flatMap(h => rowsAt("a", h, if (h % 2 == 0) 9 else 11)) ++
        rowsAt("a", 14, 14) ++ rowsAt("a", 15, 13) ++
        (0 until 14).flatMap(h => rowsAt("b", h, 10)))
    val out = TimeSeries.rateAnomalies(ev).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2), r.getString(4)))
    // hand-check hour 14 for 'a': m=14, S=140, Q=1414; dev=14·14−140=56,
    // lhs=13·56²=40768 > rhs=9·14·(14·1414−140²)=24696 → spike;
    // hour 15: dev includes the spike hour in its window — recompute:
    // m=14 (hours 1..14), S=145, Q=1509... assert membership instead of
    // re-deriving every window by hand:
    assert(out.contains(("a", "2024-01-01 14:00:00.0", 14L, "spike")))
    assert(!out.exists(t => t._1 == "a" && t._2 == "2024-01-01 13:00:00.0"))
    assert(out.contains(("b", "2024-01-01 14:00:00.0", 0L, "dip")))
    assert(out.contains(("b", "2024-01-01 15:00:00.0", 0L, "dip")))
  }

  test("groupCorr: perfect ±1, zero correlation, and degenerate-variance NULL") {
    val pts = df("g STRING, x BIGINT, y1 BIGINT, y2 BIGINT", Seq(
      // y1 = 2x (r = 1); y2 symmetric around x=2 (num = 0 → r = 0)
      Row("up", 1L, 2L, 1L), Row("up", 2L, 4L, 2L), Row("up", 3L, 6L, 1L),
      // y1 = 8-2x (r = -1); y2 constant (zero variance → NULL)
      Row("down", 1L, 6L, 5L), Row("down", 2L, 4L, 5L), Row("down", 3L, 2L, 5L),
      // all x equal → both NULL
      Row("flat", 4L, 1L, 2L), Row("flat", 4L, 9L, 3L)))
    val out = TimeSeries.groupCorr(pts, Seq("g"), "x", Seq("y1", "y2"))
    assert(out.columns.toSeq == Seq("g", "n", "corr_y1", "corr_y2"))
    val m = out.collect().map(r => r.getString(0) ->
      (r.getLong(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(m("up") == ((3L, Some(1.0), Some(0.0))))
    assert(m("down") == ((3L, Some(-1.0), None)))
    assert(m("flat") == ((2L, None, None)))
  }

  test("ewmaHourly: hand-computed weighted sum, warm-up rows withheld") {
    // one key, hours 0..3 with counts 1,2,4,8; α=1/2, depth=2:
    // weights (i=0,1) = 1·1·2, 1·1·1 = (2,1); denom = 4−1 = 3
    val ev = df("event_type STRING, ts TIMESTAMP", Seq(
      Row("a", ts("2024-01-01 00:00:00")),
      Row("a", ts("2024-01-01 01:00:00")), Row("a", ts("2024-01-01 01:30:00")),
      Row("a", ts("2024-01-01 02:00:00")), Row("a", ts("2024-01-01 02:15:00")),
      Row("a", ts("2024-01-01 02:30:00")), Row("a", ts("2024-01-01 02:45:00")),
      Row("a", ts("2024-01-01 03:00:00")), Row("a", ts("2024-01-01 03:05:00")),
      Row("a", ts("2024-01-01 03:10:00")), Row("a", ts("2024-01-01 03:15:00")),
      Row("a", ts("2024-01-01 03:20:00")), Row("a", ts("2024-01-01 03:25:00")),
      Row("a", ts("2024-01-01 03:30:00")), Row("a", ts("2024-01-01 03:35:00"))))
    val out = TimeSeries.ewmaHourly(ev, alphaNum = 1, alphaDen = 2, depth = 2)
    assert(out.columns.toSeq == Seq("event_type", "hour", "n_events", "ewma"))
    // hour 0 withheld (no full lookback); hour1: (2·2+1·1)/3 = 1.666667;
    // hour2: (2·4+1·2)/3 = 3.333333; hour3: (2·8+1·4)/3 = 6.666667
    assert(rowSet(out) == rows(
      Seq("a", "2024-01-01 01:00:00.0", "2", "1.666667"),
      Seq("a", "2024-01-01 02:00:00.0", "4", "3.333333"),
      Seq("a", "2024-01-01 03:00:00.0", "8", "6.666667")))
  }

  test("ewmaHourly: gap hours smooth as zeros; per-key windows are independent") {
    val out = TimeSeries.ewmaHourly(events, alphaNum = 1, alphaDen = 2, depth = 2)
    // grid hours 0..2; key a counts 2,0,1 → h1: (0·2+2)/3 = 0.666667,
    // h2: (1·2+0)/3 = 0.666667; key b counts 1,0,0 → h1: 0.333333, h2: 0
    assert(rowSet(out) == rows(
      Seq("a", "2024-01-01 01:00:00.0", "0", "0.666667"),
      Seq("a", "2024-01-01 02:00:00.0", "1", "0.666667"),
      Seq("b", "2024-01-01 01:00:00.0", "0", "0.333333"),
      Seq("b", "2024-01-01 02:00:00.0", "0", "0.0")))
  }

  test("seasonalAnomalies: same-slot baseline flags break, not the weekly rhythm itself") {
    // four Mondays; slot 09:00 dies in week 4 (dip), slot 11:00 spikes
    // 5→50 in week 4, slot 10:00 runs 50 EVERY week — the recurring
    // weekly spike a trailing-window detector would flag, invisible to
    // the same-slot baseline
    val mondays = Seq("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22")
    def rowsAt(day: String, hour: String, n: Int) =
      (0 until n).map(_ => Row("s", ts(s"$day $hour:30:00")))
    val ev = df("event_type STRING, ts TIMESTAMP",
      mondays.take(3).flatMap(d => rowsAt(d, "09", 5)) ++
        mondays.flatMap(d => rowsAt(d, "10", 50)) ++
        (mondays.take(3).flatMap(d => rowsAt(d, "11", 5)) ++
          rowsAt(mondays.last, "11", 50)))
    val out = TimeSeries.seasonalAnomalies(ev, minPrior = 3, z = 3).collect()
      .map(r => (r.getTimestamp(1).toString, r.getLong(2), r.getString(5)))
    assert(out.toSet == Set(
      ("2024-01-22 09:00:00.0", 0L, "dip"),
      ("2024-01-22 11:00:00.0", 50L, "spike")))
  }

  test("cusumScreen: sustained level shift alarms at the hand-computed hour; quiet key stays quiet") {
    import spark.implicits._
    // key "a": 8 train hours at 10, then 5 quiet hours at 10, then 10
    // shifted hours at 14. target=10, slack=max(10 div 20,1)=1, h=8.
    // Shifted hours add y=3 each: S = 3,6,9,... -> first alarm at the
    // 3rd shifted hour (S=9>8), 8 alarms total, max S = 30.
    // key "b": constant 10 throughout -> y=-1, S pinned at 0, no alarms.
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    val rowsIn = (0 until 23).flatMap { i =>
      val hr = new java.sql.Timestamp((t0 + i * 3600L) * 1000L)
      val xa = if (i < 13) 10L else 14L
      Seq(("a", hr, xa), ("b", hr, 10L))
    }
    val series = rowsIn.toDF("event_type", "hour", "n_events")
    val out = TimeSeries.cusumScreen(series, trainN = 8, slackDiv = 20, hMult = 8)
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getAs[Long]("target") == 10L && a.getAs[Long]("slack") == 1L)
    assert(a.getAs[Long]("n_monitored") == 15L)
    assert(a.getAs[Long]("n_alarms") == 8L)
    assert(a.getAs[Long]("first_alarm_hour") == t0 / 3600 + 15) // 3rd shifted hour
    assert(a.getAs[Long]("max_stat") == 30L)
    val b = out("b")
    assert(b.getAs[Long]("n_alarms") == 0L && b.getAs[Long]("first_alarm_hour") == -1L)
    assert(b.getAs[Long]("max_stat") == 0L)
  }

  test("pettittTest: hand-computed step change — K, split hour, and sign") {
    import spark.implicits._
    // hourly counts [1,1,1,5,5,5]: s(1) = 0−3 = −3, s(5) = 3−0 = 3;
    // U over proper splits t=0..4: −3,−6,−9,−6,−3 → K=9 at the 3rd hour,
    // u_at = −9 (earlier regime LOWER)
    val t0 = java.time.Instant.parse("2024-05-01T00:00:00Z").getEpochSecond
    val rowsIn = (0 until 6).flatMap { h =>
      val n = if (h < 3) 1 else 5
      (0 until n).map(i =>
        (h * 10L + i, new java.sql.Timestamp((t0 + h * 3600L + 60 * i) * 1000L)))
    }
    val events = rowsIn.toDF("event_id", "ts")
    val r = TimeSeries.pettittTest(events, "ts").head()
    assert(r.getAs[Long]("n_hours") == 6L)
    assert(r.getAs[Long]("k_stat") == 9L)
    assert(r.getAs[Long]("at_hour") == t0 / 3600 + 2)
    assert(r.getAs[Long]("u_at") == -9L)
  }

  test("pettittTest: constant series reads K=0; gap hours count as zeros") {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-05-02T00:00:00Z").getEpochSecond
    // hours 0,1,2,5 present (1 event each) → grid has zero-hours 3,4;
    // values [1,1,1,0,0,1]: s(0)=−4+0... by-value: m(0)=2, m(1)=4;
    // s(0)=0−4=−4, s(1)=2−0=2; U: 2,4,6,2,−2 → K=6 at hour 2
    val events = Seq(0, 1, 2, 5).map(h =>
      (h.toLong, new java.sql.Timestamp((t0 + h * 3600L) * 1000L)))
      .toDF("event_id", "ts")
    val r = TimeSeries.pettittTest(events, "ts").head()
    assert(r.getAs[Long]("n_hours") == 6L)
    assert(r.getAs[Long]("k_stat") == 6L)
    assert(r.getAs[Long]("at_hour") == t0 / 3600 + 2)
    assert(r.getAs[Long]("u_at") == 6L)
    // constant: every s = 0 → K = 0
    val const = (0 until 4).map(h =>
      (h.toLong, new java.sql.Timestamp((t0 + h * 3600L) * 1000L)))
      .toDF("event_id", "ts")
    assert(TimeSeries.pettittTest(const, "ts").head()
      .getAs[Long]("k_stat") == 0L)
  }

  test("mannKendall: hand pair census — monotone, tied, decreasing, constant") {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-06-01T00:00:00Z").getEpochSecond
    def events(counts: Seq[Int]) = counts.zipWithIndex.flatMap { case (n, h) =>
      (0 until n).map(i =>
        (h * 100L + i, new java.sql.Timestamp((t0 + h * 3600L + 60 * i) * 1000L)))
    }.toDF("event_id", "ts")
    // [1,2,3,4,5]: S = 10, no ties → var18 = 5·4·15 = 300,
    // z² = (10−1)²·18e6/300 = 4,860,000 ppm
    val up = TimeSeries.mannKendall(events(Seq(1, 2, 3, 4, 5)), "ts").head()
    assert(up.getAs[Long]("n_hours") == 5L)
    assert(up.getAs[Long]("s_stat") == 10L)
    assert(up.getAs[Long]("var18") == 300L)
    assert(up.getAs[Long]("z2_ppm") == 4860000L)
    // [1,2,2,3]: S = 5; tie m=2 → tie18 = 18, var18 = 156 − 18 = 138;
    // z² = 16·18e6 div 138 = 2,086,956 ppm
    val tied = TimeSeries.mannKendall(events(Seq(1, 2, 2, 3)), "ts").head()
    assert(tied.getAs[Long]("s_stat") == 5L)
    assert(tied.getAs[Long]("var18") == 138L)
    assert(tied.getAs[Long]("z2_ppm") == 2086956L)
    // [5,3,1]: S = −3 (sign survives); z² = 4·18e6 div 66 = 1,090,909
    val down = TimeSeries.mannKendall(events(Seq(5, 3, 1)), "ts").head()
    assert(down.getAs[Long]("s_stat") == -3L)
    assert(down.getAs[Long]("z2_ppm") == 1090909L)
    // constant series: var18 = 0 → NULL (no trend question to answer)
    val const = TimeSeries.mannKendall(events(Seq(3, 3, 3)), "ts").head()
    assert(const.getAs[Long]("s_stat") == 0L)
    assert(const.isNullAt(const.fieldIndex("z2_ppm")))
  }

  test("mannKendallFromCounts: pre-aggregated per-key counts collapse to the batch answer") {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-06-02T00:00:00Z").getEpochSecond
    val raw = Seq(1, 2, 3, 4, 5).zipWithIndex.flatMap { case (n, h) =>
      (0 until n).map(i =>
        (h * 100L + i, new java.sql.Timestamp((t0 + h * 3600L + 60 * i) * 1000L)))
    }.toDF("event_id", "ts")
    // split each hour's count across two keys — the twin must sum them
    val counts = Seq(1, 2, 3, 4, 5).zipWithIndex.flatMap { case (n, h) =>
      val hour = new java.sql.Timestamp((t0 + h * 3600L) * 1000L)
      Seq(("a", hour, n / 2L), ("b", hour, n - n / 2L))
    }.toDF("key", "hour", "c").filter($"c" > 0)
    val batch = TimeSeries.mannKendall(raw, "ts").head()
    val twin = TimeSeries.mannKendallFromCounts(counts).head()
    assert(batch == twin)
  }

  test("burstiness: clocklike reads 0, hand CV², singleton/degenerate NULL") {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-09-01T00:00:00Z").getEpochSecond
    def ev(rows: Seq[(String, Long)]) = rows.map { case (k, ms) =>
      (k, new java.sql.Timestamp(t0 * 1000L + ms))
    }.toDF("event_type", "ts")
    // a: gaps [1000, 1000, 1000] ms → CV² = 0
    // b: gaps [1000, 3000] ms: n=2, S=4000, Σd² = 10e6 →
    //    (2·10e6 − 16e6)·1e6/16e6 = 250000
    // c: a single event → no gaps → no row survives the lag filter
    val out = TimeSeries.burstiness(ev(Seq(
      ("a", 0L), ("a", 1000L), ("a", 2000L), ("a", 3000L),
      ("b", 0L), ("b", 1000L), ("b", 4000L),
      ("c", 500L)))).collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(out("a") == ((3L, 0L)))
    assert(out("b") == ((2L, 250000L)))
    assert(!out.contains("c"))
  }

  test("peakToMean: gap-filled zero hours count toward the mean") {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-09-02T00:00:00Z").getEpochSecond
    // key a: hours 0,1,2 with counts [3,0,1] on the global span (hour 2
    // comes from key b) → H = 3, peak 3, total 4 → 3·3·1e6/4 = 2,250,000
    val ev = (Seq.fill(3)(("a", 0)) ++ Seq(("a", 2)) ++ Seq(("b", 2))).zipWithIndex
      .map { case ((k, h), i) =>
        (k, new java.sql.Timestamp((t0 + h * 3600L + i) * 1000L))
      }.toDF("event_type", "ts")
    val out = TimeSeries.peakToMean(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(out("a") == ((3L, 3L, 4L, 2250000L)))
    assert(out("b") == ((3L, 1L, 1L, 3000000L)))
  }

  test("runsTest: alternating, clumped, monotone, and constant hand censuses") {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-08-01T00:00:00Z").getEpochSecond
    def events(counts: Seq[Int]) = counts.zipWithIndex.flatMap { case (n, h) =>
      (0 until n).map(i =>
        (h * 100L + i, new java.sql.Timestamp((t0 + h * 3600L + 60 * i) * 1000L)))
    }.toDF("event_id", "ts")
    // [1,5,1,5,1,5]: lower median 1 → s = 010101, runs = 6, n₁ = n₀ = 3;
    // E[R] = 4, num = 6·6−6−18 = 12 → z² = 144·5·1e6/(18·12) = 3,333,333
    val alt = TimeSeries.runsTest(events(Seq(1, 5, 1, 5, 1, 5)), "ts").head()
    assert((alt.getAs[Long]("n_hours"), alt.getAs[Long]("n_above"),
      alt.getAs[Long]("runs")) == ((6L, 3L, 6L)))
    assert(alt.getAs[Long]("z2_ppm") == 3333333L)
    // [5,5,5,1,1,1]: two clumps → runs = 2, num = 2·6−6−18 = −12 —
    // symmetric deviation from E[R] = 4, so the same z² as alternating
    val clump = TimeSeries.runsTest(events(Seq(5, 5, 5, 1, 1, 1)), "ts").head()
    assert(clump.getAs[Long]("runs") == 2L)
    assert(clump.getAs[Long]("z2_ppm") == 3333333L)
    // [1,2,3,4]: lower median 2 → s = 0011, runs = 2, n₁ = n₀ = 2;
    // num = 2·4−4−8 = −4 → z² = 16·3·1e6/(8·4) = 1,500,000
    val mono = TimeSeries.runsTest(events(Seq(1, 2, 3, 4)), "ts").head()
    assert(mono.getAs[Long]("z2_ppm") == 1500000L)
    // constant: nothing above the median → NULL
    val const = TimeSeries.runsTest(events(Seq(3, 3, 3)), "ts").head()
    assert(const.getAs[Long]("n_above") == 0L)
    assert(const.isNullAt(const.fieldIndex("z2_ppm")))
  }

  test("runsTestFromCounts: pre-aggregated per-key counts collapse to the batch answer") {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-08-02T00:00:00Z").getEpochSecond
    val cs = Seq(1, 5, 2, 4, 1, 5)
    val raw = cs.zipWithIndex.flatMap { case (n, h) =>
      (0 until n).map(i =>
        (h * 100L + i, new java.sql.Timestamp((t0 + h * 3600L + 60 * i) * 1000L)))
    }.toDF("event_id", "ts")
    val counts = cs.zipWithIndex.flatMap { case (n, h) =>
      val hour = new java.sql.Timestamp((t0 + h * 3600L) * 1000L)
      Seq(("a", hour, n / 2L), ("b", hour, n - n / 2L))
    }.toDF("key", "hour", "c").filter($"c" > 0)
    assert(TimeSeries.runsTest(raw, "ts").head() ==
      TimeSeries.runsTestFromCounts(counts).head())
  }

  test("crossCorrelation: hand lag census — identity, zero, and anti-correlated lags") {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-07-01T00:00:00Z").getEpochSecond
    // A = [1,2,3], B = [1,2,3] on hours 0..2: devs = [−3,0,3] each,
    // den = 18; lag 0: num = 18 → 1e6; lags ±1: num = 0;
    // lag 2: num = (−3)(3) = −9 → −(9e6 div 18)·9 div 18 = −250000
    val rowsIn = (0 until 3).flatMap { h =>
      (0 until h + 1).flatMap(i => Seq("view", "purchase").map(k =>
        (k, new java.sql.Timestamp((t0 + h * 3600L + 60 * i) * 1000L))))
    }
    val events = rowsIn.toDF("event_type", "ts")
    val out = TimeSeries.crossCorrelation(events, "ts", "event_type",
      keyA = "view", keyB = "purchase", maxLag = 2)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(2)) None
        else Some(r.getLong(2)))).toMap
    assert(out(0L) == Some(1000000L))
    assert(out(1L) == Some(0L) && out(-1L) == Some(0L))
    assert(out(2L) == Some(-250000L) && out(-2L) == Some(-250000L))
  }

  test("crossCorrelation: constant side reads NULL; stream-twin parity off split counts") {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-07-02T00:00:00Z").getEpochSecond
    // B constant → den_b = 0 → NULL at every lag
    val flat = (0 until 3).flatMap { h =>
      (0 until h + 1).map(i => ("view",
        new java.sql.Timestamp((t0 + h * 3600L + 60 * i) * 1000L))) :+
        ("purchase", new java.sql.Timestamp((t0 + h * 3600L) * 1000L))
    }.toDF("event_type", "ts")
    assert(TimeSeries.crossCorrelation(flat, "ts", "event_type",
      "view", "purchase", maxLag = 1).collect().forall(_.isNullAt(2)))
    // twin: pre-aggregated (hour, key, c) counts reproduce the batch rows
    val raw = (0 until 4).flatMap { h =>
      val nA = Seq(1, 3, 2, 5)(h); val nB = Seq(2, 1, 4, 3)(h)
      (0 until nA).map(i => ("view",
        new java.sql.Timestamp((t0 + h * 3600L + 60 * i) * 1000L))) ++
        (0 until nB).map(i => ("purchase",
          new java.sql.Timestamp((t0 + h * 3600L + 60 * i) * 1000L)))
    }.toDF("event_type", "ts")
    val counts = (0 until 4).flatMap { h =>
      val hour = new java.sql.Timestamp((t0 + h * 3600L) * 1000L)
      Seq(("view", hour, Seq(1L, 3L, 2L, 5L)(h)),
        ("purchase", hour, Seq(2L, 1L, 4L, 3L)(h)))
    }.toDF("key", "hour", "c")
    val batch = TimeSeries.crossCorrelation(raw, "ts", "event_type",
      "view", "purchase", maxLag = 2).collect().toSet
    val twin = TimeSeries.crossCorrelationFromCounts(counts,
      "view", "purchase", maxLag = 2).collect().toSet
    assert(batch == twin && batch.nonEmpty)
  }

  test("cusumScreen: prefix closed form equals the textbook recurrence on a deterministic noisy series") {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-03-01T00:00:00Z").getEpochSecond
    val xs = (0 until 120).map(i => 20L + (i * 37 % 11) - 5 + (if (i > 80) 4 else 0))
    val series = xs.zipWithIndex.map { case (x, i) =>
      ("k", new java.sql.Timestamp((t0 + i * 3600L) * 1000L), x)
    }.toDF("event_type", "hour", "n_events")
    val trainN = 48; val slackDiv = 20; val hMult = 8
    val target = xs.take(trainN).sum / trainN
    val slack = math.max(target / slackDiv, 1L)
    val h = slack * hMult
    // textbook sequential recurrence
    var sRec = 0L; var alarms = 0L; var maxS = 0L; var first = -1L
    xs.drop(trainN).zipWithIndex.foreach { case (x, j) =>
      sRec = math.max(0L, sRec + x - target - slack)
      maxS = math.max(maxS, sRec)
      if (sRec > h) { alarms += 1; if (first < 0) first = t0 / 3600 + trainN + j }
    }
    val r = TimeSeries.cusumScreen(series, trainN = trainN,
      slackDiv = slackDiv, hMult = hMult).collect().head
    assert(r.getAs[Long]("target") == target && r.getAs[Long]("slack") == slack)
    assert(r.getAs[Long]("n_alarms") == alarms)
    assert(r.getAs[Long]("first_alarm_hour") == first)
    assert(r.getAs[Long]("max_stat") == maxS)
  }

  test("acf: hand-traced alternating series") {
    // hourly counts [2, 4, 2, 4]: n=4, S=12, dev = 4c−12 = [−4,4,−4,4],
    // den=64; lag1 num=−48 → −750000 ppm, lag2 num=32 → 500000,
    // lag3 num=−16 → −250000
    val rows = Seq(0 -> 2, 1 -> 4, 2 -> 2, 3 -> 4).flatMap { case (h, c) =>
      (0 until c).map(i => Row(new Timestamp(h * 3600000L + i * 1000L)))
    }
    val ev = df("ts TIMESTAMP", rows)
    val out = TimeSeries.acf(ev, "ts", maxLag = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> ((4L, -750000L)), 2L -> ((4L, 500000L)),
      3L -> ((4L, -250000L))))
    // a gap hour enters as an explicit zero: counts [3, _, 3] over 3
    // hours → [3,0,3], S=6, dev=[3,−6,3], den=54; lag1 num=−36 →
    // −666667 truncated toward zero... −36e6 div 54 = −666666
    val g = df("ts TIMESTAMP", Seq(0, 0, 0, 2, 2, 2).map(h =>
      Row(new Timestamp(h * 3600000L))))
    val go = TimeSeries.acf(g, "ts", maxLag = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(go == Map(1L -> -666666L, 2L -> 166666L))
  }

  test("acf: a constant series yields NULL at every lag instead of dividing by zero") {
    // 2 events in each of hours 0..3: every dev is 0, so den = 0 and the
    // unguarded num·10⁶ div den raised DIVIDE_BY_ZERO under ANSI mode
    val rows = (0 to 3).flatMap(h => (0 until 2).map(i =>
      Row(new Timestamp(h * 3600000L + i * 1000L))))
    val out = TimeSeries.acf(df("ts TIMESTAMP", rows), "ts", maxLag = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.isNullAt(2))).toMap
    assert(out == Map(1L -> ((4L, true)), 2L -> ((4L, true))))
  }

  test("trendFit: a perfect line recovers slope, intercept, R2 = 1 exactly") {
    // counts c = 1 + 2t over hours 0..3 → slope 2e6 ppm, intercept 1e6,
    // r2 1e6 (num=40, den=20, syy=80 — hand-traced moments)
    val rows = Seq(0 -> 1, 1 -> 3, 2 -> 5, 3 -> 7).flatMap { case (h, c) =>
      (0 until c).map(i => Row(new Timestamp(h * 3600000L + i * 1000L)))
    }
    val r = TimeSeries.trendFit(df("ts TIMESTAMP", rows), "ts").collect().head
    assert(r.getLong(0) == 4L)
    assert(r.getLong(1) == 2000000L)
    assert(r.getLong(2) == 1000000L)
    assert(r.getLong(3) == 1000000L)
  }

  test("trendFit: a constant series scores slope 0 and r2 = 0 instead of dividing by zero") {
    // 2 events in each of hours 0..3: syy = 0, so the unguarded r² division
    // raised DIVIDE_BY_ZERO under ANSI mode; the keyed fit's floor emits 0
    val rows = (0 to 3).flatMap(h => (0 until 2).map(i =>
      Row(new Timestamp(h * 3600000L + i * 1000L))))
    val r = TimeSeries.trendFit(df("ts TIMESTAMP", rows), "ts").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 0L, 2000000L, 0L)))
  }

  test("trendFitByKey: independent fits per key on the common grid; constant series scores r2 = 0") {
    // key "up": c = 1 + 2t (the trendFit line); key "flat": c = 2 every
    // hour (syy = 0 → guarded r² division emits exactly 0, slope 0);
    // key "late": present only at hour 3 — the common grid backfills
    // hours 0..2 with 0, so its fit sees (0,0,0,5)
    val rows =
      Seq(0 -> 1, 1 -> 3, 2 -> 5, 3 -> 7).flatMap { case (h, c) =>
        (0 until c).map(i => Row("up", new Timestamp(h * 3600000L + i * 1000L)))
      } ++
      (0 to 3).flatMap(h => (0 until 2).map(i =>
        Row("flat", new Timestamp(h * 3600000L + i * 1000L)))) ++
      (0 until 5).map(i => Row("late", new Timestamp(3 * 3600000L + i * 1000L)))
    val out = TimeSeries.trendFitByKey(
      df("k STRING, ts TIMESTAMP", rows), "ts", "k")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("up") == ((4L, 2000000L, 1000000L, 1000000L)))
    assert(out("flat") == ((4L, 0L, 2000000L, 0L)))
    // late: moments n=4, st=6, sc=5, stt=14, stc=15, scc=25 →
    // num=30, den=20, syy=75 → slope 1.5e6, intercept (5·14−6·15)·1e6/20=−1e6,
    // r2 = 900·1e6/1500 = 600000
    assert(out("late") == ((4L, 1500000L, -1000000L, 600000L)))
  }

  test("one-hour corpus: the trend fits and conformal bands read NULL slope, intercept and qhat instead of DIVIDE_BY_ZERO") {
    // 3 events inside 10:00-10:59: every grid is one hour long, so the OLS
    // denominator n·Σt² − (Σt)² is 0 and there is no line to fit
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val oneHour = df("event_type STRING, ts TIMESTAMP", Seq(
      Row("a", ts("2024-01-01 10:05:00")),
      Row("a", ts("2024-01-01 10:30:00")),
      Row("b", ts("2024-01-01 10:59:00"))))
    def unfitted(r: Row, nullCols: String*): Unit = {
      assert(r.getAs[Long]("n_hours") == 1L, r)
      nullCols.foreach(c => assert(r.isNullAt(r.fieldIndex(c)), s"$c in $r"))
    }
    val line = Seq("slope_ppm", "intercept_ppm")
    val fit = TimeSeries.trendFit(oneHour, "ts").collect()
    assert(fit.length == 1)
    unfitted(fit.head, line: _*)
    val byKey = TimeSeries.trendFitByKey(oneHour, "ts", "event_type").collect()
    assert(byKey.map(_.getAs[String]("key")).sorted.toSeq == Seq("a", "b"))
    byKey.foreach(unfitted(_, line: _*))
    val band = TimeSeries.conformalTrendInterval(oneHour, "ts").collect()
    assert(band.length == 1)
    unfitted(band.head, line :+ "qhat_ppm": _*)
    val bands = TimeSeries.conformalTrendIntervalByKey(oneHour, "ts", "event_type").collect()
    assert(bands.map(_.getAs[String]("key")).sorted.toSeq == Seq("a", "b"))
    bands.foreach(unfitted(_, line :+ "qhat_ppm": _*))
  }
}
