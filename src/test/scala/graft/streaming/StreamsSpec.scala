package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec
import graft.ext.TimeSeries

class StreamsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("hourlyByType on a stream: watermarked tumbling windows emit closed windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val agg = Streams.hourlyByType(mem.toDF(), watermark = "1 hour")
    val q = agg.writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Streams.Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
        Streams.Event(2, ts("2024-01-01 10:45:00"), 1, "click", 2.0),
        Streams.Event(3, ts("2024-01-01 10:50:00"), 2, "view", 3.0))
      q.processAllAvailable()
      // advance watermark far enough to close the 10:00 window
      mem.addData(Streams.Event(9, ts("2024-01-01 13:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("hourly").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L, 3.0)))
      assert(rows.contains(("2024-01-01 10:00:00.0", "view", 1L, 3.0)))
    } finally q.stop()
  }

  test("hllUsersHourly: streaming registers equal the batch sketch on the closed window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val agg = Streams.hllUsersHourly(mem.toDF())
    val q = agg.writeStream.format("memory").queryName("hll_hourly")
      .outputMode(OutputMode.Append).start()
    try {
      val in10 = (1 to 40).map(u =>
        Streams.Event(u.toLong, ts("2024-01-01 10:05:00"), u.toLong % 25, "click", 1.0))
      mem.addData(in10: _*)
      q.processAllAvailable()
      mem.addData(Streams.Event(99, ts("2024-01-01 13:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("hll_hourly").collect()
        .filter(_.getTimestamp(0).toString.startsWith("2024-01-01 10:"))
        .map(r => (r.getString(1), r.getInt(2), r.getInt(3))).toSet
      val batch = graft.ext.Sketch.hllRegisters(
        in10.toDF(), "user_id", Seq("event_type")).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
      assert(streamed == batch, "streaming and batch sketches must be identical")
    } finally q.stop()
  }

  // batch twin: q238_hourly_quantiles — identical logBucketSql projection,
  // so streamed bucket rows must be positionally identical to the batch
  // sketch and feed the same oracle-verified quantile readout
  test("logHistHourly: streamed histogram ≡ batch sketch; quantile readout agrees") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, lit}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.logHistHourly(mem.toDF())
      .writeStream.format("memory").queryName("loghist_hourly")
      .outputMode(OutputMode.Append).start()
    try {
      val in10 = (1 to 60).map(u => Streams.Event(
        u.toLong, ts("2024-01-01 10:05:00"), u.toLong, "click",
        (u * u * 13 % 5000) / 100.0 + 0.01))
      mem.addData(in10: _*)
      q.processAllAvailable()
      mem.addData(Streams.Event(99, ts("2024-01-01 13:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("loghist_hourly")
        .filter(col("hour") === lit(ts("2024-01-01 10:00:00")))
        .select("bucket_id", "rep", "cnt")
      // the batch sketch over the same rows must be positionally identical
      val batchHist = graft.ext.Sketch.logHistogram(
        in10.toDF().withColumn("h", lit("2024-01-01 10")),
        expr("cast(round(value * 100) as bigint)"), Seq("h"))
      assertSameRows(streamed, batchHist.select("bucket_id", "rep", "cnt"))
      // counts conserved and the merged readout equals the batch readout
      assert(streamed.agg(org.apache.spark.sql.functions.sum("cnt"))
        .head().getLong(0) == 60L)
      val streamQ = graft.ext.Sketch.logHistQuantiles(
        streamed.withColumn("h", lit("2024-01-01 10")), Seq("h"))
      val batchQ = graft.ext.Sketch.logHistQuantiles(batchHist, Seq("h"))
      assertSameRows(streamQ, batchQ)
    } finally q.stop()
  }
  test("hourlyPsiStream: streamed closed windows ≡ batch evaluation (q233)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ref = Map("click" -> 6L, "view" -> 3L, "purchase" -> 1L)
    val mem = MemoryStream[Streams.Event]
    val q = Streams.hourlyPsiStream(mem.toDF(), ref)
      .writeStream.format("memory").queryName("hourly_psi")
      .outputMode(OutputMode.Append).start()
    try {
      // hour 10: heavy clicks; purchase ABSENT (zero row must still emit)
      val in10 = Seq(
        Streams.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Streams.Event(2, ts("2024-01-01 10:10:00"), 1, "click", 1.0),
        Streams.Event(3, ts("2024-01-01 10:20:00"), 2, "view", 1.0),
        Streams.Event(4, ts("2024-01-01 10:30:00"), 2, "signup", 1.0)) // non-ref type
      // hour 11 lands in a later micro-batch; sentinel at 13 closes both
      val in11 = Seq(
        Streams.Event(5, ts("2024-01-01 11:05:00"), 3, "purchase", 5.0),
        Streams.Event(6, ts("2024-01-01 11:06:00"), 3, "view", 1.0))
      mem.addData(in10: _*); q.processAllAvailable()
      mem.addData(in11: _*); q.processAllAvailable()
      mem.addData(Streams.Event(9, ts("2024-01-01 13:00:00"), 9, "click", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("hourly_psi").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      val batch = Streams.hourlyPsiStream((in10 ++ in11).toDF(), ref).collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4)))
        .filter(!_._1.startsWith("2024-01-01 13:")).toSet
      assert(streamed == batch)
      // absent-bin row emitted with n = 0 and a FINITE contribution
      val purchase10 = streamed.find(r =>
        r._1.startsWith("2024-01-01 10:") && r._2 == "purchase").get
      assert(purchase10._3 == 0L && !purchase10._5.isNaN)
      // signup is not a reference bin: no row, but it counts in t_hour —
      // click's hour-10 share is 2/4 = 500000 ppm, not 2/3
      assert(streamed.find(r => r._1.startsWith("2024-01-01 10:") &&
        r._2 == "click").get._4 == 500000L)
    } finally q.stop()
  }

  test("kmvUsersHourly: streaming registers equal the batch KMV sketch on the closed window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val agg = Streams.kmvUsersHourly(mem.toDF(), k = 16)
    val q = agg.writeStream.format("memory").queryName("kmv_hourly")
      .outputMode(OutputMode.Append).start()
    try {
      val in10 = (1 to 40).map(u =>
        Streams.Event(u.toLong, ts("2024-01-01 10:05:00"), u.toLong % 25, "click", 1.0))
      mem.addData(in10: _*)
      q.processAllAvailable()
      mem.addData(Streams.Event(99, ts("2024-01-01 13:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("kmv_hourly").collect()
        .filter(_.getTimestamp(0).toString.startsWith("2024-01-01 10:"))
        .map(r => (r.getString(1), r.getInt(2), r.getLong(3))).toSet
      val batch = graft.ext.Sketch.kmvRegisters(
        in10.toDF(), "user_id", Seq("event_type"), k = 16).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      assert(streamed == batch, "streaming and batch KMV sketches must be identical")
    } finally q.stop()
  }

  test("sessionize with explicit state: 30-min gap closes a session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    // idleTimeout=false: with a processing-time timeout registered,
    // processAllAvailable never quiesces (the engine keeps a pending
    // timeout batch scheduled) — the deterministic path is tested here,
    // the timeout path is production-only
    val sessions = Streams.sessionize(mem.toDS(), idleTimeout = false)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Streams.Event(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
        Streams.Event(2, ts("2024-01-01 10:10:00"), 7, "click", 1.0))
      q.processAllAvailable()
      // > 30 min later: closes session 1 (2 events), opens session 2
      mem.addData(Streams.Event(3, ts("2024-01-01 11:00:00"), 7, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getInt(3)))
      assert(rows.toSeq == Seq((7L, "2024-01-01 10:00:00.0", 2)))
    } finally q.stop()
  }

  // batch twin: Funnel.lastTouchAttribution, registered as
  // q133_attribution with an exact-hash DuckDB oracle — this spec pins
  // the stream plan to that oracle-verified semantics
  test("lastTouchState: streamed credits across batches ≡ batch lastTouchAttribution (q133)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit, sum}
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, u: Long, t: String, tsS: String, v: Double) =
      Streams.AttribEvent(u, id, t, ts(tsS).getTime * 1000, math.round(v * 100))
    val batch1 = Seq(
      ev(1, 1, "view", "2024-01-01 00:00:00", 0.0),
      ev(2, 1, "click", "2024-01-01 00:10:00", 0.0),
      ev(3, 1, "purchase", "2024-01-01 00:20:00", 5.0), // click credited
      ev(4, 2, "view", "2024-01-01 00:00:00", 0.0))
    val batch2 = Seq(
      ev(5, 2, "purchase", "2024-01-01 00:50:00", 3.0), // out of horizon → none
      ev(6, 3, "purchase", "2024-01-01 01:00:00", 2.0), // touchless → none
      ev(7, 1, "purchase", "2024-01-01 00:25:00", 1.0)) // state from batch 1 credits click
    val mem = MemoryStream[Streams.AttribEvent]
    val q = Streams.lastTouchState(mem.toDS()).writeStream.format("memory")
      .queryName("credits").outputMode(OutputMode.Append).start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("credits").groupBy("credit")
        .agg(count(lit(1)).as("n"), sum("cents").as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val batchDf = (batch1 ++ batch2).map(e =>
          (e.user_id, e.event_id, e.event_type,
            new Timestamp(e.t_us / 1000), e.cents / 100.0))
        .toDF("user_id", "event_id", "event_type", "ts", "value")
      val expect = graft.ext.Funnel.lastTouchAttribution(batchDf)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == expect)
      assert(streamed.map(_._3).sum == 500L + 300L + 200L + 100L) // cents conserved
    } finally q.stop()
  }

  test("attribStep: in-batch disorder is sorted; state carries the last touch forward") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    val step = Streams.attribStep(Set("view", "click"), "purchase", 30L * 60 * 1000000L) _
    def run(evs: Seq[Streams.AttribEvent], st: Option[Streams.TouchState]) = {
      val state = TestGroupState.create[Streams.TouchState](
        st.map(Optional.of[Streams.TouchState]).getOrElse(Optional.empty()),
        GroupStateTimeout.NoTimeout, batchProcessingTimeMs = 1000L,
        eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = false)
      (step(1L, evs.iterator, state).toSeq, state.getOption)
    }
    // disordered batch: purchase row first in arrival order, but the view
    // precedes it in event time → credited
    val (out1, st1) = run(Seq(
      Streams.AttribEvent(1L, 3L, "purchase", 2000000L, 100L),
      Streams.AttribEvent(1L, 2L, "view", 1000000L, 0L)), None)
    assert(out1 == Seq(Streams.AttribCredit(1L, 3L, "view", 100L)))
    assert(st1.contains(Streams.TouchState("view", 1000000L)))
    // next batch: conversion beyond the horizon of the carried touch
    val (out2, _) = run(Seq(
      Streams.AttribEvent(1L, 4L, "purchase", 1000000L + 31L * 60 * 1000000L, 50L)), st1)
    assert(out2 == Seq(Streams.AttribCredit(1L, 4L, "none", 50L)))
  }

  test("timeout flush: hasTimedOut branch emits open sessions chronologically and frees state") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    // two open sessions in state (list head = most recent)
    val open = List(
      Streams.SessionState(ts("2024-01-01 11:00:00").getTime, ts("2024-01-01 11:05:00").getTime, 2),
      Streams.SessionState(ts("2024-01-01 10:00:00").getTime, ts("2024-01-01 10:10:00").getTime, 3))
    val state = TestGroupState.create[List[Streams.SessionState]](
      Optional.of(open), GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = true)
    val out = Streams.sessionStep(30L * 60 * 1000, idleTimeout = true)(
      7L, Iterator.empty, state).toSeq
    assert(out == Seq(
      Streams.SessionOut(7L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 3),
      Streams.SessionOut(7L, ts("2024-01-01 11:00:00"), ts("2024-01-01 11:05:00"), 2)))
    assert(state.isRemoved) // idle user's state is freed, not leaked
  }

  test("cross-batch out-of-order events merge, extend backwards, or emit standalone — never corrupt the open session") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    val gap = 30L * 60 * 1000
    def step(evs: Seq[Streams.Event], st: List[Streams.SessionState]) = {
      val state = TestGroupState.create[List[Streams.SessionState]](
        if (st.isEmpty) Optional.empty() else Optional.of(st),
        GroupStateTimeout.ProcessingTimeTimeout,
        batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = Optional.empty[Long](),
        hasTimedOut = false)
      val out = Streams.sessionStep(gap, idleTimeout = true)(1L, evs.iterator, state).toSeq
      (out, state.get)
    }
    def ev(id: Long, t: String) = Streams.Event(id, ts(t), 1L, "click", 1.0)

    // batch 1 opens a session [10:00, 10:20]
    val (out1, st1) = step(Seq(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:20:00")), Nil)
    assert(out1.isEmpty && st1 == List(Streams.SessionState(
      ts("2024-01-01 10:00:00").getTime, ts("2024-01-01 10:20:00").getTime, 2)))

    // batch 2: a late event INSIDE the open span — counts, last stays monotone
    val (out2, st2) = step(Seq(ev(3, "2024-01-01 10:10:00")), st1)
    assert(out2.isEmpty && st2.head.last == ts("2024-01-01 10:20:00").getTime && st2.head.n == 3)

    // batch 3: a late event BEFORE start but within the gap — extends start backwards
    val (out3, st3) = step(Seq(ev(4, "2024-01-01 09:45:00")), st2)
    assert(out3.isEmpty && st3.head.start == ts("2024-01-01 09:45:00").getTime
      && st3.head.last == ts("2024-01-01 10:20:00").getTime && st3.head.n == 4)

    // batch 4: a late event beyond the gap before start — opens an EARLIER
    // session in the state (emitted later by the timeout flush), head
    // untouched
    val (out4, st4) = step(Seq(ev(5, "2024-01-01 08:00:00")), st3)
    assert(out4.isEmpty)
    assert(st4 == st3 :+ Streams.SessionState(
      ts("2024-01-01 08:00:00").getTime, ts("2024-01-01 08:00:00").getTime, 1))

    // batch 4b: another late event within the gap of the late session —
    // merges into it (the batch derivation would make these one session)
    val (out4b, st4b) = step(Seq(ev(6, "2024-01-01 08:05:00")), st4)
    assert(out4b.isEmpty)
    assert(st4b.last == Streams.SessionState(
      ts("2024-01-01 08:00:00").getTime, ts("2024-01-01 08:05:00").getTime, 2))

    // batch 5: in-order event past the gap closes the (extended) head only
    val (out5, st5) = step(Seq(ev(7, "2024-01-01 11:30:00")), st4b)
    assert(out5 == Seq(Streams.SessionOut(1L,
      ts("2024-01-01 09:45:00"), ts("2024-01-01 10:20:00"), 4)))
    assert(st5.last.n == 2) // late session still open for the timeout flush
  }

  test("timeout-flushed sessions equal the batch window-lag result on a closed input") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    import spark.implicits._
    val events = Seq(
      Streams.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Streams.Event(2, ts("2024-01-01 10:20:00"), 1, "click", 1.0),
      Streams.Event(3, ts("2024-01-01 11:30:00"), 1, "view", 1.0),  // > 30 min gap → new session
      Streams.Event(4, ts("2024-01-01 11:31:00"), 1, "view", 1.0),
      Streams.Event(5, ts("2024-01-01 09:00:00"), 2, "click", 1.0),
      Streams.Event(6, ts("2024-01-01 09:29:00"), 2, "click", 1.0),
      Streams.Event(7, ts("2024-01-01 09:59:00"), 2, "click", 1.0), // chained ≤30-min gaps → one session
      Streams.Event(8, ts("2024-01-01 12:00:00"), 2, "click", 1.0))
    val gap = 30L * 60 * 1000

    // streaming semantics replay: one data batch per user, then the idle
    // timeout fires and flushes whatever is still open
    val streamed = events.groupBy(_.user_id).toSeq.flatMap { case (uid, evs) =>
      val state = TestGroupState.create[List[Streams.SessionState]](
        Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout,
        batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = false)
      val closed = Streams.sessionStep(gap, idleTimeout = true)(uid, evs.iterator, state).toSeq
      val timedOut = TestGroupState.create[List[Streams.SessionState]](
        Optional.of(state.get), GroupStateTimeout.ProcessingTimeTimeout,
        batchProcessingTimeMs = gap + 2000L, eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = true)
      closed ++ Streams.sessionStep(gap, idleTimeout = true)(uid, Iterator.empty, timedOut).toSeq
    }.map(s => (s.user_id, s.session_start.toString, s.session_end.toString, s.n_events)).toSet

    // independent batch derivation: the q21 window-lag formulation, widened
    // to full session rows (start, end, size)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val prev = lag(col("ts"), 1).over(w)
    val batch = events.toDF()
      .withColumn("new_s",
        when(prev.isNull || col("ts") > prev + expr(s"INTERVAL 30 MINUTES"), 1L).otherwise(0L))
      .withColumn("sid", sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("ts").as("session_start"), max("ts").as("session_end"), count(lit(1)).as("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(2).toString, r.getTimestamp(3).toString, r.getLong(4).toInt))
      .toSet

    assert(streamed == batch)
    assert(streamed.size == 4) // two sessions per user (chained gaps, then a late burst)
  }

  // batch twin: q242_dedup_stream_twin runs THIS SAME function
  // (mode-adaptive) over a doubled at-least-once feed with an exact-hash
  // DuckDB oracle; the stream mode below adds only the watermark state
  // bound. Dedup.exactDedup (q12) covers the keep-min-id batch policy.
  test("dedupStream: re-delivered events are dropped within the watermark (batch twin q242)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.dedupStream(mem.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Streams.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Streams.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0), // same-batch dup
        Streams.Event(2, ts("2024-01-01 10:01:00"), 1, "view", 2.0))
      q.processAllAvailable()
      mem.addData(
        Streams.Event(1, ts("2024-01-01 10:00:30"), 1, "click", 1.0), // cross-batch redelivery
        Streams.Event(3, ts("2024-01-01 10:02:00"), 2, "click", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("file-to-file: readStream → hourly agg → checkpointed parquet sink (AvailableNow)") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("ev_in").toString
    val out = Files.createTempDirectory("ev_out").toString
    val ckpt = Files.createTempDirectory("ev_ckpt").toString
    // µs-normalized events from the corpus as the stream input
    graft.Tables.events(spark, "/root/testdata/sf0.001").write.mode("overwrite").parquet(in)
    val q = Streams.writeHourlyParquet(Streams.readEventsStream(spark, in), out, ckpt)
    q.awaitTermination()
    val streamed = spark.read.parquet(out)
    // append mode emits only watermark-closed windows: all but the tail
    val batch = Streams.hourlyByType(graft.Tables.events(spark, "/root/testdata/sf0.001"))
    assert(streamed.count() > 0)
    assert(streamed.count() <= batch.count())
    // every emitted row must agree with the batch computation
    val b = batch.collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    streamed.collect().foreach { r =>
      assert(b((r.getTimestamp(0), r.getString(1))) == ((r.getLong(2), r.getDouble(3))))
    }
  }

  test("enrichStream: stream-static broadcast left join enriches and never drops facts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "GOLD"), (2L, "SILVER")).toDF("c_custkey", "segment")
    val mem = MemoryStream[Streams.Event]
    val joined = Streams.enrichStream(mem.toDF(), dim)
      .select("event_id", "user_id", "segment")
    val q = joined.writeStream.format("memory").queryName("enriched_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Streams.Event(10, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Streams.Event(11, ts("2024-01-01 10:01:00"), 7, "view", 1.0)) // no dim row
      q.processAllAvailable()
      val rows = spark.table("enriched_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
      assert(rows == Set((10L, 1L, Some("GOLD")), (11L, 7L, None)))
    } finally q.stop()
  }

  test("viewToPurchase: stream-stream interval join matches the batch evaluation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Streams.Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
      Streams.Event(2, ts("2024-01-01 10:10:00"), 1, "purchase", 5.0), // within 30 min of view 1
      Streams.Event(3, ts("2024-01-01 10:50:00"), 1, "purchase", 5.0), // too late for view 1
      Streams.Event(4, ts("2024-01-01 10:05:00"), 2, "view", 1.0), // other user, no purchase
      Streams.Event(5, ts("2024-01-01 10:20:00"), 3, "purchase", 5.0)) // purchase without view
    val mem = MemoryStream[Streams.Event]
    val q = Streams.viewToPurchase(mem.toDF()).writeStream.format("memory")
      .queryName("conversions").outputMode(OutputMode.Append).start()
    try {
      mem.addData(events: _*)
      q.processAllAvailable()
      // advance both watermarks so in-flight state flushes
      mem.addData(Streams.Event(9, ts("2024-01-01 15:00:00"), 9, "view", 1.0),
        Streams.Event(10, ts("2024-01-01 15:00:00"), 9, "purchase", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("conversions")
        .filter("view_ts < timestamp '2024-01-01 14:00:00'")
        .select("user_id", "view_id", "buy_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == Set((1L, 1L, 2L)))
      // batch evaluation of the same expression is the oracle
      val batch = Streams.viewToPurchase(events.toDF())
        .filter("view_ts < timestamp '2024-01-01 14:00:00'")
        .select("user_id", "view_id", "buy_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("viewToPurchaseOuter: unconverted views emit null-buy rows once provably unmatched") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Streams.Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
      Streams.Event(2, ts("2024-01-01 10:10:00"), 1, "purchase", 5.0), // converts view 1
      Streams.Event(3, ts("2024-01-01 10:50:00"), 1, "purchase", 5.0), // outside view 1's horizon
      Streams.Event(4, ts("2024-01-01 10:05:00"), 2, "view", 1.0),    // never converts
      Streams.Event(5, ts("2024-01-01 10:20:00"), 3, "purchase", 5.0)) // purchase w/o view: not emitted
    val mem = MemoryStream[Streams.Event]
    val q = Streams.viewToPurchaseOuter(mem.toDF()).writeStream.format("memory")
      .queryName("conv_outer").outputMode(OutputMode.Append).start()
    try {
      mem.addData(events: _*)
      q.processAllAvailable()
      // watermark must pass view_ts + horizon before outer rows may emit
      mem.addData(Streams.Event(9, ts("2024-01-01 15:00:00"), 9, "view", 1.0),
        Streams.Event(10, ts("2024-01-01 15:00:00"), 9, "purchase", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("conv_outer")
        .filter("view_ts < timestamp '2024-01-01 14:00:00'")
        .select("user_id", "view_id", "buy_id").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(streamed == Set((1L, 1L, 2L), (2L, 4L, -1L)),
        "converted view pairs + one null-buy row per abandoned view")
      // batch evaluation of the same expression is the oracle
      val batch = Streams.viewToPurchaseOuter(events.toDF())
        .filter("view_ts < timestamp '2024-01-01 14:00:00'")
        .select("user_id", "view_id", "buy_id").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("chainedWindowRates: two stateful window aggs in ONE streaming query ≡ batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = Seq(
      Streams.Event(1, ts("2024-01-01 10:01:00"), 1, "click", 1.0),
      Streams.Event(2, ts("2024-01-01 10:04:00"), 1, "click", 1.0),
      Streams.Event(3, ts("2024-01-01 10:15:00"), 2, "click", 1.0),
      Streams.Event(4, ts("2024-01-01 10:45:00"), 2, "view", 1.0))
    val mem = MemoryStream[Streams.Event]
    val q = Streams.chainedWindowRates(mem.toDF()).writeStream.format("memory")
      .queryName("chained").outputMode(OutputMode.Append).start()
    try {
      mem.addData(in: _*)
      q.processAllAvailable()
      mem.addData(Streams.Event(9, ts("2024-01-01 14:00:00"), 9, "click", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("chained")
        .filter("hour < timestamp '2024-01-01 13:00:00'").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      // peak separates: clicks had a 2-event 10-min burst within the hour
      assert(streamed == Set(
        ("2024-01-01 10:00:00.0", "click", 3L, 2L),
        ("2024-01-01 10:00:00.0", "view", 1L, 1L)))
      val batch = Streams.chainedWindowRates(in.toDF())
        .filter("hour < timestamp '2024-01-01 13:00:00'").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("batch equivalence: hourlyByType on a static frame matches a plain groupBy") {
    import spark.implicits._
    val events = Seq(
      Streams.Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.5),
      Streams.Event(2, ts("2024-01-01 10:45:00"), 1, "click", 2.5),
      Streams.Event(3, ts("2024-01-01 11:05:00"), 2, "view", 1.0)).toDF()
    val out = Streams.hourlyByType(events).collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(
      ("2024-01-01 10:00:00.0", "click") -> (2L, 4.0),
      ("2024-01-01 11:00:00.0", "view") -> (1L, 1.0)))
  }

  // batch twin: q243_curate_stream_twin runs THIS SAME function
  // (mode-adaptive) over the documents corpus with an exact-hash DuckDB
  // oracle; the stream mode below adds only the watermark horizon on the
  // dedup state. q44_curation_pipeline covers the richer batch gate.
  test("curateStream drops junk and in-horizon duplicate content, passes survivors (batch twin q243)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = "the cat and the dog sat on the mat with a hat and a bat for a while longer"
    val mem = MemoryStream[(Long, Timestamp, String, String)]
    val curated = Streams.curateStream(
      mem.toDF().toDF("doc_id", "ts", "text", "source"), minQuality = 0.3)
    val q = curated.writeStream.format("memory").queryName("curated")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), good, "web"),
        (2L, ts("2024-01-01 10:01:00"), "zzz", "web"),          // junk: fails the gate
        (3L, ts("2024-01-01 10:02:00"), good, "mirror"))        // exact dup of 1 in horizon
      q.processAllAvailable()
      val ids = spark.table("curated").collect().map(_.getLong(0)).toSet
      assert(ids.contains(1L))
      assert(!ids.contains(2L), "junk doc must fail the quality gate")
      assert(!ids.contains(3L), "duplicate content within the watermark must drop")
      val row1 = spark.table("curated")
        .filter(org.apache.spark.sql.functions.col("doc_id") === 1L).head()
      assert(row1.getAs[Int]("n_tokens") == 19)
    } finally q.stop()
  }

  test("cdcLatestState: streamed changelog across batches ≡ batch CdcMerge; late low-seq can't regress") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.CdcEvent]
    val q = Streams.cdcLatestState(mem.toDS())(spark).writeStream
      .format("memory").queryName("cdc_latest")
      .outputMode(OutputMode.Update).start()
    val batch1 = Seq(
      Streams.CdcEvent(1L, 5L, "I", "a1"),
      Streams.CdcEvent(2L, 3L, "I", "b1"),
      Streams.CdcEvent(3L, 4L, "I", "c1"))
    val batch2 = Seq(
      Streams.CdcEvent(1L, 9L, "U", "a2"),  // update key 1
      Streams.CdcEvent(2L, 7L, "D", ""),    // delete key 2
      Streams.CdcEvent(3L, 2L, "U", "late"), // LATE, lower seq: must not regress c1
      Streams.CdcEvent(4L, 6L, "I", "d1"))  // new key
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      // final materialized view = max-(seq, op) emission per key (emissions
      // are monotone in (seq, op) — the state only ever advances)
      val emitted = spark.table("cdc_latest").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getString(2), r.getString(3))))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
      val live = emitted.collect { case (k, (_, op, payload)) if op != "D" => k -> payload }
      // batch twin: same changelog merged onto an empty base in ONE pass
      val base = Seq.empty[(Long, String)].toDF("key", "payload")
      val log = (batch1 ++ batch2).toDF()
      val merged = graft.operators.CdcMerge.merge(base, log, "key", "seq", "op")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(live == merged)
      assert(live == Map(1L -> "a2", 3L -> "c1", 4L -> "d1"))
    } finally q.stop()
  }

  test("rateAnomalyState: streamed hours across batches ≡ batch rateAnomalies on the same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(hour: Int, n: Int): Seq[Streams.RateEvent] = (0 until n).map(_ =>
      Streams.RateEvent("a", java.sql.Timestamp.valueOf(f"2024-01-01 $hour%02d:30:00")))
    // hours 0..13 alternate 9/11, hour 14 spikes to 14, hour 15 quiet at 13
    val all = (0 until 14).flatMap(h => at(h, if (h % 2 == 0) 9 else 11)) ++
      at(14, 14) ++ at(15, 13)
    val mem = MemoryStream[Streams.RateEvent]
    val q = Streams.rateAnomalyState(mem.toDS())(spark).writeStream
      .format("memory").queryName("rate_anoms")
      .outputMode(OutputMode.Append).start()
    try {
      val (b1, b2) = all.splitAt(all.indexWhere(_.ts.toLocalDateTime.getHour >= 10))
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("rate_anoms").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2),
          r.getLong(3), r.getString(4))).toSet
      // batch twin on the identical rows (hour 15 is judged quiet there and
      // stays open here — either way it contributes no anomaly row)
      val batch = graft.ext.TimeSeries.rateAnomalies(
        all.toDF().select(org.apache.spark.sql.functions.col("event_type"),
          org.apache.spark.sql.functions.col("ts"))).collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2),
          r.getLong(3), r.getString(4))).toSet
      assert(streamed == batch)
      assert(streamed == Set(("a", "2024-01-01 14:00:00.0", 14L, 14L, "spike")))
    } finally q.stop()
  }

  test("rateStep: gap hours close as zero dips; late rows for closed hours are dropped") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    def st(v: Option[Streams.RateState]) = TestGroupState.create[Streams.RateState](
      v.map(Optional.of[Streams.RateState]).getOrElse(Optional.empty[Streams.RateState]()),
      GroupStateTimeout.NoTimeout, batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = false)
    def ev(hour: Long, n: Int) = (0 until n).map(_ =>
      Streams.RateEvent("k", new java.sql.Timestamp(hour * 3600000L)))
    val step = Streams.rateStep(lookback = 3, minPrior = 2, z = 1) _
    val s1 = st(None)
    val out1 = step("k", (ev(0, 2) ++ ev(1, 2)).iterator, s1).toSeq
    assert(out1.isEmpty) // hour 0 closed with no history; hour 1 still open
    assert(s1.get == Streams.RateState(1L, 2L, List(2L)))
    // hour 4 closes 1 (m=1 < minPrior), then gap hours 2, 3 as ZERO dips;
    // the hour-0 stragglers are late for a closed hour and must not count
    val s2 = st(Some(s1.get))
    val out2 = step("k", (ev(4, 1) ++ ev(0, 7)).iterator, s2).toSeq
    assert(out2.map(a => (a.hour.getTime / 3600000L, a.n_events, a.window_n, a.direction))
      == Seq((2L, 0L, 2L, "dip"), (3L, 0L, 3L, "dip")))
    assert(s2.get == Streams.RateState(4L, 1L, List(0L, 0L, 2L)))
  }

  test("cdcStep: same-seq tie breaks op-descending, exactly like the batch merge") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val state = TestGroupState.create[Streams.CdcLatest](
      Optional.empty[Streams.CdcLatest](), GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = false)
    val out = Streams.cdcStep(7L, Iterator(
      Streams.CdcEvent(7L, 5L, "D", ""),
      Streams.CdcEvent(7L, 5L, "U", "keep")), state)
    assert(out == Streams.CdcLatest(7L, 5L, "U", "keep"))
    assert(state.get == out)
  }

  test("seasonalAnomalyState: streamed flags across batches ≡ batch seasonalAnomalies") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    implicit val sqlCtx = spark.sqlContext
    // the q182 batch-spec scenario: slot 09:00 dies in week 4, slot 11:00
    // spikes 5→50, slot 10:00 runs 50 every week (must stay silent); a
    // 12:30 flush event closes the 11:00 hour
    val mondays = Seq("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22")
    def evs(day: String, hour: String, n: Int) =
      (0 until n).map(_ => Streams.RateEvent("s", ts(s"$day $hour:30:00")))
    val all =
      mondays.take(3).flatMap(d => evs(d, "09", 5)) ++
        mondays.flatMap(d => evs(d, "10", 50)) ++
        mondays.take(3).flatMap(d => evs(d, "11", 5)) ++
        evs(mondays.last, "11", 50) ++ evs(mondays.last, "12", 1)
    val (batch1, batch2) = all.sortBy(_.ts.getTime).splitAt(all.size / 2)
    val mem = MemoryStream[Streams.RateEvent]
    val q = Streams.seasonalAnomalyState(mem.toDS(), minPrior = 3, z = 3)
      .writeStream.format("memory").queryName("seasonal")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("seasonal").collect()
        .map(r => (r.getTimestamp(1).toString, r.getLong(2), r.getString(4))).toSet
      val batchDf = all.zipWithIndex
        .map { case (e, i) => (i.toLong, e.ts, 0L, e.event_type, 0.0) }
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val expect = graft.ext.TimeSeries
        .seasonalAnomalies(batchDf, minPrior = 3, z = 3)
        .filter(col("hour") < lit(ts("2024-01-22 12:00:00"))) // flush hour still open
        .collect().map(r => (r.getTimestamp(1).toString, r.getLong(2), r.getString(5))).toSet
      assert(streamed == expect)
      assert(streamed == Set(
        ("2024-01-22 09:00:00.0", 0L, "dip"),
        ("2024-01-22 11:00:00.0", 50L, "spike")))
    } finally q.stop()
  }

  // batch twin: Funnel.matchPattern, registered as q177_pattern_match
  // with an exact-hash DuckDB oracle
  test("patternMatchState: streamed matches across batches ≡ batch matchPattern (q177)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(u: Long, id: Long, t: String, tsS: String) =
      Streams.PatternEvent(u, id, t, ts(tsS).getTime * 1000)
    // the q177 spec scenario, split so user 1's second view and its
    // blocker/end land in different batches (state must carry the open
    // start over), plus the same-µs tie users
    val batch1 = Seq(
      ev(1, 1, "view", "2024-01-01 00:00:00"),
      ev(1, 2, "purchase", "2024-01-01 00:10:00"),
      ev(1, 3, "view", "2024-01-01 00:20:00"),
      ev(2, 6, "view", "2024-01-01 00:00:00"),
      ev(4, 9, "error", "2024-01-01 00:00:00"),
      ev(4, 10, "view", "2024-01-01 00:01:00"))
    val batch2 = Seq(
      ev(1, 4, "error", "2024-01-01 00:30:00"),
      ev(1, 5, "purchase", "2024-01-01 00:40:00"),
      ev(2, 7, "purchase", "2024-01-01 02:00:00"),
      ev(4, 11, "purchase", "2024-01-01 00:02:00"),
      ev(5, 13, "error", "2024-01-01 00:00:05"),
      ev(5, 14, "purchase", "2024-01-01 00:00:05"),
      ev(6, 16, "purchase", "2024-01-01 00:00:05"),
      ev(6, 17, "error", "2024-01-01 00:00:05"))
    val batch0 = Seq( // users 5/6 open their views first
      ev(5, 12, "view", "2024-01-01 00:00:00"),
      ev(6, 15, "view", "2024-01-01 00:00:00"))
    val mem = MemoryStream[Streams.PatternEvent]
    val q = Streams.patternMatchState(mem.toDS()).writeStream.format("memory")
      .queryName("matches").outputMode(OutputMode.Append).start()
    try {
      mem.addData(batch0: _*); q.processAllAvailable()
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("matches").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batchDf = (batch0 ++ batch1 ++ batch2).map(e =>
          (e.user_id, e.event_id, e.event_type, new Timestamp(e.t_us / 1000)))
        .toDF("user_id", "event_id", "event_type", "ts")
      val expect = graft.ext.Funnel
        .matchPattern(batchDf, "view", "purchase", "error", 3600L * 1000000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == expect)
      assert(streamed.map(_._2) == Set(1L, 10L, 15L)) // views that converted clean
    } finally q.stop()
  }

  test("patternStep: blocker kills open starts; horizon eviction bounds state") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    val hour = 3600L * 1000000L
    val step = Streams.patternStep("view", "purchase", "error", hour) _
    def run(evs: Seq[Streams.PatternEvent], st: Option[Streams.PatternState]) = {
      val state = TestGroupState.create[Streams.PatternState](
        st.map(Optional.of[Streams.PatternState]).getOrElse(Optional.empty()),
        GroupStateTimeout.NoTimeout, batchProcessingTimeMs = 1000L,
        eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = false)
      (step(1L, evs.iterator, state).toSeq, state.get)
    }
    // two opens; an error between them and the end kills BOTH
    val (out1, st1) = run(Seq(
      Streams.PatternEvent(1L, 1L, "view", 0L),
      Streams.PatternEvent(1L, 2L, "view", 1000L),
      Streams.PatternEvent(1L, 3L, "error", 2000L),
      Streams.PatternEvent(1L, 4L, "purchase", 3000L)), None)
    assert(out1.isEmpty && st1.openStarts.isEmpty)
    // an open start beyond the horizon of the newest event is evicted;
    // a fresh one is kept and matches in a later batch
    val (out2, st2) = run(Seq(
      Streams.PatternEvent(1L, 5L, "view", 0L),
      Streams.PatternEvent(1L, 6L, "view", 2L * hour)), None)
    assert(out2.isEmpty && st2.openStarts == List((2L * hour, 6L)))
    val (out3, _) = run(Seq(
      Streams.PatternEvent(1L, 7L, "purchase", 2L * hour + 5L)), Some(st2))
    assert(out3 == Seq(Streams.PatternMatchRow(1L, 6L, 7L, 5L)))
  }

  test("sessionWindowAgg: native session_window on a stream ≡ batch sessionWindows once closed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val agg = Streams.sessionWindowAgg(mem.toDF(), gap = "30 minutes", watermark = "1 hour")
    val q = agg.writeStream.format("memory").queryName("swin")
      .outputMode(OutputMode.Append).start()
    try {
      val in = Seq(
        Streams.Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
        Streams.Event(2, ts("2024-01-01 10:20:00"), 1, "click", 1.0),
        Streams.Event(3, ts("2024-01-01 11:30:00"), 1, "view", 1.0),
        Streams.Event(4, ts("2024-01-01 10:05:00"), 2, "view", 1.0))
      mem.addData(in: _*)
      q.processAllAvailable()
      // advance the watermark past every session_end to close them all
      mem.addData(Streams.Event(9, ts("2024-01-02 00:00:00"), 3, "click", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("swin")
        .filter($"user_id" =!= 3).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3), r.getLong(4))).toSet
      val batch = graft.ext.Funnel.sessionWindows(in.toDF(), gap = "30 minutes")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3), r.getLong(4))).toSet
      assert(streamed == batch, "closed streaming sessions must equal the batch result")
    } finally q.stop()
  }

  test("userActivityTws: transformWithState state accumulates across micro-batches (RocksDB)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Streams.Event]
    val out = Streams.userActivityTws(mem.toDS())
    val q = out.writeStream.format("memory").queryName("tws_activity")
      .outputMode(OutputMode.Update).start()
    try {
      mem.addData(
        Streams.Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.25),
        Streams.Event(2, ts("2024-01-01 10:05:00"), 1, "click", 2.50),
        Streams.Event(3, ts("2024-01-01 10:01:00"), 2, "view", 4.00))
      q.processAllAvailable()
      // batch 2: user 1 returns — state must CARRY (count 3, cents 500)
      mem.addData(Streams.Event(4, ts("2024-01-01 11:00:00"), 1, "purchase", 1.25))
      q.processAllAvailable()
      val latest = spark.table("tws_activity").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getTimestamp(3).toString))
        .groupBy(_._1).map { case (u, rs) => rs.maxBy(_._2) }.toSet
      assert(latest == Set(
        (1L, 3L, 500L, "2024-01-01 11:00:00.0"),
        (2L, 1L, 400L, "2024-01-01 10:01:00.0")))
      // single-batch replay ≡ plain batch aggregate (the equivalence contract)
      val batchEq = latest.map { case (u, n, c, _) => (u, n, c) }
      assert(batchEq == Set((1L, 3L, 500L), (2L, 1L, 400L)))
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("readStateStore: the statestore source audits a tws checkpoint's named state offline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("tws_ckpt").toString
    val mem = MemoryStream[Streams.Event]
    val q = Streams.userActivityTws(mem.toDS()).writeStream.format("memory")
      .queryName("tws_state_audit").outputMode(OutputMode.Update)
      .option("checkpointLocation", ckpt).start()
    try {
      mem.addData(
        Streams.Event(1, ts("2024-01-01 10:00:00"), 7, "view", 1.00),
        Streams.Event(2, ts("2024-01-01 10:05:00"), 7, "click", 2.00),
        Streams.Event(3, ts("2024-01-01 10:01:00"), 8, "view", 3.00))
      q.processAllAvailable()
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    // query stopped — read its RocksDB state straight from the checkpoint
    val state = Streams.readStateStore(spark, ckpt, stateVarName = "activity")
    val byUser = state.selectExpr("key.value AS user_id", "value.*").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(byUser == Map(7L -> ((2L, 300L)), 8L -> ((1L, 300L))),
      "persisted ActivityState(n, cents) per user must match what was streamed")
  }

  test("userTrailsTws: MapState counts and ListState trail carry and trim across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Streams.Event]
    val q = Streams.userTrailsTws(mem.toDS(), keep = 3)
      .writeStream.format("memory").queryName("trails")
      .outputMode(OutputMode.Update).start()
    try {
      mem.addData(
        Streams.Event(1, ts("2024-01-01 10:00:00"), 7, "view", 1.0),
        Streams.Event(2, ts("2024-01-01 10:01:00"), 7, "view", 1.0),
        Streams.Event(3, ts("2024-01-01 10:02:00"), 7, "click", 1.0))
      q.processAllAvailable()
      mem.addData(
        Streams.Event(4, ts("2024-01-01 10:03:00"), 7, "purchase", 1.0),
        Streams.Event(5, ts("2024-01-01 10:04:00"), 7, "view", 1.0))
      q.processAllAvailable()
      val latest = spark.table("trails").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Long](3)))
        .maxBy(_._3)
      // counts carried: 3 views + 1 click + 1 purchase over both batches;
      // trail trimmed to the LAST 3 ids in event order
      assert(latest == ((7L, 3L, 5L, Seq(3L, 4L, 5L))))
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("inactivityAlerts: event-time timers fire when the watermark passes last_seen + gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Streams.Event]
    val q = Streams.inactivityAlerts(mem.toDS(), gapMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("inactive")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Streams.Event(1, ts("2024-01-01 10:00:00"), 7, "view", 1.0),
        Streams.Event(2, ts("2024-01-01 10:05:00"), 8, "view", 1.0))
      q.processAllAvailable()
      // advance event time well past both users' gap windows; the
      // watermark (and thus the timers) trails by one batch
      mem.addData(Streams.Event(3, ts("2024-01-01 12:00:00"), 9, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Streams.Event(4, ts("2024-01-01 12:00:05"), 9, "view", 1.0))
      q.processAllAvailable()
      val alerts = spark.table("inactive").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSet
      // silent_ms is exactly the gap: the timer WAS last_seen + gap
      assert(alerts == Set(
        (7L, "2024-01-01 10:00:00.0", 30L * 60 * 1000),
        (8L, "2024-01-01 10:05:00.0", 30L * 60 * 1000)),
        s"exactly users 7 and 8 alert once their timers fall behind the watermark; got $alerts")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("throttled backfill: maxFilesPerTrigger paces the replay through many micro-batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("paced").toString
    val events = (1 to 40).map(i => Streams.Event(
      i.toLong, ts(f"2024-01-01 10:${i % 60}%02d:00"), i.toLong % 7, "click", 1.0))
    // 4 separate files = 4 paced batches at maxFilesPerTrigger=1
    events.grouped(10).zipWithIndex.foreach { case (g, i) =>
      g.toDF().coalesce(1).write.parquet(s"$dir/part_$i") }
    val paced = Streams.readEventsStream(spark,
      s"$dir/part_*", maxFilesPerTrigger = 1)
    val batchIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val total = new java.util.concurrent.atomic.AtomicLong()
    val q = paced.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batchIds.add(id); total.addAndGet(b.count()); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    assert(total.get() == 40L, "every row ingested exactly once across the paced batches")
    assert(batchIds.size() >= 4,
      s"expected >= 4 paced micro-batches (one per file), got ${batchIds.size()}")
  }

  private def li(pk: Long, qty: Double, price: Double, disc: Double) =
    (pk, qty, price, disc)

  test("incrementalAggSink: foreachBatch version store equals full recompute; replay is idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def toLi(rows: Seq[(Long, Double, Double, Double)]) =
      rows.toDF("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val store = java.nio.file.Files.createTempDirectory("agg_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("agg_ckpt").toString
    val b0 = Seq(li(1, 2.0, 100.0, 0.0), li(1, 3.0, 50.0, 0.5), li(2, 1.0, 10.0, 0.0))
    val b1 = Seq(li(1, 1.0, 40.0, 0.0), li(3, 5.0, 20.0, 0.25))
    val mem = MemoryStream[(Long, Double, Double, Double)]
    val q = Streams.incrementalAggSink(
      mem.toDF().toDF("l_partkey", "l_quantity", "l_extendedprice", "l_discount"),
      store, ckpt)
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    val latest = new java.io.File(store).listFiles().map(_.getName)
      .filter(_.startsWith("v")).map(_.drop(1).toLong).max
    val stored = spark.read.parquet(s"$store/v$latest")
    // stored aggregate ≡ one-shot batch aggregate over everything streamed
    assertSameRows(
      stored.orderBy("sku"),
      graft.ext.Warehouse.aggState(toLi(b0 ++ b1)).orderBy("sku"))
    // REPLAYING the last batch id (post-failure re-run) must not double-count
    Streams.applyAggDelta(store, toLi(b1), latest)
    assertSameRows(
      spark.read.parquet(s"$store/v$latest").orderBy("sku"),
      graft.ext.Warehouse.aggState(toLi(b0 ++ b1)).orderBy("sku"))
  }

  // batch twin: q293_cs_cells_hourly — the same mode-adaptive function
  // over a bounded frame, hash-verified against the DuckDB cell replay
  test("countSketchHourly: streamed cells ≡ batch sketch per closed window; cell subtraction drives the q289 drift readout") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.countSketchHourly(mem.toDF(), "user_id",
        depth = 5, width = 64)
      .writeStream.format("memory").queryName("cs_hourly")
      .outputMode(OutputMode.Append).start()
    try {
      // hour 10: users 1..30 once each; hour 11: users 11..40 — a mix
      // shift of exactly −1 for 1..10, 0 for 11..30, +1 for 31..40
      val in10 = (1 to 30).map(u =>
        Streams.Event(u.toLong, ts("2024-01-01 10:05:00"), u.toLong, "click", 1.0))
      val in11 = (11 to 40).map(u =>
        Streams.Event(100L + u, ts("2024-01-01 11:20:00"), u.toLong, "click", 1.0))
      mem.addData(in10: _*); q.processAllAvailable()
      mem.addData(in11: _*); q.processAllAvailable()
      mem.addData(Streams.Event(999, ts("2024-01-01 14:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // pin each hour slice to fresh attributes — two legs of the same
      // memory table in one join trip Catalyst's conflicting-reference check
      def hourCells(h: String) = {
        val d = spark.table("cs_hourly")
          .filter(col("hour") === lit(ts(h))).select("row", "bucket", "cnt")
        spark.createDataFrame(java.util.Arrays.asList(d.collect(): _*), d.schema)
      }
      // per closed window the cells equal the batch sketch bit-for-bit
      val batch10 = graft.ext.Sketch.countSketchWeighted(
        in10.toDF(), col("user_id"), lit(1L), depth = 5, width = 64)
      assertSameRows(hourCells("2024-01-01 10:00:00"), batch10)
      // CountSketch is linear: hour11 − hour10 cells + csEstimate = the
      // continuous drift monitor; exact on these sparse keys
      val diff = hourCells("2024-01-01 11:00:00").withColumnRenamed("cnt", "c2")
        .join(hourCells("2024-01-01 10:00:00").withColumnRenamed("cnt", "c1"),
          Seq("row", "bucket"), "full")
        .select(col("row"), col("bucket"),
          (coalesce(col("c2"), lit(0L)) - coalesce(col("c1"), lit(0L))).as("cnt"))
      val probes = Seq(5L, 20L, 35L, 77L).toDF("user_id")
      val est = graft.ext.Sketch.csEstimate(diff, probes, col("user_id"), width = 64)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(est == Map(5L -> -1L, 20L -> 0L, 35L -> 1L, 77L -> 0L))
    } finally q.stop()
  }

  // batch twin: q309_decayed_snapshots — the same emitter on a bounded
  // frame, its counts through the shared snapshot readout, oracle-verified
  test("decayedCountsHourly: streamed counts feed the snapshot readout; last snapshot ≡ batch decayedCountByKey") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.decayedCountsHourly(mem.toDF(), "event_type")
      .writeStream.format("memory").queryName("decayed_counts")
      .outputMode(OutputMode.Append).start()
    try {
      val ins = Seq(
        Streams.Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
        Streams.Event(2, ts("2024-01-01 10:55:00"), 2, "click", 1.0),
        Streams.Event(3, ts("2024-01-02 10:10:00"), 3, "click", 1.0),
        Streams.Event(4, ts("2024-01-02 10:20:00"), 4, "view", 1.0),
        // watermark pusher so every window above closes
        Streams.Event(9, ts("2024-01-03 12:00:00"), 9, "view", 1.0))
      mem.addData(ins: _*); q.processAllAvailable()
      val counts = spark.table("decayed_counts")
        .select(col("key"), expr("unix_micros(hour) div 3600000000").as("h"),
          col("c"))
      // streamed per-window counts are the batch groupBy, bit-for-bit —
      // over the CLOSED windows (the pusher's own window stays open in
      // append mode, by design)
      val batchCounts = Streams.decayedCountsHourly(ins.toDF())
        .select(col("key"), expr("unix_micros(hour) div 3600000000").as("h"),
          col("c"))
      val maxH = batchCounts.agg(max("h")).head().getLong(0)
      assertSameRows(
        spark.createDataFrame(java.util.Arrays.asList(counts.collect(): _*),
          counts.schema),
        batchCounts.filter(col("h") < maxH))
      // the LAST snapshot of the readout equals the batch operator
      val snaps = TimeSeries.decayedSnapshotsFromCounts(batchCounts,
        halfLifeHours = 24, maxShift = 4)
      val last = snaps.join(
          snaps.agg(max("snap_h").as("snap_h")), Seq("snap_h"))
        .select("key", "n_events", "decayed_ppm")
      val batch = TimeSeries.decayedCountByKey(ins.toDF(), "ts", "event_type",
        halfLifeHours = 24, maxShift = 4)
      assertSameRows(last.select("key", "n_events", "decayed_ppm"),
        batch.select("key", "n_events", "decayed_ppm"))
      // hand value: at the last snapshot (Jan 3 12:00), click events aged
      // 2 days (h 26) and ~1 day: ⌊50/24⌋=2 → 1/4 each... assert one row
      val clicks = batch.filter(col("key") === "click").head()
      assert(clicks.getLong(1) == 3L)
    } finally q.stop()
  }

  // batch twins: q327_cusum_stream / q328_conformal_stream /
  // q329_conformal_by_key_stream — the same emitter on a bounded frame,
  // oracle-verified against q274/q302/q322's oracles verbatim
  test("decayedCountsHourly closed windows feed cusumScreen and the conformal bands ≡ batch paths") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.decayedCountsHourly(mem.toDF(), "event_type")
      .writeStream.format("memory").queryName("monitor_counts")
      .outputMode(OutputMode.Append).start()
    try {
      // 12 hours of clicks with a level shift at hour 8, plus views
      val ins = (0 until 12).flatMap { h =>
        val base = (0 until (if (h >= 8) 9 else 3)).map(i =>
          Streams.Event(h * 100L + i, ts(f"2024-01-01 $h%02d:15:00"), h.toLong, "click", 1.0))
        base :+ Streams.Event(h * 100L + 50, ts(f"2024-01-01 $h%02d:45:00"), h.toLong, "view", 1.0)
      } :+ Streams.Event(9999L, ts("2024-01-02 06:00:00"), 99L, "view", 1.0) // pusher
      mem.addData(ins: _*); q.processAllAvailable()
      val streamed = spark.table("monitor_counts")
      val closed = spark.createDataFrame(
        java.util.Arrays.asList(streamed.collect(): _*), streamed.schema)
      // the pusher's window stays open in append mode — compare against
      // the batch path over the events whose windows DID close
      val closedEvents = ins.filter(_.ts.getTime < ts("2024-01-02 06:00:00").getTime)
      // CUSUM: stream-fed grid ≡ batch gapFillHourly grid → identical screen
      val viaStream = TimeSeries.cusumScreen(
        TimeSeries.gapFillFromCounts(closed)
          .withColumnRenamed("key", "event_type"),
        trainN = 4, slackDiv = 20, hMult = 2)
      val viaBatch = TimeSeries.cusumScreen(
        TimeSeries.gapFillHourly(closedEvents.toDF()),
        trainN = 4, slackDiv = 20, hMult = 2)
      assertSameRows(viaStream, viaBatch)
      // the shift-at-hour-8 click series must actually alarm
      val clicks = viaStream.filter(col("event_type") === "click").head()
      assert(clicks.getAs[Long]("n_alarms") >= 1L)
      // conformal bands, global and per-key: shared code path, same rows
      assertSameRows(
        TimeSeries.conformalBandFromCounts(closed, alphaPpm = 200000L),
        TimeSeries.conformalTrendInterval(closedEvents.toDF(), "ts",
          alphaPpm = 200000L))
      assertSameRows(
        TimeSeries.conformalByKeyFromCounts(closed, alphaPpm = 200000L),
        TimeSeries.conformalTrendIntervalByKey(closedEvents.toDF(), "ts",
          "event_type", alphaPpm = 200000L))
      // Pettitt and the rate z-test ride the same emitter
      assertSameRows(
        TimeSeries.pettittFromCounts(closed),
        TimeSeries.pettittTest(closedEvents.toDF(), "ts"))
      assertSameRows(
        TimeSeries.rateAnomaliesFromCounts(closed,
          lookback = 4, minPrior = 2, z = 2),
        TimeSeries.rateAnomalies(closedEvents.toDF(),
            lookback = 4, minPrior = 2, z = 2)
          .withColumnRenamed("event_type", "key"))
    } finally q.stop()
  }

  // batch twin: q294_embedding_moments — same mode-adaptive function on a
  // bounded frame, oracle-verified; the readout is q264's exact spelling
  test("embeddingMomentsHourly: streamed moments feed embeddingDriftFromMoments ≡ batch embeddingDrift") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[VecRow]
    val q = Streams.embeddingMomentsHourly(mem.toDF())
      .writeStream.format("memory").queryName("emb_moments")
      .outputMode(OutputMode.Append).start()
    try {
      def vec(seed: Int) = Array.tabulate(8)(i =>
        ((seed * 31 + i * 17) % 100) / 100.0)
      val in10 = (1 to 20).map(s => VecRow(ts("2024-01-01 10:01:00"), vec(s)))
      val in11 = (1 to 20).map(s => VecRow(ts("2024-01-01 11:01:00"), vec(s + 7)))
      mem.addData(in10: _*); q.processAllAvailable()
      mem.addData(in11: _*); q.processAllAvailable()
      mem.addData(VecRow(ts("2024-01-01 14:00:00"), vec(0)))
      q.processAllAvailable()
      def hourMoments(h: String) = {
        val d = spark.table("emb_moments")
          .filter(col("hour") === lit(ts(h))).select("dim", "s", "n")
        spark.createDataFrame(java.util.Arrays.asList(d.collect(): _*), d.schema)
      }
      // streamed moments equal the batch sufficient statistic (modulo the
      // BIGINT boundary cast)
      val batch10 = graft.ext.Profile.dimMoments(in10.toDF())
        .select(col("dim"), col("s").cast("long").as("s"), col("n"))
      assertSameRows(hourMoments("2024-01-01 10:00:00"), batch10)
      // and the window-pair readout IS the q264 drift, value-identical
      val fromStream = graft.ext.Profile.embeddingDriftFromMoments(
        hourMoments("2024-01-01 10:00:00"), hourMoments("2024-01-01 11:00:00"), k = 8)
      val fromBatch = graft.ext.Profile.embeddingDrift(
        in10.toDF(), in11.toDF(), k = 8)
      assertSameRows(fromStream, fromBatch)
    } finally q.stop()
  }

  // batch twins: q338_rolling_wau_stream / q339_daily_churn_stream — the
  // same emitter on a bounded frame, oracle-verified against q183/q204's
  // oracles verbatim
  test("userDaysDaily closed windows feed rolling WAU and daily churn ≡ batch paths") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.userDaysDaily(mem.toDF())
      .writeStream.format("memory").queryName("user_days")
      .outputMode(OutputMode.Append).start()
    try {
      // 5 days of activity: user 1 every day, user 2 skips day 3 (churns
      // on day 2, returns day 4), user 3 only days 1-2 (churns on day 2),
      // user 4 repeats within day 1 (dedup inside the window)
      val ins = Seq(
        Streams.Event(1, ts("2024-01-01 09:00:00"), 1, "click", 1.0),
        Streams.Event(2, ts("2024-01-01 10:00:00"), 4, "click", 1.0),
        Streams.Event(3, ts("2024-01-01 11:00:00"), 4, "view", 1.0),
        Streams.Event(4, ts("2024-01-01 12:00:00"), 2, "click", 1.0),
        Streams.Event(5, ts("2024-01-01 13:00:00"), 3, "click", 1.0),
        Streams.Event(6, ts("2024-01-02 09:00:00"), 1, "click", 1.0),
        Streams.Event(7, ts("2024-01-02 10:00:00"), 2, "click", 1.0),
        Streams.Event(8, ts("2024-01-02 11:00:00"), 3, "click", 1.0),
        Streams.Event(9, ts("2024-01-03 09:00:00"), 1, "click", 1.0),
        Streams.Event(10, ts("2024-01-04 09:00:00"), 1, "click", 1.0),
        Streams.Event(11, ts("2024-01-04 10:00:00"), 2, "click", 1.0),
        Streams.Event(12, ts("2024-01-05 09:00:00"), 1, "click", 1.0)
      ) :+ Streams.Event(99, ts("2024-01-07 12:00:00"), 9, "view", 1.0) // pusher
      mem.addData(ins: _*); q.processAllAvailable()
      val streamed = spark.table("user_days")
      val closed = spark.createDataFrame(
        java.util.Arrays.asList(streamed.collect(): _*), streamed.schema)
      // the pusher's own day stays open in append mode — compare against
      // the batch operators over the events whose windows DID close
      val closedEvents = ins.filter(
        _.ts.getTime < ts("2024-01-07 00:00:00").getTime)
      // closed windows ARE the deduped (u, day) activity, bit-for-bit
      assertSameRows(
        closed.select(col("u"), col("day")),
        closedEvents.toDF()
          .select(col("user_id").as("u"), to_date(col("ts")).as("day"))
          .distinct())
      // rolling WAU: stream-fed readout ≡ batch operator (q183 shape)
      assertSameRows(
        graft.ext.Funnel.rollingActiveFromUserDays(closed, windowDays = 3),
        graft.ext.Funnel.rollingActiveUsers(closedEvents.toDF(), windowDays = 3))
      // daily churn: stream-fed readout ≡ batch operator (q204 shape)
      val churnStream =
        graft.ext.Warehouse.dailyChurnFromUserDays(closed)
      assertSameRows(churnStream,
        graft.ext.Warehouse.dailyChurn(closedEvents.toDF()))
      // hand values: day 2 churns users 2 and 3; day 3 churns user 1?
      // no — user 1 is active day 4; day 4 churns user 2 (absent day 5)
      val byDay = churnStream.collect()
        .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      assert(byDay("2024-01-02") == 2L)
      assert(byDay.getOrElse("2024-01-03", 0L) == 0L)
      assert(byDay("2024-01-04") == 1L)
    } finally q.stop()
  }

  // batch twins: q366_concentration_stream / q367_benford_stream — the
  // same emitters on a bounded frame, oracle-verified against the
  // q353/q354-family readouts
  test("userValueDaily / digitCountsDaily closed windows feed concentration + Benford ≡ batch paths") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val memV = MemoryStream[Streams.Event]
    val memD = MemoryStream[Streams.Event]
    val qv = Streams.userValueDaily(memV.toDF())
      .writeStream.format("memory").queryName("user_value_daily")
      .outputMode(OutputMode.Append).start()
    val qd = Streams.digitCountsDaily(memD.toDF())
      .writeStream.format("memory").queryName("digit_counts_daily")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1 spans two days (mass must ADD across windows), digit 1
      // recurs on both days (digit counts must ADD), value 0.004 rounds
      // to 0 cents (excluded from Benford, a 0-mass contribution to
      // concentration), user 3 carries a sub-cent-only day
      val ins = Seq(
        Streams.Event(1, ts("2024-01-01 09:00:00"), 1, "click", 1.23),
        Streams.Event(2, ts("2024-01-01 10:00:00"), 1, "click", 17.50),
        Streams.Event(3, ts("2024-01-01 11:00:00"), 2, "view", 9.99),
        Streams.Event(4, ts("2024-01-01 12:00:00"), 3, "view", 0.004),
        Streams.Event(5, ts("2024-01-02 09:00:00"), 1, "click", 102.00),
        Streams.Event(6, ts("2024-01-02 10:00:00"), 2, "click", 1.05),
        Streams.Event(7, ts("2024-01-02 11:00:00"), 3, "click", 55.00)
      ) :+ Streams.Event(99, ts("2024-01-04 12:00:00"), 9, "view", 1.0) // pusher
      memV.addData(ins: _*); qv.processAllAvailable()
      memD.addData(ins: _*); qd.processAllAvailable()
      val closedEvents = ins.filter(
        _.ts.getTime < ts("2024-01-04 00:00:00").getTime)
      // concentration: stream-fed mass merge ≡ batch operator (q353 shape)
      val massStream = spark.table("user_value_daily")
        .groupBy(col("u").as("g")).agg(sum("cents").as("x"))
      assertSameRows(
        graft.ext.Quality.concentrationFromMass(massStream),
        graft.ext.Quality.concentrationReport(closedEvents.toDF(), "user_id",
          expr("CAST(round(value * 100) AS BIGINT)")))
      // hand value: masses are {1: 12073, 2: 1104, 3: 5500} cents... plus
      // user 3's day-1 row contributes 0 — check the totals line up
      val m = massStream.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(m == Map(1L -> 12073L, 2L -> 1104L, 3L -> 5500L))
      // Benford: stream-fed digit merge ≡ batch operator (q354 shape);
      // the 0-cent row must be excluded on both sides
      assertSameRows(
        graft.ext.Quality.benfordFromDigitCounts(
          spark.table("digit_counts_daily")
            .groupBy("digit").agg(sum("n").as("n_obs"))),
        graft.ext.Quality.benfordAudit(closedEvents.toDF(),
          expr("CAST(round(value * 100) AS BIGINT)")))
      // digit 1 must have accumulated across BOTH days (123, 1750, 10200,
      // 105 → 4 observations)
      val d1 = spark.table("digit_counts_daily")
        .groupBy("digit").agg(sum("n").as("n_obs")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(d1(1L) == 4L && d1(9L) == 1L && d1(5L) == 1L)
    } finally { qv.stop(); qd.stop() }
  }

  // batch twin: q374_friedman_stream — the q370 readout re-blocked by day
  // over the q357 hourly-count emitter (counts add into daily cells)
  test("decayedCountsHourly closed windows feed the Friedman panel ≡ batch path") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.decayedCountsHourly(mem.toDF(), "event_type")
      .writeStream.format("memory").queryName("friedman_counts")
      .outputMode(OutputMode.Append).start()
    try {
      val ins = (for {
        day <- 1 to 3; h <- Seq(9, 15)
        (tp, m) <- Seq("click" -> (day + 1), "view" -> 1, "buy" -> (4 - day))
        k <- 1 to m
      } yield Streams.Event(day * 1000 + h * 10 + k,
        ts(f"2024-01-0$day $h%02d:00:00"), 1, tp, 1.0)) :+
        Streams.Event(9999, ts("2024-01-06 12:00:00"), 9, "view", 1.0) // pusher
      mem.addData(ins: _*); q.processAllAvailable()
      val closedEvents = ins.filter(
        _.ts.getTime < ts("2024-01-06 00:00:00").getTime)
      val fromStream = graft.ext.RankStats.friedman(
        spark.table("friedman_counts"),
        to_date(col("hour")), col("key"), col("c"))
      val fromBatch = graft.ext.RankStats.friedman(closedEvents.toDF(),
        to_date(col("ts")), col("event_type"), lit(1L))
      assertSameRows(fromStream, fromBatch)
    } finally q.stop()
  }
}

/** MemoryStream row for the embedding-moments twin (top-level for the
  * product encoder).
  */
final case class VecRow(ts: Timestamp, embedding: Array[Double])
