package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming surface (extension, SURVEY.md §2.10/§7.5).
  *
  * The reference's only "incrementality" is a 7-day lookback re-batch
  * (portfolio-etl.py:42 et al.); its streaming-native equivalent is an
  * events stream with watermarked windows. All transforms here are
  * readStream-agnostic: they accept any DataFrame with (ts, event_type,
  * user_id, value) and work identically on batch frames (used by the oracle
  * gate) and streaming frames (used by the streaming specs).
  */
object Streams {

  /** The start of an hourly window, and of a daily one as a date. */
  private val Hour = col("w.start").as("hour")
  private val Day = col("w.start").cast("date").as("day")

  /** The one body of every single-stage windowed emitter: watermark
    * `events` on `ts`, group by `window` and `keys`, aggregate, and emit
    * `start` (the window's start, named by the caller) followed by the
    * keys and aggregates in order. On a stream the watermark closes
    * windows and bounds state; on a batch frame Spark's analyzer drops it
    * (`EliminateEventTimeWatermark`), so the batch twins that pin each
    * emitter to its oracle run the same plan as an unwatermarked
    * aggregate.
    */
  private def windowedAgg(events: DataFrame, watermark: String, window: Column,
                          start: Column)(keys: Column*)(aggs: Column*): DataFrame = {
    val agg = events.withWatermark("ts", watermark)
      .groupBy(window.as("w") +: keys: _*).agg(aggs.head, aggs.tail: _*)
    agg.select(start +: agg.columns.toSeq.filterNot(_ == "w").map(col): _*)
  }

  /** Tumbling-window counts/sums with a watermark for late data. On a
    * stream this emits append-mode results as windows close; the watermark
    * bounds state so the job runs forever at constant memory.
    */
  def hourlyByType(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    windowedAgg(events, watermark, window(col("ts"), "1 hour"), Hour)(col("event_type"))(
      count(lit(1)).as("n"), sum("value").as("total_value"))

  /** Sliding-window per-type rates (10-minute window every 5 minutes). */
  def slidingRates(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    windowedAgg(events, watermark, window(col("ts"), "10 minutes", "5 minutes"),
      col("w.start").as("window_start"))(col("event_type"))(count(lit(1)).as("n"))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
                              session_end: Timestamp, n_events: Int)

  /** CHAINED stateful window aggregations in one streaming query (legal
    * since Spark 3.4's multiple-stateful-operator support): a 10-minute
    * tumbling count re-aggregated into hourly totals + the intra-hour
    * peak 10-minute rate — the second `window()` takes the FIRST window
    * struct as its time column, so both operators share one event-time
    * watermark and the query needs no intermediate sink. One aggregate
    * alone cannot produce `peak_10min`: it is a max OVER the finer
    * aggregate. At scale the second stage's input is already
    * windows×types-sized — the re-aggregation is metadata-shaped.
    */
  def chainedWindowRates(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "10 minutes").as("w10"), col("event_type"))
      .agg(count(lit(1)).as("n10"))
      .groupBy(window(col("w10"), "1 hour").as("w"), col("event_type"))
      .agg(sum("n10").as("n"), max("n10").as("peak_10min"))
      .select(col("w.start").as("hour"), col("event_type"),
        col("n"), col("peak_10min"))

  /** Streaming drift monitor: per closed hourly window, the PSI
    * (Population Stability Index) contribution of each REFERENCE bin's
    * observed share vs its reference share — [[graft.ext.Profile.psiDrift]]
    * run continuously against a pinned baseline mix. The alarm rule is
    * the batch one: SUM(psi_contrib) per window > 0.25 ⇒ shifted.
    *
    * Stream-shape decisions, each load-bearing:
    * - The reference rides as LITERALS (one conditional count per ref
    *   bin inside the single windowed aggregate + a literal map lookup),
    *   NOT as a static DataFrame — a static-right outer join after a
    *   streaming aggregation is unsupported, and the literal form also
    *   yields exact ZERO rows for bins absent from a window (a streaming
    *   groupBy(bin) could never emit an unobserved group).
    * - ONE stateful operator total; everything after the aggregate is a
    *   stateless projection (stack + arithmetic), so Append mode emits
    *   each window exactly once when the watermark closes it.
    * - Laplace smoothing `p = (n+1)/(N+B)` keeps zero-count bins finite.
    *   Types outside the reference inflate the window total only (they
    *   have no bin row) — novel-type detection is the snapshot monitor's
    *   job (q232); B = reference bin count.
    *
    * Works identically on a batch frame — the q233 registration evaluates
    * exactly this plan with the corpus-global mix as the reference, which
    * is what pins the stream's semantics to a DuckDB oracle.
    */
  def hourlyPsiStream(events: DataFrame, refCounts: Map[String, Long],
                      watermark: String = "1 hour"): DataFrame = {
    require(refCounts.nonEmpty, "reference mix must not be empty")
    val bins = refCounts.keys.toSeq.sorted
    val b = bins.size
    val tRef = refCounts.values.sum
    val nCols = bins.zipWithIndex.map { case (bin, i) =>
      count(when(col("event_type") === bin, 1)).as(s"n_$i")
    }
    val stackExpr = s"stack($b, " + bins.zipWithIndex
      .map { case (bin, i) => s"'${bin.replace("'", "''")}', n_$i" }
      .mkString(", ") + ") AS (bin, n)"
    val refMap = typedLit(refCounts)
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("t_hour"), nCols: _*)
      .selectExpr("w.start AS hour", "t_hour", stackExpr)
      .select(col("hour"), col("bin"), col("n"),
        expr("n * 1000000 div t_hour").as("share_ppm"),
        round(
          ((col("n") + 1).cast("double") / (col("t_hour") + lit(b))
            - (element_at(refMap, col("bin")) + 1).cast("double") / lit(tRef + b))
            * log(((col("n") + 1).cast("double") / (col("t_hour") + lit(b)))
              / ((element_at(refMap, col("bin")) + 1).cast("double") / lit(tRef + b))),
          6).as("psi_contrib"))
  }

  /** Custom sessionization with explicit state: a 30-minute inactivity gap
    * closes a session. New events from the same user close prior sessions
    * event-time-exactly; with `idleTimeout` on (the production default) a
    * processing-time timeout additionally flushes an idle user's last open
    * session and REMOVES their state — without it, silent users would hold
    * state forever (unbounded for churning populations) and their final
    * session would never be emitted. `idleTimeout = false` gives the
    * deterministic no-timeout mode (used by synchronous tests:
    * processAllAvailable cannot quiesce while a timeout batch is pending).
    * This is the KeyValueGroupedDataset custom-state path the built-in
    * window functions can't express on a stream.
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30L * 60 * 1000,
                 idleTimeout: Boolean = true)(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    val timeoutConf =
      if (idleTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout // deterministic mode for tests
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, timeoutConf)(sessionStep(gapMs, idleTimeout))
  }

  /** The sessionize state transition, named so the timeout branch is
    * unit-testable with a deterministic clock
    * (org.apache.spark.sql.streaming.TestGroupState) — the streaming
    * harness cannot quiesce synchronously while a processing-time timeout
    * is pending, so that branch is pinned at this level instead
    * (StreamsSpec "timeout flush").
    */
  private[streaming] def sessionStep(gapMs: Long, idleTimeout: Boolean)(
      userId: Long, rows: Iterator[Event],
      state: GroupState[List[SessionState]]): Iterator[SessionOut] =
    if (state.hasTimedOut) {
      // idle user: flush whatever is open and free the state
      val open = state.getOption.getOrElse(Nil)
      state.remove()
      open.reverseIterator.map(s =>
        SessionOut(userId, new Timestamp(s.start), new Timestamp(s.last), s.n))
    } else {
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      // open sessions, sorted by start DESCENDING (head = most recent);
      // non-head entries are late sessions still extendable by further
      // late arrivals until the idle timeout flushes them
      var sessions = state.getOption.getOrElse(Nil)
      val closed = scala.collection.mutable.ListBuffer.empty[SessionOut]
      // merge a late event into the sorted tail: extend the session whose
      // [start − gap, last + gap] covers t, or open a new late session in
      // place. (Two late sessions drifting within gap of each other stay
      // separate — merging neighbors retroactively would need the same
      // whole-history pass a batch job does; documented approximation.)
      def place(t: Long, list: List[SessionState]): List[SessionState] = list match {
        case s :: tail if t - s.last > gapMs => SessionState(t, t, 1) :: s :: tail
        case s :: tail if s.start - t <= gapMs =>
          s.copy(start = math.min(s.start, t), last = math.max(s.last, t), n = s.n + 1) :: tail
        case s :: tail => s :: place(t, tail)
        case Nil => SessionState(t, t, 1) :: Nil
      }
      sorted.foreach { e =>
        val t = e.ts.getTime
        sessions match {
          // in-order or out-of-order but within the open session's reach
          // (inside [start − gap, last + gap]): merge. The max/min guards
          // keep `last` monotone and let a late event extend `start`
          // backwards — without them a cross-batch late event would move
          // `last` BACKWARDS and corrupt subsequent gap checks.
          case cur :: rest if t - cur.last <= gapMs && cur.start - t <= gapMs =>
            sessions = cur.copy(start = math.min(cur.start, t),
              last = math.max(cur.last, t), n = cur.n + 1) :: rest
          // ahead of the open session by more than the gap: close it, open
          // new (late sessions in the tail stay open for the timeout flush)
          case cur :: rest if t > cur.last =>
            closed += SessionOut(userId, new Timestamp(cur.start), new Timestamp(cur.last), cur.n)
            sessions = SessionState(t, t, 1) :: rest
          // behind the open session's start by more than the gap (late
          // across micro-batches): merge into or open an EARLIER session —
          // consecutive late events within gap of each other form one
          // session, as the batch derivation would produce
          case cur :: rest =>
            sessions = cur :: place(t, rest)
          case Nil =>
            sessions = SessionState(t, t, 1) :: Nil
        }
      }
      state.update(sessions)
      if (idleTimeout) state.setTimeoutDuration(gapMs)
      closed.iterator
    }

  /** Streaming HyperLogLog: hourly distinct-user registers per event type
    * — the same engine-portable sketch as the batch
    * [[graft.ext.Sketch.hllRegisters]] (identical bucket/rank projection),
    * grouped by a watermarked tumbling window. `max` is a supported
    * streaming aggregate and the state is O(types · 2^log2m) per open
    * window, so a forever-running ingest tracks approximate hourly
    * uniques in constant memory — registers emitted on window close merge
    * with the batch sketch by plain `max` (e.g. for a daily rollup).
    */
  def hllUsersHourly(events: DataFrame, log2m: Int = 6,
                     watermark: String = "1 hour"): DataFrame = {
    val (bucket, rank) = graft.ext.Sketch.hllBucketRank(col("user_id"), log2m)
    windowedAgg(
      events.select(col("ts"), col("event_type"), bucket.as("bucket"), rank.as("r")),
      watermark, window(col("ts"), "1 hour"), Hour)(col("event_type"), col("bucket"))(
      max(col("r")).cast("int").as("reg"))
  }

  /** Streaming KMV: hourly bottom-k distinct-user registers per event
    * type — the same engine-portable sketch as the batch
    * [[graft.ext.Sketch.kmvRegisters]] (identical hash, identical bounded
    * native [[graft.functions.BottomKDistinct]] aggregate, which is a supported streaming
    * aggregate: its partial buffer IS the window state, ≤ k values per
    * open (window, type)). Registers emitted on window close are
    * bit-identical to the batch sketch over the same window's events, so
    * they merge with batch register tables via [[graft.ext.Sketch.kmvMerge]]
    * — e.g. a daily rollup that also supports INTERSECTION estimates
    * across streams, which the HLL twin cannot.
    */
  def kmvUsersHourly(events: DataFrame, k: Int = 64,
                     watermark: String = "1 hour"): DataFrame = {
    import graft.ext.{Dedup, Sketch}
    windowedAgg(
      events.select(col("ts"), col("event_type"),
        Dedup.mixHash(col("user_id"), Sketch.KmvJ).as("h")),
      watermark, window(col("ts"), "1 hour"), Hour)(col("event_type"))(
      Sketch.bottomK("h", k).as("bottomk"))
      .select(col("hour"), col("event_type"),
        posexplode(col("bottomk")).as(Seq("pos", "h")))
      .select(col("hour"), col("event_type"),
        (col("pos") + 1).cast("int").as("rank"), col("h"))
  }

  /** Streaming log-linear quantile histogram: hourly value-cents bucket
    * counts — the same pure-integer sketch as the batch
    * [[graft.ext.Sketch.logHistogram]] (identical
    * [[graft.ext.Sketch.logBucketSql]] projection), grouped by a
    * watermarked tumbling window. `count` is a supported streaming
    * aggregate and the state is O(buckets) ≈ ≤ ~1k rows per open window,
    * so a forever-running ingest tracks hourly p50/p95/p99 in constant
    * memory. Bucket rows emitted on window close merge with batch
    * histograms by adding counts ([[graft.ext.Sketch.mergeLogHistograms]])
    * and feed the same [[graft.ext.Sketch.logHistQuantiles]] readout.
    * Batch twin (oracle-verified): q238_hourly_quantiles.
    */
  def logHistHourly(events: DataFrame, subBits: Int = 4,
                    watermark: String = "1 hour"): DataFrame = {
    val (id, rep) = graft.ext.Sketch.logBucketSql("__x", subBits)
    windowedAgg(
      events.select(col("ts"), expr("cast(round(value * 100) as bigint)").as("__x"))
        .select(col("ts"), expr(id).as("bucket_id"), expr(rep).as("rep")),
      watermark, window(col("ts"), "1 hour"), Hour)(col("bucket_id"), col("rep"))(
      count(lit(1)).as("cnt"))
  }

  /** Streaming CountSketch: hourly signed-frequency sketch cells per
    * tumbling window — the per-window face of the batch
    * [[graft.ext.Sketch.countSketchWeighted]] (unit weights), built from
    * the SAME [[graft.ext.Sketch.csCellArray]] cell family, so a closed
    * window's cells are bit-identical to the batch sketch over that
    * window's events. CountSketch is LINEAR: consecutive windows
    * subtract cell-wise, and [[graft.ext.Sketch.csEstimate]] over the
    * difference is exactly the q289 drift monitor — run continuously,
    * O(depth·width) state per open window instead of a nightly two-pass
    * batch. `sum` is a supported streaming aggregate; watermark closes
    * windows. Mode-adaptive (Spark drops the watermark of a batch frame), which
    * is what makes the batch twin oracle-verifiable:
    * q293_cs_cells_hourly runs THIS function over the bounded events
    * table and hash-matches the DuckDB replay.
    */
  def countSketchHourly(events: DataFrame, itemCol: String = "user_id",
                        depth: Int = 5, width: Int = 64,
                        watermark: String = "1 hour"): DataFrame = {
    windowedAgg(
      events.select(col("ts"),
        explode(graft.ext.Sketch.csCellArray(col(itemCol), depth, width)).as("cell")),
      watermark, window(col("ts"), "1 hour"), Hour)(
      col("cell.row").as("row"), col("cell.bucket").as("bucket"))(
      sum(col("cell.sign")).as("cnt"))
  }

  /** Streaming embedding-drift moments: per closed window, the
    * (dim, s, n) sufficient statistic of the window's quantized vectors
    * — the EXACT input of [[graft.ext.Profile.embeddingDriftFromMoments]],
    * so the q264 drift readout runs between any two streamed windows (or
    * a window and a batch snapshot: moments are additive and
    * [[graft.ext.Profile.dimMoments]] emits the same rows). Quantization
    * is the engine-wide ⌊x·10⁶+0.5⌋ fixed point; the window sum runs in
    * DECIMAL(38,0) (the batch path's type) and the emitted boundary is
    * BIGINT — exact while |Σx| < 2⁶³, i.e. ~9·10¹² unit-norm vectors per
    * window per dim. State per open window is O(dims), not vectors.
    * Mode-adaptive; batch twin (oracle-verified): q294_embedding_moments.
    */
  def embeddingMomentsHourly(vecs: DataFrame, vecCol: String = "embedding",
                             watermark: String = "1 hour"): DataFrame = {
    windowedAgg(
      vecs.select(col("ts"),
        posexplode(graft.ext.Clustering.quantize(col(vecCol))).as(Seq("dim", "x"))),
      watermark, window(col("ts"), "1 hour"), Hour)(col("dim"))(
      sum(col("x").cast("decimal(38,0)")).as("s"), count(lit(1)).as("n"))
      .withColumn("s", col("s").cast("long"))
  }

  /** Streaming hourly per-key counts — the emitter feeding the dyadic
    * decayed-engagement monitor: per closed tumbling window, (hour, key,
    * c). Counts are the SUFFICIENT STATISTIC of the exact 2^(−age/hl)
    * decay ([[graft.ext.TimeSeries.decayedSnapshotsFromCounts]] turns
    * any prefix of this relation into the per-snapshot decayed scores,
    * and the latest snapshot equals the batch
    * [[graft.ext.TimeSeries.decayedCountByKey]]), so the stream holds
    * O(keys) state per open window and NO decay state at all — the decay
    * weights are a pure function of (snapshot − hour), applied at read
    * time. Mode-adaptive; batch twin (oracle-verified):
    * q309_decayed_snapshots.
    */
  def decayedCountsHourly(events: DataFrame, keyCol: String = "event_type",
                          watermark: String = "1 hour"): DataFrame = {
    windowedAgg(events, watermark, window(col("ts"), "1 hour"), Hour)(
      col(keyCol).as("key"))(count(lit(1)).as("c"))
  }

  /** Streaming daily active-user sets — the emitter feeding the WAU and
    * churn monitors: per closed DAILY tumbling window, one row per
    * distinct (day, user) — the activity relation both
    * [[graft.ext.Funnel.rollingActiveFromUserDays]] (rolling WAU) and
    * [[graft.ext.Warehouse.dailyChurnFromUserDays]] (daily churn) read.
    * The distinct (day, user) set is the sufficient statistic of every
    * presence-based engagement series, so the stream holds O(users
    * active in the open day) state and the readouts are pure functions
    * of the closed windows. Mode-adaptive (the same window aggregate
    * runs batch); batch twins (oracle-verified): q183 / q204.
    */
  def userDaysDaily(events: DataFrame, userCol: String = "user_id",
                    watermark: String = "1 day"): DataFrame = {
    windowedAgg(events, watermark, window(col("ts"), "1 day"), Day)(
      col(userCol).as("u"))(count(lit(1)).as("c"))
      .select("day", "u")
  }

  /** Streaming daily per-user value mass — the emitter feeding the
    * concentration monitor (q366): per closed DAILY tumbling window, one
    * row per (day, user) with the user's summed integer-cent value.
    * Group masses MERGE BY ADDITION across windows, so the per-user
    * totals (and from them Gini/HHI) are a pure function of the stored
    * closed windows — the mergeable-sufficient-statistic discipline every
    * FromCounts readout relies on. Mode-adaptive (the same window
    * aggregate runs batch); the q353-family oracle pins the readout.
    * Null values drop here exactly as the batch operator drops them.
    */
  def userValueDaily(events: DataFrame, userCol: String = "user_id",
                     watermark: String = "1 day"): DataFrame = {
    windowedAgg(events.filter(col("value").isNotNull), watermark,
      window(col("ts"), "1 day"), Day)(col(userCol).as("u"))(
      sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
  }

  /** Streaming daily Benford digit census — the emitter feeding the
    * fabricated-data screen (q367): per closed DAILY window, one row per
    * leading digit with its count over positive integer-cent values
    * (same cents convention and same digit rule as the batch
    * [[graft.ext.Quality.benfordAudit]]). Digit counts add across
    * windows — 9 counters per window of state, nothing else.
    */
  def digitCountsDaily(events: DataFrame,
                       watermark: String = "1 day"): DataFrame = {
    windowedAgg(
      events.select(col("ts"), expr("CAST(round(value * 100) AS BIGINT)").as("v"))
        .filter(col("v") > 0)
        .select(col("ts"),
          expr("CAST(substring(CAST(v AS STRING), 1, 1) AS BIGINT)").as("digit")),
      watermark, window(col("ts"), "1 day"), Day)(col("digit"))(count(lit(1)).as("n"))
  }

  /** Streaming exact dedup: drops events whose `idCol` was already seen,
    * with state bounded by the watermark — the streaming face of the batch
    * exact-dedup operator (Dedup.exactDedup) for at-least-once sources
    * that re-deliver. `dropDuplicatesWithinWatermark` frees a key's state
    * once the watermark passes its event time, so a forever-running ingest
    * holds state only for the in-flight window instead of the full history.
    *
    * Mode-adaptive: `dropDuplicatesWithinWatermark` is streaming-only (a
    * batch frame has no watermark to bound anything), so on a batch input
    * the SAME operator is plain `dropDuplicates(idCol)` — identical
    * drop-the-redelivery semantics, no state bound needed. This is what
    * makes the batch twin (q242) oracle-verifiable: replaying a bounded
    * at-least-once feed through the operator equals SELECT DISTINCT.
    */
  def dedupStream(events: DataFrame, idCol: String = "event_id",
                  watermark: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(idCol)
    else events.dropDuplicates(idCol)

  final case class CdcEvent(key: Long, seq: Long, op: String, payload: String)
  final case class CdcLatest(key: Long, seq: Long, op: String, payload: String)

  /** Streaming CDC materialization — the incremental twin of the batch
    * [[graft.operators.CdcMerge]]: a keyed changelog stream of full row
    * images folds into "the latest image per key", last-writer-wins by
    * `(seq, op)` with the SAME tie-break as the batch merge ('U' > 'I' >
    * 'D' in string order), so replaying any prefix of the stream equals
    * batch-merging that prefix. Out-of-order delivery is safe: a late row
    * with a lower sequence can never regress the state (the fold takes the
    * max over state ∪ batch). Emits the updated image for exactly the keys
    * touched each micro-batch (Update output mode) — the feed a downstream
    * upsert sink applies.
    *
    * Scale: state is ONE row image per key — the information-theoretic
    * minimum for upsert maintenance — hash-partitioned by the groupByKey
    * exchange across the state store. NoTimeout is deliberate: a
    * materialized view's keys stay live forever; retention/compaction is
    * the batch merge's job (q129), not the stream's.
    */
  def cdcLatestState(changelog: Dataset[CdcEvent])(
      implicit spark: SparkSession): Dataset[CdcLatest] = {
    import spark.implicits._
    changelog
      .groupByKey(_.key)
      .mapGroupsWithState[CdcLatest, CdcLatest](
        GroupStateTimeout.NoTimeout)(cdcStep)
  }

  /** The cdcLatestState transition, named for deterministic-clock unit
    * testing (TestGroupState), like [[sessionStep]].
    */
  private[streaming] def cdcStep(key: Long, rows: Iterator[CdcEvent],
                                 state: GroupState[CdcLatest]): CdcLatest = {
    val best = (state.getOption.iterator ++
      rows.map(e => CdcLatest(key, e.seq, e.op, e.payload)))
      .maxBy(r => (r.seq, r.op))
    state.update(best)
    best
  }

  final case class AttribEvent(user_id: Long, event_id: Long, event_type: String,
                               t_us: Long, cents: Long)
  final case class AttribCredit(user_id: Long, conv_id: Long, credit: String,
                                cents: Long)
  final case class TouchState(touchType: String, touchUs: Long)

  /** Streaming last-touch attribution — the incremental twin of the batch
    * [[graft.ext.Funnel.lastTouchAttribution]] (q133): per user the state
    * is ONE (touch type, touch time) pair — the most recent touch ever
    * seen — and every conversion row emits its credit verdict the moment
    * it is processed, horizon rule identical to the batch window
    * (`conv − touch ≤ horizon`, ties resolved by the same (t_us,
    * event_id) order). Rows inside a micro-batch are sorted by event
    * time before folding, so in-batch disorder is free; a touch arriving
    * in a LATER batch than its conversion cannot retroactively claim
    * credit — the explicit streaming relaxation (the same
    * already-processed contract as [[rateAnomalyState]]'s closed hours),
    * exact whenever batches respect event-time order, which the
    * stream ≡ batch spec pins against the q133-oracle-checked batch
    * operator.
    *
    * Scale: O(1) state per user forever (no timeout needed — one pair),
    * append-mode emission, one shuffle on the user key.
    */
  def lastTouchState(events: Dataset[AttribEvent],
                     touchTypes: Set[String] = Set("view", "click"),
                     convType: String = "purchase",
                     horizonUs: Long = 30L * 60 * 1000000)(
      implicit spark: SparkSession): Dataset[AttribCredit] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, AttribCredit](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        attribStep(touchTypes, convType, horizonUs))
  }

  /** The [[lastTouchState]] transition, named for deterministic
    * TestGroupState unit testing (the [[sessionStep]]/[[cdcStep]]
    * pattern).
    */
  private[streaming] def attribStep(touchTypes: Set[String], convType: String,
                                    horizonUs: Long)(
      user: Long, rows: Iterator[AttribEvent],
      state: GroupState[TouchState]): Iterator[AttribCredit] = {
    val sorted = rows.toSeq.sortBy(e => (e.t_us, e.event_id))
    val out = scala.collection.mutable.ArrayBuffer.empty[AttribCredit]
    var st = state.getOption
    sorted.foreach { e =>
      if (touchTypes(e.event_type)) {
        st = Some(TouchState(e.event_type, e.t_us))
      } else if (e.event_type == convType) {
        val credit = st match {
          case Some(t) if e.t_us - t.touchUs <= horizonUs => t.touchType
          case _ => "none"
        }
        out += AttribCredit(user, e.event_id, credit, e.cents)
      }
    }
    st.foreach(state.update)
    out.iterator
  }

  final case class RateEvent(event_type: String, ts: Timestamp)
  final case class RateAnomaly(event_type: String, hour: Timestamp,
                               n_events: Long, window_n: Long, direction: String)
  final case class RateState(openHour: Long, openCount: Long, closed: List[Long])

  /** Streaming rate-anomaly detection — the incremental twin of the batch
    * [[graft.ext.TimeSeries.rateAnomalies]]: per key, hourly counts fold
    * into a ring of the last `lookback` CLOSED hours, and each hour is
    * judged as it closes (when a strictly later hour first appears on that
    * key) with the SAME cross-multiplied integer z-test
    * ([[graft.ext.TimeSeries.zFlag]] — one function, two callers, no
    * drift). Hours a key skips entirely are closed as zero counts on the
    * way forward, so a stream going silent raises dip alerts exactly like
    * the batch gap-fill. Rows arriving for an already-closed hour are
    * dropped — the explicit watermark analog of this manual windowing
    * (mapGroupsWithState cannot sit downstream of a watermarked window
    * aggregate, so the hourly bucketing happens in the transition).
    *
    * Scale: state per key is ONE open (hour, count) plus ≤ `lookback`
    * longs — constant-size forever; emission is append-mode (an hour is
    * judged exactly once).
    */
  def rateAnomalyState(events: Dataset[RateEvent], lookback: Int = 24,
                       minPrior: Int = 12, z: Int = 3)(
      implicit spark: SparkSession): Dataset[RateAnomaly] = {
    import spark.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[RateState, RateAnomaly](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        rateStep(lookback, minPrior, z))
  }

  /** The rateAnomalyState transition, named for TestGroupState unit
    * testing like [[sessionStep]] and [[cdcStep]].
    */
  private[streaming] def rateStep(lookback: Int, minPrior: Int, z: Int)(
      key: String, rows: Iterator[RateEvent],
      state: GroupState[RateState]): Iterator[RateAnomaly] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[RateAnomaly]
    rollHours(rows, state)(RateState(_, 0L, Nil), _.openHour,
      (st, n) => st.copy(openCount = st.openCount + n)) { st =>
      // judge the open hour, roll it into history
      graft.ext.TimeSeries.zFlag(st.closed, st.openCount, minPrior, z)
        .foreach { dir =>
          out += RateAnomaly(key, new Timestamp(st.openHour * 3600000L),
            st.openCount, st.closed.size.toLong, dir)
        }
      RateState(st.openHour + 1, 0L, (st.openCount :: st.closed).take(lookback))
    }
    out.iterator
  }

  /** The manual hourly windowing of both rate-anomaly transitions
    * ([[rateStep]], [[seasonalStep]]): count the batch's rows per hour,
    * then from the state's open hour (or the first hour, for a new key)
    * `close` every hour before a row's hour (a skipped hour closes with
    * count 0) and `add` the row's count to the open hour. A row for an
    * already-closed hour is dropped, the watermark of this windowing. The
    * state is updated only when the batch had rows.
    */
  private def rollHours[S](rows: Iterator[RateEvent], state: GroupState[S])(
      fresh: Long => S, openHour: S => Long, add: (S, Long) => S)(close: S => S): Unit = {
    val byHour = scala.collection.mutable.TreeMap.empty[Long, Long]
    rows.foreach { e =>
      val h = e.ts.getTime / 3600000L
      byHour(h) = byHour.getOrElse(h, 0L) + 1L
    }
    if (byHour.nonEmpty) {
      var st = state.getOption.getOrElse(fresh(byHour.firstKey))
      byHour.foreach { case (h, n) =>
        if (h >= openHour(st)) {
          while (openHour(st) < h) st = close(st)
          st = add(st, n)
        }
      }
      state.update(st)
    }
  }

  /** Streaming corpus curation — the incremental form of the batch
    * `ext.Curation` path for a continuously-arriving document stream
    * (doc_id, ts, text, source): quality-gate each document
    * (`TextAnalysis.qualityScore`, same closed-form signal as batch), then
    * drop exact content duplicates within the watermark horizon
    * (`dropDuplicatesWithinWatermark` on the md5 content fingerprint —
    * state stays bounded by the horizon; near-dup MinHash joins are batch
    * territory, documented). Emits the surviving docs with their quality
    * and token count — ready for a parquet shard sink.
    *
    * Mode-adaptive like [[dedupStream]]: on a batch frame the watermarked
    * dedup stage (streaming-only API) becomes plain
    * `dropDuplicates("fingerprint")` — same survivors-per-fingerprint
    * semantics, no state horizon needed on bounded input. The batch twin
    * (q243) runs THIS function over the documents corpus and is
    * oracle-verified end to end.
    */
  def curateStream(docs: DataFrame, minQuality: Double = 0.3,
                   watermark: String = "1 hour"): DataFrame = {
    import graft.ext.TextAnalysis
    val gated = docs.withWatermark("ts", watermark)
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .filter(col("quality") >= minQuality)
      .withColumn("fingerprint", TextAnalysis.fingerprint(col("text")))
    val deduped =
      if (docs.isStreaming) gated.dropDuplicatesWithinWatermark("fingerprint")
      else gated.dropDuplicates("fingerprint")
    deduped.select(col("doc_id"), col("ts"), col("source"),
      col("quality"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
  }

  /** Stream-static enrichment: each micro-batch of the stream joins the
    * static dim table (re-planned per batch, so a dim refresh is picked up
    * on the next trigger). Broadcast by hint — the dim is the small side
    * by definition; the stream side never shuffles, so enrichment adds no
    * state and no exchange to a forever-running ingest. Left join keeps
    * unmatched events (enrichment must never drop facts).
    */
  def enrichStream(events: DataFrame, dim: DataFrame,
                   eventKey: String = "user_id", dimKey: String = "c_custkey"): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left")

  /** Stream-stream join: view→purchase conversions — a purchase by the
    * same user within `horizon` of a view. BOTH sides are watermarked and
    * the join condition bounds buy_ts to [view_ts, view_ts + horizon], so
    * each side's state is freed once the other side's watermark passes the
    * reachable range — constant state on a forever stream, never a full
    * history buffer. Works identically on batch frames (the spec's oracle
    * is the same expression evaluated in batch mode).
    */
  def viewToPurchase(events: DataFrame, horizon: String = "30 minutes",
                     watermark: String = "1 hour"): DataFrame =
    viewPurchaseJoin(events, horizon, watermark, "inner")

  /** [[viewToPurchase]]'s LEFT OUTER form: views that convert emit their
    * (view, purchase) pair exactly as the inner join does; views that DON'T
    * convert are emitted with null buy columns — but only once the
    * watermark passes `view_ts + horizon` and Spark can PROVE no matching
    * purchase can still arrive (outer rows on a stream are necessarily
    * watermark-delayed; the inner rows still emit as matches are found).
    * This is the abandonment feed: every view accounted for, exactly once.
    * State stays bounded exactly as in the inner case — both sides evict
    * at the watermark, the outer semantics add no retention.
    */
  def viewToPurchaseOuter(events: DataFrame, horizon: String = "30 minutes",
                          watermark: String = "1 hour"): DataFrame =
    viewPurchaseJoin(events, horizon, watermark, "leftOuter")

  /** The one body of [[viewToPurchase]] and [[viewToPurchaseOuter]],
    * which differ only in `joinType`: watermarked views and purchases,
    * joined on the user with buy_ts bounded to [view_ts, view_ts +
    * horizon] so both sides' state is evicted at the watermark.
    */
  private def viewPurchaseJoin(events: DataFrame, horizon: String, watermark: String,
                               joinType: String): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      .withWatermark("view_ts", watermark)
    val buys = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"),
        col("event_id").as("buy_id"))
      .withWatermark("buy_ts", watermark)
    views.join(buys,
      col("user_id") === col("buy_user") &&
        col("buy_ts") >= col("view_ts") &&
        col("buy_ts") <= col("view_ts") + expr(s"interval $horizon"),
      joinType)
      .select(col("user_id"), col("view_id"), col("buy_id"),
        col("view_ts"), col("buy_ts"))
  }

  /** Wires a streaming read of the events parquet directory into any of the
    * transforms above (schema must be supplied — streaming reads don't
    * infer).
    *
    * `maxFilesPerTrigger > 0` paces a backfill: each micro-batch ingests
    * at most that many files, so replaying months of history runs as many
    * small exactly-once batches instead of one giant one — state stores,
    * watermarks and sinks advance incrementally, and a failure loses one
    * slice, not the whole replay. (AvailableNow respects the cap and
    * still terminates.)
    */
  def readEventsStream(spark: SparkSession, dir: String,
                       maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")
    (if (maxFilesPerTrigger > 0)
       r.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
     else r).parquet(dir)
  }

  /** Checkpointed parquet sink for the hourly aggregation: processes all
    * currently-available input (AvailableNow) and stops — the incremental
    * re-batch replacement for the reference's 7-day re-run loop
    * (portfolio-etl.py:42): re-invoking resumes from the checkpoint and
    * only new files are read.
    */
  def writeHourlyParquet(events: DataFrame, outDir: String,
                         checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    hourlyByType(events).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  final case class SlotMoments(m: Long, s: Long, q: Long)
  final case class SeasonalState(openHour: Long, openCount: Long,
                                 slots: Map[Long, SlotMoments])

  /** Streaming seasonal (hour-of-week) rate anomalies — the incremental
    * twin of [[graft.ext.TimeSeries.seasonalAnomalies]]: each hour is
    * judged AS IT CLOSES against the running moments (m, Σx, Σx²) of its
    * own hour-of-week slot, then folded into them — the same
    * cross-multiplied integer z-test
    * ([[graft.ext.TimeSeries.zFlagMoments]] — one function, both
    * callers). Skipped hours close as zeros on the way forward (the
    * batch gap-fill), late rows for closed hours are dropped (the manual
    * watermark, as in [[rateAnomalyState]]).
    *
    * Scale: state per key is one open (hour, count) plus ≤ 168 slot
    * moment triples — CONSTANT forever, unlike a sample-list history
    * (the whole point of the moments form: the batch window re-reads all
    * prior same-slot rows; the stream carries three longs per slot).
    */
  def seasonalAnomalyState(events: Dataset[RateEvent], minPrior: Int = 3,
                           z: Int = 3)(
      implicit spark: SparkSession): Dataset[RateAnomaly] = {
    import spark.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[SeasonalState, RateAnomaly](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        seasonalStep(minPrior, z))
  }

  /** The [[seasonalAnomalyState]] transition, named for TestGroupState
    * unit testing (the [[rateStep]] pattern).
    */
  private[streaming] def seasonalStep(minPrior: Int, z: Int)(
      key: String, rows: Iterator[RateEvent],
      state: GroupState[SeasonalState]): Iterator[RateAnomaly] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[RateAnomaly]
    rollHours(rows, state)(SeasonalState(_, 0L, Map.empty), _.openHour,
      (st, n) => st.copy(openCount = st.openCount + n)) { st =>
      val slot = ((st.openHour % 168) + 168) % 168
      val mo = st.slots.getOrElse(slot, SlotMoments(0L, 0L, 0L))
      graft.ext.TimeSeries
        .zFlagMoments(mo.m, mo.s, mo.q, st.openCount, minPrior, z)
        .foreach { dir =>
          out += RateAnomaly(key, new Timestamp(st.openHour * 3600000L),
            st.openCount, mo.m, dir)
        }
      SeasonalState(st.openHour + 1, 0L,
        st.slots.updated(slot, SlotMoments(mo.m + 1,
          mo.s + st.openCount, mo.q + st.openCount * st.openCount)))
    }
    out.iterator
  }

  final case class PatternEvent(user_id: Long, event_id: Long,
                                event_type: String, t_us: Long)
  final case class PatternMatchRow(user_id: Long, start_event_id: Long,
                                   end_event_id: Long, lag_us: Long)
  /** Open starts awaiting their first following end, plus the largest
    * event time seen (drives horizon eviction across batches).
    */
  final case class PatternState(openStarts: List[(Long, Long)], maxSeenUs: Long)

  /** Streaming CEP pattern matching — the incremental twin of the batch
    * [[graft.ext.Funnel.matchPattern]] (`START (^ABSENT)* END WITHIN h`):
    * per user, a start opens; the FIRST following end emits a match for
    * every open start within the horizon and closes them all (an
    * out-of-horizon start's first end was still this one — dead either
    * way); an absent-type event kills every open start (any later end
    * would have the blocker between). In-batch disorder is sorted on
    * (t_us, event_id) — the batch operator's total order, so same-µs
    * end/blocker ties resolve by event id identically; cross-batch order
    * is the contract (the [[lastTouchState]] closed-hour analogue: a row
    * arriving after a later-timestamped row was processed in a previous
    * batch may miss or produce a match batch Spark would not).
    *
    * Scale: state per user is the open starts inside one horizon (older
    * ones are evicted — they can never match a future end) — bounded by
    * the per-user start rate times the horizon, independent of stream
    * length; emission is append-mode, one shuffle on the user key.
    */
  def patternMatchState(events: Dataset[PatternEvent],
                        startType: String = "view", endType: String = "purchase",
                        absentType: String = "error",
                        horizonUs: Long = 3600L * 1000000)(
      implicit spark: SparkSession): Dataset[PatternMatchRow] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[PatternState, PatternMatchRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        patternStep(startType, endType, absentType, horizonUs))
  }

  /** The [[patternMatchState]] transition, named for deterministic
    * TestGroupState unit testing (the [[attribStep]] pattern).
    */
  private[streaming] def patternStep(startType: String, endType: String,
                                     absentType: String, horizonUs: Long)(
      user: Long, rows: Iterator[PatternEvent],
      state: GroupState[PatternState]): Iterator[PatternMatchRow] = {
    val sorted = rows.toSeq.sortBy(e => (e.t_us, e.event_id))
    val st = state.getOption.getOrElse(PatternState(Nil, Long.MinValue))
    var open = st.openStarts
    var maxSeen = st.maxSeenUs
    val out = scala.collection.mutable.ArrayBuffer.empty[PatternMatchRow]
    sorted.foreach { e =>
      maxSeen = math.max(maxSeen, e.t_us)
      e.event_type match {
        case `startType` => open = (e.t_us, e.event_id) :: open
        case `endType` =>
          open.reverse.foreach { case (ts, id) =>
            if (e.t_us - ts <= horizonUs)
              out += PatternMatchRow(user, id, e.event_id, e.t_us - ts)
          }
          open = Nil
        case `absentType` => open = Nil
        case _ => ()
      }
    }
    // a start can only match an end with end_t − start_t ≤ horizon, and
    // (by the order contract) future ends are ≥ maxSeen — evict starts
    // that already fell out of every future end's horizon
    open = open.filter { case (ts, _) => maxSeen - ts <= horizonUs }
    state.update(PatternState(open, maxSeen))
    out.iterator
  }

  /** Native session_window sessions on a stream: the SAME declarative
    * expression as the batch [[graft.ext.Funnel.sessionWindows]], plus the
    * watermark that lets Spark CLOSE sessions (a session emits, and its
    * state is evicted, once the watermark passes session_end — without
    * one, every open session would be held forever). Append mode: each
    * session is emitted exactly once, finalized.
    */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
                       watermark: String = "1 hour"): DataFrame =
    graft.ext.Funnel.sessionWindows(events.withWatermark("ts", watermark), gap)

  final case class ActivityState(n: Long, cents: Long, lastUs: Long)
  final case class UserActivity(user_id: Long, n_events: Long,
                                total_cents: Long, last_ts: Timestamp)

  /** Spark 4 `transformWithState` processor: running per-user activity
    * totals (event count, integer-cents value sum, last event time) in a
    * named `ValueState`, emitted once per user per micro-batch in Update
    * mode. This is the new arbitrary-state API (SPARK-40434 umbrella) —
    * vs [[sessionize]]'s flatMapGroupsWithState it gives NAMED state
    * slots (several per processor, individually evolvable), native
    * per-state TTL, timers decoupled from state, and it REQUIRES the
    * RocksDB state store — which is also the right 100 TB choice:
    * changelog-checkpointed off-heap state that never rehydrates the
    * whole store into executor memory the way the default HDFS-backed
    * in-memory provider does.
    *
    * Value sums accumulate as integer cents: rows reach the processor in
    * shuffle order, and a Double fold would make the emitted total depend
    * on that order (the stream≡batch spec would flake).
    */
  class UserActivityProcessor extends StatefulProcessor[Long, Event, UserActivity] {
    @transient private var state: ValueState[ActivityState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[ActivityState]("activity",
        org.apache.spark.sql.Encoders.product[ActivityState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[UserActivity] = {
      var st = if (state.exists()) state.get() else ActivityState(0L, 0L, Long.MinValue)
      rows.foreach { e =>
        // full microsecond precision: getTime*1000 alone truncates the
        // sub-millisecond micros the events parquet (TIMESTAMP NANOS →
        // µs session type) actually carries, so emitted last_ts could
        // disagree with a batch max(ts). getTime already includes the
        // integral-ms part of the nanos; only the sub-ms µs remainder
        // ((nanos/1000) % 1000) is added back.
        val us = e.ts.getTime * 1000L + (e.ts.getNanos / 1000) % 1000
        st = ActivityState(st.n + 1, st.cents + math.round(e.value * 100),
          math.max(st.lastUs, us))
      }
      state.update(st)
      // rebuild the Timestamp from micros without dropping the remainder:
      // seconds via floorDiv (µs-exact for any sign), fraction via setNanos
      val lastTs = new Timestamp(Math.floorDiv(st.lastUs, 1000000L) * 1000L)
      lastTs.setNanos((Math.floorMod(st.lastUs, 1000000L) * 1000L).toInt)
      Iterator.single(UserActivity(key, st.n, st.cents, lastTs))
    }
  }

  /** Running per-user activity via [[UserActivityProcessor]]. Works on a
    * stream (Update mode, RocksDB state store) and — the equivalence
    * contract — on a single-batch replay, where the emitted final rows
    * must equal a plain `groupBy(user).agg(...)` of the same events.
    */
  def userActivityTws(events: Dataset[Event])(
      implicit spark: SparkSession): Dataset[UserActivity] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new UserActivityProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  final case class UserTrail(user_id: Long, n_types: Long, n_events: Long,
                             trail: Seq[Long])

  /** transformWithState with the remaining state shapes: a `MapState`
    * (per-type running counts — point lookups and updates, never
    * deserializing the whole map the way a ValueState[Map] would) and a
    * `ListState` ring of the last `keep` event ids (append-only writes;
    * the trim rewrites only when the ring overflows). One processor, three
    * named slots max — each independently evolvable and TTL-able, which
    * is the operational reason this API replaces flatMapGroupsWithState's
    * single opaque state blob.
    */
  class UserTrailProcessor(keep: Int) extends StatefulProcessor[Long, Event, UserTrail] {
    @transient private var counts: MapState[String, Long] = _
    @transient private var trail: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long]("type_counts",
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong,
        TTLConfig.NONE)
      trail = getHandle.getListState[Long]("trail",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[UserTrail] = {
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        counts.updateValue(e.event_type,
          (if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L) + 1)
        trail.appendValue(e.event_id)
      }
      val ids = trail.get().toSeq
      if (ids.length > keep) trail.put(ids.takeRight(keep).toArray)
      val byType = counts.iterator().toSeq
      Iterator.single(UserTrail(key, byType.length.toLong, byType.map(_._2).sum,
        ids.takeRight(keep)))
    }
  }

  /** Running per-user type histogram + last-3-event trail via
    * [[UserTrailProcessor]].
    */
  def userTrailsTws(events: Dataset[Event], keep: Int = 3)(
      implicit spark: SparkSession): Dataset[UserTrail] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new UserTrailProcessor(keep),
        TimeMode.None(), OutputMode.Update())
  }

  final case class InactivityAlert(user_id: Long, last_seen: Timestamp,
                                   silent_ms: Long)

  /** transformWithState with EVENT-TIME TIMERS: each user's state is one
    * last-seen timestamp; every arrival re-arms a timer at
    * `last + gapMs`, and [[handleExpiredTimer]] fires once the WATERMARK
    * passes it — emitting an inactivity alert and freeing the state.
    * This is the push-based complement to [[sessionize]]'s timeout flush:
    * detection latency is bounded by watermark progress, not by the user
    * ever returning, and state is O(1) per silent user until the alert
    * clears it. Timers live outside the state slot (deleted/re-armed
    * independently) — the API capability flatMapGroupsWithState lacks.
    */
  class InactivityProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, InactivityAlert] {
    @transient private var lastSeen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastSeen = getHandle.getValueState[Long]("last_seen",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[InactivityAlert] = {
      val newest = rows.map(_.ts.getTime).max
      val last = if (lastSeen.exists()) math.max(lastSeen.get(), newest) else newest
      getHandle.listTimers().foreach(getHandle.deleteTimer) // re-arm, never stack
      getHandle.registerTimer(last + gapMs)
      lastSeen.update(last)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[InactivityAlert] = {
      val last = lastSeen.get()
      lastSeen.clear()
      Iterator.single(InactivityAlert(key, new Timestamp(last),
        expiredTimerInfo.getExpiryTimeInMs() - last))
    }
  }

  /** Inactivity alerts via [[InactivityProcessor]] (event-time timers —
    * requires a watermark on the input and the RocksDB state store).
    */
  def inactivityAlerts(events: Dataset[Event], gapMs: Long = 30L * 60 * 1000,
                       watermark: String = "10 seconds")(
      implicit spark: SparkSession): Dataset[InactivityAlert] = {
    import spark.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new InactivityProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Idempotent version step for [[incrementalAggSink]]: merge `batch`'s
    * delta aggregate into the newest stored version PRECEDING `batchId`
    * and write the result as version `batchId`. Re-running a batch id
    * (Spark replays the in-flight micro-batch after a failure) rebuilds
    * the SAME version from the SAME base — overwrite, not double-count —
    * which is exactly the idempotence foreachBatch requires for
    * end-to-end exactly-once. Old versions are retained (time travel /
    * audit); production would prune beyond a horizon.
    */
  def applyAggDelta(storeDir: String, batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions =
      if (!fs.exists(new org.apache.hadoop.fs.Path(storeDir))) Seq.empty[Long]
      else fs.listStatus(new org.apache.hadoop.fs.Path(storeDir)).toSeq
        .map(_.getPath.getName).filter(_.startsWith("v"))
        .map(_.drop(1).toLong)
    val delta = graft.ext.Warehouse.aggState(batch)
    val base = versions.filter(_ < batchId).sorted.lastOption
    val merged = base match {
      case Some(v) => graft.ext.Warehouse.mergeAggregates(
        spark.read.parquet(s"$storeDir/v$v"), delta)
      case None => delta
    }
    merged.write.mode("overwrite").parquet(s"$storeDir/v$batchId")
  }

  /** Streaming incremental aggregate maintenance via `foreachBatch`: each
    * micro-batch's per-SKU delta merges into a versioned parquet store
    * ([[applyAggDelta]]) — the stored aggregate equals a full batch
    * recompute over everything ever streamed, but each increment reads
    * only the delta plus the (aggregate-sized, not fact-sized) current
    * version. The exactly-once contract is checkpoint (batch replay) +
    * idempotent version write; at 100 TB this is the difference between
    * re-aggregating the corpus nightly and touching only the day's facts.
    */
  def incrementalAggSink(lineitemStream: DataFrame, storeDir: String,
                         checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    lineitemStream.writeStream
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applyAggDelta(storeDir, batch.toDF(), batchId))
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Offline audit of a streaming query's STATE via the state-store data
    * source (`format("statestore")`): reads the keyed state rows straight
    * out of a checkpoint — no replay, no touching the running query. The
    * operational missing piece at scale: "which keys hold state, and
    * what" is otherwise invisible inside a 1000-executor job's RocksDB
    * files. `stateVarName` selects a named transformWithState slot (e.g.
    * [[UserActivityProcessor]]'s "activity"); leave empty for classic
    * stateful operators (aggregations, dedup, stream-stream joins).
    */
  def readStateStore(spark: SparkSession, checkpointDir: String,
                     stateVarName: String = ""): DataFrame = {
    // path = the checkpoint ROOT (the source resolves state/ and the
    // commit log itself; passing .../state trips "no committed batch")
    val r = spark.read.format("statestore")
      .option("path", checkpointDir)
    (if (stateVarName.nonEmpty) r.option("stateVarName", stateVarName) else r)
      .load()
  }
}
