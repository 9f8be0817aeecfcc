package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.Pin.PinOps

/** Strict-sequence funnel analysis over an event stream: how many users
  * reach each stage, where stage i+1 only counts events STRICTLY AFTER the
  * user's stage-i time (a purchase logged before the first view does not
  * convert the view).
  *
  * Scale shape: one filtered scan + one (user key) shuffle per stage —
  * never a self-join of the whole event table. Each stage's state is one
  * row per surviving user (user_id, first qualifying ts), so intermediate
  * size shrinks monotonically down the funnel; the stage filter pushes the
  * `event_type` predicate into the scan. Counting is a 1-row aggregate per
  * stage unioned into the report — nothing wide ever materializes.
  */
object Funnel {

  /** Per-user first qualifying timestamp per stage, chained strictly. */
  private def stageTimes(events: DataFrame, stages: Seq[String],
                         tsCol: String, userCol: String,
                         typeCol: String): Seq[DataFrame] = {
    val first = events.filter(col(typeCol) === stages.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("t"))
    stages.tail.scanLeft(first) { (prev, stage) =>
      events.filter(col(typeCol) === stage)
        .join(prev.select(col(userCol), col("t").as("prev_t")), Seq(userCol))
        .filter(col(tsCol) > col("prev_t"))
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("t"))
    }
  }

  /** Funnel report: one row per stage — (stage index, stage name, users
    * reaching it under strict ordering).
    */
  def funnel(events: DataFrame, stages: Seq[String], tsCol: String = "ts",
             userCol: String = "user_id",
             typeCol: String = "event_type"): DataFrame = {
    require(stages.nonEmpty, "funnel requires at least one stage")
    stageTimes(events, stages, tsCol, userCol, typeCol)
      .zip(stages).zipWithIndex
      .map { case ((df, stage), i) =>
        df.agg(count(lit(1)).as("users"))
          .select(lit(i.toLong).as("stage"), lit(stage).as("event_type"),
            col("users"))
      }
      .reduce(_ unionAll _)
  }

  /** Per-user funnel depth (how far down the stages each user got) plus
    * the stage timestamps — the per-entity view [[funnel]] aggregates.
    * Users who never reach stage 0 are absent.
    */
  def funnelUsers(events: DataFrame, stages: Seq[String], tsCol: String = "ts",
                  userCol: String = "user_id",
                  typeCol: String = "event_type"): DataFrame = {
    val times = stageTimes(events, stages, tsCol, userCol, typeCol)
    times.zipWithIndex.map { case (df, i) =>
      df.select(col(userCol), lit(i.toLong).as("depth"), col("t"))
    }.reduce(_ unionAll _)
      .groupBy(col(userCol))
      .agg(max(col("depth")).as("depth"), min(col("t")).as("t_first"),
        max(col("t")).as("t_last"))
  }

  /** First-order Markov transition counts over each user's event sequence:
    * for consecutive events (ordered by `(ts, idCol)` — the id tie-break
    * makes simultaneous events a total order both engines agree on), count
    * every `from → to` event-type step and derive the row-conditional
    * transition probability (6-decimal rounded; exact integer ratio
    * underneath).
    *
    * The sequence-mining primitive behind next-action models and
    * session-flow sankeys. Scale shape: ONE user-key shuffle for the
    * `lead` window (per-user state only — no global ordering), then a
    * (from, to) aggregate whose keyspace is |event types|² — tiny at any
    * corpus size; the per-`from` totals for the probability come from a
    * window over that already-aggregated relation, not the events.
    */
  def transitionCounts(events: DataFrame, tsCol: String = "ts",
                       userCol: String = "user_id",
                       typeCol: String = "event_type",
                       idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val steps = events
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol).as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val counts = steps.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val perFrom = Window.partitionBy("from_type")
    counts.withColumn("p",
      round(col("n").cast("double") / sum(col("n")).over(perFrom), 6))
  }

  /** Last-touch attribution: every conversion is credited to the SAME
    * user's most recent touch event (view/click/…) at or before the
    * conversion, provided it happened within `horizonUs`; conversions with
    * no touch in the window land in the `none` bucket, so the credit
    * columns always total the conversion count. Revenue is attributed in
    * integer cents (`round(value·100)` — the money rule every report
    * query uses). Ties on the timestamp are ordered by event id, so a
    * touch logged at the conversion's own instant with a smaller id gets
    * the credit deterministically.
    *
    * Scale shape: NO join — touches and conversions ride one frame, and
    * the "most recent touch" is a running `last(_, ignoreNulls)` over the
    * user-key window (ROWS UNBOUNDED PRECEDING → running state, not a
    * whole-partition sort-and-rescan). One user-key shuffle, then a
    * |touch types|-sized aggregate. The interval-join formulation this
    * replaces shuffles both sides AND buffers every in-horizon pair.
    */
  def lastTouchAttribution(events: DataFrame,
                           touchTypes: Seq[String] = Seq("view", "click"),
                           convType: String = "purchase",
                           horizonUs: Long = 30L * 60 * 1000000,
                           tsCol: String = "ts", userCol: String = "user_id",
                           typeCol: String = "event_type",
                           idCol: String = "event_id",
                           valueCol: String = "value"): DataFrame = {
    val isTouch = col(typeCol).isInCollection(touchTypes)
    val w = Window.partitionBy(col(userCol)).orderBy(col("t_us"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val attributed = events
      .filter(isTouch || col(typeCol) === convType)
      .select(col(userCol), col(idCol), col(typeCol),
        unix_micros(col(tsCol)).as("t_us"),
        round(col(valueCol) * 100).cast("long").as("cents"))
      .withColumn("touch_type",
        last(when(isTouch, col(typeCol)), ignoreNulls = true).over(w))
      .withColumn("touch_us",
        last(when(isTouch, col("t_us")), ignoreNulls = true).over(w))
      .filter(col(typeCol) === convType)
      .withColumn("credit",
        when(col("touch_us").isNull || col("t_us") - col("touch_us") > horizonUs,
          lit("none")).otherwise(col("touch_type")))
    attributed.groupBy(col("credit"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("cents")).as("revenue_cents"))
  }

  /** Linear (equal-split) multi-touch attribution — [[lastTouchAttribution]]'s
    * fairness-minded sibling: every conversion's revenue splits EQUALLY
    * across ALL of the user's touches inside the horizon, in exact
    * integer cents — each touch gets `cents div n` and the EARLIEST touch
    * (ties by event id) absorbs the `cents mod n` remainder, so credit
    * conserves revenue to the cent (Σ credited = Σ conversion cents,
    * asserted by spec). Conversions with no in-horizon touch report under
    * 'none'. Output: `(credit, n, revenue_cents)` — n counts credited
    * touch rows (conversions, for 'none').
    *
    * Scale shape: conversions and touches equi-join on the USER key, then
    * the horizon range is a residual filter — pair fan-out is bounded by
    * per-user touch×conversion counts inside the horizon, never corpus-
    * quadratic (the same per-key-bounded envelope as the as-of join, with
    * the same hot-user caveat). The split windows run per conversion id
    * over those bounded pairs; final aggregates are |touch types|+1 rows.
    */
  def linearAttribution(events: DataFrame,
                        touchTypes: Seq[String] = Seq("view", "click"),
                        convType: String = "purchase",
                        horizonUs: Long = 30L * 60 * 1000000,
                        tsCol: String = "ts", userCol: String = "user_id",
                        typeCol: String = "event_type",
                        idCol: String = "event_id",
                        valueCol: String = "value"): DataFrame = {
    val isTouch = col(typeCol).isInCollection(touchTypes)
    val base = events.filter(isTouch || col(typeCol) === convType)
      .select(col(userCol), col(idCol), col(typeCol),
        unix_micros(col(tsCol)).as("t_us"),
        round(col(valueCol) * 100).cast("long").as("cents"))
    val conv = base.filter(col(typeCol) === convType)
      .select(col(userCol), col(idCol).as("conv_id"),
        col("t_us").as("t_c"), col("cents"))
    val touch = base.filter(isTouch)
      .select(col(userCol), col(idCol).as("touch_id"),
        col(typeCol).as("touch_type"), col("t_us").as("t_t"))
    val pairs = conv.join(touch, Seq(userCol))
      .filter(col("t_t") <= col("t_c") && col("t_t") >= col("t_c") - horizonUs)
    val wN = Window.partitionBy("conv_id")
    val wR = Window.partitionBy("conv_id").orderBy(col("t_t"), col("touch_id"))
    val credited = pairs
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("rk", row_number().over(wR))
      .withColumn("credit_cents",
        expr("cents div n") + when(col("rk") === 1, expr("cents % n")).otherwise(lit(0L)))
    val byType = credited.groupBy(col("touch_type").as("credit"))
      .agg(count(lit(1)).as("n"), sum("credit_cents").as("revenue_cents"))
    val none = conv.join(pairs.select("conv_id").distinct(), Seq("conv_id"), "left_anti")
      .agg(count(lit(1)).as("n"), sum("cents").as("rc"))
      .select(lit("none").as("credit"), col("n"),
        coalesce(col("rc"), lit(0L)).as("revenue_cents"))
    byType.unionByName(none)
  }

  /** Difference-in-differences readout (Card & Krueger's design, public
    * literature): the treated arm's before→after conversion-rate change
    * MINUS the control arm's — the causal estimate when both arms share
    * the time trend. Arms are the q171 deterministic user-hash split;
    * the period boundary is the corpus's midpoint hour ((min+max+1)
    * div 2 — data-derived, layout-invariant). Rates are exact floored
    * ppm of per-cell event counts; `did_ppm` is pure integer arithmetic
    * over the four cells, so the readout is bit-stable and the oracle
    * replays it literally.
    *
    * Scale shape: ONE map-combined aggregate over facts (eight
    * conditional sums) after a broadcast 1-row bounds join; nothing
    * iterates, nothing is user-keyed.
    */
  def diffInDifferences(events: DataFrame, convType: String = "purchase",
                        userCol: String = "user_id",
                        typeCol: String = "event_type",
                        tsCol: String = "ts"): DataFrame = {
    val base = events.select(
      pmod(Dedup.mixHash(col(userCol), 360), lit(2L)).as("arm"),
      expr(s"unix_micros($tsCol) div 3600000000").as("h"),
      when(col(typeCol) === convType, 1L).otherwise(0L).as("is_conv"))
    val bounds = base.agg(expr("(min(h) + max(h) + 1) div 2").as("mid"))
    val cells = base.crossJoin(broadcast(bounds))
      .select(col("arm"), (col("h") >= col("mid")).as("after"), col("is_conv"))
      .agg(
        sum(when(col("arm") === 0 && !col("after"), 1L).otherwise(0L)).as("n_c0"),
        sum(when(col("arm") === 0 && !col("after"), col("is_conv")).otherwise(0L)).as("v_c0"),
        sum(when(col("arm") === 0 && col("after"), 1L).otherwise(0L)).as("n_c1"),
        sum(when(col("arm") === 0 && col("after"), col("is_conv")).otherwise(0L)).as("v_c1"),
        sum(when(col("arm") === 1 && !col("after"), 1L).otherwise(0L)).as("n_t0"),
        sum(when(col("arm") === 1 && !col("after"), col("is_conv")).otherwise(0L)).as("v_t0"),
        sum(when(col("arm") === 1 && col("after"), 1L).otherwise(0L)).as("n_t1"),
        sum(when(col("arm") === 1 && col("after"), col("is_conv")).otherwise(0L)).as("v_t1"))
    cells.select(
      col("n_c0"), col("n_c1"), col("n_t0"), col("n_t1"),
      expr("CAST(v_c0 AS DECIMAL(38,0)) * 1000000 div greatest(n_c0, 1L)").as("r_c0_ppm"),
      expr("CAST(v_c1 AS DECIMAL(38,0)) * 1000000 div greatest(n_c1, 1L)").as("r_c1_ppm"),
      expr("CAST(v_t0 AS DECIMAL(38,0)) * 1000000 div greatest(n_t0, 1L)").as("r_t0_ppm"),
      expr("CAST(v_t1 AS DECIMAL(38,0)) * 1000000 div greatest(n_t1, 1L)").as("r_t1_ppm"))
      .withColumn("did_ppm",
        (col("r_t1_ppm") - col("r_t0_ppm")) - (col("r_c1_ppm") - col("r_c0_ppm")))
  }

  /** Deterministic A/B conversion comparison: users hash-assign to two
    * arms (`mixHash(user; 360) mod 2` — family member 360 reserved for
    * experiment assignment, disjoint from every other consumer), each
    * arm reports its user count, converted-user count and conversion
    * rate in exact ppm, and the two-proportion z-test verdict — computed
    * ENTIRELY in cross-multiplied integer arithmetic (the q137 rate-
    * anomaly policy): with diff = conv_a·n_b − conv_b·n_a, C = conv_a +
    * conv_b, N = n_a + n_b, significance at z = zNum/zDen is
    * `diff² · N · zDen² > zNum² · C · (N−C) · n_a · n_b` — algebraically
    * identical to |p̂_a − p̂_b| > z·√(p̂(1−p̂)(1/n_a+1/n_b)), no sqrt, no
    * float, bit-identical in any engine. DECIMAL(38,0) carries the
    * products (bounded to ~10³⁶ for arms up to ~10⁷ users at z = 1.96;
    * rescale zDen for bigger arms).
    *
    * Scale shape: one distinct-user pass, one distinct-converter pass
    * (both partial-agg'd), a 2-row arm aggregate folded to one row — the
    * fact stream is never joined row-to-row.
    */
  def armConversionTest(events: DataFrame, convType: String = "purchase",
                        zNum: Long = 196, zDen: Long = 100,
                        userCol: String = "user_id",
                        typeCol: String = "event_type"): DataFrame = {
    require(zNum > 0 && zDen > 0, "z must be positive")
    val users = events.select(col(userCol)).distinct()
      .withColumn("arm", pmod(Dedup.mixHash(col(userCol), 360), lit(2L)))
    val conv = events.filter(col(typeCol) === convType)
      .select(col(userCol)).distinct().withColumn("c", lit(1L))
    val row = users.join(conv, Seq(userCol), "left")
      .groupBy("arm").agg(count(lit(1)).as("n"),
        sum(coalesce(col("c"), lit(0L))).as("cv"))
      .agg(
        sum(when(col("arm") === 0, col("n"))).as("n_a"),
        sum(when(col("arm") === 0, col("cv"))).as("conv_a"),
        sum(when(col("arm") === 1, col("n"))).as("n_b"),
        sum(when(col("arm") === 1, col("cv"))).as("conv_b"))
    row.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      expr("(cast(conv_a as decimal(38,0)) * 1000000) div n_a").as("rate_a_ppm"),
      expr("(cast(conv_b as decimal(38,0)) * 1000000) div n_b").as("rate_b_ppm"),
      expr(s"""(cast(conv_a as decimal(38,0)) * n_b - cast(conv_b as decimal(38,0)) * n_a)
              * (cast(conv_a as decimal(38,0)) * n_b - cast(conv_b as decimal(38,0)) * n_a)
              * (n_a + n_b) * ${zDen * zDen}
            > cast(${zNum * zNum} as decimal(38,0)) * (conv_a + conv_b)
              * ((n_a + n_b) - (conv_a + conv_b)) * n_a * n_b""").as("significant"))
  }

  /** Sample-ratio-mismatch audit — the validity guardrail every
    * experimentation platform runs BEFORE reading a test: for each
    * candidate assignment-hash family, users are hash-split into two arms
    * and the observed split is chi-square-tested against 50/50. A family
    * that trips `srm` must not be used for assignment (biased hash,
    * collision with another consumer's family, or upstream filtering
    * correlated with the hash). The 1-dof 95% threshold 3.8415 is
    * cross-multiplied to integers ((n_a−n_b)²·10⁴ > 38415·n), the q171
    * pattern — no floats, bit-exact in any engine.
    *
    * Scale shape: ONE distinct-user shuffle, a narrow |families|-way
    * explode on the user rows, then an aggregate whose keyspace is the
    * family list — constant-width output at any corpus size.
    */
  def srmAudit(events: DataFrame, families: Seq[Int] = Seq(360, 362, 364, 366),
               userCol: String = "user_id"): DataFrame = {
    val fams = array(families.map(j => struct(lit(j).as("family"),
      pmod(Dedup.mixHash(col(userCol), j), lit(2L)).as("arm"))): _*)
    events.select(col(userCol)).distinct()
      .select(explode(fams).as("fa"))
      .groupBy(col("fa.family").as("family"))
      .agg(
        sum(when(col("fa.arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("fa.arm") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("family"), col("n_a"), col("n_b"),
        expr("abs(n_a - n_b) * 1000000 div (n_a + n_b)").as("delta_ppm"),
        expr("(n_a - n_b) * (n_a - n_b) * 10000 > 38415 * (n_a + n_b)")
          .as("srm"))
  }

  /** CUPED variance-reduced A/B readout (Deng et al., WSDM 2013): the
    * experiment metric Y (per-user post-split value cents) is adjusted by
    * the pre-split covariate X via Y' = Y − θ(X − X̄) with
    * θ = cov(X,Y)/var(X) pooled over both arms — the standard way large
    * experimentation platforms cut weeks off test duration, because the
    * pre-period behavior absorbs the between-user variance that
    * randomization alone leaves in the readout. Variance reduction equals
    * ρ²(X,Y), reported as `varred_ppm`.
    *
    * Arms are hash-assigned ([[Dedup.mixHash]] family 362 — disjoint from
    * every other consumer), so assignment is reproducible anywhere. All
    * moments are exact integer sums in cents (decimal(38,0) — the q171
    * cross-multiplication pattern); θ and the adjusted means are emitted
    * as explicit floor-division rationals (`theta_ppm`,
    * `adj_mean_microcents`) whose staging the oracle mirrors term by
    * term, so the output is bit-exact cross-engine despite being a ratio
    * statistic. Both Spark `div` and DuckDB HUGEINT `//` truncate toward
    * zero, so the signed deviations are safe.
    *
    * Scale shape: one user-key shuffle for the per-user (X, Y) rollup
    * (map-side partial agg), then TWO constant-width aggregates (global
    * moments, per-arm sums) and a broadcast of the 1-row moment frame —
    * nothing downstream of the first aggregate depends on corpus size.
    */
  def cupedReadout(events: DataFrame, split: String = "2024-01-16 00:00:00",
                   userCol: String = "user_id", valueCol: String = "value",
                   tsCol: String = "ts"): DataFrame = {
    val pre = col(tsCol) < lit(split).cast("timestamp")
    val cents = expr(s"cast(round($valueCol * 100) as bigint)")
    val d38 = "decimal(38,0)"
    val per = events.groupBy(col(userCol)).agg(
        sum(when(pre, cents).otherwise(lit(0L))).as("x"),
        sum(when(!pre, cents).otherwise(lit(0L))).as("y"))
      .withColumn("arm", pmod(Dedup.mixHash(col(userCol), 362), lit(2L)))
    val g = per.agg(
      count(lit(1)).cast(d38).as("n"),
      sum(col("x")).cast(d38).as("sx"),
      sum(col("y")).cast(d38).as("sy"),
      sum(col("x").cast(d38) * col("x")).as("sxx"),
      sum(col("x").cast(d38) * col("y")).as("sxy"),
      sum(col("y").cast(d38) * col("y")).as("syy"))
    per.groupBy("arm").agg(
        count(lit(1)).cast(d38).as("n_a"),
        sum(col("x")).cast(d38).as("sx_a"),
        sum(col("y")).cast(d38).as("sy_a"))
      .crossJoin(broadcast(g))
      .withColumn("nn", expr("n * sxy - sx * sy"))
      .withColumn("dd", expr(s"nullif(n * sxx - sx * sx, cast(0 as $d38))"))
      .withColumn("dy", expr(s"nullif(n * syy - sy * sy, cast(0 as $d38))"))
      .withColumn("theta_ppm", expr("(nn * 1000000) div dd"))
      .withColumn("dxm",
        expr("(sx_a * 1000000) div n_a - (sx * 1000000) div n"))
      .select(
        col("arm"),
        expr("cast(n_a as bigint)").as("n_users"),
        expr("sy_a div n_a").as("mean_y_cents"),
        expr(s"""(sy_a * 1000000) div n_a
                 - (cast(theta_ppm as $d38) * dxm) div 1000000""")
          .as("adj_mean_microcents"),
        col("theta_ppm"),
        expr(s"(cast(theta_ppm as $d38) * nn) div dy").as("varred_ppm"))
  }

  /** CEP-style event-pattern matches — MATCH_RECOGNIZE's
    * `START (^ABSENT)* END WITHIN horizon` shape: per user, every
    * `startType` event followed by an `endType` event within `horizonUs`
    * with NO `absentType` event between them (e.g. "view converted to
    * purchase on an error-free path within the hour"). One row per
    * matching START event — AFTER MATCH SKIP TO NEXT ROW semantics: each
    * start reports independently against its FIRST following end.
    * [[funnel]] answers "how many users completed the chain once"; this
    * emits every match instance with its endpoints, and expresses
    * NEGATION, which no join-chain funnel can.
    *
    * Determinism: the per-user order is (ts µs, event id); "first
    * following end" and "any blocker before it" are frame-bounded MINs of
    * the packed key `t_us·10⁹ + event_id` (DECIMAL(38,0) — HUGEINT in the
    * oracle), so a blocker logged the same microsecond as the end resolves
    * by event id, identically in any engine. Requires event ids in
    * [0, 10⁹) — widen the pack factor for larger id spaces.
    *
    * Scale: the type filter prunes the scan to the three pattern types,
    * then ONE user-key exchange; both following-frame windows run on the
    * same partitioning (subset rule), each holding one running suffix-min
    * per task — never an event self-join, output bounded by start-event
    * volume.
    */
  def matchPattern(events: DataFrame, startType: String, endType: String,
                   absentType: String, horizonUs: Long,
                   tsCol: String = "ts", userCol: String = "user_id",
                   typeCol: String = "event_type",
                   idCol: String = "event_id"): DataFrame = {
    require(horizonUs > 0, "horizonUs must be positive")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val w = Window.partitionBy(col(userCol)).orderBy(col("t_us"), col(idCol))
      .rowsBetween(1, Window.unboundedFollowing)
    val packFactor = lit(1000000000L).cast(dec)
    events
      .filter(col(typeCol).isin(startType, endType, absentType))
      .select(col(userCol), col(idCol), col(typeCol),
        unix_micros(col(tsCol)).as("t_us"))
      .withColumn("__pk", col("t_us").cast(dec) * packFactor + col(idCol).cast(dec))
      .withColumn("__ek",
        min(when(col(typeCol) === endType, col("__pk"))).over(w))
      .withColumn("__ak",
        min(when(col(typeCol) === absentType, col("__pk"))).over(w))
      .filter(col(typeCol) === startType && col("__ek").isNotNull)
      .withColumn("lag_us", expr("CAST(__ek div 1000000000 AS BIGINT)") - col("t_us"))
      .filter(col("lag_us") <= horizonUs &&
        (col("__ak").isNull || col("__ak") > col("__ek")))
      .select(col(userCol), col(idCol).as("start_event_id"),
        expr("CAST(__ek % 1000000000 AS BIGINT)").as("end_event_id"),
        col("lag_us"))
  }

  /** Dwell-time accounting: how long users sit in each state, where an
    * event's dwell is the time until the SAME user's next event (the
    * session-replay / engagement primitive behind time-on-page and
    * state-occupancy reports). Each user's last event has no successor and
    * contributes nothing (open intervals are unbounded, not zero — summing
    * them as 0 would bias means down). All arithmetic is integer
    * microseconds — `unix_micros` difference, totals, and a floor-division
    * mean — so the output is bit-exact in any engine; ties on the
    * timestamp are totally ordered by the event id (the
    * [[transitionCounts]] rule). Output: one row per event type
    * `(typeCol, n_intervals, total_dwell_us, mean_dwell_us)`.
    *
    * Scale shape: ONE user-key shuffle for the `lead` window (per-user
    * state only, no global sort), then an aggregate whose keyspace is
    * |event types| — constant-sized at any corpus scale.
    */
  def dwellTimes(events: DataFrame, tsCol: String = "ts",
                 userCol: String = "user_id",
                 typeCol: String = "event_type",
                 idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col("t_us"), col(idCol))
    events
      .select(col(userCol), col(idCol), col(typeCol),
        unix_micros(col(tsCol)).as("t_us"))
      .withColumn("dwell_us", lead(col("t_us"), 1).over(w) - col("t_us"))
      .filter(col("dwell_us").isNotNull)
      .groupBy(col(typeCol))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dwell_us")).as("total_dwell_us"))
      .withColumn("mean_dwell_us", expr("total_dwell_us div n_intervals"))
  }

  /** Top-k session paths: events sessionize per user on an idle gap
    * (`gapUs` — a new session starts when the user's inter-event silence
    * exceeds it), each session becomes the `maxLen`-prefix of its
    * event-type sequence joined by `>`, and the most common paths are
    * reported with their session counts. The sequence-mining view of a
    * clickstream ("view>click>purchase happened 3 1k times") that
    * transition counts ([[transitionCounts]]) marginalize away.
    *
    * Determinism: events order by `(ts µs, event id)` — a total order both
    * engines agree on; the final top-k orders by `(sessions DESC, path)`.
    * The path aggregate sorts collected `(t_us, id, type)` structs with
    * `sort_array` (a `collect_list` alone has nondeterministic
    * accumulation order), so the prefix is exact.
    *
    * Scale shape: ONE corpus exchange. The session-boundary window
    * partitions on `user`; the per-session rollup groups on
    * `(user, session)`, which hash-on-`user` already clusters (Spark's
    * subset rule — no second exchange); path counting then aggregates a
    * keyspace bounded by |distinct paths| (≤ types^maxLen, data-small),
    * and the top-k is a `TakeOrderedAndProject` — k rows to the driver,
    * never a global sort. The `maxLen` prefix caps per-session state; a
    * pathological always-active user costs one long array in one task,
    * bounded by the session cap, not the corpus.
    */
  def sessionPaths(events: DataFrame, gapUs: Long = 30L * 60 * 1000000,
                   maxLen: Int = 5, k: Int = 20, tsCol: String = "ts",
                   userCol: String = "user_id", typeCol: String = "event_type",
                   idCol: String = "event_id"): DataFrame =
    sessionTypeSeqs(events, gapUs, tsCol, userCol, typeCol, idCol)
      .select(concat_ws(">", slice(col("types"), 1, maxLen)).as("path"))
      .groupBy("path").agg(count(lit(1)).as("sessions"))
      .orderBy(col("sessions").desc, col("path"))
      .limit(k)

  /** One row per (user, session): the session's event types in `(ts µs,
    * event id)` order. Shared by [[sessionPaths]] and [[sessionNgrams]] —
    * one corpus exchange, the (user, session) rollup reusing the user-key
    * partitioning (subset rule).
    */
  private def sessionTypeSeqs(events: DataFrame, gapUs: Long, tsCol: String,
                              userCol: String, typeCol: String,
                              idCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col("t_us"), col(idCol))
    val run = Window.partitionBy(col(userCol)).orderBy(col("t_us"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col(userCol), col(idCol), col(typeCol).as("etype"),
        unix_micros(col(tsCol)).as("t_us"))
      .withColumn("new_session",
        when(col("t_us") - lag(col("t_us"), 1).over(w) <= gapUs, lit(0L))
          .otherwise(lit(1L))) // first event: lag NULL → comparison NULL → 1
      .withColumn("session", sum(col("new_session")).over(run))
      .groupBy(col(userCol), col("session"))
      .agg(sort_array(collect_list(struct(col("t_us"), col(idCol).as("id"),
        col("etype")))).as("evs"))
      .select(col(userCol), col("session"),
        transform(col("evs"), e => e("etype")).as("types"))
  }

  /** Top-k contiguous event-type n-grams across sessions — PrefixSpan's
    * contiguous special case, the sequential-pattern generalization of
    * [[transitionCounts]] (n = 2 over a session's interior) and
    * [[sessionPaths]] (the prefix n-gram only): every length-`n` window of
    * every session sequence, counted across the corpus, with per-gram
    * session support (distinct sessions containing it) alongside the raw
    * occurrence count. Deterministic total order `(occurrences DESC,
    * gram)` before the limit.
    *
    * Scale shape: sessionization is the shared ONE-exchange pass; the
    * window fan-out is a narrow per-row `transform` + explode (≤ session
    * length rows each, payload = n type names), and the gram aggregate's
    * keyspace is ≤ types^n. Support dedups (gram, user, session) FIRST —
    * hash on the gram key, partial-agg friendly — never a corpus-wide
    * DISTINCT over raw windows.
    */
  def sessionNgrams(events: DataFrame, n: Int = 3, k: Int = 20,
                    gapUs: Long = 30L * 60 * 1000000, tsCol: String = "ts",
                    userCol: String = "user_id",
                    typeCol: String = "event_type",
                    idCol: String = "event_id"): DataFrame = {
    require(n >= 1, "n must be >= 1")
    // no session arrays: the gram at event e is e's type concatenated
    // with the next n−1 types from the SAME window sort (lead chain), and
    // it is valid iff event e+n−1 is still in e's session. All leads ride
    // the one user-key sort the sessionization already pays — no
    // collect_list materialization, no explode (the array formulation
    // spent its time building 95k one-event session arrays at sf0.1:
    // 6.6 → 1.7 s). Occurrences = Σ per-session counts and support = row
    // count come from one two-level gram-keyed aggregate.
    val w = Window.partitionBy(col(userCol)).orderBy(col("t_us"), col(idCol))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gramCols = (0 until n).map {
      case 0 => col("etype")
      case i => lead(col("etype"), i).over(w)
    }
    val sameSession =
      if (n == 1) lit(true)
      else lead(col("session"), n - 1).over(w) === col("session")
    events
      .select(col(userCol), col(idCol), col(typeCol).as("etype"),
        unix_micros(col(tsCol)).as("t_us"))
      .withColumn("new_session",
        when(col("t_us") - lag(col("t_us"), 1).over(w) <= gapUs, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("session", sum(col("new_session")).over(run))
      .withColumn("gram",
        when(sameSession, concat_ws(">", gramCols: _*)))
      .filter(col("gram").isNotNull)
      .groupBy(col("gram"), col(userCol), col("session"))
      .agg(count(lit(1)).as("in_session"))
      .groupBy("gram")
      .agg(sum("in_session").as("occurrences"), count(lit(1)).as("sessions"))
      .orderBy(col("occurrences").desc, col("gram"))
      .limit(k)
  }

  /** Time-to-convert histogram: for every user who completes the strict
    * funnel, the lag from their stage-0 time to their (chained) final
    * stage time, bucketed into whole hours (`floor(µs / 3600·10⁶)` —
    * integer floor division, engine-exact) and counted. The latency view
    * of [[funnel]]'s volume view: "how long does view→purchase take",
    * the input to conversion-window and attribution-horizon choices.
    *
    * Scale shape: inherits [[stageTimes]]'s per-stage filtered scans and
    * user-key shuffles (state = one row per surviving user); the final
    * histogram is a ≤ |distinct lags| aggregate over the deepest-stage
    * survivors only.
    */
  def conversionLagHistogram(events: DataFrame, stages: Seq[String],
                             tsCol: String = "ts",
                             userCol: String = "user_id",
                             typeCol: String = "event_type"): DataFrame = {
    require(stages.size >= 2, "a conversion lag needs at least two stages")
    val times = stageTimes(events, stages, tsCol, userCol, typeCol)
    val first = times.head.select(col(userCol), col("t").as("t0"))
    val last = times.last.select(col(userCol), col("t").as("t1"))
    last.join(first, userCol)
      .select((unix_micros(col("t1")) - unix_micros(col("t0"))).as("lag_us"))
      .select(expr("lag_us div 3600000000").as("lag_hours"))
      .groupBy("lag_hours").agg(count(lit(1)).as("users"))
  }

  /** EXACT rolling active users: for every day in the stream's span, the
    * count of distinct users active in the trailing `windowDays` window
    * ([d − windowDays + 1, d]) — the WAU/MAU dashboard series. Exact
    * where the sketch path ([[graft.ext.Sketch]] KMV/HLL registers)
    * estimates: a COUNT-DISTINCT-over-sliding-window has no partial
    * aggregate, so the trick is the bounded CONTRIBUTION fan-out — each
    * (user, active day) row contributes to exactly `windowDays` window
    * days, turning the windowed distinct into a plain (day, user) dedup +
    * count. Days inside the span with no active window are absent (the
    * consumer's gap-fill concern, as with q73).
    *
    * Scale: one user-day dedup (corpus exchange), a ×windowDays narrow
    * fan-out, then one (day, user) dedup+count whose map-side combine
    * collapses the fan-out before the wire. At 365-day windows prefer the
    * KMV register path — the fan-out trades at windowDays ≈ sketch error
    * tolerance.
    */
  def rollingActiveUsers(events: DataFrame, windowDays: Int = 7,
                         tsCol: String = "ts",
                         userCol: String = "user_id"): DataFrame =
    rollingActiveFromUserDays(
      events.select(col(userCol).as("u"), to_date(col(tsCol)).as("day"))
        .dropDuplicates("u", "day"),
      windowDays)

  /** The WAU readout over an already-deduped (u, day) activity relation —
    * the SHARED code path between the batch operator above and the
    * stream-fed twin ([[graft.streaming.Streams.userDaysDaily]] emits
    * exactly this relation from its closed daily windows), so both modes
    * run identical fan-out + count arithmetic against one oracle.
    * `to_date(max ts)` = `max day`, so deriving the span cap from the
    * activity relation itself is exact.
    */
  def rollingActiveFromUserDays(userDays: DataFrame,
                                windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val maxDay = userDays.agg(max(col("day")).as("__max_day"))
    userDays
      .select(col("u"), explode(sequence(col("day"),
        date_add(col("day"), windowDays - 1))).as("wday"))
      .crossJoin(broadcast(maxDay))
      .filter(col("wday") <= col("__max_day"))
      .groupBy(col("wday").as("day"))
      .agg(count_distinct(col("u")).as("active_users"))
  }

  /** Cohort LTV curves: users cohorted by FIRST-purchase ISO week, each
    * cohort's per-week purchase cents and the running cumulative — the
    * growth team's lifetime-value triangle. Two aggregates (user first
    * week, then cohort×week cents) and one window over the cohort×week
    * KEYSPACE; facts shuffle once on the user key and once on the cohort
    * grid, never through a window.
    */
  def cohortLtv(events: DataFrame, convType: String = "purchase",
                tsCol: String = "ts", userCol: String = "user_id",
                valueCol: String = "value"): DataFrame = {
    val p = events.filter(col("event_type") === convType)
      .select(col(userCol).as("u"),
        date_trunc("week", col(tsCol)).cast("date").as("week"),
        expr(s"cast(round($valueCol * 100) as bigint)").as("cents"))
    val cohorts = p.groupBy("u").agg(min("week").as("cohort_week"))
    val weekly = p.join(cohorts, "u")
      .groupBy("cohort_week", "week")
      .agg(sum("cents").as("week_cents"))
      .withColumn("weeks_since",
        (datediff(col("week"), col("cohort_week")) / 7).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cohort_week").orderBy("weeks_since")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    weekly.select(col("cohort_week"), col("weeks_since"), col("week_cents"),
      sum("week_cents").over(w).as("cum_cents"))
  }

  /** Cohort retention matrix: users are cohorted by their first active
    * day; each (cohort_day, day_offset) cell counts the cohort's users
    * active exactly `day_offset` days after first touch, with the
    * retention rate (active ÷ cohort size, exact integer division rounded
    * to 6 decimals). Offset 0 rows equal the cohort sizes by construction
    * — a free self-consistency check the spec asserts.
    *
    * Scale shape: ONE corpus exchange. Events repartition on user, the
    * (user, day) dedup then needs no exchange of its own (hash on `user`
    * already clusters `(user, day)` — Spark's subset rule), and the
    * cohort day is a `min` window over the SAME user partitioning (sort
    * within partitions, no exchange) instead of a groupBy + self-join,
    * which the 10× probe showed re-shuffling the corpus a second time
    * (0.78 → 14.1 s, 18×). Everything after is keyspace-sized: the
    * matrix aggregate's keyspace is days² at worst, and cohort sizes
    * come from the one first-day row each user already carries
    * (day == cohort_day), broadcast back onto the matrix.
    */
  def retentionCohorts(events: DataFrame, tsCol: String = "ts",
                       userCol: String = "user_id"): DataFrame = {
    val perUser = org.apache.spark.sql.expressions.Window.partitionBy(col(userCol))
    val activity = events
      .select(col(userCol), to_date(col(tsCol)).as("day"))
      .repartition(col(userCol))
      .dropDuplicates(userCol, "day")
      .withColumn("cohort_day", min(col("day")).over(perUser))
    val sizes = activity.filter(col("day") === col("cohort_day"))
      .groupBy("cohort_day").agg(count(lit(1)).as("cohort_n"))
    activity
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("active_n"))
      .join(broadcast(sizes), "cohort_day")
      .withColumn("retention",
        round(col("active_n").cast("double") / col("cohort_n").cast("double"), 6))
      .select(col("cohort_day"), col("day_offset"), col("active_n"),
        col("cohort_n"), col("retention"))
  }

  /** Duplicate-event detection (idempotency-violation audit): pairs of
    * events from the same user and type within `toleranceUs` of each
    * other — the signature of a double-fired webhook or a client retry;
    * `matchCents = true` additionally requires identical integer cents
    * (the strict payment-dedup identity). Equi-join on the (user, type)
    * identity with the time bound and cents match as residuals, so
    * candidate fan-in is per-identity, never a global time-window cross
    * product (a user's per-type event count bounds it; for a pathological
    * hot identity, pre-bucket `us div tolerance` into the key — the q42
    * chunking). Each pair emits once (id_a < id_b); both sides' cents
    * ride along as audit evidence.
    */
  def duplicateEvents(events: DataFrame, toleranceUs: Long = 60L * 1000000,
                      matchCents: Boolean = false,
                      tsCol: String = "ts", userCol: String = "user_id",
                      typeCol: String = "event_type",
                      valueCol: String = "value"): DataFrame = {
    val e = events.select(
      col(userCol).as("u"), col(typeCol).as("t"),
      expr(s"cast(round($valueCol * 100) as bigint)").as("cents"),
      unix_micros(col(tsCol)).as("us"), col("event_id"))
    val a = e.select(col("u"), col("t"), col("cents").as("cents_a"),
      col("us").as("us_a"), col("event_id").as("id_a"))
    val b = e.select(col("u"), col("t"), col("cents").as("cents_b"),
      col("us").as("us_b"), col("event_id").as("id_b"))
    a.join(b, Seq("u", "t"))
      .filter(col("id_a") < col("id_b")
        && abs(col("us_a") - col("us_b")) <= toleranceUs
        && (if (matchCents) col("cents_a") === col("cents_b") else lit(true)))
      .select(col("u").as("user_id"), col("t").as("event_type"),
        col("cents_a"), col("cents_b"), col("id_a"), col("id_b"),
        abs(col("us_a") - col("us_b")).as("gap_us"))
  }

  /** Per-user gap sessions via Spark's NATIVE `session_window` — the
    * declarative sibling of [[graft.streaming.Streams.sessionize]] (which
    * carries custom per-session state through `flatMapGroupsWithState`).
    * When all a pipeline needs is per-session aggregates, this form wins:
    * it stays inside whole-stage codegen, plans as ONE user-key exchange
    * followed by Spark's session-merging aggregate (no JVM closure, no
    * Encoder round-trip), and the IDENTICAL expression runs under
    * `readStream` with a watermark (session state evicted once the
    * watermark passes a session's end — bounded, like the tumbling q20
    * path). Session semantics: a window starting exactly at the previous
    * window's end still MERGES (inclusive boundary — pinned by
    * SessionWindowSpec); only a gap strictly greater than `gap` splits.
    *
    * Output: (user_id, session_start, session_end = last event + gap,
    * n_events, n_types). 100 TB: one shuffle on the user key; per-session
    * rows only (never the event rows) leave the aggregate.
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     tsCol: String = "ts", userCol: String = "user_id",
                     typeCol: String = "event_type"): DataFrame =
    events
      .groupBy(col(userCol), session_window(col(tsCol), gap))
      // size(collect_set) not count_distinct: identical value, but legal
      // in a STREAMING aggregation (Spark rejects distinct aggregates on
      // streams; a set of event types is tiny, so the state cost is nil)
      .agg(count(lit(1)).as("n_events"),
        size(collect_set(col(typeCol))).cast("long").as("n_types"))
      .select(col(userCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("n_types"))

  /** First-order MARKOV removal-effect attribution (the Anderl et al.
    * graph-based model): each user's journey is the event-type path up to
    * the first `convType` (absorbed into `__conv`) or its end (absorbed
    * into `__null`); transition probabilities are exact integer ppm
    * (`cnt·scale div out`); the chain's conversion probability is read by
    * `rounds` synchronous value-iteration sweeps
    * (`p(s) ← Σ t_ppm·p(dst) div scale`, absorbers pinned), and channel
    * c's REMOVAL EFFECT re-runs the same iteration on the chain with all
    * transitions INTO c dropped (journeys through c fail — the standard
    * no-renormalization semantics). Removing a channel can only drop
    * probability mass, so `removal_ppm ≥ 0` by construction.
    *
    * All variants (base + one per removed channel) iterate TOGETHER as
    * one (variant, state) relation — channels+1 chains for the price of
    * one plan. Scale shape: one per-user window pass over facts builds
    * transitions; everything after is (types² × channels)-keyspace
    * arithmetic — at 100 TB the fact pass dominates and the iteration is
    * free.
    */
  def markovAttribution(events: DataFrame, convType: String = "purchase",
                        rounds: Int = 12, scale: Long = 1000000L): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val seq0 = events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("rn", row_number().over(w))
    val firstConv = seq0.filter(col("event_type") === convType)
      .groupBy("user_id").agg(min("rn").as("cv"))
    // journeys truncated at first conversion; lag runs AFTER the truncate
    // (the kept set is a per-user prefix, so lag = the previous event)
    // NOTE (optimization round): fusing cv in as a whole-partition min
    // window over the same user partitioning measured 1.13× SLOWER than
    // this agg+join spelling — the unbounded-frame window buffers whole
    // partitions, while the aggregate is map-side combined and the join
    // reuses the window's exchange
    val w2 = Window.partitionBy("user_id").orderBy(col("rn"))
    val j = seq0.join(firstConv, Seq("user_id"), "left")
      .filter(col("cv").isNull || col("rn") <= col("cv"))
      .withColumn("src", coalesce(lag(col("event_type"), 1).over(w2),
        lit("__start")))
      .withColumn("dst", when(col("event_type") === convType, lit("__conv"))
        .otherwise(col("event_type")))
      .pin() // one-shot: feeds transitions AND the null-end rows
    val ends = j.filter(col("cv").isNull)
      .groupBy("user_id")
      .agg(max(struct(col("rn"), col("dst"))).as("m"))
      .select(col("m.dst").as("src"), lit("__null").as("dst"))
    val trans = j.select("src", "dst").unionAll(ends)
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
    val tppm = trans
      .join(trans.groupBy("src").agg(sum("cnt").as("out")), "src")
      .select(col("src"), col("dst"), expr(s"cnt * $scale div out").as("t_ppm"))
      .pin() // one-shot: variant cross AND base chain share it
    val spark = events.sparkSession
    val variants = tppm.select(col("src").as("removed"))
      .filter(col("removed") =!= "__start").distinct()
      .unionByName(spark.range(1).select(lit("__none").as("removed")))
    // dropping every transition INTO the removed channel is the whole
    // removal semantics — mass flows to failure implicitly
    val tv = tppm.crossJoin(variants)
      .filter(col("dst") =!= col("removed"))
      .pin() // one-shot: every chain round re-joins this fixed relation
    var p = tv.select(col("removed"), col("src").as("st"), lit(0L).as("p"))
      .distinct()
    for (_ <- 1 to rounds) {
      val prev = p
      p = tv.join(p.select(col("removed"), col("st").as("dst"), col("p")),
          Seq("removed", "dst"), "left")
        .select(col("removed"), col("src"),
          (col("t_ppm") * when(col("dst") === "__conv", lit(scale))
            .otherwise(coalesce(col("p"), lit(0L)))).as("term"))
        .groupBy(col("removed"), col("src"))
        .agg(expr(s"sum(term) div $scale").as("p"))
        .withColumnRenamed("src", "st")
        .pin() // per-round state: reliable under spark.checkpoint.dir
      Pin.release(prev) // no-op on the uncached seed
    }
    val start = p.filter(col("st") === "__start")
    val base = start.filter(col("removed") === "__none")
      .select(col("p").as("p_base_ppm"))
    // left join from the variant list: a channel that was start's ONLY
    // outlet leaves no start row in its variant — that reads as P = 0
    // (every journey dies), not as a missing channel
    variants.filter(col("removed") =!= "__none")
      .join(start.select(col("removed"), col("p")), Seq("removed"), "left")
      .select(col("removed").as("channel"),
        coalesce(col("p"), lit(0L)).as("p_removed_ppm"))
      .crossJoin(broadcast(base))
      .select(col("channel"), col("p_base_ppm"), col("p_removed_ppm"),
        expr(s"(p_base_ppm - p_removed_ppm) * $scale" +
          " div greatest(p_base_ppm, 1L)").as("removal_ppm"))
  }
}
