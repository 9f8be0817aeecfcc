package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.ext.Pin.PinOps

/** Time-series shaping over event streams — the resample/regularize step a
  * metrics or training-data pipeline runs before windowed models: an event
  * table is sparse in time (hours with no events simply have no rows), but
  * downstream consumers (rate alerting, seasonality models, per-hour
  * training shards) need a DENSE grid with explicit zeros.
  *
  * Scale design: the fact table is touched exactly twice, both times as a
  * full-scan aggregate (the per-(key, hour) counts and the 2-row global
  * bound) — the dense grid itself is built from the AGGREGATES, never by
  * expanding fact rows. Grid size is keys × hours (a year is 8.8k hours;
  * even 10⁶ keys is a ~10¹⁰-row logical grid that stays a cheap
  * broadcast-able cross of two tiny relations until the final left join,
  * which shuffles on the same (key, hour) key the count agg already
  * produced).
  */
object TimeSeries {

  /** Epoch hour (BIGINT) of the timestamp column or SQL expression `ts`:
    * the one hour bucketing of every h-keyed grid and count in this file.
    */
  private def hourOf(ts: String): Column = expr(s"unix_micros($ts) div 3600000000")

  /** Per-group exact OLS trend (slope + intercept of y over x) from the
    * closed-form normal equations, computed ENTIRELY in integer sums:
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²),
    * intercept = (Σy − slope·Σx) / n.
    * With integral x and y, every Σ is one exact BIGINT aggregate with
    * map-side partial combine — one shuffle on the group key, state O(1)
    * per group, no second pass, no window. The float boundary exists only
    * at the final division, where both engines divide the IDENTICAL
    * integers (IEEE double, then 6-decimal round) — so the trend is
    * reproducible cross-engine, unlike a naive avg/covar_samp float
    * accumulation whose result depends on partitioning order.
    *
    * Degenerate groups (n = 1, or all x equal → zero denominator) emit
    * NULL slope/intercept rather than a division error.
    *
    * The sums and cross terms run in DECIMAL(38,0) (DuckDB: HUGEINT) —
    * `n·Σxy` for day-index × money-unit data reaches ~10²¹, past BIGINT;
    * 128-bit integers keep every term exact to ~10³⁸ — and the 6-decimal
    * rounding itself is INTEGER half-away division to micro units
    * (`±(2·10⁶·|num| + den) div (2·den)`, den > 0 by construction), so no
    * engine ever rounds a float: the only doubles are exact micro counts
    * divided by the exactly-representable 10⁶. (A first cut used
    * `round(num/den, 6)` on doubles — Spark rounds the binary value via
    * BigDecimal HALF_UP, DuckDB via `nearbyint(x·10⁶)/10⁶`, and the two
    * disagree on boundary values: OK-approx, not OK-exact, at sf0.1.)
    */
  def groupTrend(df: DataFrame, groupCols: Seq[String], xCol: String,
                 yCol: String): DataFrame = {
    val x = col(xCol).cast("decimal(19,0)")
    val y = col(yCol).cast("decimal(19,0)")
    val agg = df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum((x * y).cast("decimal(38,0)")).as("sxy"),
      sum((x * x).cast("decimal(38,0)")).as("sxx"))
    val nD = col("n").cast("decimal(19,0)")
    // den > 0 for any non-degenerate group (n·Σx² − (Σx)² is n² times the
    // x variance); degenerate groups short-circuit to NULL
    val den = (nD * col("sxx") - col("sx") * col("sx")).cast("decimal(38,0)")
    val num = (nD * col("sxy") - col("sx") * col("sy")).cast("decimal(38,0)")
    // half-away-from-zero rounding to micros via INTEGRAL division
    // (`div` = truncate-toward-zero; operands non-negative here):
    // round(|a|/b · 10⁶) = (2·10⁶·|a| + b) div (2·b), sign reapplied
    agg
      .withColumn("__den", den)
      .withColumn("__snum", num)
      .withColumn("__sq",
        when(col("__den") > 0,
          expr("(abs(__snum) * 2000000 + __den) div (__den * 2)")))
      .withColumn("__slope_u",
        when(col("__snum") < 0, -col("__sq")).otherwise(col("__sq")))
      // intercept = (Σy − slope·Σx)/n with the ROUNDED slope, in micros:
      // round((10⁶·Σy − slope_micros·Σx) / n) — same half-away division
      .withColumn("__inum",
        (col("sy") * 1000000 - col("__slope_u").cast("decimal(19,0)") * col("sx"))
          .cast("decimal(38,0)"))
      .withColumn("__iq",
        when(col("__slope_u").isNotNull,
          expr("(abs(__inum) * 2 + n) div (n * 2)")))
      .withColumn("__int_u",
        when(col("__inum") < 0, -col("__iq")).otherwise(col("__iq")))
      .withColumn("slope", col("__slope_u").cast("double") / 1e6)
      .withColumn("intercept", col("__int_u").cast("double") / 1e6)
      .select(groupCols.map(col) :+ col("n") :+ col("slope") :+ col("intercept"): _*)
  }

  /** Exact per-group POPULATION variance of an integral column, in ppm of
    * the unit²: `(n·Σx² − (Σx)²) · 10⁶ div n²` — the [[groupTrend]]
    * moment family with one variable. All sums are exact DECIMAL(38,0)
    * partial aggregates (ONE group-key exchange, O(1) state); the
    * numerator is provably ≥ 0 (n² times the variance), so truncating
    * `div` is engine-portable. Spark's own `var_pop` is float-summed and
    * order-dependent — unusable under an exact-hash oracle.
    */
  def groupVariance(df: DataFrame, groupCols: Seq[String],
                    xCol: String): DataFrame = {
    val x = col(xCol).cast("decimal(19,0)")
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(x).as("sx"),
        sum((x * x).cast("decimal(38,0)")).as("sxx"))
      .withColumn("var_ppm",
        expr("""cast((cast(n as decimal(19,0)) * sxx - sx * sx) * 1000000
                div (cast(n as decimal(38,0)) * n) as long)"""))
      .select(groupCols.map(col) :+ col("n") :+ col("var_ppm"): _*)
  }

  /** Per-group Pearson correlation of one x column against several y
    * columns, from the same one-pass integer second-moment family as
    * [[groupTrend]]: every Σ (x, y, x², y², xy) is an exact DECIMAL(38,0)
    * aggregate with map-side partial combine — ONE shuffle on the group
    * key, O(1) state per group, all y-correlations from the same pass.
    * Inputs must be integral (units/cents/basis points — the money rule);
    * the float boundary is the final r = num/(√denx·√deny), where both
    * engines divide/sqrt the IDENTICAL exact integers (the √ makes the
    * quotient irrational, so the 6-decimal round has no half-way boundary
    * the way a pure integer ratio does — the [[groupTrend]] hazard).
    *
    * Degenerate groups (either variance zero) emit NULL r rather than a
    * division error.
    */
  def groupCorr(df: DataFrame, groupCols: Seq[String], xCol: String,
                yCols: Seq[String]): DataFrame = {
    require(yCols.nonEmpty, "groupCorr needs at least one y column")
    val x = col(xCol).cast("decimal(19,0)")
    val aggs = Seq(count(lit(1)).as("n"), sum(x).as("sx"),
      sum((x * x).cast("decimal(38,0)")).as("sxx")) ++
      yCols.zipWithIndex.flatMap { case (yc, i) =>
        val y = col(yc).cast("decimal(19,0)")
        Seq(sum(y).as(s"__sy$i"),
          sum((y * y).cast("decimal(38,0)")).as(s"__syy$i"),
          sum((x * y).cast("decimal(38,0)")).as(s"__sxy$i"))
      }
    val agg = df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val nD = col("n").cast("decimal(19,0)")
    val denx = (nD * col("sxx") - col("sx") * col("sx")).cast("decimal(38,0)")
    val withR = yCols.zipWithIndex.foldLeft(agg.withColumn("__denx", denx)) {
      case (d, (yc, i)) =>
        val deny = (nD * col(s"__syy$i") - col(s"__sy$i") * col(s"__sy$i"))
          .cast("decimal(38,0)")
        val num = (nD * col(s"__sxy$i") - col("sx") * col(s"__sy$i"))
          .cast("decimal(38,0)")
        d.withColumn(s"corr_$yc",
          when(col("__denx") > 0 && deny > 0,
            round(num.cast("double") /
              (sqrt(col("__denx").cast("double")) * sqrt(deny.cast("double"))), 6)))
    }
    withR.select(groupCols.map(col) ++ (col("n") +:
      yCols.map(yc => col(s"corr_$yc"))): _*)
  }

  /** Dense per-key hourly event counts over the corpus's global
    * [min, max] hour span, gaps explicit as `n_events = 0`.
    *
    * Output: (`keyCol`, hour timestamp, n_events long).
    *
    * The hour spine comes from `sequence(h0, h1, 1 hour)` on the 1-row
    * bounds aggregate — one array, exploded; fine up to decades of hours
    * (Spark caps sequences at ~2³¹ elements long before memory does).
    */
  def gapFillHourly(events: DataFrame, tsCol: String = "ts",
                    keyCol: String = "event_type"): DataFrame = {
    val hourly = events
      .groupBy(col(keyCol), date_trunc("hour", col(tsCol)).as("hour"))
      .agg(count(lit(1)).as("n_events"))
    grid(events, tsCol, keyCol)
      .join(hourly, Seq(keyCol, "hour"), "left")
      .na.fill(0, Seq("n_events"))
  }

  /** [[gapFillHourly]] from PRE-AGGREGATED per-key hourly counts — the
    * streaming emitters' closed-window (hour, key, c) rows
    * ([[graft.streaming.Streams.decayedCountsHourly]]) — instead of raw
    * facts: dense (keyCol, hour, n_events) over the observed global hour
    * span, gaps explicit as 0, summing duplicate (key, hour) rows. Feeds
    * any grid consumer ([[cusumScreen]], [[rateAnomalies]], ...) so a
    * per-window monitor can run stream-fed with results identical to the
    * batch path over the same events.
    */
  def gapFillFromCounts(counts: DataFrame, keyCol: String = "key",
                        hourCol: String = "hour",
                        cCol: String = "c"): DataFrame = {
    val byKH = counts
      .select(col(keyCol), col(hourCol).as("hour"), col(cCol).cast("long").as("c0"))
      .groupBy(col(keyCol), col("hour")).agg(sum("c0").as("n_events"))
      .pin() // one-shot: feeds bounds, the key set, and the grid join
    val bounds = byKH.agg(min("hour").as("h0"), max("hour").as("h1"))
    val hours = bounds.select(
      explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour"))
    byKH.select(col(keyCol)).distinct().crossJoin(hours)
      .join(byKH, Seq(keyCol, "hour"), "left")
      .na.fill(0, Seq("n_events"))
  }

  /** Dense keys × hours frame from two tiny aggregates (distinct keys,
    * exploded global hour spine) — broadcast material, never fact rows.
    */
  private def grid(events: DataFrame, tsCol: String, keyCol: String): DataFrame = {
    val bounds = events.agg(
      date_trunc("hour", min(col(tsCol))).as("h0"),
      date_trunc("hour", max(col(tsCol))).as("h1"))
    val hours = bounds.select(
      explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour"))
    events.select(col(keyCol)).distinct().crossJoin(hours)
  }

  /** The [[rateAnomalies]] z-test as plain Scala, shared with the
    * streaming twin ([[graft.streaming.Streams.rateAnomalyState]]) so the
    * two cannot drift: same cross-multiplied integers, same flag.
    */
  private[graft] def zFlag(prior: Seq[Long], x: Long, minPrior: Int,
                           z: Int): Option[String] =
    zFlagMoments(prior.size.toLong, prior.sum, prior.map(v => v * v).sum,
      x, minPrior, z)

  /** The cross-multiplied z-test from running moments (m = samples,
    * s = Σx, q = Σx²) — the O(1)-state form the streaming seasonal
    * detector keeps per slot; [[zFlag]] reduces its sample list to the
    * same three numbers, so the two callers cannot drift.
    */
  private[graft] def zFlagMoments(m: Long, s: Long, q: Long, x: Long,
                                  minPrior: Int, z: Int): Option[String] = {
    if (m < minPrior) None
    else {
      val dev = m * x - s
      if ((m - 1) * dev * dev > z.toLong * z * m * (m * q - s * s))
        Some(if (dev < 0) "dip" else "spike")
      else None
    }
  }

  /** Trailing-window rate anomalies on the dense hourly grid: an hour is
    * flagged when its count deviates from the preceding `lookback` hours'
    * mean by more than `z` sample standard deviations — evaluated
    * INTEGER-EXACTLY by cross-multiplying the z-test:
    * (x − S/m)² > z²·(mQ − S²)/(m(m−1))  ⟺  (m−1)·(mx − S)² > z²·m·(mQ − S²),
    * with m = window rows, S = Σx, Q = Σx². No float, no sqrt, no
    * rounding boundary — the flag is bit-identical in any engine. Running
    * over the GAP-FILLED grid means silent hours count as 0 (a dead
    * stream is a dip anomaly, which is exactly the alert a rate monitor
    * exists for). Warm-up hours with fewer than `minPrior` prior rows are
    * not judged.
    *
    * Scale shape: the window runs over the AGGREGATED grid (keys × hours
    * rows, partitioned by key) — never over fact rows; the fact table is
    * touched only by [[gapFillHourly]]'s two scan-aggregates.
    */
  def rateAnomalies(events: DataFrame, tsCol: String = "ts",
                    keyCol: String = "event_type", lookback: Int = 24,
                    minPrior: Int = 12, z: Int = 3): DataFrame =
    rateAnomaliesFromGrid(gapFillHourly(events, tsCol, keyCol), keyCol,
      lookback, minPrior, z)

  /** [[rateAnomalies]] fed by PRE-AGGREGATED per-key hourly counts (the
    * [[graft.streaming.Streams.decayedCountsHourly]] emitter's closed
    * windows) — [[gapFillFromCounts]] densifies, then the IDENTICAL
    * integer z-test runs, so the continuous monitor equals the batch one
    * row for row. Batch twin (oracle-verified): q137 / q335.
    */
  def rateAnomaliesFromCounts(counts: DataFrame, keyCol: String = "key",
                              hourCol: String = "hour", cCol: String = "c",
                              lookback: Int = 24, minPrior: Int = 12,
                              z: Int = 3): DataFrame =
    rateAnomaliesFromGrid(gapFillFromCounts(counts, keyCol, hourCol, cCol),
      keyCol, lookback, minPrior, z)

  private def rateAnomaliesFromGrid(grid: DataFrame, keyCol: String,
                                    lookback: Int, minPrior: Int,
                                    z: Int): DataFrame =
    zTestOnGrid(grid, keyCol,
      Window.partitionBy(keyCol).orderBy("hour").rowsBetween(-lookback, -1),
      Nil, "window_n", minPrior, z)

  /** The one body of [[rateAnomalies]] and [[seasonalAnomalies]], which
    * differ only in the baseline window `w` (the trailing `lookback` rows
    * of a key, or every earlier row of the same key and hour-of-week slot)
    * and in the names of their output columns: the running (m, s, q)
    * moments of `n_events` over `w`, then the [[zFlagMoments]] test in
    * Column form. `carry` names grid columns emitted after the count (the
    * seasonal slot); `nName` names the emitted m.
    */
  private def zTestOnGrid(grid: DataFrame, keyCol: String, w: WindowSpec,
                          carry: Seq[String], nName: String, minPrior: Int,
                          z: Int): DataFrame = {
    val x = col("n_events")
    val dev = col("m") * x - col("s")
    grid
      .withColumn("m", count(x).over(w))
      .withColumn("s", sum(x).over(w))
      .withColumn("q", sum(x * x).over(w))
      .filter(col("m") >= minPrior)
      .filter((col("m") - 1) * dev * dev >
        lit(z.toLong * z) * col("m") * (col("m") * col("q") - col("s") * col("s")))
      .select(Seq(col(keyCol), col("hour"), x) ++ carry.map(col) ++ Seq(
        col("m").as(nName),
        when(dev < 0, lit("dip")).otherwise(lit("spike")).as("direction")): _*)
  }

  /** Seasonal-profile rate anomalies: each hour is judged against the
    * SAME hour-of-week slot in prior weeks — the weekly-rhythm complement
    * to [[rateAnomalies]]' trailing window, which flags every Monday
    * ramp-up on a weekday-quiet stream as a spike because its baseline is
    * the quiet weekend. Identical cross-multiplied integer z-test, same
    * gap-filled grid (a silent slot is a 0 sample, so a stream dying on a
    * normally-busy hour flags as dip); the slot is
    * `(epoch_hour mod 168)` — the alignment constant is irrelevant, only
    * slot CONSISTENCY matters. Hours with fewer than `minPrior` prior
    * same-slot samples (≈ weeks of history) are not judged.
    *
    * Scale: one window over the keys×hours grid partitioned by
    * (key, slot) — aggregates, never facts; the fact table is touched
    * only by [[gapFillHourly]]'s two scan-aggregates.
    */
  def seasonalAnomalies(events: DataFrame, tsCol: String = "ts",
                        keyCol: String = "event_type",
                        minPrior: Int = 3, z: Int = 3): DataFrame =
    seasonalAnomaliesFromGrid(gapFillHourly(events, tsCol, keyCol), keyCol,
      minPrior, z)

  /** [[seasonalAnomalies]] fed by PRE-AGGREGATED per-key hourly counts
    * (the [[graft.streaming.Streams.decayedCountsHourly]] emitter's
    * closed windows) — shared gap-fill + same-slot z-test core, so the
    * weekly-rhythm monitor runs off the stored stream identical to the
    * batch path. Batch twin (oracle-verified): q182 / q336.
    */
  def seasonalAnomaliesFromCounts(counts: DataFrame, keyCol: String = "key",
                                  hourCol: String = "hour",
                                  cCol: String = "c",
                                  minPrior: Int = 3, z: Int = 3): DataFrame =
    seasonalAnomaliesFromGrid(gapFillFromCounts(counts, keyCol, hourCol, cCol),
      keyCol, minPrior, z)

  private def seasonalAnomaliesFromGrid(grid: DataFrame, keyCol: String,
                                        minPrior: Int, z: Int): DataFrame =
    zTestOnGrid(grid.withColumn("how", pmod(hourOf("hour"), lit(168L))), keyCol,
      Window.partitionBy(col(keyCol), col("how")).orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, -1),
      Seq("how"), "slot_n", minPrior, z)

  /** Forward fill (last observation carried forward) on the dense hourly
    * grid: per key and hour, the max of `valueCol` observed that hour
    * (`v`, NULL on gap hours) and the last non-null observation at or
    * before it (`v_ff`, NULL only before a key's first observation) — the
    * resample→ffill step that turns sparse sensor/price events into a
    * regular series. `max` per hour keeps the pre-fill aggregate
    * order-independent (bit-exact in any engine, unlike a float sum); the
    * fill itself is one `last(ignoreNulls)` running window per key over
    * the ALREADY-AGGREGATED grid — O(keys × hours) rows, partitioned by
    * key, so the window never sees fact rows and never single-threads.
    */
  def forwardFillHourly(events: DataFrame, tsCol: String = "ts",
                        keyCol: String = "event_type",
                        valueCol: String = "value"): DataFrame = {
    val hourly = events
      .groupBy(col(keyCol), date_trunc("hour", col(tsCol)).as("hour"))
      .agg(max(col(valueCol)).as("v"))
    val w = Window
      .partitionBy(keyCol).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid(events, tsCol, keyCol)
      .join(hourly, Seq(keyCol, "hour"), "left")
      .withColumn("v_ff", last(col("v"), ignoreNulls = true).over(w))
  }

  /** Exponentially-weighted moving average of the hourly event rate —
    * EXACT. The classic smoother (α = `alphaNum`/`alphaDen`) truncated to
    * a `depth`-hour lookback and renormalized, which turns the recursive
    * float definition into a closed FINITE weighted sum:
    *
    *   ewma_t = Σ_{i=0}^{d-1} a·(b−a)^i·b^(d−1−i) · x_{t−i}
    *            ─────────────────────────────────────────── ,  α = a/b
    *                        b^d − (b−a)^d
    *
    * Numerator and denominator are exact BIGINTs (defaults: weights ≤
    * 3·10⁷, so counts up to ~3·10¹⁰/hour fit 2⁶³); the only float op is
    * the final division of those two integers, rounded to 6 decimals —
    * bit-identical in any engine, unlike running-state float EWMA whose
    * result depends on where the stream was cut. Truncation error vs the
    * infinite recursion is (1−α)^d ≈ 5.8 % mass at the defaults, absorbed
    * by the renormalization; rows without a full lookback (the first
    * d−1 grid hours per key) are not emitted rather than silently
    * smoothed over a shorter window.
    *
    * Scale shape: the lag window runs over the gap-filled AGGREGATE grid
    * (keys × hours, partitioned by key) — fact rows are touched only by
    * [[gapFillHourly]]'s scan-aggregates; per-row state is `depth` lags.
    */
  def ewmaHourly(events: DataFrame, tsCol: String = "ts",
                 keyCol: String = "event_type", alphaNum: Int = 3,
                 alphaDen: Int = 10, depth: Int = 8): DataFrame =
    ewmaFromGrid(gapFillHourly(events, tsCol, keyCol), keyCol,
      alphaNum, alphaDen, depth)

  /** [[ewmaHourly]] fed by PRE-AGGREGATED per-key hourly counts (the
    * [[graft.streaming.Streams.decayedCountsHourly]] emitter's closed
    * windows) — shared gap-fill + finite-lag weighted-sum core, so the
    * smoother reads the stored stream with results identical to the
    * batch path. Batch twin (oracle-verified): q142 / q337.
    */
  def ewmaFromCounts(counts: DataFrame, keyCol: String = "key",
                     hourCol: String = "hour", cCol: String = "c",
                     alphaNum: Int = 3, alphaDen: Int = 10,
                     depth: Int = 8): DataFrame =
    ewmaFromGrid(gapFillFromCounts(counts, keyCol, hourCol, cCol), keyCol,
      alphaNum, alphaDen, depth)

  private def ewmaFromGrid(grid: DataFrame, keyCol: String, alphaNum: Int,
                           alphaDen: Int, depth: Int): DataFrame = {
    require(alphaNum > 0 && alphaDen > alphaNum, "need 0 < alpha < 1")
    require(depth >= 1 && math.pow(alphaDen.toDouble, depth) < 1e17,
      "b^depth must stay far below 2^63")
    val w = Window
      .partitionBy(keyCol).orderBy(col("hour"))
    val weights = (0 until depth).map { i =>
      alphaNum.toLong * math.pow(alphaDen - alphaNum, i).toLong *
        math.pow(alphaDen, depth - 1 - i).toLong
    }
    val denom = math.pow(alphaDen, depth).toLong -
      math.pow(alphaDen - alphaNum, depth).toLong
    val num = weights.zipWithIndex.map {
      case (wi, 0) => lit(wi) * col("n_events")
      case (wi, i) => lit(wi) * lag(col("n_events"), i).over(w)
    }.reduce(_ + _)
    grid
      .withColumn("rn", row_number().over(w))
      .withColumn("num", num)
      .filter(col("rn") >= depth)
      .select(col(keyCol), col("hour"), col("n_events"),
        round(col("num").cast("double") / lit(denom.toDouble), 6).as("ewma"))
  }

  /** One-sided CUSUM level-shift screen (Page 1954) over a dense per-key
    * series — the sequential changepoint detector that fires on a
    * SUSTAINED small shift long before any single-point z-test
    * ([[rateAnomalies]] catches spikes; this catches drifts).
    *
    * Calibration is the honest-practice split: the first `trainN` rows
    * per key set the reference `target = ⌊Σx/trainN⌋` and allowance
    * `slack = max(⌊target/slackDiv⌋, 1)`; only the REMAINING rows are
    * monitored. The statistic S_t = max(0, S_{t−1} + x_t − target −
    * slack) is evaluated WITHOUT a sequential loop via the prefix
    * identity S_t = C_t − min(0, min_{j≤t} C_j) with C the running sum
    * of (x − target − slack): two stacked window functions over the
    * aggregated grid, all-integer, bit-identical in any engine. Alarm
    * when S_t > h = slack·hMult (the standard "h sigma-units of slack"
    * control-limit shape, integerized).
    *
    * Output: one row per key — target, slack, n_monitored, n_alarms,
    * first_alarm_hour (epoch-hour BIGINT, −1 when quiet), max_stat.
    *
    * Scale shape: windows run over the keys × hours GRID (never fact
    * rows), partitioned by key — the same posture as [[rateAnomalies]];
    * the closed form is what makes CUSUM distributable at all (the
    * textbook recurrence is an inherently sequential scan).
    */
  def cusumScreen(series: DataFrame, keyCol: String = "event_type",
                  hourCol: String = "hour", xCol: String = "n_events",
                  trainN: Int = 96, slackDiv: Int = 20,
                  hMult: Int = 8): DataFrame = {
    require(trainN >= 1 && slackDiv >= 1 && hMult >= 1, "bad cusum params")
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col(hourCol))
    val rn = series.select(col(keyCol), col(hourCol), col(xCol).cast("long").as("x"))
      .withColumn("rn", row_number().over(byKey))
    val cal = rn.filter(col("rn") <= trainN)
      .groupBy(col(keyCol))
      .agg(expr(s"sum(x) div $trainN").as("target"))
      .withColumn("slack", greatest(expr(s"target div $slackDiv"), lit(1L)))
      .withColumn("h", col("slack") * hMult)
    val mon = rn.filter(col("rn") > trainN)
      .join(broadcast(cal), Seq(keyCol))
      .withColumn("y", col("x") - col("target") - col("slack"))
    val cum = Window.partitionBy(col(keyCol)).orderBy(col(hourCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = mon
      .withColumn("c", sum(col("y")).over(cum))
      .withColumn("runmin", min(col("c")).over(cum))
      .withColumn("s", col("c") - least(col("runmin"), lit(0L)))
      .withColumn("alarm", col("s") > col("h"))
    scored.groupBy(col(keyCol))
      .agg(max(col("target")).as("target"),
        max(col("slack")).as("slack"),
        count(lit(1)).as("n_monitored"),
        sum(when(col("alarm"), 1L).otherwise(0L)).as("n_alarms"),
        coalesce(min(when(col("alarm"),
          hourOf(hourCol))), lit(-1L))
          .as("first_alarm_hour"),
        max(col("s")).as("max_stat"))
  }

  /** EXACT ordinary-least-squares trend of the hourly event-count series
    * — the load-growth line a capacity forecast reads. Closed-form OLS on
    * the zero-gapfilled grid with every moment an integer sum:
    * `slope = (nΣtc − ΣtΣc) / (nΣt² − (Σt)²)`, emitted in ppm (counts
    * per hour, ×10⁶) with the wide products in DECIMAL(38,0); intercept
    * (the t=0 level, ×10⁶) and the fit's R² (×10⁶, from
    * `num² / (den·Syy)`) ride the same device. One fact aggregate, one
    * grid, one 6-sum moment aggregate ([[olsTrend]]) — nothing else. A
    * constant series (Syy = 0) scores slope 0 and R² 0; a one-hour series
    * (den = 0) has no line and scores NULL slope and intercept.
    *
    * Exactness envelope: every moment and moment DIFFERENCE is
    * DECIMAL(38,0) (Σc² alone passes 2⁶³ at ~1e9 events/hour on a
    * multi-year grid — BIGINT would wrap silently). The one remaining
    * bound is the R² numerator `num²·10⁶`, which needs |num| < ~10¹⁵·⁵
    * to stay within 38 digits; past it ANSI mode raises rather than
    * wrapping. slope/intercept have no such bound.
    */
  def trendFit(events: DataFrame, tsCol: String): DataFrame =
    olsTrend(hourlyGrid(events, tsCol), key = None)

  /** Per-key OLS hourly trend — [[trendFit]] fitted independently for
    * every `keyCol` value on the COMMON hourly grid (global [h0, h1], so
    * slopes are comparable across keys and a key absent for an hour
    * counts 0 there): the "which segments are trending, how fast, how
    * well does a line explain it" table. Same closed-form integer
    * moments, DECIMAL(38,0) products, ppm boundaries ([[olsTrend]]); a
    * one-hour grid scores every key NULL slope and intercept.
    *
    * Scale shape: one (key, hour) map-combined aggregate over facts;
    * the gapfilled grid is keys × hours rows (keyspace-sized), and the
    * moment pass is one hash aggregate over it. Nothing iterates.
    */
  def trendFitByKey(events: DataFrame, tsCol: String, keyCol: String): DataFrame =
    olsTrend(gridFromHourCounts(events
      .select(col(keyCol).as("k"), hourOf(tsCol).as("h"))
      .groupBy("k", "h").agg(count(lit(1)).as("c")), Some("k")), key = Some("k"))

  /** The one OLS fit of the file — [[trendFit]], [[trendFitByKey]] and
    * both conformal bands ([[conformalBand]]) differ only in the grid they
    * fit: the 6-moment aggregate over a (t, c) series, grouped by the
    * `key` column when there is one (emitted as `key`), then slope,
    * intercept and R² in ppm (a caller that reads only the line leaves Σc²
    * and R² to column pruning). The moments are DECIMAL(38,0): at the
    * envelope (multi-year grid, ~1e9 events/hour) Σc² alone passes 2^63 —
    * BIGINT would wrap. A one-hour series has den = 0 and no line, so
    * slope and intercept are NULL there (the [[groupTrend]] and
    * [[trendFitSeasonal]] policy) rather than a division error. `r2_ppm`
    * divides by `greatest(den·Syy, 1)` because a series CAN be constant
    * (Syy = 0); the numerator is then provably 0 too, so the guarded
    * division emits the exact 0.
    */
  private def olsTrend(series: DataFrame, key: Option[String]): DataFrame = {
    val keyOut = key.map(k => col(k).as("key")).toSeq
    series.groupBy(key.map(col).toSeq: _*)
      .agg(count(lit(1)).as("n"), sum("t").as("st"), sum("c").as("sc"),
        sum(expr("CAST(t AS DECIMAL(38,0)) * t")).as("stt"),
        sum(expr("CAST(t AS DECIMAL(38,0)) * c")).as("stc"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("scc"))
      .select(keyOut ++ Seq(col("n").as("n_hours"),
        expr("n * stc - CAST(st AS DECIMAL(38,0)) * sc").as("num"),
        expr("n * stt - CAST(st AS DECIMAL(38,0)) * st").as("den"),
        expr("n * scc - CAST(sc AS DECIMAL(38,0)) * sc").as("syy"),
        col("st"), col("sc"), col("stt"), col("stc")): _*)
      .select(keyOut.map(_ => col("key")) ++ Seq(col("n_hours"),
        expr("CASE WHEN den = 0 THEN NULL" +
          " ELSE CAST(num AS DECIMAL(38,0)) * 1000000 div den END").as("slope_ppm"),
        expr("CASE WHEN den = 0 THEN NULL ELSE (CAST(sc AS DECIMAL(38,0)) * stt" +
          " - CAST(st AS DECIMAL(38,0)) * stc) * 1000000 div den END").as("intercept_ppm"),
        expr("CAST(num AS DECIMAL(38,0)) * num * 1000000" +
          " div greatest(CAST(den AS DECIMAL(38,0)) * syy, CAST(1 AS DECIMAL(38,0)))")
          .as("r2_ppm")): _*)
  }

  /** EXACT sample autocorrelation of the hourly event-count series at lags
    * 1..`maxLag` — the seasonality detector (a spike at lag 24 is daily
    * rhythm; a flat ACF says the q142/q182 seasonal models have nothing to
    * model). Integer end to end: the series is the zero-gapfilled hourly
    * grid, deviations are n-scaled (`dev_t = n·c_t − S`, the exact
    * mean-centering that never forms the fractional mean), and
    * `acf_ppm = num_k·10⁶ div den` where `num_k = Σ dev_t·dev_{t+k}`,
    * `den = Σ dev_t²`. Cauchy–Schwarz keeps |acf_ppm| ≤ 10⁶; the one
    * product that can outgrow a long (num·10⁶) runs in DECIMAL(38,0) —
    * the q278 wide-integer device — so the envelope is den < 2⁶³
    * (n_hours³·maxcount² — months of hours at 10⁵ events/hour). A
    * constant series (every hour the same count, so den = 0) has no
    * autocorrelation: `acf_ppm` is NULL at every lag, the policy
    * [[crossCorrelation]]'s `xcf2_ppm` follows.
    *
    * Scale shape: one fact-scan hour aggregate; everything after runs on
    * the hour keyspace (grid join, lag equi-join of keyspace × maxLag
    * rows, two map-combined sums). No windows, no per-row state.
    */
  def acf(events: DataFrame, tsCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val counts = events
      .select(hourOf(tsCol).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
    val bounds = counts.agg(min("h").as("h0"), max("h").as("h1"),
      sum("c").as("s"))
    val series = bounds
      .select(explode(sequence(col("h0"), col("h1"))).as("h"),
        col("h0"), col("s"), (col("h1") - col("h0") + 1L).as("n"))
      .join(counts, Seq("h"), "left")
      .select((col("h") - col("h0")).as("t"),
        (col("n") * coalesce(col("c"), lit(0L)) - col("s")).as("dev"),
        col("n"))
      .pin() // one-shot: referenced by den and both lag-join sides
    val den = series.agg(sum(col("dev") * col("dev")).as("den"),
      max(col("n")).as("n_hours"))
    val lags = series
      .crossJoin(broadcast(
        series.sparkSession.range(1, maxLag + 1).select(col("id").as("lag"))))
      .select((col("t") + col("lag")).as("t"), col("lag"),
        col("dev").as("dev_x"))
    val num = lags.join(series.select(col("t"), col("dev")), Seq("t"))
      .groupBy("lag")
      .agg(sum(col("dev_x") * col("dev")).as("num"))
    num.crossJoin(broadcast(den))
      .select(col("lag"), col("n_hours"),
        expr("CASE WHEN den = 0 THEN NULL" +
          " ELSE CAST(num AS DECIMAL(38,0)) * 1000000 div den END").as("acf_ppm"))
  }

  /** The [[trendFit]] grid: zero-gapfilled hourly counts as
    * (h absolute hour, t = h − h0, c), keyspace-sized.
    */
  private def hourlyGrid(events: DataFrame, tsCol: String): DataFrame =
    gridFromHourCounts(events.select(hourOf(tsCol).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c")))

  /** [[hourlyGrid]] from PRE-AGGREGATED (hour timestamp, c) counts — the
    * stream emitters' closed-window rows — summing duplicate hours (e.g.
    * per-key counts collapsing to the global series).
    */
  private def hourlyGridFromCounts(counts: DataFrame, hourCol: String,
                                   cCol: String): DataFrame =
    gridFromHourCounts(counts
      .select(hourOf(hourCol).as("h"),
        col(cCol).cast("long").as("c0"))
      .groupBy("h").agg(sum("c0").as("c")))

  /** The one zero-filled hour grid of the file: sparse (h, c) counts, or
    * (key, h, c) ones when `key` names a key column, become the dense
    * (key?, h, t = h − h0, c) grid over the global [h0, h1] span, so every
    * key is fitted on the common grid and an absent hour counts 0. Keyed
    * counts are read three times (bounds, key set, grid join), so they
    * are materialized once and the 1-row bounds are broadcast to the key
    * set; the global spine is the bounds row itself.
    */
  private def gridFromHourCounts(hourCounts: DataFrame,
                                 key: Option[String] = None): DataFrame = {
    val counts =
      if (key.isEmpty) hourCounts
      else hourCounts.pin() // one-shot: feeds bounds, the key set, and the grid join
    val bounds = counts.agg(min("h").as("h0"), max("h").as("h1"))
    val keys = key.map(col).toSeq
    key.fold(bounds)(k => counts.select(k).distinct().crossJoin(broadcast(bounds)))
      .select(keys ++ Seq(explode(sequence(col("h0"), col("h1"))).as("h"), col("h0")): _*)
      .join(counts, key.toSeq :+ "h", "left")
      .select(keys ++ Seq(col("h"), (col("h") - col("h0")).as("t"),
        coalesce(col("c"), lit(0L)).as("c")): _*)
  }

  /** Split-conformal prediction band around the [[trendFit]] line — the
    * finite-sample-valid "how far can an hour stray before it's an
    * anomaly" threshold (Vovk et al.'s conformal prediction, public
    * literature). Calibration scores are the exact integer residuals
    * |c·10⁶ − slope_ppm·t − intercept_ppm| against the REPORTED
    * (ppm-floored) line; q̂ is the score at rank
    * ⌈(1−α)(n+1)⌉ (clamped to n), giving P(|resid| ≤ q̂) ≥ 1−α on
    * exchangeable hours. `cover_ppm` reads the empirical coverage back —
    * ≥ (1−α) by construction, a self-check the gate hashes. A one-hour
    * grid has no line: slope, intercept and q̂ read NULL, coverage 0.
    *
    * Scale shape: one fact aggregate → keyspace-sized grid; the rank
    * window sorts only grid hours (never facts). Residual arithmetic in
    * DECIMAL(38,0) — slope_ppm·t alone can pass 2⁶³ on a multi-year
    * grid at 10⁹ events/hour.
    */
  def conformalTrendInterval(events: DataFrame, tsCol: String,
                             alphaPpm: Long = 100000L): DataFrame =
    conformalBand(hourlyGrid(events, tsCol), keyed = false, alphaPpm)

  /** [[conformalTrendInterval]] fed by PRE-AGGREGATED hourly counts —
    * the streaming emitters' sufficient statistic
    * ([[graft.streaming.Streams.decayedCountsHourly]] emits exactly this
    * (hour, key, c) shape per closed window) — instead of raw facts:
    * counts collapse per hour, gap-fill to the observed [min, max] hour
    * span, and run the IDENTICAL fit + calibration code path
    * ([[conformalBand]] is shared, not duplicated), so a stream-fed
    * band equals the batch band over the same events bit-for-bit.
    * Batch twin (oracle-verified): q302_conformal_band / q328.
    */
  def conformalBandFromCounts(counts: DataFrame, hourCol: String = "hour",
                              cCol: String = "c",
                              alphaPpm: Long = 100000L): DataFrame =
    conformalBand(hourlyGridFromCounts(counts, hourCol, cCol), keyed = false,
      alphaPpm)

  /** Per-key [[conformalTrendInterval]] — a SEPARATE split-conformal
    * band around each key's [[trendFitByKey]] line on the common grid:
    * the per-segment "page when this segment's hour strays past q̂"
    * thresholds, each with its own finite-sample guarantee (exchangeable
    * hours within a key). Same exact integer residuals; the rank window
    * partitions by key, so every sort is keyspace-sized. A one-hour grid
    * reads NULL slope, intercept and q̂ for every key.
    */
  def conformalTrendIntervalByKey(events: DataFrame, tsCol: String,
                                  keyCol: String,
                                  alphaPpm: Long = 100000L): DataFrame =
    conformalBand(gridFromHourCounts(events
      .select(col(keyCol).as("key"), hourOf(tsCol).as("h"))
      .groupBy("key", "h").agg(count(lit(1)).as("c")), Some("key")),
      keyed = true, alphaPpm)

  /** [[conformalTrendIntervalByKey]] fed by PRE-AGGREGATED per-key hourly
    * counts (the [[graft.streaming.Streams.decayedCountsHourly]] emitter's
    * (hour, key, c) closed-window rows) instead of raw facts — the
    * identical per-key fit + calibration code path ([[conformalBand]] is
    * shared), so the stream-fed per-segment bands equal the batch bands
    * bit-for-bit. Batch twin (oracle-verified): q322_conformal_by_key / q329.
    */
  def conformalByKeyFromCounts(counts: DataFrame, keyCol: String = "key",
                               hourCol: String = "hour", cCol: String = "c",
                               alphaPpm: Long = 100000L): DataFrame =
    conformalBand(gridFromHourCounts(counts
      .select(col(keyCol).as("key"), hourOf(hourCol).as("h"),
        col(cCol).cast("long").as("c0"))
      .groupBy("key", "h").agg(sum("c0").as("c")), Some("key")),
      keyed = true, alphaPpm)

  /** The one body of the four conformal bands, global and per key, over
    * the dense grid whichever side (facts or emitted counts) built it. The
    * global and the keyed band differ only in their key: with `keyed` the
    * fit, q̂ and the coverage are per `key` (equi-joined on it, rank window
    * partitioned by it); without, the 1-row fit and q̂ are broadcast and
    * the output also reads back the calibration rank `cal_rank`. The fit
    * is [[olsTrend]]'s, so a one-hour grid reads NULL slope, intercept and
    * q̂ (every residual is NULL) and `cover_ppm` 0.
    */
  private def conformalBand(grid: DataFrame, keyed: Boolean,
                            alphaPpm: Long): DataFrame = {
    require(alphaPpm >= 1 && alphaPpm <= 999999,
      s"alphaPpm must be in [1, 999999]: $alphaPpm")
    val keys = if (keyed) Seq(col("key")) else Nil
    def attach(left: DataFrame, right: DataFrame): DataFrame =
      if (keyed) left.join(right, Seq("key")) else left.crossJoin(broadcast(right))
    val series = grid.select(keys ++ Seq(col("t"), col("c")): _*)
      .pin() // one-shot: fit AND residual pass share the grid
    val fit = olsTrend(series, if (keyed) Some("key") else None)
      .select(keys ++ Seq(col("n_hours"), col("slope_ppm"), col("intercept_ppm")): _*)
    val calRank = expr(s"least(greatest(CAST(1 AS BIGINT)," +
      s" ((1000000 - $alphaPpm) * (n_hours + 1) + 999999) div 1000000), n_hours)")
    val ranked = attach(series, fit)
      .select(keys ++ Seq(col("n_hours"), col("slope_ppm"), col("intercept_ppm"),
        expr("abs(CAST(c AS DECIMAL(38,0)) * 1000000" +
          " - CAST(slope_ppm AS DECIMAL(38,0)) * t - intercept_ppm)").as("a")): _*)
      .withColumn("rn", row_number().over(
        // keyspace-sized window: input is collapsed/bounded before this sort
        Window.partitionBy(keys: _*).orderBy(col("a"))))
    val qhat = ranked.filter(col("rn") === calRank)
      .select(keys :+ col("a").as("qhat"): _*)
    attach(ranked, qhat)
      .groupBy(keys: _*)
      .agg(max("n_hours").as("n_hours"), max("slope_ppm").as("slope_ppm"),
        max("intercept_ppm").as("intercept_ppm"),
        expr("CAST(max(qhat) AS BIGINT)").as("qhat_ppm"),
        sum(when(col("a") <= col("qhat"), 1L).otherwise(0L)).as("n_cover"))
      .select(keys ++ Seq(col("n_hours"), col("slope_ppm"), col("intercept_ppm")) ++
        (if (keyed) Nil else Seq(calRank.as("cal_rank"))) ++
        Seq(col("qhat_ppm"), expr("n_cover * 1000000 div n_hours").as("cover_ppm")): _*)
  }

  /** Pettitt changepoint test (Pettitt 1979, public literature) on the
    * hourly event-count series: the rank-based single-changepoint locator
    * — K = max_t |U_t| with U_t = Σ_{i≤t} Σ_{j>t} sign(x_i − x_j), the
    * Mann–Whitney statistic of every prefix/suffix split at once. Where
    * [[cusumScreen]] watches a LIVE series against a trained reference,
    * Pettitt asks the retrospective question — "did this series shift,
    * and when" — with no calibration window and full tie-handling.
    *
    * EXACT and loop-free via two identities: per-value
    * s(v) = (#less) − (#greater) = 2·cumleq − m_v − n (one by-value
    * collapse + one running-sum window over DISTINCT values, the
    * [[graft.ext.RankStats.ksStatistic]] device), and by antisymmetry
    * U_t = Σ_{i≤t} s(x_i) (one prefix-sum window over the grid). All
    * integer; changepoint = the smallest hour attaining K
    * (deterministic tie-break).
    *
    * Output: one row — n_hours, k_stat, at_hour (epoch-hour of the
    * split, i.e. the last hour of the pre-change regime), u_at (signed
    * U there: positive = the earlier regime ran HIGHER).
    *
    * Scale shape: one fact aggregate → hour grid; two keyspace-sized
    * windows (distinct values, grid hours) and two tiny aggregates —
    * the same posture as [[theilSenTrend]] without the grid² pairs.
    */
  def pettittTest(events: DataFrame, tsCol: String = "ts"): DataFrame =
    pettittFromSeries(hourlyGrid(events, tsCol))

  /** [[pettittTest]] fed by PRE-AGGREGATED hourly counts — the
    * stream emitters' closed-window (hour, key, c) rows collapse to the
    * global series and run the IDENTICAL rank arithmetic, so the
    * retrospective changepoint can be asked of a stored monitoring
    * stream without ever re-reading facts. Batch twin
    * (oracle-verified): q332 / q334.
    */
  def pettittFromCounts(counts: DataFrame, hourCol: String = "hour",
                        cCol: String = "c"): DataFrame =
    pettittFromSeries(hourlyGridFromCounts(counts, hourCol, cCol))

  private def pettittFromSeries(grid: DataFrame): DataFrame = {
    val series = grid.pin() // one-shot: n, ranks, and the U-scan share it
    val n1 = series.agg(count(lit(1)).as("n"))
    val byV = series.groupBy("c").agg(count(lit(1)).as("m"))
    // keyspace-sized window: input is collapsed/bounded before this sort
    val wv = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sv = byV.withColumn("cumleq", sum("m").over(wv))
      .crossJoin(broadcast(n1))
      .select(col("c"),
        (lit(2L) * col("cumleq") - col("m") - col("n")).as("s"), col("n"))
    // keyspace-sized window: input is collapsed/bounded before this sort
    val wt = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u = series.join(sv, Seq("c"))
      .withColumn("u", sum("s").over(wt))
      .filter(col("t") < col("n") - 1) // splits after hour 1..n−1 only
      .pin() // one-shot: feeds the max AND the argmax
    val kmax = u.agg(max(abs(col("u"))).as("k_stat"))
    u.crossJoin(broadcast(kmax))
      .filter(abs(col("u")) === col("k_stat"))
      .groupBy("n", "k_stat")
      .agg(min("h").as("at_hour"), min_by(col("u"), col("h")).as("u_at"))
      .select(col("n").as("n_hours"), col("k_stat"), col("at_hour"),
        col("u_at"))
  }

  /** Theil–Sen robust trend (Theil 1950 / Sen 1968, public literature):
    * the LOW-MEDIAN of pairwise slopes over the hourly grid, immune to
    * the outlier hours that drag the OLS line (a single spike moves
    * [[trendFit]]'s slope arbitrarily; it moves one slope population
    * member here). Slopes are exact floored ppm
    * ((c₂−c₁)·10⁶ div (t₂−t₁)); median = value at rank (P+1) div 2,
    * intercept = the same low-median of (c·10⁶ − slope·t) over hours.
    *
    * Scale shape: pairs are GRID², not facts² — H hours give H(H−1)/2
    * keyspace-sized rows (a year of hours ≈ 3.8·10⁷ pairs, one
    * executor's worth); facts are touched exactly once, by the hourly
    * aggregate. For multi-year grids thin the grid first (stride or
    * daily rollup) — the estimator is stride-stable.
    */
  def theilSenTrend(events: DataFrame, tsCol: String): DataFrame = {
    val series = hourlyGrid(events, tsCol)
      .select(col("t"), col("c")).pin() // one-shot: both sides of the pair join
    val pairs = series.select(col("t").as("t1"), col("c").as("c1"))
      .join(series.select(col("t").as("t2"), col("c").as("c2")),
        col("t2") > col("t1"))
      .select(expr("(c2 - c1) * 1000000 div (t2 - t1)").as("s"))
    val np = pairs.agg(count(lit(1)).as("n_pairs"))
    val med = pairs
      .withColumn("rn", row_number().over(
        // keyspace-sized window: input is collapsed/bounded before this sort
        Window.orderBy(col("s"))))
      .crossJoin(broadcast(np))
      .filter(col("rn") === expr("(n_pairs + 1) div 2"))
      .select(col("n_pairs"), col("s").as("slope_ppm"))
    val nh = series.agg(count(lit(1)).as("n_hours"))
    series.crossJoin(broadcast(med))
      .select(col("n_pairs"), col("slope_ppm"),
        expr("CAST(c AS DECIMAL(38,0)) * 1000000" +
          " - CAST(slope_ppm AS DECIMAL(38,0)) * t").as("i"))
      .withColumn("rn", row_number().over(
        // keyspace-sized window: input is collapsed/bounded before this sort
        Window.orderBy(col("i"))))
      .crossJoin(broadcast(nh))
      .filter(col("rn") === expr("(n_hours + 1) div 2"))
      .select(col("n_hours"), col("n_pairs"), col("slope_ppm"),
        expr("CAST(i AS BIGINT)").as("intercept_ppm"))
  }

  /** Mann–Kendall trend test (Mann 1945 / Kendall 1975, public
    * literature) over the hourly grid — the NONPARAMETRIC "is there a
    * monotone trend at all" companion to [[theilSenTrend]]'s slope:
    * S = Σ_{i<j} sign(c_j − c_i), the tie-corrected variance numerator
    * `var18` = n(n−1)(2n+5) − Σ_ties m(m−1)(2m+5) (×18, kept integer —
    * /18 is not exact), and the continuity-corrected squared z-score
    * `z2_ppm` = (|S|−1)²·18·10⁶ div var18 (0 when |S| ≤ 1, NULL on a
    * constant series where var18 = 0). No distributional assumption, no
    * float: a spike that drags [[trendFit]]'s slope moves S by at most
    * n−1 sign flips.
    *
    * Envelope: S ≤ n²/2, so (|S|−1)²·18·10⁶ ≤ n⁴·10⁷·4.5 — a century of
    * hours (n ≈ 9·10⁵) stays under 10³⁰, inside DECIMAL(38,0).
    *
    * Scale shape: identical to [[theilSenTrend]] — pairs are GRID², not
    * facts²; facts are touched once by the hourly aggregate, the tie
    * census is a by-value aggregate of the grid.
    */
  def mannKendall(events: DataFrame, tsCol: String = "ts"): DataFrame =
    mannKendallFromSeries(hourlyGrid(events, tsCol))

  /** [[mannKendall]] fed by PRE-AGGREGATED hourly counts — the stream
    * emitters' closed-window (hour, key, c) rows collapse to the global
    * series and run the IDENTICAL pair census, so the trend question can
    * be asked of a stored monitoring stream without re-reading facts.
    * Batch twin (oracle-verified): q342 / q343.
    */
  def mannKendallFromCounts(counts: DataFrame, hourCol: String = "hour",
                            cCol: String = "c"): DataFrame =
    mannKendallFromSeries(hourlyGridFromCounts(counts, hourCol, cCol))

  /** Lead-lag cross-correlation between two keyed hourly series ("do
    * views LEAD purchases, and by how many hours") — the sample CCF of
    * Box & Jenkins (public literature), over the shared zero-gapfilled
    * grid, for lags −maxLag..maxLag (positive lag = A leads B: a_t
    * against b_{t+lag}). Deviations are the n-scaled integers n·c − s
    * (the [[acf]] device — no rational mean), and the readout is
    * SQRT-FREE (the τ_b²/assortativity convention): `xcf2_ppm` =
    * sign(num)·(|num|·10⁶ div denA)·|num| div denB — r² with r's sign,
    * where the TWO-STEP floored division is the documented contract the
    * oracle mirrors (squaring num first would overflow any envelope:
    * num ≤ n³c̄², its square passes 10³⁸ at one year of 10⁹-event
    * hours; the staged form never exceeds ~10³³).
    *
    * Scale shape: facts collapse to two hourly aggregates; the grid,
    * the lag join (grid × (2L+1) rows), and the per-lag aggregate are
    * all keyspace-sized.
    */
  def crossCorrelation(events: DataFrame, tsCol: String, keyCol: String,
                       keyA: String, keyB: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    crossCorrFromSeries(
      events.filter(col(keyCol).isin(keyA, keyB))
        .select((col(keyCol) === keyA).as("isA"),
          hourOf(tsCol).as("h")),
      maxLag)
  }

  /** [[crossCorrelation]] fed by PRE-AGGREGATED hourly counts (the
    * stream emitters' closed windows) — identical grid + lag census.
    * Batch twin (oracle-verified): q350 / q351.
    */
  def crossCorrelationFromCounts(counts: DataFrame, keyA: String,
                                 keyB: String, maxLag: Int,
                                 keyCol: String = "key",
                                 hourCol: String = "hour",
                                 cCol: String = "c"): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    crossCorrFromSeries(
      counts.filter(col(keyCol).isin(keyA, keyB))
        .select((col(keyCol) === keyA).as("isA"),
          hourOf(hourCol).as("h"),
          col(cCol).cast("long").as("w")),
      maxLag)
  }

  /** Core census over (isA, h[, w]) hour marks: builds the shared
    * zero-gapfilled grid with both series' n-scaled deviations, then the
    * per-lag products. `marks` without a `w` column weighs each row 1.
    */
  private def crossCorrFromSeries(marks: DataFrame, maxLag: Int): DataFrame = {
    val weighted =
      if (marks.columns.contains("w")) marks
      else marks.withColumn("w", lit(1L))
    val counts = weighted.groupBy("h")
      .agg(sum(when(col("isA"), col("w")).otherwise(0L)).as("ca"),
        sum(when(!col("isA"), col("w")).otherwise(0L)).as("cb"))
    val series = counts
      .agg(min("h").as("h0"), max("h").as("h1"),
        sum("ca").as("sa"), sum("cb").as("sb"))
      .select(explode(sequence(col("h0"), col("h1"))).as("h"),
        col("h0"), col("sa"), col("sb"),
        (col("h1") - col("h0") + 1L).as("n"))
      .join(counts, Seq("h"), "left")
      .select((col("h") - col("h0")).as("t"), col("n"),
        (col("n") * coalesce(col("ca"), lit(0L)) - col("sa")).as("deva"),
        (col("n") * coalesce(col("cb"), lit(0L)) - col("sb")).as("devb"))
      .pin() // one-shot: feeds both den aggregates and the lag join
    val den = series.agg(
      expr("sum(CAST(deva AS DECIMAL(38,0)) * deva)").as("den_a"),
      expr("sum(CAST(devb AS DECIMAL(38,0)) * devb)").as("den_b"),
      max("n").as("n_hours"))
    val lags = series
      .crossJoin(broadcast(series.sparkSession
        .range(-maxLag, maxLag + 1).select(col("id").as("lag"))))
      .select((col("t") + col("lag")).as("t"), col("lag"),
        col("deva").as("dev_x"))
    lags.join(series.select(col("t"), col("devb")), Seq("t"))
      .groupBy("lag")
      .agg(expr("sum(CAST(dev_x AS DECIMAL(38,0)) * devb)").as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("n_hours"),
        expr("CASE WHEN den_a = 0 OR den_b = 0 THEN NULL ELSE CAST(" +
          " CASE WHEN num >= 0 THEN 1 ELSE -1 END" +
          " * CAST(abs(num) * 1000000 div den_a AS DECIMAL(38,0))" +
          " * abs(num) div den_b AS BIGINT) END").as("xcf2_ppm"))
  }

  /** Interarrival burstiness per key — the squared coefficient of
    * variation CV² = Var(d)/E[d]² of consecutive-event gaps, the
    * standard "is this stream Poisson-like (CV² ≈ 1), clocklike (≈ 0)
    * or bursty (≫ 1)" readout behind capacity planning and bot
    * screening. EXACT: gaps in integer MILLISECONDS (the resolution is
    * part of the contract — the ms envelope keeps n·Σd² − S² within
    * DECIMAL(38,0) to a billion gaps per key, where microseconds would
    * overflow at ~10⁷), CV² as the one integer rational
    * (n·Σd² − S²)·10⁶ div S²; keys with < 2 gaps or an all-zero span →
    * NULL. Duplicate timestamps contribute zero gaps regardless of
    * intra-tie order, so the lag window is layout-invariant.
    *
    * Scale shape: one per-key window over the fact scan (the q318
    * interarrival posture) feeding a 3-moment map-combined aggregate;
    * output is keys-sized.
    */
  def burstiness(events: DataFrame, tsCol: String = "ts",
                 keyCol: String = "event_type"): DataFrame = {
    events
      .select(col(keyCol).as("key"),
        expr(s"unix_micros($tsCol) div 1000").as("tms"))
      .withColumn("d", col("tms") -
        lag(col("tms"), 1).over(
          Window.partitionBy("key").orderBy(col("tms"))))
      .filter(col("d").isNotNull)
      .groupBy("key")
      .agg(count(lit(1)).as("n_gaps"), sum("d").as("s"),
        expr("sum(CAST(d AS DECIMAL(38,0)) * d)").as("s2"))
      .select(col("key"), col("n_gaps"),
        expr("CASE WHEN n_gaps = 0 THEN NULL" +
          " ELSE s div n_gaps END").as("mean_gap_ms"),
        expr("CASE WHEN n_gaps < 2 OR s = 0 THEN NULL ELSE" +
          " CAST((n_gaps * s2 - CAST(s AS DECIMAL(38,0)) * s) * 1000000" +
          " div (CAST(s AS DECIMAL(38,0)) * s) AS BIGINT) END").as("cv2_ppm"))
  }

  /** Hourly peak-to-mean load factor per key over the gap-filled grid —
    * "how much headroom does the peak hour demand over steady state",
    * the provisioning ratio: peak·H·10⁶ div total (zero-hours count
    * toward the mean — that is the point of the gap fill). One grid
    * aggregate per key.
    */
  def peakToMean(events: DataFrame, tsCol: String = "ts",
                 keyCol: String = "event_type"): DataFrame =
    gapFillHourly(events, tsCol, keyCol)
      .groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_hours"), max("n_events").as("peak"),
        sum("n_events").as("total"))
      .select(col("key"), col("n_hours"), col("peak"), col("total"),
        expr("CASE WHEN total = 0 THEN NULL ELSE" +
          " CAST(CAST(peak AS DECIMAL(38,0)) * n_hours * 1000000" +
          " div total AS BIGINT) END").as("peak_to_mean_ppm"))

  /** Wald–Wolfowitz runs test (Wald & Wolfowitz 1940, public
    * literature) on the hourly series — "is the traffic sequence RANDOM
    * around its median, or does it clump/alternate": hours dichotomize
    * at the LOWER MEDIAN of the gap-filled counts (the by-value
    * [[Quality.lowerMedianBy]] convention — a value from the data, no
    * interpolation; above → 1, at-or-below → 0), `runs` counts the
    * maximal same-sign blocks, and `z2_ppm` is the exact squared z
    * against the null moments E[R] = 1 + 2·n₁n₀/n and
    * Var(R) = 2n₁n₀(2n₁n₀−n)/(n²(n−1)):
    * z² = (R·n − n − 2n₁n₀)²·(n−1)·10⁶ div (2n₁n₀(2n₁n₀−n)) — NULL when
    * either side is empty or the variance degenerates. Too FEW runs =
    * regime clumping (the q332 Pettitt territory); too MANY = oscillation
    * (retry storms, polling artifacts).
    *
    * Envelope: all terms ≤ 4n⁵·10⁶ on the HOUR grid — a century of hours
    * (n ≈ 10⁶) stays inside DECIMAL(38,0); the grid is invariant in fact
    * volume, so this never sees a fact-scale n.
    *
    * Scale shape: one fact aggregate → grid; the median collapse is
    * by-value; the run census is one lag window over the grid.
    */
  def runsTest(events: DataFrame, tsCol: String = "ts"): DataFrame =
    runsTestFromSeries(hourlyGrid(events, tsCol))

  /** [[runsTest]] fed by PRE-AGGREGATED hourly counts — the stream
    * emitters' closed windows collapse to the global series and run the
    * IDENTICAL dichotomize + run census. Batch twin (oracle-verified):
    * q356 / q357.
    */
  def runsTestFromCounts(counts: DataFrame, hourCol: String = "hour",
                         cCol: String = "c"): DataFrame =
    runsTestFromSeries(hourlyGridFromCounts(counts, hourCol, cCol))

  private def runsTestFromSeries(grid: DataFrame): DataFrame = {
    val series = grid.select(col("t"), col("c")).pin() // one-shot: median AND run-scan share it
    val n1 = series.agg(count(lit(1)).as("n"))
    val byV = series.groupBy("c").agg(count(lit(1)).as("m"))
    // keyspace-sized window: input is collapsed/bounded before this sort
    val wv = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = byV.withColumn("cum", sum("m").over(wv))
      .crossJoin(broadcast(n1))
      .filter(col("cum") * 2 >= col("n"))
      .agg(min("c").as("med"))
    val flagged = series.crossJoin(broadcast(med))
      .select(col("t"), (col("c") > col("med")).cast("long").as("s"))
    // keyspace-sized window: input is collapsed/bounded before this sort
    val wt = Window.orderBy(col("t"))
    val census = flagged
      .withColumn("prev", lag(col("s"), 1).over(wt))
      .agg(count(lit(1)).as("n"), sum("s").as("n_above"),
        (count(lit(1)) - sum("s")).as("n_below"),
        (coalesce(sum(when(col("prev").isNotNull && col("prev") =!= col("s"),
          1L).otherwise(0L)), lit(0L)) + 1L).as("runs"))
    census.select(col("n").as("n_hours"), col("n_above"), col("n_below"),
      col("runs"),
      expr("CASE WHEN n_above = 0 OR n_below = 0" +
        " OR 2 * n_above * n_below = n OR n < 2 THEN NULL ELSE CAST(" +
        " CAST(runs * n - n - 2 * n_above * n_below AS DECIMAL(38,0))" +
        " * (runs * n - n - 2 * n_above * n_below) * (n - 1) * 1000000" +
        " div (2 * CAST(n_above AS DECIMAL(38,0)) * n_below" +
        "      * (2 * CAST(n_above AS DECIMAL(38,0)) * n_below - n))" +
        " AS BIGINT) END").as("z2_ppm"))
  }

  private def mannKendallFromSeries(grid: DataFrame): DataFrame = {
    val series = grid.select(col("t"), col("c")).pin() // one-shot: both sides of the S-statistic join
    val sStat = series.select(col("t").as("t1"), col("c").as("c1"))
      .join(series.select(col("t").as("t2"), col("c").as("c2")),
        col("t2") > col("t1"))
      .agg(coalesce(sum(signum(col("c2") - col("c1")).cast("long")), lit(0L))
        .as("s_stat"))
    val nTies = series.groupBy("c").agg(count(lit(1)).as("m"))
      .agg(count(lit(1)).as("n_values"), sum("m").as("n"),
        coalesce(sum(expr(
          "CAST(m AS DECIMAL(38,0)) * (m - 1) * (2 * m + 5)")), lit(0))
          .as("tie18"))
    nTies.crossJoin(broadcast(sStat))
      .select(col("n").as("n_hours"), col("s_stat"),
        expr("CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) * (2 * n + 5)" +
          " - tie18 AS BIGINT)").as("var18"),
        expr("CASE WHEN CAST(n AS DECIMAL(38,0)) * (n - 1) * (2 * n + 5)" +
          " - tie18 = 0 THEN NULL WHEN abs(s_stat) <= 1 THEN 0L" +
          " ELSE CAST((CAST(abs(s_stat) AS DECIMAL(38,0)) - 1)" +
          " * (abs(s_stat) - 1) * 18000000" +
          " div (CAST(n AS DECIMAL(38,0)) * (n - 1) * (2 * n + 5) - tie18)" +
          " AS BIGINT) END").as("z2_ppm"))
  }

  /** Two-regressor OLS — the hourly trend CONDITIONED on a weekend
    * dummy, solved in closed form by Cramer's rule on the 3×3 normal
    * equations with every determinant an exact DECIMAL(38,0) product of
    * integer moments. Separates "traffic is growing" from "this window
    * has more weekdays": `slope_ppm` is the per-hour drift at fixed
    * day-type, `weekend_ppm` the level shift of Sat/Sun hours. The dummy
    * comes from the ABSOLUTE epoch hour (epoch day 0 = Thursday, so
    * dow = (h div 24 + 3) mod 7 puts Monday at 0, weekend = dow ≥ 5 =
    * Sat/Sun). A degenerate grid
    * (no weekend hours, or nothing else) has det = 0 → NULL estimates
    * rather than a wrong line. Envelope: determinant terms reach
    * ~H⁴·c̄·10⁶ — three years of hours at 10⁹ events/hour stay inside
    * DECIMAL(38,0).
    *
    * Scale shape: identical to [[trendFit]] — one fact aggregate, one
    * keyspace grid, one 8-moment aggregate, scalar arithmetic.
    */
  def trendFitSeasonal(events: DataFrame, tsCol: String): DataFrame = {
    val series = hourlyGrid(events, tsCol)
      .select(col("t"), col("c"),
        expr("CASE WHEN (h div 24 + 3) % 7 >= 5 THEN CAST(1 AS BIGINT)" +
          " ELSE CAST(0 AS BIGINT) END").as("w"))
    series
      .agg(count(lit(1)).as("n"), sum("t").as("st"), sum("w").as("sw"),
        sum(col("t") * col("t")).as("stt"),
        sum(col("t") * col("w")).as("stw"), sum("c").as("sc"),
        sum(col("t") * col("c")).as("stc"),
        sum(col("w") * col("c")).as("swc"))
      .select(col("n"), col("sw"),
        expr("CAST(n AS DECIMAL(38,0)) * (CAST(stt AS DECIMAL(38,0)) * sw - CAST(stw AS DECIMAL(38,0)) * stw)" +
          " - CAST(st AS DECIMAL(38,0)) * (CAST(st AS DECIMAL(38,0)) * sw - CAST(stw AS DECIMAL(38,0)) * sw)" +
          " + CAST(sw AS DECIMAL(38,0)) * (CAST(st AS DECIMAL(38,0)) * stw - CAST(stt AS DECIMAL(38,0)) * sw)")
          .as("det"),
        expr("CAST(sc AS DECIMAL(38,0)) * (CAST(stt AS DECIMAL(38,0)) * sw - CAST(stw AS DECIMAL(38,0)) * stw)" +
          " - CAST(st AS DECIMAL(38,0)) * (CAST(stc AS DECIMAL(38,0)) * sw - CAST(stw AS DECIMAL(38,0)) * swc)" +
          " + CAST(sw AS DECIMAL(38,0)) * (CAST(stc AS DECIMAL(38,0)) * stw - CAST(stt AS DECIMAL(38,0)) * swc)")
          .as("det_a"),
        expr("CAST(n AS DECIMAL(38,0)) * (CAST(stc AS DECIMAL(38,0)) * sw - CAST(stw AS DECIMAL(38,0)) * swc)" +
          " - CAST(sc AS DECIMAL(38,0)) * (CAST(st AS DECIMAL(38,0)) * sw - CAST(stw AS DECIMAL(38,0)) * sw)" +
          " + CAST(sw AS DECIMAL(38,0)) * (CAST(st AS DECIMAL(38,0)) * swc - CAST(stc AS DECIMAL(38,0)) * sw)")
          .as("det_b"),
        expr("CAST(n AS DECIMAL(38,0)) * (CAST(stt AS DECIMAL(38,0)) * swc - CAST(stc AS DECIMAL(38,0)) * stw)" +
          " - CAST(st AS DECIMAL(38,0)) * (CAST(st AS DECIMAL(38,0)) * swc - CAST(stc AS DECIMAL(38,0)) * sw)" +
          " + CAST(sc AS DECIMAL(38,0)) * (CAST(st AS DECIMAL(38,0)) * stw - CAST(stt AS DECIMAL(38,0)) * sw)")
          .as("det_w"))
      .select(col("n").as("n_hours"), col("sw").as("n_weekend_hours"),
        expr("CASE WHEN det = 0 THEN NULL ELSE det_b * 1000000 div det END")
          .as("slope_ppm"),
        expr("CASE WHEN det = 0 THEN NULL ELSE det_w * 1000000 div det END")
          .as("weekend_ppm"),
        expr("CASE WHEN det = 0 THEN NULL ELSE det_a * 1000000 div det END")
          .as("intercept_ppm"))
  }

  /** The decayed-engagement TIME SERIES from an (key, h, c) hourly-count
    * relation (h in epoch hours — e.g. the emission of
    * [[graft.streaming.Streams.decayedCountsHourly]]): for every
    * snapshot hour present in the relation, each key's cumulative event
    * count and exact dyadic decayed score AS OF that hour — the
    * monitoring curve a dashboard plots, with the final snapshot equal
    * to [[decayedCountByKey]] by construction. Weights are a pure
    * function of (snap_h − h), so the stream that feeds this holds no
    * decay state — counts are the sufficient statistic.
    *
    * Scale shape: snapshots × counts is keyspace² (hours² per key),
    * never fact-sized; the snapshot grid rides a broadcast non-equi
    * join.
    */
  def decayedSnapshotsFromCounts(counts: DataFrame, halfLifeHours: Int = 24,
                                 maxShift: Int = 40): DataFrame =
    dyadicDecay(counts.join(broadcast(counts.select(col("h").as("snap_h")).distinct()),
      col("h") <= col("snap_h")), Seq("key", "snap_h"), "snap_h - h",
      halfLifeHours, maxShift)

  /** Recency-weighted engagement per key with EXACT dyadic decay: an
    * event aged `a` hours (vs the corpus's max hour) weighs
    * 2^(−⌊a / halfLife⌋), floored at 2^(−maxShift). Weights are exact
    * powers of two carried as shifted integers (weight·2^maxShift), so
    * the sum is exact in DECIMAL(38,0) and the readout
    * `decayed_ppm = score·10⁶ div 2^maxShift` is the decayed-equivalent
    * event count in ppm — no float decay drift, bit-identical on any
    * layout. One (key, hour) map-combined aggregate over facts plus a
    * broadcast 1-row max; nothing iterates.
    */
  def decayedCountByKey(events: DataFrame, tsCol: String, keyCol: String,
                        halfLifeHours: Int = 24, maxShift: Int = 40): DataFrame = {
    val counts = events
      .select(col(keyCol).as("k"), hourOf(tsCol).as("h"))
      .groupBy("k", "h").agg(count(lit(1)).as("c"))
    dyadicDecay(counts.crossJoin(broadcast(counts.agg(max("h").as("now")))),
      Seq("k"), "now - h", halfLifeHours, maxShift)
      .withColumnRenamed("k", "key")
  }

  /** The one body of the dyadic decay, shared by [[decayedCountByKey]]
    * (age against the corpus's last hour) and [[decayedSnapshotsFromCounts]]
    * (age against every snapshot hour), which differ only in the (h, c)
    * rows they pair with an as-of hour and in the columns they group by:
    * the parameter checks, the shifted-integer weight
    * `2^(maxShift − min(age div halfLife, maxShift))` of each hour's count
    * for the SQL `age` expression, the exact DECIMAL(38,0) score per group
    * and its ppm readout.
    */
  private def dyadicDecay(aged: DataFrame, groupCols: Seq[String], age: String,
                          halfLifeHours: Int, maxShift: Int): DataFrame = {
    require(halfLifeHours >= 1, s"halfLifeHours must be >= 1: $halfLifeHours")
    require(maxShift >= 1 && maxShift <= 62, s"maxShift in [1, 62]: $maxShift")
    val groups = groupCols.map(col)
    aged.select(groups ++ Seq(col("c"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST($maxShift" +
          s" - least(($age) div $halfLifeHours, $maxShift) AS INT))").as("wt")): _*)
      .groupBy(groups: _*)
      .agg(sum("c").as("n_events"),
        expr("sum(CAST(wt AS DECIMAL(38,0)) * c)").as("score"))
      .select(groups ++ Seq(col("n_events"),
        expr(s"score * 1000000 div ${1L << maxShift}").as("decayed_ppm")): _*)
  }
}
