package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-shaped analytics the reference's retail pipeline grows into
  * once the data outlives one pandas process: star-schema rollups across
  * the full dimension tree, trailing time-window metrics, snapshot
  * differencing (CDC), and incremental aggregate maintenance.
  *
  * Money policy (SparkEntry determinism contract): every price term is
  * routed through DECIMAL(18,2) before arithmetic, summed as DECIMAL
  * (exact, association-order-free), and cast to double only at the output
  * boundary — the same engine-portable policy q09 established.
  */
object Warehouse {

  /** Exact per-row revenue term: price × (1 − discount), both factors
    * 2-decimal DECIMAL so the product (scale 4) and its sum are exact in
    * any engine.
    */
  private def revenueTerm: Column =
    col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1.0) - col("l_discount")).cast("decimal(18,2)")

  /** The universal report tail — top-k groups by value, everything else
    * rolled into one OTHER row (every dashboard's "top 10 + other"). The
    * input is an already-aggregated (group, value) frame, so the window
    * ranks group-keyspace rows, not facts; ties break on the group name
    * for determinism. Carries how many raw groups each output row
    * absorbs.
    */
  def othersRollup(agg: DataFrame, grpCol: String, valCol: String,
                   k: Int, otherLabel: String = "OTHER"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // keyspace-sized window: input is collapsed/bounded before this sort
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(valCol).desc, col(grpCol))
    agg
      .withColumn("__r", row_number().over(w))
      .withColumn(grpCol,
        when(col("__r") <= k, col(grpCol)).otherwise(lit(otherLabel)))
      .groupBy(col(grpCol))
      .agg(sum(col(valCol)).as(valCol),
        count(lit(1)).cast("long").as("n_groups"))
  }

  /** Daily NEW vs RETURNING active users: a user is new on their
    * first-ever active day, returning on every later one. Two aggregates
    * over the deduped (user, day) activity — first-day per user (one
    * user-key exchange), then a day-keyed count split; no window over
    * facts, no self-join.
    */
  def newVsReturning(events: DataFrame, tsCol: String = "ts",
                     userCol: String = "user_id"): DataFrame = {
    val activity = events
      .select(col(userCol).as("u"), to_date(col(tsCol)).as("day"))
      .distinct()
    val first = activity.groupBy("u").agg(min("day").as("first_day"))
    activity.join(first, "u")
      .groupBy("day")
      .agg(
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("day") > col("first_day"), 1L).otherwise(0L)).as("n_returning"))
  }

  /** Daily churn: users active on day d but NOT on d+1, for every d
    * before the last observed day (the final day's churn is unknowable
    * in-corpus and excluded). `lead` over each user's active-day sequence
    * — one user-key exchange, no day-pair self-join.
    */
  def dailyChurn(events: DataFrame, tsCol: String = "ts",
                 userCol: String = "user_id"): DataFrame =
    dailyChurnFromUserDays(
      events.select(col(userCol).as("u"), to_date(col(tsCol)).as("day"))
        .distinct())

  /** The churn readout over an already-deduped (u, day) activity relation
    * — the SHARED code path between the batch operator above and the
    * stream-fed twin ([[graft.streaming.Streams.userDaysDaily]] emits
    * exactly this relation from its closed daily windows): lead over each
    * user's active-day sequence, final (unknowable) day excluded. One
    * user-key exchange, no day-pair self-join.
    */
  def dailyChurnFromUserDays(activity: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy("day")
    activity
      .withColumn("next_day", lead(col("day"), 1).over(w))
      .crossJoin(broadcast(activity.agg(max("day").as("last_day"))))
      .filter(col("day") < col("last_day"))
      .filter(col("next_day").isNull
        || col("next_day") > date_add(col("day"), 1))
      .groupBy("day")
      .agg(count(lit(1)).as("n_churned"))
  }

  /** Discrete-time churn hazard (the life-table method of classical
    * survival analysis, public literature): per lifetime-day d, how many
    * users were still observable at d (`at_risk`), how many churned
    * exactly at d (`n_churned`), and the hazard `hazard_ppm` =
    * churned·10⁶ div at_risk — the per-day "if you made it this far,
    * what's the chance you stop today" curve, with RIGHT CENSORING done
    * properly: a user active within the final `graceDays` of the corpus
    * is censored at (corpus end − first day), not counted as churned —
    * the mistake that makes naive lifetime histograms overstate churn
    * for every recent cohort.
    *
    * Scale shape: one (user → first/last day) aggregate, then every
    * count lives on the lifetime-day keyspace; at_risk is a reverse
    * running sum over distinct durations — no user×day expansion.
    */
  def churnHazard(events: DataFrame, tsCol: String = "ts",
                  userCol: String = "user_id",
                  graceDays: Int = 7): DataFrame =
    churnHazardFromUserDays(
      events.select(col(userCol).as("u"), to_date(col(tsCol)).as("day")),
      graceDays)

  /** [[churnHazard]] over an (u, day) activity relation — the SHARED
    * code path with the stream-fed twin: the daily active-user emitter's
    * closed windows ([[graft.streaming.Streams.userDaysDaily]]) carry
    * exactly the per-user first/last days the life table needs, so the
    * survival readout runs off the stored stream without re-reading
    * facts. Batch twin (oracle-verified): q352 / q355.
    */
  def churnHazardFromUserDays(activity: DataFrame,
                              graceDays: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = activity
      .groupBy("u").agg(min("day").as("first_day"), max("day").as("last_day"))
    val horizon = activity.agg(max(col("day")).as("end_day"))
    // dead users: silent for > graceDays before the corpus end — their
    // observed time is the true lifetime; live users are censored at the
    // full span they were observable
    val obs = spans.crossJoin(broadcast(horizon))
      .select(
        when(col("last_day") < date_sub(col("end_day"), graceDays),
          datediff(col("last_day"), col("first_day")))
          .otherwise(datediff(col("end_day"), col("first_day"))).as("t"),
        when(col("last_day") < date_sub(col("end_day"), graceDays), 1L)
          .otherwise(0L).as("dead"))
    val byT = obs.groupBy("t")
      .agg(count(lit(1)).as("ending"), sum("dead").as("n_churned"))
    // keyspace-sized window: input is collapsed/bounded before this sort
    val w = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT.withColumn("at_risk", sum("ending").over(w))
      .select(col("t").cast("long").as("lifetime_days"), col("at_risk"),
        col("n_churned"),
        expr("n_churned * 1000000 div at_risk").as("hazard_ppm"))
  }

  /** RFM segmentation: per-user Recency (days since last purchase,
    * against a PINNED reference date — never now()), Frequency (purchase
    * count), Monetary (integer cents), each discretized into quartiles
    * by [[Quality.fitBuckets]]/[[Quality.applyBuckets]] and combined as
    * the classic 3-digit RFM code. Composition: three aggregate-sized
    * edge fits broadcast onto ONE pass over the per-user aggregate;
    * recency quartile is inverted (recent = high score).
    */
  def rfmSegments(events: DataFrame, refDate: String,
                  convType: String = "purchase"): DataFrame = {
    val per = events
      .filter(col("event_type") === convType)
      .groupBy(col("user_id"))
      .agg(
        datediff(to_date(lit(refDate)), max(to_date(col("ts")))).cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(expr("cast(round(value * 100) as bigint)")).as("monetary_cents"))
    val scored = Seq("recency_days", "frequency", "monetary_cents")
      .foldLeft(per) { (df0, c) =>
        Quality.applyBuckets(df0, Quality.fitBuckets(per, c, 4), c)
          .withColumnRenamed("bucket", s"__q_$c")
      }
    scored.select(col("user_id"), col("recency_days"), col("frequency"),
      col("monetary_cents"),
      ((lit(3) - col("__q_recency_days")) * 100 + col("__q_frequency") * 10
        + col("__q_monetary_cents")).cast("long").as("rfm"))
  }

  /** Week-over-week revenue report: ISO-week revenue cents with the
    * previous week's delta in truncated ppm (integer `div` — toward-zero
    * in both engines via the sign-split oracle form). The lag window runs
    * over the week KEYSPACE (≤ a few thousand rows for decades of data),
    * never facts.
    */
  def weekOverWeek(lineitem: DataFrame): DataFrame = {
    val weekly = lineitem
      .groupBy(date_trunc("week", col("l_shipdate")).cast("date").as("week"))
      .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("rev_cents"))
    // keyspace-sized window: input is collapsed/bounded before this sort
    val w = org.apache.spark.sql.expressions.Window.orderBy("week")
    weekly
      .withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
      .withColumn("wow_ppm",
        when(col("prev_cents") > 0,
          expr("(rev_cents - prev_cents) * 1000000 div prev_cents")))
  }

  /** Reconciliation audit: per order status, how many orders' header
    * total disagrees with the sum of their lines' extended price (both
    * as integer cents — exact), plus the absolute drift. The classic
    * warehouse consistency report between a fact and its rollup; all
    * arithmetic integer so the mismatch COUNT is bit-stable.
    */
  def orderLineReconciliation(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val lineSums = lineitem
      .groupBy(col("l_orderkey").as("ok"))
      .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("line_cents"))
    orders
      .join(lineSums, col("o_orderkey") === col("ok"), "left")
      .select(col("o_orderstatus"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("header_cents"),
        coalesce(col("line_cents"), lit(0L)).as("line_cents"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("header_cents") =!= col("line_cents"), 1L).otherwise(0L))
          .as("n_mismatched"),
        sum(abs(col("header_cents") - col("line_cents"))).as("abs_drift_cents"))
  }

  /** TPC-H Q5 shape — local supplier volume: revenue by nation where the
    * CUSTOMER and SUPPLIER share a nation, for one region and order-date
    * window. The interesting join is the two-key supplier match
    * (`l_suppkey` AND `c_nationkey = s_nationkey`): suppliers pre-join
    * their tiny dims (nation ⋈ region, region predicate applied) so the
    * broadcast side is already region-pruned — the fact stream pays its
    * two natural shuffles (orderkey, custkey) and everything else rides
    * broadcasts. Date window prunes orders at the scan.
    */
  def localSupplierVolume(lineitem: DataFrame, orders: DataFrame,
                          customer: DataFrame, supplier: DataFrame,
                          nation: DataFrame, region: DataFrame,
                          regionName: String, fromDate: String,
                          untilDate: String): DataFrame = {
    val regionalSupplier = supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === regionName)
      .select(col("s_suppkey"), col("s_nationkey").as("sn"), col("n_name"))
    lineitem
      .join(orders.filter(col("o_orderdate") >= to_timestamp(lit(fromDate))
          && col("o_orderdate") < to_timestamp(lit(untilDate))),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(regionalSupplier),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("sn"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_lines"),
        sum(revenueTerm).cast("double").as("revenue"))
  }

  /** Star-schema rollup: revenue by nation for one region and order-date
    * window — lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region.
    *
    * Scale shape: the two selective predicates (region name, date window)
    * sit on the SMALL side of each join, so Catalyst pushes them below the
    * joins — region prunes nation before any fact row is touched, the date
    * window prunes orders at its scan. nation/region are broadcast
    * explicitly (25/5 rows); customer⋈orders and orders⋈lineitem shuffle
    * on their natural keys, which AQE right-sizes. No fact column beyond
    * the join keys + 2 money columns survives the scan (pruned schema).
    */
  def starRevenue(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
                  nation: DataFrame, region: DataFrame, regionName: String,
                  fromDate: String, untilDate: String): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === regionName
        && col("o_orderdate") >= to_timestamp(lit(fromDate))
        && col("o_orderdate") < to_timestamp(lit(untilDate)))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_lines"),
        sum(revenueTerm).cast("double").as("revenue"))

  /** Daily revenue per return flag with a trailing `days`-day windowed sum
    * (RANGE frame over epoch day, so calendar gaps shorten the window
    * instead of silently widening it the way a ROWS frame would).
    *
    * Scale shape: the fact table collapses to (flag × day) DAILY AGGREGATES
    * first — one partial-agg shuffle — and the window runs over that tiny
    * relation, partitioned by flag. The window never sees fact rows; at
    * 100 TB the windowed input is still only flags × days.
    */
  def rollingDailyRevenue(lineitem: DataFrame, days: Int = 7): DataFrame = {
    val daily = lineitem
      .groupBy(col("l_returnflag").as("flag"),
        date_trunc("day", col("l_shipdate")).cast("date").as("day"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
      .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01").cast("date")))
    val w = Window.partitionBy("flag").orderBy(col("epoch_day"))
      .rangeBetween(-(days - 1).toLong, 0L)
    daily
      .withColumn("rev_window", sum(col("rev")).over(w).cast("double"))
      .select(col("flag"), col("day"), col("rev").cast("double").as("rev"),
        col("rev_window"))
  }

  /** Pareto contribution analysis (80/20 report): per group, its total,
    * exact ppm share of the grand total, cumulative share in descending-
    * contribution order (group-name ties broken ascending), and whether
    * the group sits in the head that covers `headPpm` of the total — the
    * concentration report behind "which brands are 80% of revenue" and
    * "which domains are 80% of the token mass". All-integer: shares are
    * `(x·10⁶) div grand` with DECIMAL(38,0) numerators, the cumulative
    * frame is ROWS (ties never merge).
    *
    * Scale shape: one group-keyed partial aggregate collapses the fact
    * stream; the window stage then runs over the GROUP-KEYSPACE-sized
    * relation only — a deliberate single-partition global window over
    * (groups) rows, fine for any keyspace that fits a report, never run
    * on fact rows.
    */
  def paretoContribution(df: DataFrame, grpCol: String, valueCol: String,
                         headPpm: Long = 800000): DataFrame = {
    require(headPpm >= 0 && headPpm <= 1000000, s"headPpm out of [0, 1e6]: $headPpm")
    // keyspace-sized window: input is collapsed/bounded before this sort
    val wCum = Window.orderBy(col("total").desc, col(grpCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    df.groupBy(col(grpCol)).agg(sum(col(valueCol)).as("total"))
      .withColumn("grand", sum("total").over(wAll))
      .withColumn("cum", sum("total").over(wCum))
      .select(col(grpCol), col("total"),
        expr("(cast(total as decimal(38,0)) * 1000000) div grand").as("share_ppm"),
        expr("(cast(cum as decimal(38,0)) * 1000000) div grand").as("cum_ppm"))
      .withColumn("pareto_head", col("cum_ppm") <= headPpm)
  }

  /** Snapshot differencing (CDC): classify every key of two table
    * snapshots as `insert` (new key), `delete` (gone key), or `update`
    * (key present in both, any compared column changed). Unchanged keys
    * are dropped — on a 100 TB snapshot pair the output is proportional to
    * the CHANGE volume, not the table.
    *
    * Scale shape: one full-outer shuffle join on the key columns — the
    * minimal possible data movement for a diff — followed by a narrow
    * classify/filter. Null-safe equality (`<=>`) makes a null→value column
    * transition count as a change instead of vanishing.
    */
  def snapshotDiff(before: DataFrame, after: DataFrame, keys: Seq[String],
                   compare: Seq[String]): DataFrame = {
    val b = before.select((keys ++ compare).map(col): _*).toDF(
      (keys ++ compare.map("b_" + _)): _*)
    val a = after.select((keys ++ compare).map(col): _*).toDF(
      (keys ++ compare.map("a_" + _)): _*)
    val changed = compare.map(c => !(col("b_" + c) <=> col("a_" + c)))
      .reduce(_ || _)
    val inB = keys.map(k => b(k).isNotNull).reduce(_ && _)
    val inA = keys.map(k => a(k).isNotNull).reduce(_ && _)
    // coalesce the key out of whichever side has the row
    val keyCols = keys.map(k => coalesce(b(k), a(k)).as(k))
    b.join(a, keys.map(k => b(k) <=> a(k)).reduce(_ && _), "full_outer")
      .withColumn("change",
        when(!inB, lit("insert"))
          .when(!inA, lit("delete"))
          .when(changed, lit("update")))
      .filter(col("change").isNotNull)
      .select(keyCols ++ Seq(col("change")) ++
        compare.flatMap(c => Seq(col("b_" + c), col("a_" + c))): _*)
  }

  /** Incremental aggregate maintenance: merge a STORED per-key aggregate
    * with the aggregate of a new DELTA batch — sums/counts re-aggregate
    * exactly (they are mergeable partial states), so the result equals a
    * full recompute without rescanning history.
    *
    * Both inputs carry (key, n, qty, revenue) where revenue is the exact
    * DECIMAL sum ([[aggState]]). At 100 TB this is THE pattern: the stored
    * aggregate is O(keys), the delta scan is O(new data), and full-history
    * rescans never happen.
    */
  def mergeAggregates(stored: DataFrame, deltaAgg: DataFrame): DataFrame =
    stored.unionByName(deltaAgg)
      .groupBy("sku")
      .agg(sum("n").as("n"), sum("qty").as("qty"),
        sum("revenue").as("revenue"))

  /** Mergeable per-SKU aggregate state over lineitem rows: count, quantity
    * sum, exact DECIMAL revenue sum. Kept as DECIMAL (not double) so that
    * merging partial states stays association-order-free.
    */
  def aggState(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(col("l_partkey").cast("string").as("sku"))
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"),
        sum(revenueTerm).as("revenue"))

  /** Compaction plan over a file-level profile (the q227 `fileProfile`
    * shape: tbl, file, n_rows): assign consecutive files to merge bins of
    * ~`targetRows` rows and emit one manifest row per bin — the policy
    * step between "observe the small-file problem" (q227) and "rewrite"
    * ([[graft.load.Sinks]]). Assignment is ORDER-PRESERVING: files are
    * taken in name order and binned by exclusive-prefix-sum div target,
    * so a sorted or z-ordered layout keeps its clustering envelope after
    * the merge (first-fit-by-size packing would interleave key ranges and
    * destroy min/max skipping — deliberately not offered). A file larger
    * than `targetRows` occupies its own bin(s' worth of numbering) and is
    * left unmerged (n_files = 1).
    *
    * Scale shape: the input is METADATA — one row per file (~10⁵ rows for
    * a 100 TB table), so the per-table window prefix sum never touches
    * data; pure integer arithmetic end to end, identical in any engine.
    */
  def compactionPlan(profile: DataFrame, targetRows: Long): DataFrame = {
    require(targetRows > 0, s"targetRows must be positive: $targetRows")
    val w = Window.partitionBy("tbl").orderBy("file")
      .rowsBetween(Window.unboundedPreceding, -1)
    profile
      .withColumn("__cum", coalesce(sum("n_rows").over(w), lit(0L)))
      .withColumn("bin", expr(s"__cum div ${targetRows}L"))
      .groupBy(col("tbl"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum("n_rows").as("n_rows"),
        min("file").as("first_file"), max("file").as("last_file"))
  }

  /** SCD2 history build from an event stream: per user, collapse
    * consecutive duplicate `event_type` values and emit validity intervals
    * [valid_from, valid_to) — valid_to null for the current state. The
    * slowly-changing-dimension shape every warehouse derives from a
    * change-event feed.
    *
    * Scale shape: one shuffle on the entity key; both windows (lag to
    * detect change points, lead for interval ends) share the same
    * (user_id × ts) sort, so Spark plans a single Sort + two Window ops
    * over it, no second exchange.
    */
  def scd2Intervals(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val changes = events
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val w2 = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    changes
      .withColumn("valid_to", lead("ts", 1).over(w2))
      .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
        col("valid_to"))
  }

  /** Incremental maintenance of a JOIN view (the delta-algebra sibling of
    * the aggregate IVM op): with inserts ΔA, ΔB arriving on both sides of
    * a materialized `A ⋈ B`, the updated view is
    *
    *   (A∪ΔA) ⋈ (B∪ΔB)  =  A⋈B  ∪  ΔA⋈B  ∪  A⋈ΔB  ∪  ΔA⋈ΔB
    *
    * and the right-hand side touches the BASE tables only through
    * delta-keyed joins — at 100 TB that is delta-sized work against a
    * key-partitioned (bucketed) base instead of a full recompute. This
    * returns the right-hand side; the driver's hash equality against the
    * full-join oracle is the IVM correctness certificate.
    *
    * Columns: the caller projects both inputs to the final view schema
    * plus the join `key` before calling; all four terms union by name.
    */
  def incrementalJoinView(baseA: DataFrame, deltaA: DataFrame,
                          baseB: DataFrame, deltaB: DataFrame,
                          key: String): DataFrame = {
    def j(l: DataFrame, r: DataFrame) = l.join(r, Seq(key))
    j(baseA, baseB)
      .unionByName(j(deltaA, baseB))
      .unionByName(j(baseA, deltaB))
      .unionByName(j(deltaA, deltaB))
  }
}
