package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Distributed as-of join (time-series enrichment): for every left row,
  * attach the single latest right row with `right.ts ≤ left.ts` in the same
  * key group — the operator behind "join each event to the most recent
  * state/quote/snapshot at that moment". Spark has no native ASOF JOIN;
  * a naive range-join formulation (`l.key = r.key AND r.ts <= l.ts` then
  * keep the max) explodes into a per-key cross product before pruning —
  * quadratic in rows-per-key, fatal at 100 TB.
  *
  * This implementation is the tag-union-scan shape: tag both sides, union,
  * and take a running `last(right_payload, ignoreNulls)` over
  * (key ORDER BY ts, right-before-left) — ONE shuffle on the key, one sort,
  * linear scan, no intermediate pair blowup. Exactly the plan a
  * hand-written MergeJoin-style SparkPlan would produce, with AQE-managed
  * partitioning for free.
  *
  * Contracts: `right` must be unique per (keys, ts) — pre-aggregate
  * duplicates first (the same requirement that makes a native ASOF JOIN
  * deterministic). Ties `right.ts == left.ts` match (inclusive). Left rows
  * with no earlier right row survive with null payload (left-outer).
  * Key groups hashed to one partition each: a single pathologically hot key
  * serializes — time-slice + boundary replication is the known extension
  * if that arises.
  */
object AsOfJoin {

  /** Internal column names staged by the tag-union-scan plan; inputs must
    * not already use them (asserted — a silent collision would produce
    * ambiguous columns instead of a clear error).
    */
  private val reserved = Set("__t", "__lv", "__rv", "__side", "__m", "__mb", "__mf")

  def asOf(left: DataFrame, right: DataFrame, keys: Seq[String], tsCol: String,
           prefix: String = "asof_"): DataFrame =
    scan(left, right, keys, tsCol, prefix, Backward)

  /** Forward as-of (pandas merge_asof `direction='forward'`): for every
    * left row, the EARLIEST right row with `right.ts ≥ left.ts` in the key
    * group — "the next quote/state AFTER this moment". The same
    * tag-union-scan mirrored: the running aggregate looks from the current
    * row forward and takes the FIRST right payload; at equal ts the left
    * row sorts before the right, so ties match (inclusive), symmetric to
    * [[asOf]]. Same contracts and cost shape.
    */
  def asOfForward(left: DataFrame, right: DataFrame, keys: Seq[String],
                  tsCol: String, prefix: String = "asof_"): DataFrame =
    scan(left, right, keys, tsCol, prefix, Forward)

  /** [[asOf]] with a staleness bound (pandas merge_asof `tolerance`): a
    * match more than `toleranceUs` microseconds older than the left row is
    * nulled out — the left row survives unmatched, exactly as if no right
    * row existed. A thin null-out projection over [[asOf]] (the matched
    * right timestamp is already in its output), so the join plan is
    * unchanged: same one shuffle, no extra scan.
    */
  def asOfTolerance(left: DataFrame, right: DataFrame, keys: Seq[String],
                    tsCol: String, toleranceUs: Long,
                    prefix: String = "asof_"): DataFrame = {
    require(toleranceUs >= 0, "toleranceUs must be non-negative")
    val out = asOf(left, right, keys, tsCol, prefix)
    val matchedTs = col(prefix + tsCol)
    val stale = matchedTs.isNotNull &&
      (unix_micros(col(tsCol)) - unix_micros(matchedTs)) > toleranceUs
    // ONE projection: sequential withColumn calls would null the matched
    // ts first and every later column's staleness test would then read
    // the already-nulled value and pass
    out.select(out.columns.toSeq.map { c =>
      if (c.startsWith(prefix))
        when(stale, lit(null).cast(out.schema(c).dataType)).otherwise(col(c)).as(c)
      else col(c)
    }: _*)
  }

  /** Nearest as-of (pandas merge_asof `direction='nearest'`): the right
    * row with the smallest |right.ts − left.ts| in the key group, ties
    * broken BACKWARD (the at-or-before candidate wins — pandas' rule).
    * BOTH running aggregates (backward last, forward first) run over the
    * SAME tagged union in one plan: still ONE key exchange (the second
    * window reuses the partitioning and re-sorts), no join-back — so
    * duplicate left rows stay row-wise correct, where a self-join
    * composition would cross-match them.
    */
  def asOfNearest(left: DataFrame, right: DataFrame, keys: Seq[String],
                  tsCol: String, prefix: String = "asof_"): DataFrame =
    scan(left, right, keys, tsCol, prefix, Nearest)

  /** The two halves of the tagged union every as-of scan sorts: rows
    * `(keys…, __t, __lv, __rv, __side)`, a left row carrying itself as the
    * `__lv` struct (side 0) and a right row its ts and payload under
    * `prefix` as `__rv` (side 1), each null on the other side. A right
    * row with a null ts or key is dropped: it can never be a match, but
    * would sort first and pollute the running last() (a null ts), or
    * match null-key left rows, which neither equi-join semantics nor the
    * DuckDB ASOF oracle allow (a null key).
    */
  private def taggedSides(left: DataFrame, right: DataFrame, keys: Seq[String],
                          tsCol: String, prefix: String,
                          payloadCols: Seq[String]): (DataFrame, DataFrame) = {
    val lvType = StructType(left.schema.fields)
    val rvType = StructType(
      StructField(prefix + tsCol, right.schema(tsCol).dataType, nullable = true) +:
        payloadCols.map(c => StructField(prefix + c, right.schema(c).dataType, nullable = true)))
    val lt = left.select(
      keys.map(col) ++ Seq(
        col(tsCol).as("__t"),
        struct(left.columns.toSeq.map(col): _*).as("__lv"),
        lit(null).cast(rvType).as("__rv"),
        lit(0).as("__side")): _*)
    val rt = right
      .filter(keys.map(col(_).isNotNull).foldLeft(col(tsCol).isNotNull)(_ && _))
      .select(
        keys.map(col) ++ Seq(
          col(tsCol).as("__t"),
          lit(null).cast(lvType).as("__lv"),
          struct(col(tsCol).as(prefix + tsCol) +:
            payloadCols.map(c => col(c).as(prefix + c)): _*).as("__rv"),
          lit(1).as("__side")): _*)
    (lt, rt)
  }

  /** An as-of scan's output columns: every left column read back from
    * `__lv`, then the match's prefixed ts and payload read from the
    * struct column `matched`.
    */
  private def outputCols(left: DataFrame, tsCol: String, prefix: String,
                         payloadCols: Seq[String], matched: String): Seq[Column] =
    left.columns.toSeq.map(c => col(s"__lv.$c").as(c)) ++
      (tsCol +: payloadCols).map(f => col(s"$matched.$prefix$f").as(prefix + f))

  private sealed trait Mode
  private case object Backward extends Mode
  private case object Forward extends Mode
  private case object Nearest extends Mode

  private def scan(left: DataFrame, right: DataFrame, keys: Seq[String],
                   tsCol: String, prefix: String, mode: Mode): DataFrame = {
    val payloadCols = right.columns.toSeq.filterNot(c => keys.contains(c) || c == tsCol)
    val clash = (left.columns ++ right.columns).filter(reserved)
    require(clash.isEmpty, s"asOf reserved column names present in input: ${clash.mkString(", ")}")
    val outClash = left.columns.toSet
      .intersect((tsCol +: payloadCols).map(prefix + _).toSet)
    require(outClash.isEmpty,
      s"asOf output names collide with left columns: ${outClash.mkString(", ")} (choose another prefix)")
    val (lt, rt) = taggedSides(left, right, keys, tsCol, prefix, payloadCols)

    // backward: right sorts before left at equal ts (side desc) and the
    // running last() looks back — inclusive latest-≤ match. Forward: left
    // sorts before right at equal ts (side asc) and a first() looks
    // ahead — inclusive earliest-≥ match. Nearest runs both over the one
    // union (one exchange; the second window re-sorts in place) and picks
    // by lag, ties backward; it requires a TIMESTAMP tsCol (the lag
    // comparison is µs arithmetic).
    val base = Window.partitionBy(keys.map(col): _*)
    val wBack = base.orderBy(col("__t").asc, col("__side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = base.orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)

    val outCols = outputCols(left, tsCol, prefix, payloadCols, "__m")

    val union = lt.unionByName(rt)
    val withMatch = mode match {
      case Backward =>
        union.withColumn("__m", last(col("__rv"), ignoreNulls = true).over(wBack))
      case Forward =>
        union.withColumn("__m", first(col("__rv"), ignoreNulls = true).over(wFwd))
      case Nearest =>
        val u = union
          .withColumn("__mb", last(col("__rv"), ignoreNulls = true).over(wBack))
          .withColumn("__mf", first(col("__rv"), ignoreNulls = true).over(wFwd))
        val bts = col("__mb").getField(prefix + tsCol)
        val fts = col("__mf").getField(prefix + tsCol)
        val backLag = unix_micros(col("__t")) - unix_micros(bts)
        val fwdLag = unix_micros(fts) - unix_micros(col("__t"))
        val pickBackward = bts.isNotNull && (fts.isNull || backLag <= fwdLag)
        u.withColumn("__m", when(pickBackward, col("__mb")).otherwise(col("__mf")))
    }
    withMatch
      .filter(col("__side") === 0)
      .select(outCols: _*)
  }

  /** Hot-key-hardened as-of join: identical semantics to [[asOf]], but the
    * per-key scan is TIME-SLICED so one pathologically hot key no longer
    * serializes on a single partition.
    *
    * Shape: rows hash to (keys, slice) — parallelism = keys × slices. A
    * left row's match is either inside its own slice (the same running
    * last() as [[asOf]], now per slice) or the boundary state entering the
    * slice: the latest right row of any EARLIER slice. Boundary propagation
    * runs per key over one summary row per occupied slice — the per-key
    * serial work drops from O(rows-per-key) to O(slices-per-key), which is
    * the boundary-replication extension the unsliced scaladoc promises.
    *
    * `sliceWidthMs` trades parallelism (narrow slices split a hot key
    * further) against summary volume (every occupied (key, slice) yields a
    * boundary row); pick ≈ the hot key's rows-per-partition target × its
    * event spacing. Same contracts as [[asOf]]; `tsCol` must be a
    * TIMESTAMP. Slice ids floor exactly (integer div — no double rounding
    * at any epoch magnitude).
    */
  def asOfSliced(left: DataFrame, right: DataFrame, keys: Seq[String], tsCol: String,
                 sliceWidthMs: Long, prefix: String = "asof_"): DataFrame = {
    require(sliceWidthMs > 0, "sliceWidthMs must be positive")
    val payloadCols = right.columns.toSeq.filterNot(c => keys.contains(c) || c == tsCol)
    val reservedSliced = reserved ++ Set("__um", "__slice", "__rn", "__sv", "__prev", "__f")
    val clash = (left.columns ++ right.columns).filter(reservedSliced)
    require(clash.isEmpty, s"asOfSliced reserved column names present in input: ${clash.mkString(", ")}")
    val outClash = left.columns.toSet
      .intersect((tsCol +: payloadCols).map(prefix + _).toSet)
    require(outClash.isEmpty,
      s"asOfSliced output names collide with left columns: ${outClash.mkString(", ")} (choose another prefix)")

    val widthUs = Math.multiplyExact(sliceWidthMs, 1000L)
    def withSlice(df: DataFrame): DataFrame =
      df.withColumn("__um", unix_micros(col("__t")))
        .withColumn("__slice", expr(s"(__um - pmod(__um, ${widthUs}L)) div ${widthUs}L"))
        .drop("__um")

    val (lt, rt) = taggedSides(left, right, keys, tsCol, prefix, payloadCols) match {
      case (l, r) => (withSlice(l), withSlice(r))
    }

    val keySlice = keys :+ "__slice"
    // one summary row per occupied (key, slice): the slice's latest right payload
    val sliceLatest = rt
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keySlice.map(col): _*).orderBy(col("__t").desc)))
      .filter(col("__rn") === 1)
      .select(keySlice.map(col) :+ col("__rv").as("__sv"): _*)
    // boundary entering each slice = latest right payload of any earlier
    // occupied slice; the per-key window runs over slice SUMMARIES, not rows
    val allSlices = lt.select(keySlice.map(col): _*)
      .unionByName(rt.select(keySlice.map(col): _*)).distinct()
    val boundary = allSlices.join(sliceLatest, keySlice, "left")
      .withColumn("__prev", last(col("__sv"), ignoreNulls = true).over(
        Window.partitionBy(keys.map(col): _*).orderBy(col("__slice"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(keySlice.map(col) :+ col("__prev"): _*)

    val w = Window.partitionBy(keySlice.map(col): _*)
      .orderBy(col("__t").asc, col("__side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val outCols = outputCols(left, tsCol, prefix, payloadCols, "__f")

    lt.unionByName(rt)
      .withColumn("__m", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 0)
      .join(boundary, keySlice, "left")
      .withColumn("__f", coalesce(col("__m"), col("__prev")))
      .select(outCols: _*)
  }
}
