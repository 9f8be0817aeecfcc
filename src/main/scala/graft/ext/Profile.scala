package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Column-level data profiling — the "what did this load actually bring
  * in" sweep that gates a pipeline run: row count, non-null count, and
  * exact distinct cardinality per column, as data (one row per column) so
  * downstream checks can assert on it like any other table.
  */
object Profile {

  /** One row per profiled column: (col_name, n_rows, n_nonnull,
    * n_distinct). Distinct counts are EXACT (`count(distinct)`): Catalyst
    * plans the multi-distinct aggregate as one Expand pass (input
    * replicated once per distinct column) — the honest cost of exactness.
    * At 100 TB profile scope, either narrow `cols` or switch to the O(m)
    * mergeable [[Sketch.hllRegisters]] registers per column and accept
    * ±~13%; this operator is the exact gate, the sketch is the monitor.
    *
    * All counts are a single `agg` — one job, one result row — then a
    * literal explode to the per-column shape (driver-size data by
    * construction).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val unknown = cols.filterNot(df.columns.contains)
    require(unknown.isEmpty, s"unknown columns: ${unknown.mkString(", ")}")
    val aggs = count(lit(1)).as("__n") +:
      cols.flatMap(c => Seq(
        count(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c")))
    val one = df.agg(aggs.head, aggs.tail: _*)
    one.select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        col(s"__nn_$c").as("n_nonnull"),
        col(s"__nd_$c").as("n_distinct"))): _*)).as("p"))
      .select(col("p.col_name"), col("p.n_rows"), col("p.n_nonnull"), col("p.n_distinct"))
  }

  /** Pre-join skew report: for a planned `left ⋈ right` equi-join, the
    * top-k keys by PREDICTED output fan-out (cnt_left · cnt_right) — the
    * diagnosis a 100 TB join runs BEFORE shipping data, because one
    * celebrity key turns a clean shuffle join into a straggler (the
    * hazard [[graft.operators.SkewJoin]] salts away; this report tells
    * you whether you need it, and on which keys). Output: `(key,
    * cnt_left, cnt_right, est_rows)`, est_rows exact.
    *
    * Scale shape: two per-key partial-agg counts (each side collapsed
    * map-side), an equi-join of the two keyspace-sized count relations,
    * and a TakeOrdered top-k — k rows to the driver, facts never
    * reshuffled. (The count relations are exactly the statistics a salted
    * replan consumes next.)
    */
  def joinSkewReport(left: DataFrame, lKey: String,
                     right: DataFrame, rKey: String, k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val lc = left.groupBy(col(lKey).as("key")).agg(count(lit(1)).as("cnt_left"))
    val rc = right.groupBy(col(rKey).as("key")).agg(count(lit(1)).as("cnt_right"))
    lc.join(rc, "key")
      .select(col("key"), col("cnt_left"), col("cnt_right"),
        expr("cast(cnt_left as decimal(38,0)) * cnt_right").cast("long").as("est_rows"))
      .orderBy(col("est_rows").desc, col("key")).limit(k)
  }

  /** Column-level drift between two snapshots of the same table — the
    * schema-health diff a pipeline runs between loads to catch a feed
    * silently going null-heavy or a key column collapsing its
    * cardinality. Each side is one [[profile]] pass; the join is
    * per-COLUMN (profile output rows), so the comparison is
    * metadata-sized regardless of table size. Null rates are integer ppm
    * (`10⁶·nulls div rows` — BIGINT-exact cross-engine), drift is the
    * signed ppm delta, and distinct cardinality moves as a signed count.
    */
  def profileDrift(before: DataFrame, after: DataFrame,
                   cols: Seq[String]): DataFrame = {
    def side(df: DataFrame, sfx: String): DataFrame =
      profile(df, cols).select(
        col("col_name"),
        col("n_rows").as(s"rows_$sfx"),
        col("n_nonnull").as(s"nonnull_$sfx"),
        col("n_distinct").as(s"distinct_$sfx"))
    def nullPpm(rows: String, nonnull: String): org.apache.spark.sql.Column =
      when(col(rows) === 0, lit(0L))
        .otherwise(expr(s"(1000000 * ($rows - $nonnull)) div $rows"))
    side(before, "a").join(side(after, "b"), Seq("col_name"))
      .withColumn("null_ppm_a", nullPpm("rows_a", "nonnull_a"))
      .withColumn("null_ppm_b", nullPpm("rows_b", "nonnull_b"))
      .withColumn("null_drift_ppm", col("null_ppm_b") - col("null_ppm_a"))
      .withColumn("distinct_delta", col("distinct_b") - col("distinct_a"))
      .select("col_name", "rows_a", "rows_b", "distinct_a", "distinct_b",
        "null_ppm_a", "null_ppm_b", "null_drift_ppm", "distinct_delta")
  }

  /** In-flight pipeline audit via `Dataset.observe` (CollectMetrics):
    * row count, per-column non-null counts, and an integer-cents sum
    * piggyback on whatever action the caller already runs — at 100 TB
    * this is the ONLY free way to know what a stage actually processed
    * ([[profile]] is a second full scan; this is zero extra passes, the
    * metrics ride the task completion events). Read the numbers from the
    * returned [[org.apache.spark.sql.Observation]] after any action:
    * `obs.get("rows")`. Works identically under streaming (per-batch via
    * QueryProgressEvent.observedMetrics).
    */
  def audited(df: DataFrame, name: String, valueCol: String,
              auditCols: Seq[String]): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(name)
    val nonnulls = auditCols.map(c => count(col(c)).as(s"nonnull_$c"))
    val metrics = Seq(count(lit(1)).as("rows"),
      sum(expr(s"cast(round($valueCol * 100) as bigint)")).as("sum_cents")) ++ nonnulls
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }

  /** Population Stability Index between two snapshots of a categorical
    * (or pre-binned) column — the standard drift monitor a scoring/serving
    * pipeline alarms on (rule of thumb: total PSI < 0.1 stable, 0.1–0.25
    * drifting, > 0.25 shifted). Per bin:
    * `(p_a − p_b) · ln(p_a / p_b)` with Laplace-smoothed shares
    * `p = (n + 1) / (N + bins)` — smoothing makes bins present in only
    * one snapshot finite, deterministically. Emits one row per bin with
    * exact counts, integer-ppm raw shares, and the PSI contribution
    * rounded to 6 decimals (the repo's cross-engine float policy: exact
    * integers in, one rounded double out); total PSI = SUM(psi_contrib).
    *
    * Scale shape: one groupBy per snapshot (bin-keyed, partial-agg), a
    * full outer join on the BIN keyspace, totals broadcast back — the
    * facts are each read once and never joined to each other.
    */
  def psiDrift(before: DataFrame, after: DataFrame, binCol: String): DataFrame = {
    val ca = before.groupBy(col(binCol).as("bin"))
      .agg(count(lit(1)).as("n_before"))
    val cb = after.groupBy(col(binCol).as("bin"))
      .agg(count(lit(1)).as("n_after"))
    val j = ca.join(cb, Seq("bin"), "full_outer")
      .na.fill(0L, Seq("n_before", "n_after"))
    val tot = j.agg(sum("n_before").as("t_before"),
      sum("n_after").as("t_after"), count(lit(1)).as("n_bins"))
    j.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_before"), col("n_after"),
        expr("n_before * 1000000 div t_before").as("share_before_ppm"),
        expr("n_after * 1000000 div t_after").as("share_after_ppm"),
        expr("""round(
          ((CAST(n_before + 1 AS DOUBLE) / (t_before + n_bins))
           - (CAST(n_after + 1 AS DOUBLE) / (t_after + n_bins)))
          * ln((CAST(n_before + 1 AS DOUBLE) / (t_before + n_bins))
             / (CAST(n_after + 1 AS DOUBLE) / (t_after + n_bins))), 6)""")
          .as("psi_contrib"))
  }

  /** Embedding-space drift monitor — [[psiDrift]]'s companion for the
    * VECTOR column: per dimension, the shift of the mean embedding
    * between two corpus snapshots, reported as the top-k most-shifted
    * dimensions. An encoder change, a source-mix change, or a scraper
    * regression moves the centroid long before any scalar profile
    * notices; the per-dimension readout localizes WHICH directions moved
    * (dims the PCA loadings q250 names can then interpret).
    *
    * Exactness: vectors quantize to the engine-wide ⌊x·10⁶ + 0.5⌋ fixed
    * point; per-dim sums are exact DECIMAL(38,0), and the mean shift is
    * the cross-multiplied `|s_a·n_b − s_b·n_a| div (n_a·n_b)` — micro
    * units end to end, no float. Ties break to the lower dim.
    *
    * Scale shape: one posexplode + dim-keyed aggregate per side (the
    * q250 moment pass without the triangle), then everything lives on
    * the dim keyspace; top-k is a TakeOrdered over ≤ dim rows.
    */
  def embeddingDrift(before: DataFrame, after: DataFrame, k: Int = 10,
                     vecCol: String = "embedding"): DataFrame =
    embeddingDriftFromMoments(dimMoments(before, vecCol),
      dimMoments(after, vecCol), k)

  /** Per-dimension moment rows (dim, s, n) of a quantized embedding
    * corpus — the sufficient statistic [[embeddingDrift]] consumes, and
    * exactly what the streaming twin
    * ([[graft.streaming.Streams.embeddingMomentsHourly]]) emits per
    * closed window: moments are additive, so streamed windows merge with
    * batch snapshots by plain (dim-keyed) summation.
    */
  def dimMoments(df: DataFrame, vecCol: String = "embedding"): DataFrame =
    df.select(Clustering.quantize(col(vecCol)).as("v"))
      .select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(sum(col("x").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("n"))

  /** The drift READOUT over two moment tables (each (dim, s, n) — from
    * [[dimMoments]], a streamed window, or any merge of both): top-k
    * most-shifted dimensions by the exact cross-multiplied mean shift.
    * `s` is re-widened to DECIMAL(38,0) on entry, so BIGINT moment rows
    * (the streaming boundary type) evaluate identically to the batch
    * decimal path — ONE readout for both modes.
    */
  def embeddingDriftFromMoments(before: DataFrame, after: DataFrame,
                                k: Int = 10): DataFrame =
    before.select(col("dim"), col("s").cast("decimal(38,0)").as("sa"),
        col("n").as("na"))
      .join(after.select(col("dim"), col("s").cast("decimal(38,0)").as("sb"),
        col("n").as("nb")), Seq("dim"))
      .select(col("dim"),
        expr("sa div na").as("mean_a_micro"),
        expr("sb div nb").as("mean_b_micro"),
        expr("""abs(sa * cast(nb as decimal(38,0))
                    - sb * cast(na as decimal(38,0)))
                div (cast(na as decimal(38,0)) * nb)""").as("shift_micro"))
      .orderBy(col("shift_micro").desc, col("dim"))
      .limit(k)

  /** The optimizer-statistics layer, certified: build a `buckets`-bucket
    * EQUI-DEPTH histogram on an integer column (the ANALYZE artifact),
    * estimate a pinned grid of range predicates from it by
    * uniform-within-bucket interpolation (the textbook System-R
    * estimator), and put each estimate NEXT TO the exact count — the
    * table that says whether this column's statistics can be trusted to
    * drive join ordering and partition pruning at 100 TB.
    *
    * Rank algebra, not a rank column: the corpus collapses FIRST to the
    * distinct-value histogram (one groupBy shuffle, map-side combined),
    * and each distinct value carries its 0-based rank interval
    * `[cum−cnt, cum−1]` from a running sum over the DOMAIN (d rows, not
    * n). Bucket of rank r is `r·B div n` (sizes differ by ≤ 1); a value
    * whose interval straddles buckets contributes its exact rank overlap
    * to each — so bucket counts, lo, and hi are all tie-INVARIANT by
    * construction (no per-row row_number whose tie order could differ
    * between engines). Predicate j covers
    * `[vmin + span·j div (nPreds+2), vmin + span·(j+3) div (nPreds+2))` —
    * overlapping windows spanning the domain, all integer. Estimate per
    * bucket: `cnt·overlap div width`, width = hi−lo+1.
    *
    * Scale shape: the only corpus-sized work is the distinct-value
    * collapse; the cumulative window runs over the value DOMAIN (for the
    * FK/enum/banded columns statistics get built on, d ≪ n — and a
    * production ANALYZE samples first anyway). The exact arm reads the
    * same collapsed histogram, so certification adds keyspace arithmetic,
    * not a second corpus pass.
    */
  def selectivityAudit(df: DataFrame, valueCol: org.apache.spark.sql.Column,
                       buckets: Int = 32, nPreds: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2 && nPreds >= 1, "bad selectivityAudit params")
    val vals = df.select(valueCol.cast("long").as("x"))
      .filter(col("x").isNotNull)
    // ONE corpus pass: collapse to (value, cnt) — everything below is
    // domain-sized
    val vc = vals.groupBy("x").agg(count(lit(1)).as("cnt"))
    val tot = vc.agg(sum(col("cnt")).as("n"), min(col("x")).as("vmin"),
      max(col("x")).as("vmax"))
    val cum = vc
      // keyspace-sized window: input is collapsed/bounded before this sort
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("x"))))
      .crossJoin(broadcast(tot.select(col("n"))))
    // value occupies 0-based ranks [cum−cnt, cum−1] → buckets b0..b1;
    // bucket b owns ranks [ceil(b·n/B), ceil((b+1)·n/B)−1]
    val hist = cum
      .withColumn("b0", expr(s"(cum - cnt) * $buckets div n"))
      .withColumn("b1", expr(s"(cum - 1) * $buckets div n"))
      .select(col("x"), col("cnt"), col("cum"), col("n"),
        explode(sequence(col("b0"), col("b1"))).as("bucket"))
      .withColumn("rlo", expr(s"(bucket * n + ${buckets - 1}) div $buckets"))
      .withColumn("rhi",
        expr(s"((bucket + 1) * n + ${buckets - 1}) div $buckets - 1"))
      .withColumn("ov",
        least(col("cum") - 1, col("rhi"))
          - greatest(col("cum") - col("cnt"), col("rlo")) + 1)
      .groupBy(col("bucket"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"),
        sum(col("ov")).as("cnt"))
    val grid = tot.select(
      explode(array((0 until nPreds).map(j => lit(j.toLong)): _*)).as("pred_id"),
      (col("vmax") - col("vmin") + 1L).as("span"), col("vmin"))
      .select(col("pred_id"),
        expr(s"vmin + span * pred_id div ${nPreds + 2}").as("p_lo"),
        expr(s"vmin + span * (pred_id + 3) div ${nPreds + 2}").as("p_hi"))
    val est = hist.crossJoin(broadcast(grid))
      .withColumn("ov", greatest(lit(0L),
        least(col("p_hi"), col("hi") + 1L) - greatest(col("p_lo"), col("lo"))))
      .withColumn("contrib", expr("cnt * ov div (hi - lo + 1)"))
      .groupBy(col("pred_id"), col("p_lo"), col("p_hi"))
      .agg(sum(col("contrib")).as("est_rows"))
    // exact arm reads the SAME collapsed histogram — no second fact pass
    val exact = vc.crossJoin(broadcast(grid))
      .filter(col("x") >= col("p_lo") && col("x") < col("p_hi"))
      .groupBy(col("pred_id"))
      .agg(sum(col("cnt")).as("exact_rows"))
    est.join(exact, Seq("pred_id"), "left")
      .withColumn("exact_rows", coalesce(col("exact_rows"), lit(0L)))
      .withColumn("err_ppm",
        expr("est_rows * 1000000L div greatest(exact_rows, 1L) - 1000000L"))
  }

  /** mixHash family block for the corpus version digest: (430, 431). */
  val DigestJ: Int = 430

  /** Order-independent, MERGEABLE, SUBTRACTABLE content digest per source
    * — the dataset-versioning primitive: two corpus versions compare by
    * digest without a row-level diff, a shard's digest is the sum of its
    * partitions' digests (map-side combine all the way), and an
    * incremental append/delete updates the digest by adding/subtracting
    * the delta's digest — no rescan of the 100 TB base.
    *
    * digest = Σ_docs mixHash(rollingFp(text), DigestJ)  mod 2⁶¹
    *
    * The content fingerprint is the position-weighted rolling fingerprint
    * (order- and multiplicity-sensitive — byte-level edits move it), the
    * mixHash scatter prevents structured fingerprints from cancelling in
    * the sum, and the sum rides DECIMAL(38,0) so a 10¹⁵-doc corpus cannot
    * overflow before the final mod. A null text contributes nothing
    * (SUM skips nulls in every engine).
    */
  def corpusDigest(docs: DataFrame, srcCol: String = "source",
                   textCol: String = "text"): DataFrame = {
    val mod = 1L << 61
    val h = Dedup.mixHash(
      graft.ext.TextAnalysis.rollingFingerprint(col(textCol)), DigestJ)
    docs.groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(h.cast("decimal(38,0)")).as("__s"))
      .select(col(srcCol), col("n_docs"),
        expr(s"cast(__s % ${mod}L as bigint)").as("digest"))
  }
}
