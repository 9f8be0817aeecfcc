package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.Pin.PinOps

/** Data-quality operators: declarative constraint validation (the
  * Deequ-shaped check report a pipeline runs before publishing a table)
  * and robust statistical outlier detection (median/MAD — resistant to
  * the very outliers it hunts, unlike mean/stddev z-scores).
  *
  * Exactness policy: medians here are LOWER medians picked by BY-VALUE
  * cumulative counting — an element of the data, no interpolation
  * arithmetic — so every derived number (median, MAD, outlier count) is
  * bit-identical in any engine. The q66 by-value trick, generalized to
  * double-valued columns.
  */
object Quality {

  /** One row-local constraint: a name and a violation predicate. */
  final case class Check(name: String, violated: Column)

  /** Constraint report over one table: every [[Check]] is a conditional
    * count folded into ONE aggregate over ONE scan (however many checks),
    * then stacked to (constraint, violations, checked) rows. Uniqueness
    * rides in the same pass as `count − countDistinct`.
    *
    * Scale shape: the whole report is a single partial-agg scan — adding
    * a 20th check adds a column to the aggregate, not a 20th job. (A
    * referential-integrity check needs a second relation — see
    * [[fkViolations]] — and composes by union.)
    */
  def constraintReport(df: DataFrame, checks: Seq[Check],
                       uniqueKey: Option[String] = None): DataFrame = {
    require(checks.nonEmpty || uniqueKey.nonEmpty, "no constraints given")
    val aggs =
      checks.map(c => sum(when(c.violated, 1L).otherwise(0L)).as("v_" + c.name)) ++
        uniqueKey.map(k =>
          (count(lit(1)) - count_distinct(col(k))).as("v_unique_" + k))
    val names = checks.map(_.name) ++ uniqueKey.map("unique_" + _)
    val one = df.agg(count(lit(1)).as("checked"), aggs: _*)
    val stackArgs = names
      .map(n => s"'$n', v_$n").mkString(", ")
    one.select(
      expr(s"stack(${names.size}, $stackArgs) as (constraint, violations)"),
      col("checked"))
  }

  /** Referential-integrity violation row for the report: fact keys with no
    * match in the dimension — a left-anti join (broadcast when the dim is
    * small), counted. Output shape matches [[constraintReport]].
    */
  def fkViolations(fact: DataFrame, factKey: String, dim: DataFrame,
                   dimKey: String, name: String): DataFrame = {
    val total = fact.agg(count(lit(1)).as("checked"))
    fact.join(dim, col(factKey) === col(dimKey), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit(name).as("constraint"), col("violations"))
      .crossJoin(total)
  }

  /** Per-group LOWER median by value: group values, cumulative-count them
    * in value order, pick the value whose cumulative range covers position
    * ⌊(n+1)/2⌋. One shuffle (the value groupBy); both window functions
    * (running and total count) share one sort. No interpolation — the
    * result is an element of the data, bit-portable across engines.
    */
  def lowerMedianBy(df: DataFrame, grpCol: String, valCol: String,
                    outCol: String): DataFrame = {
    val counts = df.groupBy(col(grpCol), col(valCol).as("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val wRun = Window.partitionBy(grpCol).orderBy(col("__v"))
    val wAll = Window.partitionBy(grpCol)
    counts
      .withColumn("__cum", sum("__cnt").over(wRun))
      .withColumn("__n", sum("__cnt").over(wAll))
      .filter(col("__cum") - col("__cnt") < expr("(__n + 1) div 2")
        && expr("(__n + 1) div 2") <= col("__cum"))
      .select(col(grpCol), col("__v").as(outCol))
  }

  /** Per-group percentile rank (cumulative distribution) in exact integer
    * ppm: for every distinct (group, value), `cume_ppm = (Σ_{v' ≤ v}
    * cnt(v')) · 10⁶ div n` — the exact-integer `cume_dist`. The
    * within-group normalization step real pipelines run before a GLOBAL
    * quality cut (a raw threshold over heterogeneous domains keeps whole
    * domains; "keep each domain's top 30%" is this rank + a filter).
    * Numerator carried in DECIMAL(38,0) (cum·10⁶ passes 2⁶³ beyond ~9·10¹²
    * rows per group).
    *
    * Scale shape: the fact collapses FIRST to (group, value) counts —
    * one partial-agg shuffle — and both windows (running + total) run
    * over the collapsed relation sharing one group-key exchange, the
    * [[lowerMedianBy]] discipline. Output is one row per DISTINCT value,
    * not per fact row.
    */
  def percentileRankBy(df: DataFrame, grpCol: String, valCol: String): DataFrame = {
    val counts = df.groupBy(col(grpCol), col(valCol).as("value"))
      .agg(count(lit(1)).as("cnt"))
    val wRun = Window.partitionBy(grpCol).orderBy(col("value"))
    val wAll = Window.partitionBy(grpCol)
    counts.withColumn("cum", sum("cnt").over(wRun))
      .withColumn("n", sum("cnt").over(wAll))
      .select(col(grpCol), col("value"), col("cnt"),
        expr("(cast(cum as decimal(38,0)) * 1000000) div n").as("cume_ppm"))
  }

  /** Domain-normalized top-fraction cut: keep each group's top
    * `keepTopPpm` fraction BY VALUE — a row survives iff its value's
    * within-group cumulative ppm ([[percentileRankBy]]) exceeds
    * `10⁶ − keepTopPpm`. The heterogeneity fix for global quality
    * thresholds: a raw cut keeps whole easy domains and drops whole hard
    * ones; "top 30% of EACH source" is this gate. Whole value classes
    * keep or drop together (value ties are never split — deterministic,
    * and the kept fraction is exact only up to tie granularity, which is
    * the honest semantic for a value-based cut). Output: the input rows
    * + (cume_ppm, kept).
    *
    * Scale shape: the rank table is one distinct-value-sized relation
    * ([[percentileRankBy]]'s one group-key exchange); rows join back on
    * (group, value) — broadcast-eligible whenever the distinct-value
    * space is small.
    */
  def domainNormalizedCut(df: DataFrame, grpCol: String, valCol: String,
                          keepTopPpm: Long): DataFrame = {
    require(keepTopPpm >= 0 && keepTopPpm <= 1000000,
      s"keepTopPpm out of [0, 1e6]: $keepTopPpm")
    val ranks = percentileRankBy(df, grpCol, valCol)
      .select(col(grpCol), col("value").as(valCol), col("cume_ppm"))
    df.join(ranks, Seq(grpCol, valCol))
      .withColumn("kept", col("cume_ppm") > lit(1000000L - keepTopPpm))
  }

  /** Exact per-group mode — the most frequent value, ties to the SMALLEST
    * value (deterministic in any engine; no "arbitrary element" modes).
    * Completes the descriptive-statistics row (median / weighted median /
    * MAD / quantiles / winsorized mean / mode). Output:
    * `(group, outCol, outCol_n)` — the winning value and its count.
    *
    * Scale shape: the fact collapses to (group, value) counts — one
    * partial-agg shuffle — then the arg-max is a second partial-friendly
    * aggregate `max(struct(count, -value))` over the collapsed relation
    * (no window, no sort). Value must be numeric for the negation trick;
    * the aggregate state is one pair per group.
    */
  def modeBy(df: DataFrame, grpCol: String, valCol: String,
             outCol: String): DataFrame =
    df.groupBy(col(grpCol), col(valCol).as("__v"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col(grpCol))
      .agg(max(struct(col("__cnt"), (-col("__v")).as("__negv"))).as("__best"))
      .select(col(grpCol), (-col("__best")("__negv")).as(outCol),
        col("__best")("__cnt").as(s"${outCol}_n"))

  /** Exact categorical diversity per group — Gini impurity
    * `1 − Σ (cᵢ/n)²` reported in exact integer ppm:
    * `((n² − Σcᵢ²) · 10⁶) div n²`, all arithmetic in DECIMAL(38,0) (n²
    * passes 2⁶³ beyond ~3·10⁹ rows per group). 0 = all one category
    * (a bot hammering one event type), → 1 − 1/k for uniform spread over
    * k categories — the log-free diversity index (entropy needs `ln`,
    * whose libm rounding is not cross-engine-pinned; Gini is rational).
    *
    * Scale shape: facts collapse to (group, category) counts — one
    * partial-agg shuffle — then one group-keyed aggregate over the
    * collapsed relation computes n and Σc² together. Nothing touches raw
    * rows twice; state is two accumulators per group.
    */
  def giniImpurityBy(df: DataFrame, grpCol: String, catCol: String): DataFrame = {
    df.groupBy(col(grpCol), col(catCol).as("__c"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col(grpCol))
      .agg(sum("__cnt").as("__n"),
        sum(expr("cast(__cnt as decimal(38,0)) * __cnt")).as("__ss"))
      .select(col(grpCol), col("__n").as("n"),
        expr("((cast(__n as decimal(38,0)) * __n - __ss) * 1000000) div (cast(__n as decimal(38,0)) * __n)")
          .as("gini_ppm"))
  }

  /** Market-concentration report (Gini coefficient, Lorenz 1905 /
    * Gini 1912, and the Herfindahl–Hirschman index, public literature)
    * over per-group value mass — "how concentrated is revenue across
    * suppliers / tokens across documents / traffic across tenants", the
    * skew audit that decides salting and quota design. EXACT integer
    * rationals in ppm:
    * `gini_ppm` = (2·Σ rank·x − (n+1)·S)·10⁶ div (n·S) with groups
    * ranked ascending by (mass, key) — the rank-of-record convention,
    * layout-invariant; `hhi_ppm` = Σx²·10⁶ div S² (10⁶ = a monopoly;
    * the antitrust 0–10,000-point scale ×100).
    *
    * Scale shape: facts collapse to the group keyspace in one
    * map-combined aggregate; the rank window orders groups only; the
    * moments are one aggregate. Envelope: Σ rank·x ≤ n·S and Σx² ≤ S² —
    * 10⁹ groups × 10¹⁵ total stay inside DECIMAL(38,0).
    */
  def concentrationReport(df: DataFrame, grpCol: String,
                          valueCol: Column): DataFrame =
    concentrationFromMass(
      df.select(col(grpCol).as("g"), valueCol.as("x"))
        .filter(col("x").isNotNull)
        .groupBy("g").agg(sum("x").as("x")))

  /** The readout core of [[concentrationReport]], shared with the stream
    * twin (q366): takes the PRE-AGGREGATED per-group mass relation
    * (g, x) — exactly what a closed-window emitter stores, since group
    * masses merge by addition across windows. NULL masses must already
    * be excluded by the caller.
    */
  def concentrationFromMass(mass: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = mass.withColumn("r", row_number().over(
      // keyspace-sized window: input is collapsed/bounded before this sort
      Window.orderBy(col("x"), col("g"))))
    ranked.agg(count(lit(1)).as("n"), sum("x").as("s"),
        expr("sum(CAST(r AS DECIMAL(38,0)) * x)").as("rx"),
        expr("sum(CAST(x AS DECIMAL(38,0)) * x)").as("xx"))
      .select(col("n").as("n_groups"), expr("CAST(s AS BIGINT)").as("total"),
        expr("CASE WHEN s = 0 THEN NULL ELSE CAST(" +
          "(2 * rx - (CAST(n AS DECIMAL(38,0)) + 1) * s) * 1000000" +
          " div (CAST(n AS DECIMAL(38,0)) * s) AS BIGINT) END").as("gini_ppm"),
        expr("CASE WHEN s = 0 THEN NULL ELSE CAST(" +
          "xx * 1000000 div (CAST(s AS DECIMAL(38,0)) * s) AS BIGINT) END")
          .as("hhi_ppm"))
  }

  /** Benford first-digit audit (Newcomb 1881 / Benford 1938, public
    * literature): the distribution of leading significant digits of a
    * positive amount column against Benford's law — the classic
    * fabricated-data / broken-feed screen. One row per digit 1–9 with
    * the observed count, observed ppm, the law's expected ppm (the
    * standard log₁₀(1+1/d) constants rounded to ppm — they sum to
    * exactly 10⁶), and the signed deviation. Digits absent from the
    * data still emit (a missing digit is the loudest signal).
    *
    * INPUT CONTRACT (mirrors the burstiness ms-resolution contract):
    * `valueCol` must be in INTEGER UNITS — counts, cents, micro-units —
    * because the column is floor-cast to BIGINT before the leading digit
    * is read. Consequences a caller must own: amounts in (0,1) truncate
    * to 0 and are EXCLUDED, and a fractional amount is bucketed by the
    * leading digit of its integer part (12.9 → digit 1), which is only
    * the leading SIGNIFICANT digit when the value is ≥ 1 and pre-scaled.
    * Pre-multiply sub-unit amounts into their smallest integer unit
    * (dollars → cents, seconds → ms) before calling; the integer path is
    * what keeps engine and oracle bit-identical — float→string leading
    * digits diverge across engines on scientific-notation thresholds.
    *
    * Scale shape: one map-combined 9-bucket aggregate over the fact
    * scan; the digit grid is constant-sized.
    */
  def benfordAudit(df: DataFrame, valueCol: Column): DataFrame =
    benfordFromDigitCounts(
      df.select(valueCol.cast("long").as("v"))
        .filter(col("v") > 0)
        .select(expr("CAST(substring(CAST(v AS STRING), 1, 1) AS BIGINT)")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs")))

  /** The readout core of [[benfordAudit]], shared with the stream twin
    * (q367): takes a PRE-AGGREGATED (digit, n_obs) relation — the
    * mergeable sufficient statistic a closed-window emitter stores
    * (digit counts add across windows). Emits all 9 digits regardless.
    */
  def benfordFromDigitCounts(counts: DataFrame): DataFrame = {
    val benford = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
      9 -> 45757L)
    val spark = counts.sparkSession
    val grid = spark.createDataFrame(benford.map { case (d, p) => (d.toLong, p) })
      .toDF("digit", "benford_ppm")
    val tot = counts.agg(sum("n_obs").as("n"))
    grid.join(counts, Seq("digit"), "left")
      .na.fill(0L, Seq("n_obs"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n_obs"),
        expr("CASE WHEN n = 0 THEN NULL" +
          " ELSE n_obs * 1000000 div n END").as("obs_ppm"),
        col("benford_ppm"),
        expr("CASE WHEN n = 0 THEN NULL" +
          " ELSE n_obs * 1000000 div n - benford_ppm END").as("dev_ppm"))
  }

  /** Exact weighted lower median per group: the smallest value whose
    * cumulative weight reaches half the group's total —
    * `min{v : 2·cumw(v) ≥ totw}` — computed entirely in integer weight
    * arithmetic (cross-multiplied, no halving division), so the result is
    * a VALUE FROM THE DATA, bit-identical in any engine; the weighted
    * generalization of [[lowerMedianBy]] (weight 1 ⇒ same rule as the
    * interpolation-free lower median). The statistic behind
    * quantity-weighted price medians and token-weighted quality cuts,
    * which `percentile_approx` can only approximate and float
    * interpolation cannot reproduce across engines.
    *
    * Scale shape: the fact collapses FIRST to (group, value) weight sums
    * — by-value, partial-agg friendly, keyspace-bounded like every exact
    * quantile in this engine; the running-weight window then orders only
    * that aggregated relation, never fact rows.
    */
  def weightedMedianBy(df: DataFrame, grpCol: String, valCol: String,
                       weightCol: String, outCol: String): DataFrame = {
    val sums = df.groupBy(col(grpCol), col(valCol).as("__v"))
      .agg(sum(col(weightCol)).as("__w"))
    val wRun = Window.partitionBy(grpCol).orderBy(col("__v"))
    val wAll = Window.partitionBy(grpCol)
    sums
      .withColumn("__cum", sum("__w").over(wRun))
      .withColumn("__tot", sum("__w").over(wAll))
      .filter(col("__cum") * 2 >= col("__tot")
        && (col("__cum") - col("__w")) * 2 < col("__tot"))
      .select(col(grpCol), col("__v").as(outCol), col("__tot").as("total_w"))
  }

  /** Winsorized per-group aggregate: values clamp at the group's exact
    * nearest-rank `pLo`/`pHi` percentiles — `bound(p) = min{v : 100·cumn
    * ≥ p·totn}`, cross-multiplied integer counts, values FROM the data —
    * then sum and floor-mean over the clamped column. The
    * outlier-robust aggregate that trims tail influence without
    * dropping rows (a MAD sibling, [[madOutliers]], that reports instead
    * of repairing).
    *
    * Scale shape: percentile bounds come from the by-value count
    * aggregate (keyspace-bounded, windows over the aggregated relation
    * only) collapsed to ONE row per group — `min(when(...))` over the
    * running-count relation, no second window; bounds broadcast back
    * onto the fact for a narrow clamp + one group aggregate.
    */
  def winsorizedAgg(df: DataFrame, grpCol: String, valCol: String,
                    pLo: Int = 5, pHi: Int = 95): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 100, "need 0 <= pLo < pHi <= 100")
    val counts = df.groupBy(col(grpCol), col(valCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val wRun = Window.partitionBy(grpCol).orderBy(col("__v"))
    val wAll = Window.partitionBy(grpCol)
    val bounds = counts
      .withColumn("__cum", sum("__c").over(wRun))
      .withColumn("__tot", sum("__c").over(wAll))
      .groupBy(col(grpCol))
      .agg(
        min(when(col("__cum") * 100 >= col("__tot") * pLo, col("__v"))).as("lo"),
        min(when(col("__cum") * 100 >= col("__tot") * pHi, col("__v"))).as("hi"))
    df.join(broadcast(bounds), grpCol)
      .withColumn("__w", greatest(col("lo"), least(col("hi"), col(valCol))))
      .groupBy(col(grpCol), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"), sum(col("__w")).as("winsorized_sum"))
      .withColumn("winsorized_mean", expr("winsorized_sum div n"))
  }

  /** Percentile bucketizer FIT: the n−1 nearest-rank bucket edges (value
    * at cumulative rank ≥ i·N/n) as a tiny (i, edge) table. The ML
    * discretization pattern's train half — edges are learned ONCE on
    * training data and persisted, then [[applyBuckets]] reuses them on
    * any later frame (serve-time data must never re-derive its own
    * edges: that's train/serve skew). By-value collapse first, so the
    * rank window runs over distinct values, not rows.
    */
  def fitBuckets(df: DataFrame, valCol: String, n: Int): DataFrame = {
    require(n >= 2, s"need at least 2 buckets: $n")
    val counts = df.groupBy(col(valCol).as("__v")).agg(count(lit(1)).as("__c"))
    // single-partition window over the BY-VALUE table (distinct values,
    // not rows) — the documented exact-quantile trade (q130/q151)
    // keyspace-sized window: input is collapsed/bounded before this sort
    val wRun = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("__cum", sum("__c").over(wRun))
      .crossJoin(broadcast(df.agg(count(lit(1)).as("__tot"))))
    val qs = df.sparkSession.range(1, n).select(col("id").as("q"))
    cum.crossJoin(broadcast(qs))
      .filter(col("__cum") * n >= col("__tot") * col("q"))
      .groupBy(col("q")).agg(min(col("__v")).as("edge"))
  }

  /** Percentile bucketizer APPLY: bucket id = number of stored edges the
    * value exceeds (values equal to an edge take the LOWER bucket — the
    * edge is an inclusive upper bound). The edge table collapses to one
    * broadcast array row; the bucket id is a codegen'd array `filter`
    * over it — zero shuffle on the fact side.
    */
  def applyBuckets(df: DataFrame, edges: DataFrame, valCol: String): DataFrame = {
    val edgeArr = edges.agg(sort_array(collect_list(col("edge"))).as("__edges"))
    df.crossJoin(broadcast(edgeArr))
      .withColumn("bucket",
        size(filter(col("__edges"), e => col(valCol) > e)).cast("long"))
      .drop("__edges")
  }

  /** Robust per-group outlier report: median, MAD (median absolute
    * deviation), and the count of rows beyond `k`·MAD. Three passes over
    * the fact (median, deviation median, final count), each a hash
    * aggregate; the tiny median/MAD relations broadcast back.
    *
    * With MAD = 0 (over half the group identical) every deviating row is
    * an outlier — the conventional degenerate-MAD behavior, noted here
    * because `k·0 = 0` makes the strict `>` the only sane comparison.
    */
  def madOutliers(df: DataFrame, grpCol: String, valCol: String,
                  k: Double = 3.0): DataFrame = {
    val med = lowerMedianBy(df, grpCol, valCol, "med")
    val dev = df.join(broadcast(med), grpCol)
      .withColumn("__adev", abs(col(valCol) - col("med")))
    val mad = lowerMedianBy(dev, grpCol, "__adev", "mad")
    df.join(broadcast(med), grpCol).join(broadcast(mad), grpCol)
      .groupBy(col(grpCol), col("med"), col("mad"))
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col(valCol) - col("med")) > lit(k) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** k-anonymity audit over a quasi-identifier (QI) column set: every row
    * whose QI combination is shared by fewer than k individuals is
    * re-identifiable by joining on those columns alone. Emits the audit a
    * release gate consumes — per equivalence-class-size risk band, how
    * many distinct QI classes and how many ROWS sit in it, ordered worst
    * first: band "1" (unique, directly identifiable), "2..k-1" (small
    * crowd), ">=k" (passes). A release policy is then "publish iff rows
    * outside `>=k` is 0" (or suppress/generalize those classes).
    *
    * Scale shape: one groupBy on the QI columns (the same shuffle any
    * distinct-count needs), then a band aggregate over the CLASS relation
    * — keyspace-sized, never the fact again. Exactness: pure integer
    * counts, no statistics.
    */
  def kAnonymityAudit(df: DataFrame, qiCols: Seq[String], k: Int): DataFrame = {
    require(qiCols.nonEmpty && k >= 2, "need QI columns and k >= 2")
    val classes = df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
    classes
      .groupBy(when(col("class_size") === 1, lit("1"))
        .when(col("class_size") < k, lit(s"2..${k - 1}"))
        .otherwise(lit(s">=$k")).as("band"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("class_size")).as("n_rows"),
        min(col("class_size")).as("min_class"),
        max(col("class_size")).as("max_class"))
  }

  /** l-diversity audit — [[kAnonymityAudit]]'s attribute-disclosure
    * companion: a QI class can pass k-anonymity and still leak, if all
    * its members share ONE sensitive value (an attacker who locates the
    * class learns the attribute without identifying anyone). Per QI
    * class, counts the DISTINCT sensitive values and bands classes by
    * that diversity: "1" (uniform — full attribute disclosure),
    * "2..l-1" (narrow), ">=l" (passes distinct-l-diversity). Same
    * release-gate consumption as the k report; run both.
    *
    * Scale shape: one groupBy on (QI, sensitive) collapses duplicates,
    * one re-aggregate to the class grain, then keyspace-sized banding —
    * the fact is read once and never windowed.
    */
  def lDiversityAudit(df: DataFrame, qiCols: Seq[String],
                      sensitiveCol: String, l: Int): DataFrame = {
    require(qiCols.nonEmpty && l >= 2, "need QI columns and l >= 2")
    val classes = df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        count_distinct(col(sensitiveCol)).as("n_sensitive"))
    classes
      .groupBy(when(col("n_sensitive") === 1, lit("1"))
        .when(col("n_sensitive") < l, lit(s"2..${l - 1}"))
        .otherwise(lit(s">=$l")).as("div_band"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("class_size")).as("n_rows"),
        min(col("n_sensitive")).as("min_div"),
        max(col("n_sensitive")).as("max_div"))
  }

  /** t-closeness audit — the third face of the release gate
    * ([[kAnonymityAudit]] → re-identification, [[lDiversityAudit]] →
    * attribute disclosure, this → DISTRIBUTION disclosure): a class can
    * hold l distinct sensitive values and still skew so far from the
    * corpus-wide distribution that membership alone shifts an attacker's
    * posterior. Per QI class, the Earth Mover's Distance between the
    * class's sensitive-value distribution and the global one over the
    * ORDERED value domain (Li, Li & Venkatasubramanian, ICDE 2007):
    *
    *   EMD(c) = (1/(m−1)) · Σ_{j<m} |cum_c(j)/n_c − cum_g(j)/n|
    *
    * evaluated as the exact cross-multiplied integer
    * `Σ|cum_c·n − cum_g·n_c| · 10⁶ div ((m−1)·n_c·n)` in DECIMAL(38,0)
    * (BIGINT products overflow past ~3·10⁹ rows) — no float anywhere.
    * Values order lexicographically; numeric domains should pre-band
    * (the q229 bal_band pattern) so m stays a keyspace.
    *
    * Output: one row per QI class — class_size, t_ppm. Threshold
    * downstream as "release only classes with t_ppm ≤ t". A
    * single-valued sensitive domain (m = 1) yields an empty report —
    * t is undefined there (and nothing could be disclosed).
    *
    * Scale shape: one fact aggregate to (QI, value) cells; the zero-cell
    * grid (classes × m), the cumulative windows, and the rollup all live
    * on keyspaces. The window partitions by class, so even that
    * parallelizes across classes.
    */
  def tClosenessAudit(df: DataFrame, qiCols: Seq[String],
                      sensitiveCol: String): DataFrame = {
    require(qiCols.nonEmpty, "need QI columns")
    val qi = qiCols.map(col)
    val cells = df.groupBy(qi :+ col(sensitiveCol).as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val classes = cells.groupBy(qi: _*).agg(sum("__c").as("__nc"))
    val values = cells.groupBy(col("__v")).agg(sum("__c").as("__vc"))
    val m = values.agg(count(lit(1)).as("__m"),
      sum("__vc").as("__n"))
    // full class × value grid: a value ABSENT from a class is a real
    // mass deficit, not a missing row
    val grid = classes.crossJoin(broadcast(values)).crossJoin(broadcast(m))
      .join(cells, qiCols :+ "__v", "left")
      .withColumn("__o", coalesce(col("__c"), lit(0L)))
    val w = Window.partitionBy(qi: _*).orderBy(col("__v"))
    val wg = Window.partitionBy(qi: _*).orderBy(col("__v"))
    grid
      .withColumn("__cumc", sum("__o").over(w))
      .withColumn("__cumg", sum("__vc").over(wg))
      // the last (largest) value's cumulative term is identically zero
      // (both sides sum to 1); dropping it implements the j < m bound
      .withColumn("__rn", row_number().over(wg))
      .filter(col("__rn") < col("__m"))
      .groupBy(qi :+ col("__nc").as("class_size") :+ col("__m") :+ col("__n"): _*)
      .agg(sum(expr(
        """abs(cast(__cumc as decimal(38,0)) * cast(__n as decimal(38,0))
          |  - cast(__cumg as decimal(38,0)) * cast(__nc as decimal(38,0)))"""
          .stripMargin)).as("__dev"))
      .withColumn("t_ppm", expr(
        """cast(__dev * 1000000 as decimal(38,0))
          |div ((__m - 1) * cast(class_size as decimal(38,0)) * __n)""".stripMargin))
      .select(qi :+ col("class_size") :+ col("t_ppm"): _*)
  }

  /** Tukey-fence outlier report per group — the box-plot rule on EXACT
    * quartiles: q1/q3 from [[Selection.exactGroupQuantiles]]'s histogram
    * descent (bounded passes, no per-group sort), fences at
    * q1 − f·IQR and q3 + f·IQR (f in ppm, 1.5 by default, floored
    * integer arithmetic), then one fact pass counts the rows outside.
    * The quartiles no approximate-percentile sketch can pin down exactly
    * are exact here, so the fences — and the counts a data-quality page
    * alerts on — are reproducible to the row.
    *
    * Scale shape: the descent's ⌈log_B⌉ passes + ONE counting pass; the
    * fence table is group-keyspace-sized and broadcast.
    */
  def tukeyOutlierReport(df: DataFrame, grpCol: String, valCol: Column,
                         fencePpm: Long = 1500000L): DataFrame = {
    require(fencePpm >= 0, s"fencePpm must be >= 0: $fencePpm")
    val facts = df.select(col(grpCol).cast("string").as("key"), valCol.as("v"))
    val q = Selection.exactGroupQuantiles(facts, "key", col("v"),
      Seq(250000L, 750000L))
    val fences = q.groupBy("key")
      .agg(max(when(col("q_ppm") === 250000L, col("value"))).as("q1"),
        max(when(col("q_ppm") === 750000L, col("value"))).as("q3"))
      .select(col("key"), col("q1"), col("q3"),
        expr(s"q1 - (q3 - q1) * $fencePpm div 1000000").as("lo_fence"),
        expr(s"q3 + (q3 - q1) * $fencePpm div 1000000").as("hi_fence"))
    facts.join(broadcast(fences), Seq("key"))
      .groupBy("key")
      .agg(max("q1").as("q1"), max("q3").as("q3"),
        max("lo_fence").as("lo_fence"), max("hi_fence").as("hi_fence"),
        count(lit(1)).as("n_rows"),
        sum(when(col("v") < col("lo_fence"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("v") > col("hi_fence"), 1L).otherwise(0L)).as("n_high"))
  }

  /** Pearson χ² test of independence between two categorical columns —
    * the contingency-table statistic, EXACT under a documented milli-unit
    * floor: expected cell mass e_milli = r·c·1000 div N (thousandths of a
    * row), cell contribution (o·1000 − e_milli)² div max(e_milli, 1),
    * summed over the FULL row×column grid (zero cells included — absent
    * observed combinations still contribute their expectation). Every
    * term is a bounded DECIMAL(38,0) product at any corpus size. Emits
    * (n, n_rows_cats, n_col_cats, dof, chi2_milli) — one row.
    *
    * Scale shape: one (a, b) count aggregate over facts; the grid is the
    * category keyspace crossed (rows × cols cells), all scalar
    * arithmetic after that.
    */
  def chi2Independence(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val obs = df.select(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
      .pin() // one-shot: feeds margins and the grid join
    val rt = obs.groupBy("a").agg(sum("o").as("r"))
    val ct = obs.groupBy("b").agg(sum("o").as("c"))
    val n = obs.agg(sum("o").as("n"))
    val grid = rt.crossJoin(ct).crossJoin(broadcast(n))
      .join(obs, Seq("a", "b"), "left")
      .select(col("r"), col("c"), col("n"),
        coalesce(col("o"), lit(0L)).as("o"))
      .select(col("n"), col("o"),
        expr("CAST(r AS DECIMAL(38,0)) * c * 1000 div n").as("e_milli"))
    grid
      .agg(max("n").as("n"),
        expr("count(1)").as("n_cells"),
        sum(expr("(CAST(o AS DECIMAL(38,0)) * 1000 - e_milli)" +
          " * (CAST(o AS DECIMAL(38,0)) * 1000 - e_milli)" +
          " div greatest(e_milli, CAST(1 AS DECIMAL(38,0)))")).as("chi2_raw"))
      .crossJoin(broadcast(rt.agg(count(lit(1)).as("n_a_cats"))))
      .crossJoin(broadcast(ct.agg(count(lit(1)).as("n_b_cats"))))
      .select(col("n"), col("n_a_cats"), col("n_b_cats"),
        expr("(n_a_cats - 1) * (n_b_cats - 1)").as("dof"),
        // raw is in (milli)²/milli = milli units of χ²
        expr("CAST(chi2_raw AS BIGINT)").as("chi2_milli"))
  }

  /** Cramér's V² (Cramér 1946, public literature): the EFFECT SIZE the
    * [[chi2Independence]] statistic lacks — χ² grows with n, so a huge
    * corpus makes every trivial association "significant"; V² =
    * χ²/(n·(min(r,c)−1)) ∈ [0,1] answers "how strong", sample-size-free.
    * Emitted SQRT-FREE (the τ_b²/assortativity convention) as `v2_ppm`,
    * derived exactly from the same milli-χ² integers. Degenerate table
    * (single row or column category) → NULL.
    *
    * Scale shape: identical to [[chi2Independence]] — one contingency
    * aggregate, categories²-sized grid, scalar tail.
    */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame =
    chi2Independence(df, aCol, bCol)
      .select(col("n"), col("dof"), col("chi2_milli"),
        expr("CASE WHEN n = 0 OR least(n_a_cats, n_b_cats) < 2 THEN NULL" +
          " ELSE CAST(CAST(chi2_milli AS DECIMAL(38,0)) * 1000" +
          " div (CAST(n AS DECIMAL(38,0)) * (least(n_a_cats, n_b_cats) - 1))" +
          " AS BIGINT) END").as("v2_ppm"))
}
