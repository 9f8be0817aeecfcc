package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.Pin.PinOps

/** Exact rank statistics — the nonparametric correlation/effect-size
  * readouts an eval pipeline wants when the underlying scales are
  * arbitrary (prices, counts, scores): monotone-invariant, integer-exact,
  * no distributional assumptions.
  */
object RankStats {

  /** Cumulative sums of `valueCols` over the TOTAL order of `ordCols`
    * (rows unbounded-preceding..current), appended as `__cum_<col>` —
    * the shared running-sum step behind the midrank family (KS, rank-sum
    * AUC, Kruskal–Wallis ranks).
    *
    * TWO ARMS, picked by `spark.graft.midrankPartitions` (default 1):
    *  - 1: the classic single-partition window — right while the
    *    collapsed distinct-value relation is keyspace-small (every
    *    registered parameterization at the bench SFs);
    *  - N > 1: DISTRIBUTED prefix sum — range-exchange on the order
    *    columns, per-partition running sums, per-partition totals
    *    cumulated on an N-row relation and broadcast back as offsets.
    *    Identical values for any partitioning (a running sum over a
    *    total order does not depend on where the cuts fall; range cuts
    *    only make partitions contiguous in the order). Measured
    *    crossover on synthetic distinct-value relations: flat at 1M
    *    distinct values, distributed 1.8× faster at 4M, 2.3× at 16M — set
    *    N ≈ 2-3× total cores once value keyspaces pass ~2M (the 100 TB
    *    posture; r12 VERDICT #8). Both arms' checksums and warm times on
    *    the registered midrank queries: `graft.Tool ab <sfDir>
    *    'spark.graft.midrankPartitions=1|8' q315_ks_statistic
    *    q317_gate_auc q344_kruskal_wallis`.
    * `ordCols` must be a total order (callers pass collapsed DISTINCT
    * values), or the cumulative sum itself is ill-defined.
    */
  private[ext] def cumSums(df: DataFrame, ordCols: Seq[Column],
                           valueCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = graft.GraftSession.nonNegativeConf(
      "spark.graft.midrankPartitions", 1, Int.MaxValue).toInt
    if (parts <= 1) {
      // callers pass the collapsed distinct-value relation (bounded by
      // the VALUE DOMAIN, not the corpus); the distributed arm above the
      // conf threshold covers the regime where that stops being small —
      // keyspace-sized window: input is collapsed/bounded before this sort
      val w = Window.orderBy(ordCols: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      valueCols.foldLeft(df)((d, c) =>
        d.withColumn(s"__cum_$c", sum(col(c)).over(w)))
    } else {
      val rp = df.repartitionByRange(parts, ordCols: _*)
        .withColumn("__pid", spark_partition_id())
      val wLoc = Window.partitionBy("__pid").orderBy(ordCols: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val local = valueCols.foldLeft(rp)((d, c) =>
        d.withColumn(s"__cum_$c", sum(col(c)).over(wLoc)))
      // keyspace-sized window: one row per range PARTITION (≤ parts) —
      // the tiny offset table of the distributed prefix sum
      val wOff = Window.orderBy(col("__pid"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = rp.groupBy("__pid")
        .agg(valueCols.map(c => sum(col(c)).as(s"__t_$c")).head,
          valueCols.drop(1).map(c => sum(col(c)).as(s"__t_$c")): _*)
        .select(col("__pid") +: valueCols.map(c =>
          coalesce(sum(col(s"__t_$c")).over(wOff), lit(0L)).as(s"__off_$c")): _*)
      valueCols.foldLeft(local.join(broadcast(offs), "__pid"))((d, c) =>
          d.withColumn(s"__cum_$c", col(s"__cum_$c") + col(s"__off_$c")))
        .drop("__pid" +: valueCols.map(c => s"__off_$c"): _*)
    }
  }

  /** Spearman rank correlation (Spearman 1904, public literature) of two
    * columns over a keyed relation, EXACT: both columns are ranked by
    * `row_number` with the key as the deterministic tie-break (the
    * rank-of-record convention — documented, layout-invariant), then
    * ρ = 1 − 6Σd²/(n(n²−1)) evaluated as one integer rational in ppm
    * via DECIMAL(38,0) (Σd² alone can pass 2⁶³ at n ≳ 2·10⁶).
    *
    * Scale shape: the input is expected keyspace-sized (an entity
    * relation — parts, users, domains); two rank windows over it and a
    * 2-moment aggregate. Facts never enter — aggregate them to the
    * entity grain first.
    */
  def spearman(df: DataFrame, keyCol: String, xCol: Column, yCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // null x/y rows are EXCLUDED (they carry no rank information);
    // without the filter row_number would rank nulls first and silently
    // shift every rho
    val base = df.select(col(keyCol).as("k"), xCol.as("x"), yCol.as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val ranked = base
      // keyspace-sized window: input is collapsed/bounded before this sort
      .withColumn("rx", row_number().over(Window.orderBy(col("x"), col("k"))))
      // keyspace-sized window: input is collapsed/bounded before this sort
      .withColumn("ry", row_number().over(Window.orderBy(col("y"), col("k"))))
    ranked
      .agg(count(lit(1)).as("n"),
        expr("sum(CAST((rx - ry) AS DECIMAL(38,0)) * (rx - ry))").as("s"))
      .select(col("n").as("n_rows"),
        expr("CAST(s AS BIGINT)").as("sum_d2"),
        expr("CASE WHEN n < 2 THEN NULL ELSE" +
          " (CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1) - 6 * s)" +
          " * 1000000 div (CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1))" +
          " END").as("spearman_ppm"))
  }

  /** The by-value collapse of a two-group sample, `(v, ca, cb)`: each
    * distinct value with its counts in group A (`grpCol = aValue`) and
    * in group B (every other row, a null group included). Null values are
    * excluded, since a null bucket would shift every running sum after
    * it. [[ksStatistic]] and [[rankSumAuc]] both read it, so the KS gap
    * and the AUC count the same two samples.
    */
  private def countsByValue(df: DataFrame, grpCol: Column, aValue: String,
                            valueCol: Column): DataFrame =
    df.select(when(grpCol === aValue, lit(1L)).otherwise(lit(0L)).as("isA"),
        valueCol.as("v"))
      .filter(col("v").isNotNull)
      .groupBy("v")
      .agg(sum("isA").as("ca"), sum(expr("1 - isA")).as("cb"))

  /** Two-sample Kolmogorov–Smirnov statistic (Kolmogorov 1933 /
    * Smirnov 1939, public literature), EXACT: D = max over observed
    * values of |F_a(v) − F_b(v)|, evaluated as the integer cross-product
    * |cumA·n_b − cumB·n_a| so no division happens before the final ppm
    * readout. Also emits `at_value` — the smallest value attaining the
    * maximum gap (deterministic tie-break), which is where the two
    * distributions diverge most: the natural split point for a drift
    * investigation.
    *
    * Scale shape: one by-value map-combined aggregate, one running-sum
    * window over DISTINCT values, one max aggregate.
    */
  def ksStatistic(df: DataFrame, grpCol: Column, aValue: String,
                  valueCol: Column): DataFrame = {
    val byValue = countsByValue(df, grpCol, aValue, valueCol)
    // two-arm running sum over the collapsed distinct-value relation
    // ([[cumSums]] — single-partition window by default, distributed
    // prefix sum past the conf threshold)
    val cum = cumSums(byValue, Seq(col("v")), Seq("ca", "cb"))
      .select(col("v"), col("__cum_ca").as("cum_a"), col("__cum_cb").as("cum_b"))
      .pin() // one-shot: feeds totals, the max, and the argmax
    val tot = cum.agg(max("cum_a").as("n_a"), max("cum_b").as("n_b"))
    val gaps = cum.crossJoin(broadcast(tot))
      .select(col("v"), col("n_a"), col("n_b"),
        expr("abs(CAST(cum_a AS DECIMAL(38,0)) * n_b" +
          " - CAST(cum_b AS DECIMAL(38,0)) * n_a)").as("d"))
    val dmax = gaps.agg(max("d").as("dmax"))
    gaps.crossJoin(broadcast(dmax))
      .filter(col("d") === col("dmax"))
      .groupBy("n_a", "n_b")
      .agg(min("v").as("at_value"), max("d").as("d"))
      .select(col("n_a"), col("n_b"), col("at_value"),
        expr("CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE" +
          " d * 1000000 div (CAST(n_a AS DECIMAL(38,0)) * n_b) END").as("ks_ppm"))
  }

  /** Mann–Whitney rank-sum effect (Mann & Whitney 1947, public
    * literature) between two groups — the AUC reading: `auc_ppm` =
    * P(a > b) + ½P(a = b) for a random pair drawn across groups, the
    * common-language effect size and exactly the ROC-AUC of "predict A
    * when the value is larger". EXACT via the by-value collapse: one
    * (value → per-group counts) aggregate, one running-sum window over
    * DISTINCT values, then Σ cntA·cumB pair-counting — never the n_a·n_b
    * pair materialization. `u2` = 2U (twice the U statistic) stays
    * integer under ties.
    *
    * Scale shape: facts reduce to the distinct-value keyspace in one
    * map-combined aggregate; the window sorts distinct values only.
    */
  def rankSumAuc(df: DataFrame, grpCol: Column, aValue: String,
                 valueCol: Column): DataFrame = {
    val byValue = countsByValue(df, grpCol, aValue, valueCol)
    // two-arm running sum ([[cumSums]]) over the collapsed relation
    val cum = cumSums(byValue, Seq(col("v")), Seq("cb"))
      .withColumn("cum_b_lt", col("__cum_cb") - col("cb"))
      .drop("__cum_cb")
    cum
      .agg(sum("ca").as("n_a"), sum("cb").as("n_b"),
        expr("sum(CAST(ca AS DECIMAL(38,0)) * cum_b_lt)").as("gt"),
        expr("sum(CAST(ca AS DECIMAL(38,0)) * cb)").as("eq"))
      .select(col("n_a"), col("n_b"),
        expr("CAST(2 * gt + eq AS BIGINT)").as("u2"),
        expr("CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE" +
          " (2 * gt + eq) * 1000000 div (2 * CAST(n_a AS DECIMAL(38,0)) * n_b)" +
          " END").as("auc_ppm"))
  }

  /** Cohen's kappa (Cohen 1960, public literature): chance-corrected
    * agreement between two categorical raters/arms over a paired
    * relation. With A = Σ agreement, n = Σ pairs and P = Σ_c r_c·c_c
    * (row × column marginal products), κ = (A/n − P/n²)/(1 − P/n²) =
    * (A·n − P)/(n² − P) — ONE integer rational, emitted in ppm. All
    * arithmetic in DECIMAL(38,0): n² and the marginal products pass 2⁶³
    * at n ≳ 3·10⁹ pairs (the q330/trendFit envelope policy). Degenerate
    * case n² = P (both raters constant) → NULL, the standard convention.
    * Toward-zero `div` matches the oracle's sign-split form (κ < 0 =
    * worse-than-chance agreement is a real outcome).
    *
    * Scale shape: one (a, b) confusion aggregate over the pair relation
    * (fact-sized input, labels²-sized output), then marginals and the
    * final rational over the labels² keyspace. Nothing pairwise.
    */
  def cohenKappa(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val conf = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("ca"), col(bCol).as("cb"))
      .agg(count(lit(1)).as("m"))
    val totals = conf.agg(sum("m").as("n"),
      sum(when(col("ca") === col("cb"), col("m")).otherwise(lit(0L))).as("agree"))
    val pe = conf.groupBy("ca").agg(sum("m").as("ra"))
      .join(conf.groupBy("cb").agg(sum("m").as("cc")),
        col("ca") === col("cb"))
      .agg(expr("sum(CAST(ra AS DECIMAL(38,0)) * cc)").as("p"))
    totals.crossJoin(pe)
      .select(col("n"), col("agree"),
        expr("CAST(agree AS DECIMAL(38,0)) * 1000000 div n").as("po_ppm"),
        expr("CAST(p * 1000000 div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)")
          .as("pe_ppm"),
        expr("CASE WHEN CAST(n AS DECIMAL(38,0)) * n = p THEN NULL ELSE" +
          " CAST((CAST(agree AS DECIMAL(38,0)) * n - p) * 1000000" +
          " div (CAST(n AS DECIMAL(38,0)) * n - p) AS BIGINT) END")
          .as("kappa_ppm"))
      .select(col("n"), col("agree"),
        expr("CAST(po_ppm AS BIGINT)").as("po_ppm"), col("pe_ppm"),
        col("kappa_ppm"))
  }

  /** McNemar's test (McNemar 1947, public literature) for comparing two
    * classifiers on the SAME examples: only the discordant pairs carry
    * information — b = A-right/B-wrong, c = A-wrong/B-right — and the
    * statistic is χ² = (b − c)²/(b + c) (no continuity correction; the
    * exact-form convention), emitted in ppm. b + c = 0 (the classifiers
    * never disagree) → NULL. One map-combined 4-way conditional count
    * over the paired relation — a single fact pass, 1-row output.
    */
  def mcnemar(pairs: DataFrame, aCol: String, bCol: String,
              truthCol: String): DataFrame = {
    val flagged = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull && col(truthCol).isNotNull)
      .select(
        when(col(aCol) === col(truthCol), 1L).otherwise(0L).as("oka"),
        when(col(bCol) === col(truthCol), 1L).otherwise(0L).as("okb"))
    flagged.agg(count(lit(1)).as("n"),
        sum(expr("CASE WHEN oka = 1 AND okb = 0 THEN 1 ELSE 0 END")).as("n_a_only"),
        sum(expr("CASE WHEN oka = 0 AND okb = 1 THEN 1 ELSE 0 END")).as("n_b_only"))
      .select(col("n"), col("n_a_only"), col("n_b_only"),
        expr("CASE WHEN n_a_only + n_b_only = 0 THEN NULL ELSE" +
          " CAST(CAST(n_a_only - n_b_only AS DECIMAL(38,0))" +
          " * (n_a_only - n_b_only) * 1000000" +
          " div (n_a_only + n_b_only) AS BIGINT) END").as("chi2_ppm"))
  }

  /** Kruskal–Wallis H (Kruskal & Wallis 1952, public literature) — the
    * k-sample extension of [[rankSumAuc]]: "do ≥ 3 groups share one
    * value distribution", rank-based, no normality assumption. EXACT via
    * the by-value collapse with DOUBLED midranks (2·midrank =
    * 2·cumBefore + m + 1 is always integer under ties): per group
    * R2_g = Σ cnt·r2, and H·10⁶ = 12·A div (n(n+1)) − 3(n+1)·10⁶ with
    * A = Σ_g ⌊R2_g²·10⁶ / (4n_g)⌋ — the per-group floor is DELIBERATE
    * and mirrored by the oracle (a common denominator Π n_g would
    * overflow any envelope). `h_tie_ppm` applies the standard tie
    * correction ×(n³−n)/((n³−n) − Σm(m²−1)); an all-tied column → NULL.
    *
    * Envelope: R2_g ≤ 2n·n_g so R2_g² ≤ 4n⁴ — DECIMAL(38,0) holds to
    * n ≈ 2·10⁹ rows; the ⌊q⌋·10⁶ + ⌊r·10⁶/d⌋ expansion keeps the
    * ppm-scaled term inside the envelope at that n, and the main
    * quotient ⌊q⌋ (≤ n²·n_g) stays in DECIMAL end-to-end — it never
    * passes through a BIGINT, so the binding constraint really is the
    * R2_g² square, not a hidden Long.Max at n ≈ 3·10⁶.
    *
    * Scale shape: facts reduce to the distinct-(group, value) keyspace
    * in one map-combined aggregate; the midrank window sorts distinct
    * values only; everything after is groups-sized.
    */
  def kruskalWallis(df: DataFrame, grpCol: Column, valueCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // same null convention as [[ksStatistic]]: null values excluded;
    // null GROUPS are excluded too (they are no sample)
    val cells = df.select(grpCol.as("g"), valueCol.as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
      .groupBy("g", "v").agg(count(lit(1)).as("cnt"))
    val byValue = cells.groupBy("v").agg(sum("cnt").as("m"))
    // two-arm running sum ([[cumSums]]) over the collapsed relation
    val ranked = cumSums(byValue, Seq(col("v")), Seq("m"))
      .select(col("v"), col("m"),
        (lit(2L) * (col("__cum_m") - col("m")) + col("m") + 1L).as("r2"))
    val perGroup = cells.join(ranked, Seq("v"))
      .groupBy("g")
      .agg(sum("cnt").as("n_g"),
        expr("sum(CAST(cnt AS DECIMAL(38,0)) * r2)").as("rr2"))
      .select(col("n_g"),
        // exact ⌊R2²·10⁶/(4n_g)⌋ without the 10⁶-widened square:
        // ⌊q⌋·10⁶ + ⌊(R2² mod 4n_g)·10⁶ / 4n_g⌋. The main quotient ⌊q⌋
        // is bounded by n²·n_g (past Long.Max at n ≈ 3·10⁶), so it must
        // NOT ride Spark's `div` (IntegralDivide returns BIGINT): compute
        // it as an exact DECIMAL division of the remainder-subtracted
        // numerator — (R2² − R2² mod 4n_g) is divisible by 4n_g, so the
        // `/` is exact and the DECIMAL(38,0) cast loses nothing. Only the
        // remainder term (< 10⁶) uses BIGINT `div`.
        expr("CAST((rr2 * rr2 - rr2 * rr2 % (4 * n_g)) / (4 * n_g)" +
          " AS DECIMAL(38,0)) * 1000000" +
          " + (rr2 * rr2 % (4 * n_g)) * 1000000 div (4 * n_g)").as("a_g"))
    val ties = byValue.agg(coalesce(sum(expr(
      "CAST(m AS DECIMAL(38,0)) * (m - 1) * (m + 1)")), lit(0)).as("tie"))
    perGroup
      .agg(sum("n_g").as("n"), count(lit(1)).as("k_groups"),
        sum("a_g").as("a"))
      .crossJoin(broadcast(ties))
      .select(col("n").as("n_rows"), col("k_groups"),
        expr("CAST(12 * a div (CAST(n AS DECIMAL(38,0)) * (n + 1))" +
          " - 3 * (CAST(n AS DECIMAL(38,0)) + 1) * 1000000 AS BIGINT)")
          .as("h_ppm"),
        expr("CASE WHEN CAST(n AS DECIMAL(38,0)) * n * n - n - tie = 0" +
          " THEN NULL ELSE CAST(" +
          " (12 * a div (CAST(n AS DECIMAL(38,0)) * (n + 1))" +
          "  - 3 * (CAST(n AS DECIMAL(38,0)) + 1) * 1000000)" +
          " * (CAST(n AS DECIMAL(38,0)) * n * n - n)" +
          " div (CAST(n AS DECIMAL(38,0)) * n * n - n - tie) AS BIGINT)" +
          " END").as("h_tie_ppm"))
  }

  /** 2×2 effect report (the classical epidemiological readouts, public
    * literature): odds ratio a·d/(b·c), risk ratio, and risk difference
    * for a boolean exposure × boolean outcome — the effect sizes an A/B
    * or cohort comparison actually ships (a χ² answers "is there an
    * association"; these answer "how big, in which direction"). All
    * three are exact integer rationals in ppm; a zero cell NULLs the
    * ratio it degenerates (the standard convention — apply a Haldane
    * correction upstream if a continuous estimate is required).
    *
    * Scale shape: ONE map-combined 4-way conditional count over the fact
    * scan, then scalar arithmetic. 1-row output.
    */
  def twoByTwo(df: DataFrame, exposure: Column, outcome: Column): DataFrame =
    df.select(exposure.cast("boolean").as("ex"),
        outcome.cast("boolean").as("oc"))
      .filter(col("ex").isNotNull && col("oc").isNotNull)
      .agg(sum(when(col("ex") && col("oc"), 1L).otherwise(0L)).as("a"),
        sum(when(col("ex") && !col("oc"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("ex") && col("oc"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("ex") && !col("oc"), 1L).otherwise(0L)).as("d"))
      .select((col("a") + col("b")).as("n_exposed"),
        (col("c") + col("d")).as("n_unexposed"),
        col("a").as("n_exposed_hits"), col("c").as("n_unexposed_hits"),
        expr("CASE WHEN b * c = 0 THEN NULL ELSE" +
          " CAST(CAST(a AS DECIMAL(38,0)) * d * 1000000" +
          " div (CAST(b AS DECIMAL(38,0)) * c) AS BIGINT) END")
          .as("odds_ratio_ppm"),
        expr("CASE WHEN c = 0 OR a + b = 0 THEN NULL ELSE" +
          " CAST(CAST(a AS DECIMAL(38,0)) * (c + d) * 1000000" +
          " div (CAST(c AS DECIMAL(38,0)) * (a + b)) AS BIGINT) END")
          .as("risk_ratio_ppm"),
        expr("CASE WHEN a + b = 0 OR c + d = 0 THEN NULL ELSE" +
          " a * 1000000 div (a + b) - c * 1000000 div (c + d) END")
          .as("risk_diff_ppm"))

  /** Fleiss' kappa (Fleiss 1971, public literature): chance-corrected
    * agreement among n ≥ 2 categorical raters per subject — the
    * multi-rater generalization of [[cohenKappa]]. With T = N·n total
    * ratings, A = Σ_{subject,category} m², C = Σ_category (Σ m)²:
    * P̄ = (A−T)/(T(n−1)), P̄e = C/T², and κ = ((A−T)·T − C(n−1)) /
    * ((n−1)(T² − C)) — ONE integer rational in ppm, DECIMAL(38,0)
    * envelope (terms reach N²n³·10⁶; 10⁹ subjects × 10 raters stay
    * inside). All-raters-one-category (T² = C) → NULL, the standard
    * degenerate convention. Subjects with ANY null rater are excluded
    * (they have no complete rating vector).
    *
    * Scale shape: one melt (explode ×n), one (subject, category)
    * aggregate, then category- and 1-row aggregates. Nothing pairwise.
    */
  def fleissKappa(df: DataFrame, subjectCol: String,
                  raterCols: Seq[String]): DataFrame = {
    require(raterCols.size >= 2, s"fleissKappa needs ≥ 2 raters")
    val n = raterCols.size
    val melted = df
      .filter(raterCols.map(col(_).isNotNull).reduce(_ && _))
      .select(col(subjectCol).as("s"),
        explode(array(raterCols.map(c => col(c).cast("string")): _*)).as("cat"))
    val cells = melted.groupBy("s", "cat").agg(count(lit(1)).as("m"))
    val subjectSide = cells.agg(sum("m").as("t"),
      expr("sum(CAST(m AS DECIMAL(38,0)) * m)").as("a"))
    val catSide = cells.groupBy("cat").agg(sum("m").as("cm"))
      .agg(coalesce(sum(expr("CAST(cm AS DECIMAL(38,0)) * cm")), lit(0))
        .as("c"))
    subjectSide.crossJoin(broadcast(catSide))
      .select(expr(s"CAST(t div $n AS BIGINT)").as("n_subjects"),
        lit(n.toLong).as("n_raters"),
        expr(s"CAST((a - t) * 1000000 div (CAST(t AS DECIMAL(38,0)) * ${n - 1})" +
          " AS BIGINT)").as("pbar_ppm"),
        expr("CAST(c * 1000000 div (CAST(t AS DECIMAL(38,0)) * t) AS BIGINT)")
          .as("pe_ppm"),
        expr(s"CASE WHEN CAST(t AS DECIMAL(38,0)) * t = c THEN NULL" +
          s" ELSE CAST(((a - t) * t - c * ${n - 1}) * 1000000" +
          s" div (${n - 1} * (CAST(t AS DECIMAL(38,0)) * t - c)) AS BIGINT)" +
          " END").as("kappa_ppm"))
  }

  /** Kendall τ-b rank agreement (Kendall 1938 / 1945 tie form, public
    * literature) PER GROUP over an item relation: for each group the
    * concordant/discordant census of all item pairs under the two score
    * columns, with the tie-adjusted denominator (P−Tx)(P−Ty). Emitted
    * SQRT-FREE (the [[Graph.degreeAssortativity]] convention): τ_b² with
    * τ's sign as `tau_b2_ppm` = sign(C−D)·(C−D)²·10⁶ div ((P−Tx)(P−Ty));
    * a group all-tied on either column → NULL.
    *
    * Scale shape: pairs are per-group k(k−1)/2 — meant for bounded
    * candidate lists (top-k rankings, eval panels), never fact-sized
    * groups; the census is one map-side pair expansion per group
    * followed by a groups-sized aggregate.
    */
  def kendallTauB(df: DataFrame, groupCol: String, itemCol: String,
                  xCol: Column, yCol: Column): DataFrame = {
    val base = df.select(col(groupCol).as("g"), col(itemCol).as("i"),
        xCol.as("x"), yCol.as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val pairs = base
      .join(base.select(col("g"), col("i").as("j"), col("x").as("x2"),
        col("y").as("y2")), Seq("g"))
      .filter(col("i") < col("j"))
      .select(col("g"),
        signum(col("x2") - col("x")).cast("long").as("cx"),
        signum(col("y2") - col("y")).cast("long").as("cy"))
    pairs.groupBy("g")
      .agg(count(lit(1)).as("p"),
        sum(expr("CASE WHEN cx * cy > 0 THEN 1L ELSE 0L END")).as("concordant"),
        sum(expr("CASE WHEN cx * cy < 0 THEN 1L ELSE 0L END")).as("discordant"),
        sum(expr("CASE WHEN cx = 0 THEN 1L ELSE 0L END")).as("tx"),
        sum(expr("CASE WHEN cy = 0 THEN 1L ELSE 0L END")).as("ty"))
      .select(col("g"), col("p").as("n_pairs"), col("concordant"),
        col("discordant"),
        expr("CASE WHEN p = tx OR p = ty THEN NULL ELSE CAST(" +
          " CASE WHEN concordant >= discordant THEN 1 ELSE -1 END" +
          " * CAST(concordant - discordant AS DECIMAL(38,0))" +
          " * (concordant - discordant) * 1000000" +
          " div (CAST(p - tx AS DECIMAL(38,0)) * (p - ty)) AS BIGINT)" +
          " END").as("tau_b2_ppm"))
  }

  /** Friedman test (Friedman 1937, public literature) — the
    * repeated-measures companion of [[kruskalWallis]]: "do k treatments
    * differ, judged WITHIN each of n blocks" (k model variants × n eval
    * slices, k pipelines × n days). Ranks are doubled midranks within
    * each block (integer under ties, the q344 device); missing (block,
    * treatment) cells are grid-filled with `fillValue` so every block is
    * complete (the balanced-design requirement — zero is the natural
    * fill for count panels). With R2_j = Σ_b 2·rank, A = Σ_j R2_j²:
    * Fr·10⁶ = 3·A·10⁶ div (n·k·(k+1)) − 3·n·(k+1)·10⁶ (exact — the
    * doubled ranks absorb the usual /4). `fr_tie_ppm` applies the
    * standard correction ×D div (D − T), D = n·k·(k²−1),
    * T = Σ_b Σ_v m(m²−1); an every-block-all-tied panel reads NULL.
    *
    * Envelope: R2_j ≤ 2nk ⇒ A ≤ 4n²k³; 3·A·10⁶ stays in DECIMAL(38,0)
    * to n ≈ 10⁹ blocks × k = 10³ treatments, and no term rides a BIGINT
    * quotient (the q344 overflow lesson, applied from day one).
    *
    * Scale shape: one map-combined (block, treatment) aggregate, a
    * treatments-sized × blocks-sized grid fill, per-BLOCK rank windows
    * (k rows each — never a global sort), then a treatments-sized
    * aggregate. 1-row output.
    */
  def friedman(df: DataFrame, blockCol: Column, treatCol: Column,
               valueCol: Column, fillValue: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df.select(blockCol.as("b"), treatCol.as("j"),
        valueCol.as("v"))
      .filter(col("b").isNotNull && col("j").isNotNull && col("v").isNotNull)
      .groupBy("b", "j").agg(sum("v").as("x"))
    val grid = cells.select("b").distinct()
      .crossJoin(cells.select("j").distinct())
      .join(cells, Seq("b", "j"), "left")
      .na.fill(fillValue, Seq("x"))
    // per-block doubled midrank: 2·rank + m − 1 (rank = min rank of the
    // tie group, m = tie multiplicity) — block-partitioned windows only
    val wr = Window.partitionBy("b").orderBy("x")
    val wm = Window.partitionBy("b", "x")
    val ranked = grid
      .withColumn("r2", lit(2L) * rank().over(wr) + count(lit(1)).over(wm) - 1L)
    val perTreat = ranked.groupBy("j")
      .agg(expr("sum(CAST(r2 AS DECIMAL(38,0)))").as("rr2"))
      .agg(count(lit(1)).as("k"),
        expr("sum(rr2 * rr2)").as("a"))
    val shape = ranked.agg(count_distinct(col("b")).as("n"))
    val ties = ranked.groupBy("b", "x").agg(count(lit(1)).as("m"))
      .agg(coalesce(sum(expr(
        "CAST(m AS DECIMAL(38,0)) * (m - 1) * (m + 1)")), lit(0)).as("tie"))
    // the main quotient ⌊3A·10⁶ / D⌋ can pass Long.Max (≈ 12nk·10⁶), so
    // it stays DECIMAL via the remainder-subtracted exact division — the
    // q344 overflow lesson, applied from day one; only the final
    // statistic (≤ n(k−1)·10⁶) lands in BIGINT
    val frExpr = "(CAST((3 * a * 1000000" +
      " - 3 * a * 1000000 % (CAST(n AS DECIMAL(38,0)) * k * (k + 1)))" +
      " / (CAST(n AS DECIMAL(38,0)) * k * (k + 1)) AS DECIMAL(38,0))" +
      " - 3 * CAST(n AS DECIMAL(38,0)) * (k + 1) * 1000000)"
    perTreat.crossJoin(broadcast(shape)).crossJoin(broadcast(ties))
      .select(col("n").as("n_blocks"), col("k").as("k_treatments"),
        expr(s"CAST($frExpr AS BIGINT)").as("fr_ppm"),
        expr("CASE WHEN CAST(n AS DECIMAL(38,0)) * k * (k * k - 1) - tie = 0" +
          " THEN NULL ELSE CAST(" +
          s" $frExpr" +
          " * (CAST(n AS DECIMAL(38,0)) * k * (k * k - 1))" +
          " div (CAST(n AS DECIMAL(38,0)) * k * (k * k - 1) - tie)" +
          " AS BIGINT) END").as("fr_tie_ppm"))
  }

  /** Brown–Forsythe test (Brown & Forsythe 1974, public literature) —
    * variance-homogeneity across k groups, the robust Levene variant
    * centered on MEDIANS: "do these groups differ in SPREAD" (is one
    * pipeline's latency wider, one source's price dispersion larger) —
    * the scale-difference companion to [[kruskalWallis]]'s location
    * question. Centers are the exact lower medians ([[Quality
    * .lowerMedianBy]] — a value FROM the data, integer for integer
    * inputs), deviations d = |x − med_g| stay integer, and the one-way
    * F on deviations is an exact rational: with per-group floors
    * a_g = ⌊S_g²·10⁶/n_g⌋ (DELIBERATE, mirrored by the oracle — the
    * q344 common-denominator device),
    * SSB·10⁶ = max(0, Σa_g − ⌊S²·10⁶/N⌋) — the clamp is load-bearing:
    * the per-group floors can undershoot the total's floor (3 groups
    * with deviations {0,0,1}: 999999 − 1000000 = −1), and on a negative
    * numerator Spark's truncating `div` and DuckDB's flooring `//`
    * disagree by 1 ppm; SSB is mathematically ≥ 0, so clamping restores
    * the exact value AND makes both divisions agree —
    * SSW·10⁶ = Σd²·10⁶ − Σa_g, and
    * F·10⁶ = SSB·(N−k)·10⁶ div (SSW·(k−1)). Degenerate spread (SSW = 0)
    * or shape (k < 2, N ≤ k) reads NULL.
    *
    * Envelope: the intermediate quotients (a_g, ⌊S²·10⁶/N⌋) ride
    * DECIMAL(38,0) remainder-subtracted divisions; the FINAL F is one
    * BIGINT `div` whose operands are both ≥ 0 after the clamp, where
    * truncation ≡ floor. The binding term is
    * SSB·(N−k)·10⁶ ≤ N²·maxdev²·10⁶ — holds to N·maxdev ≈ 10¹⁶
    * (10⁹ rows of 10⁷-cent deviations).
    *
    * Scale shape: the median is the by-value-collapsed window device
    * (distinct values per group, never a global sort); deviations are
    * one join + narrow map; then ONE map-combined 3-moment aggregate
    * per group and a k-sized final reduce. 1-row output.
    */
  def brownForsythe(df: DataFrame, grpCol: Column, valueCol: Column): DataFrame = {
    val cells = df.select(grpCol.as("g"), valueCol.as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val med = Quality.lowerMedianBy(cells, "g", "v", "med")
    val dev = cells.join(med, Seq("g"))
      .select(col("g"), abs(col("v") - col("med")).as("d"))
    val perG = dev.groupBy("g").agg(count(lit(1)).as("n_g"),
      expr("sum(CAST(d AS DECIMAL(38,0)))").as("s"),
      expr("sum(CAST(d AS DECIMAL(38,0)) * d)").as("s2"))
      .select(col("n_g"), col("s"), col("s2"),
        expr("CAST((s * s * 1000000 - s * s * 1000000 % n_g) / n_g" +
          " AS DECIMAL(38,0))").as("a_g"))
    perG.agg(count(lit(1)).as("k"), sum("n_g").as("n"),
        expr("sum(CAST(s AS DECIMAL(38,0)))").as("stot"),
        expr("sum(CAST(s2 AS DECIMAL(38,0)))").as("s2tot"),
        sum("a_g").as("a"))
      .select(expr("CAST(k AS BIGINT)").as("k_groups"),
        expr("CAST(n AS BIGINT)").as("n_rows"),
        expr("CASE WHEN k < 2 OR n <= k" +
          " OR s2tot * 1000000 - a = 0 THEN NULL ELSE CAST(" +
          " greatest(CAST(0 AS DECIMAL(38,0))," +
          "   a - CAST((stot * stot * 1000000" +
          "        - stot * stot * 1000000 % n) / n AS DECIMAL(38,0)))" +
          " * (n - k) * 1000000" +
          " div ((s2tot * 1000000 - a) * (k - 1)) AS BIGINT) END")
          .as("f_ppm"))
  }

  /** Cochran's Q (Cochran 1950, public literature) — the binary-outcome
    * member of the blocked-comparison family ([[friedman]] for ranks,
    * [[mcnemar]] is its k = 2 special case): "do k binary treatments
    * succeed at different rates across n blocks" (k feature flags × n
    * users, k retrieval arms × n queries with hit/miss outcomes). The
    * per-(block, treatment) outcome is OR-aggregated (`max`) and missing
    * cells read 0. With column totals C_j, block totals R_b, N = ΣC_j:
    * Q·10⁶ = (k−1)·(k·ΣC_j² − N²)·10⁶ div (k·N − ΣR_b²) — an exact
    * integer rational; a degenerate panel (every block all-0 or all-1)
    * NULLs out.
    *
    * Scale shape: one map-combined (block, treatment) max-aggregate,
    * then one blocks-sized and one treatments-sized moment aggregate —
    * no window at all. 1-row output. Envelope: k·ΣC_j² ≤ k²n² —
    * DECIMAL(38,0) holds far past any real panel.
    */
  def cochranQ(df: DataFrame, blockCol: Column, treatCol: Column,
               successCol: Column): DataFrame = {
    val cells = df.select(blockCol.as("b"), treatCol.as("j"),
        successCol.cast("boolean").as("s"))
      .filter(col("b").isNotNull && col("j").isNotNull && col("s").isNotNull)
      .groupBy("b", "j")
      .agg(max(when(col("s"), 1L).otherwise(0L)).as("x"))
    // missing cells are exactly 0 — no grid fill needed for the sums
    // (C_j, R_b, N ignore absent zeros identically)
    val byTreat = cells.groupBy("j").agg(sum("x").as("cj"))
      .agg(count(lit(1)).as("k"),
        expr("sum(CAST(cj AS DECIMAL(38,0)))").as("nTot"),
        expr("sum(CAST(cj AS DECIMAL(38,0)) * cj)").as("c2"))
    val byBlock = cells.groupBy("b").agg(sum("x").as("rb"))
      .agg(count(lit(1)).as("n_blocks"),
        expr("sum(CAST(rb AS DECIMAL(38,0)) * rb)").as("r2"))
    byTreat.crossJoin(broadcast(byBlock))
      .select(col("n_blocks"), col("k").as("k_treatments"),
        expr("CAST(nTot AS BIGINT)").as("n_success"),
        expr("CASE WHEN k * nTot - r2 = 0 THEN NULL ELSE CAST(" +
          "(k - 1) * (k * c2 - nTot * nTot) * 1000000" +
          " div (k * nTot - r2) AS BIGINT) END").as("q_ppm"))
  }
}
