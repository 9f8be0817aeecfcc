package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.Pin.PinOps

/** Deterministic, engine-portable sampling for training-data pipelines.
  *
  * `df.sample()` is seed-dependent on partitioning and not reproducible
  * across engines; corpus curation needs the same subset on every run,
  * engine and re-partitioning. A row's fate here is a pure function of its
  * id: survive iff `affineHash(id) mod 1000 < permille(stratum)` — the
  * MinHash affine family ([[Dedup.hashA]]/[[Dedup.hashB]], j=7) over the
  * BIGINT id, so a SQL oracle reproduces the exact row set.
  *
  * Scale: a narrow filter — no shuffle, no state, pushes through any plan.
  */
object Sampling {

  /** Per-stratum sampling rates in permille; strata are matched in the
    * given order (first match wins), unmatched rows get `defaultPermille`.
    */
  def stratifiedHashSample(df: DataFrame, idCol: String, strataCol: String,
                           permille: Seq[(String, Int)],
                           defaultPermille: Int): DataFrame = {
    require(permille.forall { case (_, p) => p >= 0 && p <= 1000 },
      "stratum permille out of [0, 1000]")
    require(defaultPermille >= 0 && defaultPermille <= 1000,
      "defaultPermille out of [0, 1000]")
    val h = Dedup.affineHash(col(idCol), 7) % 1000L
    val rate = permille.reverse.foldLeft(lit(defaultPermille)) {
      case (acc, (stratum, p)) => when(col(strataCol) === stratum, lit(p)).otherwise(acc)
    }
    df.filter(h < rate)
  }

  /** EXACTLY min(n, |group|) rows per group, uniformly without
    * replacement, as a pure function of ids — the "exactly n docs per
    * domain" guarantee that fraction-based sampling
    * ([[stratifiedHashSample]]) cannot express. The winners are the n
    * smallest `mixHash(id)` values per group (family member `j` —
    * sampling owns its own block, disjoint from the KMV sketch's 240),
    * i.e. a KMV bottom-n of the id set, so the hash order is a uniform
    * permutation and any prefix of it is a uniform sample.
    *
    * Scale shape: the winner set is computed by the bounded
    * native [[graft.functions.BottomKDistinct]] aggregate — ≤ n hash values per (partition × group)
    * cross the shuffle, never the rows — and full rows then join back
    * LEFT SEMI on (group, h); the winner side is groups·n rows, so AQE
    * picks a broadcast probe whenever that fits (no hardcoded hint — a
    * million-group corpus must stay shuffle-joinable).
    * mixHash is a bijection below P, so h identifies the id exactly;
    * ids are assumed unique per group (duplicate ids would tie).
    */
  def sampleExactN(df: DataFrame, idCol: String, groupCol: String, n: Int,
                   j: Int = 250): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    val h = Dedup.mixHash(col(idCol), j)
    val winners = df.select(col(groupCol), h.as("__esn_h"))
      .groupBy(col(groupCol)).agg(Sketch.bottomK("__esn_h", n).as("ws"))
      .select(col(groupCol), explode(col("ws")).as("__esn_h"))
    // a USING join moves the join keys to the front — restore the
    // caller's column order so the sample is a true row-subset of df
    df.withColumn("__esn_h", h)
      .join(winners, Seq(groupCol, "__esn_h"), "left_semi")
      .select(df.columns.toSeq.map(col): _*)
  }

  /** Per-group quantile ESTIMATES from a bounded coordinated sample — the
    * mergeable-quantile-sketch story: the sample is the bottom-k of the
    * id hash order ([[sampleExactN]]'s winner rule), so per-partition /
    * per-batch samples merge by re-taking the bottom-k of their union
    * (the KMV law), and the quantile is the nearest-rank (floor) value
    * `rank = ((m−1)·p) div 100 + 1` over the sorted sample — all-integer
    * index arithmetic, value ties broken by the hash, so the whole output
    * is a pure function of the input set (oracle-exact, unlike
    * percentile_approx whose sketch is implementation-defined).
    *
    * Scale: the winner set is the bounded native bottom-k aggregate
    * (≤ k hashes per partition cross the shuffle), sample rows join back
    * on (group, h), and the rank window runs over ≤ groups·k rows — the
    * corpus is scanned once and never sorted. Exact when |group| ≤ k
    * (the sample IS the group).
    */
  def sampledQuantiles(df: DataFrame, idCol: String, valueCol: String,
                       groupCol: String, k: Int, percentiles: Seq[Int],
                       j: Int = 260): DataFrame = {
    require(percentiles.nonEmpty && percentiles.forall(p => p >= 0 && p <= 100),
      s"percentiles out of [0, 100]: $percentiles")
    val h = Dedup.mixHash(col(idCol), j)
    val rows = df.select(col(groupCol), h.as("__sq_h"), col(valueCol).as("value"))
    val winners = rows.groupBy(col(groupCol))
      .agg(Sketch.bottomK("__sq_h", k).as("ws"))
      .select(col(groupCol), explode(col("ws")).as("__sq_h"))
    val sample = rows.join(winners, Seq(groupCol, "__sq_h"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("value"), col("__sq_h"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    sample
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("p", explode(array(percentiles.map(lit(_)): _*)))
      .filter(col("rn") === expr("((m - 1) * p) div 100 + 1"))
      .select(col(groupCol), col("p"), col("value").as("q_value"),
        col("m").cast("int").as("sample_n"))
  }

  /** Importance-weighted deterministic sampling: a row survives iff
    * `mixHash(id) mod 10^6 < round(weight · 10^6)` — inclusion probability
    * equals the row's own weight in [0, 1] (values outside clamp), still a
    * pure function of (id, weight). The continuous-weight generalization
    * of [[stratifiedHashSample]]: quality-proportional corpus downsampling
    * ("keep good docs more often") with exact cross-engine reproducibility.
    * Weights should already carry the 6-decimal rounding policy (e.g. the
    * `quality` score) so both engines derive the identical integer
    * threshold. Narrow filter — no shuffle.
    */
  def weightedHashSample(df: DataFrame, idCol: String, weightCol: String,
                         seed: Int = 0): DataFrame = {
    val M = 1000000L
    val h = pmod(Dedup.mixHash(col(idCol), 160 + 8 * seed), lit(M))
    val w = least(greatest(col(weightCol), lit(0.0)), lit(1.0))
    df.filter(h < round(w * M).cast("long"))
  }

  /** Token-budgeted domain mixing: per `strataCol` domain, take documents
    * in deterministic hash order until the domain's character/token budget
    * is reached (the doc that crosses the boundary is included — standard
    * take-while-cumsum-under-budget). This is the data-mixing step of an
    * LLM corpus build: "give me ≈N tokens of web, ≈M of code, …",
    * reproducible across engines and re-runs.
    *
    * Hash member j=150 (disjoint from sampling 7, packing 9, shuffle
    * 100+, sketches 200+) orders docs WITHIN each domain; the budget
    * decides how deep into that order the domain is read.
    *
    * Scale: one window per domain (cumulative sum over the hash order).
    * Domains are few and the window input can be pre-pruned by a
    * stratified sample when a domain vastly exceeds its budget; if one
    * domain still dominates the corpus, the [[Packing.packDocuments]]
    * bucketed-running-sum shape is the refinement — here the exact
    * take-while boundary is the semantic, so the order must stay total
    * per domain.
    */
  def tokenBudgetMix(docs: DataFrame, idCol: String, strataCol: String,
                     sizeCol: String, budgets: Seq[(String, Long)],
                     defaultBudget: Long): DataFrame = {
    require(budgets.forall(_._2 >= 0) && defaultBudget >= 0, "negative budget")
    val budget = budgets.reverse.foldLeft(lit(defaultBudget)) {
      case (acc, (stratum, b)) => when(col(strataCol) === stratum, lit(b)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col("__h"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs.select(col(idCol), col(strataCol), col(sizeCol))
      .withColumn("__h", Dedup.mixHash(col(idCol), 150))
      .withColumn("cum_size", sum(col(sizeCol)).over(w))
      .filter(col("cum_size") - col(sizeCol) < budget)
      .select(col(idCol), col(strataCol), col(sizeCol), col("cum_size"))
  }

  /** Water-filling budget allocator — the planning step that PRODUCES the
    * per-domain budgets [[tokenBudgetMix]] consumes: split one global
    * token budget across domains as evenly as capacities allow, capping
    * each domain at what it actually has (max-min fairness). Small
    * domains keep everything; the remainder spreads uniformly across the
    * large ones — the standard anti-domination mix when no curated
    * weights exist.
    *
    * Exact integer algorithm (identical in any engine): sort domains by
    * (capacity, name); with w = running capacity sum and m domains at or
    * after row i, row i is CAPPED iff `cap_i·m + w_{i-1} ≤ B` — the
    * predicate is monotone along the sort ((cap_{i+1}−cap_i)·(m−1) ≥ 0),
    * so the capped set is a prefix and needs no iteration. Uncapped
    * domains get `base = (B − Σ capped) div n_uncapped`, with the
    * remainder distributed as +1 to the first `rem` uncapped domains in
    * name order. Provably alloc ≤ cap everywhere (the first uncapped
    * domain's capacity strictly exceeds the real level, hence ≥ base+1),
    * and Σ alloc = min(B, Σ cap). The capped-test product is bounded by
    * total corpus tokens × domain count (~10¹³·10³ at 100 TB) — well
    * inside Long.
    *
    * Scale: one map-side-combined domain aggregate over the corpus; every
    * window below runs on the DOMAIN keyspace (|domains| rows — hundreds,
    * not facts), so the single-partition sort is free at any corpus size.
    */
  def waterFillBudgets(docs: DataFrame, budget: Long,
                       strataCol: String = "source",
                       sizeCol: String = "n_chars"): DataFrame = {
    require(budget >= 0, "negative budget")
    import org.apache.spark.sql.expressions.Window
    val caps = docs.groupBy(col(strataCol).as("stratum"))
      .agg(sum(col(sizeCol).cast("long")).as("cap"))
    // keyspace-sized window: input is collapsed/bounded before this sort
    val ord = Window.orderBy(col("cap"), col("stratum"))
    val all = Window.partitionBy(lit(1))
    val uncappedOrd = Window.partitionBy(col("capped")).orderBy(col("stratum"))
    caps
      .withColumn("w_prev",
        coalesce(sum("cap").over(ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("m", count(lit(1)).over(all) - row_number().over(ord) + 1L)
      .withColumn("capped", col("cap") * col("m") + col("w_prev") <= budget)
      .withColumn("sum_capped",
        coalesce(sum(when(col("capped"), col("cap"))).over(all), lit(0L)))
      .withColumn("n_uncapped",
        sum(when(col("capped"), 0L).otherwise(1L)).over(all))
      // integer `div`, not float `/`: exact past 2^53 (the 100 TB range)
      .withColumn("base",
        when(col("n_uncapped") === 0, lit(0L))
          .otherwise(expr(s"(${budget}L - sum_capped) div n_uncapped")))
      .withColumn("rem",
        when(col("n_uncapped") === 0, lit(0L))
          .otherwise(pmod(lit(budget) - col("sum_capped"), col("n_uncapped"))))
      .withColumn("alloc",
        when(col("capped"), col("cap"))
          .otherwise(col("base") +
            when(row_number().over(uncappedOrd) <= col("rem"), 1L).otherwise(0L)))
      .select(col("stratum"), col("cap").as("cap_tokens"),
        col("alloc").as("alloc_tokens"))
  }

  /** Epoch-weighted corpus remixing (the Pile/Dolma "domain weights" step
    * — Gao et al. 2020, arXiv:2101.00027, public paper): re-weight each
    * domain to a target share of the final token mass by REPLICATION.
    * With T the total corpus size, D_d the domain's size and ppm_d its
    * target share, the exact per-doc copy factor is the rational
    * f_d = ppm_d·T / (10⁶·D_d): every doc gets ⌊f_d⌋ copies, and the
    * hash-selected frac(f_d) fraction of the domain draws one extra —
    * realized domain mass ⌊f_d⌋·D_d + ≈frac·D_d ≈ ppm_d·T, the target
    * share of an unchanged total corpus scale. ppm 0 → 0 copies (domain
    * dropped). Output is ONE row per input doc with its exact copy count;
    * materialization (`explode` over a `sequence`) is the consumer's
    * choice, so the remix plan itself stays O(n).
    *
    * Determinism/exactness: f_d stays an exact rational — numerator
    * ppm_d·T and denominator 10⁶·D_d in DECIMAL(38,0) (ppm·T passes 2⁶³
    * at corpus sizes ≥ ~9·10¹² chars — the q117 HUGEINT-mirror policy),
    * floor and fractional-ppm via integral division — and the extra-copy
    * draw is the id-hash family (member `j`=340, a block disjoint from
    * every other consumer), so both engines derive the identical copy
    * vector from the data alone.
    *
    * Scale: one domain-keyed size aggregate and one global sum (both
    * keyspace-sized, broadcast back onto the corpus) and a narrow per-row
    * map — no corpus shuffle, no window.
    */
  def remixToTarget(docs: DataFrame, idCol: String, strataCol: String,
                    sizeCol: String, targetPpm: Seq[(String, Long)],
                    defaultPpm: Long, j: Int = 340): DataFrame = {
    require(targetPpm.forall(_._2 >= 0) && defaultPpm >= 0, "negative target ppm")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val ppm = targetPpm.reverse.foldLeft(lit(defaultPpm)) {
      case (acc, (stratum, p)) => when(col(strataCol) === stratum, lit(p)).otherwise(acc)
    }
    val dom = docs.groupBy(col(strataCol)).agg(sum(col(sizeCol)).as("__dom_sz"))
    val tot = docs.agg(sum(col(sizeCol)).as("__tot_sz"))
    docs.select(col(idCol), col(strataCol), col(sizeCol))
      .join(broadcast(dom), Seq(strataCol))
      .crossJoin(broadcast(tot))
      .withColumn("__num", ppm.cast(dec) * col("__tot_sz").cast(dec))
      .withColumn("__den", lit(1000000L).cast(dec) * col("__dom_sz").cast(dec))
      .withColumn("__base", expr("__num div __den"))
      .withColumn("__frac_ppm", expr("((__num - __base * __den) * 1000000) div __den"))
      .withColumn("__draw", pmod(Dedup.mixHash(col(idCol), j), lit(1000000L)))
      .select(col(idCol), col(strataCol), col(sizeCol),
        (col("__base") +
          when(col("__draw") < col("__frac_ppm"), lit(1L)).otherwise(lit(0L)))
          .as("n_copies"))
  }

  /** Deterministic negative sampling for contrastive training: for each
    * anchor row, `k` pseudo-random partner ids — `partner_j =
    * mixHash(id; 320 + j) mod n` — uniform over the corpus, reproducible
    * across engines/partitionings, with no random state and no shuffle
    * (n arrives as a broadcast 1-row count). Self-collisions are dropped
    * rather than resampled (expected loss k/n rows — resampling would
    * need data-dependent iteration both engines must replicate).
    *
    * REQUIRES dense ids [0, n): the hash targets the id space directly,
    * which is what keeps this a narrow map — against sparse ids, first
    * build a dense rank (one window) or sample against a shuffled shard
    * table ([[deterministicShuffle]]). Hash family block 320-327 (8 slots
    * → k ≤ 8) is reserved for this operator.
    *
    * Scale: explode(k) over a narrow projection — at 100 TB the pair
    * stream pipelines straight into the downstream feature join without
    * materializing.
    */
  def negativePairs(df: DataFrame, k: Int, idCol: String = "vec_id"): DataFrame = {
    require(k >= 1 && k <= 8, s"k out of [1, 8]: $k")
    val n = df.select(count(lit(1)).as("__n"))
    df.select(col(idCol).as("anchor_id")).crossJoin(broadcast(n))
      .select(col("anchor_id"), posexplode(array((0 until k).map(j =>
        pmod(Dedup.mixHash(col("anchor_id"), 320 + j), col("__n"))): _*))
        .as(Seq("neg_idx", "partner_id")))
      .filter(col("partner_id") =!= col("anchor_id"))
  }

  /** First family member of the DSIR feature-bucket hash (pair 380, 381 —
    * disjoint from sampling 7, packing 9, shuffle 100+, sketches 200+,
    * negatives 320-327, remix 340, A/B 360).
    */
  val DsirJ: Int = 380

  /** Hashed-feature importance scores (DSIR flavor — Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling",
    * arXiv:2302.03169, public paper): rank raw documents by how
    * target-like their hashed unigram profile is, given a target-domain
    * predicate over the same corpus (e.g. `lang = 'en'`, or a quality
    * gate). Tokens fold to integers ([[Dedup.encodeToken]]) and bucket by
    * `mixHash mod buckets`; a bucket's weight is the exact integer ppm
    * ratio between its share of target token mass and its share of raw
    * token mass; a document's score is the floor-mean bucket weight over
    * its token occurrences — 10⁶ ≈ "corpus-typical", higher = target-like.
    * Callers select the top slice by `(score_ppm, doc_id)` or feed the
    * score to [[Quality.percentileRankBy]] for a calibrated cut.
    *
    * DSIR proper multiplies per-feature likelihood ratios (a log-sum);
    * `ln` is not bit-pinned across engines (the Gini/z-test policy), so
    * this takes the arithmetic-mean ratio instead of the geometric mean —
    * same hashed feature space, same selection use, exactly reproducible
    * in integer SQL. The target must contain at least one token (an empty
    * target has no distribution to match — integral division by zero).
    *
    * Scale: the corpus's tokens are hashed ONCE — the exploded stream
    * collapses (map-side combine) to the (doc, bucket) count histogram,
    * the operator's sufficient statistic, which is pinned
    * (`localCheckpoint`) and serves both sides: bucket totals (≤ `buckets`
    * rows) broadcast back, and scoring is `Σ cnt·weight` per doc over the
    * same histogram. The pin is deliberate: without it the weight and
    * scoring consumers each re-run the corpus walk (measured 3.4 s vs
    * 1.4 s at sf0.1); the histogram is ≤ docs·min(doc_tokens, buckets)
    * rows — compressed relative to the token stream it replaces.
    * Zero-token docs score 0 via the final left join (kept — the caller's
    * gate decides their fate).
    */
  def dsirScores(docs: DataFrame, isTarget: org.apache.spark.sql.Column,
                 buckets: Int = 1024, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val docBuckets = docs
      .select(col(idCol), isTarget.as("__tgt"),
        explode(TextAnalysis.tokens(lower(col(textCol)))).as("__token"))
      .withColumn("__b",
        pmod(Dedup.mixHash(Dedup.encodeToken(col("__token")), DsirJ), lit(buckets.toLong)))
      .groupBy(col(idCol), col("__tgt"), col("__b"))
      .agg(count(lit(1)).as("__cnt"))
      .pin() // one-shot: bucket totals AND per-doc arms share it
    val bucketCounts = docBuckets.groupBy(col("__b"))
      .agg(sum("__cnt").as("__raw_n"),
        sum(when(col("__tgt"), col("__cnt")).otherwise(0L)).as("__tgt_n"))
    val totals = bucketCounts
      .agg(sum("__raw_n").as("__raw_t"), sum("__tgt_n").as("__tgt_t"))
    val weights = bucketCounts.crossJoin(broadcast(totals))
      .withColumn("__num",
        col("__tgt_n").cast(dec) * col("__raw_t").cast(dec) * lit(1000000L).cast(dec))
      .withColumn("__den", col("__raw_n").cast(dec) * col("__tgt_t").cast(dec))
      .select(col("__b"), expr("__num div __den").as("__wppm"))
    // the per-doc weight sum stays BIGINT: Σ ≤ doc_tokens · max wppm,
    // and max wppm = 10⁶·raw_t/tgt_t — overflow needs a doc's token count
    // times the inverse target share to pass 9.2·10¹², far outside any
    // real corpus (ANSI mode errors rather than wraps if one is built)
    val scored = docBuckets.join(broadcast(weights), Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum("__cnt").as("n_tokens"),
        sum(col("__cnt") * col("__wppm")).as("__ws"))
      .select(col(idCol), col("n_tokens"), expr("__ws div n_tokens").as("score_ppm"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("score_ppm"), lit(0L)).as("score_ppm"))
  }

  /** First family member of the temperature-sampling draw (pair 390, 391). */
  val TemperatureJ: Int = 390

  /** Temperature-scaled stratum rebalancing at τ = ½ (the
    * low-resource-upsampling step of multilingual corpus builds — Conneau
    * & Lample et al., arXiv:1901.07291/1911.02116 sample languages with
    * p_l ∝ n_l^τ; public papers): stratum `l` receives a target of
    * `budget·√n_l / Σ√n` documents, flattening the head and upweighting
    * the tail relative to proportional sampling. τ = ½ specifically
    * because √ is the one fractional power with an EXACT integer form —
    * `isqrt` (float `pow` on counts is not bit-pinned across engines, the
    * log-free policy); the float `sqrt` seed is corrected by ±1 integer
    * comparisons so every engine lands on ⌊√n⌋ exactly.
    *
    * Per-doc fate is the hash draw `mixHash(id; 390) mod 10⁶ <
    * keep_ppm_l` with `keep_ppm_l = min(10⁶, (target_l·10⁶) div n_l)` —
    * realized sizes are binomial around the targets (exact-count
    * sampling is [[sampleExactN]]'s job; the hash draw is the narrow,
    * join-free form). Output: every doc with its stratum's exact
    * `keep_ppm` and its own `kept` flag.
    *
    * Scale: one keyspace-sized count aggregate (map-side combined), the
    * per-stratum rate table broadcast back, then a narrow codegen map —
    * no corpus shuffle, the [[stratifiedHashSample]] shape with rates
    * DERIVED from the data instead of given.
    */
  def temperatureSample(docs: DataFrame, budget: Long,
                        idCol: String = "doc_id",
                        strataCol: String = "lang"): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    val sizes = docs.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
    val isqrt = {
      val s0 = floor(sqrt(col("__n").cast("double"))).cast("long")
      when((s0 + 1) * (s0 + 1) <= col("__n"), s0 + 1)
        .when(s0 * s0 > col("__n"), s0 - 1)
        .otherwise(s0)
    }
    val roots = sizes.withColumn("__s", isqrt)
    val tot = roots.agg(sum("__s").as("__st"))
    val rates = roots.crossJoin(broadcast(tot))
      .withColumn("__target", expr(s"($budget * __s) div __st"))
      .select(col(strataCol),
        least(lit(1000000L), expr("(__target * 1000000) div __n")).as("keep_ppm"))
    docs.select(col(idCol), col(strataCol))
      .join(broadcast(rates), Seq(strataCol))
      .select(col(idCol), col(strataCol), col("keep_ppm"),
        (pmod(Dedup.mixHash(col(idCol), TemperatureJ), lit(1000000L)) < col("keep_ppm"))
          .as("kept"))
  }

  /** Deterministic global training shuffle: every row gets a shard and a
    * position inside it, both pure functions of (id, seed) — the final
    * "randomize the corpus before the trainer reads it" step, reproducible
    * across engines, partitionings and reruns (unlike `orderBy(rand())`).
    *
    * shard = affine-hash(id; seed) mod nShards; position = rank of a
    * SECOND independent affine hash within the shard (id tie-break for
    * hash collisions). Output: (idCol, shard, pos).
    *
    * Both hashes are [[Dedup.mixHash]] (affine ∘ x⁵ ∘ affine): a plain
    * affine step `a·x + b mod P` stays linear (never wraps) for ids below
    * ~P/a, so its low bits inherit the multiplier's parity (a = 37j+11
    * is even for odd j — one step would put EVERY row in shard 0 for
    * power-of-two nShards) and its order is just id order — and STACKING
    * affine steps cannot help, because their composition mod P is again
    * affine (see the mixHash scaladoc). Family members 100+8·seed …
    * 105+8·seed are disjoint from every other consumer (sampling j=7,
    * packing j=9, MinHash signatures j=0..k-1, sketches 200+): reusing
    * the sampling member would make shard a function of the keep/drop
    * hash, and a sampled-then-shuffled corpus would degenerate into the
    * low shards.
    *
    * Scale: one exchange on `shard` + a per-shard sort — never a global
    * sort. Shards are hash-balanced, so the sort is (corpus/nShards) per
    * task; pick nShards ≈ a few × executor count at 100 TB.
    */
  def deterministicShuffle(df: DataFrame, nShards: Int, idCol: String = "doc_id",
                           seed: Int = 0): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val shard = pmod(Dedup.mixHash(col(idCol), 100 + 8 * seed), lit(nShards.toLong))
    val order = Dedup.mixHash(col(idCol), 104 + 8 * seed)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__ord"), col(idCol))
    df.select(col(idCol), shard.cast("int").as("shard"), order.as("__ord"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Shard-homogeneity audit for [[deterministicShuffle]]: a training
    * shuffle's job is to make every shard look like the corpus, so per
    * (shard × category) compare the observed count against the
    * independence expectation st·ct/n via the cross-multiplied integer
    * deviation `|obs·n − st·ct| · 10⁶ div (st·ct)` — ppm of expectation,
    * no float anywhere (the q239 SRM trick, per-cell). Zero cells are
    * REAL misses (a shard missing a source entirely is dev 10⁶), so the
    * grid is the full shard × category keyspace, not just observed pairs.
    * Products route through DECIMAL(38,0) so the cross-multiply is exact
    * at any corpus size (obs·n overflows BIGINT past ~3·10⁹ rows).
    *
    * Output per shard: n_docs, n_cats present, max/total deviation ppm.
    * Scale shape: one fact-sized aggregate on (shard, cat); everything
    * after lives on the (nShards × |cats|) keyspace grid.
    */
  def shardBalanceAudit(df: DataFrame, nShards: Int, catCol: String,
                        idCol: String = "doc_id", seed: Int = 0): DataFrame = {
    val obs = deterministicShuffle(df, nShards, idCol, seed)
      .join(df.select(col(idCol), col(catCol).as("cat")), Seq(idCol))
      .groupBy(col("shard"), col("cat"))
      .agg(count(lit(1)).as("obs"))
    val shardTot = obs.groupBy("shard").agg(sum("obs").as("st"))
    val catTot = obs.groupBy("cat").agg(sum("obs").as("ct"))
    val grand = obs.agg(sum("obs").as("n"))
    shardTot
      .crossJoin(broadcast(catTot))
      .crossJoin(broadcast(grand))
      .join(obs, Seq("shard", "cat"), "left")
      .withColumn("o", coalesce(col("obs"), lit(0L)))
      .withColumn("dev_ppm", expr(
        """abs(cast(o as decimal(38,0)) * cast(n as decimal(38,0))
          |  - cast(st as decimal(38,0)) * cast(ct as decimal(38,0))) * 1000000
          |div (cast(st as decimal(38,0)) * cast(ct as decimal(38,0)))""".stripMargin))
      .groupBy("shard")
      .agg(max("st").as("n_docs"),
        sum(when(col("o") > 0, 1L).otherwise(0L)).as("n_cats"),
        max("dev_ppm").as("max_dev_ppm"),
        sum("dev_ppm").as("total_dev_ppm"))
  }

  /** mixHash family block for coordinated (universe) sampling: (410, 411). */
  val CoordJ: Int = 410

  /** Coordinated (universe) sampling of a JOIN: filter BOTH sides to the
    * keys whose shared hash lands under `permille`, join the samples, and
    * scale. Because the two sides agree on which keys survive (same hash,
    * same family member), the join of the samples IS the join restricted
    * to a 1000÷permille keyspace partition — unlike independent row
    * sampling, where a surviving left row's matches are themselves
    * decimated and the estimator needs a 1/p² correction on a much
    * noisier count. This is the standard way to estimate a 100 TB join's
    * size/skew profile from a fraction of the data: both sides prune at
    * the SCAN (the hash predicate pushes into the key column read), and
    * everything downstream is permille-sized.
    *
    * Output: one certification row per `groupCol` value (from side A):
    * `sample_pairs` (measured in the sampled universe), `est_pairs =
    * sample·1000 div permille`, `exact_pairs` (the full join, computed
    * once — the audit pays what the sample avoids), and a signed
    * `err_ppm = est·10⁶ div exact − 10⁶` (division operands non-negative;
    * the subtraction carries the sign — engine-portable).
    *
    * Groups whose exact join mass is entirely outside the sampled
    * universe would vanish from an inner join of the two arms; the
    * estimate side therefore RIGHT-joins the exact arm so every group
    * reports (sample 0, est 0, err −10⁶) rather than silently dropping.
    */
  def coordinatedJoinSample(a: DataFrame, aKey: String, b: DataFrame,
                            bKey: String, groupCol: String,
                            permille: Int = 100): DataFrame = {
    require(permille >= 1 && permille <= 1000, s"permille out of range: $permille")
    def keep(key: String): Column =
      Dedup.mixHash(col(key), CoordJ) % 1000 < permille
    val sampled = a.filter(keep(aKey))
      .join(b.filter(keep(bKey)), col(aKey) === col(bKey))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("sample_pairs"))
    val exact = a.join(b, col(aKey) === col(bKey))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("exact_pairs"))
    sampled.join(exact, Seq(groupCol), "right")
      .withColumn("sample_pairs", coalesce(col("sample_pairs"), lit(0L)))
      .withColumn("est_pairs", expr(s"sample_pairs * 1000L div $permille"))
      .withColumn("err_ppm",
        expr("est_pairs * 1000000L div exact_pairs - 1000000L"))
  }

  /** First hash-family index of the bootstrap block: resample r uses
    * `mixHash(id, BootJ + 2r)` — range [500, 500 + 2·resamples).
    */
  val BootJ: Int = 500

  /** Poisson(1) inverse-CDF thresholds at 10⁴ scale (cumulative pmf
    * ⌊10⁴·P(X < w)⌉ for w = 1..7): a uniform draw u ∈ [0, 9999] maps to
    * weight w = #{t : u ≥ t}. ONE literal table consumed by both engines
    * — the [[graft.ext.Search.ndcgDiscounts]] single-source device, so no
    * transcendental runs anywhere and every weight is engine-portable.
    */
  val PoissonThresholds: Seq[Int] = Seq(3679, 7358, 9197, 9810, 9963, 9994, 9999)

  /** [[bootstrapMeanCI]]'s single scan+aggregate, pre-checkpoint — the
    * stage whose plan shape the codegen spec pins. The expensive S-box
    * mix runs ONCE PER ROW before the melt (`p5 = perm5(affine(id,
    * BootJ))`, a well-mixed value in [0, P)); the melt explodes the
    * replicate index 0..m and each (row, replicate) pays only ONE affine
    * map of the mixed value — `u_r = (hashA(j_r)·p5 + hashB(j_r)) mod P
    * mod 10⁴` with j_r = BootJ + 2r — plus the 7 threshold compares.
    * Distinct multipliers per replicate keep the draws decorrelated (an
    * affine family over one mixed base — the [[Dedup.minHashSig]]
    * construction); a full per-replicate hash CHAIN (the previous
    * spelling) added no statistical value and, spelled dynamically, was
    * a ~1000-node tree that silently fell out of codegen and evaluated
    * interpreted per exploded row (measured 36× slower than even the
    * wide-aggregate form). Plan size and aggregate width stay CONSTANT
    * in m. Output: m+1 rows (pos, sx = Σw·x, nw = Σw); pos 0 is the
    * base (w ≡ 1) stats.
    */
  private[ext] def bootstrapSums(df: DataFrame, idCol: String,
                                 valueCol: Column, m: Int): DataFrame = {
    val melted = df
      .select(valueCol.cast("long").as("__x"),
        Dedup.perm5(Dedup.affineHash(col(idCol), BootJ)).as("__p5"))
      .select(col("__x"), col("__p5"),
        explode(sequence(lit(0L), lit(m.toLong))).as("pos"))
    val jc = lit(BootJ.toLong) + col("pos") * 2L - 2L // pos 1..m → j = BootJ+2(pos−1)
    // hashA(j)=37j+11, hashB(j)=101j+31 (Dedup.scala:33-34) as columns;
    // __p5 < P and 37j+11 < 2^16 here, so the product stays within Long
    val u = ((lit(37L) * jc + lit(11L)) * col("__p5")
      + (lit(101L) * jc + lit(31L))) % Dedup.MinHashP % 10000
    val w = when(col("pos") === 0, lit(1L)) // pos 0 = the base (unweighted) stats
      .otherwise(PoissonThresholds.map(t => when(u >= t, 1L).otherwise(0L))
        .reduce(_ + _))
    melted.select(col("pos"), col("__x"), w.as("w"))
      .groupBy("pos")
      .agg(sum(col("w") * col("__x")).as("sx"), sum("w").as("nw"))
  }

  /** ONE-PASS Poisson bootstrap confidence interval for the mean of an
    * integer metric column (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google 2012 — public): resample r reweights
    * every row by an independent deterministic Poisson(1) count (hash →
    * inverse CDF above). The corpus is scanned ONCE: each row explodes
    * into its m+1 (replicate, weight) pairs in-task (slot 0 = the base
    * weight 1, slots 1..m = replicates, each weight computed from the
    * replicate index as a column), and ONE (replicate → Σwx, Σw) hash
    * aggregate collapses them — map-side combine means only m+1 summary
    * rows per partition cross the shuffle, and both the plan size and the
    * aggregate width are CONSTANT in m, so whole-stage codegen never
    * bails (a per-row array of m precomputed weights was an O(m)
    * expression tree that blew up well below the permitted m=500). The
    * classic resample-loop would scan 100 TB once per replicate.
    *
    * CI bounds are nearest-rank order statistics of the resample means
    * (`rank = ⌈m·p‰/1000⌉`, the q236 rank rule): means are IEEE
    * divisions of exact integer sums rounded to 6 decimals, and rank
    * selection reads the sorted multiset, so ties cannot perturb the
    * selected VALUE — bit-identical in any engine.
    */
  def bootstrapMeanCI(df: DataFrame, idCol: String, valueCol: Column,
                      resamples: Int = 100, loPermille: Int = 25,
                      hiPermille: Int = 975): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(resamples >= 2 && resamples <= 500,
      s"resamples out of [2, 500]: $resamples")
    require(loPermille >= 1 && loPermille < hiPermille && hiPermille <= 1000,
      s"bad permille bounds: $loPermille, $hiPermille")
    val m = resamples
    val sums = bootstrapSums(df, idCol, valueCol, m)
      .pin() // one-shot: m+1 rows; feeds base stats AND the melt
    val base = sums.filter(col("pos") === 0)
      .select(col("nw").as("n"),
        round(col("sx").cast("double") / greatest(col("nw"), lit(1L)), 6).as("mean"))
    val means = sums.filter(col("pos") >= 1)
      .select(round(col("sx").cast("double") / greatest(col("nw"), lit(1L)), 6).as("mean"))
    val ranked = means
      // keyspace-sized window: input is collapsed/bounded before this sort
      .withColumn("rn", row_number().over(Window.orderBy(col("mean"))))
      .pin() // one-shot: m rows; read twice (lo and hi bound)
    val lo = ranked.filter(col("rn") === (m * loPermille + 999) / 1000)
      .select(col("mean").as("ci_lo"))
    val hi = ranked.filter(col("rn") === (m * hiPermille + 999) / 1000)
      .select(col("mean").as("ci_hi"))
    base
      .crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
      .withColumn("resamples", lit(m.toLong))
  }
}
