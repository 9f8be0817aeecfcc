package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.Pin.PinOps

/** Distributed, engine-portable sketches for corpus-scale profiling:
  * HyperLogLog registers (distinct counting), Count-Min (frequency
  * estimation), and a Bloom-filter semi-join (pre-shuffle row pruning).
  *
  * Like the rest of the extension surface, every hash here is the modular
  * affine family ([[Dedup.affineHash]]) — no JVM `hashCode`, no Spark
  * `hash()` — so a SQL oracle reproduces bit-identical sketch contents.
  * Each consumer owns a disjoint block of family members (MinHash j=0..15,
  * sampling 7, packing 9, shuffle 100-115; sketches take 200+) so no two
  * pipeline stages ever share a hash.
  *
  * Every sketch hash is [[Dedup.mixHash]] (affine ∘ x⁵ ∘ affine): stacked
  * affine steps compose to a single affine map mod P, whose lattice
  * structure skews bucket residues and wrecks HLL's max-rank statistics
  * on sequential keys — the degree-5 S-box breaks it (see the mixHash
  * scaladoc).
  *
  * Scale design: all three are one narrow projection followed by one
  * hash-aggregate with map-side partial combine (HLL `max`, CM `count`) or
  * one broadcast equi-join (Bloom) — the sketch state is O(m), never
  * O(rows), so 1000 executors aggregate 100 TB into a few KB per group.
  */
object Sketch {

  // ------------------------------------------------------------ HyperLogLog

  /** First family member of the HLL mixHash pair (200, 201). */
  val HllJ: Int = 200

  /** HLL registers of `COUNT(DISTINCT keyCol)` per group: bucket = low
    * `log2m` bits of the hash, register = max over rows of the rank
    * (leading-zero count + 1) of the remaining `31 - log2m` hash bits.
    * Only populated buckets appear (absent bucket ⇔ register 0).
    *
    * The rank is derived WITHOUT floating point or `log`: the hash is
    * < 2^31 (mod [[Dedup.MinHashP]]), so `w = h >> log2m` has
    * `wBits = 31 - log2m` usable bits and
    * `rank = wBits + 1 - length(bin(w))` — `bin()` (binary string, no
    * leading zeros) exists with identical semantics in Spark and DuckDB,
    * keeping the whole sketch integer-exact across engines.
    *
    * `max` is idempotent, so the input needs NO pre-distinct — the
    * register table is one hash-aggregate with map-side partial combine
    * over the raw rows: state O(groups · m) regardless of corpus size,
    * and re-aggregating registers from per-partition sketches is the same
    * `max`, i.e. the sketch is mergeable exactly as HLL requires.
    */
  def hllRegisters(df: DataFrame, keyCol: String, groupCols: Seq[String],
                   log2m: Int = 6): DataFrame = {
    val (bucket, rank) = hllBucketRank(col(keyCol), log2m)
    df.select(groupCols.map(col) :+ bucket.as("bucket") :+ rank.as("r"): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("r")).cast("int").as("reg"))
  }

  /** Rolls a [[hllRegisters]] table up to a COARSER grouping — the HLL
    * merge is a plain `max` per (new group, bucket). This is the property
    * that makes the sketch the 100 TB answer: hourly register tables roll
    * up to daily/weekly/all-time cardinalities without ever touching the
    * raw events again, and the merged table is bit-identical to building
    * the coarse sketch from raw (max is associative) — which is exactly
    * what its oracle asserts. The caller derives any coarser key (e.g.
    * `to_date(hour)`) before calling.
    *
    * Scale: input is already keyspace-sized (groups · m rows); the merge
    * is one tiny hash aggregate. At 100 TB this replaces a full-corpus
    * re-scan per reporting granularity with an O(registers) rollup.
    */
  def mergeRegisters(registers: DataFrame, groupCols: Seq[String]): DataFrame =
    registers.groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("reg")).as("reg"))

  /** The (bucket, rank) projection under [[hllRegisters]], exposed so other
    * groupings (e.g. a watermarked streaming window) can build the same
    * sketch: register tables from ANY grouping merge with plain `max`.
    */
  def hllBucketRank(key: Column, log2m: Int = 6): (Column, Column) = {
    require(log2m >= 2 && log2m <= 16, s"log2m out of [2, 16]: $log2m")
    val m = 1 << log2m
    val wBits = 31 - log2m
    val h = Dedup.mixHash(key, HllJ)
    val w = shiftright(h, log2m)
    // native bin-length (one LZCNT) instead of length(bin(w)) — no
    // per-row string on the sketch's pass over the raw rows; the oracle
    // keeps the portable bin() spelling (q61/q118/q125 stay the proof)
    val rank = when(w === 0, lit(wBits + 1))
      .otherwise(lit(wBits + 1) -
        call_function(graft.functions.LogBucketFunctions.BinLenName, w))
    ((h % m).cast("int"), rank)
  }

  /** Cardinality estimate per group from a [[hllRegisters]] table: the
    * classic HLL harmonic mean with linear counting below 2.5m. Driver-side
    * uses of `log`/`pow` here are fine — the ESTIMATE is a diagnostic (its
    * spec asserts relative error); the REGISTERS are the exact-oracle
    * artifact.
    */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String],
                  log2m: Int = 6): DataFrame = {
    val m = 1 << log2m
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1 + 1.079 / m)
    }
    // Σ 2^-reg over ALL m buckets: absent buckets carry register 0 (2^0=1)
    val present = registers.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_present"),
        sum(lit(1.0) / pow(lit(2.0), col("reg"))).as("z_present"))
    present.select(groupCols.map(col) :+ {
      val z = col("z_present") + (lit(m) - col("n_present"))
      val raw = lit(alpha * m * m) / z
      val zeros = lit(m) - col("n_present")
      // linear-counting small-range correction (standard HLL practice)
      when(raw <= m * 2.5 && zeros > 0,
        round(lit(m.toDouble) * log(lit(m.toDouble) / zeros)).cast("long"))
        .otherwise(round(raw).cast("long")).as("est")
    }: _*)
  }

  // ------------------------------------------------------- KMV (bottom-k)

  /** mixHash family pair for the KMV sketch: (240, 241). */
  val KmvJ: Int = 240

  /** Aggregate column: bounded bottom-k distinct values of the NAMED
    * column `name` — the native [[graft.functions.BottomKDistinct]]
    * TypedImperativeAggregate (JVM TreeSet buffer, O(1) reject path,
    * serialization only at partial-aggregate boundaries; a udaf/Encoder
    * first cut paid per-row buffer round-trips through the row encoder —
    * measured 38× wall at the 10× scale probe). Registered as SQL
    * `graft_bottomk(x, k)` via [[graft.GraftExtensions]], so it resolves
    * like any built-in aggregate — callers project the input to a named
    * column first.
    */
  def bottomK(name: String, k: Int): Column =
    expr(s"${graft.functions.BottomKFunctions.Name}($name, $k)")

  /** KMV (k-minimum-values / bottom-k, Bar-Yossef et al. 2002; the Theta
    * sketch's core) registers of the distinct `keyCol` set per group: the
    * k SMALLEST DISTINCT values of [[Dedup.mixHash]](key), stored
    * relationally as (group, rank 1..k', h) — `rank` makes the row set a
    * deterministic relation and `max(h)` the k-th minimum.
    *
    * Where [[hllRegisters]] only estimates |A| (and |A∪B| after a merge),
    * the KMV register table supports INTERSECTION and Jaccard between
    * groups ([[kmvOverlap]]) — the audience-overlap estimator HLL
    * structurally cannot provide — because the bottom-k of the hash order
    * is a uniform coordinated sample of the distinct set.
    *
    * mixHash is a bijection on [0, P) (both affine steps and x⁵ are
    * permutations mod the Mersenne prime), so for keys < P distinct keys
    * never collide and a group with fewer than k distinct keys stores its
    * EXACT distinct set.
    *
    * Scale: one narrow projection, one hash aggregate whose partial
    * buffers are bounded at k — raw fact rows never shuffle; the register
    * table is O(groups · k) forever. Merging to coarser groups is
    * [[kmvMerge]] (bottom-k of the union ≡ rebuild from raw — associative
    * and idempotent like the HLL `max`).
    */
  def kmvRegisters(df: DataFrame, keyCol: String, groupCols: Seq[String],
                   k: Int = 128): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    kmvFromHashes(
      df.select(groupCols.map(col) :+
        Dedup.mixHash(col(keyCol), KmvJ).as("__kmv_h"): _*),
      groupCols, k)
  }

  /** Rolls a [[kmvRegisters]] table up to a COARSER grouping: bottom-k of
    * the union of the fine-grained register sets ≡ the coarse sketch built
    * from raw (the KMV merge law) — exactly what its oracle asserts, on
    * real data. Same O(registers) rollup story as [[mergeRegisters]].
    */
  def kmvMerge(registers: DataFrame, groupCols: Seq[String],
               k: Int = 128): DataFrame =
    kmvFromHashes(
      registers.select(groupCols.map(col) :+ col("h").as("__kmv_h"): _*),
      groupCols, k)

  private def kmvFromHashes(hashed: DataFrame, groupCols: Seq[String],
                            k: Int): DataFrame = {
    hashed.groupBy(groupCols.map(col): _*)
      .agg(bottomK("__kmv_h", k).as("bottomk"))
      .select(groupCols.map(col) :+ posexplode(col("bottomk")).as(Seq("pos", "h")): _*)
      .select(groupCols.map(col) :+
        (col("pos") + 1).cast("int").as("rank") :+ col("h"): _*)
  }

  /** Distinct-count estimate per group from a [[kmvRegisters]] table: with
    * a full buffer the classic unbiased estimator (k−1)/U₍ₖ₎ where U₍ₖ₎ is
    * the k-th minimum as a fraction of the hash space — here the exact
    * integer division `(k−1)·P div h₍ₖ₎` — and with fewer than k registers
    * the register set IS the distinct set, so the count is exact. No
    * floating point anywhere, so the estimate itself is oracle-exact.
    */
  def kmvEstimate(registers: DataFrame, groupCols: Seq[String],
                  k: Int = 128): DataFrame =
    registers.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_reg"), max(col("h")).as("kth"))
      .select(groupCols.map(col) :+
        when(col("n_reg") < k, col("n_reg"))
          .otherwise(expr(s"CAST(${k - 1} AS BIGINT) * ${Dedup.MinHashP} div greatest(kth, 1)"))
          .as("est"): _*)

  /** Pairwise distinct-set overlap between all groups of a
    * [[kmvRegisters]] table — for each unordered pair (a < b):
    * Jaccard and intersection/union cardinality ESTIMATES from sketches
    * alone. Method (Beyer et al., SIGMOD 2007): the bottom-k of the
    * UNION of the two register sets is a uniform coordinated sample of
    * A∪B; `both_n` of its members lying in both register sets estimates
    * Jaccard as both_n/k_used, and |A∩B| ≈ Jaccard · |A∪B|-estimate.
    * When the merged set has fewer than k values both register sets were
    * complete, so union and intersection are EXACT.
    *
    * Determinism: every quantity is an exact BIGINT; Jaccard is ONE
    * division of exact integers rounded to 6 decimals, and inter_est is
    * integer round-half-up `(2·both_n·union_est + k) div (2k)` — no
    * float crosses an aggregate, so the whole output is oracle-exact.
    *
    * Scale: inputs are O(groups · k) register rows; every join here is on
    * keyspace-sized relations (the raw facts were consumed once, by the
    * bounded [[kmvRegisters]] aggregate). Pair fan-out is groups² · 2k
    * rows — the same envelope as [[bitmapOverlap]], with k replacing
    * keyspace/64 words.
    */
  def kmvOverlap(registers: DataFrame, groupCol: String,
                 k: Int = 128): DataFrame = {
    val reg = registers.select(col(groupCol).as("g"), col("h"))
    val groups = reg.select(col("g")).distinct()
    val pairs = groups.select(col("g").as("group_a"))
      .join(groups.select(col("g").as("group_b")), col("group_a") < col("group_b"))
    val tagged = pairs.join(reg, col("group_a") === col("g"))
      .select(col("group_a"), col("group_b"), col("h"),
        lit(1L).as("in_a"), lit(0L).as("in_b"))
      .union(pairs.join(reg, col("group_b") === col("g"))
        .select(col("group_a"), col("group_b"), col("h"),
          lit(0L).as("in_a"), lit(1L).as("in_b")))
      .groupBy("group_a", "group_b", "h")
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val merged = tagged.withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("group_a", "group_b").orderBy("h")))
      .filter(col("rk") <= k)
    merged.groupBy("group_a", "group_b")
      .agg(count(lit(1)).as("n_merged"), max(col("h")).as("kth"),
        sum(col("in_a") * col("in_b")).as("both_n"))
      .select(col("group_a"), col("group_b"),
        col("n_merged").cast("int").as("k_used"), col("both_n"),
        when(col("n_merged") < k, col("n_merged"))
          .otherwise(expr(s"CAST(${k - 1} AS BIGINT) * ${Dedup.MinHashP} div greatest(kth, 1)"))
          .as("union_est"))
      .withColumn("inter_est",
        when(col("k_used") < k, col("both_n"))
          .otherwise(expr("(2 * both_n * union_est + " + k + ") div " + (2 * k))))
      .withColumn("jaccard",
        round(col("both_n").cast("double") / col("k_used").cast("double"), 6))
  }

  // -------------------------------------------------------------- Count-Min

  /** First family member of the CM mixHash pairs: row r uses (210+2r, 211+2r). */
  val CmJ: Int = 210

  /** Count-Min sketch of item frequencies: `depth` independent hash rows ×
    * `width` buckets, cell = number of input rows hashing there. Input is
    * one row per OCCURRENCE (no pre-distinct — multiplicity is the point).
    *
    * Plan: one `posexplode` of the depth bucket ids (single scan, no
    * depth-way union) → one hash-aggregate on (row, bucket). State is
    * O(depth · width) regardless of item cardinality — the table a
    * 100 TB vocabulary sweep can afford where an exact per-token count
    * cannot. Cells are mergeable by `+`, so per-partition partial combine
    * is exact.
    */
  def countMinSketch(items: DataFrame, itemCol: Column,
                     depth: Int = 4, width: Int = 2048): DataFrame =
    countMinSketchWeighted(items, itemCol, lit(1L), depth, width)

  /** [[countMinSketch]] over pre-aggregated (item, weight) rows: cell =
    * Σ weights. Counts are additive, so feeding per-item PARTIAL counts
    * (e.g. a `groupBy(token).count()` both the sketch and a top-k reuse)
    * yields the identical sketch to per-occurrence input — one corpus
    * pass instead of two.
    */
  def countMinSketchWeighted(items: DataFrame, itemCol: Column, weight: Column,
                             depth: Int = 4, width: Int = 2048): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth out of [1, 8]: $depth")
    require(width >= 2, s"width must be >= 2: $width")
    // materialize itemCol ONCE before fanning into the depth bucket
    // expressions: the map below copies the Column syntactically, so a
    // complex itemCol (e.g. an 8-op token encoding) would otherwise be
    // re-evaluated depth× per row — measured 13s → 0.9s on q62
    val pre = items.select(itemCol.as("__cm_x"), weight.as("__cm_w"))
    val buckets = array((0 until depth).map(r =>
      Dedup.mixHash(col("__cm_x"), CmJ + 2 * r) % width): _*)
    pre.select(col("__cm_w"), posexplode(buckets).as(Seq("row", "bucket")))
      .groupBy(col("row"), col("bucket").cast("int").as("bucket"))
      .agg(sum(col("__cm_w")).as("cnt"))
      .select(col("row").cast("int").as("row"), col("bucket"), col("cnt"))
  }

  /** Point-estimate item frequencies from a [[countMinSketch]]: for each
    * query item, `min` over the depth rows of the cell it hashes to —
    * an upper bound on the true count (collisions only ever inflate).
    *
    * `queries` carries one row per item in `itemCol`; all its columns are
    * kept. The sketch side is O(depth·width) rows — broadcast — so the
    * lookup is a broadcast join however large the query set.
    */
  def cmEstimate(sketch: DataFrame, queries: DataFrame, itemCol: Column,
                 depth: Int = 4, width: Int = 2048): DataFrame = {
    val keep = queries.columns.toSeq
    // same single-evaluation guard as countMinSketch
    val pre = queries.select(keep.map(col) :+ itemCol.as("__cm_x"): _*)
    val buckets = array((0 until depth).map(r =>
      Dedup.mixHash(col("__cm_x"), CmJ + 2 * r) % width): _*)
    pre.select(keep.map(col) :+ posexplode(buckets).as(Seq("row", "bucket")): _*)
      .withColumn("bucket", col("bucket").cast("int"))
      .join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy(keep.map(col): _*)
      .agg(min(col("cnt")).as("est"))
  }

  /** Join-size estimation from two Count-Min sketches (the classic
    * AMS-style inner-product estimator): |A ⋈ B| on an equi-key equals
    * Σ_k cntA(k)·cntB(k), and the per-row sketch inner product
    * Σ_b cellA[r][b]·cellB[r][b] upper-bounds it (hash collisions only
    * ever ADD cross terms). The estimate is min over the depth rows — the
    * number a 100 TB query planner reads to size a join's shuffle BEFORE
    * running it, from two O(depth·width) summaries it can keep per
    * table/partition and merge by cell addition.
    *
    * Both sketches MUST share the hash family (they do by construction:
    * [[countMinSketch]] pins the CmJ block), or the inner product is
    * meaningless.
    *
    * Output is a single certification row: the per-row estimates
    * `est_r0..est_r{depth-1}`, their min `est_pairs`, the exact join size
    * `exact_pairs` (one count-join — the audit pays what the sketch
    * avoids, once), and `err_ppm = est·10⁶ div exact − 10⁶` (≥ 0 because
    * the estimator never undercounts). All arithmetic integer; the ppm
    * numerator stays < 2⁶³ for join sizes up to ~9·10¹².
    *
    * Plan shape: two key-count aggregates (map-side partial), each folded
    * to depth·width cells; the cell join and the exact count-join are
    * both tiny (sketch-sized / distinct-key-sized). Nothing touches the
    * raw pair set.
    */
  def cmJoinSize(a: DataFrame, aKey: Column, b: DataFrame, bKey: Column,
                 depth: Int = 4, width: Int = 2048): DataFrame = {
    // per-key partial counts feed BOTH the sketch (weighted — identical
    // cells to per-occurrence input, one corpus pass) and the exact side
    val ca = a.select(aKey.as("k")).groupBy("k").agg(count(lit(1)).as("na"))
    val cb = b.select(bKey.as("k")).groupBy("k").agg(count(lit(1)).as("nb"))
    val ska = countMinSketchWeighted(ca, col("k"), col("na"), depth, width)
    val skb = countMinSketchWeighted(cb, col("k"), col("nb"), depth, width)
    val rows = ska.join(skb.withColumnRenamed("cnt", "cnt_b"),
        Seq("row", "bucket"))
      .groupBy(col("row"))
      .agg(sum(col("cnt") * col("cnt_b")).as("ip"))
    // disjoint key sets must degrade to an honest zero row, not nulls:
    // an empty cell join leaves the pivot cells null (coalesce to 0), an
    // empty exact join sums to null (coalesce to 0), and the ppm division
    // takes the same greatest(…, 1) floor as joinCardEstimates — without
    // it ANSI mode throws on divide-by-zero and non-ANSI emits null
    val perRow = rows.groupBy().pivot("row", 0 until depth).agg(first("ip"))
      .select((0 until depth).map(r =>
        coalesce(col(r.toString), lit(0L)).as(s"est_r$r")): _*)
      .withColumn("est_pairs",
        least((0 until depth).map(r => col(s"est_r$r")): _*))
    val exact = ca.join(cb, Seq("k"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("exact_pairs"))
    perRow.crossJoin(broadcast(exact))
      .withColumn("err_ppm",
        expr("est_pairs * 1000000L div greatest(exact_pairs, 1L) - 1000000L"))
  }

  // ------------------------------------------------------------------ Bloom

  /** First family member of the Bloom mixHash pairs: probe i uses (230+2i, 231+2i). */
  val BloomJ: Int = 230

  private def bloomPositions(key: Column, k: Int, mBits: Int): Column =
    array((0 until k).map(i =>
      Dedup.mixHash(key, BloomJ + 2 * i) % mBits): _*)

  /** Bloom-filter semi-join: keep the `probe` rows whose `probeKey` passes
    * a `k`-hash, `mBits`-bit Bloom filter built from `build`'s `buildKey`
    * set — the classic pre-shuffle reduction when the build side's KEYS fit
    * in memory but the probe side is the 100 TB fact table. Deliberately
    * admits the filter's false positives (a pure function of the hash
    * family, so the oracle reproduces the exact surviving row set).
    *
    * The filter is represented as the distinct SET-BIT POSITION table
    * (≤ mBits rows) rather than a packed bitmap, and membership is k
    * successive LEFT SEMI broadcast joins — one per hash, each on a
    * computed position column. The fact side is never exploded, never
    * aggregated, and NEVER SHUFFLED: each semi join is a broadcast probe
    * inside whole-stage codegen, so surviving rows flow straight to the
    * downstream consumer. (A first cut exploded the k positions and
    * counted matches back per row — the count-back regrouped, i.e.
    * shuffled, the whole fact table, defeating the filter's purpose.)
    *
    * Scale: build side aggregates to ≤ mBits rows (broadcast KBs, and
    * the identical subtree is planned once via exchange reuse); probe
    * side cost is k broadcast-hash probes per row.
    */
  def bloomSemiJoin(probe: DataFrame, probeKey: String,
                    build: DataFrame, buildKey: String,
                    k: Int = 3, mBits: Int = 8192): DataFrame = {
    require(k >= 1 && k <= 8, s"k out of [1, 8]: $k")
    require(mBits >= 64, s"mBits must be >= 64: $mBits")
    val bits = build
      .select(explode(bloomPositions(col(buildKey), k, mBits)).as("pos"))
      .distinct()
    (0 until k).foldLeft(probe) { (acc, i) =>
      val pos = Dedup.mixHash(col(probeKey), BloomJ + 2 * i) % mBits
      acc.join(broadcast(bits), pos === bits("pos"), "left_semi")
    }
  }

  // ------------------------------------------------ relational bitmap index

  /** mixHash family block for CountSketch: bucket r uses (440+4r, 441+4r),
    * sign r uses (442+4r, 443+4r) — depth ≤ 5 claims 440–459.
    */
  val CsJ: Int = 440

  /** CountSketch (Charikar–Chen–Farach-Colton): the SIGNED frequency
    * sketch — cell(r, b) = Σ sign_r(x)·w over items with bucket_r(x) = b,
    * sign_r(x) ∈ {−1, +1} from an independent hash. Two properties
    * Count-Min lacks, bought with the same O(depth·width) mergeable
    * state: the per-row estimate `sign_r(x)·cell` is UNBIASED (collisions
    * cancel in expectation instead of only inflating), and the sketch is
    * CLOSED UNDER SUBTRACTION — cells of sketch(B) − sketch(A) are
    * exactly the cells of sketch(B − A), so yesterday's stored sketch
    * subtracts from today's to monitor per-key DRIFT without either raw
    * stream. `depth` must be odd: the estimator is the exact integer
    * median (middle order statistic) of the per-row estimates.
    *
    * Feeding pre-aggregated (item, weight) rows yields the identical
    * sketch to per-occurrence input (additive cells — the
    * [[countMinSketchWeighted]] argument).
    */
  def countSketchWeighted(items: DataFrame, itemCol: Column, weight: Column,
                          depth: Int = 5, width: Int = 256): DataFrame = {
    require(depth >= 1 && depth <= 5 && depth % 2 == 1,
      s"depth must be odd in [1, 5]: $depth")
    require(width >= 2, s"width must be >= 2: $width")
    val pre = items.select(itemCol.as("__cs_x"), weight.as("__cs_w"))
    pre.select(col("__cs_w"),
        explode(csCellArray(col("__cs_x"), depth, width)).as("cell"))
      .groupBy(col("cell.row").as("row"), col("cell.bucket").as("bucket"))
      .agg(sum(col("cell.sign") * col("__cs_w")).as("cnt"))
  }

  /** The (row, bucket, sign) probe cells of one item under the pinned
    * CountSketch hash family — THE single source of truth shared by the
    * batch sketch ([[countSketchWeighted]]), the point estimator
    * ([[csEstimate]]), and the streaming hourly twin
    * ([[graft.streaming.Streams.countSketchHourly]]), so all three are
    * cell-compatible by construction (streamed window cells subtract
    * against batch cells, estimates read either).
    */
  private[graft] def csCellArray(x: Column, depth: Int, width: Int): Column =
    array((0 until depth).map { r =>
      struct(lit(r).as("row"),
        (Dedup.mixHash(x, CsJ + 4 * r) % width).cast("int").as("bucket"),
        (Dedup.mixHash(x, CsJ + 4 * r + 2) % 2 * 2 - 1).as("sign"))
    }: _*)

  /** Point-estimate signed frequencies from a [[countSketchWeighted]]:
    * for each query row, the exact integer MEDIAN over depth rows of
    * `sign_r(x)·cell(r, bucket_r(x))` (absent cells read 0). The sketch
    * is depth·width rows — broadcast; the median window partitions by the
    * query keys over depth rows each, never facts. Duplicate query ROWS
    * are preserved: the window key includes a per-input-row id (assigned
    * BEFORE the probe explode), so two identical query rows each get
    * their own depth-row median partition and each emits one output row —
    * keying by the query columns alone would fuse them into one 2·depth
    * partition whose "median" row is no row's median.
    */
  def csEstimate(sketch: DataFrame, queries: DataFrame, itemCol: Column,
                 depth: Int = 5, width: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(depth >= 1 && depth <= 5 && depth % 2 == 1,
      s"depth must be odd in [1, 5]: $depth")
    val keep = queries.columns.toSeq
    val qid = "__cs_qid"
    val cells = csCellArray(col("__cs_x"), depth, width)
    val probes = queries
      .withColumn(qid, monotonically_increasing_id())
      .withColumn("__cs_x", itemCol)
      .select((keep :+ qid).map(col) :+ explode(cells).as("c"): _*)
      .select((keep :+ qid).map(col) :+ col("c.row").cast("int").as("row")
        :+ col("c.bucket").as("bucket") :+ col("c.sign").as("sign"): _*)
    val w = Window.partitionBy((keep :+ qid).map(col): _*)
      .orderBy(col("est_r"), col("row"))
    probes.join(broadcast(sketch), Seq("row", "bucket"), "left")
      .withColumn("est_r", col("sign") * coalesce(col("cnt"), lit(0L)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === (depth + 1) / 2)
      .select(keep.map(col) :+ col("est_r").as("est"): _*)
  }

  /** AMS second frequency moment F₂ = Σ_x f(x)² from a
    * [[countSketchWeighted]] sketch (Alon, Matias & Szegedy, STOC 1996 —
    * public literature; CountSketch rows ARE AMS sketches): each row's
    * Σ_b cell² is an unbiased F₂ estimate (cross terms cancel under the
    * 4-wise-ish sign hash), and the readout is the exact integer MEDIAN
    * over the depth rows — the same middle-order-statistic discipline as
    * [[csEstimate]], so the result is bit-identical in any engine. F₂ is
    * the self-join size / skew mass: the one-number answer to "how
    * concentrated is this key distribution" that a join planner or a
    * skew monitor reads off KB of sketch instead of a corpus pass.
    *
    * Scale shape: the sketch is depth·width rows (KB); one per-row sum
    * in DECIMAL(38,0) (cell² sums can pass 2⁶³ long before the cells
    * themselves do) and a depth-row median window. Nothing touches facts.
    */
  def csF2Estimate(sketch: DataFrame, depth: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(depth >= 1 && depth <= 5 && depth % 2 == 1,
      s"depth must be odd in [1, 5]: $depth")
    val perRow = sketch.groupBy("row")
      .agg(sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt")).as("f2r"))
    // keyspace-sized window: input is collapsed/bounded before this sort
    val w = Window.orderBy(col("f2r"), col("row"))
    perRow.withColumn("rn", row_number().over(w))
      .filter(col("rn") === (depth + 1) / 2)
      .select(expr("CAST(f2r AS BIGINT)").as("f2_est"))
  }

  /** The join-cardinality estimator SHOOTOUT: the textbook System-R
    * uniformity formula `|A|·|B| / max(d_A, d_B)` next to the
    * [[cmJoinSize]] sketch inner product, both against the exact join
    * size — one row that shows what key skew does to the uniformity
    * assumption and what a frequency sketch buys back. Signed errors
    * (the uniformity formula UNDERcounts skewed joins; the sketch only
    * ever overcounts).
    *
    * Scale shape: the same two per-key count aggregates feed d_A/d_B,
    * both sketches, and the exact arm — one pass per side, everything
    * downstream summary-sized.
    */
  def joinCardEstimates(a: DataFrame, aKey: Column, b: DataFrame, bKey: Column,
                        depth: Int = 4, width: Int = 256): DataFrame = {
    val ca = a.select(aKey.as("k")).groupBy("k").agg(count(lit(1)).as("na"))
    val cb = b.select(bKey.as("k")).groupBy("k").agg(count(lit(1)).as("nb"))
    val sides = ca.agg(sum(col("na")).as("n_a"), count(lit(1)).as("d_a"))
      .crossJoin(cb.agg(sum(col("nb")).as("n_b"), count(lit(1)).as("d_b")))
    val ska = countMinSketchWeighted(ca, col("k"), col("na"), depth, width)
    val skb = countMinSketchWeighted(cb, col("k"), col("nb"), depth, width)
    val estCm = ska.join(skb.withColumnRenamed("cnt", "cnt_b"), Seq("row", "bucket"))
      .groupBy(col("row")).agg(sum(col("cnt") * col("cnt_b")).as("ip"))
      .agg(min(col("ip")).as("est_cm"))
    val exact = ca.join(cb, Seq("k"))
      .agg(sum(col("na") * col("nb")).as("exact_pairs"))
    sides.crossJoin(broadcast(estCm)).crossJoin(broadcast(exact))
      .withColumn("est_uniform", expr("n_a * n_b div greatest(d_a, d_b)"))
      .withColumn("err_uniform_ppm",
        expr("est_uniform * 1000000L div greatest(exact_pairs, 1L) - 1000000L"))
      .withColumn("err_cm_ppm",
        expr("est_cm * 1000000L div greatest(exact_pairs, 1L) - 1000000L"))
      .select("n_a", "n_b", "d_a", "d_b", "est_uniform", "est_cm",
        "exact_pairs", "err_uniform_ppm", "err_cm_ppm")
  }

  /** Certification of the [[bloomSemiJoin]] filter: MEASURED false-positive
    * rate at the deployed (k, mBits) geometry against exact membership —
    * the number that decides whether a pre-join Bloom prune pays for
    * itself (every false positive is a row the exact join must still
    * reject). One row out:
    * `n_build_keys` / `bits_set` (load), `n_member_keys` /
    * `n_member_pass` (must be equal — a Bloom filter has NO false
    * negatives; the hash gate re-proves it on real data),
    * `n_nonmember_keys` / `n_false_pass`, `fp_ppm`.
    *
    * Key-level (probe keys deduped): per-occurrence FPR just reweights by
    * key frequency and hides the filter's actual behavior.
    *
    * Scale shape: bit table and distinct-key sets are summary-sized; the
    * pass test is the same k broadcast semi-joins the production filter
    * uses; membership is one build-side semi-join on the deduped keys.
    */
  def bloomFprAudit(probe: DataFrame, probeKey: String,
                    build: DataFrame, buildKey: String,
                    k: Int = 3, mBits: Int = 8192): DataFrame = {
    val buildKeys = build.select(col(buildKey).as("bk")).distinct()
    val probeKeys = probe.select(col(probeKey).as("pk")).distinct()
    val passed = bloomSemiJoin(probeKeys, "pk", buildKeys, "bk", k, mBits)
    val flagged = probeKeys
      .join(buildKeys.select(col("bk").as("pk")).withColumn("is_member", lit(true)),
        Seq("pk"), "left")
      .join(passed.withColumn("passed", lit(true)), Seq("pk"), "left")
      .select(coalesce(col("is_member"), lit(false)).as("m"),
        coalesce(col("passed"), lit(false)).as("p"))
    val bitsSet = buildKeys
      .select(explode(bloomPositions(col("bk"), k, mBits)).as("pos"))
      .distinct().agg(count(lit(1)).as("bits_set"))
    val nBuild = buildKeys.agg(count(lit(1)).as("n_build_keys"))
    flagged.agg(
        sum(when(col("m"), 1L).otherwise(0L)).as("n_member_keys"),
        sum(when(col("m") && col("p"), 1L).otherwise(0L)).as("n_member_pass"),
        sum(when(!col("m"), 1L).otherwise(0L)).as("n_nonmember_keys"),
        sum(when(!col("m") && col("p"), 1L).otherwise(0L)).as("n_false_pass"))
      .crossJoin(broadcast(nBuild)).crossJoin(broadcast(bitsSet))
      .withColumn("fp_ppm",
        expr("n_false_pass * 1000000L div greatest(n_nonmember_keys, 1L)"))
      .select("n_build_keys", "bits_set", "n_member_keys", "n_member_pass",
        "n_nonmember_keys", "n_false_pass", "fp_ppm")
  }

  /** Bitmap index over a non-negative integer key, per group, stored
    * RELATIONALLY: one row per (group, 64-bit word index) holding the
    * packed word — the roaring-bitmap idea re-expressed as a relation, so
    * it builds with one hash aggregate and composes with plain joins.
    *
    * `bit_or` is idempotent (the HLL-register property), so the input
    * needs NO pre-distinct: raw fact rows aggregate straight into the
    * bitmap with map-side partial combine, and per-partition bitmaps merge
    * by the same `bit_or` — exactly the mergeable-sketch contract. State
    * is O(groups · keyspace/64) words (absent word ⇔ all-zero), not
    * O(rows); at 100 TB the fact table collapses to a few KB per group in
    * one shuffle.
    *
    * Unlike the [[hllRegisters]] estimate, the bitmap is EXACT — it IS the
    * key set — and set algebra (∩, ∪, \) becomes a word-index equi-join
    * plus `bit_count`, all codegen built-ins.
    */
  def bitmapIndex(df: DataFrame, groupCol: String, keyCol: String): DataFrame =
    df.select(col(groupCol),
        expr(s"$keyCol div 64").as("w"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST($keyCol % 64 AS INT))").as("bit"))
      .groupBy(col(groupCol), col("w"))
      .agg(expr("bit_or(bit)").as("word"))

  /** Pairwise EXACT intersection sizes between all groups of a
    * [[bitmapIndex]]: `(group_a < group_b, |keys_a ∩ keys_b|)`, emitting
    * only overlapping pairs. The audience-overlap / co-occurrence-matrix
    * primitive.
    *
    * Scale: the self-join keys on the word index `w`, so only aligned
    * 64-key blocks ever meet — cost Σ_w (groups sharing w)², bounded by
    * |groups|² · keyspace/64 WORDS, not by fact rows; popcount of the
    * ANDed words is a codegen `bit_count`, and the per-pair sum keys on
    * the |groups|²-bounded pair space.
    */
  def bitmapOverlap(bitmaps: DataFrame, groupCol: String): DataFrame = {
    // repartition on the join key BEFORE the self-join: both sides then
    // hang off ONE shuffle stage (ReusedExchange), so the bitmap build —
    // and everything upstream of it, e.g. a 100 TB fact join — runs once,
    // not once per side (the q15 banding fix)
    val part = bitmaps.repartition(col("w"))
    val a = part.select(col(groupCol).as("group_a"), col("w"),
      col("word").as("__wa"))
    val b = part.select(col(groupCol).as("group_b"), col("w"),
      col("word").as("__wb"))
    a.join(b, Seq("w"))
      .filter(col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        bit_count(col("__wa").bitwiseAND(col("__wb"))).cast("long").as("c"))
      .groupBy("group_a", "group_b")
      .agg(sum(col("c")).as("overlap"))
      .filter(col("overlap") > 0)
  }

  // -------------------------------------- native DataSketches (Spark 4)

  /** Per-group Apache DataSketches sketches via Spark's BUILT-IN
    * `hll_sketch_agg` + `theta_sketch_agg` (codegen'd, map-side partial
    * merge). Complements the hand-rolled register sketches above: those
    * are integer-exact and ORACLE-REPRODUCIBLE (their point), these are
    * the production-grade binaries — interoperable with every other
    * DataSketches consumer (Druid, Hive, PostgreSQL extensions), with
    * theta's set ALGEBRA (intersection/difference) that HLL
    * fundamentally cannot do. Both sketches are exact below their
    * promotion thresholds (HLL coupon mode, theta under k), which the
    * spec exploits to assert exact values.
    */
  def nativeSketches(df: DataFrame, keyCol: String, groupCol: String,
                     lgK: Int = 12): DataFrame =
    df.groupBy(col(groupCol))
      .agg(hll_sketch_agg(col(keyCol), lgK).as("hll"),
        theta_sketch_agg(col(keyCol)).as("theta"))

  /** Distinct estimates per group plus the all-group rollup — the rollup
    * MERGES the per-group binaries (`hll_union_agg`); the raw rows are
    * never re-read. This is the sketch contract that matters at 100 TB:
    * per-partition/day/tenant sketches persist, and any ad-hoc slice
    * union is metadata-sized work.
    */
  def nativeDistinct(sketches: DataFrame, groupCol: String): DataFrame =
    sketches.select(col(groupCol),
        hll_sketch_estimate(col("hll")).as("distinct_est"))
      .unionByName(sketches.agg(
        lit("__all__").as(groupCol),
        hll_sketch_estimate(hll_union_agg(col("hll"), lit(false)))
          .as("distinct_est")))

  /** Audience overlap via theta set algebra: members present in EVERY
    * group (`theta_intersection_agg`) and in ANY group
    * (`theta_union_agg`) — estimated from the per-group sketches alone.
    */
  def nativeOverlap(sketches: DataFrame): DataFrame =
    sketches.agg(
      theta_sketch_estimate(theta_intersection_agg(col("theta")))
        .as("in_every_group"),
      theta_sketch_estimate(theta_union_agg(col("theta")))
        .as("in_any_group"))

  // ------------------------------------------- log-linear quantile sketch

  /** The (bucket_id, rep) SQL expressions over a non-negative BIGINT
    * column named `xCol` — shared by the batch histogram and the
    * streaming twin ([[graft.streaming.Streams.logHistHourly]]) so the
    * two sketches are positionally identical and merge by adding counts.
    *
    * Emits the native [[graft.functions.LogBucketId]]/[[graft.functions.LogBucketRep]]
    * codegen expressions (one LZCNT + two shifts per row); the DuckDB
    * oracle keeps the portable `length(bin(x))` spelling, so every green
    * oracle row doubles as an equivalence proof for the native kernel.
    */
  def logBucketSql(xCol: String, subBits: Int): (String, String) =
    (s"${graft.functions.LogBucketFunctions.IdName}($xCol, $subBits)",
     s"${graft.functions.LogBucketFunctions.RepName}($xCol, $subBits)")

  /** Log-linear histogram sketch over a non-negative integer measure —
    * the rank/quantile member of the sketch family (HLL = cardinality,
    * CM = frequency, Bloom = membership, KMV = similarity). The exact
    * percentile operators sort or rank the raw rows; this one collapses
    * 100 TB into O(octaves · 2^subBits) mergeable buckets per group with
    * map-side partial combine, at a guaranteed ≤ 2^-subBits relative
    * error (DDSketch's log-bucket idea, Masson et al., VLDB 2019 — but
    * with pure base-2 integer bucketing instead of a float `log`, so the
    * sketch is bit-identical in any engine and under any partitioning).
    *
    * Bucket of x ≥ 0: `s = max(len(bin(x)) - 1 - subBits, 0)` (octave
    * shift), `m = x >> s` (leading 1+subBits bits). For x < 2^(subBits+1)
    * the bucket is EXACT (s = 0); above, the bucket spans 2^s values
    * starting at its representative `rep = m << s`, so
    * rep ≤ x < rep · (1 + 2^-subBits). `bucket_id = s · 2^(subBits+1) + m`
    * is monotone in x, making rank walks a sort over ≤ ~60 · 2^subBits
    * bucket rows per group — never over the data.
    *
    * Everything is integer (`bin()`-length for floor(log2), shifts for
    * the rest — identical semantics in Spark and DuckDB), so the sketch
    * passes both the exact-hash oracle gate and the layout-invariance
    * gate: counts are commutative, and no float fold exists anywhere.
    */
  def logHistogram(df: DataFrame, value: Column, groupCols: Seq[String],
                   subBits: Int = 4): DataFrame = {
    val (id, rep) = logBucketSql("__x", subBits)
    df.select(groupCols.map(col) :+ value.cast("long").as("__x"): _*)
      .select(groupCols.map(col) ++ Seq(
        expr(id).as("bucket_id"), expr(rep).as("rep")): _*)
      .groupBy((groupCols ++ Seq("bucket_id", "rep")).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Certified Kolmogorov–Smirnov interval from two [[logHistogram]]s —
    * the q269 certification pattern applied to distribution DISTANCE:
    * `ks_lo_ppm` is the exact KS of the bucketed distributions
    * (CDFs at bucket boundaries are EXACT — bucketing loses nothing
    * there), and `ks_hi_ppm` bounds the true raw-value KS from above
    * (within bucket i the two CDFs can diverge past the boundary gap by
    * at most the one-sided bucket masses: sup ≤ max(|D_{i−1} + aᵢ·n_b|,
    * |D_{i−1} − bᵢ·n_a|), attainable when one side's bucket mass fully
    * precedes the other's). True KS ∈ [ks_lo, ks_hi] — certified, not
    * asserted. All arithmetic integer cross-products in DECIMAL(38,0).
    *
    * Scale shape: histograms are KB-sized sketches (mergeable,
    * re-sliceable); the whole readout is two windows + one aggregate
    * over bucket rows — corpus never re-read. Feed it two periods of
    * [[graft.streaming.Streams.logHistHourly]] cells for a continuous
    * certified drift monitor.
    */
  def logHistKs(histA: DataFrame, histB: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val j = histA.select(col("bucket_id"), col("cnt").as("ca"))
      .join(histB.select(col("bucket_id"), col("cnt").as("cb")),
        Seq("bucket_id"), "full_outer")
      .select(col("bucket_id"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    // keyspace-sized window: input is collapsed/bounded before this sort
    val wRun = Window.orderBy("bucket_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = j.select(col("bucket_id"), col("ca"), col("cb"),
        sum("ca").over(wRun).as("cum_a"), sum("cb").over(wRun).as("cum_b"))
      .pin() // one-shot: bucket-keyspace rows; feeds totals + gaps
    val tot = cum.agg(max("cum_a").as("n_a"), max("cum_b").as("n_b"))
    ksInterval(cum.crossJoin(broadcast(tot))
      .select(col("bucket_id"), col("n_a"), col("n_b"), col("ca"), col("cb"),
        expr("CAST(cum_a AS DECIMAL(38,0)) * n_b" +
          " - CAST(cum_b AS DECIMAL(38,0)) * n_a").as("dd")))
  }

  /** The certified KS readout of [[logHistKs]] and [[logHistKsSeries]]
    * over rows `(keys…, bucket_id, ca, cb, n_a, n_b, dd)`, dd the scaled
    * CDF gap n_b·cum_a − n_a·cum_b at the bucket's upper boundary: per
    * key group, `ks_lo_ppm` is the largest boundary gap and `ks_hi_ppm`
    * the largest gap either side's bucket mass can open past the previous
    * boundary. One body, so the single pair and the series certify the
    * same interval.
    */
  private def ksInterval(gaps: DataFrame, keys: String*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wLag = Window.partitionBy(keys.map(col): _*).orderBy("bucket_id")
    gaps
      .withColumn("d_prev",
        coalesce(lag("dd", 1).over(wLag), expr("CAST(0 AS DECIMAL(38,0))")))
      .withColumn("hi_c",
        greatest(abs(col("d_prev") + expr("CAST(ca AS DECIMAL(38,0)) * n_b")),
          abs(col("d_prev") - expr("CAST(cb AS DECIMAL(38,0)) * n_a"))))
      .groupBy((keys ++ Seq("n_a", "n_b")).map(col): _*)
      .agg(max(abs(col("dd"))).as("lo_s"), max("hi_c").as("hi_s"))
      .select(keys.map(col) ++ Seq(col("n_a"), col("n_b"),
        expr("CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE" +
          " lo_s * 1000000 div (CAST(n_a AS DECIMAL(38,0)) * n_b) END")
          .as("ks_lo_ppm"),
        expr("CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE" +
          " hi_s * 1000000 div (CAST(n_a AS DECIMAL(38,0)) * n_b) END")
          .as("ks_hi_ppm")): _*)
  }

  /** [[logHistKs]] as a SERIES: for every group (hour/day/shard) with an
    * ordered predecessor, the certified KS interval against that
    * predecessor — the continuous drift monitor
    * [[graft.streaming.Streams.logHistHourly]]'s cells feed without ever
    * re-reading the corpus. One lead/lag pass over the distinct groups,
    * two joins to pair each group with its predecessor's cells, then the
    * [[logHistKs]] arithmetic with every window PARTITIONED BY group —
    * all work is (groups × buckets)-sized sketch metadata.
    */
  def logHistKsSeries(hist: DataFrame, groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = hist.select(col(groupCol).as("g"), col("bucket_id"), col("cnt"))
    val m = base.select("g").distinct()
      // keyspace-sized window: input is collapsed/bounded before this sort
      .withColumn("g_prev", lag("g", 1).over(Window.orderBy("g")))
      .filter(col("g_prev").isNotNull)
      .pin() // one-shot: group-keyspace; feeds both pairing joins
    val cur = base.join(m.select("g"), Seq("g"))
      .select(col("g"), col("bucket_id"), col("cnt").as("ca"))
    val prv = base.select(col("g").as("g_prev"), col("bucket_id"),
        col("cnt").as("cb"))
      .join(m, Seq("g_prev"))
      .select(col("g"), col("bucket_id"), col("cb"))
    val j = cur.join(prv, Seq("g", "bucket_id"), "full_outer")
      .select(col("g"), col("bucket_id"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val wRun = Window.partitionBy("g").orderBy("bucket_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("g")
    ksInterval(j.select(col("g"), col("bucket_id"), col("ca"), col("cb"),
        sum("ca").over(wRun).as("cum_a"), sum("cb").over(wRun).as("cum_b"))
      .select(col("g"), col("bucket_id"), col("ca"), col("cb"),
        col("cum_a"), col("cum_b"),
        max("cum_a").over(wAll).as("n_a"), max("cum_b").over(wAll).as("n_b"))
      .select(col("g"), col("bucket_id"), col("ca"), col("cb"),
        col("n_a"), col("n_b"),
        expr("CAST(cum_a AS DECIMAL(38,0)) * n_b" +
          " - CAST(cum_b AS DECIMAL(38,0)) * n_a").as("dd")), "g")
      .withColumnRenamed("g", groupCol)
  }

  /** Merge per-shard/day/tenant histograms: counts add, bucket identity
    * is positional — the same contract as [[mergeRegisters]]. Re-reading
    * raw rows is never needed to combine or re-slice the sketch.
    */
  def mergeLogHistograms(hist: DataFrame, groupCols: Seq[String]): DataFrame =
    hist.groupBy((groupCols ++ Seq("bucket_id", "rep")).map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Quantile readout from a [[logHistogram]]: for each requested
    * percentile q the estimate is the representative of the first bucket
    * whose cumulative count reaches rank ceil(n·q/100) — a window scan
    * over the bucket rows only (hist is KBs per group, so the per-group
    * window sort is metadata-sized work; the corpus was already reduced
    * by the histogram aggregate). `rep` is monotone in `bucket_id`, so
    * `min(rep)` over qualifying buckets IS the answer — integer-exact,
    * no interpolation, engine-portable.
    */
  def logHistQuantiles(hist: DataFrame, groupCols: Seq[String],
                       qs: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy("bucket_id")
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .select(groupCols.map(col) ++ Seq(col("rep"), col("cum"), col("n"),
        explode(array(qs.map(lit): _*)).as("quantile")): _*)
      .filter(col("cum") >= expr("(n * quantile + 99) div 100"))
      .groupBy((groupCols :+ "quantile").map(col): _*)
      .agg(min(col("rep")).as("est"), max(col("n")).as("n"))
  }

  /** Sketch-error audit: per (group, quantile), the [[logHistQuantiles]]
    * estimate NEXT TO the exact nearest-rank value under the SAME rank
    * rule, with the relative error in ppm — the measured "trust the
    * sketch" evidence (the log-linear design bounds error at 2^-subBits
    * relative, ~6.25% at subBits 4; exact below 2^(subBits+1)). Run this
    * on a sample or one shard when the exact side is too big to sort;
    * the REGISTERED comparison is the proof the bound holds on real
    * data, not just in the design note.
    *
    * Scale shape: the sketch side is the O(octaves·2^subBits) mergeable
    * state; the exact side per-group sorts the facts — the audit
    * deliberately pays the cost the sketch avoids, once, to certify it.
    */
  def logHistErrorAudit(data: DataFrame, xCol: String, tieCol: String,
                        groupCols: Seq[String], subBits: Int = 4,
                        qs: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val est = logHistQuantiles(
        logHistogram(data.select((groupCols :+ xCol).map(col): _*),
          col(xCol), groupCols, subBits), groupCols, qs)
      .select(groupCols.map(col) :+ col("quantile") :+ col("est"): _*)
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(xCol), col(tieCol))
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    val exact = data.select((groupCols :+ xCol :+ tieCol).map(col): _*)
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .select(groupCols.map(col) ++ Seq(col(xCol), col("rn"), col("n"),
        explode(array(qs.map(lit): _*)).as("quantile")): _*)
      .filter(col("rn") === expr("(n * quantile + 99) div 100"))
      .select(groupCols.map(col) ++ Seq(col("quantile"),
        col(xCol).as("exact")): _*)
    est.join(exact, groupCols :+ "quantile")
      .withColumn("err_ppm",
        expr("abs(est - exact) * 1000000L div greatest(exact, 1L)"))
      .select(groupCols.map(col) ++ Seq(col("quantile"), col("exact"),
        col("est"), col("err_ppm")): _*)
  }
}
