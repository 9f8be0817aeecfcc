package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ext.Pin.PinOps
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Physical-layout effectiveness audits.
  *
  * [[graft.load.Sinks.zorderParquet]] WRITES a two-dimensional clustering;
  * this module MEASURES what that clustering buys: for each candidate
  * layout, split the table into `nFiles` equal row ranges in layout order,
  * compute each file's per-key min/max envelope (what parquet footers
  * store), and count how many files a panel of point queries would have to
  * open. The output is the table an OPTIMIZE decision reads — "linear on A
  * prunes A perfectly and B not at all; z-order prunes both at ~√nFiles" —
  * quantified on the actual key distribution instead of asserted.
  */
object Layout {

  /** Exact global rank under a TOTAL order (callers must include a unique
    * tiebreak column), computed distributed: range-repartition + partition
    * -local sort yields a globally sorted frame whose partitions are in
    * range order, so `zipWithIndex` (one count job + one pass) assigns the
    * exact sort rank without ever collecting a partition to one task —
    * the same device Feeds.scala uses for positional header skips. Range
    * boundaries are SAMPLED, but ranks depend only on the total order, so
    * the result is layout-invariant (the Determinism gate's property).
    */
  private[graft] def withGlobalRank(df: DataFrame, sortCols: Seq[String]): DataFrame = {
    // NOTE (optimization round): a DataFrame-native variant (checkpoint
    // the sorted frame, tiny partition-offset table, partition-local
    // row_number window) measured consistently ~1.3× SLOWER here than
    // zipWithIndex's double compute — the checkpoint write of the full
    // frame plus the window's re-sort cost more than re-running one
    // narrow range-exchange. Keep the classic device.
    val sorted = df.repartitionByRange(sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
    val schema = StructType(sorted.schema.fields :+
      StructField("rnk", LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    sorted.sparkSession.createDataFrame(rdd, schema)
  }

  /** ONE ranked pass over every candidate layout at once: each input row
    * explodes into one row per (layId, that layout's sort key), the union
    * is globally ranked by (layId, key, id) — a single range exchange +
    * sort + zipWithIndex where the per-layout formulation paid one of
    * each PER LAYOUT — and, because every layout holds exactly `n` rows
    * and layIds are the leading sort key, the within-layout rank is
    * `rnk − layId·n` exactly. File envelopes then aggregate by
    * (layId, file). Bit-identical to ranking each layout separately
    * (restricting the (layId, key, id) order to one layId IS that
    * layout's (key, id) order); §2.4 — three exchanges share one.
    *
    * `layouts` = (name, sortKey column); `n` = exact row count of `base`.
    */
  private def layoutEnvelopes(base: DataFrame, layouts: Seq[(String, Column)],
                              nFiles: Int, n: Long): DataFrame = {
    val expanded = base.select(
      posexplode(array(layouts.map(_._2): _*)).as(Seq("layId", "k1")),
      col("id"), col("ka"), col("kb"))
    val ranked = withGlobalRank(
      expanded.select(col("layId"), col("k1"), col("id"), col("ka"), col("kb")),
      Seq("layId", "k1", "id"))
    ranked
      .withColumn("file",
        expr(s"(rnk - layId * ${n}L) * ${nFiles}L div ${n}L"))
      .groupBy("layId", "file")
      .agg(min("ka").as("min_a"), max("ka").as("max_a"),
        min("kb").as("min_b"), max("kb").as("max_b"))
      .withColumn("layout",
        element_at(array(layouts.map(l => lit(l._1)): _*), col("layId") + 1))
      .drop("layId")
  }

  /** File-skipping audit comparing `linear_a` (sort by keyA — the default
    * "cluster by the leading filter column" layout) against `zorder`
    * (bit-interleaved keyA×keyB). Both keys are masked to `bits` low bits
    * (the [[graft.load.Sinks.zValue]] contract; callers with wider domains
    * pre-scale). Probes are the distinct key values with
    * `key % probeMod == probeResidue` — a deterministic pseudo-random
    * panel both engines derive identically, sized by the modulus.
    *
    * Output: one row per (layout, dim) — n_files, n_probes, and
    * files_hit = Σ over probes of files whose [min, max] envelope
    * contains the probe (the files a point query on that dim must open).
    *
    * Scale shape: the global sorts are exactly the sorts the layout
    * WRITES would perform — auditing costs what one rewrite costs (the
    * layouts share one fused rank pass, [[layoutEnvelopes]]), and in
    * production runs on a cluster-sample (ext.Sampling) instead of the
    * full table. Envelopes are file-keyspace-sized (nFiles rows), probes
    * are keyspace-sized; the audit joins touch only those, never facts.
    */
  def skippingAudit(df: DataFrame, keyA: String, keyB: String, idCol: String,
                    nFiles: Int = 64, bits: Int = 16,
                    probeModA: Int = 97, probeModB: Int = 61): DataFrame =
    layoutAudit("skippingAudit", df, keyA, keyB, idCol, nFiles, bits, probeModA, probeModB,
      hilbert = false)

  /** File-level BLOOM-FILTER skipping audit — the pruning structure for
    * the workload min/max envelopes cannot help: point lookups on a key
    * UNCORRELATED with the layout order (every file's [min, max] spans
    * the whole domain, so envelope pruning opens everything). Files are
    * insertion-order ranges of `ordCol` (the natural unclustered layout);
    * each file gets a `mBits`-bit Bloom filter of its keys at `k` hashes
    * (what Parquet/Iceberg column blooms store). For a probe panel of
    * real keys, reports files opened under (a) min/max envelopes,
    * (b) the Bloom filters, (c) exact containment — bloom_open −
    * exact_open is the measured false-positive cost, bits_set the storage
    * honesty line.
    *
    * Scale shape: one fact pass to (file, key); envelopes, bit tables,
    * probe panels are file-/keyspace-sized; the probe joins touch bit
    * tables only. No false negatives by construction (every contained
    * key set all its bits) — the audit re-proves it: bloom_open ≥
    * exact_open always, hash-checked in both engines.
    */
  def fileBloomAudit(df: DataFrame, keyCol: String, ordCol: String,
                     nFiles: Int = 64, k: Int = 3, mBits: Int = 4096,
                     probeMod: Int = 7, probeResidue: Int = 1): DataFrame = {
    require(nFiles >= 1 && k >= 1 && mBits >= 2, "bad fileBloomAudit params")
    val base = df.select(col(keyCol).cast("long").as("key"),
      col(ordCol).cast("long").as("ord"))
    val b = base.agg(min("ord").as("o0"), max("ord").as("o1"))
    val files = base.crossJoin(broadcast(b))
      .select(col("key"),
        expr(s"(ord - o0) * ${nFiles}L div (o1 - o0 + 1)").as("file"))
      .pin() // one-shot: reused: envelopes, bits, probes, exact
    def blooms(c: Column) = array((0 until k).map(i =>
      Dedup.mixHash(c, Sketch.BloomJ + 2 * i) % mBits): _*)
    val env = files.groupBy("file")
      .agg(min("key").as("kmin"), max("key").as("kmax"))
    val fk = files.distinct().pin() // one-shot: bloom bits AND envelopes read it
    val bits = fk.select(col("file"), explode(blooms(col("key"))).as("pos"))
      .distinct()
      .pin() // one-shot: probe join AND fill-rate stats share it
    val probes = files.select("key").distinct()
      .filter(col("key") % probeMod === probeResidue)
      .select(col("key").as("p"))
      .pin() // one-shot: bloom probe AND exact arm share it
    val pPos = probes.select(col("p"), explode(blooms(col("p"))).as("pos"))
    val bloomOpen = pPos.join(bits, "pos")
      .groupBy("p", "file").agg(count(lit(1)).as("nh"))
      .filter(col("nh") === k)
      .agg(count(lit(1)).as("bloom_open"))
    val mmOpen = probes
      .join(env, col("p") >= col("kmin") && col("p") <= col("kmax"))
      .agg(count(lit(1)).as("minmax_open"))
    val exactOpen = probes.join(fk, col("p") === col("key"))
      .agg(count(lit(1)).as("exact_open"))
    probes.agg(count(lit(1)).as("n_probes"))
      .crossJoin(broadcast(bits.agg(count(lit(1)).as("bits_set"))))
      .crossJoin(broadcast(mmOpen))
      .crossJoin(broadcast(bloomOpen))
      .crossJoin(broadcast(exactOpen))
      .select(lit(nFiles.toLong).as("n_files"), col("n_probes"),
        col("bits_set"), col("minmax_open"), col("bloom_open"),
        col("exact_open"),
        (col("bloom_open") - col("exact_open")).as("false_open"))
  }

  /** Per-step (column → expression) chain computing the HILBERT index of
    * `(hx0, hy0)` on a `2^bits`-side grid — the standard xy2d quadrant
    * recursion, unrolled: step i consumes bit `s = 2^(bits−1−i)`, adds
    * `s²·q` where the quadrant `q = rx=1 ? 3−ry : ry` (the arithmetic
    * spelling of `(3·rx) xor ry` for 1-bit inputs — no XOR operator, so
    * the SAME text parses in Spark SQL and DuckDB), then rotates/flips
    * the frame (`ry=0 → x' = rx=1 ? n−1−y : y; y' = rx=1 ? n−1−x : x`).
    * Emitted stepwise — nesting into one scalar expression would copy the
    * x/y subtrees 2^bits times. `div` is the ONLY dialect difference
    * ("div" Spark, "//" DuckDB), injected as a token so both engines run
    * one source of truth.
    */
  def hilbertSteps(bits: Int, div: String): Seq[Seq[(String, String)]] = {
    require(bits >= 1 && bits <= 16, s"bits out of [1, 16]: $bits")
    val n = 1L << bits
    (0 until bits).map { i =>
      val s = 1L << (bits - 1 - i)
      val (x, y, d) = (s"hx$i", s"hy$i", s"hd$i")
      val rx = s"(($x $div $s) % 2)"
      val ry = s"(($y $div $s) % 2)"
      Seq(
        s"hd${i + 1}" ->
          s"$d + ${s * s} * (CASE WHEN $rx = 1 THEN 3 - $ry ELSE $ry END)",
        s"hx${i + 1}" ->
          (s"CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 " +
            s"THEN ${n - 1} - $y ELSE $y END) ELSE $x END"),
        s"hy${i + 1}" ->
          (s"CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 " +
            s"THEN ${n - 1} - $x ELSE $x END) ELSE $y END"))
    }
  }

  /** Append a Hilbert-index column computed from two long columns already
    * masked to `[0, 2^bits)`. Narrow map — `bits` chained integer
    * expressions, no shuffle.
    */
  def withHilbert(df: DataFrame, xCol: String, yCol: String, bits: Int,
                  out: String = "h"): DataFrame = {
    val init = df.withColumn("hx0", col(xCol).cast("long"))
      .withColumn("hy0", col(yCol).cast("long"))
      .withColumn("hd0", lit(0L))
    val stepped = hilbertSteps(bits, "div").foldLeft(init) { (acc, step) =>
      step.foldLeft(acc) { case (a, (name, sql)) => a.withColumn(name, expr(sql)) }
    }
    stepped.withColumn(out, col(s"hd$bits"))
      .drop((0 to bits).flatMap(i => Seq(s"hx$i", s"hy$i", s"hd$i")): _*)
  }

  /** The space-filling-curve SHOOTOUT: [[skippingAudit]]'s file-envelope /
    * probe-panel machinery run over THREE layouts — linear on keyA,
    * Z-order, Hilbert — on the same table. Z-order's long diagonal jumps
    * (address 0b01…1 → 0b10…0 teleports across the grid) fatten file
    * envelopes; Hilbert moves one cell per address step, so its envelopes
    * are tighter and point queries open fewer files. This table is the
    * measured version of that claim on the actual key distribution — what
    * an OPTIMIZE CLUSTER BY decision should read.
    *
    * Scale shape identical to [[skippingAudit]] (both run
    * [[layoutAudit]]): each layout costs the one global sort its WRITE
    * would cost (distributed rank via range-partition + zipWithIndex,
    * never a single-partition window); envelopes and probes are
    * file-/keyspace-sized.
    */
  def curveAudit(df: DataFrame, keyA: String, keyB: String, idCol: String,
                 nFiles: Int = 64, bits: Int = 8,
                 probeModA: Int = 97, probeModB: Int = 61): DataFrame =
    layoutAudit("curveAudit", df, keyA, keyB, idCol, nFiles, bits, probeModA, probeModB,
      hilbert = true)

  /** The one body of [[skippingAudit]] and [[curveAudit]], which differ
    * only in whether the Hilbert layout joins `linear_a` and `zorder`:
    * mask both keys to `bits` low bits, pin the keys (and their curve
    * coordinates) once, rank every layout in one pass
    * ([[layoutEnvelopes]]), then count the files each probe panel opens
    * per (layout, dim). `op` names the caller in the empty-table error.
    */
  private def layoutAudit(op: String, df: DataFrame, keyA: String, keyB: String,
                          idCol: String, nFiles: Int, bits: Int,
                          probeModA: Int, probeModB: Int, hilbert: Boolean): DataFrame = {
    require(nFiles >= 1, s"nFiles must be positive: $nFiles")
    val mask = 1L << bits
    // pmod, not %: negative keys must still land in [0, mask) or the
    // z/hilbert coordinates go negative and the curve order is garbage
    val masked = df.select(col(idCol).cast("long").as("id"),
        pmod(col(keyA).cast("long"), lit(mask)).as("ka"),
        pmod(col(keyB).cast("long"), lit(mask)).as("kb"))
      .withColumn("z", graft.load.Sinks.zValue(col("ka"), col("kb"), bits))
    // one-shot: the keys feed every layout's sort plus two probe panels —
    // pin them once so the scan/mask runs once
    val base = (if (hilbert) withHilbert(masked, "ka", "kb", bits) else masked)
      .pin()
    val n = base.count()
    require(n > 0, s"$op needs a non-empty table")

    val layouts = Seq("linear_a" -> col("ka"), "zorder" -> col("z")) ++
      (if (hilbert) Seq("hilbert" -> col("h")) else Nil)
    val env = layoutEnvelopes(base, layouts, nFiles, n)
      .pin() // one-shot: layouts × 2 dims of range joins below

    def hits(dim: String, probes: DataFrame, lo: String, hi: String): DataFrame =
      probes.join(env, col("p") >= col(lo) && col("p") <= col(hi))
        .groupBy("layout")
        .agg(count(lit(1)).as("files_hit"))
        .crossJoin(broadcast(probes.agg(count(lit(1)).as("n_probes"))))
        .select(col("layout"), lit(dim).as("dim"),
          lit(nFiles.toLong).as("n_files"), col("n_probes"), col("files_hit"))

    val probesA = base.select(col("ka").as("p")).distinct()
      .filter(col("p") % probeModA === 1)
    val probesB = base.select(col("kb").as("p")).distinct()
      .filter(col("p") % probeModB === 3)
    hits("a", probesA, "min_a", "max_a")
      .unionByName(hits("b", probesB, "min_b", "max_b"))
  }

  /** Per-doc rendezvous assignment: (idCol, shard). Weights are one
    * narrow map over doc×S; argmax is one max(struct) aggregate with a
    * deterministic tiebreak (largest weight, then smallest shard).
    */
  private[ext] def rendezvousAssign(docs: DataFrame, nShards: Int,
                                    idCol: String = "doc_id"): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1: $nShards")
    docs.select(col(idCol).cast("long").as("d"))
      .select(col("d"),
        explode(sequence(lit(0L), lit(nShards - 1L))).as("s"))
      // the pairing constant is FIXED (not nShards): h(d, s) must not
      // change when the shard count grows, or the relocation-only-to-
      // the-new-shard property dies (1000003 is prime and far above any
      // realistic shard count, so (d, s) pairs stay collision-free).
      // mixHash (affine ∘ x⁵ ∘ affine), NOT plain affineHash: an affine
      // weight is an arithmetic progression in s, whose argmax is the
      // same shard for almost every doc (measured: all 500 sf0.01 docs
      // on one shard) — the round-4b "affine family needs an S-box"
      // lesson, third appearance
      .withColumn("w", Dedup.mixHash(col("d") * 1000003L + col("s"), 11))
      .groupBy("d")
      .agg(max(struct(col("w"), (-col("s")).as("ns"), col("s"))).as("__m"))
      .select(col("d").as(idCol), col("__m.s").as("shard"))
  }

  /** Rendezvous (highest-random-weight) sharding audit — the shard
    * assignment a 100 TB ingest uses when the shard count must be able
    * to CHANGE without reshuffling the world: doc → argmax over shards
    * of h(doc, shard). Growing S → S+1 relocates ONLY the docs whose
    * new argmax is the new shard (≈ 1/(S+1) of them) — consistent
    * hashing's property without the ring (Thaler & Ravishankar 1996,
    * public literature; [[LayoutSpec]] proves the property). Weights are
    * [[Dedup.affineHash]] over the combined (doc·S + shard) key —
    * overflow-safe, identical in SQL. Output: one row per shard with its
    * doc count and share (ppm of total) — the balance audit.
    *
    * Scale shape: the doc×S weight relation is a narrow map (S is a
    * constant, not data), the argmax is one map-combined max(struct)
    * aggregate keyed by doc, counts are one S-sized aggregate; the
    * 1-row total broadcasts back (share-of-total device).
    */
  def rendezvousShards(docs: DataFrame, nShards: Int,
                       idCol: String = "doc_id"): DataFrame = {
    val counts = rendezvousAssign(docs, nShards, idCol)
      .select(col("shard")).groupBy("shard")
      .agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum("n_docs").as("__tot")) // 1 row — broadcast
    counts.crossJoin(broadcast(total))
      .select(col("shard"), col("n_docs"),
        expr("n_docs * 1000000 div (CASE WHEN __tot = 0 THEN 1 ELSE __tot END)")
          .as("share_ppm"))
  }
}
