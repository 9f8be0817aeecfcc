package graft.ext

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.Pin.PinOps
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField,
  StructType}
import graft.functions.VectorFunctions

/** Distributed k-means (Lloyd's) and SemDeDup-style semantic deduplication
  * over the embedding corpus — the clustering layer a 100 TB curation
  * pipeline trains its IVF coarse quantizer and semantic-dedup cells with
  * (extension surface; the reference has no ML-clustering analogue).
  *
  * All iterate arithmetic is EXACT fixed-point integer math so every
  * Lloyd's step is bit-identical cross-engine and the DuckDB oracle can
  * replay the full training loop: vectors quantize to `⌊x·10⁶ + 0.5⌋`
  * longs, distances are integer squared-L2 (max `64·(1.16e6)² < 2⁵⁷`, no
  * overflow), and centroid means use truncating integer division —
  * Spark's `div` and DuckDB's `//` both truncate toward zero, verified on
  * negative operands.
  *
  * Scale shape per Lloyd's iteration (the same with every key of a
  * subspace-keyed run, see `lloyd`):
  *   - assignment: corpus × BROADCAST centroid table (k·dim longs), the
  *     fused-codegen distance per pair, then `min(struct(dist, cid))` per
  *     vector — a PARTIAL aggregate, so map-side combine reduces the n·k
  *     candidate stream to n rows before the one vec_id shuffle. (An
  *     inlined-centroids `array_min(array(struct…))` narrow map was tried
  *     first and measured 15-20× SLOWER past a few dozen centroids: the
  *     giant expression falls out of whole-stage codegen and every
  *     candidate allocates interpreted structs — SCALING.md);
  *   - the update joins the assignment back to the pinned corpus on
  *     vec_id and runs one `(cluster, dim)`-keyed partial aggregation;
  *   - centroids collect to the driver between iterations (k·dim longs —
  *     the standard Lloyd's driver loop, independent of corpus size).
  * k self-scales to ≈ √n (`seeds = ids ≡ 0 mod m`, m the smallest power
  * of two with m² ≥ n) — the classic IVF sizing: cell size and cell count
  * both grow as √n, keeping Lloyd's total work at n^1.5 instead of the n²
  * a corpus-proportional k produces.
  */
object Clustering {

  /** Fixed-point scale: 6 decimal digits — comfortably past the float32
    * mantissa noise floor for unit-norm-ish embeddings.
    */
  val Scale = 1000000L

  /** `⌊x·Scale + 0.5⌋` as BIGINT — `floor(x + 0.5)` not `round()`, so the
    * oracle reproduces each cell without either engine's half-tie rule
    * (same policy as [[Similarity.quantizeInt8]]).
    */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast(DoubleType) * Scale.toDouble + lit(0.5)).cast(LongType))

  /** Integer squared-L2 between two BIGINT vectors (exact) — the native
    * fused loop ([[graft.functions.LongL2Squared]]); with k inlined
    * centroids per row the HOF formulation would run 2k interpreted
    * lambdas and k array allocations per input row.
    */
  private def l2sq(a: Column, b: Column): Column =
    VectorFunctions.l2Squared(a, b)

  /** Smallest power of two `m` with `m² ≥ n` — the adaptive seed modulus:
    * `k ≈ n/m ≈ √n` centroids, the classic IVF sizing (cell size AND cell
    * count both grow as √n, so Lloyd's total work is n^1.5, not the n²
    * a corpus-proportional k produces — measured 16× wall at 10× data
    * before this rule, see SCALING.md). Integer shift arithmetic only, so
    * the oracle derives the identical modulus from COUNT(*) with no float
    * log/sqrt boundary to disagree on (same policy as
    * [[Similarity.adaptivePlanes]]).
    */
  def adaptiveSeedMod(n: Long): Long =
    (1 to 31).map(j => 1L << j).find(m => m * m >= n)
      .getOrElse(1L << 31)

  /** Trained assignment after `iterations` full Lloyd's steps
    * (assign → recompute means), plus a final assignment against the
    * trained centroids: `(vec_id, cluster, dist)` — cluster is the seed id
    * of the winning centroid, dist the exact integer squared-L2 in
    * quantized space. Ties break to the lowest cid; empty clusters drop
    * out of the centroid set (both deterministic, both replayed by the
    * oracle). `seedMod = 0` (the default) self-scales the seed modulus to
    * `√n` cells via [[adaptiveSeedMod]].
    */
  def kmeansAssign(embeddings: DataFrame, seedMod: Int = 0, iterations: Int = 2,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    kmeansTrain(embeddings, seedMod, iterations, idCol, vecCol)._1

  /** [[kmeansAssign]] plus the trained centroid table itself
    * (`(cid, quantized vector)`, sorted by cid). One unkeyed run of the
    * [[lloyd]] trainer that [[pqCodebooks]] runs keyed by subspace.
    */
  def kmeansTrain(embeddings: DataFrame, seedMod: Int = 0, iterations: Int = 2,
                  idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, Seq[(Long, Seq[Long])]) = {
    val (assigned, cent) = lloyd(embeddings.select(
      col(idCol).cast(LongType).as("vec_id"),
      quantize(col(vecCol)).as("qv")), 0, seedMod, iterations)
    (assigned, cent.map(r => (r.getLong(0), r.getSeq[Long](1))))
  }

  /** Lloyd's k-means over the quantized corpus `(vec_id, qv)` — or, with
    * `keys > 0`, over `keys` independent corpora stacked as
    * `(s, vec_id, qv)` (`s` in `0 until keys`, every key holding the same
    * vec_id set), trained as ONE loop with `s` added to every key: one
    * pin, one count, one seed collect and one collect per iteration
    * return every key's centroids, instead of one driver loop per key.
    * Returns the final assignment `(s?, vec_id, cluster, dist)` and the
    * trained centroids `(s?, cid, cv)` sorted by `(s, cid)`. Each key gets
    * exactly the centroids an unkeyed run over its own slice gets: the
    * seed modulus is `√` of the per-key row count and the seed rule
    * `vec_id % mod = 0` is the same in every key. Unkeyed, the assignment
    * crosses the corpus with the broadcast centroids; keyed, it is an
    * equi-join on `s`.
    */
  private def lloyd(stack: DataFrame, keys: Int, seedMod: Int, iterations: Int)
      : (DataFrame, Seq[Row]) = {
    // the iterative working set, quantized by the caller: pin it ONCE (the
    // standard cache-the-training-input pattern) — every Lloyd's pass
    // re-reads these blocks instead of re-scanning and re-quantizing the
    // source
    val q = stack.pin()
    val key = if (keys > 0) Seq("s") else Nil
    def cols(names: String*): Seq[Column] = (key ++ names).map(col)
    def sorted(rows: Array[Row]): Seq[Row] =
      rows.sortBy(r => (if (keys > 0) r.getInt(0) else 0, r.getLong(key.size))).toSeq

    val mod: Long =
      if (seedMod > 0) seedMod.toLong else adaptiveSeedMod(q.count() / math.max(keys, 1))

    // seed centroids: a deterministic id-spread subset, k ≈ n / mod per key
    var cent: Seq[Row] =
      sorted(q.filter(col("vec_id") % mod === 0).select(cols("vec_id", "qv"): _*).collect())

    val spark = stack.sparkSession
    val keyFields = key.map(StructField(_, IntegerType, nullable = false))

    // (s?, vec_id, cluster, dist): corpus × broadcast centroids through
    // the fused-codegen distance, reduced by a PARTIAL min(struct)
    // aggregate. Struct ordering is field-order lexicographic ⇒ (min dist,
    // min cid) tie-break.
    // NOTE (r13): the struct buffer forces SortAggregate; the
    // DECIMAL(38,0) `dist·2⁶⁴ + (cid + 2⁶³)` packing (HashAggregate-
    // eligible, identical argmin — the SuffixDedup packDP device)
    // measured FLAT to ~8% WORSE here in interleaved A/B (q99 1.27→1.18
    // but q106 4.2→4.4, q181 4.8→5.2): groups are only k ≈ √n rows, so
    // the saved sort is small while the 16-byte decimal arithmetic taxes
    // every one of the n·k candidate rows. Reverted — the packing pays
    // where the aggregate input is the dominant stream (the suffix
    // gram/position relations), not here.
    def assigned: DataFrame = {
      val c = broadcast(centroidFrame(spark, cent, keyFields: _*))
      (if (keys > 0) q.join(c, key) else q.crossJoin(c))
        .select(cols("vec_id", "cid") :+ l2sq(col("qv"), col("cv")).as("dist"): _*)
        .groupBy(cols("vec_id"): _*)
        .agg(min(struct(col("dist"), col("cid"))).as("best"))
        .select(cols("vec_id") ++ Seq(col("best.cid").as("cluster"),
          col("best.dist").as("dist")): _*)
    }

    for (_ <- 1 to iterations) {
      // per-(cluster, dim) truncated-mean update: join the assignment back
      // to the pinned corpus on vec_id, then ONE partial-agg shuffle
      cent = sorted(q.join(assigned.select(cols("vec_id", "cluster"): _*), key :+ "vec_id")
        .select(cols("cluster") :+ posexplode(col("qv")).as(Seq("pos", "v")): _*)
        .groupBy(cols("cluster", "pos"): _*)
        .agg(expr("sum(v) div count(1)").as("m"))
        .groupBy(cols("cluster"): _*)
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("cv"))
        .collect())
    }

    (assigned, cent)
  }

  /** Driver-held centroids `(cid, cv)` as a DataFrame to broadcast, each
    * row led by the `keys` columns it carries first (a PQ subspace id).
    * Built from rows, not a join: the Lloyd's loop holds its centroids on
    * the driver between iterations anyway.
    */
  private def centroidFrame(spark: SparkSession, rows: Seq[Row],
                            keys: StructField*): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(keys ++ Seq(
      StructField("cid", LongType, nullable = false),
      StructField("cv", ArrayType(LongType, containsNull = false)))))

  /** Product quantization works on 64-dim vectors. */
  private val PqDim = 64

  /** The `subspaces` equal slices of a [[PqDim]]-dim vector column. A
    * vector of any other width raises an in-plan error naming both widths
    * in the first job that reads it — unchecked, a wider vector would be
    * quantized on its first 64 dims only and a narrower one would slice
    * empty (null distances), both without an error.
    */
  private def pqSlices(vec: Column, subspaces: Int): IndexedSeq[Column] = {
    require(subspaces > 0 && PqDim % subspaces == 0,
      s"subspaces must divide $PqDim: $subspaces")
    val sub = PqDim / subspaces
    val checked = when(size(vec) =!= PqDim, raise_error(concat(
      lit(s"product quantization expects $PqDim-dim vectors, got "),
      size(vec).cast("string"), lit("-dim")))).otherwise(vec)
    (0 until subspaces).map(s => slice(checked, s * sub + 1, sub))
  }

  /** PQ codebooks over the corpus, trained as ONE [[lloyd]] run keyed by
    * subspace: the corpus is quantized once and stacked as
    * `(s, vec_id, qv)`, key `s < subspaces` holding slice `s` (quantizing
    * is element-wise, so a slice of the quantized vector is the quantized
    * slice) and, with `coarse`, key `subspaces` holding the full vector —
    * the IVF coarse quantizer, trained exactly as [[kmeansTrain]] trains
    * it. Returns the final assignment `(s, vec_id, cluster, dist)` of
    * every key, the codeword table `(s, cid, cv)` of the subspace keys,
    * and the coarse centroids `(cid, cv)` (none without `coarse`).
    */
  private[ext] def pqCodebooks(corpus: DataFrame, subspaces: Int, iterations: Int,
                               idCol: String, vecCol: String, coarse: Boolean)
      : (DataFrame, DataFrame, Seq[Row]) = {
    val q = corpus.select(col(idCol).cast(LongType).as("vec_id"), quantize(col(vecCol)).as("qv"))
    val keys = pqSlices(col("qv"), subspaces) ++ (if (coarse) Seq(col("qv")) else Nil)
    val stack = q.select(col("vec_id"), posexplode(array(keys: _*)).as(Seq("s", "qv")))
      .select("s", "vec_id", "qv")
    val (assigned, cents) = lloyd(stack, keys.size, 0, iterations)
    val (pq, cells) = cents.partition(_.getInt(0) < subspaces)
    (assigned,
      centroidFrame(corpus.sparkSession, pq, StructField("s", IntegerType, nullable = false)),
      cells.map(r => Row(r.getLong(1), r.get(2))))
  }

  /** The PQ codes `(neighbor_id, cs, code)` of a [[pqCodebooks]]
    * assignment — the corpus as `subspaces` small integer codes per
    * vector, the only form of it the query side reads.
    */
  private[ext] def pqCodes(assigned: DataFrame): DataFrame =
    assigned.select(col("vec_id").as("neighbor_id"), col("s").as("cs"), col("cluster").as("code"))

  /** The asymmetric-distance (ADC) table `(qidCol, s, cid, d)`: each
    * query's exact integer L2² from its own subspace slice to every
    * codeword of that subspace — queries × codewords rows against the
    * broadcast codeword table. A candidate's distance is then the sum of
    * its codes' entries, and the corpus vectors are never read again.
    */
  private def adcTable(queries: DataFrame, codewords: DataFrame, subspaces: Int,
                       qidCol: String, idCol: String, vecCol: String): DataFrame =
    pqSlices(col(vecCol), subspaces).zipWithIndex.map { case (v, s) =>
      queries.select(col(idCol).cast(LongType).as(qidCol), lit(s).as("s"),
        quantize(v).as("qv"))
    }.reduce(_ union _)
      .join(broadcast(codewords), Seq("s"))
      .select(col(qidCol), col("s"), col("cid"), l2sq(col("qv"), col("cv")).as("d"))

  /** The `k` nearest candidates per query by ADC distance: `cand` holds
    * one `(query_id, neighbor_id, d)` row per matched subspace code;
    * `adist` is their sum (a partial aggregate per pair), self-matches
    * drop, and ties rank by the lower `neighbor_id`.
    */
  private def adcTopK(cand: DataFrame, k: Int): DataFrame = {
    val adist = cand.filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id").agg(sum("d").as("adist"))
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    adist.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "adist", "rank")
  }

  /** Product-quantization ANN (Jégou et al. 2011, "Product quantization
    * for nearest neighbor search" — public paper; the codebook half of
    * FAISS's IVF-PQ): the 64-dim corpus compresses to `subspaces` small
    * integer codes — one trained k-means codebook per dim/subspaces
    * slice — and query↔vector distance is reconstructed as the SUM of
    * per-subspace query→centroid distances (asymmetric distance
    * computation). All arithmetic stays in the exact quantized-integer
    * domain, so the oracle replays codebook training AND reconstruction
    * hash-exactly.
    *
    * Scale shape: after encode, the corpus ships as `subspaces` longs per
    * vector (the 100 TB embedding-store compression play — 8-16× smaller
    * than the floats on the wire and in memory); reconstruction is ONE
    * `(subspace, code)` equi-join against the broadcast query→centroid
    * distance table plus a partial-agg SUM per (query, vector), and the
    * float vectors are read only at training/encode time.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, subspaces: Int = 4,
             iterations: Int = 2, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val (assigned, codewords, _) =
      pqCodebooks(corpus, subspaces, iterations, idCol, vecCol, coarse = false)
    val codes = pqCodes(assigned)
    val qdist = adcTable(queries, codewords, subspaces, "query_id", idCol, vecCol)
    adcTopK(codes.join(qdist, codes("cs") === qdist("s") && codes("code") === qdist("cid")), k)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public paper):
    * semantic near-duplicate removal by clustering the embedding space and
    * comparing pairs ONLY within a cell. A vector is removed when its cell
    * holds a lower-id vector with cosine ≥ `threshold`; one representative
    * per similar group survives. Output: `(vec_id, cluster, kept)`.
    *
    * Scale: the k-means cells bound the quadratic stage — pair volume is
    * Σ cell² with cell size held ≈ seedMod by the self-scaling k, so the
    * candidate join is an equi-join on cluster id with bounded fan-in, the
    * same shape as the LSH-bucket near-dup path (q24) but in semantic
    * space rather than hash space. Cosine re-check runs on the ORIGINAL
    * float vectors (fused codegen expression), rounded to 6 decimals at
    * the decision boundary like every cosine in this engine.
    */
  def semanticDedup(embeddings: DataFrame, threshold: Double = 0.3,
                    seedMod: Int = 0, iterations: Int = 2,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assign = kmeansAssign(embeddings, seedMod, iterations, idCol, vecCol)
    val v = embeddings
      .select(col(idCol).cast(LongType).as("vec_id"), col(vecCol).as("fv"))
      .join(assign, "vec_id")

    val a = v.select(col("cluster"), col("vec_id").as("id_a"), col("fv").as("av"))
    val b = v.select(col("cluster"), col("vec_id").as("id_b"), col("fv").as("bv"))
    val removed = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(VectorFunctions.cosineSim(col("av"), col("bv")), 6) >= threshold)
      .select(col("id_b").as("vec_id"))
      .distinct()

    v.join(removed.withColumn("gone", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("gone").isNull.as("kept"))
  }

  /** Per-label embedding cohesion report: for every label, the exact
    * integer centroid (per-dim truncated mean in quantized space — the
    * Lloyd's update rule applied to given groups instead of learned
    * cells) and the count / truncated-mean / max of members' integer
    * squared-L2 to it. The embedding-space analogue of the profile
    * report: a label whose mean_d2 drifts up between snapshots is
    * fragmenting; max_d2 flags the worst outlier (mislabel candidates).
    *
    * Exactness: all integer — quantize, truncated per-dim mean, exact
    * L2², `sum div count` floor mean with the sum carried in
    * DECIMAL(38,0) (n·max_d2 passes 2⁶³ around 4·10⁴ billion rows·d2 —
    * the HUGEINT-mirror policy).
    *
    * Scale: the quantized corpus is pinned once and read twice (centroid
    * pass + distance pass — the kmeansTrain working-set pattern); the
    * centroid table is labels×dims rows, broadcast back; both aggregates
    * are partial-agg friendly label-keyed shuffles of scalar rows.
    */
  def labelCohesion(embeddings: DataFrame, labelCol: String = "label",
                    vecCol: String = "embedding"): DataFrame = {
    val q = embeddings.select(col(labelCol).as("label"), quantize(col(vecCol)).as("qv"))
      .pin()
    val cent = q.select(col("label"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy("label", "pos").agg(expr("sum(v) div count(1)").as("m"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("cv"))
    q.join(broadcast(cent), "label")
      .select(col("label"), l2sq(col("qv"), col("cv")).as("d2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        expr("sum(cast(d2 as decimal(38,0))) div count(1)").as("mean_d2"),
        max("d2").as("max_d2"))
      .select("label", "n", "mean_d2", "max_d2")
  }

  /** Prototypicality gate (the data-pruning half of D4 — Tirumala et al.
    * 2023, arXiv:2308.12284; percentile-by-centroid-distance from
    * Sorscher et al. 2022, arXiv:2206.14486 — both public papers): rank
    * every vector by its exact integer distance to its trained k-means
    * centroid and flag, per cell, the nearest `keepPpm` fraction as kept
    * (at least one per cell). "Near the centroid" = prototypical/clean;
    * the far tail is the outlier/noise slice — the caller picks which
    * side to curate away by reading `kept` (drop the tail for denoising,
    * drop the head for Sorscher-style easy-example pruning). Every input
    * row is emitted with its (cluster, dist, kept) verdict — O(n) output.
    *
    * Determinism: rank order is `(dist, vec_id)` — exact integers, no
    * float boundary; the per-cell quota is `max(1, keepPpm·n div 10⁶)`
    * in integer arithmetic, so both engines draw the same line.
    *
    * Scale: the ranking windows run partitioned by cluster id, and the
    * self-scaling k (`adaptiveSeedMod`) holds cell populations at ≈ √n —
    * no window partition grows with the corpus, unlike a global
    * percentile. Both window functions share the one cluster-key
    * exchange; nothing else shuffles beyond the training loop itself.
    */
  def prototypicalityFilter(embeddings: DataFrame, keepPpm: Long = 750000,
                            seedMod: Int = 0, iterations: Int = 2,
                            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(keepPpm >= 0 && keepPpm <= 1000000, s"keepPpm out of [0, 1e6]: $keepPpm")
    val assign = kmeansAssign(embeddings, seedMod, iterations, idCol, vecCol)
    val rankW = Window.partitionBy("cluster").orderBy(col("dist"), col("vec_id"))
    val cellW = Window.partitionBy("cluster")
    assign
      .withColumn("rn", row_number().over(rankW))
      .withColumn("n", count(lit(1)).over(cellW))
      .select(col("vec_id"), col("cluster"), col("dist"),
        (col("rn") <= greatest(lit(1L), expr(s"($keepPpm * n) div 1000000"))).as("kept"))
  }

  /** IVF-PQ ANN — the composed inverted-file + product-quantization index
    * (Jégou et al. 2011, the FAISS IVFPQ shape; public paper): the coarse
    * k-means quantizer (the q99/q27 substrate) prunes each query's
    * candidates to its `nProbe` nearest cells, and candidate distances
    * are reconstructed from the PQ codes via ADC (the q106 table) — the
    * raw vectors are read at TRAIN/ENCODE time only. Codebooks encode the
    * raw subvector slices; encoding the residual (vector − cell centroid)
    * is the refinement FAISS adds, traded here for cell-independent codes
    * that both engines replay from the shared codebook chains.
    *
    * Scale: after encode the corpus ships as one coarse cell id +
    * `subspaces` codes per vector (the 100 TB memory story); a query
    * touches nProbe cells' code lists through one cell-keyed equi-join,
    * the codeword distance table is queries×k_pq·subspaces rows broadcast,
    * and the ADC sum partial-aggregates per (query, candidate). Training
    * is ONE keyed [[pqCodebooks]] run: the coarse quantizer is the
    * `subspaces + 1`-th key of the subspace-keyed k-means, so the corpus
    * is stacked and pinned once and every Lloyd's iteration is one
    * collect for all the codebooks, not one driver loop per codebook.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int, nProbe: Int = 3,
                subspaces: Int = 4, iterations: Int = 2,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // one training for the PQ codebooks and the coarse quantizer (key
    // `subspaces`); the final assignment is pinned once, and both the codes
    // and the coarse cells read the pinned rows
    val (stacked, codewords, cellCents) =
      pqCodebooks(corpus, subspaces, iterations, idCol, vecCol, coarse = true)
    val assigned = stacked.pin()
    val codes = pqCodes(assigned.filter(col("s") < subspaces)).join(
      assigned.filter(col("s") === subspaces)
        .select(col("vec_id").as("neighbor_id"), col("cluster").as("cell")), "neighbor_id")

    // each query probes its nProbe nearest coarse cells (integer L2²,
    // ties → lower cell id — the oracle's (dist, cid) row_number order)
    val qq = queries.select(col(idCol).cast(LongType).as("query_id"),
      quantize(col(vecCol)).as("qv"))
    val pw = Window.partitionBy("query_id").orderBy(col("d"), col("cid"))
    val probes = qq.crossJoin(broadcast(centroidFrame(corpus.sparkSession, cellCents)))
      .select(col("query_id"), col("cid"), l2sq(col("qv"), col("cv")).as("d"))
      .withColumn("rn", row_number().over(pw)).filter(col("rn") <= nProbe)
      .select(col("query_id"), col("cid").as("cell"))

    val qdist = adcTable(queries, codewords, subspaces, "qid", idCol, vecCol)
    val cand = codes.join(probes, "cell")
    adcTopK(cand.join(qdist, cand("cs") === qdist("s") && cand("code") === qdist("cid") &&
      cand("query_id") === qdist("qid")), k)
  }

  /** k-center greedy coreset selection (farthest-point traversal —
    * Gonzalez 1985's 2-approximation; the active-learning core-set
    * selector of Sener & Savarese 2018, arXiv:1708.00489, public paper):
    * seed with the min-id vector, then k−1 times pick the point whose
    * min-L2² to the chosen set is LARGEST (ties → smaller id). Output one
    * row per selection: (sel_rank, vec_id, dist_sq), where dist_sq is the
    * selection-time coverage radius² — monotone non-increasing, the
    * stopping-criterion curve a curation pipeline reads k from.
    *
    * Exactness: quantized integer L2² ([[quantize]] + the fused-codegen
    * native distance); the arg-max is `max(struct(dist, −id, v))`, so the
    * tie rule is a struct comparison both engines replay bit-identically.
    *
    * Scale: each round is ONE narrow corpus pass with an O(dim)
    * expression — the corpus carries a materialized `min_d` running
    * minimum (checkpointed per round, the PageRank lineage-cut pattern),
    * so a round computes distance only to the ONE new center
    * (`least(min_d, l2sq(qv, newCenter))`) and the arg-max
    * partial-aggregates to one candidate row per partition; NO corpus
    * shuffle exists in any round. Total distance work is O(k·n), and the
    * per-round expression never grows with k — the earlier inline
    * `least(...)` chain over ALL chosen centers was O(k·dim) expression
    * size (codegen fell over past a few dozen centers) and O(k²·n)
    * arithmetic; the running-min form has no k ceiling. The driver holds
    * only the chosen (id, radius) pairs and the one in-flight centroid
    * vector. k passes over 100 TB is exact greedy k-center's known cost;
    * the quantized corpus is pinned once so passes re-read columnar
    * blocks, not the source.
    */
  def kCenterGreedy(embeddings: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = embeddings.sparkSession
    val q = embeddings.select(col(idCol).cast(LongType).as("vec_id"),
      quantize(col(vecCol)).as("qv"))
      .pin()
    val seed = q.orderBy(col("vec_id")).limit(1).collect()
    require(seed.nonEmpty, "kCenterGreedy on an empty corpus")
    val seedVec = seed.head.getSeq[Long](1)
    val chosen = scala.collection.mutable.ArrayBuffer(
      (seed.head.getLong(0), 0L))
    // running min-L2² to the chosen set, materialized with the corpus
    var cur = q.withColumn("min_d", l2sq(col("qv"), typedLit(seedVec)))
      .pin()
    var exhausted = false
    while (chosen.size < k && !exhausted) {
      val next = cur
        .agg(max(struct(col("min_d").as("d"), (-col("vec_id")).as("nid"),
          col("qv").as("v"))).as("m"))
        .select(col("m.d"), (-col("m.nid")).as("vec_id"), col("m.v"))
        .collect().head
      val (d, id, v) = (next.getLong(0), next.getLong(1), next.getSeq[Long](2))
      // max remaining distance 0 ⇒ every point coincides with a chosen
      // center — the corpus has fewer than k distinct points; stop early
      if (d == 0L || chosen.exists(_._1 == id)) exhausted = true
      else {
        chosen += ((id, d))
        if (chosen.size < k) { // last round needs no fold — skip the pass
          // unpersist the superseded round's checkpoint AFTER the new one
          // materializes (eager pin) — otherwise up to k full
          // (id, qv, min_d) copies pile up in block storage until the
          // ContextCleaner's next periodic GC, the opposite of the
          // O(1)-storage claim above
          val prev = cur
          cur = cur.withColumn("min_d",
            least(col("min_d"), l2sq(col("qv"), typedLit(v))))
            .pin()
          Pin.release(prev)
        }
      }
    }
    Pin.release(cur)
    Pin.release(q)
    import spark.implicits._
    chosen.toSeq.zipWithIndex
      .map { case ((id, d), r) => (r.toLong, id, d) }
      .toDF("sel_rank", "vec_id", "dist_sq")
  }
}
