package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.Pin.PinOps

/** Similarity search over embedding columns (`array<float>`), extension
  * surface SURVEY.md §7.5.
  *
  * Vector math uses higher-order array functions (`zip_with` + `aggregate`)
  * — codegen-free but JVM-vectorizable, no UDF/serde cost, and the
  * summation order is the array order, so results are deterministic and
  * reproducible by an oracle that walks the array in ordinal order.
  *
  * Scale design: brute-force top-k broadcasts the (small) query set and
  * scans the corpus once — linear, shuffle-free until the final per-query
  * top-k (tiny). The LSH variant buckets both sides by sign-random
  * projections so candidate generation is an equi-join on bucket id.
  */
object Similarity {

  /** Dot product via higher-order functions (portable fallback; summed in
    * array order — deterministic). The hot path uses the fused codegen
    * expression below.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Dot product as a native codegen expression (one primitive loop). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector has zero norm. One fused
    * codegen pass (dot + both norms in a single loop) — bit-identical to
    * the three-pass formulation because each accumulator still sums in
    * ascending index order.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineSim(a, b)

  /** Higher-order-function cosine (portable fallback, 3 array walks). */
  def cosineHof(a: Column, b: Column): Column = {
    val d = sqrt(dotHof(a, a)) * sqrt(dotHof(b, b))
    when(d === 0.0, lit(0.0)).otherwise(dotHof(a, b) / d)
  }

  /** Scored (query × corpus) candidate pairs, self-pairs excluded. */
  def scoredPairs(queries: DataFrame, corpus: DataFrame,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(cosine(col("qv"), col("cv")), 6))
  }

  /** Brute-force cosine top-k: for every query vector, the k most similar
    * corpus vectors. Queries are broadcast (small side); the corpus is
    * scanned exactly once; ties break on corpus id for determinism.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val scored = scoredPairs(queries, corpus, idCol, vecCol)
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Same result as [[bruteForceTopK]] via the bounded TopK Aggregator:
    * partial aggregation prunes to k rows per partition per query BEFORE
    * the shuffle — the scale path when the candidate set is huge.
    */
  def bruteForceTopKAgg(queries: DataFrame, corpus: DataFrame, k: Int,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    TopK.perGroupTopK(scoredPairs(queries, corpus, idCol, vecCol), k)

  /** Deterministic integer "random" hyperplanes: weight of plane p at
    * dimension i is ((p·31 + i·17) mod 7) − 3 ∈ [−3, 3]. Integer-exact in
    * any engine — no RNG, no float divergence.
    */
  def planeWeight(p: Int, i: Int): Int = ((p * 31 + i * 17) % 7) - 3

  /** Sign-random-projection LSH bucket id over `nPlanes` hyperplanes:
    * bit p = [dot(v, plane_p) > 0]. Same-bucket vectors are cosine-close
    * candidates.
    */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int = 8): Column =
    (0 until nPlanes).map { p =>
      val d = (0 until dim).map(i =>
        element_at(vec, i + 1).cast("double") * planeWeight(p, i)).reduce(_ + _)
      when(d > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Smallest plane count whose bucket space holds the corpus at roughly
    * `targetBucketSize` vectors per bucket: min p ∈ [1, 20] with
    * targetBucketSize · 2^p ≥ corpusSize. This is the 100 TB guard against
    * a fixed plane count — bucket population stays ~flat as the corpus
    * grows instead of growing linearly (which would re-approach the
    * quadratic in-bucket rerank). Integer-only shift arithmetic (no
    * float log2 whose rounding could diverge at powers of two), so a SQL
    * oracle derives the identical value from COUNT(*).
    */
  def adaptivePlanes(corpusSize: Long, targetBucketSize: Int = 64): Int =
    (1 to 20).find(p => (targetBucketSize.toLong << p) >= corpusSize).getOrElse(20)

  /** Keeps at most `m` rows per bucket (smallest ids — deterministic).
    * The row_number window compiles to WindowGroupLimit, so the cap prunes
    * on the map side before any join shuffle: a pathologically hot bucket
    * (skewed LSH key) is bounded instead of going quadratic.
    */
  private def capPerBucket(df: DataFrame, idOrder: String, m: Option[Int]): DataFrame =
    m match {
      case Some(cap) =>
        val w = Window.partitionBy("bucket").orderBy(col(idOrder))
        df.withColumn("brn", row_number().over(w)).filter(col("brn") <= cap).drop("brn")
      case None => df
    }

  /** Bucketed approximate top-k: candidates come only from the query's LSH
    * bucket (equi-join on bucket id → shuffle-partitionable at any corpus
    * size), then exact cosine re-rank inside the bucket. Recall is tunable
    * via nPlanes (fewer planes ⇒ bigger buckets ⇒ higher recall); pass
    * [[adaptivePlanes]] of the corpus count to keep buckets ~constant-size
    * at any scale, and `maxBucketCandidates` to hard-bound skewed buckets.
    * Body: [[bucketTopK]] over the query's own bucket.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int, nPlanes: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding",
              maxBucketCandidates: Option[Int] = None): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("bucket", lshBucket(col("qv"), dim, nPlanes))
    bucketTopK(q, corpus, k, dim, nPlanes, idCol, vecCol, maxBucketCandidates)
  }

  /** Multi-probe LSH top-k (Lv et al., VLDB 2007, public paper): each
    * query probes its own sign-LSH bucket PLUS the `probes` buckets at
    * Hamming distance 1 (planes 0..probes−1 flipped) — the recall of
    * several hash tables at one table's storage, the standard memory/
    * recall trade. This is the DERANDOMIZED fixed-probe-set variant: the
    * paper orders probes by each plane's query margin, which an exact
    * cross-engine oracle can also express but at 10× the SQL — the fixed
    * set keeps the operator reproducible and the recall win measurable
    * (probes=0 degenerates to [[lshTopK]], asserted by spec).
    *
    * Scale shape: [[bucketTopK]], as for [[lshTopK]], with the query side
    * expanded (probes+1)×, which is the small broadcast side; each corpus
    * vector still lives in exactly ONE bucket, so probed buckets are
    * disjoint and no candidate dedup is needed. The per-bucket candidate
    * cap applies unchanged.
    */
  def multiProbeLshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
                        nPlanes: Int = 8, probes: Int = 3,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        maxBucketCandidates: Option[Int] = None): DataFrame = {
    require(probes >= 0 && probes <= nPlanes, s"probes out of [0, nPlanes]: $probes")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("bucket0", lshBucket(col("qv"), dim, nPlanes))
      .withColumn("bucket", explode(array(
        (Seq(col("bucket0")) ++
          (0 until probes).map(p => col("bucket0").bitwiseXOR(lit(1L << p)))): _*)))
      .select("query_id", "qv", "bucket")
    bucketTopK(q, corpus, k, dim, nPlanes, idCol, vecCol, maxBucketCandidates)
  }

  /** The one body of [[lshTopK]] and [[multiProbeLshTopK]], which differ
    * only in which buckets a query probes: `q` (query_id, qv, bucket)
    * arrives already bucketed, one row per probed bucket. Buckets the
    * corpus, caps each bucket, joins on the bucket with the query side
    * broadcast, scores by rounded cosine and keeps each query's top `k`.
    */
  private def bucketTopK(q: DataFrame, corpus: DataFrame, k: Int, dim: Int, nPlanes: Int,
                         idCol: String, vecCol: String,
                         maxBucketCandidates: Option[Int]): DataFrame = {
    val c = capPerBucket(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
        .withColumn("bucket", lshBucket(col("cv"), dim, nPlanes)),
      "neighbor_id", maxBucketCandidates)
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** IVF-style approximate top-k (the coarse-quantizer scale path):
    *   1. every corpus vector is assigned to its nearest centroid
    *      (broadcast centroid set — linear scan, no shuffle);
    *   2. each query probes its `nProbe` nearest centroids;
    *   3. candidates = corpus vectors in probed cells (equi-join on
    *      centroid id — a proper shuffle key), re-ranked by exact cosine.
    * Deterministic: centroids are a fixed id-based subset, all ranks order
    * by (rounded score desc, id asc).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              centroids: DataFrame, nProbe: Int = 3,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cent = centroids.select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val assign = ivfAssign(corpus, cent, idCol, vecCol)

    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val qw = Window.partitionBy("query_id").orderBy(col("s").desc, col("cid"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("s", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("rn", row_number().over(qw)).filter(col("rn") <= nProbe)
      .select("cid", "query_id", "qv")

    val scored = probes.join(assign, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(cosine(col("qv"), col("nv")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Int8 quantization of the L2-normalized vector: qᵢ = ⌊xᵢ/‖x‖·127 + 0.5⌋
    * ∈ [−127, 127]; a zero vector quantizes to all zeros. `floor(x + 0.5)`
    * instead of `round()` on purpose: floor is plain IEEE rounding toward
    * −∞ in every engine, so the oracle reproduces each cell bit-exactly
    * without depending on either engine's half-tie rule. The norm sums
    * squares in ascending index order — the same left fold the oracle pins
    * with `ORDER BY i`.
    */
  def quantizeInt8(vec: Column): Column = {
    val n = norm(vec)
    when(n === 0.0, transform(vec, _ => lit(0L)))
      .otherwise(transform(vec, x => floor(x.cast("double") / n * 127.0 + 0.5).cast("long")))
  }

  /** Integer dot product of two [[quantizeInt8]] vectors — overflow-free
    * (|q| ≤ 127 ⇒ |dot| ≤ dim·127²) and hash-exact in any engine.
    */
  def quantizedDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Int8-quantized brute-force top-k — the memory-compression scale path:
    * corpus vectors ship as 64 small ints instead of 64 floats (4× smaller
    * on the wire and in executor memory at 100 TB; in a real sink the
    * array would land as a 64-byte binary), and the score is a pure
    * integer dot product — overflow-free (|q| ≤ 127 ⇒ |dot| ≤ 64·127² <
    * 2²¹) and hash-exact in any engine, no float comparison anywhere past
    * quantization. Plan shape is identical to [[bruteForceTopK]]: queries
    * broadcast, corpus scanned once, WindowGroupLimit top-k. Ranking is
    * approximate w.r.t. exact float cosine; QuantizedSimilaritySpec
    * measures recall@k against [[bruteForceTopK]] ground truth.
    */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), quantizeInt8(col(vecCol)).as("qa"))
    val c = corpus.select(col(idCol).as("neighbor_id"), quantizeInt8(col(vecCol)).as("qb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("qdot", quantizedDot(col("qa"), col("qb")))
    val w = Window.partitionBy("query_id").orderBy(col("qdot").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "qdot", "rank")
  }

  /** Embedding near-duplicate pairs: same-bucket pairs with cosine above
    * `threshold` (id_a < id_b). The LSH bucket join keeps this near-linear.
    */
  def embeddingNearDupPairs(vectors: DataFrame, threshold: Double, dim: Int, nPlanes: Int = 8,
                            idCol: String = "vec_id", vecCol: String = "embedding",
                            maxBucketCandidates: Option[Int] = None): DataFrame = {
    val v = capPerBucket(
      vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
        .withColumn("bucket", lshBucket(col("v"), dim, nPlanes)),
      "id", maxBucketCandidates)
    val a = v.select(col("bucket"), col("id").as("id_a"), col("v").as("va"))
    val b = v.select(col("bucket"), col("id").as("id_b"), col("v").as("vb"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("score", round(cosine(col("va"), col("vb")), 6))
      .filter(col("score") >= threshold)
      .select("id_a", "id_b", "score")
  }

  /** Hard-negative mining for contrastive training: per query, the top-k
    * most-similar corpus vectors that are NOT known near-duplicates — the
    * highest-value negatives (similar enough to be hard, verified not to
    * be positives in disguise).
    *
    * The exclusion set is the LSH near-dup verdict
    * ([[embeddingNearDupPairs]] over the corpus, symmetrized), not a raw
    * score cut: that is what a production pipeline has materialized, and
    * it keeps the two decisions independent — a high-cosine pair the LSH
    * bucketing missed remains a (mislabeled-positive-risk) hard negative,
    * exactly the behavior to measure, not hide. Exclusion is one LEFT ANTI
    * equi-join on (query, neighbor).
    *
    * Scale shape: candidates from the broadcast-query scored scan (swap in
    * [[lshTopK]]'s bucketed candidates for huge corpora), the near-dup set
    * from the bucket equi-join, anti-join on explicit keys, then the same
    * WindowGroupLimit top-k as [[bruteForceTopK]].
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
                    dupThreshold: Double, dim: Int, nPlanes: Int = 8,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val dups = embeddingNearDupPairs(corpus, dupThreshold, dim, nPlanes, idCol, vecCol)
    val sym = dups.select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"))
      .union(dups.select(col("id_b").as("query_id"), col("id_a").as("neighbor_id")))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scoredPairs(queries, corpus, idCol, vecCol)
      .join(sym, Seq("query_id", "neighbor_id"), "left_anti")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Recall evaluation for the approximate-ANN family: each named arm's
    * top-k result set is scored against the exact brute-force set, as a
    * query — the eval an ANN deployment runs before trusting an index.
    * Output: one row per arm with the hit count, the exact-set size, and
    * recall in integer parts-per-million (`10⁶·hits div expected` —
    * BIGINT-exact in any engine, no float boundary at all). An arm that
    * returns nothing still gets its row (recall 0), so a broken index
    * reads as 0, not as a missing line in the report.
    *
    * Scale shape: each arm keeps its own plan (bucket equi-joins, corpus
    * scans); the comparison itself touches only top-k OUTPUT rows —
    * |queries|·k per arm — so the hits join and the method dim are
    * broadcast-sized no matter how large the corpus behind the arms is.
    */
  def annRecall(exact: DataFrame, arms: Seq[(String, DataFrame)]): DataFrame = {
    require(arms.nonEmpty, "annRecall needs at least one arm")
    val ex = exact.select("query_id", "neighbor_id")
    val tagged = arms.map { case (m, df) =>
      df.select(lit(m).as("method"), col("query_id"), col("neighbor_id"))
    }.reduce(_ unionByName _)
    // exact top-k pairs are unique per (query, neighbor): inner join = hits
    val hits = tagged.join(broadcast(ex), Seq("query_id", "neighbor_id"))
      .groupBy("method").agg(count(lit(1)).as("total_hits"))
    val methods = exact.sparkSession
      .createDataFrame(arms.map(m => Tuple1(m._1))).toDF("method")
    val expected = ex.groupBy().agg(count(lit(1)).as("expected"))
    methods.join(hits, Seq("method"), "left")
      .na.fill(0L, Seq("total_hits"))
      .crossJoin(broadcast(expected))
      .withColumn("recall_ppm",
        when(col("expected") === 0, lit(0L))
          .otherwise(expr("(1000000 * total_hits) div expected")))
      .select("method", "total_hits", "expected", "recall_ppm")
  }

  /** The IVF cell index `(cid, neighbor_id, nv)`: each corpus vector in
    * the cell of its nearest centroid of `cent` `(cid, cv)` by rounded
    * cosine, ties to the smaller cid (a broadcast linear scan, no
    * shuffle). [[ivfTopK]] and [[ivfProbeCurve]] probe the same cells, so
    * each arm of the curve equals ivfTopK at that probe count.
    */
  private def ivfAssign(corpus: DataFrame, cent: DataFrame,
                        idCol: String, vecCol: String): DataFrame = {
    val corp = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    val aw = Window.partitionBy("neighbor_id").orderBy(col("s").desc, col("cid"))
    corp.crossJoin(broadcast(cent))
      .withColumn("s", round(cosine(col("nv"), col("cv")), 6))
      .withColumn("rn", row_number().over(aw)).filter(col("rn") === 1)
      .select("cid", "neighbor_id", "nv")
  }

  /** Recall-vs-nProbe tuning curve for [[ivfTopK]]: one row per probe
    * count — the table an ANN deployment reads to pick its
    * latency/recall point (probe counts cost linearly; recall saturates
    * once probes cover the query's true neighborhood cells).
    *
    * Cost shape: the corpus assignment, the query-centroid ranking (to
    * max(probes)), and candidate scoring all run ONCE — each arm is a
    * `probe_rank ≤ p` filter plus a per-query top-k window over its
    * candidate subset, semantically identical to calling [[ivfTopK]] at
    * that p (same rounding, same tie rules). The scored candidate frame
    * is checkpointed so the sweep never re-scores.
    */
  def ivfProbeCurve(queries: DataFrame, corpus: DataFrame, k: Int,
                    centroids: DataFrame, probes: Seq[Int],
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(probes.nonEmpty && probes.forall(_ >= 1)
      && probes.distinct.size == probes.size, s"bad probe list: $probes")
    val maxP = probes.max
    val cent = centroids.select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val assign = ivfAssign(corpus, cent, idCol, vecCol)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val qw = Window.partitionBy("query_id").orderBy(col("s").desc, col("cid"))
    val pr = q.crossJoin(broadcast(cent))
      .withColumn("s", round(cosine(col("qv"), col("cv")), 6))
      .withColumn("prank", row_number().over(qw)).filter(col("prank") <= maxP)
      .select("cid", "query_id", "qv", "prank")
    val cand = pr.join(assign, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(cosine(col("qv"), col("nv")), 6))
      .select("query_id", "neighbor_id", "score", "prank")
      .pin()
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    val arms = probes.map { p =>
      s"probe_$p" -> cand.filter(col("prank") <= p)
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select("query_id", "neighbor_id")
    }
    annRecall(bruteForceTopK(queries, corpus, k), arms)
  }

  /** Average Overlap agreement between two top-`depth` rankings of the
    * same query panel (Webber et al.'s AO, the p→1 limit of rank-biased
    * overlap, truncated at depth d):
    *
    *   AO(q) = (1/d) · Σ_{k=1..d} |A_{1..k} ∩ B_{1..k}| / k
    *
    * — [[annRecall]] answers "did the cheap ranker find the right SET";
    * this answers "does swapping ranker backends change the ORDER users
    * see" (1.0 = identical prefixes at every depth, 0 = disjoint), the
    * acceptance gate for replacing one ANN backend with another.
    *
    * Exact integer evaluation: a common doc with ranks (ra, rb) enters
    * every prefix k ≥ m = max(ra, rb), so its AO contribution is the
    * suffix sum Σ_{k=m..d} 1/k — precomputed over the common denominator
    * L = lcm(1..d) as a d-entry literal lookup, summed per query, and
    * emitted as `ao_ppm = Σ·10⁶ div (L·d)`. No float division anywhere.
    * The `Σ·10⁶` numerator is routed through DECIMAL(38,0): `wsum` alone
    * can reach d²·L ≈ 8.5·10¹⁸ at depth 40, so the ×10⁶ step overflows
    * Long for depth ≥ 29 — ANSI mode would throw and non-ANSI would
    * silently wrap, breaking the exact-integer contract. The decimal
    * widening keeps every intermediate < 10²⁵ and `div` (IntegralDivide)
    * still emits BIGINT, so the output schema is unchanged.
    *
    * Scale shape: inputs are per-arm top-k lists (panel × k rows, not the
    * corpus); one equi-join on (query, doc) and one panel-sized aggregate.
    */
  def rankAgreement(rankA: DataFrame, rankB: DataFrame, depth: Int): DataFrame = {
    require(depth >= 1 && depth <= 40, s"depth out of [1, 40]: $depth")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcmD = (1 to depth).foldLeft(1L)((acc, k) => acc / gcd(acc, k) * k)
    val suffix = (1 to depth).map(m => (m to depth).map(k => lcmD / k).sum)
    val a = rankA.filter(col("rank") <= depth)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("ra"))
    val b = rankB.filter(col("rank") <= depth)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("rb"))
    val panel = a.select("query_id").union(b.select("query_id")).distinct()
    val contrib = a.join(b, Seq("query_id", "neighbor_id"))
      .withColumn("w", element_at(array(suffix.map(lit): _*),
        greatest(col("ra"), col("rb")).cast("int")))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_common"), sum("w").as("wsum"))
    panel.join(contrib, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        expr(s"CAST(coalesce(wsum, 0L) AS DECIMAL(38,0)) * 1000000L" +
          s" div ${lcmD * depth}L").as("ao_ppm"))
  }

  /** MMR diversity reranking (Maximal Marginal Relevance — Carbonell &
    * Goldstein, SIGIR 1998, public paper): from each query's `candidates`
    * brute-force top candidates, greedily pick `k` results where pick r
    * maximizes `λ·rel(q,c) − (1−λ)·max_{s∈picked} sim(c,s)` — relevance
    * traded against redundancy with what is already picked, the standard
    * de-duplicated retrieval tail for RAG/search serving. Pick 1 is the
    * plain top-1; ties break to the lower neighbor id.
    *
    * Determinism: relevance and pair similarities carry the engine-wide
    * 6-decimal cosine rounding; λ and (1−λ) are derived from `lambdaPpm`
    * by the SAME IEEE division (`ppm/10⁶`) in both engines (a Scala-side
    * `1.0 − 0.7` would bake in 0.30000000000000004 and diverge from the
    * oracle's literal); the MMR score is re-rounded to 6 decimals before
    * the rank comparison, id tie-break after.
    *
    * Scale: the greedy loop is inherently sequential in k, but each round
    * touches only `queries × candidates` rows (never the corpus — the
    * corpus is consumed once by the candidate search), pair similarities
    * are computed ONCE over the distinct candidate id pairs and reused by
    * every round, and `localCheckpoint` per round keeps the lineage O(1).
    * With q queries and N candidates the whole rerank is O(q·N²) — the
    * bounded-candidate discipline of the n-gram verifier applied to
    * retrieval.
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, candidates: Int, k: Int,
                lambdaPpm: Long = 700000, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(candidates >= k, s"need candidates >= k: $candidates, $k")
    mmrSelect(
      bruteForceTopK(queries, corpus, candidates, idCol, vecCol)
        .select("query_id", "neighbor_id", "score"),
      corpus.select(col(idCol).cast("long").as("vid"), col(vecCol).as("vv")),
      k, lambdaPpm)
  }

  /** The greedy MMR selection over an ALREADY-SCORED candidate table
    * `(query_id, neighbor_id, score)` — factored out of [[mmrRerank]] so
    * any retrieval arm (brute cosine, RRF-fused hybrid, BM25) can feed
    * it; redundancy is always embedding cosine over `vectors (vid, vv)`.
    * A candidate with no vector silently drops out of rounds ≥ 2 (its
    * pair rows don't exist) — the caller decides whether that's a data
    * bug. Scale/determinism notes on [[mmrRerank]].
    */
  def mmrSelect(cand0: DataFrame, vectors: DataFrame, k: Int,
                lambdaPpm: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(lambdaPpm >= 0 && lambdaPpm <= 1000000, s"lambdaPpm out of [0, 1e6]")
    val lam = lambdaPpm.toDouble / 1000000.0
    val oneMl = (1000000L - lambdaPpm).toDouble / 1000000.0
    val cand = cand0.pin()
    // pair similarity is query-independent: compute once per distinct
    // candidate id pair, reuse in every round
    val abPairs = cand.select(col("query_id"), col("neighbor_id").as("a"))
      .join(cand.select(col("query_id"), col("neighbor_id").as("b")), Seq("query_id"))
      .filter(col("a") =!= col("b")).select("a", "b").distinct()
    val pair = abPairs
      .join(vectors.select(col("vid").as("a"), col("vv").as("av")), Seq("a"))
      .join(vectors.select(col("vid").as("b"), col("vv").as("bv")), Seq("b"))
      .select(col("a"), col("b"), round(cosine(col("av"), col("bv")), 6).as("sim"))
      .pin()
    val w1 = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    var sel = cand.withColumn("rn", row_number().over(w1)).filter(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id"), col("score"), lit(1).as("pick_rank"))
      .pin()
    for (r <- 2 to k) {
      val remaining = cand
        .join(sel.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_anti")
        .select(col("query_id"), col("neighbor_id"), col("score"))
      val w = Window.partitionBy("query_id").orderBy(col("mmr").desc, col("a"))
      val pick = remaining.select(col("query_id"), col("neighbor_id").as("a"), col("score"))
        .join(sel.select(col("query_id"), col("neighbor_id").as("b")), Seq("query_id"))
        .join(pair, Seq("a", "b"))
        .groupBy(col("query_id"), col("a"), col("score"))
        .agg(max(col("sim")).as("pen"))
        .withColumn("mmr", round(lit(lam) * col("score") - lit(oneMl) * col("pen"), 6))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("query_id"), col("a").as("neighbor_id"), col("score"),
          lit(r).as("pick_rank"))
      sel = sel.unionAll(pick).pin()
    }
    sel
  }

  /** Integer random projection (Johnson-Lindenstrauss flavor): each
    * `dim`-vector reduces to `outDim` components, component j =
    * Σᵢ w(j,i)·⌊vᵢ·10⁶+0.5⌋ with the same derandomized integer weight
    * lattice the sign-LSH planes use ([[planeWeight]], w ∈ {−3..3}).
    * Everything past the micro-quantization is integer arithmetic —
    * projections are bit-identical in any engine and SQL-derivable
    * (an Achlioptas-style sparse-sign matrix is the float analogue; the
    * derandomized lattice keeps the oracle exact). The coarse-filter /
    * storage-reduction step ahead of exact rescoring: 64 floats → 8
    * longs per vector (4× smaller on the wire), with relative distances
    * approximately preserved.
    *
    * Scale shape: a pure narrow map — no shuffle, no stats pass, no
    * broadcast; each vector rewrites in place inside whole-stage codegen.
    *
    * Overflow: |component| ≤ 3·dim·10⁶·max|v| — dim 64 and |v| ≤ 4·10⁴
    * stay 10 orders under 2⁶³.
    */
  def randomProject(vectors: DataFrame, dim: Int, outDim: Int = 8,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(outDim >= 1 && dim >= 1, "dims must be >= 1")
    val comps = (0 until outDim).map { j =>
      (0 until dim).map { i =>
        floor(element_at(col(vecCol), i + 1).cast("double") * 1e6 + 0.5)
          .cast("long") * planeWeight(j, i)
      }.reduce(_ + _)
    }
    vectors.select(col(idCol), array(comps: _*).as("projected"))
  }

  /** Per-dimension min-max feature scaling of the embedding corpus —
    * EXACT. Values quantize to integer micros (`⌊x·10⁶ + 0.5⌋` — floor,
    * never a half-tie rule), per-dimension min/max are integer aggregates,
    * and each value rescales to `(v − min)·10⁶ div (max − min)` ppm of its
    * dimension's observed range (a constant dimension maps to 0). All
    * arithmetic past quantization is integer — the normalized corpus is
    * bit-identical in any engine, which float mean/std standardization
    * cannot promise (its corpus sums depend on reduction order).
    *
    * Scale shape: NO corpus shuffle. Pass 1 explodes to (dim, µs) pairs
    * feeding a |dims|-sized partial-agg min/max; the stats collapse to ONE
    * broadcast row of two index-aligned arrays; pass 2 rewrites each
    * vector in place with an indexed `transform` against that row. The
    * explode never regroups — the original rows are rewritten, not
    * reassembled from pieces.
    */
  def minMaxNormalize(vectors: DataFrame, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val us = floor(col("v").cast("double") * 1e6 + 0.5).cast("long")
    val stats = vectors
      .select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("dim"), us.as("us"))
      .groupBy("dim").agg(min("us").as("mn"), max("us").as("mx"))
      .agg(sort_array(collect_list(struct(col("dim"), col("mn")))).as("mns"),
        sort_array(collect_list(struct(col("dim"), col("mx")))).as("mxs"))
      .select(transform(col("mns"), e => e("mn")).as("mns"),
        transform(col("mxs"), e => e("mx")).as("mxs"))
    vectors.crossJoin(broadcast(stats))
      .select(col(idCol),
        expr(s"""transform($vecCol, (x, i) ->
          CASE WHEN mxs[i] = mns[i] THEN 0L
               ELSE (CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                     - mns[i]) * 1000000L div (mxs[i] - mns[i]) END)""")
          .as("norm_ppm"))
  }
}
