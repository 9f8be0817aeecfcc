package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence-packing and split assignment for training-data pipelines.
  *
  * Both are deterministic pure functions of the input ids, so results are
  * reproducible across engines and re-runs (same policy as
  * [[Sampling]]), and both are SQL-mirrorable for the oracle gate.
  */
object Packing {

  /** Greedy document packing: assign each doc to a pack of ≈ `budget`
    * tokens (docs in id order; a pack closes when adding the next doc
    * would exceed what fits at the running total — the standard
    * cumsum/budget approximation: `pack = ⌊(cumsum − n) / budget⌋`).
    *
    * Scale: a GLOBAL running sum would serialize on one partition, so
    * packing is bucketed — docs hash into `nBuckets` independent streams
    * (packs never cross buckets) and each bucket's window is a bounded
    * partition. On a cluster, nBuckets ≈ parallelism × small-constant;
    * pack identity is the (bucket, seq) pair.
    *
    * `extraKeys` prepend to the pack partitioning (packs never cross an
    * extra key's boundary — e.g. pack within each train/eval split) and
    * ride through to the output. `carryCols` pass through to the output
    * WITHOUT joining the packing partitioning — letting a caller keep
    * metadata columns without a join-back that would re-derive its input
    * subtree a second time.
    */
  def packDocuments(docs: DataFrame, budget: Long, nBuckets: Int,
                    idCol: String = "doc_id", tokensCol: String = "n_tokens",
                    extraKeys: Seq[String] = Nil, carryCols: Seq[String] = Nil): DataFrame = {
    require(budget > 0 && nBuckets > 0)
    val bucket = pmod(col(idCol), lit(nBuckets.toLong))
    val w = Window.partitionBy((extraKeys :+ "bucket").map(col): _*).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select((extraKeys ++ carryCols).map(col) ++ Seq(col(idCol), col(tokensCol)): _*)
      .withColumn("bucket", bucket)
      .withColumn("cum", sum(col(tokensCol)).over(w))
      // integer div (not double /): exact at any magnitude, non-negative here
      .withColumn("pack_seq", expr(s"(cum - $tokensCol) div $budget"))
      .select((extraKeys ++ carryCols).map(col) ++
        Seq(col(idCol), col("bucket"), col("pack_seq"), col(tokensCol)): _*)
  }

  /** Leakage-safe train/eval split: the unit of assignment is the
    * near-dup CLUSTER, not the document — every member of a cluster lands
    * on the same side, so eval can never contain a near-duplicate of a
    * training doc. Assignment hashes the cluster representative with the
    * portable affine family (j=9): train iff hash mod 100 < trainPct.
    */
  def clusterSplit(clusters: DataFrame, trainPct: Int,
                   idCol: String = "doc_id"): DataFrame = {
    require(trainPct >= 0 && trainPct <= 100)
    val h = Dedup.affineHash(col("cluster_rep"), 9) % 100L
    clusters.select(col(idCol), col("cluster_rep"),
      when(h < trainPct, lit("train")).otherwise(lit("eval")).as("split"))
  }

  /** [[clusterSplit]] generalized to arbitrary ppm-weighted parts — the
    * train/val/test (or any n-way) leakage-safe split: whole near-dup
    * clusters land in ONE part, part = the cumulative-ppm interval of
    * `affineHash(cluster_rep; 9) mod 10⁶` the cluster's hash falls in.
    * Weights may sum below 10⁶ — the remainder falls to the LAST part
    * (so ("train", 800000) :: ("val", 100000) :: ("test", 100000) is
    * exact). Decontamination by construction, same as the 2-way form;
    * still a pure narrow map over the cluster assignment.
    */
  def clusterSplitWeighted(clusters: DataFrame, parts: Seq[(String, Long)],
                           idCol: String = "doc_id"): DataFrame = {
    require(parts.nonEmpty && parts.forall(_._2 >= 0), "parts must be non-negative")
    require(parts.map(_._2).sum <= 1000000L, "part ppm sum exceeds 1e6")
    val h = Dedup.affineHash(col("cluster_rep"), 9) % 1000000L
    val bounds = parts.scanLeft(0L)(_ + _._2).tail
    val split = parts.zip(bounds).foldRight(lit(parts.last._1): org.apache.spark.sql.Column) {
      case (((name, _), bound), acc) => when(h < bound, lit(name)).otherwise(acc)
    }
    clusters.select(col(idCol), col("cluster_rep"), split.as("split"))
  }

  /** Length-bucketed batching audit: serving (and unpacked training)
    * batches pad every sequence to the batch's longest member, so
    * batching mixed lengths burns compute on pad tokens. Bucket each doc
    * by token count into fixed-width length bins (bound = next multiple
    * of `bucketWidth`) and account the waste per bin: padded volume
    * `n_docs·bound` vs real volume `Σ n_tok`, waste in truncated integer
    * ppm — the report that sizes bucketed-batching gains before a
    * serving/eval run, and the residual-pad accounting a packed
    * pretraining run publishes. Zero-token docs are excluded (nothing to
    * serve).
    *
    * Scale: one narrow token-count pass (codegen'd split/filter — no
    * shuffle), then one aggregate keyed by the bin bound (bins ≪ docs).
    * All arithmetic integer, `div` on positive operands — bit-identical
    * cross-engine.
    */
  def paddingAudit(docs: DataFrame, bucketWidth: Int = 64,
                   textCol: String = "text"): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    docs
      .select(TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("bound",
        expr(s"((n_tok + ${bucketWidth - 1}) div $bucketWidth) * $bucketWidth"))
      .groupBy("bound")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("real_tokens"))
      .withColumn("padded_tokens", col("bound") * col("n_docs"))
      .withColumn("waste_ppm",
        expr("(padded_tokens - real_tokens) * 1000000 div padded_tokens"))
      .select("bound", "n_docs", "real_tokens", "padded_tokens", "waste_ppm")
  }
}
