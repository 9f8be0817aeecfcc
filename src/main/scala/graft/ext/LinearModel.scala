package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.Pin.PinOps

/** In-engine trainable linear classifier — a batch perceptron with mean
  * updates over the native text-stats features, every step exact integer
  * arithmetic so the full training loop replays bit-identically in an
  * external SQL engine (extension surface; the reference has no learned
  * models).
  *
  * Model: y ∈ {+1, −1}, features x = [1, n_tokens−μ₁, n_punct−μ₂,
  * stop_hits−μ₃] — raw counters from the one-pass `graft_text_stats`
  * kernel (verified count-for-count against the oracle's SQL spellings,
  * not just at the rounded-ratio boundary q13 pins), CENTERED on their
  * truncated global means. Centering is load-bearing, not cosmetic: the
  * raw counters are all non-negative, so any non-negative weight vector
  * predicts one class for every row — observed as a tn=fn=0 confusion —
  * and the all-miss first epoch then oscillates instead of separating.
  * Centered, the first update IS the class-mean-difference direction.
  * Epoch update is the BATCH rule with a MEAN step and 1/e decay:
  *
  *   miss = { i : yᵢ·(w·xᵢ) ≤ 0 }              (ties count as misses)
  *   w   += ⌊ 1000·Σ_miss yᵢ·xᵢ / (max(1, |miss|)·e) ⌋  (truncating)
  *
  * Weights live in ×1000 fixed point: without the scale factor a mean
  * gradient below one unit truncates to ZERO and the model silently
  * stops learning the low-magnitude features; the 1/e decay damps the
  * mean step's epoch-to-epoch oscillation.
  *
  * The mean step is what makes the loop scale-stable: weights stay
  * feature-magnitude-bounded per epoch regardless of corpus size (the
  * raw-sum rule grows w with n, overflowing margins at ~10⁹ rows), and
  * unlike the classic sequential perceptron the batch gradient is a
  * commutative aggregate — parallelizable, layout-invariant, and
  * expressible as one SQL aggregate per epoch. The RETURNED model is
  * the POCKET (Gallant 1990): the weights with the fewest training
  * misses across all epochs (earliest on ties) — the endpoint of an
  * oscillating mean-step run is a bad estimator on non-separable data.
  * Truncating division on negative gradients matches Scala Long `/`,
  * Spark `div`, DuckDB `//` (measured).
  *
  * Scale: the feature frame (4 longs + label per doc) is materialized
  * once; each epoch is ONE map-side-combined aggregate over it with the
  * current weights inlined as literals — no shuffle of the corpus, no
  * state beyond the 4 driver-held weights. E epochs = E cheap passes
  * over a narrow columnar cache.
  */
object LinearModel {

  private val NumFeatures = 4

  /** (y, f0..f3): label +1 where `positive` holds; f1..f3 centered on
    * their truncated global means (f0 = 1 stays the bias).
    */
  private def featureFrame(docs: DataFrame, positive: Column,
                           textCol: String): DataFrame = {
    val st = call_function(graft.functions.TextStatsFunctions.Name, col(textCol))
    val raw = docs.select(
      when(positive, 1L).otherwise(-1L).as("y"),
      lit(1L).as("f0"),
      st("n_tokens").cast("long").as("f1"),
      st("n_punct").cast("long").as("f2"),
      st("stop_hits").cast("long").as("f3"))
    val mu = raw.agg(expr("sum(f1) div count(1)").as("m1"),
      expr("sum(f2) div count(1)").as("m2"),
      expr("sum(f3) div count(1)").as("m3")).head()
    raw.select(col("y"), col("f0"),
      (col("f1") - mu.getLong(0)).as("f1"),
      (col("f2") - mu.getLong(1)).as("f2"),
      (col("f3") - mu.getLong(2)).as("f3"))
  }

  private def marginExpr(w: Array[Long]): Column =
    (0 until NumFeatures).map(k => lit(w(k)) * col(s"f$k")).reduce(_ + _)

  private[ext] def train(docs: DataFrame, positive: Column, epochs: Int,
                         textCol: String): Array[Long] = {
    require(epochs >= 1, "epochs must be >= 1")
    val f = featureFrame(docs, positive, textCol).pin() // one-shot: every epoch rescans fixed features
    var w = Array.fill(NumFeatures)(0L)
    // POCKET (Gallant 1990): the mean step oscillates on non-separable
    // data and the endpoint can land on a bad phase (observed: the
    // 8th-epoch weights scored BELOW chance while intermediate epochs
    // were good) — so return the weights with the FEWEST training misses
    // ever measured, earliest epoch on ties. Each epoch's aggregate
    // already counts the current weights' misses, so the pocket costs
    // only one extra final-weights evaluation.
    var pocket = w
    var pocketMiss = Long.MaxValue
    def missCountExpr(wv: Array[Long]) =
      sum(when(col("y") * marginExpr(wv) <= 0, 1L).otherwise(0L)).as("m")
    var e = 0
    while (e < epochs) {
      val miss = col("y") * marginExpr(w) <= 0
      val grads = (0 until NumFeatures).map(k =>
        sum(when(miss, col("y") * col(s"f$k"))).as(s"g$k"))
      val row = f.agg(grads.head, grads.tail :+ missCountExpr(w): _*).head()
      val mCur = row.getLong(NumFeatures)
      if (mCur < pocketMiss) { pocketMiss = mCur; pocket = w }
      val m = math.max(1L, mCur)
      w = Array.tabulate(NumFeatures) { k =>
        val g = if (row.isNullAt(k)) 0L else row.getLong(k)
        // ×1000 fixed point keeps sub-unit mean gradients alive; the
        // 1/e decay damps oscillation; Long / truncates toward zero —
        // all mirrored by the oracle
        w(k) + g * 1000L / (m * (e + 1))
      }
      e += 1
    }
    val mFinal = f.agg(missCountExpr(w)).head().getLong(0)
    if (mFinal < pocketMiss) pocket = w
    Pin.release(f)
    pocket
  }

  /** Trained weights, one row per feature: (feat_idx, weight). */
  def perceptronWeights(docs: DataFrame, positive: Column, epochs: Int = 8,
                        textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, positive, epochs, textCol).toSeq.zipWithIndex
      .map { case (wt, k) => (k, wt) }
      .toDF("feat_idx", "weight")
  }

  /** Train, then bin the corpus by SIGNED margin octave and report how
    * often the true gate fires in each bin — the reliability/calibration
    * curve of the distilled model (q255's confusion collapses the score
    * to one threshold; deployment wants to know whether the margin is
    * MONOTONE evidence, e.g. to route a high-|margin| fast path and send
    * only the uncertain band to the expensive gate). Bands are
    * `sign(margin) · length(bin(|margin|))` — the native
    * [[graft.functions.BinLength]] floor-log2, so banding is pure integer
    * and identical in any engine; zero margin is band 0.
    *
    * Scale shape: training as [[train]]; the curve itself is one
    * map-combined aggregate over the feature frame with the weights and
    * banding inlined — band keyspace ≈ 2·64 rows, no fact shuffle.
    */
  def calibrationCurve(docs: DataFrame, positive: Column, epochs: Int = 8,
                       textCol: String = "text"): DataFrame = {
    val w = train(docs, positive, epochs, textCol)
    val m = marginExpr(w)
    def binLen(c: Column) =
      call_function(graft.functions.LogBucketFunctions.BinLenName, c)
    val band = when(m === 0L, lit(0))
      .when(m > 0L, binLen(m))
      .otherwise(-binLen(-m))
    featureFrame(docs, positive, textCol)
      .select(col("y"), band.cast("int").as("band"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1, 1L).otherwise(0L)).as("n_gate_pos"))
  }

  /** Train, then emit each document's signed integer margin next to the
    * true gate label — the scored frame threshold-free evals consume
    * (q317 feeds it to [[RankStats.rankSumAuc]] for the AUC readout:
    * "how well does the margin ORDER the corpus", the question q255's
    * single-threshold confusion can't answer).
    */
  def marginScores(docs: DataFrame, positive: Column, epochs: Int = 8,
                   textCol: String = "text"): DataFrame = {
    val w = train(docs, positive, epochs, textCol)
    featureFrame(docs, positive, textCol)
      .select(col("y"), marginExpr(w).as("margin"))
  }

  /** Train, then score the corpus with the trained weights: one confusion
    * row (tp, fp, tn, fn). Prediction is `w·x > 0` (a zero margin
    * predicts negative — deterministic tie rule, consistent with training
    * counting ties as misses).
    */
  def perceptronEval(docs: DataFrame, positive: Column, epochs: Int = 8,
                     textCol: String = "text"): DataFrame = {
    val w = train(docs, positive, epochs, textCol)
    val f = featureFrame(docs, positive, textCol)
    val pos = marginExpr(w) > 0
    f.agg(
      sum(when(col("y") === 1 && pos, 1L).otherwise(0L)).as("tp"),
      sum(when(col("y") === -1 && pos, 1L).otherwise(0L)).as("fp"),
      sum(when(col("y") === -1 && !pos, 1L).otherwise(0L)).as("tn"),
      sum(when(col("y") === 1 && !pos, 1L).otherwise(0L)).as("fn"))
  }
}
