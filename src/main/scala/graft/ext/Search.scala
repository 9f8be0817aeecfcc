package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mini search surface over a document corpus: inverted index, positional
  * phrase match, BM25 ranking — the retrieval side of a training-data
  * pipeline (dataset search, eval-leak hunting, targeted corpus slicing).
  *
  * Tokenization is the engine-wide whitespace policy
  * ([[TextAnalysis.tokens]], lowercased), so index/phrase/BM25 agree with
  * every other text operator and the DuckDB oracles re-derive positions
  * with a zipped unnest of the same split.
  *
  * Determinism policy for BM25 follows [[TfIdf]]: IDF is rational
  * fixed-point (integer div, no libm `ln`), the dl/avgdl ratio is scaled
  * integer division, per-token partial scores round to 6 decimals, and the
  * cross-token sum adds a FIXED number of conditional aggregates in query
  * order — no float ever crosses an order-unstable aggregation.
  */
object Search {

  /** (idCol, pos, token) — 0-based positions of the lowercase tokens. */
  private def positions(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      posexplode(TextAnalysis.tokens(lower(col(textCol)))).as(Seq("pos", "token")))

  /** Inverted index, flattened to scalar columns: one posting row per
    * (token, doc) with term frequency, first/last position, and the
    * token's document frequency. `minDf` prunes hapax noise at the source.
    *
    * Scale: one hash agg on (token, doc) — the posting shuffle key — then
    * a window on token for df (second exchange, keyspace-sized input).
    * Nothing pairwise; output is O(distinct (token, doc)) like any real
    * index build.
    */
  def invertedIndex(docs: DataFrame, minDf: Int = 1,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val post = positions(docs, idCol, textCol)
      .groupBy(col("token"), col(idCol))
      .agg(count(lit(1)).as("tf"),
        min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"))
    post
      .withColumn("df", count(lit(1)).over(Window.partitionBy("token")))
      .filter(col("df") >= minDf)
      .select(col("token"), col("df"), col(idCol), col("tf"),
        col("first_pos"), col("last_pos"))
  }

  /** Positional phrase match: docs containing the exact consecutive token
    * sequence, with the match count. Each phrase token after the first is
    * an EQUI-join on (doc, aligned start position) — `pos − i` re-keys
    * every occurrence of token i to the phrase start it would imply, so an
    * n-token phrase is n−1 hash joins on a proper composite key and the
    * work is bounded by the phrase tokens' posting sizes, never the
    * corpus.
    */
  def phraseMatch(docs: DataFrame, phrase: Seq[String],
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val pos = positions(docs, idCol, textCol)
    def occurrences(token: String, offset: Int): DataFrame =
      pos.filter(col("token") === token)
        .select(col(idCol), (col("pos") - offset).as("start"))
    val starts = phrase.zipWithIndex.tail.foldLeft(occurrences(phrase.head, 0)) {
      case (acc, (token, i)) => acc.join(occurrences(token, i), Seq(idCol, "start"))
    }
    starts.groupBy(col(idCol)).agg(count(lit(1)).as("n_matches"))
  }

  /** Conjunctive (AND) search: the top-k docs containing EVERY query
    * token at least once, ranked by total query-term frequency with a
    * doc-id tie-break. The boolean-retrieval primitive BM25 relaxes —
    * here a doc missing one term is out, however often the others occur.
    *
    * Scale shape: the term filter lands directly on the exploded token
    * stream, so downstream volume is bounded by the query terms' posting
    * sizes, never the corpus; the AND is one (doc, token) aggregate
    * (≤ |terms| rows per matching doc) plus a doc-keyed count==|terms|
    * gate; the cut is TakeOrdered — k rows to the driver, no global
    * sort.
    */
  def andSearch(docs: DataFrame, queryTokens: Seq[String], k: Int = 100,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queryTokens.nonEmpty, "empty query")
    val terms = queryTokens.distinct
    docs.select(col(idCol),
        explode(TextAnalysis.tokens(lower(col(textCol)))).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("terms_hit"), sum("tf").as("total_tf"))
      .filter(col("terms_hit") === terms.size)
      .select(col(idCol), col("total_tf"))
      .orderBy(col("total_tf").desc, col(idCol))
      .limit(k)
  }

  /** BM25 top-k over a fixed query-token set.
    *
    * score(d) = Σ_t idfQ(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)),
    * with idfQ(t) = ((N+1)·1000) div (df+1) (rational fixed-point — the
    * [[TfIdf]] policy) and dl/avgdl as (dl·N·1000) div Σdl scaled back by
    * 1000.0. Per-token scores round to 6 decimals; the Σ_t adds one
    * conditional aggregate per query token in FIXED query order (each
    * covers ≤1 row per doc, so no order-unstable float sum exists).
    *
    * Scale: tf is one hash agg over the (tiny) matching postings; df and
    * the corpus totals are broadcast; ranking is a row_number window that
    * compiles to WindowGroupLimit.
    */
  def bm25TopK(docs: DataFrame, queryTokens: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queryTokens.nonEmpty, "empty query")
    val nDocs = docs.count()
    val toks = docs.select(col(idCol),
      explode(TextAnalysis.tokens(lower(col(textCol)))).as("token"))
    val tf = toks.filter(col("token").isin(queryTokens: _*))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val tot = dl.agg(sum(col("dl")).as("tt"))
    val scored = tf
      .join(broadcast(dfT), Seq("token"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(tot))
      .withColumn("idfq", expr(s"((${nDocs}L + 1L) * 1000L) div (df + 1L)"))
      .withColumn("r", expr(s"(dl * ${nDocs}L * 1000L) div tt"))
      .withColumn("score_t", round(
        col("idfq").cast("double") * col("tf").cast("double") * lit(k1 + 1) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1 - b) + lit(b) * (col("r").cast("double") / lit(1000.0)))),
        6))
    val parts = queryTokens.zipWithIndex.map { case (t, i) =>
      sum(when(col("token") === t, col("score_t"))).as(s"__s$i")
    }
    val total: Column = queryTokens.indices
      .map(i => coalesce(col(s"__s$i"), lit(0.0)))
      .reduce(_ + _)
    // distributed top-k FIRST (orderBy+limit → TakeOrderedAndProject, k
    // rows per partition cross), THEN the rank window over just k rows —
    // a global row_number over all scored docs would single-thread the
    // whole match set through one partition
    val topK = scored.groupBy(col(idCol)).agg(parts.head, parts.tail: _*)
      .withColumn("score", round(total, 6))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
    topK.withColumn("rank",
        // keyspace-sized window: input is collapsed/bounded before this sort
        row_number().over(Window.orderBy(col("score").desc, col(idCol))))
      .select(col(idCol), col("score"), col("rank"))
  }

  /** Reciprocal Rank Fusion (Cormack & Clarke, SIGIR 2009) — merges N
    * rankings of the same id space (e.g. the BM25 lexical arm and a
    * cosine-ANN semantic arm) into one hybrid list:
    *
    *   fused(d) = Σ_arms 1000000 div (c + rank_arm(d))
    *
    * Integer division at a fixed 10⁶ scale keeps every contribution and
    * the cross-arm sum BIGINT-exact in any engine — no float reciprocal
    * ever crosses an aggregation. A doc absent from an arm contributes
    * nothing (the standard RRF convention).
    *
    * Scale: the inputs are already per-arm top-K lists (K rows each, not
    * the corpus), so the fusion is a union of tiny frames, one hash agg
    * over ≤ ΣK rows, and a rank window over ≤ k survivors. The expensive
    * work stays inside the arms, which each use their own scale path
    * (posting-bounded BM25, bucketed ANN).
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60,
              idCol: String = "doc_id"): DataFrame = {
    require(rankings.nonEmpty, "no rankings to fuse")
    val contribs = rankings.map(
      _.select(col(idCol),
        expr(s"CAST(1000000 AS BIGINT) div ($c + CAST(rank AS BIGINT))").as("contrib")))
    val fused = contribs.reduce(_.union(_))
      .groupBy(col(idCol))
      .agg(sum(col("contrib")).as("rrf"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
    fused.withColumn("rank",
        // keyspace-sized window: input is collapsed/bounded before this sort
        row_number().over(Window.orderBy(col("rrf").desc, col(idCol))))
      .select(col(idCol), col("rrf"), col("rank"))
  }

  /** Per-rank nDCG discount factors at 10⁹ scale — `⌊10⁹/log₂(r+1)⌉` for
    * r = 1..k, computed ONCE here and injected as literals into both
    * engines (the [[graft.ext.Layout.hilbertSteps]] single-source
    * device): the float log never runs inside either engine, so the
    * whole metric is integer arithmetic and bit-identical.
    */
  def ndcgDiscounts(k: Int): Seq[Long] =
    (1 to k).map(r => math.round(1e9 / (math.log(r + 1.0) / math.log(2.0))))

  /** nDCG@k — the standard graded retrieval-eval metric next to
    * [[graft.ext.Similarity.annRecall]] (set overlap) and
    * [[graft.ext.Similarity.rankAgreement]] (order agreement): gain
    * 2^grade − 1 discounted by the pinned integer table above, normalized
    * by the ideal ordering's DCG, emitted as `ndcg_ppm = DCG·10⁶ div
    * IDCG` (DECIMAL(38,0) numerator — DCG alone can reach k·2^grade·10⁹).
    *
    * Inputs: `ranking` (query_id, doc_id, rank) — any arm's top list;
    * `qrels` (query_id, doc_id, grade ≥ 0) — the graded eval set.
    * Unjudged ranked docs gain 0 (standard convention); queries present
    * in either input stay in the panel (no judged docs → ndcg_ppm 0).
    * The ideal ordering ties on grade break by doc_id, which cannot
    * change IDCG (equal grades contribute equal gains) — tie-invariant
    * by construction.
    *
    * Scale shape: ranking is panel×k rows; qrels is the eval set (bounded
    * by construction — never the corpus); one equi-join, one per-query
    * window over qrels, two panel-sized aggregates.
    */
  def ndcgAtK(ranking: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 100, s"k out of [1, 100]: $k")
    val discArr = array(ndcgDiscounts(k).map(lit): _*)
    val dcg = ranking.filter(col("rank") <= k)
      .join(qrels, Seq("query_id", "doc_id"), "left")
      .na.fill(0, Seq("grade"))
      .withColumn("dg",
        expr("shiftleft(CAST(1 AS BIGINT), grade) - 1L") *
          element_at(discArr, col("rank").cast("int")))
      .groupBy("query_id").agg(sum("dg").as("dcg"))
    val w = Window.partitionBy("query_id").orderBy(col("grade").desc, col("doc_id"))
    val idcg = qrels.withColumn("r", row_number().over(w)).filter(col("r") <= k)
      .withColumn("ig",
        expr("shiftleft(CAST(1 AS BIGINT), grade) - 1L") *
          element_at(discArr, col("r")))
      .groupBy("query_id").agg(sum("ig").as("idcg"))
    val panel = ranking.select("query_id").union(qrels.select("query_id")).distinct()
    panel.join(dcg, Seq("query_id"), "left").join(idcg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("dcg"), lit(0L)).as("dcg"),
        coalesce(col("idcg"), lit(0L)).as("idcg"))
      .withColumn("ndcg_ppm",
        expr("CAST(dcg AS DECIMAL(38,0)) * 1000000L div greatest(idcg, 1L)"))
  }

  /** PER-QUERY-PANEL reciprocal-rank fusion — [[rrfFuse]] lifted from one
    * global list to a whole (query_id, doc_id, rank) panel: each arm
    * contributes `10⁶ div (k0 + rank)` per (query, doc) (same integerized
    * 1/(k0+r) kernel), absent docs contribute 0, and the fused top-k
    * re-ranks per query by (score desc, doc_id) — how an eval harness
    * fuses a lexical and a vector arm across EVERY query at once rather
    * than per request.
    *
    * Scale shape: both inputs are top-k rankings (panel × k rows —
    * keyspace-sized by construction); one full-outer equi-join on
    * (query, doc) plus a per-query rank window over ≤ 2k rows. Facts
    * never appear — the expensive part (producing the input rankings) is
    * the upstream operators' problem and already bounded there.
    */
  def rrfFusePerQuery(a: DataFrame, b: DataFrame, k0: Int = 60,
                      k: Int = 10): DataFrame = {
    require(k0 >= 1 && k >= 1, s"bad rrf params: k0=$k0 k=$k")
    def arm(r: DataFrame, out: String): DataFrame = r
      .select(col("query_id"), col("doc_id"),
        expr(s"1000000 div ($k0 + rank)").cast("long").as(out))
    val fused = arm(a, "s_a").join(arm(b, "s_b"),
        Seq("query_id", "doc_id"), "full")
      .na.fill(0L, Seq("s_a", "s_b"))
      .withColumn("rrf", col("s_a") + col("s_b"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "doc_id", "rrf", "rank")
  }

  /** Precision@k / recall@k CURVE for a top-k ranking against binary
    * qrels — one row per cutoff 1..kMax, the operating-point table an
    * index tuning session reads next to the single-point recall (q134),
    * order agreement (q261), and graded nDCG (q295). Micro precision
    * (pooled hits over pooled FILLED slots — a query whose ranking has
    * fewer than k rows is charged only the rows it returned, so short
    * lists don't understate P@k) and MACRO recall (per-query floored
    * ppm, averaged — queries weigh equally regardless of qrel size),
    * both exact integer rationals.
    *
    * Scale shape: ranking ⋈ qrels (panel-sized) → per-(query, rank) hit
    * flags; the cutoff grid join multiplies panel×kMax rows — all
    * keyspace-sized; one aggregate per grain.
    */
  def precisionRecallAtK(ranking: DataFrame, qrels: DataFrame,
                         kMax: Int): DataFrame = {
    require(kMax >= 1 && kMax <= 100, s"kMax out of [1, 100]: $kMax")
    val spark = ranking.sparkSession
    val hits = ranking.filter(col("rank") <= kMax)
      .join(qrels.select(col("query_id"), col("doc_id"), lit(1L).as("rel")),
        Seq("query_id", "doc_id"), "left")
      .na.fill(0L, Seq("rel"))
    val relSizes = qrels.groupBy("query_id")
      .agg(count(lit(1)).as("n_rel"))
    val panel = ranking.select("query_id").distinct()
      .join(relSizes, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_rel"))
    val ks = spark.range(1, kMax + 1).select(col("id").as("k"))
    // slots = min(list length, k) per query — the denominator charges
    // only rows the ranking actually returned. DELIBERATE deviation from
    // trec_eval P@k (which divides by k·n_queries and so penalizes short
    // lists); adopted round 8 — bench/verdict history before r8 used the
    // k-denominator definition (see SCALING.md "P@k definition change")
    val perQueryK = hits.join(broadcast(ks), col("rank") <= col("k"))
      .groupBy("query_id", "k")
      .agg(sum("rel").as("hits"), count(lit(1)).as("slots"))
    // right panel × k grid so zero-hit queries still weigh in the macro mean
    val grid = panel.crossJoin(broadcast(ks))
      .join(perQueryK, Seq("query_id", "k"), "left")
      .na.fill(0L, Seq("hits", "slots"))
    grid.groupBy("k")
      .agg(count(lit(1)).as("n_queries"), sum("hits").as("total_hits"),
        sum("slots").as("total_slots"),
        sum(expr("CASE WHEN n_rel = 0 THEN 0L" +
          " ELSE hits * 1000000 div n_rel END")).as("recall_sum"))
      .select(col("k"), col("total_hits"),
        expr("CASE WHEN total_slots = 0 THEN NULL" +
          " ELSE total_hits * 1000000 div total_slots END").as("p_at_k_ppm"),
        expr("recall_sum div n_queries").as("r_at_k_ppm"))
  }

  /** Average precision at k (the AP of TREC/Buckley & Voorhees, public
    * literature) per query — the rank-sensitive single number the
    * [[precisionRecallAtK]] curve folds into: AP@k = Σ_{hit at rank j}
    * P@j / min(R, k). Each precision term is the exact floored ppm
    * ⌊hits≤j·10⁶/j⌋ (mirrored by the oracle), the normalizer is
    * min(n_rel, k) — a query cannot be charged for relevant docs it was
    * never allowed to return. Queries with no relevant docs score 0 and
    * STAY IN the panel (the q319 convention — macro means over this
    * relation keep the full denominator).
    *
    * Scale shape: the ranking is panel×k-sized by construction; the
    * running-hit window is partitioned per query over ≤ k rows; qrels
    * join once on (query, doc). Nothing fact-sized is sorted.
    */
  def averagePrecisionAtK(ranking: DataFrame, qrels: DataFrame,
                          kMax: Int): DataFrame = {
    require(kMax >= 1 && kMax <= 100, s"kMax out of [1, 100]: $kMax")
    import org.apache.spark.sql.expressions.Window
    val hits = ranking.filter(col("rank") <= kMax)
      .join(qrels.select(col("query_id"), col("doc_id"), lit(1L).as("rel")),
        Seq("query_id", "doc_id"), "left")
      .na.fill(0L, Seq("rel"))
    val w = Window.partitionBy("query_id").orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perQuery = hits.withColumn("cum", sum("rel").over(w))
      .filter(col("rel") === 1L)
      .groupBy("query_id")
      .agg(sum(expr("cum * 1000000 div rank")).as("ap_num"),
        max("cum").as("n_hits"))
    val relSizes = qrels.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    ranking.select("query_id").distinct()
      .join(relSizes, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_rel"))
      .join(perQuery, Seq("query_id"), "left")
      .na.fill(0L, Seq("ap_num", "n_hits"))
      .select(col("query_id"), col("n_rel"), col("n_hits"),
        expr("CASE WHEN n_rel = 0 THEN 0L" +
          s" ELSE ap_num div least(n_rel, $kMax) END").as("ap_ppm"))
  }
}
