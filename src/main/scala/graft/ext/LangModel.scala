package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Statistical language-model quality scoring (extension surface): train an
  * add-one-smoothed bigram model on the corpus itself and score every
  * document by its mean token-transition log-probability — the CCNet-style
  * "does this read like the rest of the corpus" filter (there via an
  * external KenLM; here self-trained, so the operator is closed over its
  * input and needs no model artifact). Low scorers are gibberish, boilerplate
  * soup, or wrong-language text; the score feeds the same quality gates as
  * [[TextAnalysis.stats]].
  *
  * Scale design: the model IS two aggregates — bigram counts keyed on
  * (w1, w2) and context counts keyed on w1, both with map-side partial
  * aggregation, both vocabulary-bounded (not corpus-bounded) outputs. Scoring
  * re-joins the per-document bigram stream to those counts on the same keys;
  * at web scale the count tables still fit executor memory, so AQE turns
  * both probes into broadcasts and the corpus is never reshuffled. The
  * vocabulary size V joins as a broadcast scalar. All math on BIGINT counts
  * until the final ln(); the per-doc mean rounds to 6 decimals (the
  * engine-portability policy for derived ratios).
  */
object LangModel {

  /** Adjacent-token pairs per document: (idCol, w1, w2). Docs with fewer
    * than two tokens emit nothing. Narrow (explode only).
    */
  def docBigrams(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__ts"))
      .filter(size(col("__ts")) >= 2)
      .select(col(idCol), explode(transform(
        sequence(lit(2), size(col("__ts"))),
        i => struct(element_at(col("__ts"), i - 1).as("w1"),
                    element_at(col("__ts"), i).as("w2")))).as("__bg"))
      .select(col(idCol), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))

  /** Per-document mean bigram log-probability under the corpus-trained
    * add-one model: avg over the doc's bigrams of
    * ln((c(w1,w2) + 1) / (c(w1,·) + V)), V = corpus vocabulary size.
    * Output: (idCol, n_bigrams, avg_logprob) for EVERY doc — docs with < 2
    * tokens score null with n_bigrams 0.
    */
  def scoreDocuments(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val bg = docBigrams(docs, idCol, textCol)
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("__c12"))
    // context count derives from the bigram counts (re-aggregate the
    // vocabulary-bounded table, not the corpus stream)
    val c1 = c12.groupBy("w1").agg(sum("__c12").as("__c1"))
    val vocab = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("__t"))
      .agg(countDistinct(col("__t")).as("__v"))
    val scored = bg
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("__c12") + 1).cast("double") /
          (col("__c1") + col("__v")).cast("double"))), 6).as("avg_logprob"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_logprob"))
  }
}
