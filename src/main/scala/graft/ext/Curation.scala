package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.Pin.PinOps

/** End-to-end corpus curation — the flagship composition of the
  * training-data extension surface, the pipeline a 100 TB pretraining
  * corpus actually runs:
  *
  *   near-dup clustering (MinHash+LSH, O(n) output)
  *     → keep the best-quality copy per cluster
  *     → deterministic stratified sampling by language
  *     → minimum-quality gate
  *     → per-doc stats for the survivors.
  *
  * Every stage is one of the individually oracle-checked operators
  * (q22/q40/q41/q13); this composition is itself hash-checked end-to-end
  * (q44). Lazy all the way down: Catalyst sees ONE plan — the stats
  * subtree is shared, filters push into scans, and the only shuffles are
  * the operators' own key exchanges.
  */
object Curation {

  def curate(docs: DataFrame,
             permille: Seq[(String, Int)], defaultPermille: Int,
             minQuality: Double,
             minHashK: Int = 16, rowsPerBand: Int = 4): DataFrame =
    curateWithClusters(docs, permille, defaultPermille, minQuality, minHashK, rowsPerBand)._1

  private def curateWithClusters(docs: DataFrame,
                                 permille: Seq[(String, Int)], defaultPermille: Int,
                                 minQuality: Double,
                                 minHashK: Int, rowsPerBand: Int): (DataFrame, DataFrame) = {
    val stats = TextAnalysis.stats(docs)
    val clusters = Dedup.minHashClusters(
      Dedup.minHashSignatures(docs, minHashK), minHashK, rowsPerBand)
    val best = Dedup.bestCopyPerCluster(clusters, stats)
    val kept = docs.select("doc_id", "lang")
      .join(best.select(col("keep_id").as("doc_id")), Seq("doc_id"))
    val curated = Sampling.stratifiedHashSample(kept, "doc_id", "lang", permille, defaultPermille)
      .join(stats.select("doc_id", "n_tokens", "quality"), Seq("doc_id"))
      .filter(col("quality") >= minQuality)
      .select("doc_id", "lang", "n_tokens", "quality")
    (curated, clusters)
  }

  /** [[curate]] with a SEMANTIC dedup stage (SemDeDup, q100) on top of the
    * surface-form MinHash stage: a curated doc is dropped when its
    * embedding is a semantic near-duplicate of a lower-id vector in its
    * trained k-means cell. Docs without an embedding pass through — the
    * anti-join only removes known duplicates. The two dedup stages are
    * complementary: MinHash catches byte-level/near-verbatim copies,
    * SemDeDup catches paraphrases the surface hashes can't see.
    */
  def curateSemantic(docs: DataFrame, embeddings: DataFrame,
                     threshold: Double,
                     permille: Seq[(String, Int)], defaultPermille: Int,
                     minQuality: Double,
                     minHashK: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val curated = curate(docs, permille, defaultPermille, minQuality, minHashK, rowsPerBand)
    val removed = Clustering.semanticDedup(embeddings, threshold)
      .filter(!col("kept"))
      .select(col("vec_id").as("doc_id"))
    curated.join(removed, Seq("doc_id"), "left_anti")
  }

  /** Boilerplate-strip + self-trained quality gate — the OTHER entry
    * flavor of corpus cleaning, complementing [[curate]]'s near-dup path:
    * segment-level boilerplate removal ([[Dedup.segmentDedup]]) first, then
    * the bigram LM retrains ON THE CLEANED CORPUS (boilerplate would
    * otherwise dominate the transition counts and score itself as
    * high-quality) and gates each doc at `minLogprob`. Docs stripped to
    * nothing fall out with the gate (no bigrams → null score).
    *
    * One lazy plan: the cleaned-text subtree feeds both the LM training
    * aggregates and the scoring stream; shuffles are the composed
    * operators' own keys (segment text, bigram, w1, doc id).
    */
  def curateClean(docs: DataFrame, chunkWords: Int, minDf: Int,
                  minLogprob: Double): DataFrame = {
    // pinned: the dedup stage's output feeds the LM scorer (which reads
    // its corpus several times — bigram training + scoring) AND the
    // final join-back. Unpinned, the whole segmentDedup subtree (chunk
    // explode, df aggregate, rebuild) re-evaluated once per reference —
    // the r13 trace showed 23 scans of the raw docs table in one plan.
    val cleaned = Dedup.segmentDedup(docs,
      Dedup.wordChunkSegments(docs, chunkWords), minDf)
      .pin()
    val corpus = cleaned.filter(col("n_kept") > 0)
      .select(col("doc_id"), col("clean_text").as("text"))
    LangModel.scoreDocuments(corpus)
      .join(cleaned, Seq("doc_id"))
      .filter(col("avg_logprob") >= minLogprob)
      .select(col("doc_id"), col("clean_text"), col("n_kept"),
        col("n_bigrams"), col("avg_logprob"))
  }

  /** Dedup-cascade attrition report — the funnel a corpus build publishes
    * next to its output: exact dedup → MinHash near-dup clusters →
    * semantic (SemDeDup) pruning, each stage fed the PREVIOUS stage's
    * survivors, reported as `(stage, rows_in, rows_out, removed)`. The
    * standard cheap-to-expensive ordering: content-hash equality first,
    * shingle clusters second, embedding pairs last — each stage only pays
    * for what the cheaper stages could not remove. Unshingleable docs
    * (text < shingle width) pass the MinHash stage as novel (the q131
    * rule), and survivors WITHOUT an embedding pass the semantic stage
    * (the q105 rule) — dedup never silently eats rows it cannot judge.
    *
    * Scale shape: three oracle-checked stages composed with left-semi/
    * anti id gates between them; the report itself is three 1-row
    * aggregates crossed in broadcast and exploded to the stage grain.
    */
  def dedupCascadeReport(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    // Pin.pin, not a bare localCheckpoint: each stage's survivor set
    // feeds the NEXT (pricier) stage plus the report aggregates, and on a
    // multi-hour 100 TB cascade the stage boundaries are exactly the
    // round state a reliable checkpoint root should make durable.
    val exact = Dedup.exactDedup(docs)
      .select(col("keep_id").as("doc_id")).pin()
    val mh = Dedup.minHashClusters(
      Dedup.minHashSignatures(docs.join(exact, Seq("doc_id"), "left_semi"), k = 16),
      k = 16, rowsPerBand = 4).pin()
    val s2 = exact.join(mh, Seq("doc_id"), "left")
      .filter(col("cluster_rep").isNull || col("doc_id") === col("cluster_rep"))
      .select("doc_id").pin()
    val embS2 = embeddings.join(s2.withColumnRenamed("doc_id", "vec_id"),
      Seq("vec_id"), "left_semi")
    val sem = Clustering.semanticDedup(embS2)
    val cIn = docs.agg(count(lit(1)).as("n0"))
    val c1 = exact.agg(count(lit(1)).as("n1"))
    val c2 = s2.agg(count(lit(1)).as("n2"))
    val cNoEmb = s2.join(embeddings.select(col("vec_id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("nno"))
    val cSem = sem.filter(col("kept")).agg(count(lit(1)).as("nsem"))
    cIn.crossJoin(c1).crossJoin(c2).crossJoin(cNoEmb).crossJoin(cSem)
      .select(explode(array(
        struct(lit("exact").as("stage"), col("n0").as("rows_in"),
          col("n1").as("rows_out")),
        struct(lit("minhash").as("stage"), col("n1").as("rows_in"),
          col("n2").as("rows_out")),
        struct(lit("semantic").as("stage"), col("n2").as("rows_in"),
          (col("nsem") + col("nno")).as("rows_out")))).as("s"))
      .select(col("s.stage").as("stage"), col("s.rows_in").as("rows_in"),
        col("s.rows_out").as("rows_out"))
      .withColumn("removed", col("rows_in") - col("rows_out"))
  }

  /** The full corpus→train-shards story: [[curate]] continued through the
    * leakage-safe cluster split (every near-dup cluster lands wholly on one
    * side — the SAME clusters the dedup stage derived, one subtree in the
    * plan) and per-split sequence packing (packs never cross the split
    * boundary). Output: one row per surviving doc with its shard address
    * (split, bucket, pack_seq) — exactly what a writer partitioned by
    * (split, bucket) would consume. Still ONE lazy plan; the only shuffles
    * are the composed operators' own key exchanges.
    */
  def curateToShards(docs: DataFrame,
                     permille: Seq[(String, Int)], defaultPermille: Int,
                     minQuality: Double, trainPct: Int,
                     packBudget: Long, nBuckets: Int,
                     minHashK: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val (curated, clusters) = curateWithClusters(
      docs, permille, defaultPermille, minQuality, minHashK, rowsPerBand)
    val split = Packing.clusterSplit(clusters, trainPct)
    val withSplit = curated.join(split.select("doc_id", "split"), Seq("doc_id"))
    // lang/quality ride through packing as carry columns — a join-back to
    // `curated` here would make Spark derive the whole curation subtree a
    // second time (no cross-consumer reuse; the q15 lesson)
    Packing.packDocuments(withSplit, packBudget, nBuckets,
        extraKeys = Seq("split"), carryCols = Seq("lang", "quality"))
      .select("doc_id", "lang", "n_tokens", "quality", "split", "bucket", "pack_seq")
  }

  /** Incremental corpus refresh — the daily-ingest shape every persisted
    * 100 TB corpus runs when a new crawl slice arrives: yesterday's state
    * (the distinct-fingerprint index and the token-count histogram
    * sketch) is UPDATED from the new slice alone; yesterday's raw text is
    * never re-read. Day-2 work is one fp-keyed equi-join against the
    * index (dup/novelty accounting) plus a bucket-row histogram merge
    * ([[Sketch.mergeLogHistograms]] — counts add), so the refresh cost
    * scales with the DELTA, not the corpus.
    *
    * The oracle computes every metric FROM SCRATCH over the full union
    * (no incremental path at all), so the exact-hash match is a
    * cross-engine proof that incremental maintenance ≡ batch recompute —
    * the property that makes persisted sketch state trustworthy.
    *
    * Output: long-format `(metric, value)` — day sizes, day-2 dup mass
    * vs the index, within-day-2 redundancy, novel-unique count, and
    * whole-corpus p50/p90/p99 token counts read from the MERGED sketch.
    */
  def incrementalRefresh(docs: DataFrame, dayMod: Int = 20,
                         day2From: Int = 18): DataFrame = {
    val base = docs.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("toks"),
      (pmod(col("doc_id"), lit(dayMod.toLong)) < day2From).as("is1"))
    // --- persisted day-1 state: built once, then only merged into
    val day1 = base.filter(col("is1")).withColumn("g", lit("all"))
    val fpIndex = day1.select("fp").distinct()
    val hist1 = Sketch.logHistogram(day1, col("toks"), Seq("g"))
    // --- day-2 delta: joins the index, never day-1 rows
    val day2 = base.filter(!col("is1")).withColumn("g", lit("all"))
    val hist2 = Sketch.logHistogram(day2, col("toks"), Seq("g"))
    val quant = Sketch.logHistQuantiles(
        Sketch.mergeLogHistograms(hist1.unionByName(hist2), Seq("g")), Seq("g"))
      .select(concat(lit("p"), col("quantile"), lit("_tokens")).as("metric"),
        col("est").as("value"))
    val m = day2
      .join(fpIndex.withColumn("known", lit(1)), Seq("fp"), "left")
      .agg(
        count(lit(1)).as("n_day2"),
        sum(when(col("known") === 1, 1L).otherwise(0L)).as("dup_vs"),
        count_distinct(col("fp")).as("dist2"),
        count_distinct(when(col("known").isNull, col("fp"))).as("novel"))
    day1.agg(count(lit(1)).as("n_day1")).crossJoin(broadcast(m))
      .select(explode(array(
        struct(lit("n_day1").as("metric"), col("n_day1").as("value")),
        struct(lit("n_day2").as("metric"), col("n_day2").as("value")),
        struct(lit("day2_dup_vs_day1").as("metric"), col("dup_vs").as("value")),
        struct(lit("day2_redundant_within").as("metric"),
          (col("n_day2") - col("dist2")).as("value")),
        struct(lit("day2_novel_unique").as("metric"), col("novel").as("value"))))
        .as("r"))
      .select(col("r.metric").as("metric"), col("r.value").as("value"))
      .unionByName(quant)
  }

  /** Filter-attribution "kill matrix": per curation gate, how many docs
    * it rejects (n_fail) and how many it ALONE rejects (n_exclusive —
    * docs no other gate would have caught). The report a pipeline owner
    * reads before touching a threshold: a gate with large n_fail but
    * n_exclusive ≈ 0 is redundant with the rest of the cascade and can
    * be relaxed for free; a gate carrying most of its kills exclusively
    * is the one whose threshold actually shapes the corpus. Gates:
    * `short` (n_tokens < minTokens), `low_quality` (quality <
    * minQuality), `repetitive` (top_word_frac > maxTopWordFrac),
    * `exact_dup` (not the min-id copy of its fingerprint) — each reusing
    * the exact engine spelling its own query (q13/q53/q12) pins.
    *
    * Scale shape: the three text gates are narrow one-pass kernels; the
    * dup gate is the q12 fingerprint aggregate joined back on fp. The
    * stack to (filter, fail) rows multiplies by 4 but carries 3 columns,
    * and the final aggregate is gate-keyspace-sized.
    */
  def filterAttribution(docs: DataFrame, minTokens: Long = 10,
                        minQuality: Double = 0.66,
                        maxTopWordFrac: Double = 0.2): DataFrame = {
    val fp = docs.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
    val keep = fp.groupBy("fp").agg(min("doc_id").as("keep_id"))
    val flags = TextAnalysis.stats(docs).select("doc_id", "n_tokens", "quality")
      .join(TextAnalysis.repetitionSignals(docs)
        .select("doc_id", "top_word_frac"), Seq("doc_id"))
      .join(fp.join(keep, Seq("fp"))
        .select(col("doc_id"), (col("doc_id") =!= col("keep_id")).as("f_dup")),
        Seq("doc_id"))
      .select(col("doc_id"),
        (col("n_tokens") < minTokens).as("f_short"),
        (col("quality") < minQuality).as("f_quality"),
        (col("top_word_frac") > maxTopWordFrac).as("f_rep"),
        col("f_dup"))
    val gates = Seq("f_short", "f_quality", "f_rep", "f_dup")
    val long = flags
      .withColumn("n_flags",
        gates.map(c => col(c).cast("long")).reduce(_ + _))
      .select(expr(
        """stack(4, 'short', f_short, 'low_quality', f_quality,
          |  'repetitive', f_rep, 'exact_dup', f_dup) AS (filter, fail)"""
          .stripMargin), col("n_flags"))
    long.groupBy("filter").agg(
      sum(when(col("fail"), 1L).otherwise(0L)).as("n_fail"),
      sum(when(col("fail") && col("n_flags") === 1, 1L).otherwise(0L))
        .as("n_exclusive"))
  }

  /** Quality-threshold YIELD CURVE: for every cutoff on a milli-unit
    * grid, the documents and token mass a `quality ≥ t` gate would
    * retain — the knob-sweep a curation session reads BEFORE committing
    * to one threshold (q167 applies one cut; this prices all of them).
    * One text pass to (score_milli, tokens), a by-score collapse
    * (≤ 1001 rows), then the threshold grid joins the COLLAPSED relation
    * — facts are never multiplied by the grid.
    */
  def yieldCurve(docs: DataFrame, steps: Int = 20,
                 textCol: String = "text"): DataFrame = {
    require(steps >= 2 && steps <= 1000 && 1000 % steps == 0,
      s"steps must divide 1000: $steps")
    val perDoc = docs.select(
      round(TextAnalysis.qualityScore(col(textCol)) * 1000, 0)
        .cast("long").as("s"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("tok"))
    val byScore = perDoc.groupBy("s")
      .agg(count(lit(1)).as("nd"), sum("tok").as("nt"))
    val tot = byScore.agg(sum("nd").as("td"), sum("nt").as("tt"))
    val grid = docs.sparkSession.range(0, steps)
      .select((col("id") * (1000 / steps)).as("thr_milli"))
    grid.join(byScore, col("s") >= col("thr_milli"), "left")
      .groupBy("thr_milli")
      .agg(coalesce(sum("nd"), lit(0L)).as("n_docs"),
        coalesce(sum("nt"), lit(0L)).as("n_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("thr_milli"), col("n_docs"), col("n_tokens"),
        expr("CAST(n_docs AS DECIMAL(38,0)) * 1000000 div td").as("doc_ppm"),
        expr("CAST(n_tokens AS DECIMAL(38,0)) * 1000000 div tt").as("token_ppm"))
  }
}
