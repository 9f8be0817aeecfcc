package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (extension surface,
  * SURVEY.md §7.5), over the `documents` table.
  *
  * Everything here is built-in codegen'd expressions — no UDFs — so the hot
  * path stays inside whole-stage codegen and scales linearly with input
  * splits: per-document work, zero shuffle.
  */
object TextAnalysis {

  /** Whitespace tokenization; empty text ⇒ zero tokens (not [""]). */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /** Count-only consumers get the native one-byte-scan kernel
    * ([[graft.functions.TokenCountUtil]]) — identical value semantics to
    * `size(tokens(text))` without materializing the token array; the
    * oracles keep the split spelling, so every green count-consuming row
    * is the equivalence proof.
    */
  def tokenCount(text: Column): Column =
    call_function(graft.functions.TokenCountFunctions.Name, text)

  /** Email-address pattern shared by scrub and count — restricted to the
    * regex subset with identical semantics in Java regex (Spark codegen)
    * and RE2 (DuckDB/Go engines): plain character classes and bounded
    * repetition, no backrefs, no lookaround.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Long digit runs — account/phone/SSN-shaped tokens. */
  val NumberPattern = "[0-9]{6,}"

  /** PII scrubbing: masks email addresses then long digit runs (that
    * order — emails contain digits), and reports per-document match
    * counts. The pre-publication redaction pass of a text corpus
    * pipeline; the pattern set extends per deployment.
    *
    * Scale: per-document regex work inside whole-stage codegen — zero
    * shuffle, prunes to (id, text) at the scan, linear in corpus bytes.
    */
  def scrubPii(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      regexp_replace(
        regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
        NumberPattern, "<NUM>").as("clean_text"),
      size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(NumberPattern), lit(0)))
        .cast("long").as("n_numbers"))

  /** Unicode ingestion normalization: NFC composition + C0/DEL control
    * strip + ASCII-whitespace-run squash + trim, via the native
    * `graft_clean_text` expression ([[graft.functions.CleanText]] — Spark
    * has NO built-in NFC, and a UDF would leave whole-stage codegen). The
    * canonical first pass of a crawl pipeline: dedup/shingling must see
    * `é` and `e`+U+0301 as one form. Zero shuffle, linear in corpus
    * bytes.
    */
  def normalizeText(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      graft.functions.NormalizeFunctions.cleanText(col(textCol)).as("clean_text"))
      .withColumn("n_chars", length(col("clean_text")).cast("long"))

  /** Gopher-style word-level repetition signals, one narrow pass per
    * document via the native `graft_repetition` expression
    * ([[graft.functions.RepetitionStats]]): most-frequent word / bigram /
    * trigram fractions and duplicate-word mass. The composed alternative
    * is three explode→groupBy→max rounds — three shuffles of ~40× the
    * corpus volume at scale; this is zero-shuffle whole-stage codegen.
    * Ratios rounded to 6 decimals (cross-engine float determinism policy).
    */
  def repetitionSignals(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    docs
      .withColumn("__r", graft.functions.RepetitionFunctions.repetition(tokens(col(textCol))))
      .select(
        col(idCol),
        col("__r.n_words").as("n_words"),
        round(col("__r.top_word_frac"), 6).as("top_word_frac"),
        round(col("__r.dup_word_frac"), 6).as("dup_word_frac"),
        round(col("__r.top_bigram_frac"), 6).as("top_bigram_frac"),
        round(col("__r.top_trigram_frac"), 6).as("top_trigram_frac"))

  /** Corpus vocabulary: global top-k tokens by raw frequency (ties →
    * token asc) with per-token document frequency — the vocab/BPE-prep
    * sweep of a training pipeline. Plan: explode → hash agg with map-side
    * partial combine (one exchange on token) → TakeOrdered top-k, so only
    * k rows reach the driver-side reduction regardless of vocabulary size.
    */
  def topTokens(docs: org.apache.spark.sql.DataFrame, k: Int,
                idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"), countDistinct(col(idCol)).as("n_docs"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Token frequency spectrum — the count-of-counts distribution: per
    * frequency OCTAVE (floor-log2 of a type's corpus count, the native
    * [[graft.functions.BinLength]] minus one), how many distinct types
    * land there and how much occurrence mass they carry, with the
    * cumulative share. The Zipf-shape health check a tokenizer/dedup
    * decision reads: octave 0 (singletons) carrying a large occurrence
    * share means a long contamination-prone tail; a fat top octave means
    * boilerplate [[topTokens]] will name. Complements [[vocabGrowth]]
    * (how vocabulary accumulates) with how it CONCENTRATES.
    *
    * Scale shape: one token-keyed aggregate (map-side combined) to type
    * counts, then an octave rollup over the vocabulary and a cumulative
    * window over ≤ 64 octave rows. Shares are exact integer ppm.
    */
  def tokenSpectrum(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val oct = counts.groupBy(
        (call_function(graft.functions.LogBucketFunctions.BinLenName,
          col("n")) - 1).as("octave"))
      .agg(count(lit(1)).as("n_types"), sum("n").as("n_occurrences"))
    val tot = oct.agg(sum("n_occurrences").as("__t"))
    // keyspace-sized window: input is collapsed/bounded before this sort
    val w = org.apache.spark.sql.expressions.Window.orderBy("octave")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    oct.crossJoin(broadcast(tot))
      .withColumn("occ_share_ppm",
        expr("n_occurrences * 1000000L div __t"))
      .withColumn("__cum", sum("n_occurrences").over(w))
      .withColumn("cum_occ_share_ppm", expr("__cum * 1000000L div __t"))
      .select(col("octave").cast("int").as("octave"), col("n_types"),
        col("n_occurrences"), col("occ_share_ppm"), col("cum_occ_share_ppm"))
  }

  /** A BPE-ish subword count: alpha runs, digit runs, and single
    * non-alphanumeric marks each count as one token (regex approximation of
    * byte-pair pretokenization). Match-counting, not splitting — "ab12" is
    * two subwords ("ab", "12"), same as the SQL oracle's
    * regexp_extract_all.
    */
  def subwordCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Ratio of punctuation characters to total characters (0 for empty). */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n === 0, lit(0.0)).otherwise(
      (n - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") / n)
  }

  val englishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for", "on", "with", "as")

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks)
    when(n === 0, lit(0.0)).otherwise(
      size(filter(toks, t => t.isin(englishStopwords.map(lit): _*))).cast("double") / n)
  }

  /** Heuristic quality score in [0,1]: rewards mid-length documents and a
    * healthy stopword ratio, penalizes punctuation soup. Deterministic,
    * closed-form — the same formula is expressible as oracle SQL. The
    * integer inputs come from the one-pass native counter struct; the
    * float staging is the composed formulation verbatim.
    */
  def qualityScore(text: Column): Column = {
    val st = call_function(graft.functions.TextStatsFunctions.Name, text)
    val nToks = st("n_tokens")
    val stopRatio = when(nToks === 0, lit(0.0)).otherwise(
      st("stop_hits").cast("double") / nToks)
    val pRatio = when(st("n_chars") === 0, lit(0.0)).otherwise(
      st("n_punct").cast("double") / st("n_chars"))
    val lenScore = least(nToks.cast("double") / 50.0, lit(1.0))
    val stopScore = least(stopRatio * 4.0, lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - pRatio * 5.0)
    round((lenScore * 0.4 + stopScore * 0.4 + punctPenalty * 0.2), 6)
  }

  /** Stopword marker sets for a tiny deterministic language-ID heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "es" -> Seq("el", "la", "de", "es"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "de", "et"))

  /** N-gram/stopword language ID: count marker hits per language, argmax
    * with deterministic tie-break (marker-list order), "und" (undetermined)
    * when nothing matches.
    */
  def langId(text: Column): Column = {
    val st = call_function(graft.functions.TextStatsFunctions.Name, text)
    val scores = langMarkers.map { case (lang, _) => lang -> st(s"hit_$lang") }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Document fingerprint: md5 over whitespace-normalized lowercase text —
    * the canonical exact-dup key (identical in DuckDB: md5()). The
    * ws-collapse runs through the native byte-scan kernel
    * ([[graft.functions.CollapseWsUtil]] — ~70% of the composed cost was
    * the regex engine); `lower` stays stock for exact Unicode semantics
    * and the oracle keeps the `regexp_replace` spelling.
    */
  def fingerprint(text: Column): Column =
    md5(call_function(graft.functions.CollapseWsFunctions.Name,
      lower(trim(text))))

  /** Position-weighted rolling fingerprint: Σ_i i · enc(shingle_i) mod P
    * over ALL 3-char shingles in order (not distinct — order and
    * multiplicity both matter, unlike the md5 of normalized text which
    * collapses whitespace). Engine-portable: the same integer arithmetic
    * runs in any SQL engine.
    *
    * Overflow-proof at any document length: every factor is reduced mod P
    * (< 2^31) before multiplying, so each term fits 2^62 and the fold
    * keeps the accumulator below P — no wraparound divergence from the
    * oracle's exact wide-integer sum.
    *
    * Native one-pass codegen expression ([[graft.functions.RollingFp]]):
    * the composed HOF form below is O(L²) per document (interpreted
    * `aggregate` + an O(i) substr scan per position) and dominated q13
    * once the bench probe stopped letting ColumnPruning delete the column.
    *
    * Docs shorter than 3 chars fingerprint to 0; NULL text stays NULL.
    */
  def rollingFingerprint(text: Column): Column =
    graft.functions.ShingleFunctions.rollingFp(text)

  /** The composed HOF formulation [[rollingFingerprint]]'s native expression
    * replaces — kept as the executable specification the equivalence spec
    * pins the native values against. Interpreted `aggregate` + an O(i)
    * substr scan per position make it O(L²) per document; never use it on
    * a hot path.
    */
  def rollingFingerprintComposed(text: Column): Column = {
    val p = Dedup.MinHashP
    when(length(text) < 3, lit(0L)).otherwise(
      aggregate(sequence(lit(1), length(text) - 2), lit(0L),
        (acc, i) => (acc + ((i.cast("long") % p)
          * (Dedup.encodeShingle3(text.substr(i, lit(3))) % p)) % p) % p))
  }

  /** Corpus length profile: document counts and token mass per
    * (source, token-count bucket) — the reporting sweep a curation run
    * starts from (what does each source contribute, where is the mass).
    * Buckets are integer `div` (engine-portable, no float binning).
    *
    * Scale: one codegen tokenize pass + a single hash aggregate on
    * (source, bucket) with map-side partial combine — output is
    * O(sources × buckets), independent of corpus size.
    */
  def lengthHistogram(docs: DataFrame, bucketTokens: Int = 50,
                      srcCol: String = "source", textCol: String = "text"): DataFrame =
    docs.select(col(srcCol), tokenCount(col(textCol)).cast("long").as("__nt"))
      .groupBy(col(srcCol), expr(s"__nt div $bucketTokens").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("sum_tokens"))

  /** Exact integer quantile thresholds of the per-document token count:
    * for each of `q` quantiles d = 0..q-1, the smallest token count whose
    * cumulative document count reaches `(d+1)·N/q` (ceiling semantics via
    * `cum·q >= (d+1)·N` — all-integer, engine-portable, no interpolation).
    * Output: (quantile, threshold, n_le) where n_le is the cumulative
    * document count at the threshold.
    *
    * Scale: the distributed-exact quantile pattern — aggregate BY VALUE
    * first (one hash-agg; token counts have a small domain, so the result
    * is O(distinct values), independent of corpus size), then a cumulative
    * window + threshold selection over that tiny table. The unpartitioned
    * window is deliberate and safe: it runs over the aggregated domain,
    * never the corpus. Avoids both a global row sort (the naive
    * `ntile(q)` plan) and float quantile sketches (not oracle-exact).
    */
  def tokenCountQuantiles(docs: DataFrame, q: Int = 10,
                          textCol: String = "text"): DataFrame = {
    require(q >= 2 && q <= 1000, s"q out of [2, 1000]: $q")
    val vals = docs.select(tokenCount(col(textCol)).cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    // keyspace-sized window: input is collapsed/bounded before this sort
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = vals.select(col("v"), sum(col("cnt")).over(w).as("cum"))
      .crossJoin(vals.agg(sum(col("cnt")).as("n")))
    cum.crossJoin(spark(docs).range(q).select(col("id").as("quantile")))
      .filter(col("cum") * q >= (col("quantile") + 1) * col("n"))
      .groupBy(col("quantile"))
      .agg(min(col("v")).as("threshold"), min(col("cum")).as("n_le"))
  }

  /** Per-group exact quantiles — [[tokenCountQuantiles]] generalized with a
    * partition key: thresholds of the token-count distribution within each
    * `groupCol` value (e.g. per source). Same scale shape as the global
    * variant: aggregate BY VALUE first (O(groups × distinct counts) rows),
    * then cumulative/total windows over that tiny domain — no per-row sort
    * anywhere, no float sketch, and the windows are PARTITIONED by group so
    * even the tiny domain never single-threads through one partition the
    * way a global ORDER BY window would.
    */
  def tokenCountQuantilesBy(docs: DataFrame, groupCol: String, q: Int = 10,
                            textCol: String = "text"): DataFrame = {
    require(q >= 2 && q <= 1000, s"q out of [2, 1000]: $q")
    import org.apache.spark.sql.expressions.Window
    val vals = docs.select(col(groupCol), tokenCount(col(textCol)).cast("long").as("v"))
      .groupBy(col(groupCol), col("v")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(groupCol).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(groupCol)
    val cum = vals.select(col(groupCol), col("v"),
      sum(col("cnt")).over(w).as("cum"), sum(col("cnt")).over(tot).as("n"))
    cum.crossJoin(spark(docs).range(q).select(col("id").as("quantile")))
      .filter(col("cum") * q >= (col("quantile") + 1) * col("n"))
      .groupBy(col(groupCol), col("quantile"))
      .agg(min(col("v")).as("threshold"), min(col("cum")).as("n_le"))
  }

  /** Dataset card — the datasheet a corpus release ships (Gebru et al.
    * 2018, arXiv:1803.09010 "Datasheets for Datasets" flavor, reduced to
    * the machine-checkable rows): corpus size (docs/chars/tokens), exact
    * content-duplicate ppm (docs minus distinct normalized fingerprints),
    * truncated-mean quality in micro units, language spread (distinct
    * languages, head language and its ppm share) — ONE long-format
    * `(metric, value)` relation so the card diffs/joins like any table.
    * All integer-or-string values (quality is the 6dp-rounded score
    * scaled to micros before the floor mean — no float row).
    *
    * Scale shape: one stats pass over the corpus ending in a single
    * global aggregate (count/sum/count-distinct partials), plus a
    * language-keyspace count with a 1-row TakeOrdered head — two jobs,
    * both collapse map-side; the card itself is driver-sized by
    * construction.
    */
  def datasetCard(docs: DataFrame): DataFrame = {
    val st = stats(docs)
    val agg = st.agg(
      count(lit(1)).as("n_docs"),
      sum("n_chars").as("nch"),
      sum("n_tokens").as("ntk"),
      count_distinct(col("fingerprint")).as("n_unique"),
      expr("sum(cast(round(quality * 1000000) as bigint)) div count(1)")
        .as("mean_quality_micro"),
      count_distinct(col("lang_pred")).as("n_langs"))
    val topLang = st.groupBy("lang_pred").agg(count(lit(1)).as("lang_n"))
      .orderBy(col("lang_n").desc, col("lang_pred")).limit(1)
    agg.crossJoin(broadcast(topLang))
      .select(explode(array(
        struct(lit("n_docs").as("metric"), col("n_docs").cast("string").as("value")),
        struct(lit("n_chars").as("metric"), col("nch").cast("string").as("value")),
        struct(lit("n_tokens").as("metric"), col("ntk").cast("string").as("value")),
        struct(lit("exact_dup_ppm").as("metric"),
          expr("((n_docs - n_unique) * 1000000) div n_docs").cast("string").as("value")),
        struct(lit("mean_quality_micro").as("metric"),
          col("mean_quality_micro").cast("string").as("value")),
        struct(lit("n_langs").as("metric"), col("n_langs").cast("string").as("value")),
        struct(lit("top_lang").as("metric"), col("lang_pred").as("value")),
        struct(lit("top_lang_ppm").as("metric"),
          expr("(lang_n * 1000000) div n_docs").cast("string").as("value")))).as("m"))
      .select(col("m.metric").as("metric"), col("m.value").as("value"))
  }

  /** Overlapping fixed-size token-window chunking — the RAG/embedding
    * ingestion primitive: document i yields chunks covering tokens
    * `[j·stride, j·stride + size)` for j = 0 … ⌈(n−size)/stride⌉ (one
    * chunk when n ≤ size, none when the text has no tokens), each with
    * its exact token count. Chunk text is the token window re-joined with
    * single spaces (whitespace-normalized — deterministic in any engine,
    * and what an embedding model sees anyway).
    *
    * Scale shape: a pure narrow transform — tokenize once, compute the
    * chunk count arithmetically, explode a `sequence` of chunk indices
    * (guarded: Spark's `sequence(0, -1)` DESCENDS — the q145 lesson) and
    * slice the token array per index. No shuffle, no state; the ~size/
    * stride output amplification pipelines into the downstream embed/
    * index stage without materializing.
    */
  def chunkDocuments(docs: DataFrame, size: Int = 64, stride: Int = 48,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(size >= 1, s"size must be >= 1: $size")
    require(stride >= 1 && stride <= size, s"stride out of [1, size]: $stride")
    docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", expr("size(__toks)"))
      .withColumn("__nc",
        when(col("__n") === 0, lit(0))
          .when(col("__n") <= size, lit(1))
          .otherwise(expr(s"1 + ((__n - $size + $stride - 1) div $stride)")))
      .withColumn("__i",
        explode(when(col("__nc") > 0, sequence(lit(0), col("__nc") - 1))
          .otherwise(array().cast("array<int>"))))
      .select(col(idCol), col("__i").cast("int").as("chunk_idx"),
        array_join(slice(col("__toks"), col("__i") * stride + 1, lit(size)), " ")
          .as("chunk_text"),
        least(lit(size), col("__n") - col("__i") * stride).cast("long").as("n_tokens"))
  }

  /** Vocabulary drift between two corpus snapshots — the text analogue of
    * the column-profile drift report (q138): per token appearing ≥
    * `minCount` times in EITHER snapshot, its count and within-snapshot
    * frequency (exact integer ppm of each side's total token mass), plus
    * the signed ppm delta. Rising tokens = emerging vocabulary /
    * contamination (a spam template flooding a crawl shows up here before
    * any quality score moves); vanished tokens = source loss. Log-free by
    * the same policy as Gini: ratios of exact integers, `div`-floored at
    * ppm, with the numerator in DECIMAL(38,0).
    *
    * Scale shape: one token-keyed count aggregate per side (partial-agg'd
    * — the explode stream collapses map-side to vocabulary-sized
    * relations), a vocabulary-sized full-outer join, two 1-row totals
    * crossed in broadcast, and the minCount gate bounds the report.
    * Nothing scales with corpus size past the two token scans.
    */
  def vocabularyDrift(docsA: DataFrame, docsB: DataFrame, minCount: Long = 10,
                      textCol: String = "text"): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    def counts(d: DataFrame, cName: String) =
      d.select(explode(tokens(lower(col(textCol)))).as("token"))
        .groupBy("token").agg(count(lit(1)).as(cName))
    val a = counts(docsA, "cnt_a")
    val b = counts(docsB, "cnt_b")
    val ta = a.agg(sum("cnt_a").as("tot_a"))
    val tb = b.agg(sum("cnt_b").as("tot_b"))
    a.join(b, Seq("token"), "full_outer")
      .na.fill(0L, Seq("cnt_a", "cnt_b"))
      .filter(col("cnt_a") >= minCount || col("cnt_b") >= minCount)
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
      .select(col("token"), col("cnt_a"), col("cnt_b"),
        expr("(cast(cnt_a as decimal(38,0)) * 1000000) div tot_a").as("ppm_a"),
        expr("(cast(cnt_b as decimal(38,0)) * 1000000) div tot_b").as("ppm_b"))
      .withColumn("delta_ppm", col("ppm_a") - col("ppm_b"))
  }

  /** χ²-weighted token drift — [[vocabularyDrift]]'s per-token ppm
    * proportions scored by the χ² divergence kernel
    * (pₐ − p_b)²·10⁶ div (pₐ + p_b): a 50 ppm shift on a 100 ppm token
    * outscores a 500 ppm shift on a 10⁵ ppm token, which is exactly the
    * rare-token sensitivity a raw delta (q162) lacks and the classical
    * χ² statistic provides. All arithmetic on the ppm-rounded
    * proportions, so every term is a bounded exact integer at ANY corpus
    * size (delta² ≤ 4·10¹², ×10⁶ < 2⁶³) — no HUGEINT envelope to
    * outgrow. Tokens whose both sides round below 1 ppm score 0.
    *
    * Scale shape: identical to [[vocabularyDrift]] — two token scans,
    * one vocabulary-sized full-outer join, two broadcast totals.
    */
  def chi2TokenDrift(docsA: DataFrame, docsB: DataFrame, minCount: Long = 10,
                     textCol: String = "text"): DataFrame =
    vocabularyDrift(docsA, docsB, minCount, textCol)
      .select(col("token"), col("cnt_a"), col("cnt_b"),
        expr("CASE WHEN ppm_a + ppm_b = 0 THEN CAST(0 AS BIGINT)" +
          " ELSE (ppm_a - ppm_b) * (ppm_a - ppm_b) * 1000000" +
          " div (ppm_a + ppm_b) END").as("chi2_ppm"))

  /** Top-k collocations (adjacent-token bigrams) ranked by association
    * lift — the PMI-style "these words travel together" signal a corpus
    * curator uses to spot boilerplate templates and multiword terms.
    * Lift is computed in integer parts-per-million, no logarithm:
    * lift = p(xy)/(p(x)·p(y)) = c_xy·N_uni² / (N_bi·c_x·c_y), evaluated
    * as one DECIMAL(38,0) integral division — libm's `log` is NOT
    * bit-reproducible across engines, integer ratios are. Ties at the
    * cut break on (w1, w2), so the top-k set is a deterministic total
    * order, not a float coin flip.
    *
    * Scale shape: bigrams come straight off each document's token array
    * (`transform` over indices — no position self-join, no second
    * explode-shuffle); unigram and bigram counts are partial-agg'd
    * hash aggregates on vocabulary-sized keyspaces; the totals are a
    * 1-row broadcast; the final top-k is a TakeOrdered over the
    * (already count-pruned) bigram relation — k rows to the driver.
    */
  def collocations(docs: DataFrame, minCount: Long = 5, k: Int = 50,
                   textCol: String = "text"): DataFrame = {
    val toksAll = docs.select(tokens(lower(col(textCol))).as("w"))
    val uni = toksAll.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val bi = toksAll.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val totals = toksAll.agg(
      sum(size(col("w")).cast("long")).as("n_uni"),
      sum(greatest(size(col("w")) - 1, lit(0)).cast("long")).as("n_bi"))
    bi.join(uni.select(col("t").as("w1"), col("c").as("cx")), Seq("w1"))
      .join(uni.select(col("t").as("w2"), col("c").as("cy")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("lift_ppm", expr(
        """(CAST(1000000 AS DECIMAL(38,0)) * c_xy * n_uni * n_uni)
          | div (CAST(n_bi AS DECIMAL(38,0)) * cx * cy)""".stripMargin))
      .select(col("w1"), col("w2"), col("c_xy").as("n_pair"), col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(k)
  }

  private def spark(df: DataFrame) = df.sparkSession

  /** Full per-document stats frame.
    *
    * The integer counters come from ONE native codepoint scan
    * ([[graft.functions.TextStatsUtil]] — no token-array
    * materialization, no interpreted HOF lambdas, no regex passes);
    * every ratio, the quality score, and the language argmax keep their
    * original Column formulations over those counters, so the float
    * staging — and every oracle hash — is unchanged from the composed
    * form (the still-green q13/q108/q175 rows are the equivalence
    * proof, plus the spec's composed-reference sweep).
    */
  def stats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val st = col("__st")
    val nToks = st("n_tokens")
    val stopRatio = when(nToks === 0, lit(0.0)).otherwise(
      st("stop_hits").cast("double") / nToks)
    val nChars = st("n_chars")
    val pRatio = when(nChars === 0, lit(0.0)).otherwise(
      st("n_punct").cast("double") / nChars)
    val langScores = langMarkers.map { case (lang, _) =>
      lang -> st(s"hit_$lang")
    }
    val best = langScores.map(_._2).reduce((a, b) => greatest(a, b))
    val lang = langScores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === best && s > 0, lit(l)).otherwise(acc)
    }
    docs
      .withColumn("__st",
        call_function(graft.functions.TextStatsFunctions.Name, t))
      .select(
        col("doc_id"),
        nChars.as("n_chars"),
        nToks.as("n_tokens"),
        st("n_subwords").as("n_subwords"),
        round(pRatio, 6).as("punct_ratio"),
        round(stopRatio, 6).as("stopword_ratio"),
        round(when(nToks === 0, lit(0.0)).otherwise(
          st("tok_len_sum").cast("double") / nToks), 6)
          .as("avg_token_len"),
        round(least(nToks.cast("double") / 50.0, lit(1.0)) * 0.4
          + least(stopRatio * 4.0, lit(1.0)) * 0.4
          + greatest(lit(0.0), lit(1.0) - pRatio * 5.0) * 0.2, 6).as("quality"),
        lang.as("lang_pred"),
        fingerprint(t).as("fingerprint"),
        rollingFingerprint(t).as("roll_fp"))
  }

  /** Heaps-law vocabulary-growth curve — the dataset-card saturation
    * signal: distinct (lowercased, whitespace) vocabulary at nested
    * hash-selected corpus prefixes (100‰ / 250‰ / 500‰ / full by
    * default). A near-linear curve says the corpus keeps bringing new
    * vocabulary (keep collecting); a flat tail says it's saturated
    * (dedup/diversify instead).
    *
    * Prefixes are permille thresholds on the id hash (the established
    * [[Sampling]] pattern), NOT a global row_number — no corpus-wide sort
    * exists at any scale, and the prefixes nest by construction (hp < 100
    * ⊂ hp < 250 ⊂ …).
    *
    * Scale: ONE pass explodes (hp, word) pairs; ONE word-keyed shuffle
    * computes each word's FIRST prefix (min hp) — so all thresholds read
    * from a single aggregate instead of one scan per point; the CDF
    * readout is a constant-width conditional aggregate. Doc counts ride a
    * doc-keyspace aggregate of the same hash.
    */
  def vocabGrowth(docs: DataFrame, permilles: Seq[Int] = Seq(100, 250, 500, 1000),
                  idCol: String = "doc_id", textCol: String = "text",
                  j: Int = 410): DataFrame = {
    require(permilles.nonEmpty && permilles.forall(p => p >= 1 && p <= 1000),
      "permilles must be in [1, 1000]")
    val sortedP = permilles.distinct.sorted
    val hp = pmod(Dedup.mixHash(col(idCol), j), lit(1000L))
    val firstHp = docs
      .select(hp.as("hp"), explode(tokens(lower(col(textCol)))).as("word"))
      .groupBy("word").agg(min("hp").as("first_hp"))
    val vrow = firstHp.agg(
      sum(when(col("first_hp") < sortedP.head, 1L).otherwise(0L)).as(s"v${sortedP.head}"),
      sortedP.tail.map(p =>
        sum(when(col("first_hp") < p, 1L).otherwise(0L)).as(s"v$p")): _*)
    val drow = docs.select(hp.as("hp")).agg(
      sum(when(col("hp") < sortedP.head, 1L).otherwise(0L)).as(s"d${sortedP.head}"),
      sortedP.tail.map(p =>
        sum(when(col("hp") < p, 1L).otherwise(0L)).as(s"d$p")): _*)
    val stacked = sortedP.map(p => s"${p}L, d$p, v$p").mkString(", ")
    vrow.crossJoin(drow)
      .select(expr(s"stack(${sortedP.size}, $stacked) AS (permille, n_docs, vocab)"))
  }

  /** Dictionary PHRASE scan — every exact occurrence of every blocklist
    * phrase (a variable-length token sequence) in the corpus, rolled up
    * per (doc, phrase): hit count and first position. The multi-pattern
    * matching a contamination/blocklist audit runs at intake — q54's
    * fixed-n decontamination generalized to arbitrary-length phrases
    * with POSITIONS (where exactly, how often, which phrase).
    *
    * Spark-first (no automaton, no per-row UDF — the Aho-Corasick role
    * is played by candidate-generation joins the optimizer can see):
    *   1. one corpus pass computes token document frequencies;
    *   2. each phrase picks its RAREST token as the ANCHOR (min df,
    *      offset tiebreak — deterministic): candidate mass is
    *      Σ_phrases df(anchor), the PPJoin prefix-filter idea applied to
    *      sequence matching; a phrase containing an unseen token costs
    *      ZERO candidates;
    *   3. candidates = one equi-join of the positional token stream
    *      against the broadcast anchor relation (start = p − offset);
    *   4. verification = one positional equi-join: candidate × phrase
    *      tokens on (doc, start+k, token), a match iff all plen
    *      positions survive — exact, no hashing, order enforced.
    * Phrase relations are dictionary-sized (broadcast); the only
    * corpus-sized relations are the token stream and the df aggregate.
    *
    * @param phrases (phraseIdCol, phraseCol) — phraseCol is raw text,
    *                tokenized with the same [[tokens]] rule as docs
    * @return (idCol, phraseIdCol, n_hits, first_pos) for pairs with ≥ 1 hit
    */
  def phraseScan(docs: DataFrame, phrases: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text",
                 phraseIdCol: String = "phrase_id",
                 phraseCol: String = "phrase"): DataFrame = {
    val docPos = docs
      .select(col(idCol).cast("long").as("d"), tokens(col(textCol)).as("__ws"))
      .select(col("d"), posexplode(col("__ws")).as(Seq("__p0", "tok")))
      .select(col("d"), (col("__p0") + 1).cast("long").as("p"), col("tok"))
    val ptok = phrases
      .select(col(phraseIdCol).cast("long").as("pid"),
        tokens(col(phraseCol)).as("__pt"))
      .filter(size(col("__pt")) >= 1)
      .select(col("pid"), size(col("__pt")).cast("long").as("plen"),
        posexplode(col("__pt")).as(Seq("__k0", "tok")))
      .select(col("pid"), col("plen"), col("__k0").cast("long").as("k"),
        col("tok"))
    val dfs = docPos.groupBy("tok").agg(count(lit(1)).as("df"))
    // anchor: rarest token per phrase (absent-from-corpus token ⇒ df 0 ⇒
    // zero candidates — the cheapest possible "cannot match" proof)
    val anchors = ptok.join(dfs, Seq("tok"), "left")
      .select(col("pid"), col("plen"), col("k"), col("tok"),
        coalesce(col("df"), lit(0L)).as("df"))
      .groupBy("pid", "plen")
      .agg(min(struct(col("df"), col("k"), col("tok"))).as("__a"))
      .select(col("pid"), col("plen"), col("__a.k").as("ak"),
        col("__a.tok").as("tok"))
    val cand = docPos.join(broadcast(anchors), Seq("tok"))
      .select(col("d"), (col("p") - col("ak")).as("start"), col("pid"),
        col("plen"))
      .filter(col("start") >= 1)
    // positional verification: all plen tokens must line up (renamed
    // sides — cand already derives from docPos, so the raw self-join
    // would be ambiguous)
    val pv = ptok.select(col("pid"), col("k"), col("tok").as("__ptok"))
    val dp2 = docPos.select(col("d").as("__d2"), col("p").as("__p2"),
      col("tok").as("__tok2"))
    val verified = cand
      .join(broadcast(pv), Seq("pid"))
      .join(dp2, col("d") === col("__d2") &&
        (col("start") + col("k")) === col("__p2") &&
        col("__ptok") === col("__tok2"))
      .groupBy("d", "start", "pid", "plen")
      .agg(count(lit(1)).as("__ok"))
      .filter(col("__ok") === col("plen"))
    verified.groupBy(col("d").as(idCol), col("pid").as(phraseIdCol))
      .agg(count(lit(1)).as("n_hits"), min("start").as("first_pos"))
  }
}
