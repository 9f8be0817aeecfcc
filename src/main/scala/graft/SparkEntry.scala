package graft

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity, Sketch, TextAnalysis, TfIdf}
import graft.ext.Pin.PinOps
import graft.transform.{Aggregate, Clean, Enrich, Inventory}

/** Driver contract — see SURVEY.md §7 and the builder prompt.
  *
  * Each entry pairs a Spark DataFrame pipeline (the engine under test) with
  * DuckDB oracle SQL in [[Oracles]]; the driver hash-compares results on the
  * same parquet tables at sf0.01. Determinism policy: pinned runDate
  * (2024-06-01), UTC session, DECIMAL-routed money sums, 6-decimal rounding
  * on derived ratios, total-order sorts before any LIMIT.
  */
object SparkEntry {

  private val runDate = Date.valueOf("2024-06-01")

  /** Flagship: the reference's retail sold-value aggregation
    * (portfolio-etl.py:602-618) over sf0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    Aggregate.retailAgg(Tables.sales(spark, "/root/testdata/sf0.001"))

  // ---- core parity pipelines (shared between queries) ----------------------

  private def enriched(s: SparkSession, d: String): DataFrame =
    Enrich.enrichSales(Tables.sales(s, d), Tables.salesMap(s, d), runDate)

  private def finalResult(s: SparkSession, d: String): DataFrame =
    Aggregate.wholesaleAgg(
      Aggregate.retailAgg(Tables.sales(s, d)), Tables.skuMap(s, d))

  /** Clicks `(event_id, user_id, ts)` and views `(user_id, ts, view_id)`,
    * one view per (user, instant) keeping the largest id: the two sides
    * every click→view as-of query joins (q39/q50/q52, q185–q187), so all
    * of them answer over the same inputs and share one oracle shape.
    */
  private def clicksAndViews(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id", "ts").agg(max("event_id").as("view_id"))
    (clicks, views)
  }

  /** The bidirected supplier↔part graph `(src, dst)` of the graph tier
    * (node ids 2·part and 2·supp+1, so the two id spaces cannot collide):
    * each distinct lineitem edge plus its reverse.
    */
  private def supplierPartGraph(s: SparkSession, d: String): DataFrame = {
    val e = Tables.lineitem(s, d).select(
      (col("l_suppkey") * 2 + 1).as("src"), (col("l_partkey") * 2).as("dst"))
      .distinct()
    e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Orders as layout points `(oid, o_custkey, dday)`, dday the integer
    * day since 1992-01-01: the two clustering keys every layout audit
    * (q258, q282, q292) scores file skipping on.
    */
  private def orderDays(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey").as("oid"), col("o_custkey"),
      datediff(col("o_orderdate").cast("date"),
        lit("1992-01-01").cast("date")).cast("long").as("dday"))

  /** Customers as a privacy release `(c_nationkey, c_mktsegment,
    * bal_band)`: the $1000 balance band in integer cents, so the
    * k-anonymity, l-diversity and t-closeness audits (q229, q230, q262)
    * read one quasi-identifier set and gate one release together.
    */
  private def customerBands(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey"), col("c_mktsegment"),
      expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000")
        .as("bal_band"))

  /** Hybrid retrieval's fused list: the BM25 lexical arm (q85's terms,
    * widened to top-20) and the brute-force cosine arm of query doc 0
    * over `emb`, fused by RRF — q122 registers it and q161 diversifies it
    * with the same `emb`.
    */
  private def hybridRrf(s: SparkSession, d: String, emb: DataFrame): DataFrame = {
    val lex = graft.ext.Search.bm25TopK(
        Tables.documents(s, d), Seq("join", "scan", "filter"), k = 20)
      .select(col("doc_id"), col("rank"))
    val sem = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") === 0), emb, k = 20)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    graft.ext.Search.rrfFuse(Seq(lex, sem), k = 10)
  }

  /** The retrieval eval stack's inputs (q295, q319, q345): the exact
    * cosine arm's top-10 `(query_id, doc_id, rank)` for the every-50th
    * panel, and its qrels `(query_id, doc_id)` — every other doc sharing
    * the query's label — so the three metrics grade one ranking.
    */
  private def panelQrels(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val ranking = Similarity.bruteForceTopK(queries, emb, k = 10)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    val qrels = queries.select(col("vec_id").as("query_id"), col("label").as("ql"))
      .join(emb.select(col("vec_id").as("doc_id"), col("label")),
        col("ql") === col("label"))
      .filter(col("query_id") =!= col("doc_id"))
      .select(col("query_id"), col("doc_id"))
    (ranking, qrels)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 retail units per SKU (portfolio-etl.py:610-615)
    "q01_retail_agg" -> ((s, d) => Aggregate.retailAgg(Tables.sales(s, d))),

    // U2+P6+F1-F3 union→junk-filter→normalize (portfolio-etl.py:581-607)
    "q02_clean_union" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val f1 = li.filter(col("l_linestatus") === "O").select(
        col("l_partkey").cast("string").as("sku"),
        col("l_quantity").cast("double").as("qty"),
        col("l_suppkey").cast("string").as("site"))
      val f2 = li.filter(col("l_linestatus") =!= "O").select(
        col("l_partkey").cast("string").as("sku"),
        col("l_quantity").cast("double").as("qty"))
      Clean.cleanSales(Seq(f1, f2))
    },

    // J1+F12+A2 retail→wholesale mapping agg (portfolio-etl.py:621-628)
    "q03_wholesale_agg" -> ((s, d) => finalResult(s, d)),

    // J2+F13+F14 inventory decrement (portfolio-etl.py:634-646)
    "q04_inventory" -> ((s, d) =>
      Inventory.decrement(Tables.stock(s, d), finalResult(s, d))),

    // J3+F7-F12 sales enrichment (portfolio-etl.py:659-683)
    "q05_enrich" -> ((s, d) => enriched(s, d)),

    // P7 equality brand split (portfolio-etl.py:688)
    "q06_brand_primary" -> ((s, d) =>
      Enrich.splitByBrand(enriched(s, d), "Brand#1", Seq("Brand#2", "Brand#3"))._1),

    // P8 IN-list brand split (portfolio-etl.py:689)
    "q07_brand_others" -> ((s, d) =>
      Enrich.splitByBrand(enriched(s, d), "Brand#1", Seq("Brand#2", "Brand#3"))._2),

    // A3 multi-key report agg (portfolio-etl.py:720-721)
    "q08_brand_agg" -> ((s, d) =>
      Aggregate.brandAgg(enriched(s, d).filter(col("brand") === "Brand#1"))
        .select("sku", "cost", "qty", "total")),

    // P4 timestamp-window scan agg (portfolio-etl.py:219, :263)
    "q09_date_window" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit(Timestamp.valueOf("1996-01-01 00:00:00"))
          && col("l_shipdate") < lit(Timestamp.valueOf("1997-01-01 00:00:00")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))),

    // O1+O3 total-order sort + limit (portfolio-etl.py:614, :315, :385)
    "q10_sort_limit" -> ((s, d) =>
      Aggregate.retailAgg(Tables.sales(s, d))
        .orderBy(col("qty").desc, col("sku")).limit(100)),

    // extension: ranking window — top-3 parts per brand by units
    "q11_topk_per_brand" -> { (s, d) =>
      val base = Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"), col("l_partkey").cast("string").as("sku"))
        .agg(sum("l_quantity").as("units"))
      val w = Window.partitionBy("brand").orderBy(col("units").desc, col("sku"))
      base.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
    },

    // extension: exact dedup by normalized-text fingerprint
    "q12_dedup_exact" -> ((s, d) => Dedup.exactDedup(Tables.documents(s, d))),

    // extension: per-document text stats (tokens, quality, lang-id, fp)
    "q13_text_stats" -> ((s, d) => TextAnalysis.stats(Tables.documents(s, d))),

    // extension: MinHash signatures (16 portable affine hashes)
    "q14_minhash_sig" -> ((s, d) =>
      Dedup.minHashSignatures(Tables.documents(s, d), k = 16)),

    // extension: LSH banding candidate pairs (4 bands × 4 rows)
    "q15_minhash_pairs" -> ((s, d) =>
      Dedup.minHashCandidatePairs(
        Dedup.minHashSignatures(Tables.documents(s, d), k = 16), k = 16, rowsPerBand = 4)),

    // extension: 32-bit SimHash
    "q16_simhash" -> ((s, d) => Dedup.simHash(Tables.documents(s, d), bits = 32)),

    // extension: exact n-gram Jaccard pairs on a 1/10 sample, with a
    // document-frequency cap: shingles in > 90% of the sample ("the ") are
    // hot join keys with no discriminating signal — dropped before the
    // content self-join (bounds the quadratic hot-shingle blowup at scale)
    "q17_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0), n = 3, threshold = 0.5,
        maxDfFraction = Some(0.9))),

    // extension: brute-force cosine top-5 for 1/50 query sample
    "q18_cosine_topk" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") % 50 === 0), emb, k = 5)
    },

    // extension: LSH-bucketed approximate top-5 (scale path)
    "q19_lsh_topk" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(emb.filter(col("vec_id") % 50 === 0), emb,
        k = 5, dim = 16, nPlanes = 4)
    },

    // extension: streaming-analogue tumbling-window agg over events
    "q20_events_hourly" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))),

    // extension: sessionization (30-min gap) via analytic window
    "q21_event_sessions" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val prev = lag(col("ts"), 1).over(w)
      Tables.events(s, d)
        .withColumn("new_s",
          when(prev.isNull || col("ts") > prev + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
        .groupBy("user_id")
        .agg(sum("new_s").as("n_sessions"), count(lit(1)).as("n_events"))
    },

    // extension: near-linear LSH dedup — one cluster representative per doc
    "q22_dedup_clusters" -> ((s, d) =>
      Dedup.minHashClusters(
        Dedup.minHashSignatures(Tables.documents(s, d), k = 16), k = 16, rowsPerBand = 4)),

    // extension: multimodal binary-column feature extraction (stub codec
    // via mapPartitions; full value oracle — DuckDB re-derives checksum/
    // mean_byte from the same UTF-8 bytes with wraparound Long math)
    "q23_media_features" -> ((s, d) =>
      graft.ext.Multimodal.mediaFeatures(Tables.documents(s, d))(s)),

    // extension: embedding near-duplicate pairs (LSH bucket + cosine)
    "q24_embedding_neardup" -> ((s, d) =>
      Similarity.embeddingNearDupPairs(Tables.embeddings(s, d),
        threshold = 0.3, dim = 16, nPlanes = 4)),

    // extension: sliding-window rates (streaming transform on batch frame)
    "q25_sliding_windows" -> ((s, d) =>
      graft.streaming.Streams.slidingRates(Tables.events(s, d))),

    // extension: top-k via bounded typed Aggregator (partial-agg scale
    // path; must equal q18's window formulation — same oracle)
    "q26_cosine_topk_agg" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopKAgg(emb.filter(col("vec_id") % 50 === 0), emb, k = 5)
    },

    // extension: IVF coarse-quantizer ANN (centroid probe scale path)
    "q27_ivf_topk" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb.filter(col("vec_id") % 50 === 0), emb, k = 5,
        centroids = emb.filter(col("vec_id") % 37 === 0), nProbe = 3)
    },

    // full §3.3 branch-A2 composition: wholesale report (J4+F7-F11+P7)
    "q28_wholesale_report" -> ((s, d) =>
      Enrich.splitByBrand(
        Enrich.enrichWholesale(finalResult(s, d), Tables.wholesaleMap(s, d), runDate),
        "Brand#1", Seq("Brand#2", "Brand#3"))._1),

    // multimodal metadata projection: the SQL-expressible subset of q23's
    // mapPartitions output, giving the binary-column path a value oracle
    "q30_media_meta" -> ((s, d) =>
      graft.ext.Multimodal.mediaFeatures(Tables.documents(s, d))(s)
        .select("media_id", "kind", "n_bytes", "frames_sampled")),

    // ---- extract/flatten layer over committed payload fixtures (N1-N7;
    // the sfDir argument is unused — the connector boundary is a payload
    // file, not the star schema; oracle = DuckDB read_json on same bytes)

    // N1-N2 Walmart double-nested orderLines (portfolio-etl.py:54-78)
    "q31_walmart_flatten" -> ((s, _) =>
      graft.extract.Payloads.walmart(s, s"${Fixtures.dir}/walmart.json")),

    // N6 Houzz XML tree walk (portfolio-etl.py:98-135)
    "q32_houzz_flatten" -> ((s, _) =>
      graft.extract.Payloads.houzz(s, s"${Fixtures.dir}/houzz.xml")),

    // N7 Faire orders[].items[] (portfolio-etl.py:152-177)
    "q33_faire_flatten" -> ((s, _) =>
      graft.extract.Payloads.faire(s, s"${Fixtures.dir}/faire.json")),

    // N3+P4 WooCommerce window filter + line_items (portfolio-etl.py:197-226)
    "q34_woo_flatten" -> ((s, _) =>
      graft.extract.Payloads.wooCommerce(s, s"${Fixtures.dir}/woocommerce.json",
        "woo_site1", Timestamp.valueOf("2024-05-01 00:00:00"),
        Timestamp.valueOf("2024-06-01 00:00:00"))),

    // N4+S7 DSCO multi-tenant union + date window (portfolio-etl.py:241-307)
    "q35_dsco_flatten" -> { (s, _) =>
      val from = Timestamp.valueOf("2024-05-01 00:00:00")
      val to = Timestamp.valueOf("2024-06-01 00:00:00")
      graft.extract.Payloads.dsco(s, s"${Fixtures.dir}/dsco_t1.json", "dsco_t1", from, to)
        .unionByName(
          graft.extract.Payloads.dsco(s, s"${Fixtures.dir}/dsco_t2.json", "dsco_t2", from, to))
    },

    // N5+P5 Mirakl CANCELED drop + order_lines (portfolio-etl.py:312-329)
    "q36_mirakl_flatten" -> ((s, _) =>
      graft.extract.Payloads.mirakl(s, s"${Fixtures.dir}/mirakl.json", "mirakl_s1")),

    // N7/S9 Wayfair GraphQL envelope (portfolio-etl.py:376-429)
    "q37_wayfair_flatten" -> ((s, _) =>
      graft.extract.Payloads.wayfair(s, s"${Fixtures.dir}/wayfair.json")),

    // extension: scale-hardened LSH top-k — plane count derived from the
    // corpus size (buckets stay ~targetBucketSize at any scale) plus a
    // deterministic per-bucket candidate cap (WindowGroupLimit prunes
    // skewed buckets before the rerank join)
    "q38_lsh_adaptive" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val nPlanes = Similarity.adaptivePlanes(emb.count(), targetBucketSize = 64)
      Similarity.lshTopK(emb.filter(col("vec_id") % 50 === 0), emb, k = 5,
        dim = 16, nPlanes = nPlanes, maxBucketCandidates = Some(256))
    },

    // extension: as-of join — each click enriched with the user's latest
    // view at-or-before it (tag-union-scan: one key shuffle, no range
    // cross product; oracle = DuckDB's native ASOF LEFT JOIN)
    "q39_asof_join" -> { (s, d) =>
      val (clicks, views) = clicksAndViews(s, d)
      graft.operators.AsOfJoin.asOf(clicks, views, Seq("user_id"), "ts")
    },

    // extension: hot-key-hardened as-of join — same semantics as q39 (same
    // oracle), but rows hash to (key, time-slice) so one hot user cannot
    // serialize a partition; boundary state propagates per key over slice
    // summaries (O(slices), not O(rows))
    "q50_asof_sliced" -> { (s, d) =>
      val (clicks, views) = clicksAndViews(s, d)
      graft.operators.AsOfJoin.asOfSliced(clicks, views, Seq("user_id"), "ts",
        sliceWidthMs = 24L * 3600 * 1000)
    },

    // extension: the SAME as-of semantics as q39 (same oracle) through the
    // custom whole-operator path — AsOfJoinPlan logical node planned to
    // AsOfJoinExec (co-partitioned merge scan) by the injected strategy
    "q52_asof_native" -> { (s, d) =>
      val (clicks, views) = clicksAndViews(s, d)
      graft.plans.NativeAsOfJoin.asOf(clicks, views, Seq("user_id"), "ts")
    },

    // extension: quality-aware cluster dedup — keep the best copy per
    // near-dup cluster (quality desc, id tie-break), the production
    // curation policy on top of q22's clusters
    "q40_dedup_best_copy" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.bestCopyPerCluster(
        Dedup.minHashClusters(Dedup.minHashSignatures(docs, k = 16), k = 16, rowsPerBand = 4),
        TextAnalysis.stats(docs))
    },

    // extension: deterministic stratified sampling — reproducible corpus
    // subsets as a pure function of (id, stratum), identical in any engine
    "q41_stratified_sample" -> ((s, d) =>
      graft.ext.Sampling.stratifiedHashSample(
        Tables.documents(s, d).select("doc_id", "lang"), "doc_id", "lang",
        Seq("en" -> 500, "zh" -> 200), defaultPermille = 100)),

    // extension: bucketized range join — in-transit lineitems per sampled
    // order date (interval = shipdate + quantity-derived transit window);
    // chunk equi-join instead of a theta-join cross product
    "q42_range_join" -> { (s, d) =>
      val epoch = lit(java.sql.Date.valueOf("1970-01-01"))
      val o = Tables.orders(s, d).filter(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), epoch).cast("long").as("order_day"))
      val day = datediff(col("l_shipdate"), epoch).cast("long")
      val li = Tables.lineitem(s, d).select(day.as("lo"),
        (day + 1L + col("l_quantity").cast("long") % 28L).as("hi"))
      val m = graft.operators.RangeJoin
        .pointInInterval(o, li, "order_day", "lo", "hi", chunkWidth = 16L)
        .groupBy("o_orderkey").agg(count(lit(1)).as("n_active"))
      o.join(m, Seq("o_orderkey"), "left")
        .select(col("o_orderkey"), col("order_day"),
          coalesce(col("n_active"), lit(0L)).as("n_active"))
    },

    // extension: vocabulary sweep — global top-k tokens with doc frequency
    "q43_vocab_topk" -> ((s, d) =>
      TextAnalysis.topTokens(Tables.documents(s, d), k = 200)),

    // extension: Gopher-style repetition quality signals — top word/bigram/
    // trigram fractions + duplicate-word mass, one zero-shuffle codegen
    // pass per document (native graft_repetition expression)
    "q53_repetition_signals" -> ((s, d) =>
      TextAnalysis.repetitionSignals(Tables.documents(s, d))),

    // extension: eval-set decontamination — train docs sharing any word
    // 4-gram with the held-out 5% (distinct-gram equi-join, never
    // pairwise; n=4 also surfaces template overlap on this corpus — the
    // planted near-dup docs are caught at every n)
    "q54_decontamination" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.crossContamination(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), n = 4)
    },

    // extension: SimHash near-dup pairs — EXACT hamming ≤ 3 via pigeonhole
    // bit-bands (equi-join candidates, never all-pairs). 64-bit hash: 16-bit
    // band keys (65k values, not the 8-bit/256 a 32-bit hash forces), and
    // hamming ≤ 3 over 62 random bits only accepts true near-dups
    "q45_simhash_neardup" -> ((s, d) =>
      Dedup.simHashNearDupPairs(Tables.documents(s, d), bits = 64, maxHamming = 3)),

    // extension: capped SimHash candidate generation — per-(band, key)
    // buckets truncated to the 64 smallest ids before the self-join, so a
    // pathological bucket is skew-bounded (the 100 TB guard rail)
    "q48_simhash_capped" -> ((s, d) =>
      Dedup.simHashNearDupPairs(Tables.documents(s, d), bits = 64, maxHamming = 3,
        maxBucketCandidates = Some(64))),

    // extension: O(n)-output SimHash cluster dedup — one cluster
    // representative per doc (the q22 analogue for SimHash; the scale path
    // on corpora where the pair set itself is quadratic)
    "q49_simhash_clusters" -> ((s, d) =>
      Dedup.simHashClusters(Tables.documents(s, d), bits = 64, maxHamming = 3)),

    // extension: EXACT connected components over the LSH candidate graph —
    // the transitive closure q22's one-pass bucket-min approximates. Edges
    // are per-bucket stars (doc ↔ bucket minimum, O(n·bands) not O(Σ
    // bucket²)); min-label propagation + pointer jumping converges in
    // O(log n) shuffle rounds, each an equi-join + min-agg on proper keys
    "q55_cc_clusters" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val sig = Dedup.minHashSignatures(docs, k = 16)
      Dedup.connectedComponents(Dedup.minHashStarEdges(sig), docs.select("doc_id"))
    },

    // extension: corpus-wide duplicated 5-gram coverage — per-doc fraction
    // of tokens lying inside a word 5-gram that recurs in another document
    // (the boilerplate/template signal; distinct-gram df + positional
    // explode, never pairwise)
    "q56_dup_ngram_coverage" -> ((s, d) =>
      Dedup.dupNgramCoverage(Tables.documents(s, d), n = 5)),

    // extension: duplicated-span trimming — text rebuilt from tokens not
    // inside any cross-doc duplicated 5-gram (the edit half of
    // exact-substring dedup; q56 is the signal half). Positional
    // anti-join + per-doc ordered rebuild, never a global sort
    "q60_trim_dup_spans" -> ((s, d) =>
      Dedup.trimDuplicatedSpans(Tables.documents(s, d), n = 5)),

    // extension: corpus length profile — docs + token mass per (source,
    // token-count bucket); integer-div buckets, one hash agg, O(sources ×
    // buckets) output at any corpus size
    "q58_length_histogram" -> ((s, d) =>
      TextAnalysis.lengthHistogram(Tables.documents(s, d), bucketTokens = 50)),

    // extension: deterministic global training shuffle — (shard, pos) as
    // pure functions of (id, seed): one exchange on shard + per-shard
    // sort, reproducible across engines/partitionings (vs orderBy(rand()))
    "q59_shard_shuffle" -> ((s, d) =>
      graft.ext.Sampling.deterministicShuffle(Tables.documents(s, d), nShards = 8)),

    // extension: TF-IDF cosine top-5 similar docs — text-side analog of
    // q18: rational fixed-point IDF (integer div, no libm ln) over a
    // 64-token vocabulary, then the same fused-cosine brute-force ANN;
    // LSH/IVF compose unchanged on the same vectors for the scale path
    "q57_tfidf_topk" -> { (s, d) =>
      // vectors materialize ONCE (localCheckpoint): the query and corpus
      // sides of the cosine cross-join otherwise each rebuild the whole
      // tokenize→vocab→tf→assemble pipeline (the mod-filter pushes into
      // the query copy, so the subtrees are not identical and AQE cannot
      // stage-share them). The vector build already runs an action (count
      // for N), so eagerness is not new here. The corpus side then
      // repartitions with an EXPLICIT count (AQE does not coalesce it):
      // the completion join pins the vectors to the parquet scan's
      // partitioning — ONE split for a small local file — which would
      // serialize the 2.5M-pair scoring loop on a single core. At real
      // scale the scan arrives in thousands of splits and this repartition
      // is a no-op to omit.
      val vecs = TfIdf.tfidfVectors(Tables.documents(s, d), vocabSize = 64)
        .pin() // one-shot: query AND corpus sides read it
      val corpus = vecs.repartition(s.sparkContext.defaultParallelism)
      Similarity.bruteForceTopK(vecs.filter(col("doc_id") % 10 === 0), corpus,
        k = 5, idCol = "doc_id", vecCol = "tfidf")
    },

    // extension: bucketed greedy sequence packing (≈2048-token packs)
    "q46_doc_packing" -> ((s, d) =>
      graft.ext.Packing.packDocuments(
        TextAnalysis.stats(Tables.documents(s, d)).select("doc_id", "n_tokens"),
        budget = 2048L, nBuckets = 8)),

    // extension: leakage-safe train/eval split — whole near-dup clusters
    // assigned to one side (decontamination by construction)
    "q47_cluster_split" -> ((s, d) =>
      graft.ext.Packing.clusterSplit(
        Dedup.minHashClusters(
          Dedup.minHashSignatures(Tables.documents(s, d), k = 16), k = 16, rowsPerBand = 4),
        trainPct = 90)),

    // flagship extension composition: full corpus curation (near-dup
    // best-copy dedup → stratified sample → quality gate → stats)
    "q44_curation_pipeline" -> ((s, d) =>
      graft.ext.Curation.curate(Tables.documents(s, d),
        permille = Seq("en" -> 800), defaultPermille = 500, minQuality = 0.2)),

    // flagship extension, full length: q44's curation continued through the
    // leakage-safe cluster split and per-split sequence packing — corpus in,
    // shard addresses (split, bucket, pack_seq) out, one lazy plan
    "q51_curation_shards" -> ((s, d) =>
      graft.ext.Curation.curateToShards(Tables.documents(s, d),
        permille = Seq("en" -> 800), defaultPermille = 500, minQuality = 0.2,
        trainPct = 90, packBudget = 2048L, nBuckets = 8)),

    // extension: engine-portable HyperLogLog — distinct-user registers per
    // event type: one hash-agg over raw rows (max is idempotent, no
    // pre-distinct), O(types · 64) mergeable state at any event volume;
    // rank derived via bin()-length, no floating point in the sketch
    "q61_hll_users" -> ((s, d) =>
      Sketch.hllRegisters(Tables.events(s, d), keyCol = "user_id",
        groupCols = Seq("event_type"), log2m = 6)),

    // extension: Count-Min frequency sketch — 4×2048 integer cell table
    // over token occurrences (one posexplode + one hash-agg), then point
    // estimates (min over rows) for the exact top-50 tokens; est ≥ n is
    // the sketch's one-sided error, identical in both engines
    "q62_cm_heavy_hitters" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      // per-token PARTIAL counts materialize once and feed BOTH consumers:
      // the sketch re-expands them (cnt-weighted cells ≡ per-occurrence
      // cells, counts are additive) and the top-50 re-aggregates them —
      // the corpus is tokenized once instead of twice, and the checkpoint
      // holds one row per distinct token, not per occurrence
      val tokCounts = docs.select(
        explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .pin() // one-shot: sketch build AND exact arm share it
      val sketch = Sketch.countMinSketchWeighted(
        tokCounts, Dedup.encodeToken(col("token")), col("n"))
      val top = tokCounts.orderBy(col("n").desc, col("token")).limit(50)
      Sketch.cmEstimate(sketch, top, Dedup.encodeToken(col("token")))
    },

    // extension: Bloom-filter semi-join — orders rows surviving a k=3,
    // 8192-bit filter built from BUILDING customers' keys (false positives
    // included by construction: the surviving set is a pure function of
    // the portable hash family, so the oracle reproduces it exactly)
    "q63_bloom_semijoin" -> ((s, d) =>
      Sketch.bloomSemiJoin(
        Tables.orders(s, d).select("o_orderkey", "o_custkey"), "o_custkey",
        Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING"), "c_custkey")),

    // OLAP breadth: ROLLUP grouping sets over lineitem — detail /
    // per-flag subtotal / grand total in one pass (Catalyst Expand), with
    // grouping_id disambiguating subtotal rows from genuine NULL groups
    "q64_sales_rollup" -> ((s, d) =>
      Tables.lineitem(s, d).rollup("l_returnflag", "l_linestatus")
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"), sum("l_quantity").as("qty"))),

    // OLAP breadth: pivot — hour-of-day × event-type count matrix with a
    // PINNED value list (open-ended pivot needs a distinct-values job and
    // makes the schema data-dependent; at 100 TB the domain is declared)
    "q65_events_pivot" -> { (s, d) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = Tables.events(s, d)
        .withColumn("hr", hour(col("ts")).cast("long"))
        .groupBy("hr").pivot("event_type", types).agg(count(lit(1)))
      p.select(col("hr") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    },

    // extension: exact corpus length deciles — aggregate BY VALUE first
    // (O(distinct token counts) rows), then a cumulative window over that
    // tiny table: distributed-exact quantiles with no global row sort and
    // no float sketch; all-integer ceiling thresholds
    "q66_token_deciles" -> ((s, d) =>
      TextAnalysis.tokenCountQuantiles(Tables.documents(s, d), q = 10)),

    // extension: edit-distance verification of near-dup candidates — the
    // classic second stage after sketch-based candidate generation:
    // SimHash pairs (hamming ≤ 3) re-checked with real Levenshtein on
    // 500-char prefixes. Pairwise work runs ONLY on the sketch's
    // near-linear candidate set (449 pairs at sf0.1), never all pairs
    "q69_editdist_verify" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.simHashNearDupPairs(docs, bits = 64, maxHamming = 3)
      val prefix = docs.select(col("doc_id"), substring(col("text"), 1, 500).as("pfx"))
      pairs
        .join(prefix.select(col("doc_id").as("id_a"), col("pfx").as("pa")), Seq("id_a"))
        .join(prefix.select(col("doc_id").as("id_b"), col("pfx").as("pb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("hamming"),
          levenshtein(col("pa"), col("pb")).as("edit_dist"))
    },

    // extension: salted skew join — lineitem⋈orders with the hot key
    // split across 8 reducers; the oracle is the UNSALTED SQL join (a
    // skew mitigation that changes any row is wrong)
    "q67_salted_join" -> ((s, d) =>
      graft.operators.SkewJoin.saltedJoin(
        Tables.lineitem(s, d).select("l_orderkey", "l_linenumber"), "l_orderkey",
        Tables.orders(s, d).select("o_orderkey", "o_custkey"), "o_orderkey", salt = 8)
        .select("l_orderkey", "l_linenumber", "o_custkey")),

    // extension: column profiling — row/non-null/exact-distinct counts per
    // column as data (one agg pass; the exact gate next to q61's sketch)
    "q68_profile" -> ((s, d) =>
      graft.ext.Profile.profile(Tables.lineitem(s, d),
        Seq("l_quantity", "l_returnflag", "l_shipdate", "l_orderkey"))),

    // OLAP breadth: UNPIVOT — melt the q65 matrix back to long form with
    // the Dataset.unpivot API (NOT a re-aggregation: zero-count cells
    // survive as explicit rows, which a direct groupBy would drop)
    "q70_events_unpivot" -> { (s, d) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      queries("q65_events_pivot")(s, d)
        .unpivot(Array(col("hr")), types.map(col).toArray, "type", "n")
    },

    // OLAP breadth: EXCEPT set semantics — parts shipped at some point
    // but never in 1995 (plans as a left-anti hash aggregate, one
    // exchange per side on the compared column)
    "q71_parts_except" -> ((s, d) =>
      Tables.lineitem(s, d).select("l_partkey")
        .except(Tables.lineitem(s, d)
          .filter(year(col("l_shipdate")) === 1995).select("l_partkey"))),

    // in-engine JSON: the reference's whole world is JSON payloads; this is
    // the string-column variant — from_json with a DECLARED schema (no
    // schema-inference job over 100 TB of strings), then plain typed
    // aggregation on the extracted field. All-integer outputs → hash-exact.
    "q72_props_json" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"), "k BIGINT", Map.empty[String, String])
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
          sum("k").as("sum_k"), min("k").as("min_k"), max("k").as("max_k"))),

    // time-series regularization: dense hourly grid per event type with
    // explicit zero rows — the grid is built from two tiny aggregates and
    // joined back on the (key, hour) key the count agg already shuffled on
    // (ext/TimeSeries scaladoc has the 100 TB shape)
    "q73_events_gapfill" -> ((s, d) =>
      graft.ext.TimeSeries.gapFillHourly(Tables.events(s, d))),

    // OLAP breadth: INTERSECT set semantics (q71's EXCEPT complement) —
    // parts shipped in BOTH 1995 and 1996; plans as a left-semi join over
    // per-side aggregates, one exchange per side on the compared column
    "q74_parts_intersect" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(year(col("l_shipdate")) === 1995).select("l_partkey")
        .intersect(Tables.lineitem(s, d)
          .filter(year(col("l_shipdate")) === 1996).select("l_partkey"))),

    // OLAP breadth: CUBE grouping sets (q64's ROLLUP sibling — all four
    // subtotal combinations, not just the prefix ladder) over flag × ship
    // year, one Expand pass; grouping_id disambiguates subtotal NULLs
    "q75_sales_cube" -> ((s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"), sum("l_quantity").as("qty"))),

    // extension: int8-quantized ANN — embeddings compressed 4× (normalized
    // float32[64] → int8-valued longs) with a pure-integer dot-product
    // score; the memory/bandwidth scale path for 100 TB vector corpora.
    // Same plan shape as q18 (broadcast queries, one corpus scan); recall
    // vs exact cosine is measured in QuantizedSimilaritySpec
    "q76_quantized_topk" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.quantizedTopK(emb.filter(col("vec_id") % 50 === 0), emb, k = 5)
    },

    // window-function breadth: NTILE quartiles of event value per type
    // (one shuffle on event_type + in-partition sort; for a GLOBAL exact
    // quantile at scale use q66's by-value aggregation instead)
    "q77_value_ntile" -> { (s, d) =>
      val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
      Tables.events(s, d)
        .withColumn("tile", ntile(4).over(w).cast("long"))
        .groupBy("event_type", "tile")
        .agg(count(lit(1)).as("n"), min("value").as("lo"), max("value").as("hi"))
    },

    // extension: per-group exact quantiles — q66's by-value trick with a
    // partition key (thresholds per source); windows partitioned by group,
    // so not even the tiny value domain single-threads
    "q78_source_deciles" -> ((s, d) =>
      TextAnalysis.tokenCountQuantilesBy(Tables.documents(s, d), "source", q = 10)),

    // extension: salted two-phase aggregation — the skew-agg pattern
    // (AQE splits skewed JOIN partitions, not agg keys). Oracle is the
    // PLAIN groupBy sum: a mitigation that changes any row is wrong.
    // Exact because l_quantity is integral-valued (sums < 2^53 stay exact
    // under any association order)
    "q79_salted_agg" -> ((s, d) =>
      Aggregate.saltedSum(Tables.sales(s, d), Seq("site"), "qty", salt = 16)),

    // time-series forward fill (LOCF): sparse hourly observations →
    // regular series; the running last(ignoreNulls) window runs over the
    // aggregated grid (keys × hours), never fact rows
    "q80_forward_fill" -> ((s, d) =>
      graft.ext.TimeSeries.forwardFillHourly(Tables.events(s, d))),

    // functions breadth: max_by/arg-max with a STRUCT order key — the
    // (qty, sku) pair makes the winner deterministic under qty ties,
    // which bare max_by(sku, qty) would not be
    "q81_top_sku_argmax" -> { (s, d) =>
      val st = Tables.sales(s, d).groupBy("site", "sku").agg(sum("qty").as("qty"))
      st.groupBy("site").agg(
        max_by(col("sku"), struct(col("qty"), col("sku"))).as("top_sku"),
        max(struct(col("qty"), col("sku"))).getField("qty").as("top_qty"))
    },

    // data layout: z-order address (bit interleave of two keys) — the
    // clustering device behind Sinks.zorderParquet, registered so the
    // address arithmetic itself is oracle-checked; pure integer
    // shift/mask, identical in any engine
    "q82_zorder_address" -> ((s, d) =>
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        graft.load.Sinks.zValue(
          pmod(col("l_partkey"), lit(65536)),
          pmod(col("l_suppkey"), lit(65536)), bits = 16).as("zaddr"))),

    // extension: inverted index build — one posting row per (token, doc)
    // with tf/positions/df, flattened to scalars; the retrieval-side
    // primitive (dataset search, leak hunting). minDf=2 prunes hapaxes
    "q83_inverted_index" -> ((s, d) =>
      graft.ext.Search.invertedIndex(Tables.documents(s, d), minDf = 2)),

    // extension: positional phrase match — consecutive-token search as
    // n−1 equi-joins on (doc, aligned start); work bounded by posting
    // sizes, never the corpus
    "q84_phrase_match" -> ((s, d) =>
      graft.ext.Search.phraseMatch(Tables.documents(s, d), Seq("table", "hash"))),

    // extension: BM25 ranking over a fixed query — rational fixed-point
    // IDF (no libm ln), pinned-order float policy, distributed top-k
    "q85_bm25_topk" -> ((s, d) =>
      graft.ext.Search.bm25TopK(Tables.documents(s, d),
        Seq("join", "scan", "filter"), k = 10)),

    // warehouse breadth: star-schema rollup — lineitem ⋈ orders ⋈
    // customer ⋈ nation ⋈ region with region/date predicates pushed below
    // the joins, tiny dims broadcast, fact shuffles only on natural keys
    "q86_star_revenue" -> ((s, d) =>
      graft.ext.Warehouse.starRevenue(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d),
        "ASIA", "1996-01-01", "1998-01-01")),

    // warehouse breadth: trailing 7-day revenue window — fact collapses to
    // (flag × day) aggregates BEFORE the RANGE-frame window, so the window
    // input is O(days), not O(rows), at any corpus size
    "q87_rolling_revenue" -> ((s, d) =>
      graft.ext.Warehouse.rollingDailyRevenue(Tables.lineitem(s, d), days = 7)),

    // event analytics: strict-sequence funnel (view → click → purchase) —
    // one filtered scan + user-key shuffle per stage, monotonically
    // shrinking per-user state, never an event self-join
    "q88_event_funnel" -> ((s, d) =>
      graft.ext.Funnel.funnel(Tables.events(s, d),
        Seq("view", "click", "purchase"))),

    // pipeline breadth: snapshot diff (CDC) — two deterministic snapshot
    // derivations of orders (drops, status flips, price bumps), one
    // full-outer key join, output proportional to CHANGE volume
    "q89_snapshot_diff" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val before = o.filter(col("o_orderkey") % 10 =!= 0)
      val after = o.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 5 === 0, lit("X")).otherwise(col("o_orderstatus")))
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
      graft.ext.Warehouse.snapshotDiff(before, after,
        Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
    },

    // pipeline breadth: incremental aggregate maintenance — stored per-key
    // aggregate + delta-batch aggregate re-aggregated; oracle is the FULL
    // recompute, so the merge is proven exact (mergeable partial states)
    "q90_incremental_agg" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val cut = to_timestamp(lit("1998-01-01"))
      graft.ext.Warehouse.mergeAggregates(
          graft.ext.Warehouse.aggState(li.filter(col("l_shipdate") < cut)),
          graft.ext.Warehouse.aggState(li.filter(col("l_shipdate") >= cut)))
        .select(col("sku"), col("n"), col("qty"),
          col("revenue").cast("double").as("revenue"))
    },

    // warehouse breadth: SCD2 validity intervals from the event stream —
    // consecutive-duplicate collapse + interval ends, one entity-key
    // shuffle, both windows share the (user × ts) sort
    "q91_scd2_intervals" -> ((s, d) =>
      graft.ext.Warehouse.scd2Intervals(Tables.events(s, d))),

    // pipeline breadth: declarative constraint report — every row-local
    // check folds into ONE aggregate over ONE scan (null, domain, range,
    // freshness, uniqueness), the FK check composes by union (anti-join)
    "q92_quality_report" -> { (s, d) =>
      import graft.ext.Quality
      val o = Tables.orders(s, d)
      Quality.constraintReport(o, Seq(
          Quality.Check("completeness_o_orderdate", col("o_orderdate").isNull),
          Quality.Check("domain_o_orderstatus",
            !col("o_orderstatus").isin("O", "F", "P")),
          Quality.Check("range_o_totalprice_pos", col("o_totalprice") <= 0),
          Quality.Check("freshness_1996",
            col("o_orderdate") < to_timestamp(lit("1996-01-01")))),
          uniqueKey = Some("o_orderkey"))
        .unionAll(Quality.fkViolations(o, "o_custkey",
          Tables.customer(s, d), "c_custkey", "fk_o_custkey"))
    },

    // robust stats: median/MAD outlier report per event type — LOWER
    // medians by by-value cumulative counting (no interpolation → bit
    // portable), tiny median/MAD relations broadcast back
    "q93_mad_outliers" -> ((s, d) =>
      graft.ext.Quality.madOutliers(Tables.events(s, d), "event_type", "value",
        k = 3.0)),

    // LLM-pipeline breadth: token-budgeted domain mixing — per-source
    // deterministic hash order, take-while under the domain's budget
    // (hash member j=150); the corpus data-mixing step
    "q94_domain_mix" -> ((s, d) =>
      graft.ext.Sampling.tokenBudgetMix(Tables.documents(s, d), "doc_id",
        "source", "n_chars",
        budgets = Seq("src0" -> 4000L, "src1" -> 4000L, "src2" -> 1000L),
        defaultBudget = 2000L)),

    // iterative graph analytics: fixed-point integer PageRank over the
    // bidirected supplier↔part graph (node ids 2·part / 2·supp+1) — 5
    // unrollable rounds, one join + one agg per round, checkpointed edges;
    // integer damping arithmetic is bit-identical in any engine
    "q95_pagerank" -> { (s, d) =>
      graft.ext.Graph.pageRank(supplierPartGraph(s, d), iterations = 5)
    },

    // personalized PageRank: the q95 engine with teleport mass restricted
    // to a seed panel (id % 97 = 1) — proximity-to-seeds scoring for
    // related-item / trust propagation. Same two-arm broadcast/shuffle
    // gate; the seed flag rides the checkpointed node relation
    "q299_personalized_pagerank" -> { (s, d) =>
      val sym = supplierPartGraph(s, d)
      val seeds = sym.select(col("src").as("id")).distinct()
        .filter(col("id") % 97 === 1)
      graft.ext.Graph.personalizedPageRank(sym, seeds, iterations = 4)
    },

    // multimodal dedup: 64-bit perceptual (average) hash per media payload
    // — integer cross-multiply bits, value-exact against the byte-level
    // SQL re-derivation. Pair discovery rides the SAME banded machinery as
    // text SimHash (Dedup.nearDupPairsFromHashes — oracle-covered by
    // q45/q48/q49; pair behavior on constructed near-dup payloads in
    // MultimodalSpec): candidates never touch payloads pairwise
    "q96_media_phash" -> { (s, d) =>
      implicit val sp: SparkSession = s
      graft.ext.Multimodal.perceptualHash(
        graft.ext.Multimodal.fakeMediaFromDocuments(Tables.documents(s, d)))
    },

    // pipeline breadth: PII scrubbing — the corpus has no PII, so the
    // query plants deterministic synthetic identifiers (derived from
    // doc_id, identically in the oracle) and verifies the REDACTION:
    // email masks, digit-run masks, per-doc match counts, full-text hash
    "q97_pii_scrub" -> { (s, d) =>
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com ref "), col("doc_id") * 1000003L + 123456L,
          lit(" end")).as("text"))
      graft.ext.TextAnalysis.scrubPii(planted)
    },

    // OLAP breadth: arbitrary GROUPING SETS (beyond q64's ROLLUP ladder /
    // q75's full CUBE): the two one-dimension marginals plus the cross —
    // one Expand pass, grouping_id disambiguates subtotal NULLs
    "q98_grouping_sets" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      li.groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"), sum("l_quantity").as("qty"))
    },

    // extension: distributed k-means (Lloyd's) in exact fixed-point
    // integer arithmetic — the IVF/semantic-dedup cell trainer; adaptive
    // sqrt(n) seed modulus; oracle replays the full training loop
    // bit-exactly
    "q99_kmeans" -> ((s, d) =>
      graft.ext.Clustering.kmeansAssign(Tables.embeddings(s, d),
        iterations = 2)),

    // extension: SemDeDup (arXiv:2303.09540) — semantic near-dup removal
    // with the quadratic stage confined to trained k-means cells
    "q100_semantic_dedup" -> ((s, d) =>
      graft.ext.Clustering.semanticDedup(Tables.embeddings(s, d),
        threshold = 0.3, iterations = 2)),

    // extension: per-node triangle counts on the part co-purchase graph,
    // degree-oriented so hot-node join fan-in is bounded by O(sqrt(m))
    "q101_triangles" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      graft.ext.Graph.triangleCounts(
        graft.ext.Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"))
    },

    // extension: BPE merge training (tokenizer induction) on the
    // word-frequency dict — the corpus is scanned once; every merge round
    // runs on the vocabulary-bounded dict
    "q102_bpe_merges" -> ((s, d) =>
      graft.ext.Bpe.learnMerges(Tables.documents(s, d), nMerges = 6)),

    // extension: BPE encoding — per-doc token counts under the q102
    // vocabulary (the tokenizer's apply side; one broadcast word→len join)
    "q104_bpe_tokens" -> ((s, d) =>
      graft.ext.Bpe.tokenCounts(Tables.documents(s, d), nMerges = 6)),

    // extension: product-quantization ANN (ADC) — per-subspace integer
    // codebooks from the q99 trainer; corpus ships as 4 codes per vector
    "q106_pq_topk" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      graft.ext.Clustering.pqTopK(emb.filter(col("vec_id") % 50 === 0), emb,
        k = 5, subspaces = 4, iterations = 2)
    },

    // extension: curation flagship + SemDeDup — surface-form MinHash dedup
    // AND semantic near-dup removal in one composed pipeline (q44 ∘ q100)
    "q105_curation_semantic" -> ((s, d) =>
      graft.ext.Curation.curateSemantic(
        Tables.documents(s, d), Tables.embeddings(s, d), threshold = 0.3,
        permille = Seq("en" -> 800), defaultPermille = 500, minQuality = 0.2)),

    // extension: point-in-time state lookup (the feature-store join) —
    // purchases as-of the SCD2 browsing-state history, so each fact sees
    // the dim row that was valid AT its timestamp, never a later one
    // (composition: Warehouse.scd2Intervals → AsOfJoin.asOf)
    "q103_pit_lookup" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val state = graft.ext.Warehouse
        .scd2Intervals(ev.filter(col("event_type") =!= "purchase"))
        // one row per (user, ts): simultaneous change points collapse
        // deterministically, the as-of operator's contract (as q39)
        .groupBy("user_id", "valid_from").agg(max("event_type").as("state"))
        .withColumnRenamed("valid_from", "ts")
      graft.operators.AsOfJoin.asOf(purchases, state, Seq("user_id"), "ts",
        prefix = "prior_")
    },

    // typed Dataset[SaleLine] boundary (SURVEY §1.4): compile-time-checked
    // retail agg via a typed Aggregator — same semantics and oracle as q01
    "q29_typed_retail_agg" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.{Encoder, Encoders}
      import graft.model.Schemas.SaleLine
      val sumQty = new org.apache.spark.sql.expressions.Aggregator[SaleLine, Double, Double] {
        override def zero: Double = 0.0
        override def reduce(b: Double, a: SaleLine): Double = b + a.qty
        override def merge(x: Double, y: Double): Double = x + y
        override def finish(r: Double): Double = r
        override def bufferEncoder: Encoder[Double] = Encoders.scalaDouble
        override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
      }.toColumn
      Tables.sales(s, d).as[SaleLine]
        .groupByKey(_.sku)
        .agg(sumQty)
        .toDF("sku", "qty")
    },

    // extension: segment-level boilerplate dedup (the CCNet line-hash
    // pass) — fixed-width chunks stand in for paragraphs on the
    // single-line corpus; one df-aggregate + join-back, nothing pairwise
    "q107_segment_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.segmentDedup(docs, Dedup.wordChunkSegments(docs, chunkWords = 16), minDf = 2)
    },

    // extension: self-trained bigram-LM quality score (the CCNet
    // perplexity filter) — the model is two vocabulary-bounded aggregates,
    // scoring re-joins them on the same keys
    "q108_lm_quality" -> ((s, d) =>
      graft.ext.LangModel.scoreDocuments(Tables.documents(s, d))),

    // extension: fuzzy entity resolution on part names — exact collapse →
    // df-capped token blocking → levenshtein verify → connected components
    "q109_entity_resolution" -> ((s, d) =>
      graft.ext.Entities.resolveByName(Tables.part(s, d), "p_partkey", "p_name",
        maxEdit = 3, maxTokenDf = 64)),

    // extension: composed cleaning flagship — boilerplate strip, then the
    // LM retrains on the CLEANED corpus and gates each doc (q107 ∘ q108)
    "q110_clean_lm_curation" -> ((s, d) =>
      graft.ext.Curation.curateClean(Tables.documents(s, d),
        chunkWords = 16, minDf = 2, minLogprob = -3.55)),

    // extension: interval×interval overlap join — order activity windows
    // vs shipment spans; chunk equi-join, emit-once responsibility chunk
    "q111_interval_overlap" -> { (s, d) =>
      val epoch = lit(java.sql.Date.valueOf("1970-01-01"))
      val o = Tables.orders(s, d).filter(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), epoch).cast("long").as("o_lo"))
        .withColumn("o_hi", col("o_lo") + 15L)
      val day = datediff(col("l_shipdate"), epoch).cast("long")
      val li = Tables.lineitem(s, d).select(day.as("i_lo"),
        (day + 1L + col("l_quantity").cast("long") % 28L).as("i_hi"))
      val m = graft.operators.RangeJoin
        .intervalOverlap(o, li, "o_lo", "o_hi", "i_lo", "i_hi", chunkWidth = 16L)
        .groupBy("o_orderkey").agg(count(lit(1)).as("n_overlap"))
      o.select("o_orderkey", "o_lo").join(m, Seq("o_orderkey"), "left")
        .select(col("o_orderkey"), col("o_lo"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
    },

    // extension: importance-weighted deterministic sampling — inclusion
    // probability = the doc's own quality score, reproducible anywhere
    "q112_weighted_sample" -> ((s, d) =>
      graft.ext.Sampling.weightedHashSample(
        TextAnalysis.stats(Tables.documents(s, d)).select("doc_id", "quality"),
        "doc_id", "quality")),

    // extension: EXACT set-similarity self-join (AllPairs/PPJoin prefix
    // filtering) over 3-gram shingle sets. Sampled 1/10 like the q17 verifier:
    // the synthetic corpus's 377-shingle universe defeats df-based pruning
    // (measured — SetSim scaladoc); Zipfian natural text is the operator's
    // habitat and SetSimSpec asserts the pruning there
    "q113_setsim_join" -> ((s, d) =>
      graft.ext.SetSim.jaccardJoin(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0),
        tPermille = 600,
        tokens = graft.functions.ShingleFunctions.shingleStrings)),

    // extension: first-order Markov transitions over per-user event
    // sequences — one user-key shuffle, |types|²-bounded aggregate
    "q114_event_transitions" -> ((s, d) =>
      graft.ext.Funnel.transitionCounts(Tables.events(s, d))),

    // extension: 2D Pareto skyline (cheapest AND smallest part) — the
    // quadratic NOT-EXISTS collapsed to bucketed prefix minima
    "q115_skyline_parts" -> { (s, d) =>
      val p = Tables.part(s, d).select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("price_cents"),
        col("p_size"))
      graft.operators.Skyline.skyline2D(p, "price_cents", "p_size",
        bucketWidth = 512L)
    },

    // extension: sequence packing under the REAL tokenizer — q104's BPE
    // token counts drive q46's packing, so pack budgets are true model
    // tokens, not the whitespace proxy (a ~L/4 underestimate on real text)
    "q121_bpe_packing" -> ((s, d) =>
      graft.ext.Packing.packDocuments(
        graft.ext.Bpe.tokenCounts(Tables.documents(s, d), nMerges = 6),
        budget = 2048L, nBuckets = 8)),

    // extension: deterministic contrastive negative sampling — k uniform
    // pseudo-random partners per anchor, a pure function of (id, j)
    "q119_negative_pairs" -> ((s, d) =>
      graft.ext.Sampling.negativePairs(Tables.embeddings(s, d), k = 4)),

    // extension: hard-negative mining — top-k most-similar corpus vectors
    // per query EXCLUDING the materialized LSH near-dup verdict (q24's
    // pair set), the contrastive-training composition of q18 ∘ q24
    "q120_hard_negatives" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegatives(emb.filter(col("vec_id") % 50 === 0), emb,
        k = 5, dupThreshold = 0.3, dim = 16, nPlanes = 4)
    },

    // extension: batch twin of Streams.hllUsersHourly — (hour, type) HLL
    // registers; the streaming spec pins stream ≡ batch, this oracle pins
    // batch ≡ SQL, so the streaming sketch is transitively oracle-checked
    "q118_hourly_user_sketch" -> ((s, d) =>
      Sketch.hllRegisters(
        Tables.events(s, d).withColumn("hour", date_trunc("hour", col("ts"))),
        keyCol = "user_id", groupCols = Seq("hour", "event_type"), log2m = 6)),

    // extension: per-brand exact OLS revenue trend — daily DECIMAL-exact
    // revenue, then closed-form normal equations in 128-bit integer sums;
    // the only float op is the final division of identical integers
    "q117_brand_trend" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val epoch = lit(java.sql.Date.valueOf("1970-01-01"))
      val daily = li
        .join(Tables.part(s, d), li("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          datediff(col("l_shipdate"), epoch).cast("long").as("day"),
          (col("l_extendedprice").cast("decimal(18,2)")
            * (lit(1.0) - col("l_discount")).cast("decimal(18,2)")
            * 10000).cast("long").as("rev"))
        .groupBy("p_brand", "day").agg(sum("rev").as("rev"))
      graft.ext.TimeSeries.groupTrend(daily, Seq("p_brand"), "day", "rev")
    },

    // extension: exact audience overlap via the relational bitmap index —
    // brand⇄customer fact rows pack into per-brand bitmaps (no
    // pre-distinct: bit_or is idempotent), pairwise ∩ is a word-aligned
    // popcount join
    "q116_bitmap_overlap" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val bc = li
        .join(Tables.orders(s, d), li("l_orderkey") === col("o_orderkey"))
        .join(Tables.part(s, d), li("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), col("o_custkey"))
      graft.ext.Sketch.bitmapOverlap(
        graft.ext.Sketch.bitmapIndex(bc, "p_brand", "o_custkey"), "p_brand")
    },

    // extension: hybrid retrieval — RRF fusion of the BM25 lexical arm
    // (q85, widened to top-20) and the brute-force cosine semantic arm
    // (q18's kernel, query doc 0); integer-division contributions keep
    // the fused score BIGINT-exact
    "q122_rrf_fusion" -> { (s, d) =>
      hybridRrf(s, d, Tables.embeddings(s, d))
    },

    // extension: market-basket association rules over order baskets —
    // directed part pairs with exact support, confidence, lift
    "q123_assoc_rules" -> ((s, d) =>
      graft.ext.Graph.associationRules(
        Tables.lineitem(s, d), "l_orderkey", "l_partkey", minPairs = 2)),

    // extension: cohort retention matrix over the event stream — users
    // cohorted by first active day, retention per day offset
    "q124_retention" -> ((s, d) =>
      graft.ext.Funnel.retentionCohorts(Tables.events(s, d))),

    // extension: HLL register ROLLUP — q118's hourly sketch merged to
    // daily with max only (never re-reading raw events); the oracle
    // builds daily from raw, so the hash match proves the merge law
    "q125_daily_user_sketch" -> ((s, d) =>
      Sketch.mergeRegisters(
        Sketch.hllRegisters(
          Tables.events(s, d).withColumn("hour", date_trunc("hour", col("ts"))),
          keyCol = "user_id", groupCols = Seq("hour", "event_type"), log2m = 6)
          .withColumn("day", to_date(col("hour"))),
        groupCols = Seq("day", "event_type"))),

    // extension: KMV bottom-k sketch ROLLUP — hourly distinct-user
    // registers merged to daily (bottom-k of the register union, raw
    // events never re-read); the oracle builds daily from raw, so the
    // hash match proves the KMV merge law on real data
    "q126_kmv_daily_users" -> ((s, d) =>
      Sketch.kmvMerge(
        Sketch.kmvRegisters(
          Tables.events(s, d).withColumn("hour", date_trunc("hour", col("ts"))),
          keyCol = "user_id", groupCols = Seq("hour", "event_type"), k = 64)
          .withColumn("day", to_date(col("hour"))),
        groupCols = Seq("day", "event_type"), k = 64)),

    // extension: audience overlap from KMV sketches alone — pairwise
    // Jaccard / intersection / union estimates between event_types'
    // distinct-user sets, all-integer estimators (exact below k)
    "q127_kmv_overlap" -> ((s, d) =>
      Sketch.kmvOverlap(
        Sketch.kmvRegisters(Tables.events(s, d),
          keyCol = "user_id", groupCols = Seq("event_type"), k = 64),
        groupCol = "event_type", k = 64)),

    // extension: exactly-n-per-group uniform sample — 10 docs per source,
    // winners = bottom-n of the id hash order (bounded aggregate, rows
    // join back left-semi); the guarantee fraction sampling can't give
    "q128_exact_n_sample" -> ((s, d) =>
      graft.ext.Sampling.sampleExactN(
        Tables.documents(s, d), idCol = "doc_id", groupCol = "source", n = 10)),

    // extension: CDC last-writer-wins merge — customer snapshot + a
    // changelog derived from orders (each order is a full row image:
    // status F → balance update, P → delete, O → upsert; sequence =
    // o_orderkey). The lakehouse MERGE/compaction primitive.
    "q129_cdc_merge" -> { (s, d) =>
      val base = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val changelog = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"),
          col("o_totalprice").as("c_acctbal"), // raw double pass-through: bit-identical in any engine

          col("o_orderkey").as("seq"),
          when(col("o_orderstatus") === "P", lit("D"))
            .when(col("o_orderstatus") === "F", lit("U"))
            .otherwise(lit("I")).as("op"))
      graft.operators.CdcMerge.merge(base, changelog, "c_custkey", "seq", "op")
    },

    // extension: per-source document-length quantiles from the bounded
    // coordinated sample (mergeable-quantile sketch; exact when the
    // source fits in k) — nearest-rank over the bottom-k id-hash sample
    "q130_sampled_quantiles" -> ((s, d) =>
      graft.ext.Sampling.sampledQuantiles(
        Tables.documents(s, d), idCol = "doc_id", valueCol = "n_chars",
        groupCol = "source", k = 64, percentiles = Seq(25, 50, 75, 90))),

    // extension: incremental dedup — assign a new crawl batch (doc_id %
    // 10 ≥ 8) against the existing corpus's persisted LSH bucket index
    // (doc_id % 10 < 8) without re-clustering the corpus; unmatched docs
    // are novel
    "q131_incremental_assign" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.ext.Dedup.incrementalAssign(
        index = docs.filter(col("doc_id") % 10 < 8),
        batch = docs.filter(col("doc_id") % 10 >= 8))
    },

    // extension: time-in-state accounting — integer-µs dwell until the
    // same user's next event, totals/floor-mean per event type
    "q132_dwell_times" -> ((s, d) =>
      graft.ext.Funnel.dwellTimes(Tables.events(s, d))),

    // extension: last-touch attribution — conversions credited to the
    // user's most recent in-horizon touch via ONE running window (no
    // interval join); unattributed conversions land in 'none'
    "q133_attribution" -> ((s, d) =>
      graft.ext.Funnel.lastTouchAttribution(Tables.events(s, d))),

    // extension: ANN recall@k eval — each approximate arm's top-k scored
    // against the exact brute-force set; comparison touches only top-k
    // output rows (broadcast-sized regardless of corpus)
    "q134_ann_recall" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") % 50 === 0)
      Similarity.annRecall(
        Similarity.bruteForceTopK(q, emb, k = 5),
        Seq(
          "lsh" -> Similarity.lshTopK(q, emb, k = 5, dim = 16, nPlanes = 4),
          "ivf" -> Similarity.ivfTopK(q, emb, k = 5,
            centroids = emb.filter(col("vec_id") % 37 === 0), nProbe = 3)))
    },

    // extension: one-pass multi-column Pearson correlation per group —
    // exact integer second moments, one group-key shuffle, O(1) state
    "q135_metric_corr" -> { (s, d) =>
      val li = Tables.lineitem(s, d).select(
        col("l_returnflag"), col("l_linestatus"),
        round(col("l_quantity")).cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
        round(col("l_discount") * 10000).cast("long").as("disc_bp"))
      graft.ext.TimeSeries.groupCorr(li, Seq("l_returnflag", "l_linestatus"),
        "qty", Seq("price_cents", "disc_bp"))
    },

    // extension: sorted-neighborhood blocking — exactly n−1 candidate
    // pairs at ANY duplicate density (the dense-corpus complement to band
    // joins); bucket lead + boundary pairs, no global window
    "q136_sorted_neighborhood" -> ((s, d) =>
      graft.ext.Dedup.sortedNeighborhoodPairs(Tables.documents(s, d))),

    // extension: trailing-window rate anomalies — integer cross-multiplied
    // z-test over the gap-filled hourly grid (silent hours = dip alerts);
    // window runs on aggregates, never fact rows
    "q137_rate_anomaly" -> ((s, d) =>
      graft.ext.TimeSeries.rateAnomalies(Tables.events(s, d))),

    // extension: snapshot profile drift — per-column null-rate (ppm) and
    // cardinality deltas between two time slices; comparison is
    // metadata-sized (one profile pass per side)
    "q138_profile_drift" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val split = lit("2024-01-16").cast("timestamp")
      graft.ext.Profile.profileDrift(
        ev.filter(col("ts") < split), ev.filter(col("ts") >= split),
        Seq("event_type", "user_id", "value", "props"))
    },

    // extension: collocation mining — adjacent-bigram association lift in
    // integer ppm (no log, no float); bigrams straight off the token
    // arrays, vocabulary-sized aggregates, TakeOrdered top-k
    "q139_collocations" -> ((s, d) =>
      graft.ext.TextAnalysis.collocations(Tables.documents(s, d))),

    // extension: top-k session paths — gap sessionization + ordered
    // event-type prefix per session + path counts; one corpus exchange
    // (the (user, session) rollup reuses the user-key partitioning), then
    // keyspace-sized aggregates and a TakeOrdered top-k
    "q140_session_paths" -> ((s, d) =>
      graft.ext.Funnel.sessionPaths(Tables.events(s, d))),

    // extension: k-core decomposition — fixed-round peel (8 rounds reach
    // the fixpoint at both oracle scales) over the ≥2-order co-occurrence
    // graph; per round one degree aggregate + two left-semi endpoint
    // gates, lineage cut per round
    "q141_kcore" -> ((s, d) =>
      graft.ext.Graph.kCorePeel(cooccurrenceEdges(s, d), k = 2, rounds = 8)),

    // extension: exact EWMA smoothing — truncated-renormalized exponential
    // weights as one finite integer lag sum over the gap-filled hourly
    // grid; window state = depth lags per key, facts never re-scanned
    "q142_ewma_hourly" -> ((s, d) =>
      graft.ext.TimeSeries.ewmaHourly(Tables.events(s, d))),

    // extension: frame sampling — media payloads fan out to per-frame
    // rows (offset, ts, content fingerprint) in one narrow mapPartitions;
    // payload bytes never leave the task, maxFrames bounds the expansion
    "q143_media_frames" -> { (s, d) =>
      implicit val sp: SparkSession = s
      graft.ext.Multimodal.mediaFrames(Tables.documents(s, d))
    },

    // extension: per-dimension min-max feature scaling — integer-micro
    // quantization, dim-sized stats broadcast as one index-aligned row,
    // vectors rewritten in place; the corpus is never shuffled. Registered
    // shape is the exploded (vec_id, dim, norm_ppm) row form: the driver's
    // oracle canonicalizer sorts rows BEFORE stringifying, so a top-level
    // ARRAY column is unhashable there (round-4 red row) — scalar rows
    // carry identical information and one extra narrow generate
    "q144_minmax_normalize" -> ((s, d) =>
      Similarity.minMaxNormalize(Tables.embeddings(s, d))
        .select(col("vec_id"),
          posexplode(col("norm_ppm")).as(Seq("dim", "norm_ppm")))),

    // extension: contiguous sequential-pattern mining — every length-n
    // window of every session's event sequence, occurrence + session
    // support counts; narrow fan-out over the shared sessionization pass,
    // types^n-bounded aggregates
    "q145_session_ngrams" -> ((s, d) =>
      graft.ext.Funnel.sessionNgrams(Tables.events(s, d))),

    // extension: community detection — fixed-round synchronous label
    // propagation (most-frequent neighbor label, min-label ties) over the
    // q141 co-occurrence graph; per round one join + one arg-max
    // aggregate, lineage cut per round
    "q146_label_propagation" -> ((s, d) =>
      graft.ext.Graph.labelPropagation(cooccurrenceEdges(s, d), rounds = 4)),

    // extension: exact weighted median — quantity-weighted lower median
    // of price cents per return flag; by-value weight sums then windows
    // over the aggregated relation only, cross-multiplied boundary
    "q147_weighted_median" -> ((s, d) =>
      graft.ext.Quality.weightedMedianBy(
        Tables.lineitem(s, d)
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
            round(col("l_quantity")).cast("long").as("qty")),
        "l_returnflag", "price_cents", "qty", "median_price_cents")),

    // extension: integer random projection (JL flavor) — 64 floats → 8
    // longs per vector via the derandomized plane-weight lattice; a pure
    // narrow map, no shuffle, no stats pass. Registered shape is fixed
    // scalar columns p0..p7 (the q14 h0..h15 pattern): the driver's
    // canonicalizer cannot sort a top-level ARRAY column (round-4 red row)
    "q148_random_project" -> ((s, d) =>
      Similarity.randomProject(Tables.embeddings(s, d), dim = 64)
        .select(col("vec_id") +:
          (0 until 8).map(j =>
            element_at(col("projected"), j + 1).as(s"p$j")): _*)),

    // extension: time-to-convert histogram — strict-funnel completion lag
    // bucketed into whole hours; per-stage filtered scans + user-key
    // shuffles, histogram over deepest-stage survivors only
    "q149_conversion_lag" -> ((s, d) =>
      graft.ext.Funnel.conversionLagHistogram(Tables.events(s, d),
        Seq("view", "click", "purchase"))),

    // extension: conjunctive (AND) search — docs containing every query
    // term, ranked by total term frequency; work bounded by the terms'
    // posting sizes, TakeOrdered cut
    "q150_and_search" -> ((s, d) =>
      graft.ext.Search.andSearch(Tables.documents(s, d),
        Seq("hash", "join", "scan"))),

    // extension: winsorized aggregate — exact nearest-rank p5/p95 clamp
    // then integer sum/floor-mean; bounds from by-value counts, broadcast
    // back for a narrow clamp
    "q151_winsorized_agg" -> ((s, d) =>
      graft.ext.Quality.winsorizedAgg(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("price_cents")),
        "l_returnflag", "price_cents")),

    // extension: multi-source BFS hop distances over the co-occurrence
    // graph — frontier-only expansion (each edge expands exactly twice
    // across the whole run), anti-join settles, lineage cut per round
    "q152_bfs_distances" -> { (s, d) =>
      val e = cooccurrenceEdges(s, d)
      val sources = e.select(col("u").as("id"))
        .union(e.select(col("v").as("id"))).distinct()
        .filter(col("id") % 251 === 0)
      graft.ext.Graph.bfsDistances(e, sources, rounds = 4)
    },

    // extension: prototypicality gate (D4/SSL-prototypes pruning) — rank
    // by exact integer distance-to-centroid within each trained k-means
    // cell, keep the nearest 75% per cell; cells are √n-sized so no
    // window partition grows with the corpus
    "q153_prototype_filter" -> ((s, d) =>
      graft.ext.Clustering.prototypicalityFilter(Tables.embeddings(s, d))),

    // extension: epoch-weighted remixing — per-domain integer replication
    // factors hit a target mix (src0 ×4 share, src1 ×2, src2 dropped,
    // rest leveled); exact rational copy factors, no corpus shuffle
    "q154_remix_epochs" -> ((s, d) =>
      graft.ext.Sampling.remixToTarget(Tables.documents(s, d),
        "doc_id", "source", "n_chars",
        Seq("src0" -> 200000L, "src1" -> 100000L, "src2" -> 0L), 41176L)),

    // extension: filtered ANN — the q27 IVF index probed under a metadata
    // predicate (corpus restricted to label=2); the predicate gates the
    // candidate side only, the coarse quantizer is the shared full-corpus
    // index, exactly how IVF serves filtered vector search
    "q155_filtered_ann" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb.filter(col("vec_id") % 50 === 0),
        emb.filter(col("label") === 2), k = 5,
        centroids = emb.filter(col("vec_id") % 37 === 0), nProbe = 3)
    },

    // extension: MMR diversity rerank — greedy λ·rel − (1−λ)·redundancy
    // over each query's 10 brute-force candidates; pair sims computed once
    // over distinct candidate ids, each round O(queries·candidates)
    "q156_mmr_rerank" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.mmrRerank(emb.filter(col("vec_id") % 50 === 0), emb,
        candidates = 10, k = 5)
    },

    // extension: weighted shortest paths — fixed-round Bellman-Ford with
    // delta-frontier propagation (only improved nodes re-expand) over the
    // co-occurrence graph weighted by inverse pair support
    "q157_shortest_paths" -> { (s, d) =>
      val e = weightedCoocEdges(s, d)
      val sources = e.select(col("u").as("id"))
        .union(e.select(col("v").as("id"))).distinct()
        .filter(col("id") % 251 === 0)
      graft.ext.Graph.shortestPaths(e, sources, rounds = 4)
    },

    // extension: per-label embedding cohesion — exact integer label
    // centroids (Lloyd's update on given groups) + count/mean/max of
    // members' L2² to them; labels×dims centroid table broadcast
    "q158_label_cohesion" -> ((s, d) =>
      graft.ext.Clustering.labelCohesion(Tables.embeddings(s, d))),

    // extension: exact per-group mode — two chained partial aggregates
    // (value counts, then max(struct) arg-max), no window, min-value ties
    "q159_brand_mode_size" -> ((s, d) =>
      graft.ext.Quality.modeBy(Tables.part(s, d), "p_brand", "p_size", "mode_size")),

    // extension: categorical diversity (Gini impurity, exact integer ppm)
    // per user over event types — the log-free spread index; near-zero
    // users hammer one event type (bot signal)
    "q160_user_gini" -> ((s, d) =>
      graft.ext.Quality.giniImpurityBy(Tables.events(s, d), "user_id", "event_type")),

    // extension flagship: hybrid retrieval serving tail — BM25 lexical arm
    // + cosine semantic arm fused by RRF (q122), then MMR-diversified
    // (q156's greedy tail on the fused scores); λ=0.99 balances the
    // ~0.03-scale RRF rel against [0,1] cosine redundancy
    "q161_hybrid_mmr" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val fused = hybridRrf(s, d, emb)
      Similarity.mmrSelect(
        fused.select(lit(0L).as("query_id"), col("doc_id").as("neighbor_id"),
          (col("rrf").cast("double") / 1000000).as("score")),
        emb.select(col("vec_id").as("vid"), col("embedding").as("vv")),
        k = 5, lambdaPpm = 990000L)
    },

    // extension: vocabulary drift between corpus halves (doc_id parity) —
    // two token aggregates, vocabulary-sized full-outer join, broadcast
    // totals; the emerging-template / source-loss detector
    "q162_vocab_drift" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.ext.TextAnalysis.vocabularyDrift(
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
    },

    // extension: per-group percentile rank (exact cume_dist ppm) of price
    // cents within each return flag — by-value collapse first, both
    // windows share one group-key exchange
    "q163_price_percentiles" -> ((s, d) =>
      graft.ext.Quality.percentileRankBy(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("price_cents")),
        "l_returnflag", "price_cents")),

    // extension: RAG chunking — overlapping 64-token windows at stride
    // 48; narrow tokenize + arithmetic chunk count + explode, no shuffle
    "q164_doc_chunks" -> ((s, d) =>
      graft.ext.TextAnalysis.chunkDocuments(Tables.documents(s, d),
        size = 64, stride = 48)),

    // extension: weighted 3-way leakage-safe split — whole near-dup
    // clusters into train/val/test by cumulative ppm intervals of the
    // cluster-rep hash (q47 generalized)
    "q165_cluster_split3" -> ((s, d) =>
      graft.ext.Packing.clusterSplitWeighted(
        Dedup.minHashClusters(
          Dedup.minHashSignatures(Tables.documents(s, d), k = 16), k = 16, rowsPerBand = 4),
        Seq("train" -> 800000L, "val" -> 100000L, "test" -> 100000L))),

    // extension: cross-media duplicate-frame report — frame fingerprints
    // fanned out once, checksum-keyed sharing counts joined back, per-
    // media internal-repetition + cross-media-share totals
    "q166_frame_dups" -> { (s, d) =>
      implicit val sp: SparkSession = s
      graft.ext.Multimodal.frameDupStats(Tables.documents(s, d))
    },

    // extension: domain-normalized quality cut — keep each source's top
    // 70% by quality score via the exact cume-ppm rank; whole value
    // classes keep/drop together
    "q167_domain_quality_cut" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val q = graft.ext.TextAnalysis.stats(docs).select(col("doc_id"), col("quality"))
        .join(docs.select("doc_id", "source"), "doc_id")
      graft.ext.Quality.domainNormalizedCut(q, "source", "quality", keepTopPpm = 700000L)
    },

    // extension: Pareto contribution (80/20) — brand revenue shares in
    // exact ppm, ROWS-framed cumulative order, head flag; the window runs
    // over the 25-brand keyspace, never facts
    "q168_brand_pareto" -> ((s, d) =>
      graft.ext.Warehouse.paretoContribution(
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"),
            round(col("l_extendedprice") * 100).cast("long").as("cents")),
        "p_brand", "cents")),

    // extension: linear multi-touch attribution — revenue split equally
    // (exact integer cents, remainder to the earliest touch) across all
    // in-horizon touches; user-keyed pair join, conservation by spec
    "q169_linear_attribution" -> ((s, d) =>
      graft.ext.Funnel.linearAttribution(Tables.events(s, d))),

    // extension: pre-join skew report — predicted per-key fan-out for the
    // attribution join (purchases × touches per user); keyspace-sized
    // count join + TakeOrdered, facts never reshuffled
    "q170_join_skew" -> { (s, d) =>
      val ev = Tables.events(s, d)
      graft.ext.Profile.joinSkewReport(
        ev.filter(col("event_type") === "purchase"), "user_id",
        ev.filter(col("event_type").isin("view", "click")), "user_id")
    },

    // extension: deterministic A/B conversion test — hash-assigned arms,
    // exact ppm rates, cross-multiplied integer two-proportion z-test
    "q171_ab_conversion" -> ((s, d) =>
      graft.ext.Funnel.armConversionTest(Tables.events(s, d))),

    // extension flagship: dedup-cascade attrition report — exact →
    // MinHash → semantic, each stage fed the previous stage's survivors
    // (cheap-to-expensive ordering); unjudgeable rows pass their stage
    "q172_dedup_cascade" -> ((s, d) =>
      graft.ext.Curation.dedupCascadeReport(
        Tables.documents(s, d), Tables.embeddings(s, d))),

    // extension: multi-probe LSH — each query also probes the 3 one-bit-
    // flip buckets (several tables' recall at one table's storage); the
    // corpus side and its per-bucket cap are unchanged from q19
    "q173_multiprobe_lsh" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.multiProbeLshTopK(emb.filter(col("vec_id") % 50 === 0), emb,
        k = 5, dim = 16, nPlanes = 8, probes = 3)
    },

    // extension flagship: balanced eval-set builder — exactly 5 docs per
    // (lang × global quality-quintile) cell: value-based quintiles from
    // the exact cume-ppm rank, then the bounded bottom-n hash winners per
    // cell (q163 ∘ q128); the held-out-set construction a training corpus
    // publishes alongside its splits
    "q174_eval_set" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val wl = graft.ext.TextAnalysis.stats(docs).select(col("doc_id"), col("quality"))
        .join(docs.select("doc_id", "lang"), "doc_id")
      val ranks = graft.ext.Quality.percentileRankBy(
          wl.withColumn("g", lit("all")), "g", "quality")
        .select(col("value").as("quality"), col("cume_ppm"))
      val cells = wl.join(ranks, Seq("quality"))
        .withColumn("q_bucket", expr("((cume_ppm - 1) * 5) div 1000000"))
        .withColumn("cell", concat_ws("|", col("lang"), col("q_bucket")))
        .select("doc_id", "lang", "q_bucket", "cell")
      graft.ext.Sampling.sampleExactN(cells, "doc_id", "cell", n = 5)
    },

    // extension flagship: dataset card — the corpus datasheet as one
    // long-format (metric, value) relation: size, exact-dup ppm, floor
    // mean quality micros, language spread; two map-side-collapsed jobs
    "q175_dataset_card" -> ((s, d) =>
      graft.ext.TextAnalysis.datasetCard(Tables.documents(s, d))),

    // data selection: DSIR-flavored hashed importance scores — every doc
    // rated for target-likeness (target = lang 'en') by exact integer ppm
    // ratio weights over 1024 mix-hashed unigram buckets (arXiv:2302.03169)
    "q176_dsir_scores" -> ((s, d) =>
      graft.ext.Sampling.dsirScores(Tables.documents(s, d),
        col("lang") === "en", buckets = 1024)),

    // CEP pattern matching: every view converting to a purchase within the
    // hour with NO intervening error — MATCH_RECOGNIZE-style negation that
    // no join-chain funnel expresses; one user-key exchange, two
    // following-frame suffix-mins, zero self-joins
    "q177_pattern_match" -> ((s, d) =>
      graft.ext.Funnel.matchPattern(Tables.events(s, d),
        startType = "view", endType = "purchase", absentType = "error",
        horizonUs = 3600L * 1000000)),

    // coreset selection: exact greedy k-center (farthest-point) over the
    // embedding corpus — 8 zero-shuffle corpus passes, driver holds only
    // the chosen vectors; the coverage-radius curve is the output
    "q178_kcenter_coreset" -> ((s, d) =>
      graft.ext.Clustering.kCenterGreedy(Tables.embeddings(s, d), k = 8)),

    // corpus rebalancing: temperature sampling at τ=1/2 (√-share targets,
    // exact integer isqrt) — low-resource languages upweighted vs
    // proportional sampling; rates derived in-plan, draw is a narrow map
    "q179_temperature_sample" -> ((s, d) =>
      graft.ext.Sampling.temperatureSample(Tables.documents(s, d), budget = 2000)),

    // exact-substring overlap via winnowing (MOSS): bounded-density
    // fingerprints (window minima of positional 3-gram hashes) with a
    // shared-substring guarantee; corpus-relative df cap bounds the
    // self-join fan-in. 1/10 sample — the q113/q17 policy for pairwise
    // verifiers on this degenerate (template-heavy) corpus
    "q180_winnow_overlap" -> ((s, d) =>
      graft.ext.Dedup.winnowOverlapPairs(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0),
        w = 4, minShared = 2, maxDfPpm = 100000)),

    // Unicode ingestion normalization (native graft_clean_text): the
    // ASCII corpus gets a planted messy-web prefix (decomposed é, control
    // chars, whitespace runs — keyed by doc_id, identically in the
    // oracle) and the NORMALIZATION is verified, the q97 planting pattern
    "q184_text_normalize" -> { (s, d) =>
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0, lit("Cafe\u0065\u0301  \u0001"))
            .when(col("doc_id") % 3 === 1, lit("\tna\u00EFve\u007F "))
            .otherwise(lit("")),
          col("text")).as("text"))
      graft.ext.TextAnalysis.normalizeText(planted)
    },

    // as-of with a staleness bound (pandas merge_asof tolerance): matches
    // older than 10 minutes null out — a projection over the same
    // one-shuffle tag-union-scan plan
    "q185_asof_tolerance" -> { (s, d) =>
      val (clicks, views) = clicksAndViews(s, d)
      graft.operators.AsOfJoin.asOfTolerance(clicks, views, Seq("user_id"), "ts",
        toleranceUs = 600L * 1000000)
    },

    // forward as-of (merge_asof direction='forward'): each click enriched
    // with the user's NEXT view at-or-after it — the mirrored scan
    "q186_asof_forward" -> { (s, d) =>
      val (clicks, views) = clicksAndViews(s, d)
      graft.operators.AsOfJoin.asOfForward(clicks, views, Seq("user_id"), "ts")
    },

    // nearest as-of (merge_asof direction='nearest'): closest view either
    // side, ties backward — both window passes over ONE tagged union
    "q187_asof_nearest" -> { (s, d) =>
      val (clicks, views) = clicksAndViews(s, d)
      graft.operators.AsOfJoin.asOfNearest(clicks, views, Seq("user_id"), "ts")
    },

    // exact rolling 7-day active users (WAU series): bounded contribution
    // fan-out turns the windowed distinct into a plain dedup+count —
    // exact where the KMV/HLL register path estimates
    "q183_rolling_wau" -> ((s, d) =>
      graft.ext.Funnel.rollingActiveUsers(Tables.events(s, d), windowDays = 7)),

    // seasonal (hour-of-week) rate anomalies — the weekly-rhythm
    // complement to q137's trailing window; same integer z-test, baseline
    // = prior same-slot hours on the gap-filled grid
    "q182_seasonal_anomaly" -> ((s, d) =>
      graft.ext.TimeSeries.seasonalAnomalies(Tables.events(s, d),
        minPrior = 3, z = 3)),

    // the composed FAISS index shape: IVF coarse cells gate candidates,
    // PQ codes reconstruct their distances (ADC) — raw vectors touched at
    // train/encode only; q27 (IVF-exact) and q106 (PQ-flat) are the arms
    "q181_ivfpq_topk" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      graft.ext.Clustering.ivfPqTopK(emb.filter(col("vec_id") % 50 === 0), emb,
        k = 5, nProbe = 3, subspaces = 4, iterations = 2)
    },

    // Spark 4 VARIANT schema-on-read (q72's from_json needs the shape
    // declared up front; VARIANT doesn't): a deterministic nested JSON
    // payload is built from orders columns (the q184 planting pattern —
    // identically in the oracle), parsed ONCE to VARIANT, then typed
    // variant_get extraction over nested-object, array-index, and MISSING
    // paths (drift telemetry) feeds a plain aggregate
    "q188_variant_extract" -> { (s, d) =>
      val payloads = Tables.orders(s, d).select(col("o_orderkey"),
        concat(
          lit("{\"order\":{\"key\":"), col("o_orderkey"),
          lit(",\"status\":\""), col("o_orderstatus"),
          lit("\",\"priority\":\""), col("o_orderpriority"),
          lit("\"},\"lines\":[{\"c\":"), col("o_custkey"),
          lit("},{\"c\":"), pmod(col("o_orderkey"), lit(97)),
          lit("}]}")).as("payload"))
      graft.ext.SemiStructured.orderPayloadStats(payloads)
    },

    // native session_window sessions — q21's flatMapGroupsWithState
    // sibling, fully declarative: one user-key exchange + Spark's
    // session-merging aggregate, same expression streams under a
    // watermark (spec)
    "q189_session_window" -> ((s, d) =>
      graft.ext.Funnel.sessionWindows(Tables.events(s, d), gap = "30 minutes")),

    // abandonment feed: the stream-stream interval join's LEFT OUTER form
    // (unconverted views surface with null buy columns) evaluated on the
    // batch frame — the streaming run of the SAME expression is pinned
    // stream ≡ batch in StreamsSpec
    "q190_view_abandonment" -> ((s, d) =>
      graft.streaming.Streams.viewToPurchaseOuter(Tables.events(s, d))),

    // Spark 4 Dataset.lateralJoin: per-brand top-2 parts by price as a
    // correlated LATERAL subquery (the declarative per-group-limit form;
    // q11's window-rank is the other spelling). Catalyst decorrelates the
    // outer() reference + LIMIT into a ranked join — no per-brand driver
    // loop anywhere
    "q191_lateral_topk" -> { (s, d) =>
      val part = Tables.part(s, d)
      val brands = part.select(col("p_brand").as("brand")).distinct()
      brands.lateralJoin(
        part
          .where(col("p_brand") === col("brand").outer())
          .orderBy(col("p_retailprice").desc, col("p_partkey"))
          .limit(2)
          .select(col("p_partkey").as("partkey"),
            col("p_retailprice").as("price")))
    },

    // Spark 4 scalar-subquery expression: each customer's LARGEST order
    // via a correlated MAX (exact on doubles — max returns an element,
    // no accumulation-order hazard); ties all emit
    "q192_scalar_subquery" -> { (s, d) =>
      // Two sharp edges of the new subquery API (both observed here):
      // (1) `.outer()` resolves INNER-FIRST — with shared column names
      // the correlation silently binds inside the subquery (even through
      // a Project's hidden attributes) and the filter compares against
      // the GLOBAL max (1 row instead of 1500), so the correlation
      // column must carry a name the inner relation cannot resolve
      // (rename on the OUTER side, alias back after the filter);
      // (2) the aggregate must be `.select(max(...))` — `.agg(...)`
      // analyzes eagerly without the outer scope and throws
      // UNRESOLVED_COLUMN on the correlation
      val outerQ = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey").as("ock"),
          col("o_totalprice").as("otp"))
      val maxSub = Tables.orders(s, d).as("i")
        .where(col("i.o_custkey") === col("ock").outer())
        .select(max(col("i.o_totalprice")))
      outerQ
        .where(col("otp") === maxSub.scalar())
        .select(col("o_orderkey"), col("ock").as("o_custkey"),
          col("otp").as("o_totalprice"))
    },

    // Spark 4 exists-subquery expression: customers holding an URGENT
    // order but no F-status order — EXISTS ∧ NOT EXISTS decorrelates to
    // one semi + one anti join, both on the customer key
    "q193_exists_subquery" -> { (s, d) =>
      val orders = Tables.orders(s, d)
      val customer = Tables.customer(s, d)
      val urgent = orders.as("u")
        .where(col("u.o_custkey") === col("c_custkey").outer() &&
          col("u.o_orderpriority") === "1-URGENT")
      val fStatus = orders.as("f")
        .where(col("f.o_custkey") === col("c_custkey").outer() &&
          col("f.o_orderstatus") === "F")
      customer
        .where(urgent.exists() && !fStatus.exists())
        .select(col("c_custkey"), col("c_name"))
    },

    // Spark 4 Dataset.transpose: flip a tiny metrics report (rows =
    // metrics, columns = the pinned return flags) — report-shaping that
    // previously needed driver-side collect; values carried as integer
    // longs so the transposed common type is exact
    "q194_transpose" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("long").as("qty"))
        .orderBy("l_returnflag")
        .transpose(col("l_returnflag"))
    },

    // relational → nested export: each order's lines re-nested as a JSON
    // array (collect_list of structs, sort_array for a deterministic
    // element order, to_json) — the inverse of the q31-q37 flatten layer,
    // and the shape an API backfill or document store ingest needs.
    // Integer payload fields only: JSON double rendering is the one part
    // of this that is NOT engine-portable
    "q195_nested_export" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), struct(
          col("l_linenumber").cast("long").as("ln"),
          col("l_partkey").as("pk"),
          col("l_quantity").cast("long").as("qty")).as("line"))
        .groupBy("l_orderkey")
        .agg(to_json(sort_array(collect_list(col("line")))).as("lines_json"))
    },

    // TPC-H Q5 (local supplier volume): the canonical 6-table star join
    // with the two-key customer=supplier nation condition — q86's star
    // rollup plus a region-pruned supplier broadcast; the fact stream
    // shuffles only on its two natural keys
    "q196_local_supplier_volume" -> ((s, d) =>
      graft.ext.Warehouse.localSupplierVolume(
        Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d),
        Tables.supplier(s, d), Tables.nation(s, d), Tables.region(s, d),
        "ASIA", "1995-01-01", "1996-01-01")),

    // Spark 4 SQL pipe syntax (SPARK-49555): the |> operator chain —
    // scan |> WHERE |> AGGREGATE ... GROUP BY |> ORDER BY — the
    // linear-dataflow SQL spelling whose plan must be IDENTICAL to the
    // classic nested form (the oracle is that classic form); pins the
    // pipe parser path the way q197 pins WITH RECURSIVE
    "q241_pipe_syntax" -> { (s, d) =>
      val view = s"q241_li_${java.util.UUID.randomUUID.toString.replace("-", "")}"
      Tables.lineitem(s, d).createOrReplaceTempView(view)
      try s.sql(s"""
        FROM $view
        |> WHERE l_quantity >= 30
        |> AGGREGATE CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS big_qty,
                     CAST(COUNT(*) AS BIGINT) AS n_lines
           GROUP BY l_returnflag
        |> WHERE n_lines > 0
        |> SELECT l_returnflag, big_qty, n_lines""")
      finally s.catalog.dropTempView(view)
    },

    // streaming exact-dedup batch twin: the SAME Streams.dedupStream
    // operator (mode-adaptive — batch input takes the dropDuplicates
    // branch, identical drop-the-redelivery semantics without the
    // watermark state bound) replays an at-least-once feed in which every
    // event is delivered twice, and must return exactly the distinct
    // events. Deterministic: every dropped row is bit-identical to its
    // survivor. The stream side of the same function is spec-verified
    // with cross-micro-batch redelivery (StreamsSpec).
    "q242_dedup_stream_twin" -> { (s, d) =>
      val ev = Tables.events(s, d)
      graft.streaming.Streams.dedupStream(ev.unionAll(ev), "event_id")
    },

    // streaming curation batch twin: the SAME Streams.curateStream
    // operator (quality gate → content-fingerprint dedup → projection)
    // over the documents corpus. Input is pre-deduped to one copy per
    // fingerprint (exactDedup's min-doc_id survivor, itself the
    // oracle-verified q12 semantics) then doubled as an at-least-once
    // redelivery, so the operator's own dedup stage has only bit-identical
    // copies to choose among — survivor set deterministic in any engine.
    // ts is synthesized from doc_id (documents carries no event time; the
    // stream spec drives real timestamps through the same code path).
    "q243_curate_stream_twin" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val keep = Dedup.exactDedup(docs).select(col("keep_id"))
      val base = docs.join(keep, docs("doc_id") === col("keep_id"))
        .select(col("doc_id"),
          expr("timestamp '2024-01-01 00:00:00' + " +
            "make_interval(0,0,0,0,0,0, cast(doc_id % 3600 as int))").as("ts"),
          col("text"), col("source"))
      graft.streaming.Streams.curateStream(base.unionAll(base), minQuality = 0.3)
    },

    // Spark 4 WITH RECURSIVE (SQL surface): the classic recursive date
    // spine — every calendar day of Q1 1995 with its order count,
    // explicit zeros for orderless days. The recursion generates the
    // 90-row spine (driver-cheap UnionLoop); the fact side is one
    // date-windowed aggregate, LEFT-joined. q73's sequence() gap-fill is
    // the DataFrame spelling; this pins the SQL-recursion path
    "q197_recursive_spine" -> { (s, d) =>
      // the view exists only while sql() analyzes (resolution inlines it
      // into the plan); a unique name + immediate drop means no
      // session-global state leaks and concurrent queries on one
      // SparkSession cannot collide on a shared view name
      val view = s"q197_orders_${java.util.UUID.randomUUID.toString.replace("-", "")}"
      Tables.orders(s, d).createOrReplaceTempView(view)
      try s.sql(s"""
        WITH RECURSIVE days(day) AS (
          SELECT DATE '1995-01-01'
          UNION ALL SELECT date_add(day, 1) FROM days WHERE day < DATE '1995-03-31'
        ),
        daily AS (
          SELECT CAST(o_orderdate AS DATE) AS od, COUNT(*) AS cnt
          FROM $view
          WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
          GROUP BY 1
        )
        SELECT day, CAST(COALESCE(cnt, 0) AS BIGINT) AS n_orders
        FROM days LEFT JOIN daily ON od = day""")
      finally s.catalog.dropTempView(view)
    },

    // chained stateful windows (multi-stateful-operator streaming, batch
    // evaluation): hourly totals + intra-hour PEAK 10-minute rate — the
    // second window() re-aggregates the first's window struct; one
    // aggregate alone cannot produce the peak
    "q198_chained_windows" -> ((s, d) =>
      graft.streaming.Streams.chainedWindowRates(Tables.events(s, d))),

    // MAP-typed columns + map higher-order functions: per-doc token
    // frequency as a MAP (map_from_entries over the counted tokens),
    // map_filter keeps tokens with count ≥ 3, transform_values derives
    // integer ppm of the doc's token total — the map explodes back to
    // rows only for the oracle-comparable output; all three HOFs are
    // codegen'd, the map itself never shuffles (built after the count
    // aggregate, consumed in the same stage)
    "q199_token_map" -> { (s, d) =>
      val counts = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.ext.TextAnalysis.tokens(lower(col("text")))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
      val withMap = counts
        .groupBy("doc_id")
        .agg(sum("n").as("total"),
          map_from_entries(collect_list(struct(col("tok"), col("n")))).as("m"))
        .select(col("doc_id"), col("total"),
          transform_values(
            map_filter(col("m"), (_, v) => v >= 3),
            // floor-div via double is exact here: v·10⁶ < 2⁵³ and the
            // quotient's distance from an integer is ≥ 1/total ≫ ulp
            (_, v) => floor(v * lit(1000000L) / col("total")).cast("long")).as("m"))
      withMap.select(col("doc_id"), explode(col("m")).as(Seq("token", "ppm")))
    },

    // q200 — the corpus-release flagship: q51's curate→cluster-split→pack
    // chain, minus any document sharing a 4-gram with the held-out eval
    // slice (q54's decontamination as a LEFT ANTI gate), summarized to
    // one row per (split, bucket): docs, tokens, packs, languages. The
    // whole release is ONE lazy plan; the contaminated set is
    // aggregate-sized (distinct doc ids), so the anti join broadcasts
    "q200_corpus_release" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val shards = graft.ext.Curation.curateToShards(docs,
        permille = Seq("en" -> 800), defaultPermille = 500, minQuality = 0.2,
        trainPct = 90, packBudget = 2048L, nBuckets = 8)
      val contaminated = graft.ext.Dedup.crossContamination(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), n = 4)
        .select(col("train_id").as("doc_id"))
      shards.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
        .groupBy("split", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("n_tokens"),
          (max("pack_seq") + 1).cast("long").as("n_packs"),
          size(collect_set(col("lang"))).cast("long").as("n_langs"))
    },

    // percentile bucketizer, fit ∘ apply: 8 equal-frequency price buckets
    // learned from part (nearest-rank edges, the q151 machinery), applied
    // as a broadcast array filter — the train/serve discretization
    // pattern with NO serve-side re-derivation
    "q201_price_buckets" -> { (s, d) =>
      val part = Tables.part(s, d)
      val edges = graft.ext.Quality.fitBuckets(part, "p_retailprice", n = 8)
      graft.ext.Quality.applyBuckets(part, edges, "p_retailprice")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("p_retailprice").as("lo"), max("p_retailprice").as("hi"))
    },

    // the universal report tail: top-5 brands by exact DECIMAL revenue,
    // remaining brands rolled into one OTHER row — rank runs over the
    // 25-brand aggregate, never facts; revenue goes double only at the
    // output boundary
    "q202_topk_others" -> { (s, d) =>
      val revenue = Tables.lineitem(s, d)
        .join(Tables.part(s, d),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
      graft.ext.Warehouse.othersRollup(revenue, "brand", "rev", k = 5)
        .select(col("brand"), col("rev").cast("double").as("revenue"),
          col("n_groups"))
    },

    // daily new vs returning actives: first-day split over the deduped
    // (user, day) activity — one user-key exchange + one day-keyed count
    "q203_new_vs_returning" -> ((s, d) =>
      graft.ext.Warehouse.newVsReturning(Tables.events(s, d))),

    // daily churn: active on d, silent on d+1 — lead over each user's
    // active-day sequence, final (unknowable) day excluded
    "q204_daily_churn" -> ((s, d) =>
      graft.ext.Warehouse.dailyChurn(Tables.events(s, d))),

    // RFM segmentation: per-user recency/frequency/monetary quartiled by
    // the q201 fit∘apply bucketizer (three broadcast edge fits, one pass
    // over the user aggregate), classic 3-digit code; summarized per code
    "q205_rfm_segments" -> ((s, d) =>
      graft.ext.Warehouse.rfmSegments(Tables.events(s, d), refDate = "2024-07-01")
        .groupBy("rfm")
        .agg(count(lit(1)).as("n_users"),
          sum("monetary_cents").as("segment_cents"))),

    // idempotency-violation audit: same (user, type) within 60 s —
    // identity equi-join, time bound residual, pairs emit once with both
    // sides' cents as evidence
    "q206_duplicate_events" -> ((s, d) =>
      graft.ext.Funnel.duplicateEvents(Tables.events(s, d))),

    // discount elasticity: exact integer OLS (q117's groupTrend) of
    // quantity against discount cents per brand — slope < 0 means the
    // discount moves volume
    "q207_discount_elasticity" -> { (s, d) =>
      val pts = Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          expr("cast(round(l_discount * 100) as bigint)").as("dcents"),
          col("l_quantity").cast("long").as("qty"))
      graft.ext.TimeSeries.groupTrend(pts, Seq("p_brand"), "dcents", "qty")
    },

    // week-over-week revenue deltas in truncated integer ppm — lag over
    // the week keyspace, never facts
    "q208_week_over_week" -> ((s, d) =>
      graft.ext.Warehouse.weekOverWeek(Tables.lineitem(s, d))),

    // fact↔rollup reconciliation: header cents vs summed line cents per
    // order status — the audit every warehouse runs after load
    "q209_reconciliation" -> ((s, d) =>
      graft.ext.Warehouse.orderLineReconciliation(
        Tables.orders(s, d), Tables.lineitem(s, d))),

    // cohort LTV triangle: first-purchase-week cohorts, per-week cents +
    // running cumulative — windows over the cohort×week keyspace only
    "q210_cohort_ltv" -> ((s, d) =>
      graft.ext.Funnel.cohortLtv(Tables.events(s, d))),

    // temporal analytics over the q91 SCD2 history: time-in-state per
    // event type (closed intervals only), integer-µs durations, truncated
    // mean — dimension-table-sized output from one interval derivation
    "q211_state_durations" -> ((s, d) =>
      graft.ext.Warehouse.scd2Intervals(Tables.events(s, d))
        .filter(col("valid_to").isNotNull)
        .select(col("event_type"),
          (unix_micros(col("valid_to")) - unix_micros(col("valid_from"))).as("dur_us"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_intervals"),
          sum("dur_us").as("total_us"),
          expr("sum(dur_us) div count(1)").as("mean_us"))),

    // Benford first-digit audit over order totals — the classic fraud
    // screen. Digit from the INTEGER cents string (never log10 on a
    // double: power-of-ten boundaries are float-hazardous); observed ppm
    // beside the Benford expectation ppm, both integers
    "q212_benford_audit" -> { (s, d) =>
      // expectation ppm derived ONCE in Scala (Oracles.benfordPpm shares
      // the same values, so the two sides cannot drift)
      val benford = typedLit(Oracles.benfordPpm.map { case (k, v) => (k, v) })
      Tables.orders(s, d)
        .select(substring(expr("cast(cast(round(o_totalprice * 100) as bigint) as string)"), 1, 1).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(Tables.orders(s, d).agg(count(lit(1)).as("tot"))))
        .select(col("digit"), col("n"),
          expr("n * 1000000 div tot").as("observed_ppm"),
          element_at(benford, col("digit")).as("benford_ppm"))
    },

    // abuse/burstiness screen: each user's PEAK 10-minute event count —
    // the q198 fine-window aggregate re-aggregated per user, top-20 with
    // a full deterministic order; only 20 rows cross to the driver
    "q214_burstiest_users" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(max("n").as("peak_10min"), sum("n").as("n_events"))
        .orderBy(col("peak_10min").desc, col("user_id")).limit(20)),

    // revenue concentration: exact integer Gini (ppm) over per-customer
    // order cents — rank window over the CUSTOMER aggregate (by-key
    // collapse first), cross-multiplied closed form, no floats until
    // never
    "q215_revenue_gini" -> { (s, d) =>
      val per = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("cents"))
      // keyspace-sized window: input is collapsed/bounded before this sort
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cents"), col("o_custkey"))
      per.withColumn("i", row_number().over(w).cast("long"))
        .agg(count(lit(1)).as("n_customers"),
          sum("cents").as("total_cents"),
          expr("""(2 * sum(cast(i as decimal(38,0)) * cents)
                   - (count(1) + 1) * sum(cast(cents as decimal(38,0))))
                  * 1000000 div (count(1) * sum(cast(cents as decimal(38,0))))""")
            .cast("long").as("gini_ppm"))
    },

    // retention KPI: one-time vs repeat buyers per nation — customer
    // order counts collapse first, then a broadcast dim join and a
    // nation-keyspace aggregate
    // real-container media decode: build REAL BMP/WAV payloads (by doc_id
    // parity, closed-form content bytes), parse them with the pure-JVM
    // HeaderCodec (magic/field/chunk-walk validation), emit the DECODED
    // metadata + content byte sum; the oracle recomputes every field
    // analytically from the corpus definition — an exact-hash check of
    // the encode → header-parse → featurize chain. Narrow mapPartitions;
    // payloads never leave the task
    "q226_media_decode" -> { (s, d) =>
      implicit val sp: SparkSession = s
      graft.ext.Multimodal.probeMedia(Tables.documents(s, d))
    },

    // PNG face of the codec seam (q30/q226 are the BMP/WAV faces): real
    // CRC32-correct PNG containers round-trip through Png.writePng and
    // Png.decodeFull; the closed-form pixel grid keeps the oracle
    // analytic (it never parses a byte)
    "q244_png_probe" -> { (s, d) =>
      implicit val sp: SparkSession = s
      graft.ext.Multimodal.probePng(Tables.documents(s, d))
    },

    // per-EVAL-doc n-gram containment (q54's release-gate dual): the
    // fraction of each eval doc's distinct 4-grams found anywhere in
    // train — the asymmetric overlap a decontamination threshold gates
    // on (a fully-quoted eval item scores 1.0 here, near 0 on Jaccard).
    // Eval gram set broadcasts as a map-side filter over the train gram
    // stream; the train corpus is never deduped corpus-wide
    "q245_eval_containment" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.evalContainment(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), n = 4)
    },

    // Spark 4 GROUP BY ALL (SQL surface pin, the q241 pattern): the
    // resolver must expand ALL to exactly the non-aggregate select items;
    // the oracle is the explicit GROUP BY 1,2 spelling — a hash match
    // proves the expansion picked the same keys
    "q246_group_by_all" -> { (s, d) =>
      val view = s"q246_ev_${java.util.UUID.randomUUID.toString.replace("-", "")}"
      Tables.events(s, d).createOrReplaceTempView(view)
      try s.sql(s"""
        SELECT event_type, to_date(ts) AS day,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM $view GROUP BY ALL""")
      finally s.catalog.dropTempView(view)
    },

    // parameterized SQL (named parameter markers, SPARK-44680 surface):
    // literals travel as typed args, not string-spliced SQL — the
    // injection-safe template path a production job server uses; the
    // oracle inlines the same constants
    "q247_param_sql" -> { (s, d) =>
      val view = s"q247_li_${java.util.UUID.randomUUID.toString.replace("-", "")}"
      Tables.lineitem(s, d).createOrReplaceTempView(view)
      try s.sql(
        s"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
            FROM $view WHERE l_quantity >= :minq AND l_discount <= :maxd
            GROUP BY l_returnflag""",
        Map("minq" -> 30, "maxd" -> 0.05))
      finally s.catalog.dropTempView(view)
    },

    // Spark 4 listagg WITHIN GROUP (SPARK-42746): ordered string
    // aggregation — the basket-export / debugging concat that was a
    // collect_list+sort+concat_ws three-step before 4.0. This corpus
    // REUSES l_linenumber within an order (measured: 11,785 dup pairs at
    // sf0.01), so the sort key is (l_linenumber, l_partkey): remaining
    // ties are identical strings, making the concat total in any engine
    "q248_listagg_baskets" -> { (s, d) =>
      val view = s"q248_li_${java.util.UUID.randomUUID.toString.replace("-", "")}"
      Tables.lineitem(s, d).createOrReplaceTempView(view)
      try s.sql(s"""
        SELECT l_orderkey,
          listagg(CAST(l_partkey AS STRING), ',')
            WITHIN GROUP (ORDER BY l_linenumber, l_partkey) AS parts
        FROM $view GROUP BY l_orderkey""")
      finally s.catalog.dropTempView(view)
    },

    // distributed PCA, top component: ONE corpus pass builds the exact
    // integer covariance moments (dim²-sized map-combined aggregate), the
    // driver power-iterates a 32 KB matrix — no iterative corpus pass
    // (unlike Lloyd's). Every step integer → the oracle replays the full
    // training with unrolled SQL iterations, bit-exact
    "q250_pca_component" -> ((s, d) =>
      graft.ext.Pca.topComponent(Tables.embeddings(s, d), iterations = 24)),

    // projection onto the trained component: the "most extreme along the
    // first PC" outlier readout — a narrow integer dot with the loadings
    // inlined as a literal, then one top-k
    "q251_pca_project" -> ((s, d) =>
      graft.ext.Pca.project(Tables.embeddings(s, d), iterations = 24, k = 50)),

    // incremental PCA: moments are mergeable sums, so two disjoint
    // halves' moment frames merged MUST train the identical component —
    // the oracle recomputes from scratch over the union, proving
    // incremental ≡ batch (the q240 pattern). At 100 TB the moment frame
    // persists as parquet state and an append retrains in O(delta+dim²)
    "q256_pca_incremental" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      graft.ext.Pca.topComponentFromMoments(
        graft.ext.Pca.mergeMoments(
          graft.ext.Pca.momentFrame(e.filter(col("vec_id") % 2 === 0)),
          graft.ext.Pca.momentFrame(e.filter(col("vec_id") % 2 === 1))),
        iterations = 24)
    },

    // second principal component via exact integer deflation (the
    // projector (VV·I − vvᵀ) applied to both sides, BigInt on the
    // driver-held matrix, one truncating rescale) — the corpus is still
    // touched exactly once; both components train from the same moments
    "q253_pca_second" -> ((s, d) =>
      graft.ext.Pca.topComponent(Tables.embeddings(s, d), iterations = 24,
        component = 2)),

    // in-engine trained linear classifier — GATE DISTILLATION: learn a
    // fast raw-counter approximation of the composed (nonlinear,
    // ratio-based) quality gate, the production pattern of training a
    // cheap filter to mimic an expensive one. Batch perceptron with
    // centered features and MEAN 1/e-decayed updates (weights stay
    // feature-bounded at any corpus size — the raw-sum rule overflows
    // margins at ~10⁹ rows); each epoch is ONE map-combined aggregate
    // with the weights inlined, no corpus shuffle. Oracle replays all
    // epochs bit-exactly
    "q254_perceptron_weights" -> ((s, d) =>
      graft.ext.LinearModel.perceptronWeights(Tables.documents(s, d),
        graft.ext.TextAnalysis.qualityScore(col("text")) >= 0.66, epochs = 8)),

    // the distilled model's corpus confusion vs the true gate — how much
    // of the expensive filter the cheap linear one recovers
    "q255_perceptron_eval" -> ((s, d) =>
      graft.ext.LinearModel.perceptronEval(Tables.documents(s, d),
        graft.ext.TextAnalysis.qualityScore(col("text")) >= 0.66, epochs = 8)),

    // table-maintenance policy: order-preserving compaction bins over the
    // daily-ingest profile (one "file" per order day — the canonical
    // small-file shape) — prefix-sum div target on the METADATA frame, so
    // a sorted/z-ordered layout keeps its clustering envelope through the
    // merge; the manifest (first_file..last_file per bin) is what a
    // rewrite job executes
    "q257_compaction_plan" -> { (s, d) =>
      val profile = Tables.orders(s, d)
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("file"))
        .agg(count(lit(1)).as("n_rows"))
        .select(lit("orders").as("tbl"), col("file"), col("n_rows"))
      graft.ext.Warehouse.compactionPlan(profile, targetRows = 500L)
    },

    // layout effectiveness audit: what q82's z-order CLUSTERING actually
    // buys at the file level — 64 equal row-ranges per candidate layout,
    // per-file min/max envelopes (what parquet footers store), and the
    // files a deterministic point-query panel must open per dimension.
    // linear-on-custkey prunes custkey to ~1 file/probe and order-day not
    // at all (every file spans the full date range); z-order prunes BOTH
    // to ~√64 — the quantified OPTIMIZE decision, not the asserted one
    "q258_skipping_audit" -> { (s, d) =>
      val base = orderDays(s, d)
      graft.ext.Layout.skippingAudit(base, "o_custkey", "dday", "oid",
        nFiles = 64, bits = 16)
    },

    // the distilled gate's reliability curve: signed margin-octave band →
    // (corpus count, true-gate positives) — is the margin MONOTONE
    // evidence (route high-|margin| docs past the expensive gate, send
    // only the uncertain band to it)? Native BinLength banding, one
    // map-combined aggregate over the feature frame, band keyspace output
    "q259_gate_calibration" -> ((s, d) =>
      graft.ext.LinearModel.calibrationCurve(Tables.documents(s, d),
        graft.ext.TextAnalysis.qualityScore(col("text")) >= 0.66, epochs = 8)),

    // ANN-backend swap acceptance: Average Overlap (the p→1 rank-biased
    // overlap) between the LSH and IVF top-5 rankings of the q134 panel —
    // q134 asks "same SET as exact"; this asks "same ORDER as each other"
    // before a backend swap ships. Exact rational evaluation: suffix sums
    // over lcm(1..d) as a literal lookup, one (query, doc) equi-join on
    // the panel×k lists, no float division anywhere
    "q261_rank_agreement" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") % 50 === 0)
      Similarity.rankAgreement(
        Similarity.lshTopK(q, emb, k = 5, dim = 16, nPlanes = 4),
        Similarity.ivfTopK(q, emb, k = 5,
          centroids = emb.filter(col("vec_id") % 37 === 0), nProbe = 3),
        depth = 5)
    },

    // the third face of the privacy release gate (q229 re-identification,
    // q230 attribute disclosure, this DISTRIBUTION disclosure): per QI
    // class, exact cross-multiplied EMD between the class's and the
    // corpus's ordered sensitive-value distributions — threshold as
    // "release only classes with t_ppm ≤ t"
    "q262_t_closeness" -> { (s, d) =>
      graft.ext.Quality.tClosenessAudit(
        customerBands(s, d),
        Seq("c_nationkey", "bal_band"), "c_mktsegment")
    },

    // embedding-space drift monitor: q232's PSI watches scalar mixes;
    // this watches the VECTOR column — per-dim mean shift between the
    // two snapshot halves in exact fixed-point cross-multiplied micro
    // units, top-10 most-shifted dims (the directions q250's loadings
    // can then interpret). One posexplode + dim-keyed aggregate per side
    "q264_embedding_drift" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      graft.ext.Profile.embeddingDrift(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), k = 10)
    },

    // the IVF tuning curve: recall@5 vs nProbe ∈ {1,2,4,8} against the
    // exact panel — the latency/recall table an ANN deployment reads to
    // pick its operating point. Assignment + candidate scoring run ONCE
    // (checkpointed); each arm is a probe-rank filter + top-k window,
    // semantically identical to q27 at that probe count
    "q265_probe_recall_curve" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.ivfProbeCurve(emb.filter(col("vec_id") % 100 === 0), emb,
        k = 5, centroids = emb.filter(col("vec_id") % 37 === 0),
        probes = Seq(1, 2, 4, 8))
    },

    // certify the sketch: q236's estimates NEXT TO the exact
    // nearest-rank values under the same rank rule, relative error in
    // ppm — the measured proof the 2^-4 design bound holds on real data
    // (the audit pays the per-group sort the sketch avoids, once)
    "q269_sketch_error_audit" -> { (s, d) =>
      val cents = Tables.orders(s, d).select(col("o_orderpriority"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"),
        col("o_orderkey"))
      graft.ext.Sketch.logHistErrorAudit(cents, "cents", "o_orderkey",
          Seq("o_orderpriority"), subBits = 4)
        .select(col("o_orderpriority"), col("quantile"),
          col("exact").as("exact_cents"), col("est").as("est_cents"),
          col("err_ppm"))
    },

    // crawl-dedup triage: which source pairs share templated spans —
    // distinct CDC chunk fingerprints present in BOTH sources of each
    // pair (q235's per-doc shared mass, pivoted to the source-pair
    // matrix). Chunking is the narrow q234 path; the matrix join is
    // fp-keyed over DISTINCT (fp, source) rows
    "q268_cross_source_dups" -> ((s, d) =>
      Dedup.crossSourceChunkDups(Tables.documents(s, d), chunkMod = 64)),

    // the measured LSH S-curve: one signature pass, candidate universe at
    // the loosest config (bands nest → stricter arms are per-pair flag
    // tests, not more self-joins), exact-Jaccard deciles from a
    // candidate-bounded shingle-intersect join. Gated on a 300‰ hash
    // sample of docs — the 100 TB posture for a tuning probe, and what
    // keeps the template-dense corpus's candidate set linear-ish here
    "q270_lsh_curve" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .filter(Dedup.affineHash(col("doc_id"), 7) % 1000 < 300)
      Dedup.lshTuningCurve(docs, k = 16, configs = Seq(4, 8, 16))
    },

    // join-size estimation from two mergeable Count-Min summaries (the
    // AMS inner-product estimator) CERTIFIED against the exact count-join
    // — the number a planner reads to size a shuffle before running it.
    // width=256 forces real collisions so the audit exercises the
    // min-over-rows correction, not a trivially-exact sketch
    "q271_cm_join_size" -> ((s, d) =>
      graft.ext.Sketch.cmJoinSize(
        Tables.orders(s, d), col("o_custkey"),
        Tables.events(s, d), col("user_id"), depth = 4, width = 256)),

    // coordinated (universe) join sampling: both sides keep the keys whose
    // SHARED hash lands under 100‰, so the sampled join is a keyspace
    // partition of the real join — est = sample×10, certified per
    // priority against the full join (signed err via subtraction)
    "q272_coord_join_sample" -> ((s, d) =>
      graft.ext.Sampling.coordinatedJoinSample(
        Tables.orders(s, d), "o_custkey", Tables.events(s, d), "user_id",
        groupCol = "o_orderpriority", permille = 100)),

    // HyperANF: the neighborhood function of the q95 supplier–part graph
    // via one 16-register HLL per node max-merged along edges per round —
    // O(n·16) state where exact balls are Θ(n²). Registered output is the
    // per-round register HISTOGRAM (the exact-integer artifact, same
    // split as q61); the float N(t) readout + BFS cross-check live in
    // GraphSpec
    "q273_hyperanf" -> { (s, d) =>
      graft.ext.Graph.neighborhoodFunction(supplierPartGraph(s, d),
        rounds = 3, log2m = 4)
    },

    // sequential changepoint screen: one-sided CUSUM over the dense
    // hourly grid, calibrated on each key's first 96 hours, evaluated
    // loop-free via S = C − min(0, running-min C) (two stacked windows
    // over the aggregated grid — the closed form that makes CUSUM
    // distributable). All-integer; alarms summarized per key
    "q274_cusum_screen" -> ((s, d) =>
      graft.ext.TimeSeries.cusumScreen(
        graft.ext.TimeSeries.gapFillHourly(Tables.events(s, d)))),

    // rank join: the 20 best (supplier, part) pairs by combined cents
    // score WITHOUT ranking the full pair relation — both score scans
    // pruned by the broadcast θ−max bound, the top-k window runs over
    // the pruned answer-magnitude set. The oracle is the brute-force
    // spelling, so the hash gate certifies the prune dropped nothing
    "q276_topk_join" -> { (s, d) =>
      val pairs = Tables.lineitem(s, d)
        .select(col("l_suppkey").as("ka"), col("l_partkey").as("kb")).distinct()
      val a = Tables.supplier(s, d).select(col("s_suppkey").as("ka"),
        expr("cast(round(s_acctbal * 100) as bigint)").as("sa"))
      val b = Tables.part(s, d).select(col("p_partkey").as("kb"),
        expr("cast(round(p_retailprice * 100) as bigint)").as("sb"))
      graft.ext.TopK.topKPairJoin(pairs, a, b, k = 20)
    },

    // Bloom certification: MEASURED key-level false-positive rate of the
    // q63 filter geometry vs exact membership — plus the no-false-negative
    // invariant re-proved on real data (n_member_pass == n_member_keys).
    // The audit arm pays one exact semi-join; the production filter never
    // does
    "q277_bloom_fpr" -> ((s, d) =>
      graft.ext.Sketch.bloomFprAudit(
        Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING"),
        "c_custkey", k = 3, mBits = 8192)),

    // dataset-versioning digest: order-independent mergeable subtractable
    // Σ mixHash(rolling fingerprint) mod 2^61 per source — two corpus
    // versions compare without a row diff; appends update by adding the
    // delta's digest. Map-side combined all the way; DECIMAL(38,0) sum
    "q278_corpus_digest" -> ((s, d) =>
      graft.ext.Profile.corpusDigest(Tables.documents(s, d))),

    // ANALYZE certified: equi-depth histogram on the order→customer FK,
    // System-R range estimates vs exact counts per predicate — the table
    // that says whether this column's stats can drive join ordering. One
    // corpus pass (the distinct-value collapse); the rank window runs on
    // the DOMAIN, and the exact arm reads the same collapsed histogram
    "q279_selectivity_audit" -> ((s, d) =>
      graft.ext.Profile.selectivityAudit(Tables.orders(s, d),
        col("o_custkey"), buckets = 32, nPreds = 8)),

    // estimator shootout: System-R uniformity |A|·|B|/max(dA,dB) vs the
    // q271 Count-Min inner product, both against the exact join size —
    // signed ppm errors showing what key skew does to the uniformity
    // assumption and what the sketch buys back. Same per-key counts feed
    // all three arms: one pass per side, summary-sized downstream
    "q280_join_card_shootout" -> ((s, d) =>
      graft.ext.Sketch.joinCardEstimates(
        Tables.orders(s, d), col("o_custkey"),
        Tables.events(s, d), col("user_id"), depth = 4, width = 256)),

    // incremental view maintenance, JOIN view: with inserts on BOTH sides
    // of a materialized orders⋈customer view, emit the delta-algebra
    // right-hand side A⋈B ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — base tables touched
    // only through delta-keyed joins (delta-sized work against a bucketed
    // base at 100 TB). The oracle computes the FULL join from scratch;
    // hash equality is the IVM correctness certificate
    // capacity-forecast line: EXACT integer OLS over the gapfilled
    // hourly series — slope (counts/hour ×10⁶), intercept, R², all from
    // one 5-sum moment aggregate; wide products ride DECIMAL(38,0).
    // Complements q285 (is there a trend?) and q142/q182 (seasonality)
    "q290_hourly_trend" -> ((s, d) =>
      graft.ext.TimeSeries.trendFit(Tables.events(s, d), "ts")),

    // Markov removal-effect attribution: journeys absorb at first
    // purchase, exact ppm transition matrix, 12 value-iteration sweeps;
    // each channel's chain-with-inbound-dropped iterates ALONGSIDE the
    // base as one (variant, state) relation — 5 chains, one plan. One
    // per-user fact window builds transitions; the iteration is
    // types²×channels keyspace arithmetic. The model-based sibling of
    // q133 (last-touch) and q169 (linear)
    "q291_markov_attribution" -> ((s, d) =>
      graft.ext.Funnel.markovAttribution(Tables.events(s, d),
        convType = "purchase", rounds = 12)),

    // file-level Bloom skipping: point lookups on a key UNCORRELATED
    // with insertion order — min/max envelopes open nearly everything
    // (each file spans the domain), per-file Bloom bit tables open
    // ~exact + a measured false-positive tail. The audit row is the
    // evidence for turning on parquet column blooms for this key; no
    // false negatives re-proved by bloom_open ≥ exact_open in both
    // engines
    "q288_file_bloom_audit" -> ((s, d) =>
      graft.ext.Layout.fileBloomAudit(Tables.orders(s, d),
        "o_custkey", "o_orderkey",
        nFiles = 64, k = 3, mBits = 4096, probeMod = 7, probeResidue = 1)),

    // CountSketch drift monitor: signed sketches of the two corpus
    // halves SUBTRACTED cell-wise (the sketch is linear — the diff of
    // two independently-built sketches IS the sketch of the diff stream,
    // which the oracle builds directly; hash equality certifies
    // linearity). Probe-panel median estimates vs exact per-user deltas:
    // yesterday's stored sketch + today's = drift, no raw streams kept
    "q289_count_sketch_drift" -> { (s, d) =>
      val ev = Tables.events(s, d).select(col("user_id"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      val sp = ev.agg(expr("(min(h) + max(h) + 1) div 2").as("hs"))
      val halves = ev.crossJoin(broadcast(sp))
        .groupBy("user_id")
        .agg(sum(when(col("h") < col("hs"), 1L).otherwise(0L)).as("c1"),
          sum(when(col("h") >= col("hs"), 1L).otherwise(0L)).as("c2"))
        .pin() // one-shot: feeds both sketches, probes, exact arm
      val cs1 = graft.ext.Sketch.countSketchWeighted(
        halves, col("user_id"), col("c1"), width = 64)
      val cs2 = graft.ext.Sketch.countSketchWeighted(
        halves, col("user_id"), col("c2"), width = 64)
      val diff = cs2.withColumnRenamed("cnt", "cnt2")
        .join(cs1.withColumnRenamed("cnt", "cnt1"), Seq("row", "bucket"), "full")
        .select(col("row"), col("bucket"),
          (coalesce(col("cnt2"), lit(0L)) - coalesce(col("cnt1"), lit(0L)))
            .as("cnt"))
      val probes = halves.filter(col("user_id") % 11 === 7)
        .select(col("user_id"), (col("c2") - col("c1")).as("exact_delta"))
      graft.ext.Sketch.csEstimate(diff, probes, col("user_id"), width = 64)
        .withColumnRenamed("est", "est_delta")
        .withColumn("err", col("est_delta") - col("exact_delta"))
    },

    // TPC-H Q21 shape (unique last-to-ship supplier per multi-supplier
    // order): the textbook spelling is a correlated EXISTS + NOT EXISTS
    // pair — the oracle keeps that spelling and this side DE-CORRELATES
    // it into one (order, supplier) collapse + one per-order aggregate +
    // one join-back, all shuffling on the SAME l_orderkey (one exchange
    // reused thrice). Hash equality certifies the de-correlation
    "q286_last_to_ship" -> { (s, d) =>
      val perOS = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_shipdate").cast("date").as("sd"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max("sd").as("sup_last"))
      val perO = perOS.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_sups"), max("sup_last").as("o_last"))
      val ach = perOS.join(perO, "l_orderkey")
        .filter(col("n_sups") >= 2 && col("sup_last") === col("o_last"))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_ach"), min("l_suppkey").as("the_sup"))
        .filter(col("n_ach") === 1)
      ach.join(Tables.supplier(s, d),
          col("the_sup") === col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(count(lit(1)).as("n_last"))
    },

    // TPC-H Q22 shape (lapsed prospects): above-average positive balance
    // via the EXACT integer cross-multiply (bal·n_pos > Σpos — no float
    // average exists), and no order in the data's final year via LEFT
    // ANTI against the recent-buyer keys (the date filter prunes the
    // orders scan BEFORE the anti-join). The oracle keeps the scalar
    // subquery + NOT EXISTS spelling; the 1-row stats broadcast and the
    // anti-join are the scale-shaped plan
    "q287_prospects" -> { (s, d) =>
      val cust = Tables.customer(s, d).select(col("c_custkey"),
        col("c_nationkey"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_c"))
      val stats = cust.filter(col("bal_c") > 0)
        .agg(count(lit(1)).as("n_pos"), sum("bal_c").as("sum_pos"))
      val recent = Tables.orders(s, d)
        .filter(col("o_orderdate").cast("date") >= lit("2000-08-01").cast("date"))
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(stats))
        .filter(col("bal_c") * col("n_pos") > col("sum_pos"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"), sum("bal_c").as("total_bal_c"))
    },

    // EXACT hourly autocorrelation at lags 1..48 — the seasonality
    // detector feeding q142/q182's seasonal models: a lag-24 spike is
    // daily rhythm, a flat curve says don't fit one. Integer end to end
    // (n-scaled mean-centering, ppm boundary; the one long-outgrowing
    // product rides DECIMAL(38,0)); everything after the one fact
    // aggregate is hour-keyspace-sized
    "q285_hourly_acf" -> ((s, d) =>
      graft.ext.TimeSeries.acf(Tables.events(s, d), "ts", maxLag = 48)),

    // partition acceptance: per-community Newman modularity of the q146
    // label-prop communities, signed ppm with pinned truncation order —
    // Σ q_ppm ≈ 10⁶·Q, and a community at q_ppm ≤ 0 is no denser than
    // the degree-preserving random graph. One tag join + one degree
    // aggregate + community-keyspace arithmetic
    "q284_modularity" -> { (s, d) =>
      val e = cooccurrenceEdges(s, d)
      graft.ext.Graph.modularityReport(e,
        graft.ext.Graph.labelPropagation(e, rounds = 4))
    },

    // HITS hubs & authorities on the DIRECTED supplier→part relation —
    // the link-analysis complement to q95's symmetrized PageRank:
    // versatile suppliers (hubs) reinforce widely-sourced parts
    // (authorities) and vice versa. Integer max-normalization per
    // half-step replaces the L2 norm — same fixed point ranking, no
    // float, bit-stable in any engine. Edges partitioned once; each
    // half-step is a keyspace broadcast join + map-combined aggregate
    "q283_hits" -> { (s, d) =>
      graft.ext.Graph.hits(
        Tables.lineitem(s, d).select(
          (col("l_suppkey") * 2 + 1).as("src"), (col("l_partkey") * 2).as("dst")),
        iterations = 3)
    },

    // space-filling-curve shootout: q258's envelope/probe audit over
    // linear vs Z-order vs HILBERT layouts on the same key pair — Z's
    // diagonal address jumps fatten file envelopes, Hilbert's unit steps
    // keep them tight; this measures the difference on the real key
    // distribution. The hilbert chain is ONE source of truth
    // (Layout.hilbertSteps) evaluated in both engines; each layout costs
    // the one distributed sort its write would cost
    "q282_curve_shootout" -> { (s, d) =>
      val base = orderDays(s, d)
      graft.ext.Layout.curveAudit(base, "o_custkey", "dday", "oid",
        nFiles = 64, bits = 8, probeModA = 13, probeModB = 11)
    },

    "q281_ivm_join" -> { (s, d) =>
      val ords = Tables.orders(s, d).select(col("o_custkey").as("k"),
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
      val cust = Tables.customer(s, d).select(col("c_custkey").as("k"),
        col("c_mktsegment"), col("c_nationkey"))
      graft.ext.Warehouse.incrementalJoinView(
        ords.filter(col("o_orderkey") % 10 =!= 0),
        ords.filter(col("o_orderkey") % 10 === 0),
        cust.filter(col("k") % 7 =!= 0),
        cust.filter(col("k") % 7 === 0), "k")
    },

    // Matryoshka acceptance: AO rank agreement between full-64-dim and
    // first-16-dim cosine rankings on the 1% panel — what a
    // truncated-embedding deployment (MRL) reads before shipping the
    // smaller index. Pure reuse: two q18 arms + the q261 evaluation
    "q275_matryoshka_agreement" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") % 100 === 0)
      val trunc = (f: DataFrame) =>
        f.withColumn("embedding", slice(col("embedding"), 1, 16))
      Similarity.rankAgreement(
        Similarity.bruteForceTopK(q, emb, k = 5),
        Similarity.bruteForceTopK(trunc(q), trunc(emb), k = 5), depth = 5)
    },

    // corpus-shape observability: the token frequency SPECTRUM (count of
    // counts by floor-log2 octave, exact ppm shares) — how occurrence
    // mass concentrates across rarity bands; the Zipf-shape health check
    // complementing q252's growth curve. One vocab-keyed aggregate, then
    // ≤64-octave keyspace arithmetic
    "q267_token_spectrum" -> ((s, d) =>
      graft.ext.TextAnalysis.tokenSpectrum(Tables.documents(s, d))),

    // int8-quantization acceptance: AO between the exact-float and the
    // integer-dot rankings on the 1%-panel — q76 ships the compressed
    // ranker, this measures what the compression does to result ORDER
    // (the q261 evaluation with the arms swapped; pure reuse)
    "q266_quantization_agreement" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") % 100 === 0)
      Similarity.rankAgreement(
        Similarity.bruteForceTopK(q, emb, k = 5),
        Similarity.quantizedTopK(q, emb, k = 5), depth = 5)
    },

    // the OPTIMIZE actuator closing the audit loop: write the q282 key
    // table to a scratch parquet dir, run the curve shootout on it, let
    // Sinks.optimize pick the winner (min Σ files_hit, name tie-break),
    // rewrite clustered into 32 one-file bins, and return the bin
    // manifest — per bin, the row count and two-key min/max envelope the
    // rewritten footers will serve. The oracle recomputes audit → winner
    // → rank → bins independently; a hash match certifies the decision
    // AND the rewrite geometry. Costs one global sort — what any
    // clustered rewrite pays
    "q292_optimize_manifest" -> { (s, d) =>
      val base = orderDays(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft_q292")
        .toString + "/tbl"
      base.write.mode("overwrite").parquet(dir)
      val audit = graft.ext.Layout.curveAudit(s.read.parquet(dir),
        "o_custkey", "dday", "oid", nFiles = 64, bits = 8,
        probeModA = 13, probeModB = 11)
      graft.load.Sinks.optimize(s, dir, "o_custkey", "dday", "oid",
        audit, nFiles = 32, bits = 8)
    },

    // batch twin of the streaming hourly CountSketch
    // (Streams.countSketchHourly is mode-adaptive — this IS the
    // production stream operator run on the bounded events table):
    // per hour, the depth×width signed-frequency cells from the shared
    // csCellArray family. Linearity makes consecutive hours subtract
    // into the q289 drift readout; here the oracle replays every cell
    "q293_cs_cells_hourly" -> { (s, d) =>
      graft.streaming.Streams.countSketchHourly(
        Tables.events(s, d), "user_id", depth = 5, width = 64)
        .select(expr("unix_micros(hour) div 3600000000").as("h"),
          col("row"), col("bucket"), col("cnt"))
    },

    // batch twin of the streaming embedding-drift moments
    // (Streams.embeddingMomentsHourly, mode-adaptive): per synthetic
    // hour (vec_id mod 48 — embeddings carry no timestamp), the (dim,
    // s, n) sufficient statistic whose pairs feed the q264 readout via
    // Profile.embeddingDriftFromMoments. Moments are additive — streamed
    // windows merge with batch snapshots by dim-keyed summation
    "q294_embedding_moments" -> { (s, d) =>
      graft.streaming.Streams.embeddingMomentsHourly(
        Tables.embeddings(s, d).withColumn("ts",
          timestamp_micros(expr("(vec_id % 48) * 3600000000"))))
        .select(expr("unix_micros(hour) div 3600000000").as("h"),
          col("dim"), col("s"), col("n"))
    },

    // graded retrieval eval: nDCG@10 of the exact cosine arm against a
    // label-match eval set (grade 3 per same-label doc) — the third leg
    // of the eval stack next to recall (q134, set overlap) and AO
    // agreement (q261, order). Discounts are pinned integer literals
    // from ONE Scala table (no log in either engine); ppm boundary in
    // DECIMAL(38,0). Ranking is panel×k, qrels the bounded eval set
    "q295_ndcg" -> { (s, d) =>
      val (ranking, qrels) = panelQrels(s, d)
      graft.ext.Search.ndcgAtK(ranking, qrels.withColumn("grade", lit(3)), k = 10)
    },

    // one-pass Poisson bootstrap: 100 full bootstrap replicates of the
    // mean order price as 200 extra SUM columns in ONE aggregate —
    // deterministic hash→Poisson(1) weights (single literal threshold
    // table both engines), so the 100 TB corpus is scanned once and only
    // 100 summary rows ever sort. The resample loop this replaces scans
    // the corpus once per replicate
    "q296_bootstrap_ci" -> { (s, d) =>
      graft.ext.Sampling.bootstrapMeanCI(
        Tables.orders(s, d),
        "o_orderkey", expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
        resamples = 100)
    },

    // per-segment OLS trend: q290's closed-form integer fit grouped by
    // event type on the common hourly grid — "which segments trend, how
    // fast, how linear". One (key, hour) aggregate over facts, then
    // keyspace arithmetic; r² takes a greatest-floor because per-key
    // series can be constant (numerator provably 0 there)
    "q300_trend_by_key" -> { (s, d) =>
      graft.ext.TimeSeries.trendFitByKey(Tables.events(s, d), "ts", "event_type")
    },

    // skew advisor: per hot key (fact count > target), the ceil-division
    // salt factor that splits it back under the target — heavy-hitter-
    // sized output, one map-combined aggregate. The decision table the
    // planned salted join consumes (decision→actuator, the q282→q292
    // pattern applied to shuffle skew)
    "q297_salt_plan" -> { (s, d) =>
      graft.operators.SkewJoin.saltPlan(
        Tables.events(s, d), "event_type", targetRowsPerTask = 500L)
    },

    // skew actuator: the q297 plan drives a keyed salted join — hot keys
    // split across salt_k reducers, cold keys pay nothing (the uniform
    // q67 salt replicates the dim side salt× for EVERY key; measured 7×
    // on skew-free data). Oracle is the UNSALTED join: a skew mitigation
    // that changes any row is wrong
    "q298_planned_salted_join" -> { (s, d) =>
      val ev = Tables.events(s, d).select("event_id", "event_type")
      val dim = ev.select(col("event_type").as("dim_type")).distinct()
        .withColumn("type_code", length(col("dim_type")))
      val plan = graft.operators.SkewJoin.saltPlan(ev, "event_type", 500L)
      graft.operators.SkewJoin.plannedSaltedJoin(ev, "event_type",
        dim, "dim_type", plan)
        .select("event_id", "event_type", "type_code")
    },

    // curation observability: the kill matrix — per gate, total vs
    // EXCLUSIVE rejections (docs no other gate catches). A gate with
    // n_exclusive ≈ 0 is redundant with the cascade and can relax for
    // free; the gate carrying exclusive kills is the one whose threshold
    // shapes the corpus. Gates reuse q13/q53/q12's exact spellings
    "q263_filter_attribution" -> ((s, d) =>
      graft.ext.Curation.filterAttribution(Tables.documents(s, d))),

    // q59's acceptance test: per shard, ppm deviation of the source mix
    // from the independence expectation (exact DECIMAL cross-multiply,
    // zero cells included via the keyspace grid) — the audit that catches
    // a broken shard hash BEFORE a training run bakes in a skewed shard
    "q260_shard_balance" -> ((s, d) =>
      graft.ext.Sampling.shardBalanceAudit(Tables.documents(s, d),
        nShards = 8, catCol = "source")),

    // Heaps-law vocabulary growth: distinct vocabulary at nested
    // hash-permille corpus prefixes — the dataset-card saturation curve
    // (flat tail → stop collecting, dedup/diversify). One word-keyed
    // shuffle serves every threshold via each word's FIRST prefix
    "q252_vocab_growth" -> ((s, d) =>
      graft.ext.TextAnalysis.vocabGrowth(Tables.documents(s, d))),

    // water-filling budget allocator: split ONE global token budget
    // across domains as evenly as capacities allow (max-min fairness) —
    // the planning step that produces the per-domain budgets
    // q?_token_budget mixes consume; exact integer prefix test, no
    // iteration, every window on the 20-row domain keyspace
    "q249_water_fill" -> ((s, d) =>
      graft.ext.Sampling.waterFillBudgets(Tables.documents(s, d),
        budget = 100000L, strataCol = "source", sizeCol = "n_chars")),

    // table-maintenance observability: per-file row counts for every
    // table in the dataset directory — the file-level profile a
    // compaction policy reads (at 100 TB the FILE COUNT, not bytes, kills
    // scan planning: one footer read + one task per file). Grouping on
    // input_file_name() is column-less, so each task contributes batch
    // row counts without materializing any data column; the oracle reads
    // the same truth from the parquet footers directly
    "q227_file_profile" -> { (s, d) =>
      Tables.names.map { t =>
        s.read.parquet(s"$d/$t.parquet")
          .groupBy(regexp_extract(input_file_name(), "[^/]+$", 0).as("file"))
          .agg(count(lit(1)).as("n_rows"))
          .select(lit(t).as("tbl"), col("file"), col("n_rows"))
      }.reduce(_ unionByName _)
    },

    // TPC-H Q17 shape (small-order revenue): facts gated by their OWN
    // group's aggregate — per-part quantity stats shuffle on l_partkey,
    // the SAME key the fact join and the part-dim join need, so one
    // partitioning serves all three (no broadcast assumed: at SF100 the
    // part keyspace is 20M rows; AQE still converts to broadcast when the
    // agg side is actually small). The avg gate is the integer
    // cross-multiply `qty·2·n < sum_qty` — no float average exists
    // anywhere, so the survivor set is bit-stable in any engine; revenue
    // sums in DECIMAL(18,2) but the registered output boundary is DOUBLE
    // (the q86/q196/q202 money convention): the harness canonicalizer
    // stringifies Decimal("…10.20") and float64 …10.2 differently
    "q228_small_order_revenue" -> { (s, d) =>
      val li = Tables.lineitem(s, d).select(col("l_partkey"),
        round(col("l_quantity")).cast("long").as("qty"),
        col("l_extendedprice"))
      val stats = li.groupBy("l_partkey")
        .agg(sum("qty").as("sum_qty"), count(lit(1)).as("n_li"))
      li.join(stats, "l_partkey")
        .filter(col("qty") * 2 * col("n_li") < col("sum_qty"))
        .join(Tables.part(s, d).select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_small"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("small_revenue"))
    },

    // privacy release gate: k-anonymity audit — rows whose
    // (nation, segment, balance-band) quasi-identifier combination is
    // shared by fewer than k customers are re-identifiable by an
    // auxiliary join on those columns alone; the banded report (unique /
    // small-crowd / passing) is what a publish policy thresholds on. One
    // QI shuffle, then keyspace-sized banding
    "q229_k_anonymity" -> { (s, d) =>
      // $1000 balance bands in integer cents. Spark's `div` truncates
      // toward zero and — measured, not assumed — DuckDB's BIGINT `//`
      // does too (-150000//100000 = -1, -50000//100000 = 0), so plain
      // `div` is the cross-engine-identical spelling; a pmod floor
      // adjustment here would DIVERGE on negative balances
      graft.ext.Quality.kAnonymityAudit(
        customerBands(s, d),
        Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 5)
    },

    // q229's attribute-disclosure companion: classes that are k-anonymous
    // can still be uniform in a sensitive attribute — band QI classes by
    // DISTINCT market-segment count. Same (nation, balance-band) QI as
    // q229 so the two reports read as one release gate
    "q230_l_diversity" -> { (s, d) =>
      graft.ext.Quality.lDiversityAudit(
        customerBands(s, d),
        Seq("c_nationkey", "bal_band"), "c_mktsegment", l = 3)
    },

    // inference-prep accounting: length-bucketed batch padding waste —
    // per 64-token length bin, real vs padded token volume and truncated
    // ppm waste; one narrow token-count pass + a bin-keyed aggregate
    "q231_padding_audit" -> ((s, d) =>
      graft.ext.Packing.paddingAudit(Tables.documents(s, d), bucketWidth = 64)),

    // drift monitoring: PSI of the event-type mix between the two halves
    // of the corpus (same split instant as q138's stats drift — the two
    // reports are the numeric and distributional faces of one monitor);
    // bin-keyed aggregates only, facts never join each other
    "q232_psi_drift" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val split = lit("2024-01-16").cast("timestamp")
      graft.ext.Profile.psiDrift(
        ev.filter(col("ts") < split), ev.filter(col("ts") >= split),
        "event_type")
    },

    // streaming drift monitor, batch-evaluated (the q190 pattern: the
    // oracle pins the STREAM plan's semantics): per hourly window, each
    // reference bin's PSI contribution vs the corpus-global mix — the
    // reference collect is one keyspace-sized aggregate (types ≪ facts),
    // then ONE windowed aggregate + stateless stack/arithmetic
    "q233_hourly_psi" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val ref = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      graft.streaming.Streams.hourlyPsiStream(ev, ref)
    },

    // content-defined chunking: cut where the local trigram hash ≡ 0
    // (mod 64) — edit-stable chunk boundaries (an insertion re-cuts one
    // chunk, not every later one like q164's fixed windows); narrow
    // per-doc array HOFs, explode to chunk rows, zero shuffle
    "q234_cdc_chunks" -> ((s, d) =>
      Dedup.cdcChunks(Tables.documents(s, d), chunkMod = 64)),

    // chunk-level duplication mass: per doc, the TEXT share sitting in
    // CDC chunks whose fingerprint appears in ≥2 docs — sub-document
    // boilerplate/quoted-span detection (the curation threshold "drop
    // docs > X% shared spans"); chunks pinned once, fp-keyed shuffle only
    "q235_chunk_dedup" -> { (s, d) =>
      Dedup.chunkDupStats(Tables.documents(s, d), chunkMod = 64)
    },

    // hourly p50/p90/p99 of event value from the SAME log-linear sketch as
    // q236 — registered as the oracle-verified batch twin of the streaming
    // histogram (Streams.logHistHourly shares the bucketing projection, so
    // its emitted windows merge with this by adding counts)
    "q238_hourly_quantiles" -> { (s, d) =>
      val ev = Tables.events(s, d).select(
        date_trunc("hour", col("ts")).as("hour"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      graft.ext.Sketch.logHistQuantiles(
        graft.ext.Sketch.logHistogram(ev, col("cents"), Seq("hour")),
        Seq("hour"), qs = Seq(50, 90, 99))
        .select(col("hour"), col("quantile"),
          col("est").as("est_cents"), col("n").cast("long").as("n_events"))
    },

    // incremental corpus refresh flagship: day-2 slice updates the
    // persisted day-1 state (fp index + token histogram) by join + merge
    // only — day-1 text never re-read; the oracle recomputes every metric
    // from scratch over the union, proving incremental ≡ batch
    "q240_incremental_refresh" -> ((s, d) =>
      graft.ext.Curation.incrementalRefresh(Tables.documents(s, d))),

    // SRM audit: per assignment-hash family, the 50/50 balance check every
    // experiment must pass before its readout is trusted — integer
    // cross-multiplied chi-square, one distinct-user shuffle
    "q239_srm_audit" -> ((s, d) =>
      graft.ext.Funnel.srmAudit(Tables.events(s, d))),

    // CUPED variance-reduced A/B readout: pre-split per-user spend as the
    // covariate, post-split spend as the metric; θ and adjusted means as
    // explicit floor-division rationals over exact integer moments — the
    // experimentation-platform readout that cuts test duration by ρ²
    "q237_cuped_readout" -> ((s, d) =>
      graft.ext.Funnel.cupedReadout(Tables.events(s, d))),

    // mergeable rank sketch: p50/p90/p99 of order value per priority from
    // a log-linear integer histogram (≤ 2^-4 relative error, exact below
    // 32 cents) — the bounded-state alternative to q163's exact ranks:
    // state is O(octaves·16) buckets per group, counts merge across
    // shards/days, and no sort ever touches the raw rows
    "q236_loghist_quantiles" -> { (s, d) =>
      val cents = Tables.orders(s, d).select(col("o_orderpriority"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      graft.ext.Sketch.logHistQuantiles(
        graft.ext.Sketch.logHistogram(cents, col("cents"),
          Seq("o_orderpriority"), subBits = 4),
        Seq("o_orderpriority"), qs = Seq(50, 90, 99))
        .select(col("o_orderpriority"), col("quantile"),
          col("est").as("est_cents"), col("n").cast("long").as("n_orders"))
    },

    "q225_one_time_buyers" -> { (s, d) =>
      val perCust = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      perCust
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_buyers"),
          sum(when(col("n_orders") === 1, 1L).otherwise(0L)).as("n_one_time"),
          expr("""sum(case when n_orders = 1 then 1 else 0 end) * 1000000
                  div count(1)""").as("one_time_ppm"))
    },

    // share-of-total normalization: each event type's share of its DAY's
    // traffic in integer ppm — the daily mix report; per-day totals are
    // a second aggregate of the (day, type) grid, joined back keyspace-
    // sized (never a window over facts)
    "q224_daily_mix" -> { (s, d) =>
      val grid = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val totals = grid.groupBy("day").agg(sum("n").as("day_total"))
      grid.join(broadcast(totals), "day")
        .select(col("day"), col("event_type"), col("n"),
          expr("n * 1000000 div day_total").as("share_ppm"))
    },

    // the REAL props column through VARIANT — q72's from_json needs the
    // shape declared; this is the same aggregation with schema-on-read
    // (try_parse_json + typed path), proving the two spellings agree on
    // live data, not just the q188 planted payloads
    "q223_props_variant" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          try_variant_get(try_parse_json(col("props")), "$.k", "bigint").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
          sum("k").as("sum_k"), min("k").as("min_k"), max("k").as("max_k"))),

    // GDPR erasure audit: tombstoned users (deterministic %97 sample
    // stands in for a deletion-request table) anti-joined out of each
    // user-keyed table — per-table before/after/erased counts; the
    // compliance report a deletion pipeline must emit. Tombstones
    // broadcast; each table pays one scan
    "q221_erasure_audit" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val tomb = ev.select(col("user_id")).distinct()
        .filter(pmod(col("user_id"), lit(97)) === 0)
      def audit(name: String, t: DataFrame, keyCol: String): DataFrame = {
        val kept = t.join(broadcast(tomb),
          t(keyCol) === tomb("user_id"), "left_anti")
        t.agg(count(lit(1)).as("rows_before"))
          .crossJoin(kept.agg(count(lit(1)).as("rows_after")))
          .select(lit(name).as("table_name"), col("rows_before"), col("rows_after"),
            (col("rows_before") - col("rows_after")).as("rows_erased"))
      }
      // orders keys by customer id — the cross-table reach of one request
      audit("events", ev, "user_id")
        .unionByName(audit("orders", Tables.orders(s, d), "o_custkey"))
    },

    // sessionized bounce rate per day: share of single-event sessions —
    // the q189 session_window output re-aggregated by session-start day
    "q222_bounce_rate" -> ((s, d) =>
      graft.ext.Funnel.sessionWindows(Tables.events(s, d))
        .select(to_date(col("session_start")).as("day"),
          when(col("n_events") === 1, 1L).otherwise(0L).as("bounce"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_sessions"), sum("bounce").as("n_bounces"),
          expr("sum(bounce) * 1000000 div count(1)").as("bounce_ppm"))),

    // whole-schema referential-integrity audit: one row per FK edge with
    // orphan counts — each edge is one left-anti against the dim's key
    // projection (broadcast), unioned into a 7-row report; the load-time
    // gate a warehouse runs before trusting a batch
    "q220_fk_audit" -> { (s, d) =>
      def edge(name: String, fact: DataFrame, fk: String,
               dim: DataFrame, pk: String): DataFrame =
        fact.select(col(fk).as("k"))
          .join(broadcast(dim.select(col(pk).as("k")).distinct()), Seq("k"), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
          .select(lit(name).as("fk_edge"), col("n_orphans"))
      val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      Seq(
        edge("lineitem.orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        edge("lineitem.partkey->part", li, "l_partkey", Tables.part(s, d), "p_partkey"),
        edge("lineitem.suppkey->supplier", li, "l_suppkey", Tables.supplier(s, d), "s_suppkey"),
        edge("orders.custkey->customer", o, "o_custkey", Tables.customer(s, d), "c_custkey"),
        edge("customer.nationkey->nation", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey"),
        edge("supplier.nationkey->nation", Tables.supplier(s, d), "s_nationkey",
          Tables.nation(s, d), "n_nationkey"),
        edge("nation.regionkey->region", Tables.nation(s, d), "n_regionkey",
          Tables.region(s, d), "r_regionkey"))
        .reduce(_ unionByName _)
    },

    // exact distributed variance (named op): discount dispersion per
    // brand in cents²-ppm — one brand-key exchange, integer moments
    "q218_discount_variance" -> ((s, d) =>
      graft.ext.TimeSeries.groupVariance(
        Tables.lineitem(s, d)
          .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"),
            expr("cast(round(l_discount * 100) as bigint)").as("dcents")),
        Seq("p_brand"), "dcents")),

    // basket-size histogram: lines-per-order distribution — two chained
    // aggregates (order collapse, then size histogram), keyspace-sized
    "q219_basket_histogram" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("basket_size"))
        .groupBy("basket_size").agg(count(lit(1)).as("n_orders"))),

    // catalog coverage audit: parts with NO sales (left-anti against the
    // fact) rolled up per brand beside the catalog size — the dead-stock
    // report; the anti join's build side is the distinct sold-part keys
    "q216_dead_stock" -> { (s, d) =>
      val sold = Tables.lineitem(s, d).select(col("l_partkey")).distinct()
      val dead = Tables.part(s, d)
        .join(sold, col("p_partkey") === col("l_partkey"), "left_anti")
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n_dead"))
      Tables.part(s, d).groupBy(col("p_brand")).agg(count(lit(1)).as("n_parts"))
        .join(dead, Seq("p_brand"), "left")
        .select(col("p_brand"), col("n_parts"),
          coalesce(col("n_dead"), lit(0L)).as("n_dead"),
          expr("coalesce(n_dead, 0) * 1000000 div n_parts").as("dead_ppm"))
    },

    // supply-chain risk: parts observed from exactly ONE supplier in the
    // fact stream (single-source), per brand — distinct (part, supplier)
    // collapse first, so the risk aggregate runs over keyspace rows
    "q217_single_source_risk" -> { (s, d) =>
      val ps = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .groupBy("l_partkey").agg(count(lit(1)).as("n_suppliers"))
      Tables.part(s, d)
        .join(ps, col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_sold_parts"),
          sum(when(col("n_suppliers") === 1, 1L).otherwise(0L)).as("n_single_source"),
          max("n_suppliers").as("max_suppliers"))
    },

    // logistics SLA: ship-delay-days distribution per order priority —
    // integer datediff histogram, the report an ops team pages on
    "q213_ship_delay_sla" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("delay_days"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          min("delay_days").as("min_days"), max("delay_days").as("max_days"),
          expr("sum(delay_days) div count(1)").as("mean_days"),
          sum(when(col("delay_days") > 60, 1L).otherwise(0L)).as("n_breach_60d"))),

    // exact order statistics WITHOUT a global sort: p50/p90/p99 of line
    // price cents by iterative histogram descent — ⌈log₁₀₂₄(range)⌉
    // map-combined passes (3 here), all ranks sharing each pass, vs the
    // full shuffle-sort ORDER BY…OFFSET pays for one scalar. The oracle
    // IS the sort spelling: descent must reproduce it bit-exactly
    "q301_exact_quantiles" -> ((s, d) =>
      graft.ext.Selection.exactQuantiles(
        Tables.lineitem(s, d),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"),
        ppms = Seq(500000L, 900000L, 990000L))),

    // grouped descent: exact per-returnflag price quartiles + p99 in the
    // SAME bounded passes — group ranges ride the broadcast side, so a
    // skewed group costs nothing extra (contrast: per-group sort windows
    // shuffle-sort the whole fact table). q163 reports ranks OF values;
    // this is the inverse (values AT ranks), exact at any skew
    "q310_group_exact_quantiles" -> ((s, d) =>
      graft.ext.Selection.exactGroupQuantiles(
        Tables.lineitem(s, d), "l_returnflag",
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"),
        ppms = Seq(250000L, 500000L, 750000L, 990000L))),

    // split-conformal band around the q290 trend line: q̂ = the exact
    // integer residual at rank ⌈0.9·(n+1)⌉ — the finite-sample-valid
    // "page when an hour strays past q̂" threshold, plus the empirical
    // coverage readback. Facts touched once (hourly agg); the rank
    // window sorts grid hours only
    "q302_conformal_band" -> ((s, d) =>
      graft.ext.TimeSeries.conformalTrendInterval(
        Tables.events(s, d), "ts", alphaPpm = 100000L)),

    // Theil–Sen robust trend: low-median of pairwise grid slopes (exact
    // floored ppm) — the outlier-immune second opinion next to q290's
    // OLS (one spike hour drags OLS arbitrarily, moves ONE slope here).
    // Pairs are grid², never facts²
    "q303_theilsen" -> ((s, d) =>
      graft.ext.TimeSeries.theilSenTrend(Tables.events(s, d), "ts")),

    // recency-weighted engagement with EXACT dyadic decay: weight
    // 2^(−⌊age_h/24⌋) carried as shifted integers, so the per-type
    // decayed event mass is bit-exact on any layout — the float-EWMA
    // failure mode (order-dependent folds) is impossible by
    // construction. One map-combined (key, hour) aggregate
    "q304_decayed_engagement" -> ((s, d) =>
      graft.ext.TimeSeries.decayedCountByKey(Tables.events(s, d), "ts",
        "event_type", halfLifeHours = 24, maxShift = 40)),

    // two-regressor OLS via Cramer on the 3×3 normal equations (exact
    // DECIMAL determinants): hourly drift at FIXED day-type + the
    // weekend level shift — separates "growing" from "this window has
    // more weekdays", the confound q290's single regressor folds in
    "q308_seasonal_trend" -> ((s, d) =>
      graft.ext.TimeSeries.trendFitSeasonal(Tables.events(s, d), "ts")),

    // degree assortativity of the part co-purchase graph: ONE exact
    // rational (the symmetrized endpoint list makes both marginals
    // identical, so Pearson r needs no square root) — hub-to-hub vs
    // hub-to-leaf mixing in ppm. One edge pass + keyspace joins
    "q305_assortativity" -> ((s, d) =>
      graft.ext.Graph.degreeAssortativity(
        graft.ext.Graph.coOccurrenceEdges(
          Tables.lineitem(s, d), "l_orderkey", "l_partkey"))),

    // certified KS drift from two KB-sized log-histograms — the q269
    // certification pattern on distribution DISTANCE: exact boundary KS
    // (lower bound) + the one-sided bucket-mass upper bound; the true
    // raw-value KS (q315) provably sits inside. Corpus never re-read at
    // readout time — feed two periods of the streaming hist cells
    "q324_loghist_ks" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      def hist(flag: String) = graft.ext.Sketch.logHistogram(
        li.filter(col("l_returnflag") === flag),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"), Seq.empty)
      graft.ext.Sketch.logHistKs(hist("R"), hist("A"))
    },

    // hourly certified KS drift series: every hour's value distribution
    // vs its predecessor, read ENTIRELY from the streaming histogram's
    // KB-sized cells (q238's mode-adaptive emitter) — the continuous
    // certified drift monitor; true hour-over-hour KS ∈ [lo, hi]
    "q326_ks_drift_series" -> { (s, d) =>
      val hist = graft.streaming.Streams.logHistHourly(Tables.events(s, d))
        .select(expr("unix_micros(hour) div 3600000000").as("h"),
          col("bucket_id"), col("cnt"))
      graft.ext.Sketch.logHistKsSeries(hist, "h")
    },

    // quality-threshold yield curve: docs + token mass retained at every
    // milli-grid cutoff — prices ALL thresholds before q167 commits to
    // one. One text pass, by-score collapse (≤1001 rows), grid joins
    // the collapsed relation
    "q325_yield_curve" -> ((s, d) =>
      graft.ext.Curation.yieldCurve(Tables.documents(s, d), steps = 20)),

    // per-segment conformal bands: q302's finite-sample threshold fitted
    // PER EVENT TYPE on the common grid — each segment gets its own q̂
    // and coverage readback; every sort keyspace-sized
    "q322_conformal_by_key" -> ((s, d) =>
      graft.ext.TimeSeries.conformalTrendIntervalByKey(
        Tables.events(s, d), "ts", "event_type", alphaPpm = 100000L)),

    // quantile treatment effects: returned-vs-accepted price at every
    // decile — WHERE in the distribution the two populations differ
    // (means hide tail effects); both arms answered by one shared
    // descent, diffed on the tiny quantile table
    "q323_quantile_effects" -> { (s, d) =>
      val q = graft.ext.Selection.exactGroupQuantiles(
        Tables.lineitem(s, d).filter(col("l_returnflag").isin("R", "A")),
        "l_returnflag",
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"),
        ppms = (1 to 9).map(_ * 100000L))
      q.filter(col("key") === "R")
        .select(col("q_ppm"), col("value").as("value_r"))
        .join(q.filter(col("key") === "A")
          .select(col("q_ppm"), col("value").as("value_a")), Seq("q_ppm"))
        .withColumn("qte_cents", col("value_r") - col("value_a"))
    },

    // precision/recall@k operating curve for the exact cosine arm — the
    // fourth leg of the retrieval eval stack (recall q134, agreement
    // q261, nDCG q295): micro P@k, macro floored-ppm R@k, one row per
    // cutoff 1..10; all grids panel-sized
    "q319_pr_curve" -> { (s, d) =>
      val (ranking, qrels) = panelQrels(s, d)
      graft.ext.Search.precisionRecallAtK(ranking, qrels, kMax = 10)
    },

    // Kaplan–Meier repeat-purchase survival: exact scaled-floor
    // product-limit curve over the duration keyspace (driver recursion,
    // kmeans precedent; oracle = recursive CTE with the identical
    // floor) — "how long until a first-time buyer returns", censoring
    // one-time buyers at the corpus horizon
    "q320_kaplan_meier" -> ((s, d) =>
      graft.ext.Survival.kaplanMeier(
        graft.ext.Survival.repeatPurchaseDurations(Tables.orders(s, d)))),

    // difference-in-differences on conversion rates: treated arm's
    // before→after change minus control's, arms by the q171 user hash,
    // period split at the corpus midpoint hour — ONE map-combined
    // aggregate, exact ppm cells
    "q321_diff_in_differences" -> ((s, d) =>
      graft.ext.Funnel.diffInDifferences(Tables.events(s, d))),

    // threshold-free quality readout of the distilled gate: the AUC of
    // the trained perceptron's margin vs the true gate label — does the
    // margin ORDER the corpus (route high-|margin| to a fast path), not
    // just split it at zero (q255). Margin scoring + the q313 machinery
    "q317_gate_auc" -> { (s, d) =>
      val scored = graft.ext.LinearModel.marginScores(
        Tables.documents(s, d),
        graft.ext.TextAnalysis.qualityScore(col("text")) >= 0.66, epochs = 8)
      graft.ext.RankStats.rankSumAuc(
        scored.select(col("y").cast("string").as("grp"), col("margin")),
        col("grp"), "1", col("margin"))
    },

    // exact inter-arrival quantiles per event type — p50/p99 seconds
    // between a user's consecutive same-type events, via one keyed
    // window (the sessionization exchange) feeding the descent: the
    // latency-distribution table a capacity model reads, exact at any
    // skew
    "q318_interarrival_quantiles" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = Tables.events(s, d)
        .select(col("event_type"), col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev", lag("ts", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("event_type"),
          expr("(unix_micros(ts) - unix_micros(prev)) div 1000000").as("gap_s"))
      graft.ext.Selection.exactGroupQuantiles(gaps, "event_type",
        col("gap_s"), ppms = Seq(500000L, 990000L))
    },

    // Tukey box-plot outlier report on EXACT quartiles (the q310 descent
    // feeding a downstream consumer): fences at q1/q3 ± 1.5·IQR, one
    // counting pass — data-quality alert counts reproducible to the row
    "q314_tukey_outliers" -> ((s, d) =>
      graft.ext.Quality.tukeyOutlierReport(
        Tables.lineitem(s, d), "l_returnflag",
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))),

    // exact two-sample Kolmogorov–Smirnov distance between returned and
    // accepted price distributions, plus the value where they diverge
    // most — integer cross-products, one distinct-value window
    "q315_ks_statistic" -> ((s, d) =>
      graft.ext.RankStats.ksStatistic(
        Tables.lineitem(s, d)
          .filter(col("l_returnflag").isin("R", "A"))
          .select(col("l_returnflag").as("grp"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents")),
        col("grp"), "R", col("cents"))),

    // Pearson χ² independence of event type × day-of-week — "is the
    // event mix a function of the weekday" as one exact milli-unit
    // statistic over the full keyspace grid (zero cells included)
    "q316_chi2_independence" -> ((s, d) =>
      graft.ext.Quality.chi2Independence(
        Tables.events(s, d).select(col("event_type"),
          expr("CAST((unix_micros(ts) div 86400000000 + 3) % 7 AS STRING)")
            .as("dow")),
        "event_type", "dow")),

    // exact Spearman ρ between part price and sales frequency — the
    // monotone-invariant "does expensive sell less" readout; ranks via
    // row_number with the part key as tie-break (rank-of-record,
    // layout-invariant), ρ as ONE integer rational in ppm. Facts reduce
    // to the part grain first; windows run on the entity keyspace
    "q312_spearman" -> { (s, d) =>
      val freq = Tables.lineitem(s, d)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("freq"))
      graft.ext.RankStats.spearman(
        Tables.part(s, d)
          .join(freq, col("p_partkey") === col("l_partkey"), "left")
          .select(col("p_partkey"),
            expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("price"),
            coalesce(col("freq"), lit(0L)).as("freq")),
        "p_partkey", col("price"), col("freq"))
    },

    // Mann–Whitney effect between returned and accepted line prices —
    // the exact ROC-AUC of "predict RETURN when the price is larger",
    // by-value collapse + one distinct-value window; never nₐ·n_b pairs
    "q313_rank_auc" -> ((s, d) =>
      graft.ext.RankStats.rankSumAuc(
        Tables.lineitem(s, d)
          .filter(col("l_returnflag").isin("R", "A"))
          .select(col("l_returnflag").as("grp"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents")),
        col("grp"), "R", col("cents"))),

    // WEIGHTED exact quantiles in the same descent passes: the price
    // below which 25/50/75/99% of the QUANTITY trades, per return flag
    // — histogram masses sum weights instead of counting rows, so the
    // volume-weighted median costs exactly what q310 costs
    "q311_weighted_quantiles" -> ((s, d) =>
      graft.ext.Selection.exactGroupQuantilesWeighted(
        Tables.lineitem(s, d), "l_returnflag",
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"),
        expr("CAST(l_quantity AS BIGINT)"),
        ppms = Seq(250000L, 500000L, 750000L, 990000L))),

    // batch twin of the streaming decayed-engagement monitor
    // (Streams.decayedCountsHourly is mode-adaptive — this IS the
    // production stream emitter run on the bounded events table, its
    // counts pushed through the shared snapshot readout): per snapshot
    // hour, each key's exact dyadic decayed score; the final snapshot
    // equals q304 by construction
    "q309_decayed_snapshots" -> { (s, d) =>
      graft.ext.TimeSeries.decayedSnapshotsFromCounts(
        graft.streaming.Streams.decayedCountsHourly(Tables.events(s, d))
          .select(col("key"), expr("unix_micros(hour) div 3600000000").as("h"),
            col("c")),
        halfLifeHours = 24, maxShift = 40)
    },

    // χ²-weighted token drift: q162's ppm proportions scored by the χ²
    // kernel delta² div (pₐ+p_b) — rare-token sensitivity a raw delta
    // lacks (50 ppm moved on a 100 ppm token outranks 500 ppm moved on
    // a 10⁵ ppm token). Bounded integers at ANY corpus size
    "q307_chi2_drift" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.ext.TextAnalysis.chi2TokenDrift(
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
    },

    // per-node clustering coefficient: q101's wedge census normalized
    // by (deg choose 2) — which parts sit in tight co-purchase pockets
    // vs star hubs; degree<2 nodes excluded, triangle-free nodes read 0
    "q306_local_clustering" -> ((s, d) =>
      graft.ext.Graph.localClustering(
        graft.ext.Graph.coOccurrenceEdges(
          Tables.lineitem(s, d), "l_orderkey", "l_partkey"))),

    // stream-fed CUSUM: the q274 changepoint screen re-read ENTIRELY from
    // the hourly-count emitter's closed windows (q309's mode-adaptive
    // sufficient statistic) — counts gap-fill to the same dense grid, the
    // IDENTICAL closed-form screen runs on top, so the continuous monitor
    // equals the batch one bit-for-bit (same oracle as q274)
    "q327_cusum_stream" -> { (s, d) =>
      val counts = graft.streaming.Streams.decayedCountsHourly(
        Tables.events(s, d))
      graft.ext.TimeSeries.cusumScreen(
        graft.ext.TimeSeries.gapFillFromCounts(counts)
          .withColumnRenamed("key", "event_type"))
    },

    // stream-fed conformal band: q302's finite-sample threshold computed
    // from the SAME emitter's (hour, key, c) rows — per-key counts
    // collapse to the global hourly series, then the shared fit +
    // calibration path runs unchanged (same oracle as q302)
    "q328_conformal_stream" -> ((s, d) =>
      graft.ext.TimeSeries.conformalBandFromCounts(
        graft.streaming.Streams.decayedCountsHourly(Tables.events(s, d)),
        alphaPpm = 100000L)),

    // stream-fed per-segment conformal bands: q322 re-read from the
    // emitter's closed windows — per-key gap-fill on the global span,
    // shared per-key fit/calibration path (same oracle as q322)
    "q329_conformal_by_key_stream" -> ((s, d) =>
      graft.ext.TimeSeries.conformalByKeyFromCounts(
        graft.streaming.Streams.decayedCountsHourly(Tables.events(s, d)),
        alphaPpm = 100000L)),

    // AMS second moment from the CountSketch cells: F2 = Σ f(u)² (the
    // self-join size / skew mass of the user-activity distribution) read
    // off KB of sketch — exact integer median over depth rows — next to
    // the exact corpus answer and the signed-relative error
    "q330_f2_moment" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val sk = graft.ext.Sketch.countSketchWeighted(
        ev, col("user_id"), lit(1L), depth = 5, width = 64)
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("c"))
        .agg(expr("CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS BIGINT)")
          .as("f2_exact"))
      exact.crossJoin(graft.ext.Sketch.csF2Estimate(sk, depth = 5))
        .withColumn("err_ppm",
          // F₂ passes 10¹³ at operational scale, so the ×10⁶ must happen
          // in a DECIMAL(38,0) envelope (BIGINT overflows at ~9.2·10¹⁸);
          // the oracle's HUGEINT arithmetic shares the same envelope
          expr("CAST(abs(CAST(f2_est AS DECIMAL(38,0)) - f2_exact)" +
            " * 1000000 div f2_exact AS BIGINT)"))
    },

    // reciprocal-rank fusion of the exact cosine ranking with its
    // Matryoshka-truncated arm (q275's two rankers, now COMBINED instead
    // of compared): rank-only fusion, no score calibration — the standard
    // hybrid-retrieval combiner; all inputs panel×k rows
    "q331_rrf_fusion" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") % 100 === 0)
      val trunc = (f: DataFrame) =>
        f.withColumn("embedding", slice(col("embedding"), 1, 16))
      def arm(f: DataFrame => DataFrame) =
        Similarity.bruteForceTopK(f(q), f(emb), k = 5)
          .withColumnRenamed("neighbor_id", "doc_id")
      graft.ext.Search.rrfFusePerQuery(arm(identity), arm(trunc), k0 = 60, k = 5)
    },

    // Pettitt changepoint: retrospective rank-based "did the hourly load
    // shift, and when" — K = max |U_t| over every prefix/suffix split,
    // computed loop-free from one by-value collapse + two keyspace
    // windows (q274's CUSUM watches live; this answers the post-mortem)
    "q332_pettitt" -> ((s, d) =>
      graft.ext.TimeSeries.pettittTest(Tables.events(s, d))),

    // k-core backbone of the co-purchase graph: iterative degree peel,
    // fixed round count (idempotent at the fixpoint — spec pins the
    // convergence margin; measured 5 peel rounds at both sf0.01 and
    // sf0.1 for k=80, cascade removes ~7% of nodes), per-round one
    // degree agg + two semi-joins on the checkpointed edges
    // dedup = false: kCore's own first step is a (u, v)-keyed
    // dropDuplicates over the symmetrized list, so the co-occurrence
    // distinct was a redundant full pair-stream exchange — result rows
    // identical (oracle replays the deduped peel either way)
    "q333_kcore" -> ((s, d) =>
      graft.ext.Graph.kCore(
        graft.ext.Graph.coOccurrenceEdges(
          Tables.lineitem(s, d), "l_orderkey", "l_partkey", dedup = false),
        k = 80, rounds = 12)),

    // stream-fed Pettitt: q332's retrospective changepoint asked of the
    // stored hourly-count stream — per-key closed windows collapse to
    // the global series, identical rank arithmetic (same oracle as q332)
    "q334_pettitt_stream" -> ((s, d) =>
      graft.ext.TimeSeries.pettittFromCounts(
        graft.streaming.Streams.decayedCountsHourly(Tables.events(s, d)))),

    // stream-fed rate anomalies: q137's integer z-test re-read from the
    // emitter's closed windows through the shared gap-fill + window path
    // (same oracle as q137)
    "q335_rate_anomaly_stream" -> { (s, d) =>
      val counts = graft.streaming.Streams.decayedCountsHourly(
        Tables.events(s, d))
      graft.ext.TimeSeries.rateAnomaliesFromCounts(counts,
          keyCol = "key")
        .withColumnRenamed("key", "event_type")
    },

    // stream-fed seasonal anomalies: q182's same-slot z-test off the
    // stored hourly counts (same oracle as q182)
    "q336_seasonal_anomaly_stream" -> ((s, d) =>
      graft.ext.TimeSeries.seasonalAnomaliesFromCounts(
        graft.streaming.Streams.decayedCountsHourly(Tables.events(s, d)),
        keyCol = "key", minPrior = 3, z = 3)
        .withColumnRenamed("key", "event_type")),

    // stream-fed EWMA: q142's exact finite-lag smoother off the stored
    // hourly counts (same oracle as q142)
    "q337_ewma_stream" -> ((s, d) =>
      graft.ext.TimeSeries.ewmaFromCounts(
        graft.streaming.Streams.decayedCountsHourly(Tables.events(s, d)),
        keyCol = "key")
        .withColumnRenamed("key", "event_type")),

    // stream-fed rolling WAU: q183's exact 7-day distinct-actives series
    // re-read from the daily active-user emitter's closed windows —
    // identical fan-out + count readout (same oracle as q183)
    "q338_rolling_wau_stream" -> ((s, d) =>
      graft.ext.Funnel.rollingActiveFromUserDays(
        graft.streaming.Streams.userDaysDaily(Tables.events(s, d)),
        windowDays = 7)),

    // stream-fed daily churn: q204's active-on-d-silent-on-d+1 series off
    // the same daily active-user emitter — identical lead-window readout
    // (same oracle as q204)
    "q339_daily_churn_stream" -> ((s, d) =>
      graft.ext.Warehouse.dailyChurnFromUserDays(
        graft.streaming.Streams.userDaysDaily(Tables.events(s, d)))),

    // Cohen's kappa between the exact-cosine and int8-quantized 1-NN
    // label arms: the chance-corrected agreement number that certifies
    // the quantized index labels like the exact one (raw agreement
    // po_ppm overstates it whenever one label dominates)
    "q340_onenn_kappa" -> ((s, d) =>
      graft.ext.RankStats.cohenKappa(
        onennLabelPairs(s, d), "pred_exact", "pred_quant")),

    // McNemar on the same paired panel vs the TRUE labels: do the two
    // arms err on the same examples, or does quantization change which
    // queries are wrong — the paired-classifier comparison that a plain
    // accuracy delta cannot answer
    "q341_onenn_mcnemar" -> ((s, d) =>
      graft.ext.RankStats.mcnemar(
        onennLabelPairs(s, d), "pred_exact", "pred_quant", "truth")),

    // Mann–Kendall monotone-trend test on the hourly series — the
    // nonparametric "is traffic trending at all" companion to q303's
    // Theil–Sen slope: S, tie-corrected ×18 variance, continuity-
    // corrected z² ppm, all integer-exact
    "q342_mann_kendall" -> ((s, d) =>
      graft.ext.TimeSeries.mannKendall(Tables.events(s, d), "ts")),

    // stream-fed Mann–Kendall: the same trend question asked of the
    // stored hourly-count stream — per-key closed windows collapse to
    // the global series, identical pair census (same oracle as q342)
    "q343_mann_kendall_stream" -> ((s, d) =>
      graft.ext.TimeSeries.mannKendallFromCounts(
        graft.streaming.Streams.decayedCountsHourly(Tables.events(s, d)))),

    // Kruskal–Wallis: do the three return-flag arms share one price
    // distribution — the k-sample extension of q313's rank-sum, doubled
    // midranks keep ranks integer under ties, per-group floors mirrored
    // by the oracle
    "q344_kruskal_wallis" -> ((s, d) =>
      graft.ext.RankStats.kruskalWallis(
        Tables.lineitem(s, d)
          .select(col("l_returnflag").as("grp"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents")),
        col("grp"), col("cents"))),

    // per-query average precision of the exact cosine arm — the
    // rank-sensitive single number q319's P/R curve folds into;
    // zero-relevant queries stay in the panel at 0
    "q345_avg_precision" -> { (s, d) =>
      val (ranking, qrels) = panelQrels(s, d)
      graft.ext.Search.averagePrecisionAtK(ranking, qrels, kMax = 10)
    },

    // Kendall τ-b rank agreement per panel query: does the int8-quantized
    // score ORDER the exact arm's top-20 the way exact cosine does —
    // the full-ranking complement of q340's top-1 label kappa. Pairs are
    // per-query 20·19/2, sqrt-free τ_b² ppm
    "q346_onenn_tau" -> ((s, d) =>
      graft.ext.RankStats.kendallTauB(
        onennRankArms(s, d), "query_id", "neighbor_id",
        col("x_exact"), col("y_quant"))
        .withColumnRenamed("g", "query_id")),

    // link prediction on the co-purchase graph: top-50 non-adjacent part
    // pairs by Jaccard neighborhood overlap — "which co-purchase edge
    // appears next", the related-item candidate generator; hub centers
    // capped out of the census by contract
    "q347_link_prediction" -> ((s, d) =>
      graft.ext.Graph.linkPrediction(cooccurrenceEdges(s, d), k = 50)),

    // Fleiss' kappa among THREE raters — exact 1-NN labels, quantized
    // 1-NN labels, and the true labels — on the q340 panel: one number
    // for "do the two index arms and the ground truth tell one story",
    // the multi-rater extension of q340's pairwise kappa
    "q348_onenn_fleiss" -> ((s, d) =>
      graft.ext.RankStats.fleissKappa(
        onennLabelPairs(s, d), "query_id",
        Seq("pred_exact", "pred_quant", "truth"))),

    // 2-D radius self-join over the embedding plane (dims 1–2 quantized
    // to integer milli-units): all point pairs within r=100 — the
    // fixed-grid spatial join, one equi-join on cell keys, exact integer
    // distance filter, never n² candidates
    "q349_radius_join" -> { (s, d) =>
      val pts = Tables.embeddings(s, d).select(col("vec_id").as("id"),
        expr("CAST(round(CAST(element_at(embedding, 1) AS DOUBLE) * 1000)" +
          " AS BIGINT)").as("x"),
        expr("CAST(round(CAST(element_at(embedding, 2) AS DOUBLE) * 1000)" +
          " AS BIGINT)").as("y"))
      graft.operators.RangeJoin.radiusSelfJoin2D(pts, r = 100)
    },

    // lead-lag cross-correlation: does VIEW traffic lead PURCHASE
    // traffic, and by how many hours — signed sqrt-free r² per lag
    // −24..24 over the shared hourly grid
    "q350_cross_correlation" -> ((s, d) =>
      graft.ext.TimeSeries.crossCorrelation(Tables.events(s, d), "ts",
        "event_type", keyA = "view", keyB = "purchase", maxLag = 24)),

    // stream-fed lead-lag: the same CCF asked of the stored hourly-count
    // stream — the emitter's closed windows are the sufficient statistic
    // (same oracle as q350)
    "q351_cross_correlation_stream" -> ((s, d) =>
      graft.ext.TimeSeries.crossCorrelationFromCounts(
        graft.streaming.Streams.decayedCountsHourly(Tables.events(s, d)),
        keyA = "view", keyB = "purchase", maxLag = 24)),

    // discrete-time churn hazard with proper right censoring: per
    // lifetime-day, at-risk users, exact churns, hazard ppm — the life
    // table the naive lifetime histogram gets wrong on recent cohorts
    "q352_churn_hazard" -> ((s, d) =>
      graft.ext.Warehouse.churnHazard(Tables.events(s, d))),

    // revenue concentration across suppliers: exact Gini + HHI in ppm —
    // the skew audit behind salting and quota design
    "q353_concentration" -> ((s, d) =>
      graft.ext.Quality.concentrationReport(
        Tables.lineitem(s, d)
          .select(col("l_suppkey").as("g"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents")),
        "g", col("cents"))),

    // Benford first-digit audit of line amounts: observed vs the law's
    // ppm constants per digit 1-9 — the fabricated-data / broken-feed
    // screen
    "q354_benford" -> ((s, d) =>
      graft.ext.Quality.benfordAudit(
        Tables.lineitem(s, d),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))),

    // stream-fed churn hazard: q352's life table re-read from the daily
    // active-user emitter's closed windows — per-user first/last days
    // are a pure function of the stored (day, user) rows (same oracle
    // as q352)
    "q355_churn_hazard_stream" -> ((s, d) =>
      graft.ext.Warehouse.churnHazardFromUserDays(
        graft.streaming.Streams.userDaysDaily(Tables.events(s, d)))),

    // Wald–Wolfowitz runs test: is hourly traffic RANDOM around its
    // median, or does it clump (regimes) / alternate (retry storms) —
    // exact z² against the null run-count moments
    "q356_runs_test" -> ((s, d) =>
      graft.ext.TimeSeries.runsTest(Tables.events(s, d), "ts")),

    // stream-fed runs test: the same randomness question asked of the
    // stored hourly-count stream (same oracle as q356)
    "q357_runs_test_stream" -> ((s, d) =>
      graft.ext.TimeSeries.runsTestFromCounts(
        graft.streaming.Streams.decayedCountsHourly(Tables.events(s, d)))),

    // 2×2 effect report: does WEEKEND traffic convert differently —
    // odds ratio / risk ratio / risk difference of purchase events on
    // weekend vs weekday hours, exact ppm rationals (the "how big"
    // companion to q316's "is there an association")
    "q358_weekend_effect" -> ((s, d) =>
      graft.ext.RankStats.twoByTwo(
        Tables.events(s, d),
        expr("(unix_micros(ts) div 86400000000 + 3) % 7 >= 5"),
        col("event_type") === "purchase")),

    // Cramér's V² on the q316 contingency: the sample-size-free effect
    // size — χ² grows with n, V² answers "how strong"
    "q359_cramers_v" -> ((s, d) =>
      graft.ext.Quality.cramersV(
        Tables.events(s, d).select(col("event_type"),
          expr("CAST((unix_micros(ts) div 86400000000 + 3) % 7 AS STRING)")
            .as("dow")),
        "event_type", "dow")),

    // interarrival burstiness per event type: CV² of consecutive-event
    // gaps in exact ppm — Poisson-like ≈ 1e6, clocklike ≈ 0, bursty ≫ 1e6
    "q360_burstiness" -> ((s, d) =>
      graft.ext.TimeSeries.burstiness(Tables.events(s, d))),

    // hourly peak-to-mean load factor per event type over the gap-filled
    // grid — the provisioning headroom ratio
    "q361_peak_to_mean" -> ((s, d) =>
      graft.ext.TimeSeries.peakToMean(Tables.events(s, d))),

    // EXACT substring dedup (Lee et al. 2022 ExactSubstr) via distributed
    // suffix indexing — representative prefix-doubling, no hashing, no
    // global sort: every maximal ≥8-token span occurring ≥2× in the corpus
    "q362_substr_dup_spans" -> ((s, d) =>
      graft.ext.SuffixDedup.dupSpans(Tables.documents(s, d), minLen = 8)),

    // per-doc exact-duplication rollup: span count, dup window starts,
    // distinct covered positions, coverage ppm — the trim-vs-drop signal
    "q363_substr_doc_stats" -> ((s, d) =>
      graft.ext.SuffixDedup.dupSpanDocStats(Tables.documents(s, d), minLen = 8)),

    // the 50 most-repeated exact 8-token windows with their text and
    // support — the "what exactly is boilerplate" readout
    "q364_substr_top_repeats" -> ((s, d) =>
      graft.ext.SuffixDedup.topRepeats(Tables.documents(s, d), minLen = 8,
        topK = 50)),

    // REAL PNG pixel decode (JDK Inflater + full filter reconstruction):
    // per-image total / position-weighted / per-channel pixel sums —
    // order-sensitive, so the exact-hash oracle pins scanline order too
    "q365_png_pixels" -> { (s, d) =>
      implicit val sp: SparkSession = s
      graft.ext.Multimodal.pngPixelStats(Tables.documents(s, d))
    },

    // stream-fed user-value concentration: the q353 Gini/HHI readout
    // re-read from the daily closed-window per-user mass emitter (masses
    // merge by addition across windows — the FromCounts discipline)
    "q366_concentration_stream" -> ((s, d) =>
      graft.ext.Quality.concentrationFromMass(
        graft.streaming.Streams.userValueDaily(Tables.events(s, d))
          .groupBy(col("u").as("g")).agg(sum("cents").as("x")))),

    // stream-fed Benford audit: the q354 digit screen re-read from the
    // daily digit-count emitter's closed windows (9 counters per day)
    "q367_benford_stream" -> ((s, d) =>
      graft.ext.Quality.benfordFromDigitCounts(
        graft.streaming.Streams.digitCountsDaily(Tables.events(s, d))
          .groupBy("digit").agg(sum("n").as("n_obs")))),

    // the LONGEST exactly-duplicated token span in the corpus — suffix
    // indexing's "longest repeated substring" at corpus scale: climb
    // power-of-two rank depths, binary-search the gap, bit-fold levels
    "q368_longest_repeat" -> ((s, d) =>
      graft.ext.SuffixDedup.longestRepeat(Tables.documents(s, d))),

    // exact-substring TRIMMING at suffix-index precision: rebuild every
    // doc without tokens covered by any duplicated 8-window (no hashing,
    // same-doc repeats count — the no-collision sibling of q60)
    "q369_substr_trim" -> ((s, d) =>
      graft.ext.SuffixDedup.trimDupSpans(Tables.documents(s, d), minLen = 8)),

    // Friedman test: do the k event types differ in daily volume, judged
    // WITHIN each day (blocks = days, doubled midranks, grid-filled) —
    // the repeated-measures companion of q344
    "q370_friedman" -> ((s, d) =>
      graft.ext.RankStats.friedman(Tables.events(s, d),
        to_date(col("ts")), col("event_type"), lit(1L))),

    // Cochran's Q: do the k event types differ in heavy-usage adoption
    // (≥15 events) across users — the binary-outcome member of the
    // blocked family (McNemar's k-sample generalization)
    "q371_cochran_q" -> ((s, d) =>
      graft.ext.RankStats.cochranQ(
        Tables.events(s, d).groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n")),
        col("user_id"), col("event_type"), col("n") >= 15)),

    // setsim pre-flight pruning audit on q113's exact input: candidate
    // mass of naive vs prefix-filtered token joins vs the n² floor,
    // WITHOUT running any join — the "is this corpus Zipfian enough for
    // PPJoin" check (motivated by the measured sf1 anti-Zipfian blowup)
    "q372_setsim_audit" -> ((s, d) =>
      graft.ext.SetSim.pruningAudit(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0),
        tPermille = 600,
        tokens = graft.functions.ShingleFunctions.shingleStrings)),

    // Brown–Forsythe: do the event types differ in value SPREAD (median-
    // centered robust Levene) — the scale-difference companion to q344's
    // location question, exact rational F in ppm
    "q373_brown_forsythe" -> ((s, d) =>
      graft.ext.RankStats.brownForsythe(Tables.events(s, d),
        col("event_type"), expr("CAST(round(value * 100) AS BIGINT)"))),

    // stream-fed Friedman: the q370 panel re-read from the q357 hourly
    // count emitter's closed windows — counts merge by addition into
    // daily blocks, so the readout is a pure function of stored windows
    // (same oracle as q370)
    "q374_friedman_stream" -> ((s, d) =>
      graft.ext.RankStats.friedman(
        graft.streaming.Streams.decayedCountsHourly(Tables.events(s, d)),
        to_date(col("hour")), col("key"), col("c"))),

    // REAL baseline JPEG decode (marker walk, DHT reconstruction,
    // huffman + DPCM, dequantize, IDCT, fixed-point YCbCr→RGB): per-image
    // pixel statistics over the DC-exact synthetic JFIF corpus — the
    // q365 posture for the next container (grayscale odd ids, color even)
    "q375_jpeg_pixels" -> { (s, d) =>
      implicit val sp: SparkSession = s
      graft.ext.Jpeg.jpegPixelStats(Tables.documents(s, d))
    },

    // longest TRAIN↔EVAL common token span — exact-substring
    // contamination depth between corpora (q54's question at suffix-array
    // precision): tagged rank-doubling, cross-tag class predicate
    "q376_cross_corpus_repeat" -> ((s, d) =>
      graft.ext.SuffixDedup.crossLongestRepeat(
        Tables.documents(s, d).filter(col("doc_id") % 20 =!= 0),
        Tables.documents(s, d).filter(col("doc_id") % 20 === 0))),

    // dictionary phrase scan: every occurrence of every blocklist phrase
    // (variable 2-3 token sequences sampled from the corpus), per-(doc,
    // phrase) hit count + first position — rarest-token anchor joins,
    // positional verification, no automaton, no UDF
    "q377_phrase_scan" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val phrases = docs
        .select(col("doc_id"), graft.ext.TextAnalysis.tokens(col("text")).as("__ws"))
        .filter(col("doc_id") % 250 === 7)
        .withColumn("__L", ((col("doc_id") / 250).cast("long") % 2 + 2).cast("int"))
        .filter(size(col("__ws")) >= col("__L") + 2)
        .select(col("doc_id").as("phrase_id"),
          array_join(slice(col("__ws"), lit(3), col("__L")), " ").as("phrase"))
      graft.ext.TextAnalysis.phraseScan(docs, phrases)
    }),

    // per-language tokenizer fertility (BPE tokens per character, ppm)
    // under the same 6-merge vocabulary as q104 — the compression-rate
    // readout a multilingual data pipeline balances sampling against
    "q378_bpe_fertility" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ext.Bpe.tokenCounts(docs, nMerges = 6)
        .join(docs.select(col("doc_id"), col("lang"), col("n_chars")),
          Seq("doc_id"), "right")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("n_tokens"), lit(0L))).as("bpe_tokens"),
          sum("n_chars").as("n_chars"))
        .select(col("lang"), col("n_docs"), col("bpe_tokens"), col("n_chars"),
          expr("bpe_tokens * 1000000" +
            " div (CASE WHEN n_chars = 0 THEN 1 ELSE n_chars END)")
            .as("fertility_ppm"))
    }),

    // rendezvous (highest-random-weight) shard balance audit: per-shard
    // doc counts + share ppm; growing the shard count relocates only
    // docs landing on the NEW shard (LayoutSpec proves the property)
    "q379_rendezvous_shards" -> ((s, d) =>
      graft.ext.Layout.rendezvousShards(Tables.documents(s, d), nShards = 16)),

    // 4:2:0 subsampled JPEG decode — the dominant real-world form:
    // interleaved 6-block MCUs (Y 2×2 + Cb + Cr), half-resolution chroma
    // planes, replication upsampling, restart markers for ids % 3 == 0;
    // pixels stay closed-form (constant blocks survive subsampling)
    "q380_jpeg420_pixels" -> { (s, d) =>
      implicit val sp: SparkSession = s
      graft.ext.Jpeg.jpeg420PixelStats(Tables.documents(s, d))
    },

    // span-level eval decontamination (the q376 readout at span grain):
    // maximal eval-doc runs whose 8-token windows also occur in train —
    // tagged fixed-depth classes, cross-tag aggregate, per-doc islands
    "q381_cross_dup_spans" -> ((s, d) =>
      graft.ext.SuffixDedup.crossDupSpans(
        Tables.documents(s, d).filter(col("doc_id") % 20 =!= 0),
        Tables.documents(s, d).filter(col("doc_id") % 20 === 0))),

    // eval decontamination TRIM: train-shared window positions removed
    // from eval docs, text rebuilt in order, every eval doc reported
    "q382_cross_trim" -> ((s, d) =>
      graft.ext.SuffixDedup.trimCrossDupSpans(
        Tables.documents(s, d).filter(col("doc_id") % 20 =!= 0),
        Tables.documents(s, d).filter(col("doc_id") % 20 === 0))),

    // corpus-profiling JPEG quality estimation: DQT parsed (marker walk +
    // zigzag undo, no pixel decode), IJG argmin-L1 inversion against the
    // Annex-K bases; 8- AND 16-bit DQT precisions exercised (id % 5)
    "q383_jpeg_quality" -> { (s, d) =>
      implicit val sp: SparkSession = s
      graft.ext.Jpeg.jpegQualityStats(Tables.documents(s, d))
    },

    // progressive (SOF2) JPEG decode — multi-scan coefficient
    // accumulation: interleaved DC-first at Al=4, per-component spectral
    // AC scans, a raw-bit DC refinement with genuinely varying bits,
    // dequantize+IDCT once at EOI; odd ids grayscale non-interleaved,
    // even ids 4:2:0 color, ids % 5 == 0 restart-marked in every scan
    "q385_jpeg_progressive" -> { (s, d) =>
      implicit val sp: SparkSession = s
      graft.ext.Jpeg.jpegProgressivePixelStats(Tables.documents(s, d))
    },

    // G.711 µ-law/A-law audio decode (WAVE tags 7/6): real RIFF chunk
    // walk + the stateless CCITT companding expansion per byte → PCM16
    // stats; position-weighted sums pin sample order
    "q386_g711_audio" -> { (s, d) =>
      implicit val sp: SparkSession = s
      graft.ext.Audio.g711Stats(Tables.documents(s, d))
    },

    // IMA ADPCM audio decode (WAVE tag 0x11): extended-fmt parse, fact
    // chunk skipped, per-nibble predictor/step-index state machine over
    // the public tables; output carries the FINAL state — one wrong
    // transition anywhere shifts everything downstream
    "q387_adpcm_audio" -> { (s, d) =>
      implicit val sp: SparkSession = s
      graft.ext.Audio.adpcmStats(Tables.documents(s, d))
    },

    // MJPEG-in-AVI video decode: nested-LIST RIFF walk (hdrl/avih dims,
    // movi frame chunks, idx1 skipped) + the FULL JPEG pipeline per
    // frame; per-frame pixel sums pin each frame's independent decode
    "q388_mjpeg_video" -> { (s, d) =>
      implicit val sp: SparkSession = s
      graft.ext.Video.mjpegStats(Tables.documents(s, d))
    },

    // audio featurization on decoded PCM: exact integer energy, zero
    // crossings, peak magnitude — decode + featurize in one task pass
    "q389_audio_features" -> { (s, d) =>
      implicit val sp: SparkSession = s
      graft.ext.Audio.audioFeatures(Tables.documents(s, d))
    },

    // generalized PNG decode: Adam7 interlacing (incl. empty passes),
    // indexed color through a CRC-verified PLTE, 16-bit samples, all
    // five filters cycling per scanline, split IDAT streams
    "q390_png_full" -> { (s, d) =>
      implicit val sp: SparkSession = s
      graft.ext.Png.pngFullStats(Tables.documents(s, d))
    },

    // EXIF metadata extraction: APP1 locate, TIFF byte-order dispatch
    // (II and MM both exercised), IFD0 + 0x8769 sub-IFD walk — the
    // pre-decode profiling pass (orientation/dims/ISO) image pipelines
    // run over whole corpora without touching pixels
    "q391_exif_metadata" -> { (s, d) =>
      implicit val sp: SparkSession = s
      graft.ext.Exif.exifStats(Tables.documents(s, d))
    },

    // dual-detector dedup audit: Rand pair-counting agreement between
    // MinHash-LSH clusters (q22) and SimHash buckets (q49) — three
    // contingency aggregates, never the quadratic pair set
    "q384_cluster_agreement" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.ext.Dedup.clusteringAgreement(
        graft.ext.Dedup.minHashClusters(
          graft.ext.Dedup.minHashSignatures(docs, k = 16),
          k = 16, rowsPerBand = 4),
        graft.ext.Dedup.simHashClusters(docs, bits = 64, maxHamming = 3))
    })
  )

  /** The paired ranking relation shared by q346: each panel query's exact
    * top-20 candidates carrying both arms' order keys — x = −exact rank
    * (strict, row_number tie-broken), y = the raw int8-quantized dot
    * (can tie). The quantized score is recomputed ONLY on the panel×20
    * candidate rows: panel ranking joined against the corpus-sized
    * quantized-vector relation — plain equi-joins AQE resolves to
    * broadcasts of the small side.
    */
  private def onennRankArms(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val panel = emb.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(panel, emb, k = 20)
    val q = panel.select(col("vec_id").as("query_id"),
      Similarity.quantizeInt8(col("embedding")).as("qa"))
    val c = emb.select(col("vec_id").as("neighbor_id"),
      Similarity.quantizeInt8(col("embedding")).as("qb"))
    exact.join(broadcast(q), Seq("query_id")).join(c, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-col("rank")).cast("long").as("x_exact"),
        Similarity.quantizedDot(col("qa"), col("qb")).as("y_quant"))
  }

  /** The paired 1-NN label relation shared by q340/q341: each panel
    * query's exact-arm predicted label, quantized-arm predicted label,
    * and own true label. Both arms are panel-sized rankings (queries
    * broadcast, corpus scanned once each); the label joins put the
    * panel-sized ranking against the corpus-sized label relation — a
    * plain equi-join AQE resolves to a broadcast of the small side.
    */
  private def onennLabelPairs(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val panel = emb.filter(col("vec_id") % 50 === 0)
    val lab = emb.select(col("vec_id"), col("label"))
    def pred(arm: DataFrame, name: String) =
      arm.join(lab.select(col("vec_id").as("neighbor_id"), col("label").as(name)),
        "neighbor_id").select("query_id", name)
    pred(Similarity.bruteForceTopK(panel, emb, k = 1), "pred_exact")
      .join(pred(Similarity.quantizedTopK(panel, emb, k = 1), "pred_quant"),
        "query_id")
      .join(lab.select(col("vec_id").as("query_id"), col("label").as("truth")),
        "query_id")
  }

  /** q157's weighted variant of [[cooccurrenceEdges]]: w = 1000 div pair
    * support — strong ties are short edges, so shortest paths follow the
    * strongest co-purchase chains.
    */
  private def weightedCoocEdges(s: SparkSession, d: String): DataFrame =
    coocPairSupport(s, d).select(col("u"), col("v"), expr("1000 div pn").as("w"))

  /** The ≥2-order part co-occurrence graph `(u, v)` shared by q141/q146. */
  private def cooccurrenceEdges(s: SparkSession, d: String): DataFrame =
    coocPairSupport(s, d).select("u", "v")

  /** The `(u, v, pn)` part pairs bought together in ≥2 orders, u < v,
    * behind both co-purchase graphs: one corpus exchange on the order
    * key, then a co-located pair self-join and the exact support gate.
    */
  private def coocPairSupport(s: SparkSession, d: String): DataFrame = {
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("g"), col("l_partkey").as("item"))
      .repartition(col("g")).dropDuplicates("g", "item")
    items.select(col("g"), col("item").as("u"))
      .join(items.select(col("g"), col("item").as("v")), "g")
      .filter(col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("pn"))
      .filter(col("pn") >= 2)
  }

  def oracleSql: Map[String, String] = Map(
    "q01_retail_agg" -> Oracles.retailAgg,
    "q02_clean_union" -> Oracles.cleanUnion,
    "q03_wholesale_agg" -> Oracles.wholesaleAgg,
    "q04_inventory" -> Oracles.inventory,
    "q05_enrich" -> Oracles.enrich,
    "q06_brand_primary" -> Oracles.brandPrimary,
    "q07_brand_others" -> Oracles.brandOthers,
    "q08_brand_agg" -> Oracles.brandAgg,
    "q09_date_window" -> Oracles.dateWindow,
    "q10_sort_limit" -> Oracles.sortLimit,
    "q11_topk_per_brand" -> Oracles.topkPerBrand,
    "q12_dedup_exact" -> Oracles.dedupExact,
    "q13_text_stats" -> Oracles.textStats,
    "q14_minhash_sig" -> Oracles.minhashSignatures(16),
    "q15_minhash_pairs" -> Oracles.minhashPairs(16, 4),
    "q16_simhash" -> Oracles.simhash(32),
    "q17_ngram_jaccard" -> Oracles.ngramJaccard(10, 0.5, Some(0.9)),
    "q18_cosine_topk" -> Oracles.cosineTopK(50, 5),
    "q19_lsh_topk" -> Oracles.lshTopK(50, 5, 16, 4),
    "q20_events_hourly" -> Oracles.eventsHourly,
    "q21_event_sessions" -> Oracles.eventSessions,
    "q22_dedup_clusters" -> Oracles.minhashClusters(16, 4),
    "q23_media_features" -> Oracles.mediaFeatures,
    "q24_embedding_neardup" -> Oracles.embeddingNearDup(0.3, 16, 4),
    "q25_sliding_windows" -> Oracles.slidingWindows,
    "q26_cosine_topk_agg" -> Oracles.cosineTopK(50, 5),
    "q27_ivf_topk" -> Oracles.ivfTopK(37, 50, 3, 5),
    "q28_wholesale_report" -> Oracles.wholesaleReport,
    "q29_typed_retail_agg" -> Oracles.retailAgg,
    "q30_media_meta" -> Oracles.mediaMeta,
    "q31_walmart_flatten" -> Oracles.walmartFlatten,
    "q32_houzz_flatten" -> Oracles.houzzFlatten,
    "q33_faire_flatten" -> Oracles.faireFlatten,
    "q34_woo_flatten" -> Oracles.wooFlatten,
    "q35_dsco_flatten" -> Oracles.dscoFlatten,
    "q36_mirakl_flatten" -> Oracles.miraklFlatten,
    "q37_wayfair_flatten" -> Oracles.wayfairFlatten,
    "q38_lsh_adaptive" -> Oracles.lshAdaptiveTopK(50, 5, 16, 64, 256),
    "q39_asof_join" -> Oracles.asofJoin,
    "q50_asof_sliced" -> Oracles.asofJoin,
    "q52_asof_native" -> Oracles.asofJoin,
    "q40_dedup_best_copy" -> Oracles.dedupBestCopy(16, 4),
    "q41_stratified_sample" -> Oracles.stratifiedSample,
    "q42_range_join" -> Oracles.rangeJoin,
    "q43_vocab_topk" -> Oracles.vocabTopK(200),
    "q53_repetition_signals" -> Oracles.repetitionSignals,
    "q54_decontamination" -> Oracles.decontamination(4),
    "q44_curation_pipeline" -> Oracles.curationPipeline(16, 4),
    "q51_curation_shards" -> Oracles.curationShards(90, 2048L, 8),
    "q45_simhash_neardup" -> Oracles.simhashNearDup(64, 3),
    "q48_simhash_capped" -> Oracles.simhashNearDupCapped(64, 3, 64),
    "q49_simhash_clusters" -> Oracles.simhashClusters(64, 3),
    "q55_cc_clusters" -> Oracles.ccClusters(16, 4),
    "q56_dup_ngram_coverage" -> Oracles.dupNgramCoverage(5),
    "q57_tfidf_topk" -> Oracles.tfidfTopK(64, 10, 5),
    "q58_length_histogram" -> Oracles.lengthHistogram(50),
    "q60_trim_dup_spans" -> Oracles.trimDupSpans(5),
    "q59_shard_shuffle" -> Oracles.deterministicShuffle(8),
    "q46_doc_packing" -> Oracles.docPacking(2048, 8),
    "q47_cluster_split" -> Oracles.clusterSplit(90, 16, 4),
    "q61_hll_users" -> Oracles.hllRegisters(6),
    "q62_cm_heavy_hitters" -> Oracles.cmHeavyHitters(50, 4, 2048),
    "q63_bloom_semijoin" -> Oracles.bloomSemiJoin(3, 8192),
    "q64_sales_rollup" -> Oracles.salesRollup,
    "q65_events_pivot" -> Oracles.eventsPivot(Seq("click", "error", "purchase", "signup", "view")),
    "q66_token_deciles" -> Oracles.tokenCountQuantiles(10),
    "q67_salted_join" -> Oracles.saltedJoin,
    "q68_profile" -> Oracles.columnProfile(Seq("l_quantity", "l_returnflag", "l_shipdate", "l_orderkey")),
    "q69_editdist_verify" -> Oracles.editDistVerify(64, 3),
    "q70_events_unpivot" -> Oracles.eventsUnpivot(Seq("click", "error", "purchase", "signup", "view")),
    "q71_parts_except" -> Oracles.partsExcept,
    "q72_props_json" -> Oracles.propsJson,
    "q73_events_gapfill" -> Oracles.eventsGapFill,
    "q74_parts_intersect" -> Oracles.partsIntersect,
    "q75_sales_cube" -> Oracles.salesCube,
    "q76_quantized_topk" -> Oracles.quantizedTopK(50, 5),
    "q77_value_ntile" -> Oracles.valueNtile(4),
    "q78_source_deciles" -> Oracles.sourceQuantiles(10),
    "q79_salted_agg" -> Oracles.saltedAgg,
    "q80_forward_fill" -> Oracles.forwardFill,
    "q81_top_sku_argmax" -> Oracles.topSkuArgmax,
    "q82_zorder_address" -> Oracles.zorderAddress(65536, 16),
    "q83_inverted_index" -> Oracles.invertedIndex(2),
    "q84_phrase_match" -> Oracles.phraseMatch(Seq("table", "hash")),
    "q85_bm25_topk" -> Oracles.bm25TopK(Seq("join", "scan", "filter"), 10, 1.2, 0.75),
    "q86_star_revenue" -> Oracles.starRevenue("ASIA", "1996-01-01", "1998-01-01"),
    "q87_rolling_revenue" -> Oracles.rollingRevenue(7),
    "q88_event_funnel" -> Oracles.funnel(Seq("view", "click", "purchase")),
    "q89_snapshot_diff" -> Oracles.snapshotDiff,
    "q90_incremental_agg" -> Oracles.incrementalAgg,
    "q91_scd2_intervals" -> Oracles.scd2Intervals,
    "q92_quality_report" -> Oracles.qualityReport,
    "q93_mad_outliers" -> Oracles.madOutliers(3.0),
    "q94_domain_mix" -> Oracles.domainMix(
      Seq("src0" -> 4000L, "src1" -> 4000L, "src2" -> 1000L), 2000L),
    "q95_pagerank" -> Oracles.pageRank(5, 1000000000000L),
    "q96_media_phash" -> Oracles.mediaPerceptualHash(64),
    "q97_pii_scrub" -> Oracles.piiScrub,
    "q98_grouping_sets" -> Oracles.groupingSets,
    "q99_kmeans" -> Oracles.kmeansAssign(0, 2),
    "q100_semantic_dedup" -> Oracles.semanticDedup(0.3, 0, 2),
    "q101_triangles" -> Oracles.triangleCounts,
    "q102_bpe_merges" -> Oracles.bpeMerges(6),
    "q103_pit_lookup" -> Oracles.pitLookup,
    "q104_bpe_tokens" -> Oracles.bpeTokenCounts(6),
    "q105_curation_semantic" -> Oracles.curationSemantic(0.3),
    "q106_pq_topk" -> Oracles.pqTopK(50, 5, 4, 2),
    "q107_segment_dedup" -> Oracles.segmentDedup(16, 2),
    "q108_lm_quality" -> Oracles.lmQuality(),
    "q109_entity_resolution" -> Oracles.entityResolution(3, 64),
    "q110_clean_lm_curation" -> Oracles.cleanLmCuration(16, 2, -3.55),
    "q111_interval_overlap" -> Oracles.intervalOverlap,
    "q112_weighted_sample" -> Oracles.weightedSample(),
    "q113_setsim_join" -> Oracles.setSimJoin(600, 10),
    "q114_event_transitions" -> Oracles.eventTransitions,
    "q115_skyline_parts" -> Oracles.skylineParts,
    "q116_bitmap_overlap" -> Oracles.bitmapOverlap,
    "q117_brand_trend" -> Oracles.brandTrend,
    "q118_hourly_user_sketch" -> Oracles.hllRegistersHourly(6),
    "q119_negative_pairs" -> Oracles.negativePairs(4),
    "q120_hard_negatives" -> Oracles.hardNegatives(50, 5, 0.3, 16, 4),
    "q121_bpe_packing" -> Oracles.bpePacking(6, 2048L, 8),
    "q122_rrf_fusion" -> Oracles.rrfFusion(Seq("join", "scan", "filter"),
      qid = 0L, armK = 20, k = 10, c = 60),
    "q123_assoc_rules" -> Oracles.assocRules(2),
    "q124_retention" -> Oracles.retentionCohorts,
    "q125_daily_user_sketch" -> Oracles.hllRegistersDaily(6),
    "q126_kmv_daily_users" -> Oracles.kmvRegistersDaily(64),
    "q127_kmv_overlap" -> Oracles.kmvOverlap(64),
    "q128_exact_n_sample" -> Oracles.exactNSample(10, 250),
    "q129_cdc_merge" -> Oracles.cdcMerge,
    "q130_sampled_quantiles" -> Oracles.sampledQuantiles(64, 260, Seq(25, 50, 75, 90)),
    "q131_incremental_assign" -> Oracles.incrementalAssign(16, 4),
    "q132_dwell_times" -> Oracles.dwellTimes,
    "q133_attribution" -> Oracles.lastTouchAttribution(
      Seq("view", "click"), "purchase", 30L * 60 * 1000000),
    "q134_ann_recall" -> Oracles.annRecall(50, 5, 16, 4, 37, 3),
    "q135_metric_corr" -> Oracles.metricCorr,
    "q136_sorted_neighborhood" -> Oracles.sortedNeighborhood,
    "q137_rate_anomaly" -> Oracles.rateAnomalies(24, 12, 3),
    "q138_profile_drift" -> Oracles.profileDrift(
      Seq("event_type", "user_id", "value", "props"), "2024-01-16 00:00:00"),
    "q139_collocations" -> Oracles.collocations(5, 50),
    "q140_session_paths" -> Oracles.sessionPaths(30L * 60 * 1000000, 5, 20),
    "q141_kcore" -> Oracles.kCore(2, 8, 2),
    "q142_ewma_hourly" -> Oracles.ewmaHourly(3, 10, 8),
    "q143_media_frames" -> Oracles.mediaFrames(256, 16),
    "q144_minmax_normalize" -> Oracles.minMaxNormalize(64),
    "q145_session_ngrams" -> Oracles.sessionNgrams(3, 20, 30L * 60 * 1000000),
    "q146_label_propagation" -> Oracles.labelPropagation(4, 2),
    "q147_weighted_median" -> Oracles.weightedMedian,
    "q148_random_project" -> Oracles.randomProject(64, 8),
    "q149_conversion_lag" -> Oracles.conversionLagHistogram(
      Seq("view", "click", "purchase")),
    "q150_and_search" -> Oracles.andSearch(Seq("hash", "join", "scan"), 100),
    "q151_winsorized_agg" -> Oracles.winsorizedAgg(5, 95),
    "q152_bfs_distances" -> Oracles.bfsDistances(251, 4, 2),
    "q153_prototype_filter" -> Oracles.prototypicalityFilter(750000),
    "q154_remix_epochs" -> Oracles.remixEpochs(
      Seq("src0" -> 200000L, "src1" -> 100000L, "src2" -> 0L), 41176L),
    "q155_filtered_ann" -> Oracles.ivfTopK(37, 50, 3, 5, "AND label = 2"),
    "q156_mmr_rerank" -> Oracles.mmrRerank(50, 10, 5, 700000L),
    "q157_shortest_paths" -> Oracles.shortestPaths(251, 4, 2),
    "q158_label_cohesion" -> Oracles.labelCohesion,
    "q159_brand_mode_size" -> Oracles.brandModeSize,
    "q160_user_gini" -> Oracles.userGini,
    "q161_hybrid_mmr" -> Oracles.hybridMmr(
      Seq("join", "scan", "filter"), 0L, 20, 10, 60, 5, 990000L),
    "q162_vocab_drift" -> Oracles.vocabularyDrift(10),
    "q163_price_percentiles" -> Oracles.pricePercentiles,
    "q164_doc_chunks" -> Oracles.docChunks(64, 48),
    "q165_cluster_split3" -> Oracles.clusterSplitWeighted(
      Seq("train" -> 800000L, "val" -> 100000L, "test" -> 100000L)),
    "q166_frame_dups" -> Oracles.frameDupStats(256, 16),
    "q167_domain_quality_cut" -> Oracles.domainQualityCut(700000L),
    "q168_brand_pareto" -> Oracles.brandPareto(800000L),
    "q169_linear_attribution" -> Oracles.linearAttribution(
      Seq("view", "click"), "purchase", 30L * 60 * 1000000),
    "q170_join_skew" -> Oracles.joinSkew(20),
    "q171_ab_conversion" -> Oracles.armConversionTest("purchase", 196, 100),
    "q172_dedup_cascade" -> Oracles.dedupCascade(16, 4, 0.3),
    "q173_multiprobe_lsh" -> Oracles.multiProbeLshTopK(50, 5, 16, 8, 3),
    "q174_eval_set" -> Oracles.evalSet(5),
    "q175_dataset_card" -> Oracles.datasetCard,
    "q176_dsir_scores" -> Oracles.dsirScores(1024),
    "q177_pattern_match" -> Oracles.patternMatch("view", "purchase", "error",
      3600L * 1000000),
    "q178_kcenter_coreset" -> Oracles.kCenterGreedy(8),
    "q179_temperature_sample" -> Oracles.temperatureSample(2000),
    "q180_winnow_overlap" -> Oracles.winnowOverlap(4, 2, 100000, 10),
    "q181_ivfpq_topk" -> Oracles.ivfPqTopK(50, 5, 3, 4, 2),
    "q182_seasonal_anomaly" -> Oracles.seasonalAnomalies(3, 3),
    "q183_rolling_wau" -> Oracles.rollingActiveUsers(7),
    "q184_text_normalize" -> Oracles.textNormalize,
    "q185_asof_tolerance" -> Oracles.asofTolerance(600L * 1000000),
    "q186_asof_forward" -> Oracles.asofForward,
    "q187_asof_nearest" -> Oracles.asofNearest,
    "q188_variant_extract" -> Oracles.variantExtract,
    "q189_session_window" -> Oracles.sessionWindows,
    "q190_view_abandonment" -> Oracles.viewAbandonment,
    "q191_lateral_topk" -> Oracles.lateralTopK,
    "q192_scalar_subquery" -> Oracles.scalarSubquery,
    "q193_exists_subquery" -> Oracles.existsSubquery,
    "q194_transpose" -> Oracles.transposeReport,
    "q195_nested_export" -> Oracles.nestedExport,
    "q196_local_supplier_volume" ->
      Oracles.localSupplierVolume("ASIA", "1995-01-01", "1996-01-01"),
    "q197_recursive_spine" -> Oracles.recursiveSpine,
    "q198_chained_windows" -> Oracles.chainedWindows,
    "q199_token_map" -> Oracles.tokenMap,
    "q200_corpus_release" ->
      Oracles.corpusRelease(90, 2048L, 8, 4),
    "q201_price_buckets" -> Oracles.priceBuckets(8),
    "q202_topk_others" -> Oracles.topkOthers(5),
    "q203_new_vs_returning" -> Oracles.newVsReturning,
    "q204_daily_churn" -> Oracles.dailyChurn,
    "q205_rfm_segments" -> Oracles.rfmSegments("2024-07-01"),
    "q206_duplicate_events" -> Oracles.duplicateEvents(60L * 1000000),
    "q207_discount_elasticity" -> Oracles.discountElasticity,
    "q208_week_over_week" -> Oracles.weekOverWeek,
    "q209_reconciliation" -> Oracles.reconciliation,
    "q210_cohort_ltv" -> Oracles.cohortLtv,
    "q211_state_durations" -> Oracles.stateDurations,
    "q212_benford_audit" -> Oracles.benfordAudit,
    "q213_ship_delay_sla" -> Oracles.shipDelaySla,
    "q214_burstiest_users" -> Oracles.burstiestUsers(20),
    "q215_revenue_gini" -> Oracles.revenueGini,
    "q216_dead_stock" -> Oracles.deadStock,
    "q217_single_source_risk" -> Oracles.singleSourceRisk,
    "q218_discount_variance" -> Oracles.discountVariance,
    "q219_basket_histogram" -> Oracles.basketHistogram,
    "q220_fk_audit" -> Oracles.fkAudit,
    "q221_erasure_audit" -> Oracles.erasureAudit,
    "q222_bounce_rate" -> Oracles.bounceRate,
    "q223_props_variant" -> Oracles.propsVariant,
    "q224_daily_mix" -> Oracles.dailyMix,
    "q225_one_time_buyers" -> Oracles.oneTimeBuyers,
    "q226_media_decode" -> Oracles.mediaDecode,
    "q227_file_profile" -> Oracles.fileProfile,
    "q228_small_order_revenue" -> Oracles.smallOrderRevenue,
    "q229_k_anonymity" -> Oracles.kAnonymity(5),
    "q230_l_diversity" -> Oracles.lDiversity(3),
    "q231_padding_audit" -> Oracles.paddingAudit(64),
    "q232_psi_drift" -> Oracles.psiDrift("2024-01-16 00:00:00"),
    "q233_hourly_psi" -> Oracles.hourlyPsi,
    "q234_cdc_chunks" -> Oracles.cdcChunks(64),
    "q235_chunk_dedup" -> Oracles.chunkDupStats(64),
    "q236_loghist_quantiles" -> Oracles.logHistQuantiles(4, Seq(50, 90, 99)),
    "q237_cuped_readout" -> Oracles.cupedReadout("2024-01-16 00:00:00"),
    "q238_hourly_quantiles" -> Oracles.hourlyQuantiles(4, Seq(50, 90, 99)),
    "q239_srm_audit" -> Oracles.srmAudit(Seq(360, 362, 364, 366)),
    "q240_incremental_refresh" -> Oracles.incrementalRefresh(20, 18, 4, Seq(50, 90, 99)),
    // the oracle is the CLASSIC nested spelling of the q241 pipe chain —
    // a hash match proves the pipe parser lowers to the same relational op
    "q241_pipe_syntax" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS big_qty,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem WHERE l_quantity >= 30
        |GROUP BY l_returnflag HAVING COUNT(*) > 0""".stripMargin,
    "q242_dedup_stream_twin" -> Oracles.dedupStreamTwin,
    "q243_curate_stream_twin" -> Oracles.curateStreamTwin,
    "q244_png_probe" -> Oracles.pngProbe,
    "q245_eval_containment" -> Oracles.evalContainment(4),
    "q246_group_by_all" -> Oracles.groupByAll,
    "q247_param_sql" -> Oracles.paramSql,
    "q248_listagg_baskets" -> Oracles.listaggBaskets,
    "q249_water_fill" -> Oracles.waterFill(100000L),
    "q250_pca_component" -> Oracles.pcaComponent(24),
    "q251_pca_project" -> Oracles.pcaProject(24, 50),
    "q252_vocab_growth" -> Oracles.vocabGrowth(Seq(100, 250, 500, 1000), 410),
    "q253_pca_second" -> Oracles.pcaSecondComponent(24),
    "q254_perceptron_weights" -> Oracles.perceptronWeights(8),
    "q255_perceptron_eval" -> Oracles.perceptronEval(8),
    "q257_compaction_plan" -> Oracles.compactionPlan(500L),
    "q258_skipping_audit" -> Oracles.skippingAudit(64, 16, 97, 61),
    "q259_gate_calibration" -> Oracles.perceptronCalibration(8),
    "q260_shard_balance" -> Oracles.shardBalance(8),
    "q261_rank_agreement" -> Oracles.rankAgreement(5, 50, 5, 16, 4, 37, 3),
    "q262_t_closeness" -> Oracles.tCloseness,
    "q263_filter_attribution" -> Oracles.filterAttribution(10L, 0.66, 0.2),
    "q264_embedding_drift" -> Oracles.embeddingDrift(10),
    "q265_probe_recall_curve" -> Oracles.ivfProbeCurve(37, 100, 5, Seq(1, 2, 4, 8)),
    "q266_quantization_agreement" -> Oracles.rankAgreementSql(5,
      Oracles.cosineTopK(100, 5), Oracles.quantizedTopK(100, 5)),
    "q267_token_spectrum" -> Oracles.tokenSpectrum,
    "q268_cross_source_dups" -> Oracles.crossSourceChunkDups(64),
    "q269_sketch_error_audit" -> Oracles.logHistErrorAudit(4, Seq(50, 90, 99)),
    "q270_lsh_curve" -> Oracles.lshTuningCurve(16, Seq(4, 8, 16), 300),
    "q271_cm_join_size" -> Oracles.cmJoinSize(4, 256),
    "q272_coord_join_sample" -> Oracles.coordinatedJoinSample(100),
    "q273_hyperanf" -> Oracles.hyperAnf(3, 4),
    "q274_cusum_screen" -> Oracles.cusumScreen(96, 20, 8),
    "q275_matryoshka_agreement" -> Oracles.rankAgreementSql(5,
      Oracles.cosineTopK(100, 5), Oracles.cosineTopKDims(100, 5, 16)),
    "q276_topk_join" -> Oracles.topKPairJoin(20),
    "q277_bloom_fpr" -> Oracles.bloomFprAudit(3, 8192),
    "q278_corpus_digest" -> Oracles.corpusDigest,
    "q279_selectivity_audit" -> Oracles.selectivityAudit(32, 8),
    "q280_join_card_shootout" -> Oracles.joinCardEstimates(4, 256),
    "q281_ivm_join" -> Oracles.ivmJoinFull,
    "q282_curve_shootout" -> Oracles.curveAudit(64, 8, 13, 11),
    "q283_hits" -> Oracles.hits(3, 1000000L),
    "q284_modularity" -> Oracles.modularityReport(4, 2, 1000000L),
    "q285_hourly_acf" -> Oracles.acf(48),
    "q286_last_to_ship" -> Oracles.lastToShip,
    "q287_prospects" -> Oracles.prospects,
    "q288_file_bloom_audit" -> Oracles.fileBloomAudit(64, 3, 4096, 7, 1),
    "q289_count_sketch_drift" -> Oracles.countSketchDrift(5, 64, 11, 7),
    "q290_hourly_trend" -> Oracles.trendFit,
    "q291_markov_attribution" -> Oracles.markovAttribution("purchase", 12, 1000000L),
    "q292_optimize_manifest" -> Oracles.optimizeManifest(64, 8, 13, 11, 32),
    "q293_cs_cells_hourly" -> Oracles.csCellsHourly(5, 64),
    "q294_embedding_moments" -> Oracles.embeddingMomentsHourly(48),
    "q295_ndcg" -> Oracles.ndcgAtK(50, 10),
    "q296_bootstrap_ci" -> Oracles.bootstrapMeanCI(100, 25, 975),
    "q299_personalized_pagerank" -> Oracles.personalizedPageRank(4, 1000000000000L, 97),
    "q300_trend_by_key" -> Oracles.trendFitByKey,
    "q297_salt_plan" ->
      """SELECT event_type AS key, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(LEAST((COUNT(*) + 499) // 500, 256) AS INTEGER) AS salt
        |FROM events GROUP BY 1 HAVING COUNT(*) > 500""".stripMargin,
    "q298_planned_salted_join" ->
      """WITH dim AS (
        |  SELECT DISTINCT event_type, CAST(length(event_type) AS INTEGER) AS type_code
        |  FROM events)
        |SELECT e.event_id, e.event_type, d.type_code
        |FROM events e JOIN dim d USING (event_type)""".stripMargin,
    // the oracle recomputes the component FROM SCRATCH over the whole
    // corpus — a hash match proves the merged-moment retrain is exactly
    // the batch result
    "q256_pca_incremental" -> Oracles.pcaComponent(24),
    "q301_exact_quantiles" ->
      Oracles.exactQuantiles(Seq(500000L, 900000L, 990000L)),
    "q310_group_exact_quantiles" ->
      Oracles.groupExactQuantiles(Seq(250000L, 500000L, 750000L, 990000L)),
    "q302_conformal_band" -> Oracles.conformalTrendInterval(100000L),
    "q303_theilsen" -> Oracles.theilSenTrend,
    "q304_decayed_engagement" -> Oracles.decayedCountByKey(24, 40),
    "q308_seasonal_trend" -> Oracles.trendFitSeasonal,
    "q305_assortativity" -> Oracles.degreeAssortativity,
    "q306_local_clustering" -> Oracles.localClustering,
    "q307_chi2_drift" -> Oracles.chi2TokenDrift(10),
    "q309_decayed_snapshots" -> Oracles.decayedSnapshots(24, 40),
    "q311_weighted_quantiles" ->
      Oracles.weightedGroupQuantiles(Seq(250000L, 500000L, 750000L, 990000L)),
    "q312_spearman" -> Oracles.spearman,
    "q313_rank_auc" -> Oracles.rankSumAuc,
    "q314_tukey_outliers" -> Oracles.tukeyOutliers(1500000L),
    "q315_ks_statistic" -> Oracles.ksStatistic,
    "q316_chi2_independence" -> Oracles.chi2Independence,
    "q317_gate_auc" -> Oracles.gateAuc(8),
    "q318_interarrival_quantiles" ->
      Oracles.interarrivalQuantiles(Seq(500000L, 990000L)),
    "q319_pr_curve" -> Oracles.prCurve(50, 10),
    "q320_kaplan_meier" -> Oracles.kaplanMeier,
    "q321_diff_in_differences" -> Oracles.diffInDifferences("purchase"),
    "q322_conformal_by_key" -> Oracles.conformalByKey(100000L),
    "q323_quantile_effects" ->
      Oracles.quantileEffects((1 to 9).map(_ * 100000L)),
    "q324_loghist_ks" -> Oracles.logHistKs(4),
    "q325_yield_curve" -> Oracles.yieldCurve(20),
    "q326_ks_drift_series" -> Oracles.logHistKsSeries(4),
    // stream-fed twins: the emitters' closed windows are sufficient
    // statistics, so each oracle is its batch twin's oracle verbatim —
    // the hash match proves the stream path loses nothing
    "q327_cusum_stream" -> Oracles.cusumScreen(96, 20, 8),
    "q328_conformal_stream" -> Oracles.conformalTrendInterval(100000L),
    "q329_conformal_by_key_stream" -> Oracles.conformalByKey(100000L),
    "q330_f2_moment" -> Oracles.csF2Moment(5, 64),
    "q331_rrf_fusion" -> Oracles.rrfFusion(100, 5, 16, 60, 5),
    "q332_pettitt" -> Oracles.pettittTest,
    "q333_kcore" -> Oracles.kCore(80, 12),
    "q334_pettitt_stream" -> Oracles.pettittTest,
    "q335_rate_anomaly_stream" -> Oracles.rateAnomalies(24, 12, 3),
    "q336_seasonal_anomaly_stream" -> Oracles.seasonalAnomalies(3, 3),
    "q337_ewma_stream" -> Oracles.ewmaHourly(3, 10, 8),
    "q338_rolling_wau_stream" -> Oracles.rollingActiveUsers(7),
    "q339_daily_churn_stream" -> Oracles.dailyChurn,
    "q340_onenn_kappa" -> Oracles.onennKappa(50),
    "q341_onenn_mcnemar" -> Oracles.onennMcnemar(50),
    "q342_mann_kendall" -> Oracles.mannKendall,
    "q343_mann_kendall_stream" -> Oracles.mannKendall,
    "q344_kruskal_wallis" -> Oracles.kruskalWallis,
    "q345_avg_precision" -> Oracles.avgPrecision(50, 10),
    "q346_onenn_tau" -> Oracles.onennTau(50, 20),
    "q347_link_prediction" -> Oracles.linkPrediction(2, 64, 50),
    "q348_onenn_fleiss" -> Oracles.onennFleiss(50),
    "q349_radius_join" -> Oracles.radiusJoin(100),
    "q350_cross_correlation" -> Oracles.crossCorrelation("view", "purchase", 24),
    "q351_cross_correlation_stream" ->
      Oracles.crossCorrelation("view", "purchase", 24),
    "q352_churn_hazard" -> Oracles.churnHazard(7),
    "q353_concentration" -> Oracles.concentration,
    "q354_benford" -> Oracles.benford,
    "q355_churn_hazard_stream" -> Oracles.churnHazard(7),
    "q356_runs_test" -> Oracles.runsTest,
    "q357_runs_test_stream" -> Oracles.runsTest,
    "q358_weekend_effect" -> Oracles.weekendEffect,
    "q359_cramers_v" -> Oracles.cramersV,
    "q360_burstiness" -> Oracles.burstiness,
    "q361_peak_to_mean" -> Oracles.peakToMean,
    "q362_substr_dup_spans" -> Oracles.substrDupSpans(8),
    "q363_substr_doc_stats" -> Oracles.substrDocStats(8),
    "q364_substr_top_repeats" -> Oracles.substrTopRepeats(8, 50),
    "q365_png_pixels" -> Oracles.pngPixelStats,
    "q366_concentration_stream" -> Oracles.concentrationStream,
    "q367_benford_stream" -> Oracles.benfordStream,
    "q368_longest_repeat" -> Oracles.longestRepeat,
    "q369_substr_trim" -> Oracles.substrTrim(8),
    "q370_friedman" -> Oracles.friedman,
    "q371_cochran_q" -> Oracles.cochranQ,
    "q372_setsim_audit" -> Oracles.setSimAudit(600, 10),
    "q373_brown_forsythe" -> Oracles.brownForsythe,
    "q374_friedman_stream" -> Oracles.friedman,
    "q375_jpeg_pixels" -> Oracles.jpegPixelStats,
    "q376_cross_corpus_repeat" -> Oracles.crossCorpusRepeat,
    "q377_phrase_scan" -> Oracles.phraseScan,
    "q378_bpe_fertility" -> Oracles.bpeFertility(6),
    "q379_rendezvous_shards" -> Oracles.rendezvousShards(16),
    "q380_jpeg420_pixels" -> Oracles.jpeg420PixelStats,
    "q381_cross_dup_spans" -> Oracles.crossDupSpans(8),
    "q382_cross_trim" -> Oracles.trimCrossDupSpans(8),
    "q383_jpeg_quality" -> Oracles.jpegQualityStats,
    "q384_cluster_agreement" -> Oracles.clusteringAgreement(16, 4, 64, 3),
    "q385_jpeg_progressive" -> Oracles.jpegProgressivePixelStats,
    "q386_g711_audio" -> Oracles.g711Stats,
    "q387_adpcm_audio" -> Oracles.adpcmStats,
    "q388_mjpeg_video" -> Oracles.mjpegStats,
    "q389_audio_features" -> Oracles.audioFeatures,
    "q390_png_full" -> Oracles.pngFullStats,
    "q391_exif_metadata" -> Oracles.exifStats
  )
}
