package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.Pin.PinOps

/** Deduplication operators for training-data pipelines (SURVEY.md §7.5):
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Hash functions are engine-portable by construction: character-code
  * polynomial encodings + modular affine hashes (no JVM `hashCode`,
  * no Spark `hash()`), so a SQL oracle computes bit-identical values.
  *
  * Scale design: every stage is explode → hash-aggregate (map-side partial
  * first) or an equi-join on a hash/band key — the natural shuffle keys a
  * 1000-executor cluster needs. Candidate generation (LSH banding) keeps the
  * pair space near-linear; the quadratic all-pairs comparison only ever runs
  * inside a bucket.
  */
object Dedup {

  /** Exact dedup: group identical normalized text, keep the smallest id as
    * the canonical row (deterministic, unlike dropDuplicates' arbitrary
    * pick), count the clones.
    */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ---------------------------------------------------------------- MinHash

  /** Large prime modulus for the affine hash family (2^31 − 1). */
  val MinHashP: Long = 2147483647L
  def hashA(j: Int): Long = 37L * j + 11L
  def hashB(j: Int): Long = 101L * j + 31L

  /** Affine hash of a BIGINT column, member j of the family. The input is
    * reduced mod MinHashP BEFORE the multiply so `a·x` stays within Long
    * range for ANY id — an unreduced id above ~2^63/a would throw
    * ARITHMETIC_OVERFLOW under ANSI mode (and wrap divergently in engines
    * that don't check). Identical values for ids < MinHashP.
    */
  def affineHash(c: Column, j: Int): Column =
    (lit(hashA(j)) * pmod(c, lit(MinHashP)) + lit(hashB(j))) % MinHashP

  /** The degree-5 power permutation x⁵ mod P — bijective because
    * gcd(5, P−1) = 1 for the Mersenne prime P = 2³¹−1 (the same S-box
    * construction arithmetic-friendly hashes like Poseidon use). Three
    * modular multiplies, every intermediate < 2⁶² (ANSI-overflow-safe),
    * and expressible identically in any SQL engine.
    */
  def perm5(c: Column): Column = {
    val y = pmod(c, lit(MinHashP))
    val y2 = (y * y) % MinHashP
    val y4 = (y2 * y2) % MinHashP
    (y4 * y) % MinHashP
  }

  /** affine ∘ x⁵ ∘ affine (family members j, j+1) — the mixing hash for
    * anything that consumes hash BITS (shards, buckets, ranks) rather
    * than hash ORDER (MinHash only needs min-stability; one affine step
    * suffices there).
    *
    * Why the S-box: COMPOSING affine steps mod the same P is still affine
    * (a₂(a₁x+b₁)+b₂ = (a₁a₂)x + c mod P), so any stack of them maps
    * sequential keys to an arithmetic progression mod P — a lattice whose
    * low-bit residues cycle (shard skew) and whose top-bit max-rank
    * statistics are nothing like uniform (HLL undercounts 3×). The
    * degree-5 step is genuinely nonlinear, breaking the lattice at every
    * input magnitude, while the bracketing affines separate family
    * members (different j ⇒ different permutation) and scatter the
    * S-box output.
    */
  def mixHash(c: Column, j: Int): Column =
    affineHash(perm5(affineHash(c, j)), j + 1)

  /** Distinct character n-gram shingles of a text column; empty array when
    * the text is shorter than n (guarded: Spark's `sequence(1,0)` would
    * descend, not return empty).
    *
    * Implementation note: `substr(i, n)` per position is formally O(L²)
    * (codepoint scan from the string start), but measured FASTER by ~20×
    * than indexing a pre-split char array — Catalyst does not CSE the
    * `split` subexpression inside a lambda, so the array formulation
    * re-splits the document for every element access. substr's scan is a
    * tight byte loop and documents are KB-sized; keep substr.
    */
  def shingles(text: Column, n: Int): Column =
    when(length(text) >= n,
      array_distinct(transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Integer encoding of a ≤3-char shingle: base-2^16/2^8 positional code of
    * the character codepoints — cheap, deterministic, SQL-portable.
    */
  def encodeShingle3(sh: Column): Column =
    (ascii(sh.substr(lit(1), lit(1))).cast("long") * 65536L
      + ascii(sh.substr(lit(2), lit(1))).cast("long") * 256L
      + ascii(sh.substr(lit(3), lit(1))).cast("long"))

  /** MinHash signatures: k affine min-hashes over distinct 3-shingles.
    * Output: (idCol, h0..h{k-1}); docs shorter than 3 chars have no
    * shingles and drop out (documented).
    *
    * Plan shape: explode → partial min-agg per partition → single shuffle on
    * doc id → final min-agg. The k hashes ride one aggregation. Shingling +
    * encoding is the native one-pass [[graft.functions.ShingleCodes]]
    * expression (distinct encoded longs straight from the codepoints — no
    * per-position substr rescan, no string intermediates); equivalence to
    * the composed substr formulation is pinned by ShingleCodesSpec.
    */
  def minHashSignatures(docs: DataFrame, k: Int = 16,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = docs.select(col(idCol),
      explode(graft.functions.ShingleFunctions.shingleCodes(col(textCol))).as("x"))
    val aggs = (0 until k).map(j =>
      min((lit(hashA(j)) * col("x") + lit(hashB(j))) % MinHashP).as(s"h$j"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-doc array of band keys (one string key per band). */
  private def bandKeys(k: Int, rowsPerBand: Int): Column =
    array((0 until k / rowsPerBand).map { b =>
      concat_ws("_", ((b * rowsPerBand) until ((b + 1) * rowsPerBand)).map(j => col(s"h$j")): _*)
    }: _*)

  /** LSH banding over MinHash signatures: k hashes split into bands of
    * `rowsPerBand`; docs sharing any full band are candidate near-dups.
    * Returns candidate pairs (id_a < id_b), each exactly once.
    *
    * The self-join is on the band key — a proper shuffle key. Each side
    * carries its full key array so a pair is emitted only from the FIRST
    * band on which the two docs agree: near-dup docs that agree on every
    * band produce the pair once instead of once per band, which removes
    * the whole-output DISTINCT shuffle — the dominant cost on corpora with
    * dense duplicate clusters.
    */
  def minHashCandidatePairs(signatures: DataFrame, k: Int = 16, rowsPerBand: Int = 4,
                            idCol: String = "doc_id"): DataFrame = {
    val nBands = k / rowsPerBand
    // One column per band key (not an array): the first-agreeing-band filter
    // below stays plain column comparisons → whole-stage codegen. An
    // array + exists/zip_with formulation is interpreted per joined row —
    // measured 2× slower on dense-duplicate corpora.
    val keyCols = (0 until nBands).map(b => s"k$b")
    val withKeys = signatures.select(
      col(idCol) +: (0 until nBands).map { b =>
        concat_ws("_",
          ((b * rowsPerBand) until ((b + 1) * rowsPerBand)).map(j => col(s"h$j")): _*).as(s"k$b")
      }: _*)
    // pre-partition on the join key so both self-join sides hang off ONE
    // shuffle stage: without this, Spark plans the full signature
    // aggregation once per side (no cross-side subtree reuse; AQE DOES
    // reuse an identical materialized shuffle stage, even when one side
    // then feeds a broadcast) — measured ~30% of q15 wall
    val banded = withKeys.select(col(idCol) +: keyCols.map(col) :+
      explode(array((0 until nBands).map(lit): _*)).as("band"): _*)
      .withColumn("key",
        (1 until nBands).foldLeft(col("k0")) { (acc, b) =>
          when(col("band") === b, col(s"k$b")).otherwise(acc)
        })
      .repartition(col("band"), col("key"))
    val a = banded.select(col("band") +: col("key") +: col(idCol).as("id_a") +:
      keyCols.map(c => col(c).as(s"a_$c")): _*)
    val b = banded.select(col("band") +: col("key") +: col(idCol).as("id_b") +:
      keyCols.map(c => col(c).as(s"b_$c")): _*)
    // pair emitted only from the first band both docs agree on
    // (single-band configs have no earlier bands → always true)
    val noEarlierAgreement = (0 until nBands - 1)
      .map(i => col("band") <= i || col(s"a_k$i") =!= col(s"b_k$i"))
      .reduceOption(_ && _).getOrElse(lit(true))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b") && noEarlierAgreement)
      .select("id_a", "id_b")
  }

  /** Near-linear MinHash dedup for corpora with dense duplicate clusters:
    * instead of materializing the quadratic candidate-pair set, assign each
    * doc a cluster representative = the smallest doc id seen in any of its
    * LSH buckets (one-pass approximation of connected components over the
    * candidate graph). Output is one row per doc — O(n) at any scale.
    */
  def minHashClusters(signatures: DataFrame, k: Int = 16, rowsPerBand: Int = 4,
                      idCol: String = "doc_id"): DataFrame = {
    val nBands = k / rowsPerBand
    // pre-partition once on (band, key): the bucket-min agg AND both sides
    // of the join-back reuse the same shuffle stage instead of re-deriving
    // the signature subtree per consumer (same stage-reuse note as
    // minHashCandidatePairs)
    val banded = signatures
      .select(col(idCol), posexplode(bandKeys(k, rowsPerBand)).as(Seq("band", "key")))
      .repartition(col("band"), col("key"))
    val bucketMin = banded.groupBy("band", "key")
      .agg(min(col(idCol)).as("bucket_rep"))
    banded.join(bucketMin, Seq("band", "key"))
      .groupBy(col(idCol))
      .agg(min("bucket_rep").as("cluster_rep"))
  }

  /** Incremental LSH assignment — the daily-crawl-append primitive: match
    * each NEW-batch doc against the EXISTING corpus's band index without
    * touching (let alone re-clustering) the corpus itself. A batch doc
    * sharing any full MinHash band with an indexed doc is assigned the
    * smallest matching bucket representative (the [[minHashClusters]]
    * keeper rule applied cross-corpus); a doc matching nothing — including
    * docs too short to shingle — is NOVEL and represents itself.
    * Output: one row per batch doc `(idCol, assigned_rep, is_novel)`.
    *
    * Scale shape: the index reduces to its bucket table `(band, key,
    * bucket_rep)` — ≤ nBands rows per indexed doc, min-aggregated, the
    * artifact a production pipeline computes ONCE and persists across
    * daily appends. The batch side bands, joins on (band, key) — an
    * equi-join whose build side is the bucket table, shuffled on the same
    * key the index agg just produced — and min-aggregates back to one row
    * per batch doc. Every stage is batch-sized except the index agg;
    * nothing is quadratic and the corpus text is read exactly once.
    */
  def incrementalAssign(index: DataFrame, batch: DataFrame, k: Int = 16,
                        rowsPerBand: Int = 4, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    def banded(docs: DataFrame): DataFrame =
      minHashSignatures(docs, k, idCol, textCol)
        .select(col(idCol), posexplode(bandKeys(k, rowsPerBand)).as(Seq("band", "key")))
    val bucketIndex = banded(index)
      .groupBy("band", "key").agg(min(col(idCol)).as("bucket_rep"))
    // left join: a banded batch doc with zero index matches keeps its rows
    // (null rep) so the per-doc agg still sees it; min() skips the nulls
    val matched = banded(batch)
      .join(bucketIndex, Seq("band", "key"), "left")
      .groupBy(col(idCol))
      .agg(min(col("bucket_rep")).as("matched_rep"))
    batch.select(col(idCol))
      .join(matched, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("matched_rep"), col(idCol)).as("assigned_rep"),
        col("matched_rep").isNull.as("is_novel"))
  }

  /** Linear-size edge set for exact component finding over the LSH candidate
    * graph: each doc connects to the SMALLEST doc id in each of its buckets
    * (a "star" per bucket). Connected components over these star edges equal
    * components over all within-bucket pairs — every pair in a bucket is
    * linked through the bucket's minimum — but the edge count is
    * O(n · nBands), not O(Σ bucket²). This is what makes exact dedup
    * clustering feasible on a 100 TB corpus where dense template families
    * would make the pairwise candidate set quadratic.
    * Output: (src, dst) with src > dst, distinct.
    */
  def minHashStarEdges(signatures: DataFrame, k: Int = 16, rowsPerBand: Int = 4,
                       idCol: String = "doc_id"): DataFrame = {
    val banded = signatures
      .select(col(idCol), posexplode(bandKeys(k, rowsPerBand)).as(Seq("band", "key")))
      .repartition(col("band"), col("key"))
    val bucketMin = banded.groupBy("band", "key")
      .agg(min(col(idCol)).as("dst"))
    banded.join(bucketMin, Seq("band", "key"))
      .filter(col(idCol) =!= col("dst"))
      .select(col(idCol).as("src"), col("dst"))
      .distinct()
  }

  /** EXACT connected components over an undirected edge list — the transitive
    * closure [[minHashClusters]] approximates in one pass. A doc chain
    * A~B (bucket 1), B~C (bucket 2) is ONE component here, where the
    * one-pass bucket-min can leave A and C under different representatives.
    *
    * Algorithm: iterative min-label propagation with pointer jumping.
    * Each round every node takes the minimum label among itself and its
    * neighbors (one equi-join + one min-aggregate — both proper shuffle
    * keys), then labels compress through themselves (label(v) :=
    * label(label(v)), one more equi-join), giving O(log n) rounds on
    * chains instead of O(diameter). Rounds materialize via
    * `localCheckpoint` so the plan does not grow with the iteration count.
    *
    * Convergence proof, not heuristic: labels are node ids and only ever
    * decrease, so the per-round SUM(label) (DECIMAL(38,0) — id sums
    * overflow BIGINT at petabyte corpus sizes) is strictly monotone until
    * fixpoint; an unchanged sum certifies component-stable labels. A
    * non-converged `maxRounds` exit throws rather than returning
    * approximate clusters.
    *
    * @param nodes  one row per node (isolated nodes keep their own id as rep)
    * @return (idCol, component_rep)
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
                          srcCol: String = "src", dstCol: String = "dst",
                          idCol: String = "doc_id", maxRounds: Int = 25): DataFrame = {
    // materialize the edge list ONCE: sym is joined every round, and
    // without the checkpoint its whole upstream derivation (for q55, the
    // MinHash signature pipeline) re-executes per round — measured as the
    // dominant cost of the iterative loop, not the loop itself
    val sym = edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
      .union(edges.select(col(dstCol).as("s"), col(srcCol).as("d")))
      .pin()
    var labels = nodes.select(col(idCol).as("id"), col(idCol).as("label"))
      .pin()
    // sum over zero rows is NULL — map it to 0 so an empty node set
    // converges to an empty result instead of NPE-ing the compare
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val nbr = sym.join(labels, sym("s") === labels("id"))
        .select(col("d").as("id"), col("label"))
      val propagated = labels.union(nbr)
        .groupBy("id").agg(min("label").as("label"))
      // pointer jump: labels are always node ids, so label(label(v)) resolves
      val l2 = propagated.select(col("id").as("rep_id"), col("label").as("rep_label"))
      val jumped = propagated.join(l2, propagated("label") === l2("rep_id"))
        .select(col("id"), col("rep_label").as("label"))
        .pin()
      val s = labelSum(jumped)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      // overwriting `labels` drops the only reference to the previous
      // round's checkpointed RDD — the ContextCleaner then frees its
      // storage blocks (localCheckpoint data is not a cacheManager entry,
      // so Dataset.unpersist would be a no-op here), keeping peak label
      // storage O(n), not O(rounds · n)
      labels = jumped
      round += 1
    }
    require(converged, s"connectedComponents: no fixpoint after $maxRounds rounds")
    labels.select(col("id").as(idCol), col("label").as("component_rep"))
  }

  /** Quality-aware cluster dedup — the production "keep the best copy"
    * policy: for each near-dup cluster (from [[minHashClusters]]), survive
    * the highest-quality member (rounded quality from TextAnalysis.stats;
    * ties → smallest id). One row per cluster: (cluster_rep, keep_id,
    * quality, n_docs).
    *
    * Scale: join on doc id + one rank window partitioned by cluster_rep —
    * both proper shuffle keys; WindowGroupLimit prunes the rank to one row
    * per cluster before the final exchange.
    */
  def bestCopyPerCluster(clusters: DataFrame, stats: DataFrame,
                         idCol: String = "doc_id"): DataFrame = {
    val joined = clusters.join(stats.select(col(idCol), col("quality")), Seq(idCol))
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy("cluster_rep")
    val w = byCluster.orderBy(col("quality").desc, col(idCol))
    joined
      .withColumn("rn", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster_rep"), col(idCol).as("keep_id"), col("quality"), col("n_docs"))
  }

  // ---------------------------------------------------------------- SimHash

  /** Portable token hash: base-128 positional code of the first 8
    * codepoints, each folded mod 128 (0-padded). The fold keeps every term
    * below 2^56 for ANY codepoint — without it a CJK/astral codepoint
    * (ascii() returns the full codepoint) overflows Long in Spark while
    * the SQL oracle's wide/checked integers diverge or error. Identity for
    * ASCII. Identical SQL exists in any engine with ascii()/substring().
    */
  def encodeToken(t: Column): Column =
    (1 to 8).map(i => (ascii(t.substr(lit(i), lit(1))) % 128).cast("long") * (1L << (7 * (8 - i))))
      .reduce(_ + _)

  /** 32-bit SimHash over whitespace tokens (frequency-weighted): bit i of
    * the output is the sign of Σ_tokens (2·bit_i(hash(token)) − 1).
    */
  def simHash(docs: DataFrame, bits: Int = 32,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    simHashOf(docs, encodeToken, bits, idCol, textCol)

  /** The one SimHash body: [[simHash]] and [[simHash64]] differ only in
    * the token encoder ([[encodeToken]] or [[encodeToken64]]) and in how
    * many of its low bits vote. Per document, bit i of the output is set
    * when more of its tokens have bit i set than clear.
    */
  private def simHashOf(docs: DataFrame, encode: Column => Column, bits: Int,
                        idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .withColumn("x", encode(col("t")))
    val sums = (0 until bits).map(i =>
      sum(shiftright(col("x"), i) % 2L * 2L - 1L).as(s"s$i"))
    toks.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
      .select(col(idCol),
        (0 until bits).map(i => when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Hamming distance between two simhash longs (for pairing buckets). */
  def hammingDist(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Sorted-neighborhood candidate pairs (window 2): every document is
    * paired with its successor in global `(simhash64, doc_id)` order, each
    * pair annotated with its hamming distance — the classic
    * record-linkage blocking alternative to LSH banding: EXACTLY n−1
    * candidate pairs for n documents, at any duplicate density (the
    * all-pairs blowup a dense corpus forces on band joins cannot happen
    * here; the trade is recall — near-dups separated in sort order are
    * missed, which is why it complements rather than replaces q15/q45).
    *
    * Scale shape: NO global window. The sort key's top `bucketBits` bits
    * partition the corpus into contiguous key ranges, so in-bucket
    * successors come from a per-bucket `lead` (one bucket-key shuffle),
    * and the only cross-bucket adjacencies are the ≤ 2^bucketBits
    * boundary pairs — computed from a per-bucket min/max aggregate (one
    * row per non-empty bucket) whose single-partition window is
    * bucket-count-sized, never corpus-sized. Because the bucket is a key
    * PREFIX, bucket order = key-range order, so in-bucket successors plus
    * consecutive-bucket boundary pairs reconstruct global adjacency
    * exactly.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, bucketBits: Int = 8,
                              idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    require(bucketBits > 0 && bucketBits < SimHash64Bits, "bucketBits out of range")
    val sim = simHash64(docs, idCol, textCol)
      .withColumn("bucket", shiftright(col("simhash"), SimHash64Bits - bucketBits))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy(col("simhash"), col(idCol))
    val inBucket = sim
      .withColumn("nid", lead(col(idCol), 1).over(w))
      .withColumn("nsim", lead(col("simhash"), 1).over(w))
      .filter(col("nid").isNotNull)
    // one row per non-empty bucket: lexicographic (simhash, id) min/max
    // via struct ordering; the follow-up window runs over ≤ 2^bucketBits
    // rows — bounded by construction, not by the corpus
    val bounds = sim.groupBy("bucket").agg(
      min(struct(col("simhash"), col(idCol).as("id"))).as("first"),
      max(struct(col("simhash"), col(idCol).as("id"))).as("last"))
    // keyspace-sized window: input is collapsed/bounded before this sort
    val bw = org.apache.spark.sql.expressions.Window.orderBy("bucket")
    val boundary = bounds
      .withColumn("nxt", lead(col("first"), 1).over(bw))
      .filter(col("nxt").isNotNull)
      .select(col("last.id").as(idCol), col("last.simhash").as("simhash"),
        col("nxt.id").as("nid"), col("nxt.simhash").as("nsim"))
    inBucket.select(col(idCol), col("simhash"), col("nid"), col("nsim"))
      .unionByName(boundary)
      .select(col(idCol).as("id_a"), col("nid").as("id_b"),
        hammingDist(col("simhash"), col("nsim")).cast("int").as("hamming"))
  }

  // --------------------------------------------------------- 64-bit SimHash

  /** Number of populated bits in the wide simhash: two 31-bit affine halves
    * → bits 0..61 carry signal, bits 62-63 are always 0 (so a `bits = 64`
    * band split gives the top band 14 effective bits — still a 16k-value
    * join key, vs 256 values for the 8-bit bands a 32-bit hash forces).
    */
  val SimHash64Bits: Int = 62

  /** Mixing constants for the two 31-bit halves (classic LCG multipliers —
    * the small `hashA` family multipliers would leave low-bit correlations
    * between similar tokens, skewing per-band bucket distribution).
    */
  private[graft] val Mix1A = 1103515245L; private[graft] val Mix1B = 12345L
  private[graft] val Mix2A = 1588635695L; private[graft] val Mix2B = 1117695901L

  /** 62-bit portable token hash: the base-128 token code reduced mod P,
    * then two independent affine hashes mod P packed as (h1 << 31) | h2.
    * All intermediates stay below 2^62 — ANSI-safe and bit-identical in
    * any engine with BIGINT arithmetic.
    */
  def encodeToken64(t: Column): Column = {
    val xm = pmod(encodeToken(t), lit(MinHashP))
    val h1 = (lit(Mix1A) * xm + lit(Mix1B)) % MinHashP
    val h2 = (lit(Mix2A) * xm + lit(Mix2B)) % MinHashP
    h1 * lit(2147483648L) + h2
  }

  /** Wide (62 effective bits) frequency-weighted SimHash — the scale
    * parameterization: hamming ≤ 3 over 62 random bits only accepts
    * genuinely near-identical token distributions, where 32 bits accepted
    * ~98% of ALL pairs on template-heavy corpora (round-2 measurement).
    */
  def simHash64(docs: DataFrame,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    simHashOf(docs, encodeToken64, SimHash64Bits, idCol, textCol)

  /** Hash dispatch: 64 → the wide hash, else the narrow parameterized one. */
  private def simHashFor(docs: DataFrame, bits: Int, idCol: String, textCol: String): DataFrame =
    if (bits == 64) simHash64(docs, idCol, textCol) else simHash(docs, bits, idCol, textCol)

  /** Pigeonhole bit-band boundaries: `maxHamming + 1` contiguous bands
    * (shared with the SQL oracle generator so banding cannot drift).
    */
  private[graft] def pigeonholeBands(bits: Int, maxHamming: Int): Seq[(Int, Int)] = {
    val nBands = maxHamming + 1
    (0 until nBands).map { b =>
      val lo = bits * b / nBands
      val hi = bits * (b + 1) / nBands // exclusive
      (lo, hi - lo)
    }
  }

  private def bandKeyExpr(lo: Int, w: Int): Column =
    shiftrightunsigned(col("simhash"), lo) % (1L << w)

  /** SimHash near-duplicate pairs with hamming distance ≤ maxHamming —
    * EXACT result via pigeonhole banding, not an approximation: the hash
    * is split into `maxHamming + 1` bit-bands, and two hashes within
    * `maxHamming` differing bits must agree exactly on at least one band,
    * so candidate generation is an equi-join on (band, band-bits) — a
    * proper shuffle key, never an all-pairs comparison — followed by the
    * exact hamming filter. Each qualifying pair is emitted once, from the
    * first band the two hashes agree on (same no-DISTINCT trick as
    * [[minHashCandidatePairs]]).
    */
  def simHashNearDupPairs(docs: DataFrame, bits: Int = 64, maxHamming: Int = 3,
                          maxBucketCandidates: Option[Int] = None,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    nearDupPairsFromHashes(simHashFor(docs, bits, idCol, textCol), bits,
      maxHamming, maxBucketCandidates, idCol)

  /** The banded near-dup pair machinery over a PRECOMPUTED (id, hash)
    * relation — SimHash is one producer; perceptual hashes of media
    * ([[Multimodal.perceptualHash]]) or any other ≤64-bit fingerprint
    * column plug in unchanged. Same guarantees as
    * [[simHashNearDupPairs]]: pigeonhole bands find EVERY pair within
    * `maxHamming`, first-agreeing-band emit yields each pair exactly once
    * (no whole-output DISTINCT), optional per-bucket cap bounds skew.
    */
  def nearDupPairsFromHashes(hashed: DataFrame, bits: Int = 64,
                             maxHamming: Int = 3,
                             maxBucketCandidates: Option[Int] = None,
                             idCol: String = "doc_id",
                             hashCol: String = "simhash"): DataFrame = {
    val nBands = maxHamming + 1
    val bandBits = pigeonholeBands(bits, maxHamming)
    val sim = hashed.select(col(idCol), col(hashCol).as("simhash"))
    maxBucketCandidates match {
      case Some(cap) => return simHashNearDupPairsCapped(sim, bandBits, maxHamming, cap, idCol)
      case None => ()
    }
    val withBands = sim.select(
      col(idCol) +: col("simhash") +: bandBits.zipWithIndex.map { case ((lo, w), b) =>
        bandKeyExpr(lo, w).as(s"b$b")
      }: _*)
    val banded = withBands.select(col(idCol) +: col("simhash") +:
      (0 until nBands).map(b => col(s"b$b")) :+
      explode(array((0 until nBands).map(lit): _*)).as("band"): _*)
      .withColumn("key",
        (1 until nBands).foldLeft(col("b0")) { (acc, b) =>
          when(col("band") === b, col(s"b$b")).otherwise(acc)
        })
      // one shuffle stage feeds both self-join sides (stage-reuse note in
      // minHashCandidatePairs) — the simhash agg runs once, not twice
      .repartition(col("band"), col("key"))
    val a = banded.select(col("band") +: col("key") +: col(idCol).as("id_a") +:
      col("simhash").as("sim_a") +: (0 until nBands).map(b => col(s"b$b").as(s"a_b$b")): _*)
    val bb = banded.select(col("band") +: col("key") +: col(idCol).as("id_b") +:
      col("simhash").as("sim_b") +: (0 until nBands).map(b => col(s"b$b").as(s"b_b$b")): _*)
    val noEarlierAgreement = (0 until nBands - 1)
      .map(i => col("band") <= i || col(s"a_b$i") =!= col(s"b_b$i"))
      .reduceOption(_ && _).getOrElse(lit(true))
    a.join(bb, Seq("band", "key"))
      .filter(col("id_a") < col("id_b") && noEarlierAgreement)
      .withColumn("hamming", hammingDist(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Capped candidate generation: each (band, key) bucket is truncated to
    * its `cap` smallest doc ids (deterministic, SQL-mirrorable), so one
    * pathological bucket contributes at most cap²/2 candidates — the skew
    * bound the uncapped path lacks. BECAUSE the cap bounds bucket size,
    * the bucket's members fit in one aggregation value: pairs are emitted
    * from a per-bucket sorted `collect_list` in a SINGLE pass — no
    * self-join, so the simhash aggregation subtree runs once, not once
    * per join side (measured 2× on the previous self-join formulation —
    * Spark does not reuse the exchange across sides). A pair agreeing on
    * several bands surfaces once per band; the (bounded) output dedupes
    * with one DISTINCT. Capping trades recall for the bound: a doc capped
    * out of every shared bucket loses its pairs (approximate, like LSH
    * capping in [[Similarity]]).
    */
  private def simHashNearDupPairsCapped(sim: DataFrame, bandBits: Seq[(Int, Int)],
                                        maxHamming: Int, cap: Int, idCol: String): DataFrame = {
    val banded = sim.select(col(idCol), col("simhash"),
      posexplode(array(bandBits.map { case (lo, w) => bandKeyExpr(lo, w) }: _*))
        .as(Seq("band", "key")))
    // rank-window truncation BEFORE collecting: the cap must bound the
    // aggregation buffer itself, not just the output — a post-collect
    // slice() would still buffer a whole pathological bucket in memory.
    // WindowGroupLimit prunes rank > cap map-side, and the window + the
    // groupBy share one (band, key) exchange.
    val rn = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("band", "key").orderBy(col(idCol)))
    val buckets = banded
      .withColumn("rn", rn).filter(col("rn") <= cap).drop("rn")
      .groupBy("band", "key")
      .agg(sort_array(collect_list(struct(col(idCol).as("i"), col("simhash").as("s"))))
        .as("docs"))
    val pairsArr = expr(
      """flatten(transform(docs, (a, i) ->
        |  transform(slice(docs, i + 2, size(docs)), b ->
        |    struct(a.i AS id_a, b.i AS id_b, a.s AS sa, b.s AS sb))))""".stripMargin)
    buckets
      .select(explode(pairsArr).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        hammingDist(col("p.sa"), col("p.sb")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** O(n)-output SimHash dedup for dense duplicate clusters — the analogue
    * of [[minHashClusters]] over pigeonhole bit-bands: each doc's cluster
    * representative is the smallest doc id seen in any of its band
    * buckets (one-pass connected-components approximation over the
    * candidate graph; bucket co-membership, not verified hamming, defines
    * an edge — same contract as the MinHash variant). One row per doc at
    * any duplicate density: the scale path where pair output is Θ(n²).
    */
  def simHashClusters(docs: DataFrame, bits: Int = 64, maxHamming: Int = 3,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sim = simHashFor(docs, bits, idCol, textCol)
    val banded = sim.select(col(idCol),
      posexplode(array(pigeonholeBands(bits, maxHamming).map { case (lo, w) =>
        bandKeyExpr(lo, w)
      }: _*)).as(Seq("band", "key")))
      // one shuffle stage feeds the bucket-min agg and the join-back
      .repartition(col("band"), col("key"))
    val bucketMin = banded.groupBy("band", "key").agg(min(col(idCol)).as("bucket_rep"))
    banded.join(bucketMin, Seq("band", "key"))
      .groupBy(col(idCol))
      .agg(min("bucket_rep").as("cluster_rep"))
  }

  // ---------------------------------------------------------- n-gram Jaccard

  /** Pair-level agreement between two clusterings of the same corpus —
    * the Rand-index decomposition a dedup pipeline publishes when it runs
    * two near-dup detectors (MinHash-LSH vs SimHash buckets) side by
    * side: over all C(n,2) doc pairs of the JOINED id set, how many are
    * co-clustered by both, by exactly one, by neither, and the Rand
    * index in ppm. Everything derives from three contingency aggregates
    * (Σ C(n_ij,2), Σ C(n_i·,2), Σ C(n_·j,2)) — never the quadratic pair
    * set itself (Rand 1971; the pair-counting identity is public
    * statistics). 1-row output: (n_docs, pairs_total, same_both,
    * same_a_only, same_b_only, same_neither, rand_ppm).
    *
    * Scale shape: one id equi-join, three map-combined aggregates over
    * cluster-keyspace relations, a broadcast cross of four 1-row frames.
    * Counts are BIGINT: the binding bound is the INTERMEDIATE product
    * n·(n−1) before the `div 2`, which wraps past n ≈ 3.0·10⁹ members in
    * one cluster (or joined docs total) — Spark wraps silently under
    * non-ANSI eval. Past that, move the pair arithmetic to
    * DECIMAL(38,0) (`CAST(n AS DECIMAL(38,0)) * (n - 1) div 2`); the
    * aggregates themselves never widen.
    */
  def clusteringAgreement(a: DataFrame, b: DataFrame,
                          idCol: String = "doc_id",
                          clusterCol: String = "cluster_rep"): DataFrame = {
    val j = a.select(col(idCol).as("__id"), col(clusterCol).as("__ca"))
      .join(b.select(col(idCol).as("__id"), col(clusterCol).as("__cb")),
        Seq("__id"))
      .pin() // one-shot: four independent aggregates read it
    def pairSum(groups: Seq[String], out: String) =
      j.groupBy(groups.map(col): _*).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as(out))
    val both = pairSum(Seq("__ca", "__cb"), "same_both")
    val pa = pairSum(Seq("__ca"), "__pa")
    val pb = pairSum(Seq("__cb"), "__pb")
    val nn = j.agg(count(lit(1)).as("n_docs"))
    nn.crossJoin(broadcast(both)).crossJoin(broadcast(pa))
      .crossJoin(broadcast(pb))
      .select(col("n_docs"),
        expr("n_docs * (n_docs - 1) div 2").as("pairs_total"),
        col("same_both"),
        (col("__pa") - col("same_both")).as("same_a_only"),
        (col("__pb") - col("same_both")).as("same_b_only"),
        expr("n_docs * (n_docs - 1) div 2 - __pa - __pb + same_both")
          .as("same_neither"),
        // DECIMAL(38,0) for the ×10⁶ (it would wrap BIGINT past ~9·10¹²
        // agreeing pairs, i.e. n ≈ 4·10⁶ docs); Spark `div` lands back
        // on BIGINT, so the output column stays harness-safe
        expr("CAST((same_both + n_docs * (n_docs - 1) div 2 - __pa - __pb" +
          " + same_both) AS DECIMAL(38,0)) * 1000000" +
          " div greatest(n_docs * (n_docs - 1) div 2, 1)").as("rand_ppm"))
  }

  /** Exact n-gram Jaccard similarity for all pairs within `docs` (apply to a
    * pre-filtered candidate set or sampled subset — this is the quadratic
    * verifier that LSH banding feeds at scale, not a whole-corpus op).
    * Returns pairs (id_a < id_b, jaccard) with jaccard ≥ threshold.
    *
    * `maxDfFraction`: drop shingles whose document frequency exceeds this
    * fraction of the doc count BEFORE the content self-join — corpus-
    * frequent shingles ("the ") are hot join keys that go quadratic on
    * natural text even inside candidate sets, and carry no discriminating
    * signal. Jaccard is then computed over the surviving (rare) shingles
    * on BOTH sides of the ratio — a well-defined "discriminative Jaccard";
    * docs whose every shingle is frequent drop out. Fraction-based so the
    * same parameterization holds at any corpus scale.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
                        maxDfFraction: Option[Double] = None,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // n=3 rides the native one-pass generator (string variant — the join
    // keys on shingle CONTENT, so code collisions are not acceptable here);
    // other n keep the composed formulation
    val shingleArr =
      if (n == 3) graft.functions.ShingleFunctions.shingleStrings(col(textCol))
      else shingles(col(textCol), n)
    val sh0 = docs.select(col(idCol).as("id"), explode(shingleArr).as("sh"))
    val sh = maxDfFraction match {
      case Some(f) =>
        // per-shingle df via a count window (one shuffle on sh — the same
        // key the self-join below needs, so the exchange is reused), doc
        // count broadcast as a 1-row frame
        val w = org.apache.spark.sql.expressions.Window.partitionBy("sh")
        sh0.withColumn("__df", count(lit(1)).over(w))
          .crossJoin(broadcast(docs.select(count(lit(1)).cast("double").as("__nd"))))
          .filter(col("__df") <= col("__nd") * f)
          .select("id", "sh")
      case None => sh0
    }
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val common = sh.select(col("id").as("id_a"), col("sh"))
      .join(sh.select(col("id").as("id_b"), col("sh")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        round(col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Each document's distinct word n-grams `(outId, gram)`, through the
    * native one-pass window builder (`graft_word_ngrams`: fewer than n
    * tokens give no rows, the contract of the composed HOF form it
    * replaced, pinned by WordNgramsSpec). Both contamination readouts
    * ([[crossContamination]], [[evalContainment]]) gram both sides with
    * it, so a train doc and an eval doc match on the same windows.
    */
  private def distinctWordGrams(df: DataFrame, n: Int, idCol: String, textCol: String,
                                outId: String): DataFrame = {
    val windows = graft.functions.NgramFunctions.wordNgrams(col("__ws"), n)
    df.withColumn("__ws", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol).as(outId), explode(array_distinct(windows)).as("gram"))
  }

  /** Eval-set decontamination: every train document sharing at least one
    * word n-gram window with ANY eval document, with the count of distinct
    * shared windows — the benchmark-leakage sweep a training pipeline runs
    * before cutting a corpus (an 8-gram hit against an eval question marks
    * the train doc contaminated).
    *
    * Plan shape at scale: each side explodes to DISTINCT (doc, gram) pairs
    * (word windows, first materialized as an array per row so the lambda
    * indexes a bound array instead of re-tokenizing per element), the eval
    * side collapses to a distinct gram set, and contamination is an
    * equi-join on the gram followed by a per-doc count — shuffles only on
    * (gram) and (doc). Nothing is pairwise: the eval side is typically
    * tiny (benchmarks), so the gram join broadcasts under AQE; train-side
    * volume is ~`words-per-doc` rows per doc, the same fan-out the MinHash
    * shingle path already carries at 100 TB.
    */
  def crossContamination(train: DataFrame, eval: DataFrame, n: Int = 8,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    def grams(df: DataFrame, outId: String) = distinctWordGrams(df, n, idCol, textCol, outId)
    grams(train, "train_id")
      .join(grams(eval, "eval_id").select("gram").distinct(), Seq("gram"))
      .groupBy("train_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Per-EVAL-doc n-gram containment — the release-gate dual of
    * [[crossContamination]]: for each eval doc, the fraction of its
    * distinct word n-grams that appear ANYWHERE in the training corpus
    * (|eval ∩ train| / |eval|, in integer ppm). Containment, not Jaccard:
    * an eval item fully quoted inside a much longer train doc scores
    * 1.0 here but near 0 on Jaccard — exactly the asymmetry a
    * decontamination threshold needs (Brown/GPT-3-style 13-gram overlap
    * gates threshold on this quantity). Output: one row per eval doc with
    * ≥ n tokens: (eval_id, n_grams, n_contained, containment_ppm).
    *
    * Scale: the eval side (benchmarks) is tiny by definition, so its
    * distinct gram set BROADCASTS as a map-side filter over the train
    * gram stream — the train corpus is never deduped corpus-wide (that
    * distinct-on-every-gram shuffle is the expensive thing this shape
    * avoids); only matching (eval_id, gram) hits — bounded by the eval
    * gram count × train hit multiplicity, then deduped — reach the one
    * small shuffle. Train text streams through the narrow native n-gram
    * projection at scan speed.
    */
  def evalContainment(train: DataFrame, eval: DataFrame, n: Int = 4,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    def grams(df: DataFrame, outId: String) = distinctWordGrams(df, n, idCol, textCol, outId)
    val eg = grams(eval, "eval_id")
    val totals = eg.groupBy("eval_id").agg(count(lit(1)).as("n_grams"))
    val contained = grams(train, "train_id").select("gram")
      .join(broadcast(eg), Seq("gram"))
      .select("eval_id", "gram").distinct()
      .groupBy("eval_id").agg(count(lit(1)).as("n_contained"))
    totals.join(contained, Seq("eval_id"), "left")
      .na.fill(0L, Seq("n_contained"))
      .select(col("eval_id"), col("n_grams"), col("n_contained"),
        expr("n_contained * 1000000 div n_grams").as("containment_ppm"))
  }

  /** Cross-document duplicated n-gram coverage — the Gopher/RefinedWeb
    * "fraction of tokens inside duplicated n-grams" quality signal, but
    * CORPUS-wide: a token is covered when any word n-gram through it also
    * occurs in at least one OTHER document. Unlike [[crossContamination]]
    * (train×eval overlap) and the intra-document `repetitionSignals`, this
    * measures how much of each document is boilerplate shared across the
    * corpus — the filter that catches templated spam MinHash-level
    * similarity is too coarse to score.
    *
    * Output: (idCol, n_tokens, covered_tokens, dup_coverage) for EVERY doc
    * (docs shorter than n grams have coverage 0).
    *
    * Scale: token windows explode to ~words-per-doc rows/doc (same volume
    * the shingle path carries); duplicated-gram detection is a distinct +
    * count aggregate on the gram — a proper shuffle key; coverage is a
    * positions explode (n× the covered-gram count) + per-doc distinct
    * count. Nothing pairwise, no self-join: corpus-frequent grams cost
    * their row count, not its square.
    */
  def dupNgramCoverage(docs: DataFrame, n: Int = 5, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val (base, coveredPos) = dupSpanPositions(docs, n, idCol, textCol)
    val covered = coveredPos.groupBy(col(idCol)).agg(countDistinct(col("p")).as("covered_tokens"))
    base.select(col(idCol), col("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double")
          / when(col("n_tokens") === 0, lit(1L)).otherwise(col("n_tokens")), 6)
          .as("dup_coverage"))
  }

  /** Shared derivation for [[dupNgramCoverage]]/[[trimDuplicatedSpans]]:
    * `base` = (idCol, __ws token array, n_tokens) for every doc, and the
    * per-doc 1-based token positions lying inside any word n-gram whose
    * distinct document frequency is ≥ 2 (with duplicates — aggregate
    * distinct downstream).
    */
  private def dupSpanPositions(docs: DataFrame, n: Int, idCol: String,
                               textCol: String): (DataFrame, DataFrame) = {
    require(n >= 1, "n-gram size must be >= 1")
    val ws = col("__ws")
    val base = docs
      .withColumn("__ws", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol), ws, size(ws).cast("long").as("n_tokens"))
    // pre-partition the positional gram stream on the gram key: the
    // df-aggregate side and the coverage join-back both consume it, and the
    // shared exchange lets AQE materialize the (tokenize + window) subtree
    // once instead of once per consumer (same stage-reuse pattern as the
    // LSH self-joins)
    val grams = base
      .filter(col("n_tokens") >= n)
      .select(col(idCol),
        posexplode(graft.functions.NgramFunctions.wordNgrams(ws, n)).as(Seq("__p0", "gram")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("start"), col("gram"))
      .repartition(col("gram"))
    val dupGrams = grams.select(col(idCol), col("gram")).distinct()
      .groupBy("gram").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("gram")
    val coveredPos = grams.join(dupGrams, Seq("gram"))
      .select(col(idCol), explode(sequence(col("start"), col("start") + (n - 1))).as("p"))
    (base, coveredPos)
  }

  // ------------------------------------------------------ segment-level dedup

  /** Disjoint fixed-width word-chunk segmentation: one row per
    * `chunkWords`-token slice of each document (the final slice may be
    * shorter), `seg_idx` 0-based in document order. The chunker stands in
    * for paragraph splitting on corpora without line structure (the
    * synthetic test corpus is single-line); [[lineSegments]] is the
    * newline-delimited variant real web corpora feed to [[segmentDedup]].
    * Narrow (explode only) — no shuffle.
    */
  def wordChunkSegments(docs: DataFrame, chunkWords: Int = 16,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkWords >= 1, "chunkWords must be >= 1")
    docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__ts"))
      .withColumn("__n", size(col("__ts")))
      .filter(col("__n") > 0)
      .select(col(idCol),
        posexplode(transform(
          // `/` is double division; floor+cast keeps sequence() integral
          sequence(lit(0), floor((col("__n") + (chunkWords - 1)) / chunkWords).cast("int") - 1),
          i => array_join(slice(col("__ts"), i * chunkWords + 1, lit(chunkWords)), " ")))
          .as(Seq("seg_idx", "seg")))
  }

  /** Newline-delimited segmentation (the real-corpus paragraph splitter):
    * one row per non-blank line, `seg_idx` = original 0-based line number,
    * lines trimmed. Narrow — no shuffle.
    */
  def lineSegments(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs.select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("seg_idx", "__raw")))
      .select(col(idCol), col("seg_idx"), trim(col("__raw")).as("seg"))
      .filter(length(col("seg")) > 0)

  /** Segment-level boilerplate dedup (the CCNet/RefinedWeb line-hash pass):
    * a segment whose exact text occurs in ≥ `minDf` DISTINCT documents is
    * boilerplate (headers, nav bars, license blocks) and is dropped from
    * EVERY document; each doc's text is rebuilt from its surviving segments
    * in original order. Complements [[trimDuplicatedSpans]]: segments are
    * disjoint, so this is the cheap first-pass filter (one aggregate, one
    * join-back — no positional n-gram stream), while span trimming catches
    * duplication that straddles segment boundaries.
    *
    * Output: (idCol, clean_text, n_segments, n_kept) for every input doc
    * (fully-boilerplate and empty docs come back with empty text).
    *
    * Scale: document frequency is a distinct + count aggregate keyed on the
    * segment text and the join-back reuses the same key — the explicit
    * `repartition(seg)` lets AQE materialize the segmentation subtree once
    * for both consumers (the q56 stage-share pattern). Per-doc rebuild sorts
    * only each doc's own segments. Nothing pairwise; corpus-frequent
    * segments cost their row count, never its square.
    */
  def segmentDedup(docs: DataFrame, segments: DataFrame, minDf: Int = 2,
                   idCol: String = "doc_id"): DataFrame = {
    require(minDf >= 2, "minDf must be >= 2 (minDf < 2 would drop every segment)")
    val segs = segments.repartition(col("seg"))
    val dfCounts = segs.select(col(idCol), col("seg")).distinct()
      .groupBy("seg").agg(count(lit(1)).as("__df"))
    val rebuilt = segs.join(dfCounts, Seq("seg"))
      .withColumn("__keep", col("__df") < minDf)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        // collect_list skips the nulls the when() leaves for dropped segments
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__keep"), struct(col("seg_idx"), col("seg"))))),
          s => s("seg"))).as("clean_text"))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Duplicated-span TRIMMING — the transformation half of exact-substring
    * dedup (the [[dupNgramCoverage]] signal decides, this one edits): each
    * document's text is rebuilt from the tokens NOT inside any
    * cross-document duplicated n-gram, preserving original token order.
    * Boilerplate shared across docs disappears from every copy; unique
    * content survives verbatim.
    *
    * Output: (idCol, clean_text, n_kept) for EVERY doc (fully-boilerplate
    * docs come back with empty text — downstream length filters drop them).
    *
    * Scale: kept tokens are an anti-join of the positional token stream
    * against the covered-position stream (both keyed on (id, position) —
    * proper shuffle keys); text rebuilds via an ordered per-doc aggregate
    * (sort over each doc's own kept tokens, never a global sort).
    */
  def trimDuplicatedSpans(docs: DataFrame, n: Int = 5, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val (base, coveredPos) = dupSpanPositions(docs, n, idCol, textCol)
    val toksPos = base.select(col(idCol),
      posexplode(col("__ws")).as(Seq("__p0", "token")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("p"), col("token"))
    val kept = toksPos.join(coveredPos.distinct(), Seq(idCol, "p"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(collect_list(struct(col("p"), col("token"))).as("__kt"))
      .select(col(idCol),
        concat_ws(" ", transform(array_sort(col("__kt")), s => s("token"))).as("clean_text"),
        size(col("__kt")).cast("long").as("n_kept"))
    base.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** First affine-family member of the winnowing hash (pair 400, 401). */
  val WinnowJ: Int = 400

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS algorithm; public paper): per document, hash every
    * positional character 3-gram with the portable mix hash (member 400)
    * and keep the MINIMUM of each `w`-long window of consecutive hashes —
    * distinct selected values, one row per (doc, fingerprint). The
    * guarantee: any shared substring of length ≥ w + 2 yields at least
    * one shared fingerprint, while density stays ≈ 2/(w+1) of positions —
    * the bounded-density exact-substring detector between full n-gram
    * inversion (q56, every gram) and MinHash (probabilistic).
    *
    * Scale: one narrow per-doc pass — char codepoints via a single
    * `split`, positional hashes and window minima as codegen array
    * transforms (O(len·w) per doc), explode only of the winnowed set.
    * No shuffle until the consumer aggregates.
    */
  def winnowFingerprints(docs: DataFrame, w: Int = 4, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(w >= 1, "window must be >= 1")
    def guarded(n: Column, body: Column): Column =
      when(n >= 1, body).otherwise(array().cast("array<bigint>"))
    // per-position trigram hashes via the native one-pass expression
    // (TrigramHashSpec pins bit-equality with the composed
    // split/transform/mixHash form this replaces; q180 oracle unchanged)
    docs
      .select(col(idCol),
        graft.functions.ShingleFunctions
          .trigramHashes(col(textCol), WinnowJ).as("__hs"))
      .select(col(idCol),
        explode(array_distinct(guarded(size(col("__hs")) - (w - 1),
          transform(sequence(lit(1), greatest(size(col("__hs")) - (w - 1), lit(1))),
            j => array_min(slice(col("__hs"), j, lit(w))))))).as("fp"))
  }

  /** Content-defined chunking (Rabin/gear-style, unconstrained form):
    * split each document where the TRIGRAM hash at a position ≡ 0
    * (mod `chunkMod`) — so chunk boundaries are decided by local CONTENT,
    * not offsets, and an insertion early in a document shifts only the
    * chunk it lands in (fixed-size chunking — q164 — re-cuts everything
    * after the edit, destroying downstream chunk-level dedup). Expected
    * chunk length ≈ chunkMod chars; this is the storage/RAG-grade dedup
    * primitive, the per-position complement of [[winnowFingerprints]]
    * (same trigram hash array, different consumption).
    *
    * Emits one row per chunk: (doc, idx, start_char, chunk_chars,
    * chunk_fp) — chunk_fp is the XOR fold of the chunk's interior trigram
    * hashes (order-free over a contiguous span is fine: the SPAN is the
    * identity; XOR avoids the Σ overflow that diverges cross-engine —
    * DuckDB's list_sum widens to HUGEINT while Spark wraps). The
    * unconstrained form has no min/max chunk bound: min/max clamping
    * makes each boundary depend on the previous cut (sequential, not
    * SQL-mirrorable) and is a policy layer a caller adds when needed.
    *
    * Scale: entirely narrow — per-doc array HOFs inside one projection,
    * explode to chunk rows, no shuffle until the consumer aggregates.
    */
  def cdcChunks(docs: DataFrame, chunkMod: Int = 64, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    require(chunkMod >= 2, "chunkMod must be >= 2")
    def guarded(n: Column, body: Column): Column =
      when(n >= 1, body).otherwise(array().cast("array<bigint>"))
    // native one-pass trigram hashes (codepoints decoded once, modular
    // arithmetic in codegen) — bit-identical to the composed
    // split/transform/mixHash form (TrigramHashSpec pins it; same oracle)
    docs
      .select(col(idCol), length(col(textCol)).cast("long").as("__len"),
        graft.functions.ShingleFunctions
          .trigramHashes(col(textCol), WinnowJ).as("__hs"))
      .filter(col("__len") > 0)
      // cut after char i+2 wherever trigram hash i ≡ 0 (mod chunkMod);
      // spans partition the text: starts = 1 :: cuts+3, ends = cuts+2 :: len
      .withColumn("__cuts", guarded(size(col("__hs")),
        filter(sequence(lit(1), greatest(size(col("__hs")), lit(1))),
          i => element_at(col("__hs"), i) % chunkMod === 0)))
      .withColumn("__starts",
        concat(array(lit(1L)), transform(col("__cuts"), i => i + 3L)))
      .withColumn("__ends",
        concat(transform(col("__cuts"), i => i + 2L),
          array(col("__len"))))
      .select(col(idCol), col("__hs"),
        posexplode(zip_with(col("__starts"), col("__ends"),
          (s, e) => struct(s.as("s"), e.as("e")))).as(Seq("chunk_idx", "se")))
      // a cut at the very end leaves an empty final span — drop it
      .filter(col("se.s") <= col("se.e"))
      .select(col(idCol), col("chunk_idx"),
        col("se.s").as("start_char"),
        (col("se.e") - col("se.s") + 1L).as("chunk_chars"),
        // interior trigrams of span [s, e] are hs indices s .. e-2
        expr("""aggregate(
            slice(__hs, CAST(se.s AS INT),
              CAST(greatest(se.e - 2 - se.s + 1, 0) AS INT)),
            0L, (a, x) -> a ^ x)""").as("chunk_fp"))
  }

  /** Chunk-level duplication report over [[cdcChunks]]: per document, how
    * much of its TEXT MASS (chars, not chunk counts) sits in chunks whose
    * fingerprint appears in at least one OTHER document — the
    * sub-document complement of whole-doc dedup: boilerplate headers,
    * shared paragraphs, and quoted spans surface here while the documents
    * themselves stay distinct. The text-mass framing is what a curation
    * policy thresholds ("drop docs that are > 60% shared spans").
    *
    * Match identity is (fingerprint, length), and only chunks of ≥ 3
    * chars can match: a sub-trigram chunk has NO interior trigram, so its
    * fold is 0 for any content — without the floor, every stray 1-2 char
    * sliver "matches" every other one cross-corpus (caught by spec).
    * Chunks ≥ 3 chars are fully covered by their interior trigrams.
    *
    * Scale: chunks are fanned out once (narrow; pinned so the fp
    * aggregate and the join-back don't re-chunk), the fp-keyed
    * distinct-doc aggregate and the equi-join back shuffle on the 64-bit
    * fingerprint (no skew magnet), then one doc-keyed aggregate — the
    * frameDupStats shape on text.
    */
  def chunkDupStats(docs: DataFrame, chunkMod: Int = 64,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val ch = cdcChunks(docs, chunkMod, idCol, textCol)
      .select(col(idCol), col("chunk_chars"), col("chunk_fp"))
      .pin()
    val byFp = ch.filter(col("chunk_chars") >= 3)
      .groupBy("chunk_fp", "chunk_chars")
      .agg(count_distinct(col(idCol)).as("n_docs"))
    ch.join(byFp, Seq("chunk_fp", "chunk_chars"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_chunks"),
        sum("chunk_chars").as("n_chars"),
        sum(when(col("n_docs") >= 2, col("chunk_chars")).otherwise(0L))
          .as("shared_chars"))
      .withColumn("shared_ppm",
        expr("shared_chars * 1000000 div n_chars"))
  }

  /** Document-overlap report over winnowed fingerprints: pairs sharing at
    * least `minShared` fingerprints, with the exact shared count.
    * Fingerprints present in more than `max(2, n·maxDfPpm/10⁶)` documents
    * are dropped before the self-join — the q17 document-frequency cap,
    * CORPUS-RELATIVE because "boilerplate" is a share, not a count: an
    * absolute cap that works at one scale silently empties (or explodes)
    * the report at another (measured: abs 20 → 893 pairs on the sf0.01
    * sample, 0 at sf0.1; 10% ppm → 18 and 2,969).
    *
    * Scale: fingerprint df is one count aggregate (the doc count arrives
    * as a broadcast 1-row aggregate); the pair join is an equi-join on
    * the fingerprint value with per-key fan-in ≤ the cap, so candidate
    * volume is bounded by |fingerprints|·cap², never corpus².
    */
  def winnowOverlapPairs(docs: DataFrame, w: Int = 4, minShared: Long = 2,
                         maxDfPpm: Long = 100000, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val fp = winnowFingerprints(docs, w, idCol, textCol)
    val nd = docs.agg(count(lit(1)).as("__nd"))
    val rare = fp.groupBy("fp").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nd))
      .filter(col("__df") <= greatest(lit(2L), expr(s"(__nd * $maxDfPpm) div 1000000")))
      .select("fp")
    val kept = fp.join(rare, "fp")
    kept.select(col("fp"), col(idCol).as("id_a"))
      .join(kept.select(col("fp"), col(idCol).as("id_b")), "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Cross-source boilerplate matrix: for each unordered source pair,
    * how many distinct CDC chunk fingerprints ([[cdcChunks]], the
    * chunkDupStats (fp, chars) key, trivial < 3-char chunks excluded)
    * appear in BOTH — where templated spans FLOW between sources
    * (syndication, mirrored feeds, shared footers). q235 reports how
    * much of each DOC is shared; this reports which source pairs share,
    * the matrix a crawl-dedup triage reads to pick what to dedup against
    * what.
    *
    * Scale shape: chunking is the narrow q234 path; the matrix join is
    * keyed on chunk fingerprint with each side pre-collapsed to DISTINCT
    * (fp, source) — same-fp groups are bounded by the source count, so
    * the pair explosion is ≤ |sources|² per fingerprint, and the output
    * is the source-pair keyspace.
    */
  def crossSourceChunkDups(docs: DataFrame, chunkMod: Int = 64,
                           idCol: String = "doc_id", textCol: String = "text",
                           srcCol: String = "source"): DataFrame = {
    val fs = cdcChunks(docs, chunkMod, idCol, textCol)
      .filter(col("chunk_chars") >= 3)
      .join(docs.select(col(idCol), col(srcCol).as("src")), Seq(idCol))
      .select(col("chunk_fp"), col("chunk_chars"), col("src")).distinct()
    fs.select(col("chunk_fp"), col("chunk_chars"), col("src").as("src_a"))
      .join(fs.select(col("chunk_fp"), col("chunk_chars"), col("src").as("src_b")),
        Seq("chunk_fp", "chunk_chars"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared_chunks"))
  }

  /** The measured LSH S-curve — the table a banding-parameter decision
    * reads. For one k-hash signature pass, evaluate every (rowsPerBand r,
    * bands k/r) config on the SAME corpus: per (config, exact-Jaccard
    * decile), how many candidate pairs that config emits. Stricter r
    * slides the collision curve right (fewer low-similarity false
    * positives, more missed near-dups); this measures the trade on the
    * real corpus instead of trusting the analytic 1−(1−s^r)^b curve.
    *
    * One signature computation serves every arm. The candidate UNIVERSE
    * is the loosest config's pair set (r = min): bands NEST — an r-row
    * band is the concatenation of its r/2-row halves, so agreement on it
    * implies agreement on both halves — giving candidates(2r) ⊆
    * candidates(r). Stricter arms are then per-pair FLAG tests on the
    * joined signatures (16 column equalities), not three more self-joins.
    *
    * Exact Jaccard per universe pair: per-doc DISTINCT shingle-code
    * ARRAYS (one narrow [[graft.functions.ShingleFunctions.shingleCodes]]
    * pass, no explode) join onto the pair stream — doc-keyed, so AQE
    * broadcasts the array side at tuning-sample size — and
    * `size(array_intersect)` computes |∩| per pair in a map, no
    * pair×shingle shuffle. The exploded (doc, shingle) formulation was
    * measured 4× slower at sf0.1 (a ~10⁸-row join vs this narrow scan).
    * `j_decile = (1000·|∩| div |∪|) div 100` — integer, engine-portable.
    *
    * Scale shape: signatures + banding are the q15 path; every per-pair
    * stage is candidate-sized and shuffle-free past the universe join.
    * At 100 TB the universe arm inherits minHashCandidatePairs' caveat
    * that loose banding on a dense template family can go quadratic —
    * run the curve on a hash-permille document sample (coordinated, so
    * all arms see the same docs), which changes no per-pair semantics;
    * past broadcast size the doc-keyed array joins degrade to ordinary
    * shuffle equi-joins, never to anything pairwise.
    */
  def lshTuningCurve(docs: DataFrame, k: Int = 16,
                     configs: Seq[Int] = Seq(2, 4, 8, 16),
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val rs = configs.distinct.sorted
    require(rs.nonEmpty && rs.forall(r => r > 0 && k % r == 0),
      s"each rowsPerBand must divide k=$k: $configs")
    val sigs = minHashSignatures(docs, k, idCol, textCol)
    val universe = minHashCandidatePairs(sigs, k, rs.head, idCol)
    val sa = sigs.select(col(idCol).as("id_a") +:
      (0 until k).map(j => col(s"h$j").as(s"a$j")): _*)
    val sb = sigs.select(col(idCol).as("id_b") +:
      (0 until k).map(j => col(s"h$j").as(s"b$j")): _*)
    def candAt(r: Int): Column =
      (0 until k / r).map { band =>
        ((band * r) until ((band + 1) * r))
          .map(j => col(s"a$j") === col(s"b$j")).reduce(_ && _)
      }.reduce(_ || _)
    // sorted ONCE per doc; every pair the doc appears in reuses the sort,
    // and the per-pair |∩| is the native merge scan (contract: sorted
    // distinct arrays — shingleCodes emits distinct, sort_array orders)
    val sharr = docs.select(col(idCol),
      sort_array(graft.functions.ShingleFunctions.shingleCodes(col(textCol))).as("__sh"))
    universe
      .join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .join(sharr.select(col(idCol).as("id_a"), col("__sh").as("sha")), Seq("id_a"))
      .join(sharr.select(col(idCol).as("id_b"), col("__sh").as("shb")), Seq("id_b"))
      .withColumn("inter",
        graft.functions.VectorFunctions.sortedInterCount(col("sha"), col("shb")))
      .withColumn("j_decile", expr(
        "cast(1000L * inter div (size(sha) + size(shb) - inter) div 100 as int)"))
      .select(col("j_decile"),
        explode(array(rs.map(r =>
          when(candAt(r), lit(r))): _*)).as("rows_per_band"))
      .filter(col("rows_per_band").isNotNull)
      .groupBy(col("rows_per_band"), col("j_decile"))
      .agg(count(lit(1)).as("n_pairs"))
  }
}
