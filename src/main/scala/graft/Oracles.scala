package graft

import graft.ext.{Dedup, Similarity, TextAnalysis}

/** DuckDB oracle SQL for every SparkEntry query (driver contract).
  *
  * Long hash/vector SQLs are *generated* from the same constants the Spark
  * operators use (Dedup.hashA/hashB, Similarity.planeWeight), so the two
  * sides cannot drift. Portability rules baked in here:
  *   - all hash arithmetic in BIGINT (DuckDB INT32 ops error on overflow);
  *   - `generate_series` laterals are pre-filtered (empty ranges error);
  *   - regexp_replace needs the 'g' flag (DuckDB replaces first match only);
  *   - sums of 2-decimal doubles go through DECIMAL(18,2) so both engines
  *     produce the identical exact total (double += is order-dependent);
  *   - integer sums are cast to BIGINT (DuckDB SUM(INT) yields HUGEINT).
  */
object Oracles {

  // ---- shared CTE fragments (mirror graft.Tables) --------------------------

  val salesCte =
    "sales AS (SELECT CAST(l_partkey AS VARCHAR) AS sku, CAST(l_quantity AS DOUBLE) AS qty, CAST(l_suppkey AS VARCHAR) AS site FROM lineitem)"
  val soldvalueCte =
    "soldvalue AS (SELECT CAST(l_partkey AS VARCHAR) AS sku, SUM(l_quantity) AS qty FROM lineitem GROUP BY 1)"
  val skuMapCte =
    "sku_map AS (SELECT CAST(p_partkey AS VARCHAR) AS sku_part, p_name AS sku_name, CAST(p_size AS DOUBLE) AS multiplier FROM part)"
  val salesMapCte =
    "sales_map AS (SELECT CAST(p_partkey AS VARCHAR) AS sku2, p_retailprice AS cost, p_brand AS brand FROM part)"
  val finalResultCte =
    "final_result AS (SELECT m.sku_name AS sku, COALESCE(SUM(s.qty * m.multiplier), 0.0) AS qty FROM soldvalue s RIGHT JOIN sku_map m ON s.sku = m.sku_part GROUP BY 1)"
  val stockCte =
    "stock AS (SELECT p_name AS sku, SUM(CAST(p_size AS DOUBLE) * 100.0) AS qty, MIN(p_type) AS subcategory, MIN(p_name) AS color, MIN(p_brand) AS brand FROM part GROUP BY 1)"

  val enrichSelect: String =
    """SELECT trim(s.sku) AS sku, s.qty, s.site, m.cost, m.brand,
      | DATE '2024-06-01' AS "date", CAST(2024 AS INTEGER) AS "Year", 'June' AS "Month",
      | s.qty * m.cost AS total
      |FROM sales s LEFT JOIN sales_map m ON trim(s.sku) = trim(m.sku2)""".stripMargin

  // ---- core parity queries -------------------------------------------------

  val retailAgg: String =
    "SELECT CAST(l_partkey AS VARCHAR) AS sku, SUM(l_quantity) AS qty FROM lineitem GROUP BY 1"

  val cleanUnion: String =
    """WITH u AS (
      |  SELECT CAST(l_partkey AS VARCHAR) AS sku, CAST(CAST(l_quantity AS DOUBLE) AS VARCHAR) AS qty, CAST(l_suppkey AS VARCHAR) AS site FROM lineitem WHERE l_linestatus = 'O'
      |  UNION ALL
      |  SELECT CAST(l_partkey AS VARCHAR), CAST(CAST(l_quantity AS DOUBLE) AS VARCHAR), NULL FROM lineitem WHERE l_linestatus <> 'O'
      |), n AS (
      |  SELECT trim(lower(sku)) AS sku, lower(qty) AS qty, lower(site) AS site FROM u
      |  WHERE NOT contains(lower(sku), 'sku') AND lower(sku) <> 'other'
      |)
      |SELECT sku, CAST(qty AS DOUBLE) AS qty, site FROM n""".stripMargin

  val wholesaleAgg: String =
    s"WITH $soldvalueCte, $skuMapCte, $finalResultCte SELECT sku, qty FROM final_result"

  val inventory: String =
    s"""WITH $soldvalueCte, $skuMapCte, $finalResultCte, $stockCte
       |SELECT st.sku, st.qty - COALESCE(fr.qty, 0.0) AS qty, st.subcategory, st.color, st.brand
       |FROM stock st LEFT JOIN final_result fr ON st.sku = fr.sku""".stripMargin

  val enrich: String = s"WITH $salesCte, $salesMapCte $enrichSelect"

  def brandFilter(where: String): String =
    s"WITH $salesCte, $salesMapCte, enr AS ($enrichSelect) SELECT * FROM enr WHERE $where"

  val brandPrimary: String = brandFilter("brand = 'Brand#1'")
  val brandOthers: String = brandFilter("brand IN ('Brand#2', 'Brand#3')")

  val brandAgg: String =
    s"""WITH $salesCte, $salesMapCte, enr AS ($enrichSelect)
       |SELECT sku, cost, SUM(qty) AS qty, cost * SUM(qty) AS total
       |FROM enr WHERE brand = 'Brand#1' GROUP BY sku, cost""".stripMargin

  val dateWindow: String =
    """SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate > TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY 1""".stripMargin

  val sortLimit: String =
    s"WITH $soldvalueCte SELECT sku, qty FROM soldvalue ORDER BY qty DESC, sku LIMIT 100"

  val topkPerBrand: String =
    """WITH base AS (
      |  SELECT p_brand AS brand, CAST(l_partkey AS VARCHAR) AS sku, SUM(l_quantity) AS units
      |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2
      |), r AS (
      |  SELECT brand, sku, units,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY brand ORDER BY units DESC, sku) AS INTEGER) AS rnk
      |  FROM base
      |)
      |SELECT brand, sku, units, rnk FROM r WHERE rnk <= 3""".stripMargin

  /** Full wholesale reporting branch (portfolio-etl.py:748-775): the whole
    * §3.3 branch-A2 composition — union-clean → retail agg → wholesale
    * mapping → brand enrich → date parts → intended-semantics brand split
    * (§7.4-h) — as one statement.
    */
  val wholesaleReport: String =
    s"""WITH $soldvalueCte, $skuMapCte, $finalResultCte,
       |wsm AS (SELECT p_name AS sku2, MIN(p_brand) AS brand FROM part GROUP BY 1)
       |SELECT trim(f.sku) AS sku, f.qty, m.brand,
       |  DATE '2024-06-01' AS "date", CAST(2024 AS INTEGER) AS "Year", 'June' AS "Month"
       |FROM final_result f LEFT JOIN wsm m ON trim(f.sku) = trim(m.sku2)
       |WHERE m.brand = 'Brand#1'""".stripMargin

  // ---- text / dedup extension queries -------------------------------------

  private val fingerprintSql =
    "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

  val dedupExact: String =
    s"SELECT $fingerprintSql AS fingerprint, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents GROUP BY 1"

  private def inList(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString("[", ", ", "]")

  val textStats: String = {
    val stops = inList(TextAnalysis.englishStopwords)
    val langScores = TextAnalysis.langMarkers.map { case (lang, markers) =>
      s"CAST(len(list_filter(toks_l, x -> list_contains(${inList(markers)}, x))) AS INTEGER) AS s_$lang"
    }.mkString(", ")
    val best = TextAnalysis.langMarkers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val langCase = TextAnalysis.langMarkers.map { case (l, _) =>
      s"WHEN s_$l = $best AND s_$l > 0 THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks,
       |    list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS toks_l
       |  FROM documents
       |), s AS (
       |  SELECT doc_id, text, toks,
       |    CAST(length(text) AS INTEGER) AS n_chars,
       |    CAST(len(toks) AS INTEGER) AS n_tokens,
       |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_subwords,
       |    CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END AS praw,
       |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> list_contains($stops, x))) AS DOUBLE) / len(toks) END AS sraw,
       |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) END AS araw,
       |    $langScores
       |  FROM t
       |)
       |SELECT doc_id, n_chars, n_tokens, n_subwords,
       |  round(praw, 6) AS punct_ratio, round(sraw, 6) AS stopword_ratio, round(araw, 6) AS avg_token_len,
       |  round(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4 + least(sraw * 4.0, 1.0) * 0.4 + greatest(0.0, 1.0 - praw * 5.0) * 0.2, 6) AS quality,
       |  $langCase AS lang_pred,
       |  $fingerprintSql AS fingerprint,
       |  CAST(CASE WHEN length(text) < 3 THEN 0 ELSE
       |    list_sum(list_transform(generate_series(1, length(text) - 2),
       |      i -> ((CAST(i AS BIGINT) % ${Dedup.MinHashP}) * ((${encodeShingle3Sql(k => s"substring(text, CAST(i AS INTEGER) + ${k - 1}, 1)")}) % ${Dedup.MinHashP})) % ${Dedup.MinHashP}))
       |    % ${Dedup.MinHashP} END AS BIGINT) AS roll_fp
       |FROM s""".stripMargin
  }

  /** Base-2^16/2^8 positional code of a 3-char shingle (mirrors
    * Dedup.encodeShingle3); `c(k)` supplies the SQL for character k ∈ 1..3.
    */
  private def encodeShingle3Sql(c: Int => String): String =
    s"CAST(ascii(${c(1)}) AS BIGINT) * 65536 + CAST(ascii(${c(2)}) AS BIGINT) * 256 + CAST(ascii(${c(3)}) AS BIGINT)"

  /** Shingle + encode CTEs shared by the MinHash queries.
    * `where` additionally restricts the doc set.
    */
  private def shingleCtes(where: String): String =
    s"""d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 3$where),
       |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, length(text) - 2), i -> substring(text, CAST(i AS INTEGER), 3))) AS s FROM d),
       |enc AS (SELECT doc_id, ${encodeShingle3Sql(k => s"substring(s, $k, 1)")} AS x FROM sh)""".stripMargin

  private def sigCte(k: Int): String = {
    val mins = (0 until k).map(j =>
      s"MIN((${Dedup.hashA(j)} * x + ${Dedup.hashB(j)}) % ${Dedup.MinHashP}) AS h$j").mkString(", ")
    s"sig AS (SELECT doc_id, $mins FROM enc GROUP BY doc_id)"
  }

  def minhashSignatures(k: Int = 16): String =
    s"WITH ${shingleCtes("")}, ${sigCte(k)} SELECT * FROM sig"

  /** Band-key list + exploded band rows, shared by pairs/clusters SQL. */
  private def bandedCtes(k: Int, rowsPerBand: Int): String = {
    val nBands = k / rowsPerBand
    val keyList = (0 until nBands).map { b =>
      ((b * rowsPerBand) until ((b + 1) * rowsPerBand))
        .map(j => s"CAST(h$j AS VARCHAR)").mkString(" || '_' || ")
    }.mkString("[", ", ", "]")
    s"""keyed AS (SELECT doc_id, $keyList AS keys FROM sig),
       |banded AS (SELECT doc_id, keys, unnest(generate_series(0, ${nBands - 1})) AS band FROM keyed),
       |b2 AS (SELECT doc_id, keys, band, keys[band + 1] AS bkey FROM banded)""".stripMargin
  }

  /** Mirrors Dedup.minHashCandidatePairs: each pair emitted once, from the
    * first band the two docs agree on (no DISTINCT).
    */
  def minhashPairs(k: Int = 16, rowsPerBand: Int = 4): String =
    s"""WITH ${shingleCtes("")}, ${sigCte(k)}, ${bandedCtes(k, rowsPerBand)}
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM b2 a JOIN b2 b ON a.band = b.band AND a.bkey = b.bkey
       |WHERE a.doc_id < b.doc_id
       |  AND len(list_filter(generate_series(1, a.band), i -> a.keys[i] = b.keys[i])) = 0""".stripMargin

  /** Mirrors Dedup.connectedComponents over Dedup.minHashStarEdges: exact
    * components of the LSH candidate graph via recursive transitive closure
    * (an independent algorithm — label propagation on the Spark side,
    * reachability enumeration here — agreeing only if the components are
    * right). Docs without shingles are isolated nodes labeled by their own
    * id.
    */
  def ccClusters(k: Int = 16, rowsPerBand: Int = 4): String =
    s"""WITH RECURSIVE ${shingleCtes("")}, ${sigCte(k)}, ${bandedCtes(k, rowsPerBand)},
       |bucket AS (SELECT band, bkey, MIN(doc_id) AS bucket_rep FROM b2 GROUP BY 1, 2),
       |star AS (SELECT DISTINCT a.doc_id AS src, bucket_rep AS dst
       |         FROM b2 a JOIN bucket USING (band, bkey) WHERE a.doc_id <> bucket_rep),
       |sym AS (SELECT src, dst FROM star UNION SELECT dst, src FROM star),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM documents
       |  UNION
       |  SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src
       |)
       |SELECT id AS doc_id, MIN(r) AS component_rep FROM reach GROUP BY id""".stripMargin

  /** Mirrors Dedup.minHashClusters: cluster rep = min doc id over buckets. */
  def minhashClusters(k: Int = 16, rowsPerBand: Int = 4): String =
    s"""WITH ${shingleCtes("")}, ${sigCte(k)}, ${bandedCtes(k, rowsPerBand)},
       |bucket AS (SELECT band, bkey, MIN(doc_id) AS bucket_rep FROM b2 GROUP BY 1, 2)
       |SELECT a.doc_id, MIN(bucket_rep) AS cluster_rep
       |FROM b2 a JOIN bucket USING (band, bkey) GROUP BY 1""".stripMargin

  /** q384: pair-level agreement between the MinHash-LSH clustering (q22's
    * oracle) and the SimHash-bucket clustering (q49's oracle) — the two
    * full cluster oracles as nested-WITH derived tables, then the Rand
    * pair-counting identity on three contingency sums (never the
    * quadratic pair set). HUGEINT for the ×10⁶; `//` on non-negative
    * operands matches Spark's `div`.
    */
  def clusteringAgreement(k: Int = 16, rowsPerBand: Int = 4,
                          bits: Int = 64, maxHamming: Int = 3): String =
    s"""WITH mh AS MATERIALIZED (
       |  SELECT * FROM (${minhashClusters(k, rowsPerBand)}) x
       |), sh AS MATERIALIZED (
       |  SELECT * FROM (${simhashClusters(bits, maxHamming)}) y
       |), j AS MATERIALIZED (
       |  SELECT m.doc_id, m.cluster_rep AS ca, s.cluster_rep AS cb
       |  FROM mh m JOIN sh s USING (doc_id)
       |), sb AS (
       |  SELECT CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT) AS same_both
       |  FROM (SELECT COUNT(*) AS n FROM j GROUP BY ca, cb)
       |), sa AS (
       |  SELECT CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT) AS pa
       |  FROM (SELECT COUNT(*) AS n FROM j GROUP BY ca)
       |), sbb AS (
       |  SELECT CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT) AS pb
       |  FROM (SELECT COUNT(*) AS n FROM j GROUP BY cb)
       |), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM j)
       |SELECT n_docs,
       |  CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS pairs_total,
       |  same_both,
       |  CAST(pa - same_both AS BIGINT) AS same_a_only,
       |  CAST(pb - same_both AS BIGINT) AS same_b_only,
       |  CAST(n_docs * (n_docs - 1) // 2 - pa - pb + same_both AS BIGINT)
       |    AS same_neither,
       |  CAST(CAST(same_both + n_docs * (n_docs - 1) // 2 - pa - pb
       |      + same_both AS HUGEINT) * 1000000
       |    // GREATEST(n_docs * (n_docs - 1) // 2, 1) AS BIGINT) AS rand_ppm
       |FROM nn, sb, sa, sbb""".stripMargin

  /** Mirrors Dedup.lshTuningCurve on an affine-hash doc sample: universe
    * pairs from the loosest config's banding (DISTINCT — same set as the
    * Spark side's first-band emit), stricter configs as signature-equality
    * flags (bands nest), exact-Jaccard decile from the shingle-intersect
    * join, integer division throughout.
    */
  def lshTuningCurve(k: Int = 16, configs: Seq[Int] = Seq(4, 8, 16),
                     samplePermille: Int = 300): String = {
    val rs = configs.distinct.sorted
    def cand(r: Int): String =
      (0 until k / r).map { b =>
        (b * r until (b + 1) * r).map(j => s"sa.h$j = sb.h$j").mkString("(", " AND ", ")")
      }.mkString("(", " OR ", ")")
    val flags = rs.map(r => s"${cand(r)} AS c$r").mkString(", ")
    val arms = rs.map(r => s"SELECT id_a, id_b, $r AS rows_per_band FROM fl WHERE c$r")
      .mkString("\n           UNION ALL ")
    s"""WITH ${shingleCtes(s" AND (${affineHashSql("doc_id", 7)}) % 1000 < $samplePermille")},
       |${sigCte(k)}, ${bandedCtes(k, rs.head)},
       |pr AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |       FROM b2 a JOIN b2 b ON a.band = b.band AND a.bkey = b.bkey
       |       WHERE a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM enc GROUP BY 1),
       |it AS (SELECT p.id_a, p.id_b, CAST(COUNT(*) AS BIGINT) AS inter
       |       FROM pr p JOIN enc ea ON ea.doc_id = p.id_a
       |       JOIN enc eb ON eb.doc_id = p.id_b AND eb.x = ea.x GROUP BY 1, 2),
       |jd AS (SELECT id_a, id_b,
       |         CAST((1000 * inter // (sa.n + sb.n - inter)) // 100 AS INTEGER) AS j_decile
       |       FROM it JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b),
       |fl AS (SELECT p.id_a, p.id_b, $flags
       |       FROM pr p JOIN sig sa ON sa.doc_id = p.id_a JOIN sig sb ON sb.doc_id = p.id_b),
       |ex AS ($arms)
       |SELECT CAST(rows_per_band AS INTEGER) AS rows_per_band, j_decile,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM ex JOIN jd USING (id_a, id_b) GROUP BY 1, 2""".stripMargin
  }

  def simhash(bits: Int = 32): String = {
    // mirrors Dedup.encodeToken: per-codepoint fold mod 128 (overflow-proof
    // for non-ASCII; identity for ASCII)
    val enc = (1 to 8).map(i =>
      s"CAST(ascii(substring(t, $i, 1)) % 128 AS BIGINT) * ${1L << (7 * (8 - i))}").mkString(" + ")
    val sums = (0 until bits).map(i => s"CAST(SUM(((x >> $i) % 2) * 2 - 1) AS BIGINT) AS s$i").mkString(", ")
    val combine = (0 until bits).map(i =>
      s"(CASE WHEN s$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t FROM documents
       |), enc AS (
       |  SELECT doc_id, $enc AS x FROM toks WHERE t <> ''
       |), sums AS (
       |  SELECT doc_id, $sums FROM enc GROUP BY doc_id
       |)
       |SELECT doc_id, $combine AS simhash FROM sums""".stripMargin
  }

  /** Mirrors Dedup.simHash64: token code reduced mod P, two affine 31-bit
    * halves (same Mix constants) packed as h1·2^31 + h2, sign-aggregated
    * over the 62 populated bits. All arithmetic non-negative BIGINT.
    */
  val simhash64: String = {
    val enc = (1 to 8).map(i =>
      s"CAST(ascii(substring(t, $i, 1)) % 128 AS BIGINT) * ${1L << (7 * (8 - i))}").mkString(" + ")
    val bits = Dedup.SimHash64Bits
    val P = Dedup.MinHashP
    val sums = (0 until bits).map(i => s"CAST(SUM(((x >> $i) % 2) * 2 - 1) AS BIGINT) AS s$i").mkString(", ")
    val combine = (0 until bits).map(i =>
      s"(CASE WHEN s$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t FROM documents
       |), enc0 AS (
       |  SELECT doc_id, ($enc) % $P AS xm FROM toks WHERE t <> ''
       |), enc AS (
       |  SELECT doc_id,
       |    ((${Dedup.Mix1A} * xm + ${Dedup.Mix1B}) % $P) * 2147483648 +
       |    ((${Dedup.Mix2A} * xm + ${Dedup.Mix2B}) % $P) AS x
       |  FROM enc0
       |), sums AS (
       |  SELECT doc_id, $sums FROM enc GROUP BY doc_id
       |)
       |SELECT doc_id, $combine AS simhash FROM sums""".stripMargin
  }

  private def simhashCteFor(bits: Int): String =
    if (bits == 64) simhash64 else simhash(bits)

  /** Mirrors Dedup.sortedNeighborhoodPairs: the oracle pairs each doc with
    * its successor in ONE global `(simhash, doc_id)` window — independently
    * proving the engine's bucket + boundary reconstruction equals true
    * global adjacency.
    */
  def sortedNeighborhood: String =
    s"""WITH sim AS (SELECT * FROM ($simhash64)),
       |o AS (
       |  SELECT doc_id, simhash,
       |    lead(doc_id) OVER w AS nid,
       |    lead(simhash) OVER w AS nsim
       |  FROM sim WINDOW w AS (ORDER BY simhash, doc_id))
       |SELECT doc_id AS id_a, nid AS id_b,
       |  CAST(bit_count(xor(simhash, nsim)) AS INTEGER) AS hamming
       |FROM o WHERE nid IS NOT NULL""".stripMargin

  /** Mirrors Dedup.simHashNearDupPairs (uncapped) — the oracle brute-forces
    * the pair space (fine at sf0.01), independently validating that the
    * engine's pigeonhole banding is exact, not an approximation.
    */
  def simhashNearDup(bits: Int = 64, maxHamming: Int = 3): String =
    s"""WITH sim AS (SELECT * FROM (${simhashCteFor(bits)}))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming""".stripMargin

  /** Exploded (band, key) rows over the pigeonhole bit-bands — boundaries
    * come from the same Dedup.pigeonholeBands the engine uses.
    */
  private def simhashBandedCtes(bits: Int, maxHamming: Int): String = {
    val bands = Dedup.pigeonholeBands(bits, maxHamming)
    val keyList = bands.map { case (lo, w) => s"(simhash >> $lo) % ${1L << w}" }
      .mkString("[", ", ", "]")
    s"""sim AS (SELECT * FROM (${simhashCteFor(bits)})),
       |keyed AS (SELECT doc_id, simhash, $keyList AS keys FROM sim),
       |banded AS (SELECT doc_id, simhash, keys, unnest(generate_series(0, ${bands.size - 1})) AS band FROM keyed),
       |b2 AS (SELECT doc_id, simhash, band, keys[band + 1] AS bkey FROM banded)""".stripMargin
  }

  /** Mirrors the capped simHashNearDupPairs path: per-(band, key) buckets
    * truncated to the `cap` smallest doc ids before the self-join, DISTINCT
    * over the bounded pair set, exact hamming filter.
    */
  def simhashNearDupCapped(bits: Int, maxHamming: Int, cap: Int): String =
    s"""WITH ${simhashBandedCtes(bits, maxHamming)},
       |capped AS (
       |  SELECT doc_id, simhash, band, bkey FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rn FROM b2)
       |  WHERE rn <= $cap
       |)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM capped a JOIN capped b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming""".stripMargin

  /** Mirrors Dedup.simHashClusters: cluster rep = min doc id over the
    * doc's band buckets (same shape as minhashClusters).
    */
  def simhashClusters(bits: Int = 64, maxHamming: Int = 3): String =
    s"""WITH ${simhashBandedCtes(bits, maxHamming)},
       |bucket AS (SELECT band, bkey, MIN(doc_id) AS bucket_rep FROM b2 GROUP BY 1, 2)
       |SELECT a.doc_id, MIN(bucket_rep) AS cluster_rep
       |FROM b2 a JOIN bucket USING (band, bkey) GROUP BY 1""".stripMargin

  def ngramJaccard(mod: Int = 10, threshold: Double = 0.5,
                   maxDfFraction: Option[Double] = None): String = {
    // mirrors the engine's df cap: per-shingle doc frequency vs a scalar
    // doc count, rare-shingle set feeds BOTH the intersection and the sizes
    // nd counts the whole input sample (including docs too short to
    // shingle) — the engine counts its input frame, not the shingled subset
    val sizedCte = maxDfFraction match {
      case Some(f) =>
        s"""sized AS (
           |  SELECT id, s FROM (
           |    SELECT doc_id AS id, s, COUNT(*) OVER (PARTITION BY s) AS df,
           |      (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents WHERE doc_id % $mod = 0) AS nd
           |    FROM sh)
           |  WHERE df <= nd * $f)""".stripMargin
      case None => "sized AS (SELECT doc_id AS id, s FROM sh)"
    }
    s"""WITH ${shingleCtes(s" AND doc_id % $mod = 0")},
       |$sizedCte,
       |sizes AS (SELECT id, COUNT(*) AS n_sh FROM sized GROUP BY id),
       |common AS (
       |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
       |  FROM sized a JOIN sized b ON a.s = b.s WHERE a.id < b.id GROUP BY 1, 2
       |), j AS (
       |  SELECT id_a, id_b,
       |    round(CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard
       |  FROM common JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b
       |)
       |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= $threshold""".stripMargin
  }

  /** Mirrors Dedup.bestCopyPerCluster: clusters and stats re-derived by
    * their own oracle SQL (nested WITH subqueries), then one rank window
    * per cluster on (quality desc, id).
    */
  def dedupBestCopy(k: Int = 16, rowsPerBand: Int = 4): String =
    s"""WITH clus AS (SELECT * FROM (${minhashClusters(k, rowsPerBand)})),
       |stats AS (SELECT doc_id, quality FROM ($textStats)),
       |j AS (SELECT c.doc_id, c.cluster_rep, s.quality FROM clus c JOIN stats s USING (doc_id)),
       |r AS (
       |  SELECT doc_id, cluster_rep, quality,
       |    ROW_NUMBER() OVER (PARTITION BY cluster_rep ORDER BY quality DESC, doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY cluster_rep) AS n_docs
       |  FROM j
       |)
       |SELECT cluster_rep, doc_id AS keep_id, quality, n_docs FROM r WHERE rn = 1""".stripMargin

  /** Mirrors Dedup.affineHash: input reduced mod P before the multiply
    * (overflow-proof for any BIGINT; non-negative ids so % == pmod).
    */
  private def affineHashSql(e: String, j: Int): String =
    s"(${Dedup.hashA(j)} * (($e) % ${Dedup.MinHashP}) + ${Dedup.hashB(j)}) % ${Dedup.MinHashP}"

  /** Mirrors Sampling.stratifiedHashSample (affine hash j=7, permille
    * thresholds; CASE order = first-match-wins stratum order).
    */
  val stratifiedSample: String =
    s"""SELECT doc_id, lang FROM documents
       |WHERE (${affineHashSql("doc_id", 7)}) % 1000
       |  < CASE WHEN lang = 'en' THEN 500 WHEN lang = 'zh' THEN 200 ELSE 100 END""".stripMargin

  /** Mirrors TextAnalysis.lengthHistogram: token-count buckets by integer
    * division, counts + token mass per (source, bucket).
    */
  def lengthHistogram(bucketTokens: Int): String =
    s"""WITH t AS (
       |  SELECT source,
       |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS nt
       |  FROM documents
       |)
       |SELECT source, nt // $bucketTokens AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(nt) AS BIGINT) AS sum_tokens
       |FROM t GROUP BY 1, 2""".stripMargin

  /** Mirrors Sampling.deterministicShuffle (seed 0): shard/order are
    * [[Dedup.mixHash]] hashes (members 100/101 and 104/105) — plain
    * affine stacks compose to a single affine map mod P whose lattice
    * leaves shard residues cycling for small ids; see the Spark-side
    * scaladoc.
    */
  def deterministicShuffle(nShards: Int): String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    CAST((${mixSql("doc_id", 100)}) % $nShards AS INTEGER) AS shard,
       |    (${mixSql("doc_id", 104)}) AS ord
       |  FROM documents
       |)
       |SELECT doc_id, shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos
       |FROM h""".stripMargin

  /** Mirrors the q42 bucketized range join with DuckDB's native
    * inequality join (IEJoin) — an independent derivation of the same
    * point-in-interval matches.
    */
  val rangeJoin: String =
    """WITH o AS (
      |  SELECT o_orderkey, date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS order_day
      |  FROM orders WHERE o_orderkey % 50 = 0
      |), i AS (
      |  SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS lo,
      |         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) + 1 + CAST(l_quantity AS BIGINT) % 28 AS hi
      |  FROM lineitem
      |), m AS (
      |  SELECT o.o_orderkey, COUNT(*) AS n FROM o JOIN i ON i.lo <= o.order_day AND o.order_day < i.hi GROUP BY 1
      |)
      |SELECT o.o_orderkey, CAST(o.order_day AS BIGINT) AS order_day, CAST(COALESCE(m.n, 0) AS BIGINT) AS n_active
      |FROM o LEFT JOIN m USING (o_orderkey)""".stripMargin

  /** Mirrors TextAnalysis.topTokens (lowercased whitespace tokens, raw
    * frequency + exact doc frequency, total-order top-k).
    */
  def vocabTopK(k: Int = 200): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS token
       |  FROM documents
       |), agg AS (
       |  SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs FROM toks GROUP BY 1
       |)
       |SELECT token, n, n_docs FROM agg ORDER BY n DESC, token LIMIT $k""".stripMargin

  /** Mirrors Curation.curate end-to-end (q44): best-copy dedup →
    * en-800‰/default-500‰ hash sample → quality ≥ 0.2 → per-doc stats.
    */
  def curationPipeline(k: Int = 16, rowsPerBand: Int = 4): String =
    s"""WITH best AS (SELECT * FROM (${dedupBestCopy(k, rowsPerBand)})),
       |st AS (SELECT doc_id, n_tokens, quality FROM ($textStats)),
       |kept AS (SELECT d.doc_id, d.lang FROM documents d JOIN best b ON d.doc_id = b.keep_id),
       |samp AS (
       |  SELECT doc_id, lang FROM kept
       |  WHERE (${affineHashSql("doc_id", 7)}) % 1000
       |    < CASE WHEN lang = 'en' THEN 800 ELSE 500 END
       |)
       |SELECT s.doc_id, s.lang, st.n_tokens, st.quality
       |FROM samp s JOIN st USING (doc_id) WHERE st.quality >= 0.2""".stripMargin

  /** q105 oracle: the q44 curation pipeline minus semantic duplicates —
    * the q100 SemDeDup derivation's not-kept vectors anti-joined out
    * (vec_id ≡ doc_id; docs without an embedding survive).
    */
  def curationSemantic(threshold: Double): String =
    s"""WITH cur AS (SELECT * FROM (${curationPipeline()})),
       |sem AS (SELECT * FROM (${semanticDedup(threshold)}))
       |SELECT cur.* FROM cur
       |WHERE cur.doc_id NOT IN (SELECT vec_id FROM sem WHERE NOT kept)""".stripMargin

  /** Mirrors Packing.packDocuments: per-bucket running token sum, pack =
    * ⌊(cumsum − n) / budget⌋. n_tokens re-derived via the textStats CTE.
    */
  def docPacking(budget: Long, nBuckets: Int): String =
    s"""WITH st AS (SELECT doc_id, n_tokens FROM ($textStats)),
       |b AS (SELECT doc_id, n_tokens, doc_id % $nBuckets AS bucket FROM st),
       |c AS (
       |  SELECT doc_id, bucket, n_tokens,
       |    SUM(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY bucket ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM b
       |)
       |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       |  CAST((cum - n_tokens) // $budget AS BIGINT) AS pack_seq, n_tokens
       |FROM c""".stripMargin

  /** Mirrors Curation.curateToShards (q51): the q44 curation pipeline
    * continued through the cluster split (j=9 affine hash of the SAME
    * cluster derivation) and per-(split, bucket) sequence packing.
    */
  def curationShards(trainPct: Int, budget: Long, nBuckets: Int,
                     k: Int = 16, rowsPerBand: Int = 4): String =
    s"""WITH cur AS (SELECT * FROM (${curationPipeline(k, rowsPerBand)})),
       |clus2 AS (SELECT * FROM (${minhashClusters(k, rowsPerBand)})),
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN (${affineHashSql("cluster_rep", 9)}) % 100 < $trainPct
       |         THEN 'train' ELSE 'eval' END AS split
       |  FROM clus2
       |), j AS (SELECT cur.*, sp.split FROM cur JOIN sp USING (doc_id)),
       |b AS (SELECT *, doc_id % $nBuckets AS bucket FROM j),
       |c AS (
       |  SELECT *, SUM(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY split, bucket ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM b
       |)
       |SELECT doc_id, lang, n_tokens, quality, split, CAST(bucket AS BIGINT) AS bucket,
       |  CAST((cum - n_tokens) // $budget AS BIGINT) AS pack_seq
       |FROM c""".stripMargin

  /** q164 oracle: overlapping token-window chunking — same chunk-count
    * arithmetic, DuckDB's 1-based inclusive list slice mirrors Spark's
    * (start, length) slice, windows re-joined with single spaces.
    */
  def docChunks(size: Int, stride: Int): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |    CASE WHEN len(toks) = 0 THEN 0
       |         WHEN len(toks) <= $size THEN 1
       |         ELSE 1 + (len(toks) - $size + $stride - 1) // $stride END AS nc
       |  FROM t)
       |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
       |  array_to_string(toks[(CAST(i AS INTEGER) * $stride + 1):(CAST(i AS INTEGER) * $stride + $size)], ' ') AS chunk_text,
       |  CAST(LEAST($size, n - i * $stride) AS BIGINT) AS n_tokens
       |FROM (SELECT doc_id, toks, n, unnest(range(0, nc)) AS i FROM c)""".stripMargin

  /** q165 oracle: the weighted n-way split — cumulative-ppm CASE over the
    * same cluster-rep affine hash, remainder to the last part.
    */
  def clusterSplitWeighted(parts: Seq[(String, Long)],
                           k: Int = 16, rowsPerBand: Int = 4): String = {
    val h = s"(${affineHashSql("cluster_rep", 9)}) % 1000000"
    val bounds = parts.map(_._2).scanLeft(0L)(_ + _).tail
    val whens = parts.zip(bounds).dropRight(1)
      .map { case ((name, _), b) => s"WHEN $h < $b THEN '$name'" }
      .mkString(" ")
    s"""WITH clus AS (SELECT * FROM (${minhashClusters(k, rowsPerBand)}))
       |SELECT doc_id, cluster_rep,
       |  CASE $whens ELSE '${parts.last._1}' END AS split
       |FROM clus""".stripMargin
  }

  /** Mirrors Packing.clusterSplit over the minhashClusters derivation. */
  def clusterSplit(trainPct: Int, k: Int = 16, rowsPerBand: Int = 4): String =
    s"""WITH clus AS (SELECT * FROM (${minhashClusters(k, rowsPerBand)}))
       |SELECT doc_id, cluster_rep,
       |  CASE WHEN (${affineHashSql("cluster_rep", 9)}) % 100 < $trainPct
       |       THEN 'train' ELSE 'eval' END AS split
       |FROM clus""".stripMargin

  // ---- similarity extension queries ---------------------------------------

  /** Per-pair cosine pieces over 64-dim float arrays.
    * `list_inner_product` accumulates left-to-right over the list — the
    * SAME sequence of double adds as Spark's fused ascending-index
    * expression and as the previous `SUM(… ORDER BY i)` spelling
    * (verified bit-identical over every sf0.01 pair: 2495/2495 equal,
    * max |Δ| = 0.0), so the round(…, 6) boundary can never flip on a
    * last-ulp difference. Unlike the ordered SUM over an unnested
    * (pairs × dims) relation, this keeps the oracle's memory O(pairs) —
    * ordered aggregates cannot spill, and the old spelling OOM'd DuckDB
    * at sf0.1 on the brute-force arms (q134 round-6, q275 round-7).
    */
  private val dotsCte: String =
    """dots AS (
      |  SELECT query_id, neighbor_id,
      |    list_inner_product(list_transform(qv, x -> CAST(x AS DOUBLE)),
      |                       list_transform(cv, x -> CAST(x AS DOUBLE))) AS dp,
      |    list_inner_product(list_transform(qv, x -> CAST(x AS DOUBLE)),
      |                       list_transform(qv, x -> CAST(x AS DOUBLE))) AS qq,
      |    list_inner_product(list_transform(cv, x -> CAST(x AS DOUBLE)),
      |                       list_transform(cv, x -> CAST(x AS DOUBLE))) AS cc
      |  FROM p
      |), scored AS (
      |  SELECT query_id, neighbor_id,
      |    round(CASE WHEN sqrt(qq) * sqrt(cc) = 0 THEN 0.0 ELSE dp / (sqrt(qq) * sqrt(cc)) END, 6) AS score
      |  FROM dots
      |)""".stripMargin

  private def rankTail(k: Int): String =
    s"""r AS (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INTEGER) AS "rank"
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, score, "rank" FROM r WHERE "rank" <= $k""".stripMargin

  /** q57: TF-IDF cosine top-k. The vocabulary/weight derivation mirrors
    * TfIdf.tfidfVectors in exact integer arithmetic (rational fixed-point
    * IDF via `//`, no ln); dense vectors assemble via an ordered list
    * aggregate over an index series. Dot/norm sums are LIST-native
    * (`list_sum ∘ list_transform` — summed in list order, the same
    * ascending-index order Spark's fused cosine uses): the row-expansion
    * dots CTE q18 shares would materialize pairs × dims rows with
    * per-group ordered-aggregate buffering, which OOMs DuckDB at the
    * sf0.1 pair count.
    */
  def tfidfTopK(vocabSize: Int = 64, mod: Int = 10, k: Int = 5): String = {
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS token
       |  FROM documents
       |), vocab0 AS (
       |  SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df
       |  FROM toks GROUP BY 1 ORDER BY n DESC, token LIMIT $vocabSize
       |), vocab AS (
       |  SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INTEGER) - 1 AS idx,
       |    (((SELECT COUNT(*) FROM documents) + 1) * 1000) // (df + 1) AS idfq
       |  FROM vocab0
       |), tf AS (
       |  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
       |), wt AS (
       |  SELECT doc_id, idx, CAST(tf * idfq AS DOUBLE) AS w FROM tf JOIN vocab USING (token)
       |), vec AS (
       |  SELECT d.doc_id, list(COALESCE(wt.w, 0.0) ORDER BY s.i) AS v
       |  FROM documents d
       |  CROSS JOIN generate_series(0, ${vocabSize - 1}) s(i)
       |  LEFT JOIN wt ON wt.doc_id = d.doc_id AND wt.idx = s.i
       |  GROUP BY d.doc_id
       |), norms AS (
       |  SELECT doc_id, list_sum(list_transform(generate_series(1, $vocabSize), i -> v[i] * v[i])) AS nn
       |  FROM vec
       |), q AS (SELECT doc_id AS query_id, v AS qv FROM vec WHERE doc_id % $mod = 0),
       |c AS (SELECT doc_id AS neighbor_id, v AS cv FROM vec),
       |dots AS (
       |  SELECT query_id, neighbor_id,
       |    list_sum(list_transform(generate_series(1, $vocabSize), i -> qv[i] * cv[i])) AS dp
       |  FROM q, c WHERE query_id <> neighbor_id
       |), scored AS (
       |  SELECT query_id, neighbor_id,
       |    round(CASE WHEN sqrt(qn.nn) * sqrt(cn.nn) = 0 THEN 0.0
       |               ELSE dp / (sqrt(qn.nn) * sqrt(cn.nn)) END, 6) AS score
       |  FROM dots JOIN norms qn ON qn.doc_id = query_id
       |            JOIN norms cn ON cn.doc_id = neighbor_id
       |),
       |${rankTail(k)}""".stripMargin
  }

  /** q295: nDCG@k of the exact cosine top-k against label-match qrels
    * (grade 3 for every same-label doc). Discount literals come from the
    * SAME `Search.ndcgDiscounts` table as the engine — no log runs in
    * either engine; ppm division in HUGEINT mirrors the DECIMAL(38,0)
    * numerator.
    */
  def ndcgAtK(mod: Int, k: Int): String = {
    val disc = ext.Search.ndcgDiscounts(k).mkString(", ")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % $mod = 0),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       |p AS (SELECT query_id, neighbor_id, qv, cv FROM q, c WHERE query_id <> neighbor_id),
       |$dotsCte,
       |rk AS (
       |  SELECT query_id, neighbor_id AS doc_id, rnk FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
       |    FROM scored) WHERE rnk <= $k),
       |ql AS (SELECT vec_id AS query_id, label AS l FROM embeddings WHERE vec_id % $mod = 0),
       |qr AS (
       |  SELECT query_id, e.vec_id AS doc_id, 3 AS grade
       |  FROM ql JOIN embeddings e ON e.label = ql.l
       |  WHERE e.vec_id <> query_id),
       |dcg AS (
       |  SELECT rk.query_id,
       |    CAST(SUM(((1::BIGINT << COALESCE(grade, 0)) - 1)
       |      * (list_value($disc))[rnk]) AS BIGINT) AS dcg
       |  FROM rk LEFT JOIN qr USING (query_id, doc_id) GROUP BY 1),
       |ideal AS (
       |  SELECT query_id, grade,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY grade DESC, doc_id) AS r
       |  FROM qr),
       |idcg AS (
       |  SELECT query_id,
       |    CAST(SUM(((1::BIGINT << grade) - 1) * (list_value($disc))[r]) AS BIGINT) AS idcg
       |  FROM ideal WHERE r <= $k GROUP BY 1),
       |panel AS (
       |  SELECT DISTINCT query_id FROM rk UNION SELECT DISTINCT query_id FROM qr)
       |SELECT panel.query_id, COALESCE(dcg, 0) AS dcg, COALESCE(idcg, 0) AS idcg,
       |  CAST(CAST(COALESCE(dcg, 0) AS HUGEINT) * 1000000
       |    // GREATEST(COALESCE(idcg, 0), 1) AS BIGINT) AS ndcg_ppm
       |FROM panel LEFT JOIN dcg USING (query_id) LEFT JOIN idcg USING (query_id)""".stripMargin
  }

  def cosineTopK(mod: Int = 50, k: Int = 5): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % $mod = 0),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       |p AS (SELECT query_id, neighbor_id, qv, cv FROM q, c WHERE query_id <> neighbor_id),
       |$dotsCte,
       |${rankTail(k)}""".stripMargin

  /** [[cosineTopK]] with both arms TRUNCATED to the first `dims`
    * dimensions (DuckDB list slice ≡ Spark `slice(vec, 1, dims)`) — the
    * Matryoshka-truncation arm of the q275 rank-agreement acceptance.
    */
  def cosineTopKDims(mod: Int, k: Int, dims: Int): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding[1:$dims] AS qv FROM embeddings WHERE vec_id % $mod = 0),
       |c AS (SELECT vec_id AS neighbor_id, embedding[1:$dims] AS cv FROM embeddings),
       |p AS (SELECT query_id, neighbor_id, qv, cv FROM q, c WHERE query_id <> neighbor_id),
       |$dotsCte,
       |${rankTail(k)}""".stripMargin

  /** LSH bucket expression over the first `dim` dimensions with `nPlanes`
    * sign-projections — term-for-term identical to Similarity.lshBucket.
    */
  def lshBucketSql(vecCol: String, dim: Int, nPlanes: Int): String =
    (0 until nPlanes).map { p =>
      val d = (0 until dim).map(i =>
        s"CAST($vecCol[${i + 1}] AS DOUBLE) * ${Similarity.planeWeight(p, i)}").mkString(" + ")
      s"(CASE WHEN ($d) > 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")

  def lshTopK(mod: Int = 50, k: Int = 5, dim: Int = 16, nPlanes: Int = 4): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, ${lshBucketSql("embedding", dim, nPlanes)} AS bucket FROM embeddings WHERE vec_id % $mod = 0),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv, ${lshBucketSql("embedding", dim, nPlanes)} AS bucket FROM embeddings),
       |p AS (SELECT query_id, neighbor_id, qv, cv FROM c JOIN q USING (bucket) WHERE query_id <> neighbor_id),
       |$dotsCte,
       |${rankTail(k)}""".stripMargin

  /** q173 oracle: multi-probe LSH — the q19 derivation with the query
    * side expanded to its bucket plus the `probes` one-bit-flip buckets
    * (fixed probe set; `xor` + shift mirror the engine's bitwiseXOR).
    */
  def multiProbeLshTopK(mod: Int, k: Int, dim: Int, nPlanes: Int,
                        probes: Int): String =
    s"""WITH q0 AS (SELECT vec_id AS query_id, embedding AS qv, ${lshBucketSql("embedding", dim, nPlanes)} AS bucket0 FROM embeddings WHERE vec_id % $mod = 0),
       |q AS (
       |  SELECT query_id, qv, unnest(list_prepend(bucket0,
       |    list_transform(range(0, $probes),
       |      p -> xor(bucket0, CAST(1 AS BIGINT) << CAST(p AS INTEGER))))) AS bucket
       |  FROM q0),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv, ${lshBucketSql("embedding", dim, nPlanes)} AS bucket FROM embeddings),
       |p AS (SELECT query_id, neighbor_id, qv, cv FROM c JOIN q USING (bucket) WHERE query_id <> neighbor_id),
       |$dotsCte,
       |${rankTail(k)}""".stripMargin

  /** Parametrized cosine-over-pairs CTE pair: `<out>_dots` + `<out>`
    * (keys k1,k2; vectors av,bv; 64 dims in ordinal order).
    */
  private def cosineCtes(pairs: String, k1: String, k2: String,
                         av: String, bv: String, out: String): String =
    s"""${out}_dots AS (
       |  SELECT $k1, $k2,
       |    SUM(CAST($av[CAST(i AS INTEGER)] AS DOUBLE) * CAST($bv[CAST(i AS INTEGER)] AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(CAST($av[CAST(i AS INTEGER)] AS DOUBLE) * CAST($av[CAST(i AS INTEGER)] AS DOUBLE) ORDER BY i) AS qq,
       |    SUM(CAST($bv[CAST(i AS INTEGER)] AS DOUBLE) * CAST($bv[CAST(i AS INTEGER)] AS DOUBLE) ORDER BY i) AS cc
       |  FROM $pairs, generate_series(1, 64) t(i) GROUP BY 1, 2
       |), $out AS (
       |  SELECT $k1, $k2,
       |    round(CASE WHEN sqrt(qq) * sqrt(cc) = 0 THEN 0.0 ELSE dp / (sqrt(qq) * sqrt(cc)) END, 6) AS s
       |  FROM ${out}_dots
       |)""".stripMargin

  /** Data-dependent LSH bucket: plane count `np` (a column from the `np`
    * CTE) is derived from COUNT(*) with the same integer-shift rule as
    * Similarity.adaptivePlanes, and the plane weights inline the
    * Similarity.planeWeight formula ((p·31 + i·17) mod 7 − 3) since `p` is
    * no longer a compile-time constant.
    */
  private def lshBucketDynSql(vecCol: String, dim: Int): String =
    s"CAST(list_sum(list_transform(range(0, np), p -> CASE WHEN " +
      s"list_sum(list_transform(range(0, $dim), i -> CAST($vecCol[CAST(i AS INTEGER) + 1] AS DOUBLE) * (((p * 31 + i * 17) % 7) - 3))) > 0 " +
      s"THEN (1::BIGINT << CAST(p AS INTEGER)) ELSE 0 END)) AS BIGINT)"

  /** Mirrors the q38 scale-hardened LSH: adaptive plane count from the
    * corpus size + deterministic per-bucket candidate cap before rerank.
    */
  def lshAdaptiveTopK(queryMod: Int = 50, k: Int = 5, dim: Int = 16,
                      targetBucket: Int = 64, maxBucket: Int = 256): String =
    s"""WITH cnt AS (SELECT count(*) AS n FROM embeddings),
       |np AS (SELECT COALESCE(list_min(list_filter(range(1, 21), p -> ($targetBucket::BIGINT << p) >= n)), 20) AS np FROM cnt),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, ${lshBucketDynSql("embedding", dim)} AS bucket FROM embeddings CROSS JOIN np WHERE vec_id % $queryMod = 0),
       |call AS (SELECT vec_id AS neighbor_id, embedding AS cv, ${lshBucketDynSql("embedding", dim)} AS bucket FROM embeddings CROSS JOIN np),
       |c AS (SELECT neighbor_id, cv, bucket FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY neighbor_id) AS brn FROM call) WHERE brn <= $maxBucket),
       |p AS (SELECT query_id, neighbor_id, qv, cv FROM c JOIN q USING (bucket) WHERE query_id <> neighbor_id),
       |$dotsCte,
       |${rankTail(k)}""".stripMargin

  /** Mirrors Similarity.ivfTopK: centroid assignment → nProbe probes →
    * candidate join on centroid id → exact re-rank.
    *
    * `corpusWhere` (e.g. "AND label = 2") narrows the searchable corpus —
    * the q155 filtered-ANN variant; the probe/centroid side is unchanged
    * (the index is built once, the predicate gates candidates).
    */
  def ivfTopK(centMod: Int = 37, queryMod: Int = 50, nProbe: Int = 3, k: Int = 5,
              corpusWhere: String = ""): String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % $centMod = 0),
       |corp AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings WHERE TRUE $corpusWhere),
       |ap AS (SELECT neighbor_id, cid, nv, cv FROM corp, cent),
       |${cosineCtes("ap", "neighbor_id", "cid", "nv", "cv", "ascore")},
       |assign AS (
       |  SELECT neighbor_id, cid FROM (
       |    SELECT neighbor_id, cid, ROW_NUMBER() OVER (PARTITION BY neighbor_id ORDER BY s DESC, cid) AS rn
       |    FROM ascore) WHERE rn = 1
       |),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % $queryMod = 0),
       |qp AS (SELECT query_id, cid, qv, cv FROM q, cent),
       |${cosineCtes("qp", "query_id", "cid", "qv", "cv", "qscore")},
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT query_id, cid, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, cid) AS rn
       |    FROM qscore) WHERE rn <= $nProbe
       |),
       |p AS (
       |  SELECT query_id, neighbor_id, qv, cv FROM (
       |    SELECT pr.query_id AS query_id, a.neighbor_id AS neighbor_id, qq2.qv AS qv, c.nv AS cv
       |    FROM probes pr
       |    JOIN assign a ON pr.cid = a.cid
       |    JOIN q qq2 ON pr.query_id = qq2.query_id
       |    JOIN corp c ON a.neighbor_id = c.neighbor_id
       |    WHERE pr.query_id <> a.neighbor_id)
       |),
       |$dotsCte,
       |${rankTail(k)}""".stripMargin

  /** The greedy-MMR CTE tail over a `cand (query_id, neighbor_id, score)`
    * CTE already in scope: candidate pair cosines + first pick + `k−1`
    * unrolled rounds, ending in `sel$k`. Shared by q156 (brute-cosine
    * candidates) and q161 (RRF-fused hybrid candidates).
    */
  private def mmrTailCtes(k: Int, lambdaPpm: Long): String = {
    val lam = s"(CAST($lambdaPpm AS DOUBLE) / 1000000)"
    val oneMl = s"(CAST(${1000000L - lambdaPpm} AS DOUBLE) / 1000000)"
    val steps = (2 to k).map { r =>
      s"""pen$r AS MATERIALIZED (
         |  SELECT c.query_id, c.neighbor_id, c.score, MAX(p.s) AS pen
         |  FROM cand c
         |  JOIN sel${r - 1} s2 ON s2.query_id = c.query_id
         |  JOIN ps p ON p.a = c.neighbor_id AND p.b = s2.neighbor_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s3
         |    WHERE s3.query_id = c.query_id AND s3.neighbor_id = c.neighbor_id)
         |  GROUP BY 1, 2, 3),
         |pick$r AS MATERIALIZED (
         |  SELECT query_id, neighbor_id, score, $r AS pick_rank FROM (
         |    SELECT query_id, neighbor_id, score,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY round($lam * score - $oneMl * pen, 6) DESC, neighbor_id) AS rn
         |    FROM pen$r) WHERE rn = 1),
         |sel$r AS MATERIALIZED (
         |  SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pick$r)""".stripMargin
    }
    s"""cpairs AS MATERIALIZED (
       |  SELECT DISTINCT x.neighbor_id AS a, y.neighbor_id AS b
       |  FROM cand x JOIN cand y
       |    ON x.query_id = y.query_id AND x.neighbor_id <> y.neighbor_id),
       |pv AS (
       |  SELECT p.a, p.b, ea.embedding AS av, eb.embedding AS bv
       |  FROM cpairs p JOIN embeddings ea ON ea.vec_id = p.a
       |                JOIN embeddings eb ON eb.vec_id = p.b),
       |${cosineCtes("pv", "a", "b", "av", "bv", "ps")},
       |sel1 AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, score, 1 AS pick_rank FROM (
       |    SELECT query_id, neighbor_id, score,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
       |    FROM cand) WHERE rn = 1),
       |${steps.mkString(",\n")}""".stripMargin
  }

  /** q156 oracle: MMR diversity rerank — candidate CTE = the q18 brute
    * cosine derivation cut at `candidates`, pair similarities over the
    * DISTINCT candidate id pairs (query-independent, like the engine),
    * then `k−1` unrolled greedy rounds. λ/(1−λ) are derived by the same
    * `ppm/10⁶` IEEE division the Spark side uses; the MMR score is
    * re-rounded to 6 decimals before the rank, id tie-break after.
    */
  def mmrRerank(queryMod: Int, candidates: Int, k: Int, lambdaPpm: Long): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % $queryMod = 0),
       |corp AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings),
       |cp AS (SELECT query_id, neighbor_id, qv, nv FROM q, corp WHERE query_id <> neighbor_id),
       |${cosineCtes("cp", "query_id", "neighbor_id", "qv", "nv", "cs")},
       |cand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, score FROM (
       |    SELECT query_id, neighbor_id, s AS score,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rnk
       |    FROM cs) WHERE rnk <= $candidates),
       |${mmrTailCtes(k, lambdaPpm)}
       |SELECT query_id, neighbor_id, score, CAST(pick_rank AS INTEGER) AS pick_rank
       |FROM sel$k""".stripMargin

  /** q161 oracle: hybrid retrieval flagship — the q122 RRF fusion as the
    * candidate CTE (rel = rrf/10⁶, one synthetic query id 0), diversified
    * by the shared greedy-MMR tail.
    */
  def hybridMmr(queryTokens: Seq[String], qid: Long, armK: Int, candK: Int,
                c: Int, k: Int, lambdaPpm: Long): String =
    s"""WITH cand0 AS MATERIALIZED (
       |  SELECT doc_id, rrf FROM (${rrfFusion(queryTokens, qid, armK, candK, c)}) t),
       |cand AS MATERIALIZED (
       |  SELECT CAST(0 AS BIGINT) AS query_id, doc_id AS neighbor_id,
       |    CAST(rrf AS DOUBLE) / 1000000 AS score
       |  FROM cand0),
       |${mmrTailCtes(k, lambdaPpm)}
       |SELECT query_id, neighbor_id, score, CAST(pick_rank AS INTEGER) AS pick_rank
       |FROM sel$k""".stripMargin

  /** Mirrors Similarity.annRecall over the lsh (q19) and ivf (q27) arms
    * vs the exact q18 set: the arm/exact derivations are the SAME oracle
    * SQL embedded as derived tables, hits are a plain inner join (top-k
    * pairs are unique), recall is BIGINT integer division to ppm.
    */
  def annRecall(queryMod: Int, k: Int, dim: Int, nPlanes: Int,
                centMod: Int, nProbe: Int): String =
    // the three arm derivations are the whole cost — MATERIALIZED keeps
    // DuckDB from inlining them per reference (exact is referenced twice;
    // inlined, the sf0.1 brute-force arm doubles and blows the child's
    // memory cap — the q141 CTE-inlining lesson, memory edition)
    s"""WITH exact AS MATERIALIZED (SELECT query_id, neighbor_id FROM (${cosineTopK(queryMod, k)}) t),
       |lsh AS MATERIALIZED (SELECT query_id, neighbor_id FROM (${lshTopK(queryMod, k, dim, nPlanes)}) t),
       |ivf AS MATERIALIZED (SELECT query_id, neighbor_id FROM (${ivfTopK(centMod, queryMod, nProbe, k)}) t),
       |m AS (SELECT 'lsh' AS method UNION ALL SELECT 'ivf'),
       |u AS (SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh
       |      UNION ALL SELECT 'ivf', query_id, neighbor_id FROM ivf),
       |h AS (SELECT method, CAST(COUNT(*) AS BIGINT) AS total_hits
       |      FROM u JOIN exact USING (query_id, neighbor_id) GROUP BY 1),
       |e AS (SELECT CAST(COUNT(*) AS BIGINT) AS expected FROM exact)
       |SELECT m.method, COALESCE(h.total_hits, CAST(0 AS BIGINT)) AS total_hits,
       |  e.expected,
       |  CASE WHEN e.expected = 0 THEN CAST(0 AS BIGINT)
       |       ELSE (1000000 * COALESCE(h.total_hits, CAST(0 AS BIGINT))) // e.expected
       |  END AS recall_ppm
       |FROM m LEFT JOIN h USING (method), e""".stripMargin

  /** Mirrors Similarity.embeddingNearDupPairs (LSH bucket join + exact
    * cosine re-check ≥ threshold).
    */
  def embeddingNearDup(threshold: Double, dim: Int = 16, nPlanes: Int = 4): String =
    s"""WITH v AS (SELECT vec_id, embedding, ${lshBucketSql("embedding", dim, nPlanes)} AS bucket FROM embeddings),
       |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS qv, b.embedding AS cv
       |      FROM v a JOIN v b ON a.bucket = b.bucket WHERE a.vec_id < b.vec_id),
       |dots AS (
       |  SELECT id_a, id_b,
       |    SUM(CAST(qv[CAST(i AS INTEGER)] AS DOUBLE) * CAST(cv[CAST(i AS INTEGER)] AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(CAST(qv[CAST(i AS INTEGER)] AS DOUBLE) * CAST(qv[CAST(i AS INTEGER)] AS DOUBLE) ORDER BY i) AS qq,
       |    SUM(CAST(cv[CAST(i AS INTEGER)] AS DOUBLE) * CAST(cv[CAST(i AS INTEGER)] AS DOUBLE) ORDER BY i) AS cc
       |  FROM p, generate_series(1, 64) t(i) GROUP BY 1, 2
       |), scored AS (
       |  SELECT id_a, id_b,
       |    round(CASE WHEN sqrt(qq) * sqrt(cc) = 0 THEN 0.0 ELSE dp / (sqrt(qq) * sqrt(cc)) END, 6) AS score
       |  FROM dots
       |)
       |SELECT id_a, id_b, score FROM scored WHERE score >= $threshold""".stripMargin

  /** Sliding 10-minute windows every 5 minutes, mirrored by explicit
    * epoch-µs window arithmetic (each event lands in exactly two windows;
    * µs granularity matches Spark's ns→µs truncation bit-for-bit).
    */
  val slidingWindows: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
      |cand AS (
      |  SELECT event_type, us,
      |    unnest([(us // 300000000) * 300000000, (us // 300000000) * 300000000 - 300000000]) AS ws
      |  FROM e
      |), hit AS (
      |  SELECT event_type, make_timestamp(ws) AS window_start FROM cand
      |  WHERE us >= ws AND us < ws + 600000000
      |)
      |SELECT window_start, event_type, COUNT(*) AS n FROM hit GROUP BY 1, 2""".stripMargin

  /** Full value oracle for Multimodal.mediaFeatures (q23): re-derives every
    * StubCodec content feature from the UTF-8 bytes in SQL —
    *   - bytes via hex-pair decode of the encoded BLOB (no blob unnest in
    *     DuckDB 1.0);
    *   - FNV-1a checksum as a list_reduce fold with the 64-bit wraparound
    *     multiply done in HUGEINT then re-signed, bit-identical to JVM Long
    *     overflow semantics (same modular trick as the MinHash oracles);
    *   - mean_byte = integer byte sum / length, one double division.
    * NULL text maps to the empty payload: length 0, checksum = offset
    * basis, mean 0.0 (matches Multimodal.fakeMediaFromDocuments coalesce).
    */
  val mediaFeatures: String = {
    val m = "18446744073709551616" // 2^64
    val h = "9223372036854775808"  // 2^63
    val wrapped = s"((CAST(xor(acc, CAST(byte AS BIGINT)) AS HUGEINT) * 1099511628211) % $m + $m) % $m"
    s"""WITH d AS (
       |  SELECT doc_id, COALESCE(encode(text), ''::BLOB) AS b FROM documents
       |), s AS (
       |  SELECT doc_id, octet_length(b) AS n, hex(b) AS h FROM d
       |), bytes AS (
       |  SELECT doc_id, n,
       |    list_transform(range(1, n + 1), i ->
       |      (strpos('0123456789ABCDEF', h[2*i-1]) - 1) * 16 + (strpos('0123456789ABCDEF', h[2*i]) - 1)) AS bs
       |  FROM s
       |)
       |SELECT doc_id AS media_id,
       |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       |  CAST(n AS INTEGER) AS n_bytes,
       |  list_reduce(list_prepend(1469598103934665603::BIGINT, bs), (acc, byte) ->
       |    CAST(CASE WHEN $wrapped >= $h THEN $wrapped - $m ELSE $wrapped END AS BIGINT)) AS checksum,
       |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(list_sum(bs) AS DOUBLE) / n END AS mean_byte,
       |  CAST((n + 1023) // 1024 AS INTEGER) AS frames_sampled
       |FROM bytes""".stripMargin
  }

  /** Mirrors Multimodal.sampleFrames (q143): per-media frame fan-out
    * re-derived from the UTF-8 payload bytes — same hex-pair byte decode
    * as [[mediaFeatures]], frame indices via the scalar `range` list
    * (unnested — the lateral-arg-safe form), per-frame FNV-1a over the
    * frame's own byte slice with the HUGEINT wraparound fold.
    */
  def mediaFrames(stride: Int, maxFrames: Int): String = {
    val m = "18446744073709551616" // 2^64
    val h = "9223372036854775808"  // 2^63
    val wrapped = s"((CAST(xor(acc, CAST(byte AS BIGINT)) AS HUGEINT) * 1099511628211) % $m + $m) % $m"
    s"""WITH d AS (
       |  SELECT doc_id, COALESCE(encode(text), ''::BLOB) AS b FROM documents
       |), s AS (
       |  SELECT doc_id, octet_length(b) AS n, hex(b) AS hx FROM d
       |), bytes AS (
       |  SELECT doc_id, n,
       |    list_transform(range(1, n + 1), i ->
       |      (strpos('0123456789ABCDEF', hx[2*i-1]) - 1) * 16 +
       |      (strpos('0123456789ABCDEF', hx[2*i]) - 1)) AS bs
       |  FROM s
       |), f AS (
       |  SELECT doc_id, n, bs,
       |    unnest(range(0, least((n + $stride - 1) // $stride, $maxFrames))) AS i
       |  FROM bytes
       |)
       |SELECT doc_id AS media_id,
       |  CAST(i AS INTEGER) AS frame_idx,
       |  CAST(i * $stride AS INTEGER) AS byte_off,
       |  CAST(least($stride, n - i * $stride) AS INTEGER) AS frame_bytes,
       |  CAST(i * 40000 AS BIGINT) AS frame_ts_us,
       |  list_reduce(list_prepend(1469598103934665603::BIGINT,
       |      bs[CAST(i * $stride + 1 AS BIGINT) :
       |         CAST(i * $stride + least($stride, n - i * $stride) AS BIGINT)]),
       |    (acc, byte) ->
       |      CAST(CASE WHEN $wrapped >= $h THEN $wrapped - $m ELSE $wrapped END AS BIGINT)) AS checksum
       |FROM f""".stripMargin
  }

  /** q166 oracle: duplicate-frame report composed over the q143 frame
    * derivation — fingerprint-keyed distinct-media counts joined back,
    * then per-media totals.
    */
  def frameDupStats(stride: Int = 256, maxFrames: Int = 16): String =
    s"""WITH fr AS MATERIALIZED (
       |  SELECT media_id, checksum FROM (${mediaFrames(stride, maxFrames)}) t),
       |fp AS MATERIALIZED (
       |  SELECT checksum, COUNT(DISTINCT media_id) AS n_media FROM fr GROUP BY 1)
       |SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
       |  CAST(COUNT(DISTINCT f.checksum) AS BIGINT) AS n_distinct,
       |  CAST(SUM(CASE WHEN p.n_media >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
       |FROM fr f JOIN fp p ON p.checksum = f.checksum
       |GROUP BY media_id""".stripMargin

  /** Mirrors the SQL-expressible subset of Multimodal.mediaFeatures:
    * UTF-8 byte length (strlen), even/odd kind split, ceil-div frame
    * count. NULL text maps to an empty payload in the engine → 0 bytes.
    */
  val mediaMeta: String =
    """SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
      |  CAST(COALESCE(strlen(text), 0) AS INTEGER) AS n_bytes,
      |  CAST((COALESCE(strlen(text), 0) + 1023) // 1024 AS INTEGER) AS frames_sampled
      |FROM documents""".stripMargin

  // ---- extract/flatten layer (committed payload fixtures) -----------------
  // DuckDB flattens the SAME fixture files the Spark readers consume
  // (Fixtures.dir), independently re-deriving the nested walk — struct
  // unnest chains here vs lazy explodes in graft.extract.Payloads.

  private val fx = Fixtures.dir

  /** N1-N2: double-nested list.elements.order[].orderLines.orderLine[]. */
  val walmartFlatten: String =
    s"""WITH raw AS (SELECT * FROM read_json('$fx/walmart.json')),
       |o AS (SELECT unnest(("list").elements."order") AS o FROM raw),
       |l AS (SELECT unnest((o).orderLines.orderLine) AS l FROM o)
       |SELECT CAST((l).item.sku AS VARCHAR) AS sku, TRY_CAST((l).orderLineQuantity.amount AS DOUBLE) AS qty, 'walmart' AS site FROM l""".stripMargin

  /** N6: Houzz XML (DuckDB has no XML reader — hand-derived literal rows
    * from fixtures/payloads/houzz.xml, independent of the engine).
    */
  val houzzFlatten: String =
    """SELECT CAST(sku AS VARCHAR) AS sku, CAST(qty AS DOUBLE) AS qty, CAST(site AS VARCHAR) AS site
      |FROM (VALUES ('HZ-1', 2.0, 'houzz'), ('HZ-2', 1.0, 'houzz'), ('HZ-3', 5.0, 'houzz')) t(sku, qty, site)""".stripMargin

  /** N7: orders[].items[]; a missing quantity key nulls, not drops. */
  val faireFlatten: String =
    s"""WITH raw AS (SELECT * FROM read_json('$fx/faire.json')),
       |o AS (SELECT unnest(orders) AS o FROM raw),
       |i AS (SELECT unnest((o).items) AS i FROM o)
       |SELECT CAST((i).sku AS VARCHAR) AS sku, TRY_CAST((i).quantity AS DOUBLE) AS qty, 'faire' AS site FROM i""".stripMargin

  /** N3+P4: top-level order array, exclusive timestamp window, line_items. */
  val wooFlatten: String =
    s"""WITH raw AS (SELECT * FROM read_json('$fx/woocommerce.json')),
       |w AS (SELECT * FROM raw WHERE CAST(date_created AS TIMESTAMP) > TIMESTAMP '2024-05-01 00:00:00' AND CAST(date_created AS TIMESTAMP) < TIMESTAMP '2024-06-01 00:00:00'),
       |i AS (SELECT unnest(line_items) AS li FROM w)
       |SELECT CAST((li).sku AS VARCHAR) AS sku, TRY_CAST((li).quantity AS DOUBLE) AS qty, 'woo_site1' AS site FROM i""".stripMargin

  /** N4+S7: two tenant payloads unioned, per-order date window, lineItems. */
  val dscoFlatten: String =
    s"""WITH raw AS (SELECT 'dsco_t1' AS site, * FROM read_json('$fx/dsco_t1.json') UNION ALL BY NAME SELECT 'dsco_t2' AS site, * FROM read_json('$fx/dsco_t2.json')),
       |o AS (SELECT site, unnest(orders) AS o FROM raw),
       |w AS (SELECT site, o FROM o WHERE CAST((o).dscoCreateDate AS TIMESTAMP) > TIMESTAMP '2024-05-01 00:00:00' AND CAST((o).dscoCreateDate AS TIMESTAMP) < TIMESTAMP '2024-06-01 00:00:00'),
       |i AS (SELECT site, unnest((o).lineItems) AS i FROM w)
       |SELECT CAST((i).sku AS VARCHAR) AS sku, TRY_CAST((i).quantity AS DOUBLE) AS qty, site FROM i""".stripMargin

  /** N5+P5: CANCELED orders dropped before the order_lines explode. */
  val miraklFlatten: String =
    s"""WITH raw AS (SELECT * FROM read_json('$fx/mirakl.json')),
       |o AS (SELECT unnest(orders) AS o FROM raw),
       |live AS (SELECT o FROM o WHERE (o).order_state <> 'CANCELED'),
       |l AS (SELECT unnest((o).order_lines) AS l FROM live)
       |SELECT CAST((l).offer_sku AS VARCHAR) AS sku, TRY_CAST((l).quantity AS DOUBLE) AS qty, 'mirakl_s1' AS site FROM l""".stripMargin

  /** N7/S9: GraphQL envelope data.getDropshipPurchaseOrders[].products[]. */
  val wayfairFlatten: String =
    s"""WITH raw AS (SELECT * FROM read_json('$fx/wayfair.json')),
       |po AS (SELECT unnest((data).getDropshipPurchaseOrders) AS po FROM raw),
       |p AS (SELECT unnest((po).products) AS p FROM po)
       |SELECT CAST((p).partNumber AS VARCHAR) AS sku, TRY_CAST((p).quantity AS DOUBLE) AS qty, 'wayfair' AS site FROM p""".stripMargin

  // ---- events / streaming-analogue queries --------------------------------

  val eventsHourly: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Mirrors graft.operators.AsOfJoin via DuckDB's native ASOF LEFT JOIN —
    * a fully independent derivation of the same inclusive latest-≤ match.
    * Views are pre-deduped to one row per (user, ts), the operator's
    * determinism contract; timestamps compared at µs like eventSessions.
    */
  val asofJoin: String =
    """WITH e AS (SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts, event_type FROM events),
      |c AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
      |v AS (SELECT user_id, ts, MAX(event_id) AS view_id FROM e WHERE event_type = 'view' GROUP BY 1, 2)
      |SELECT c.event_id, c.user_id, c.ts, v.ts AS asof_ts, v.view_id AS asof_view_id
      |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts""".stripMargin

  /** q185 oracle: [[asofJoin]] with the staleness bound applied as a
    * null-out CASE over the matched columns — DuckDB's native ASOF is
    * still the independent derivation of the match itself.
    */
  def asofTolerance(tolUs: Long): String =
    s"""WITH e AS (SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts, event_type FROM events),
       |c AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
       |v AS (SELECT user_id, ts, MAX(event_id) AS view_id FROM e WHERE event_type = 'view' GROUP BY 1, 2),
       |j AS (
       |  SELECT c.event_id, c.user_id, c.ts, v.ts AS asof_ts, v.view_id AS asof_view_id
       |  FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts)
       |SELECT event_id, user_id, ts,
       |  CASE WHEN ok THEN asof_ts END AS asof_ts,
       |  CASE WHEN ok THEN asof_view_id END AS asof_view_id
       |FROM (SELECT *,
       |        asof_ts IS NOT NULL AND epoch_us(ts) - epoch_us(asof_ts) <= $tolUs AS ok
       |      FROM j) t""".stripMargin

  /** q186 oracle: the forward as-of — DuckDB's native ASOF with the
    * inequality flipped (`v.ts >= c.ts`), the earliest-≥ match.
    */
  val asofForward: String =
    """WITH e AS (SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts, event_type FROM events),
      |c AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
      |v AS (SELECT user_id, ts, MAX(event_id) AS view_id FROM e WHERE event_type = 'view' GROUP BY 1, 2)
      |SELECT c.event_id, c.user_id, c.ts, v.ts AS asof_ts, v.view_id AS asof_view_id
      |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts >= c.ts""".stripMargin

  /** q187 oracle: nearest as-of — DuckDB has no native nearest direction,
    * so the backward and forward native ASOFs compose and a CASE picks by
    * µs lag, ties backward (pandas' rule — the operator's contract).
    */
  val asofNearest: String =
    """WITH e AS (SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts, event_type FROM events),
      |c AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
      |v AS (SELECT user_id, ts, MAX(event_id) AS view_id FROM e WHERE event_type = 'view' GROUP BY 1, 2),
      |b AS (
      |  SELECT c.event_id, v.ts AS bts, v.view_id AS bid
      |  FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts),
      |f AS (
      |  SELECT c.event_id, v.ts AS fts, v.view_id AS fid
      |  FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts >= c.ts),
      |j AS (
      |  SELECT c.event_id, c.user_id, c.ts, bts, bid, fts, fid,
      |    bts IS NOT NULL AND (fts IS NULL OR
      |      epoch_us(c.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(c.ts)) AS pick
      |  FROM c JOIN b USING (event_id) JOIN f USING (event_id))
      |SELECT event_id, user_id, ts,
      |  CASE WHEN pick THEN bts ELSE fts END AS asof_ts,
      |  CASE WHEN pick THEN bid ELSE fid END AS asof_view_id
      |FROM j""".stripMargin

  /** q103 oracle: point-in-time lookup — the SCD2 change-point derivation
    * (same lag collapse as [[scd2Intervals]], restricted to non-purchase
    * events) joined to purchases with DuckDB's native ASOF LEFT JOIN, an
    * independent derivation of the inclusive latest-≤ match.
    */
  val pitLookup: String =
    """WITH e AS (SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts, event_type FROM events),
      |p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
      |b AS (SELECT user_id, event_type, ts, event_id FROM e WHERE event_type <> 'purchase'),
      |c AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM b
      |), ch AS (
      |  SELECT user_id, event_type, ts
      |  FROM c WHERE prev_type IS NULL OR prev_type <> event_type
      |), st AS (
      |  SELECT user_id, ts, MAX(event_type) AS state FROM ch GROUP BY 1, 2
      |)
      |SELECT p.event_id, p.user_id, p.ts, st.ts AS prior_ts, st.state AS prior_state
      |FROM p ASOF LEFT JOIN st ON p.user_id = st.user_id AND st.ts <= p.ts""".stripMargin

  /** q53: word-level repetition signals. Independent formulation: DuckDB
    * re-derives each signal from explicit unnest→GROUP BY→MAX aggregations
    * (the very shape the native expression exists to avoid), over the SAME
    * whitespace tokenizer as [[textStats]]. N-gram keys joined on chr(1),
    * matching the expression's U+0001 separator.
    */
  val repetitionSignals: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      |  FROM documents
      |), base AS (
      |  SELECT doc_id, len(ws) AS n FROM t
      |), words AS (
      |  SELECT doc_id, unnest(ws) AS wd FROM t
      |), wc AS (
      |  SELECT doc_id, wd, COUNT(*) AS c FROM words GROUP BY 1, 2
      |), wagg AS (
      |  SELECT doc_id, MAX(c) AS maxw, COUNT(*) AS nd FROM wc GROUP BY 1
      |), bg AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
      |    i -> ws[i] || chr(1) || ws[i + 1])) AS g FROM t
      |), bcnt AS (
      |  SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2
      |), bagg AS (
      |  SELECT doc_id, MAX(c) AS maxb FROM bcnt GROUP BY 1
      |), tg AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 2),
      |    i -> ws[i] || chr(1) || ws[i + 1] || chr(1) || ws[i + 2])) AS g FROM t
      |), tcnt AS (
      |  SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY 1, 2
      |), tagg AS (
      |  SELECT doc_id, MAX(c) AS maxt FROM tcnt GROUP BY 1
      |)
      |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_words,
      |  CASE WHEN b.n = 0 THEN 0.0 ELSE ROUND(CAST(maxw AS DOUBLE) / b.n, 6) END AS top_word_frac,
      |  CASE WHEN b.n = 0 THEN 0.0 ELSE ROUND(CAST(b.n - nd AS DOUBLE) / b.n, 6) END AS dup_word_frac,
      |  CASE WHEN b.n < 2 THEN 0.0 ELSE ROUND(CAST(maxb AS DOUBLE) / (b.n - 1), 6) END AS top_bigram_frac,
      |  CASE WHEN b.n < 3 THEN 0.0 ELSE ROUND(CAST(maxt AS DOUBLE) / (b.n - 2), 6) END AS top_trigram_frac
      |FROM base b
      |LEFT JOIN wagg USING (doc_id)
      |LEFT JOIN bagg USING (doc_id)
      |LEFT JOIN tagg USING (doc_id)""".stripMargin

  /** q54: eval-set decontamination. Word n-gram windows re-derived with
    * DuckDB list functions (list_slice + array_to_string over a
    * generate_series of window starts — empty for docs shorter than n),
    * distinct per doc, equi-joined train-vs-eval on the gram text.
    */
  def decontamination(n: Int): String =
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws
       |  FROM documents
       |), trg AS (
       |  SELECT DISTINCT doc_id, gram FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - ${n - 1}),
       |      i -> array_to_string(list_slice(ws, i, i + ${n - 1}), ' '))) AS gram
       |    FROM docs WHERE doc_id % 20 <> 0)
       |), evg AS (
       |  SELECT DISTINCT gram FROM (
       |    SELECT unnest(list_transform(generate_series(1, len(ws) - ${n - 1}),
       |      i -> array_to_string(list_slice(ws, i, i + ${n - 1}), ' '))) AS gram
       |    FROM docs WHERE doc_id % 20 = 0)
       |)
       |SELECT t.doc_id AS train_id, CAST(COUNT(*) AS BIGINT) AS n_shared
       |FROM trg t JOIN evg USING (gram)
       |GROUP BY 1""".stripMargin

  /** docs/base/grams/dup CTE block shared by the q56/q60 oracles — the SQL
    * mirror of Dedup.dupSpanPositions (one definition so a gram-derivation
    * fix can never reach one oracle and miss the other).
    */
  private def dupSpanCtes(n: Int): String =
    s"""docs AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws
       |  FROM documents
       |), base AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens, ws FROM docs
       |), grams AS (
       |  SELECT doc_id, start,
       |    array_to_string(list_slice(ws, CAST(start AS INTEGER), CAST(start AS INTEGER) + ${n - 1}), ' ') AS gram
       |  FROM (
       |    SELECT doc_id, ws, unnest(generate_series(1, len(ws) - ${n - 1})) AS start
       |    FROM base WHERE n_tokens >= $n)
       |), dup AS (
       |  SELECT gram FROM (
       |    SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY 1) WHERE nd >= 2
       |)""".stripMargin

  /** q56: corpus-wide duplicated n-gram coverage. Same list-function gram
    * derivation as [[decontamination]], plus positional windows: a doc's
    * covered tokens = distinct positions inside any gram whose distinct
    * document frequency is ≥ 2.
    */
  def dupNgramCoverage(n: Int): String =
    s"""WITH ${dupSpanCtes(n)}, cov AS (
       |  SELECT doc_id, COUNT(DISTINCT p) AS covered FROM (
       |    SELECT doc_id, unnest(generate_series(start, start + ${n - 1})) AS p
       |    FROM grams WHERE gram IN (SELECT gram FROM dup)) GROUP BY 1
       |)
       |SELECT b.doc_id, b.n_tokens,
       |  CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_tokens,
       |  ROUND(COALESCE(cov.covered, 0) / (CASE WHEN b.n_tokens = 0 THEN 1 ELSE b.n_tokens END), 6) AS dup_coverage
       |FROM base b LEFT JOIN cov USING (doc_id)""".stripMargin

  /** q60: duplicated-span trimming. Same gram/coverage derivation as
    * [[dupNgramCoverage]]; kept tokens = positional anti-join, text
    * rebuilt with an ordered string_agg.
    */
  def trimDupSpans(n: Int): String =
    s"""WITH ${dupSpanCtes(n)}, cov AS (
       |  SELECT DISTINCT doc_id, p FROM (
       |    SELECT doc_id, unnest(generate_series(start, start + ${n - 1})) AS p
       |    FROM grams WHERE gram IN (SELECT gram FROM dup))
       |), toks AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS p, ws[CAST(p AS INTEGER)] AS token FROM (
       |    SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS p FROM base WHERE n_tokens > 0)
       |), kept AS (
       |  SELECT t.doc_id, t.p, t.token FROM toks t
       |  ANTI JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p
       |)
       |SELECT b.doc_id,
       |  COALESCE(k.clean_text, '') AS clean_text,
       |  COALESCE(k.n_kept, 0) AS n_kept
       |FROM base b LEFT JOIN (
       |  SELECT doc_id, string_agg(token, ' ' ORDER BY p) AS clean_text,
       |    CAST(COUNT(*) AS BIGINT) AS n_kept
       |  FROM kept GROUP BY 1) k USING (doc_id)""".stripMargin

  /** Mirrors [[Dedup.perm5]]: x⁵ mod P via three modular multiplies.
    * `e` must already be a value in [0, P) — true for affineHashSql
    * output — so no initial reduction is repeated here.
    */
  private def perm5Sql(e: String): String = {
    val p = Dedup.MinHashP
    val y2 = s"((($e) * ($e)) % $p)"
    s"((($y2 * $y2) % $p) * ($e)) % $p"
  }

  /** Mirrors [[Dedup.mixHash]]: affine ∘ x⁵ ∘ affine, members (j, j+1). */
  private def mixSql(e: String, j: Int): String =
    affineHashSql(perm5Sql(affineHashSql(e, j)), j + 1)

  /** Mirrors Sketch.hllRegisters over events(user_id) grouped by
    * event_type: bucket = hash mod m, register = max rank of the remaining
    * hash bits, rank via bin()-length (identical in DuckDB and Spark — no
    * floating point anywhere in the sketch).
    */
  def hllRegisters(log2m: Int): String = {
    val m = 1 << log2m
    val wBits = 31 - log2m
    val h = mixSql("user_id", ext.Sketch.HllJ)
    s"""WITH h AS (SELECT event_type, ($h) AS h FROM events)
       |SELECT event_type, CAST(h % $m AS INTEGER) AS bucket,
       |  CAST(MAX(CASE WHEN h // $m = 0 THEN ${wBits + 1}
       |               ELSE ${wBits + 1} - length(bin(h // $m)) END) AS INTEGER) AS reg
       |FROM h GROUP BY 1, 2""".stripMargin
  }

  /** Mirrors the q62 composition: Count-Min sketch (depth × width integer
    * cells over encoded-token occurrences) + min-over-rows point estimates
    * for the exact top-k tokens. Token encoding is the [[Dedup.encodeToken]]
    * fold; hashes are the CM block of the affine family.
    */
  def cmHeavyHitters(k: Int, depth: Int, width: Int): String = {
    val enc = (1 to 8).map(i =>
      s"CAST(ascii(substring(token, $i, 1)) % 128 AS BIGINT) * ${1L << (7 * (8 - i))}").mkString(" + ")
    val bucketCases = (0 until depth).map(r =>
      s"WHEN $r THEN (${mixSql("x", ext.Sketch.CmJ + 2 * r)}) % $width").mkString(" ")
    val rows = (0 until depth).map(r => s"($r)").mkString(",")
    s"""WITH toks AS (
       |  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '')) AS token
       |  FROM documents
       |), enc AS (SELECT token, ($enc) AS x FROM toks
       |), buck AS (
       |  SELECT r, CASE r $bucketCases END AS bucket
       |  FROM enc CROSS JOIN (VALUES $rows) v(r)
       |), sketch AS (
       |  SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM buck GROUP BY 1, 2
       |), top AS (
       |  SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1
       |  ORDER BY n DESC, token LIMIT $k
       |), qe AS (SELECT token, n, ($enc) AS x FROM top
       |), qb AS (
       |  SELECT token, n, r, CASE r $bucketCases END AS bucket
       |  FROM qe CROSS JOIN (VALUES $rows) v(r)
       |)
       |SELECT token, n, CAST(MIN(cnt) AS BIGINT) AS est
       |FROM qb JOIN sketch USING (r, bucket) GROUP BY 1, 2""".stripMargin
  }

  /** Mirrors Sketch.cmJoinSize over orders(o_custkey) ⋈ events(user_id):
    * per-key counts fold into two depth×width Count-Min sketches sharing
    * the CmJ hash block; per-row inner products, min-row estimate, exact
    * count-join, err in ppm. All-integer arithmetic.
    */
  def cmJoinSize(depth: Int, width: Int): String = {
    val bucketCases = (0 until depth).map(r =>
      s"WHEN $r THEN (${mixSql("k", ext.Sketch.CmJ + 2 * r)}) % $width").mkString(" ")
    val rows = (0 until depth).map(r => s"($r)").mkString(",")
    val perRow = (0 until depth).map(r =>
      s"MIN(CASE WHEN r = $r THEN ip END) AS est_r$r").mkString(", ")
    s"""WITH ca AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS na FROM orders GROUP BY 1),
       |cb AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS nb FROM events GROUP BY 1),
       |ska AS (
       |  SELECT r, CASE r $bucketCases END AS bucket, CAST(SUM(na) AS BIGINT) AS cnt
       |  FROM ca CROSS JOIN (VALUES $rows) v(r) GROUP BY 1, 2),
       |skb AS (
       |  SELECT r, CASE r $bucketCases END AS bucket, CAST(SUM(nb) AS BIGINT) AS cnt
       |  FROM cb CROSS JOIN (VALUES $rows) v(r) GROUP BY 1, 2),
       |ip AS (SELECT a.r, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS ip
       |       FROM ska a JOIN skb b ON a.r = b.r AND a.bucket = b.bucket GROUP BY 1),
       |est AS (SELECT $perRow, CAST(MIN(ip) AS BIGINT) AS est_pairs FROM ip),
       |ex AS (SELECT CAST(SUM(na * nb) AS BIGINT) AS exact_pairs FROM ca JOIN cb USING (k))
       |SELECT est.*, exact_pairs,
       |  CAST(est_pairs * 1000000 // exact_pairs - 1000000 AS BIGINT) AS err_ppm
       |FROM est, ex""".stripMargin
  }

  /** Mirrors Sampling.coordinatedJoinSample over the same join: both sides
    * filtered by the SHARED CoordJ key hash, sampled-join counts scaled by
    * 1000÷permille, signed err via subtraction after a non-negative
    * division. Groups with no sampled mass survive via the right join.
    */
  def coordinatedJoinSample(permille: Int): String = {
    val keepA = s"(${mixSql("o_custkey", ext.Sampling.CoordJ)}) % 1000 < $permille"
    val keepB = s"(${mixSql("user_id", ext.Sampling.CoordJ)}) % 1000 < $permille"
    s"""WITH sp AS (
       |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS sample_pairs
       |  FROM (SELECT o_orderpriority, o_custkey FROM orders WHERE $keepA) a
       |  JOIN (SELECT user_id FROM events WHERE $keepB) b ON a.o_custkey = b.user_id
       |  GROUP BY 1),
       |ex AS (
       |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS exact_pairs
       |  FROM orders JOIN events ON o_custkey = user_id GROUP BY 1)
       |SELECT o_orderpriority,
       |  CAST(COALESCE(sample_pairs, 0) AS BIGINT) AS sample_pairs,
       |  CAST(COALESCE(sample_pairs, 0) * 1000 // $permille AS BIGINT) AS est_pairs,
       |  exact_pairs,
       |  CAST(COALESCE(sample_pairs, 0) * 1000 // $permille * 1000000 // exact_pairs
       |    - 1000000 AS BIGINT) AS err_ppm
       |FROM ex LEFT JOIN sp USING (o_orderpriority)""".stripMargin
  }

  /** Mirrors ShingleFunctions.rollingFp: Σ_k (k+1)·(code_k mod P) mod P
    * over ALL positions (1-based weight), code = cp·2¹⁶ + cp·2⁸ + cp.
    * Per-term mod keeps every term < 2⁶²; the flat SUM-then-mod equals
    * the kernel's running-mod fold. NULL text → NULL, short text → 0.
    */
  private def rollingFpSql(textExpr: String): String = {
    val p = Dedup.MinHashP
    val code =
      s"""(CAST(ascii(substring($textExpr, CAST(i AS INTEGER), 1)) AS BIGINT) * 65536
         | + CAST(ascii(substring($textExpr, CAST(i AS INTEGER) + 1, 1)) AS BIGINT) * 256
         | + CAST(ascii(substring($textExpr, CAST(i AS INTEGER) + 2, 1)) AS BIGINT))""".stripMargin
    s"""CASE WHEN $textExpr IS NULL THEN NULL
       |  WHEN length($textExpr) < 3 THEN 0
       |  ELSE CAST(list_sum(list_transform(generate_series(1, length($textExpr) - 2),
       |    i -> (CAST(i AS BIGINT) % $p) * ($code % $p) % $p)) % $p AS BIGINT)
       |END""".stripMargin
  }

  /** Mirrors Profile.corpusDigest: per-source Σ mixHash(rollingFp) mod 2⁶¹,
    * HUGEINT sum, BIGINT boundary.
    */
  val corpusDigest: String = {
    val mod = 1L << 61
    s"""WITH fp AS (
       |  SELECT source, ${rollingFpSql("text")} AS rfp FROM documents)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(${mixSql("rfp", ext.Profile.DigestJ)}) % $mod AS BIGINT) AS digest
       |FROM fp GROUP BY 1""".stripMargin
  }

  /** Mirrors Profile.selectivityAudit over orders(o_custkey): distinct-
    * value collapse, rank-interval equi-depth buckets (0-based rank r →
    * bucket r·B // n; bucket b owns ranks [ceil(b·n/B), ceil((b+1)·n/B)−1]),
    * System-R uniform-within-bucket estimates on the pinned predicate
    * grid vs exact counts from the same collapsed histogram. All-integer;
    * every quantity non-negative so `//` truncation matches Spark `div`.
    */
  def selectivityAudit(buckets: Int, nPreds: Int): String = {
    val bm1 = buckets - 1
    s"""WITH vc AS (
       |  SELECT CAST(o_custkey AS BIGINT) AS x, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
       |cum AS (
       |  SELECT x, cnt, CAST(SUM(cnt) OVER (ORDER BY x) AS BIGINT) AS cum FROM vc),
       |tot AS (
       |  SELECT CAST(SUM(cnt) AS BIGINT) AS n, MIN(x) AS vmin, MAX(x) AS vmax FROM vc),
       |touched AS (
       |  SELECT x, cnt, cum, n,
       |    unnest(generate_series((cum - cnt) * $buckets // n,
       |                           (cum - 1) * $buckets // n)) AS bucket
       |  FROM cum, tot),
       |hist AS (
       |  SELECT bucket, MIN(x) AS lo, MAX(x) AS hi,
       |    CAST(SUM(LEAST(cum - 1, ((bucket + 1) * n + $bm1) // $buckets - 1)
       |      - GREATEST(cum - cnt, (bucket * n + $bm1) // $buckets) + 1) AS BIGINT) AS cnt
       |  FROM touched GROUP BY 1),
       |grid AS (
       |  SELECT CAST(j AS BIGINT) AS pred_id,
       |    vmin + (vmax - vmin + 1) * j // ${nPreds + 2} AS p_lo,
       |    vmin + (vmax - vmin + 1) * (j + 3) // ${nPreds + 2} AS p_hi
       |  FROM tot, generate_series(0, ${nPreds - 1}) t(j)),
       |est AS (
       |  SELECT pred_id, p_lo, p_hi,
       |    CAST(SUM(cnt * GREATEST(0, LEAST(p_hi, hi + 1) - GREATEST(p_lo, lo))
       |      // (hi - lo + 1)) AS BIGINT) AS est_rows
       |  FROM hist, grid GROUP BY 1, 2, 3),
       |ex AS (
       |  SELECT pred_id, CAST(SUM(cnt) AS BIGINT) AS exact_rows
       |  FROM vc, grid WHERE x >= p_lo AND x < p_hi GROUP BY 1)
       |SELECT pred_id, p_lo, p_hi, est_rows,
       |  CAST(COALESCE(exact_rows, 0) AS BIGINT) AS exact_rows,
       |  CAST(est_rows * 1000000 // GREATEST(COALESCE(exact_rows, 0), 1)
       |    - 1000000 AS BIGINT) AS err_ppm
       |FROM est LEFT JOIN ex USING (pred_id)""".stripMargin
  }

  /** Mirrors Sketch.joinCardEstimates over orders(o_custkey) ⋈
    * events(user_id): the q271 Count-Min inner product next to the
    * System-R uniformity estimate |A|·|B| // max(d_A, d_B) and the exact
    * count-join, signed ppm errors. Same CmJ hash block as cmJoinSize.
    */
  def joinCardEstimates(depth: Int, width: Int): String = {
    val bucketCases = (0 until depth).map(r =>
      s"WHEN $r THEN (${mixSql("k", ext.Sketch.CmJ + 2 * r)}) % $width").mkString(" ")
    val rows = (0 until depth).map(r => s"($r)").mkString(",")
    s"""WITH ca AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS na FROM orders GROUP BY 1),
       |cb AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS nb FROM events GROUP BY 1),
       |sides AS (
       |  SELECT (SELECT CAST(SUM(na) AS BIGINT) FROM ca) AS n_a,
       |         (SELECT CAST(SUM(nb) AS BIGINT) FROM cb) AS n_b,
       |         (SELECT CAST(COUNT(*) AS BIGINT) FROM ca) AS d_a,
       |         (SELECT CAST(COUNT(*) AS BIGINT) FROM cb) AS d_b),
       |ska AS (
       |  SELECT r, CASE r $bucketCases END AS bucket, CAST(SUM(na) AS BIGINT) AS cnt
       |  FROM ca CROSS JOIN (VALUES $rows) v(r) GROUP BY 1, 2),
       |skb AS (
       |  SELECT r, CASE r $bucketCases END AS bucket, CAST(SUM(nb) AS BIGINT) AS cnt
       |  FROM cb CROSS JOIN (VALUES $rows) v(r) GROUP BY 1, 2),
       |cm AS (
       |  SELECT CAST(MIN(ip) AS BIGINT) AS est_cm FROM (
       |    SELECT a.r, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS ip
       |    FROM ska a JOIN skb b ON a.r = b.r AND a.bucket = b.bucket GROUP BY 1)),
       |ex AS (SELECT CAST(SUM(na * nb) AS BIGINT) AS exact_pairs FROM ca JOIN cb USING (k))
       |SELECT n_a, n_b, d_a, d_b,
       |  CAST(n_a * n_b // GREATEST(d_a, d_b) AS BIGINT) AS est_uniform,
       |  est_cm, exact_pairs,
       |  CAST(n_a * n_b // GREATEST(d_a, d_b) * 1000000
       |    // GREATEST(exact_pairs, 1) - 1000000 AS BIGINT) AS err_uniform_ppm,
       |  CAST(est_cm * 1000000 // GREATEST(exact_pairs, 1) - 1000000 AS BIGINT) AS err_cm_ppm
       |FROM sides, cm, ex""".stripMargin
  }

  /** q281 oracle: the FULL orders⋈customer join computed from scratch —
    * hash equality with the engine's four-term delta-algebra union is the
    * IVM correctness certificate.
    */
  val ivmJoinFull: String =
    """SELECT o_custkey AS k, o_orderkey,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
      |  c_mktsegment, c_nationkey
      |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** Mirrors Sketch.bloomFprAudit at the q63 geometry: key-level pass test
    * (all k positions set), exact membership, measured FP ppm.
    */
  def bloomFprAudit(k: Int, mBits: Int): String = {
    def pos(e: String, i: Int) =
      s"(${mixSql(e, ext.Sketch.BloomJ + 2 * i)}) % $mBits"
    val buildPos = (0 until k).map(i => pos("bk", i)).mkString(", ")
    val probePos = (0 until k).map(i => pos("pk", i)).mkString(", ")
    s"""WITH bkeys AS (SELECT DISTINCT c_custkey AS bk FROM customer WHERE c_mktsegment = 'BUILDING'),
       |pkeys AS (SELECT DISTINCT o_custkey AS pk FROM orders),
       |bits AS (SELECT DISTINCT pos FROM (SELECT unnest([$buildPos]) AS pos FROM bkeys)),
       |probe AS (SELECT pk, unnest([$probePos]) AS pos FROM pkeys),
       |pass AS (
       |  SELECT pk FROM probe JOIN bits USING (pos) GROUP BY pk HAVING COUNT(*) = $k),
       |fl AS (
       |  SELECT p.pk,
       |    EXISTS (SELECT 1 FROM bkeys b WHERE b.bk = p.pk) AS m,
       |    EXISTS (SELECT 1 FROM pass s WHERE s.pk = p.pk) AS pa
       |  FROM pkeys p)
       |SELECT
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM bkeys) AS n_build_keys,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS bits_set,
       |  CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_member_keys,
       |  CAST(SUM(CASE WHEN m AND pa THEN 1 ELSE 0 END) AS BIGINT) AS n_member_pass,
       |  CAST(SUM(CASE WHEN NOT m THEN 1 ELSE 0 END) AS BIGINT) AS n_nonmember_keys,
       |  CAST(SUM(CASE WHEN NOT m AND pa THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pass,
       |  CAST(SUM(CASE WHEN NOT m AND pa THEN 1 ELSE 0 END) * 1000000
       |    // GREATEST(SUM(CASE WHEN NOT m THEN 1 ELSE 0 END), 1) AS BIGINT) AS fp_ppm
       |FROM fl""".stripMargin
  }

  /** q276 oracle: the BRUTE-FORCE top-k pair join — rank the full scored
    * pair relation. The Spark side prunes; hash equality with this
    * spelling is the completeness certificate.
    */
  def topKPairJoin(k: Int): String =
    s"""WITH p AS (SELECT DISTINCT l_suppkey AS ka, l_partkey AS kb FROM lineitem),
       |a AS (SELECT s_suppkey AS ka, CAST(round(s_acctbal * 100) AS BIGINT) AS sa FROM supplier),
       |b AS (SELECT p_partkey AS kb, CAST(round(p_retailprice * 100) AS BIGINT) AS sb FROM part),
       |sc AS (SELECT ka, kb, sa + sb AS score FROM p JOIN a USING (ka) JOIN b USING (kb)),
       |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, ka, kb) AS rn FROM sc)
       |SELECT ka, kb, score, CAST(rn AS INTEGER) AS rank FROM r WHERE rn <= $k""".stripMargin

  /** Mirrors Sketch.bloomSemiJoin: orders surviving the k-hash Bloom
    * filter of BUILDING customers' keys — set-bit positions as a DISTINCT
    * position table, pass iff all k probe positions hit.
    */
  def bloomSemiJoin(k: Int, mBits: Int): String = {
    def pos(e: String, i: Int) =
      s"(${mixSql(e, ext.Sketch.BloomJ + 2 * i)}) % $mBits"
    val buildPos = (0 until k).map(i => pos("c_custkey", i)).mkString(", ")
    val probePos = (0 until k).map(i => pos("o_custkey", i)).mkString(", ")
    s"""WITH bits AS (
       |  SELECT DISTINCT pos FROM (
       |    SELECT unnest([$buildPos]) AS pos
       |    FROM customer WHERE c_mktsegment = 'BUILDING')
       |), probe AS (
       |  SELECT o_orderkey, o_custkey, unnest([$probePos]) AS pos FROM orders
       |)
       |SELECT o_orderkey, o_custkey
       |FROM probe JOIN bits USING (pos)
       |GROUP BY 1, 2 HAVING COUNT(*) = $k""".stripMargin
  }

  /** Mirrors the q64 ROLLUP: detail/subtotal/grand-total in one grouping-
    * sets pass, GROUPING bitmask disambiguating subtotal NULLs. SUM of the
    * integral-valued DOUBLE l_quantity is order-independent (< 2^53).
    */
  val salesRollup: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  CAST(COUNT(*) AS BIGINT) AS n, SUM(l_quantity) AS qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** Mirrors the q65 pivot: hour-of-day × event-type counts as conditional
    * aggregates over the pinned type list.
    */
  def eventsPivot(types: Seq[String]): String = {
    val cols = types.map(t =>
      s"CAST(COUNT(*) FILTER (WHERE event_type = '$t') AS BIGINT) AS $t").mkString(",\n  ")
    s"""SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
       |  $cols
       |FROM events GROUP BY 1""".stripMargin
  }

  /** Mirrors TextAnalysis.tokenCountQuantiles: aggregate by token-count
    * value, cumulative window over the tiny value domain, all-integer
    * ceiling threshold selection (`cum·q >= (d+1)·N`).
    */
  def tokenCountQuantiles(q: Int): String =
    s"""WITH t AS (
       |  SELECT CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS v
       |  FROM documents
       |), vals AS (
       |  SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY 1
       |), cum AS (
       |  SELECT v, CAST(SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM vals
       |), tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vals)
       |SELECT quantile, MIN(v) AS threshold, MIN(cum) AS n_le
       |FROM cum CROSS JOIN tot CROSS JOIN (SELECT unnest(range($q)) AS quantile)
       |WHERE cum * $q >= (quantile + 1) * n
       |GROUP BY 1""".stripMargin

  /** q69 oracle: Levenshtein re-verification of the q45 SimHash candidate
    * pairs on 500-char prefixes — Wagner-Fischer is deterministic integer
    * DP, identical in both engines.
    */
  def editDistVerify(bits: Int, maxHamming: Int): String =
    s"""WITH pairs AS (SELECT * FROM (${simhashNearDup(bits, maxHamming)}))
       |SELECT p.id_a, p.id_b, p.hamming,
       |  CAST(levenshtein(substring(a.text, 1, 500), substring(b.text, 1, 500)) AS INTEGER) AS edit_dist
       |FROM pairs p
       |JOIN documents a ON p.id_a = a.doc_id
       |JOIN documents b ON p.id_b = b.doc_id""".stripMargin

  /** q67 oracle: the PLAIN join — SkewJoin.saltedJoin must be row-for-row
    * identical to the unsalted join or the mitigation is a correctness bug.
    */
  val saltedJoin: String =
    """SELECT l_orderkey, l_linenumber, o_custkey
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  /** Mirrors Profile.profile: per-column row/non-null/exact-distinct
    * counts, one UNION ALL branch per column.
    */
  def columnProfile(cols: Seq[String]): String =
    cols.map(c =>
      s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT($c) AS BIGINT) AS n_nonnull,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct FROM lineitem""".stripMargin)
      .mkString("\nUNION ALL\n")

  /** Mirrors Profile.profileDrift on events split at `splitTs`: per-side
    * per-column counts, integer-ppm null rates, signed deltas.
    */
  def profileDrift(cols: Seq[String], splitTs: String): String = {
    def side(pred: String): String =
      cols.map(c =>
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT($c) AS BIGINT) AS n_nonnull,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct
           |FROM events WHERE $pred""".stripMargin)
        .mkString("\nUNION ALL\n")
    s"""WITH pa AS (${side(s"ts < TIMESTAMP '$splitTs'")}),
       |pb AS (${side(s"ts >= TIMESTAMP '$splitTs'")}),
       |j AS (
       |  SELECT pa.col_name, pa.n_rows AS rows_a, pb.n_rows AS rows_b,
       |    pa.n_nonnull AS nonnull_a, pb.n_nonnull AS nonnull_b,
       |    pa.n_distinct AS distinct_a, pb.n_distinct AS distinct_b
       |  FROM pa JOIN pb USING (col_name)),
       |p AS (
       |  SELECT *,
       |    CASE WHEN rows_a = 0 THEN CAST(0 AS BIGINT)
       |         ELSE (1000000 * (rows_a - nonnull_a)) // rows_a END AS null_ppm_a,
       |    CASE WHEN rows_b = 0 THEN CAST(0 AS BIGINT)
       |         ELSE (1000000 * (rows_b - nonnull_b)) // rows_b END AS null_ppm_b
       |  FROM j)
       |SELECT col_name, rows_a, rows_b, distinct_a, distinct_b,
       |  null_ppm_a, null_ppm_b,
       |  null_ppm_b - null_ppm_a AS null_drift_ppm,
       |  distinct_b - distinct_a AS distinct_delta
       |FROM p""".stripMargin
  }

  /** q70 oracle: UNPIVOT of the q65 matrix — NOT a direct group-by, so
    * zero-count cells survive as rows exactly like the Spark melt.
    */
  def eventsUnpivot(types: Seq[String]): String =
    s"""WITH w AS (${eventsPivot(types)})
       |SELECT hr, type, n FROM w UNPIVOT (n FOR type IN (${types.mkString(", ")}))""".stripMargin

  /** q71 oracle: EXCEPT set semantics (parts shipped, but never in 1995). */
  val partsExcept: String =
    """SELECT DISTINCT l_partkey FROM lineitem
      |EXCEPT
      |SELECT DISTINCT l_partkey FROM lineitem WHERE year(l_shipdate) = 1995""".stripMargin

  /** q72 oracle: JSON field extraction from the props string. DuckDB's
    * json_extract_string plays Spark's from_json(schema) — both yield NULL
    * for missing/malformed, and every aggregate is integer.
    */
  val propsJson: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(k) AS BIGINT) AS n_k, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY 1""".stripMargin

  /** q73 oracle: dense hourly grid (generate_series plays Spark's
    * sequence+explode — both inclusive of the truncated max hour), left
    * join of the per-(type, hour) counts, explicit zeros.
    */
  val eventsGapFill: String =
    """WITH b AS (
      |  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1 FROM events
      |), hrs AS (
      |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b
      |), k AS (SELECT DISTINCT event_type FROM events
      |), agg AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT k.event_type, hrs.hour, COALESCE(agg.n, 0) AS n_events
      |FROM k CROSS JOIN hrs
      |LEFT JOIN agg ON agg.event_type = k.event_type AND agg.hour = hrs.hour""".stripMargin

  /** Mirrors TimeSeries.cusumScreen: same calibration split (integer
    * floor target/slack from the first trainN grid rows per key), same
    * prefix-identity CUSUM (running sum, running min, S = C − min(0, ·)),
    * same summary. HUGEINT sums CAST to BIGINT at every boundary.
    */
  def cusumScreen(trainN: Int, slackDiv: Int, hMult: Int): String =
    s"""WITH g AS (SELECT * FROM ($eventsGapFill) t),
       |rn AS (
       |  SELECT event_type, hour, CAST(n_events AS BIGINT) AS x,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour) AS rn
       |  FROM g),
       |cal AS (
       |  SELECT event_type,
       |    CAST(SUM(x) // $trainN AS BIGINT) AS target,
       |    CAST(GREATEST((SUM(x) // $trainN) // $slackDiv, 1) AS BIGINT) AS slack
       |  FROM rn WHERE rn <= $trainN GROUP BY 1),
       |mon AS (
       |  SELECT r.event_type, r.hour, c.target, c.slack,
       |    c.slack * $hMult AS h, r.x - c.target - c.slack AS y
       |  FROM rn r JOIN cal c USING (event_type) WHERE r.rn > $trainN),
       |cumt AS (
       |  SELECT *, SUM(y) OVER (PARTITION BY event_type ORDER BY hour
       |    ROWS UNBOUNDED PRECEDING) AS c
       |  FROM mon),
       |sc AS (
       |  SELECT *, c - LEAST(MIN(c) OVER (PARTITION BY event_type ORDER BY hour
       |    ROWS UNBOUNDED PRECEDING), 0) AS s
       |  FROM cumt)
       |SELECT event_type, MAX(target) AS target, MAX(slack) AS slack,
       |  CAST(COUNT(*) AS BIGINT) AS n_monitored,
       |  CAST(SUM(CASE WHEN s > h THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
       |  CAST(COALESCE(MIN(CASE WHEN s > h
       |    THEN CAST(epoch(hour) AS BIGINT) // 3600 END), -1) AS BIGINT)
       |    AS first_alarm_hour,
       |  CAST(MAX(s) AS BIGINT) AS max_stat
       |FROM sc GROUP BY 1""".stripMargin

  /** Mirrors Graph.neighborhoodFunction over the q95 supplier–part
    * bipartite graph: singleton HLL registers per node (hllRegisters'
    * exact rank spelling), `rounds` max-merge rounds along symmetric
    * edges as MATERIALIZED CTEs (the inlining gotcha: each round is
    * referenced twice by the next), per-round register histograms.
    */
  def hyperAnf(rounds: Int, log2m: Int): String = {
    val m = 1 << log2m
    val wBits = 31 - log2m
    val h = mixSql("node", ext.Sketch.HllJ)
    def roundCte(t: Int) =
      s"""r$t AS MATERIALIZED (
         |  SELECT node, bucket, CAST(MAX(reg) AS INTEGER) AS reg FROM (
         |    SELECT node, bucket, reg FROM r${t - 1}
         |    UNION ALL
         |    SELECT e.src AS node, r.bucket, r.reg
         |    FROM sym e JOIN r${t - 1} r ON r.node = e.dst
         |  ) GROUP BY 1, 2)""".stripMargin
    val hists = (0 to rounds).map(t =>
      s"SELECT CAST($t AS INTEGER) AS round, reg, CAST(COUNT(*) AS BIGINT) AS n_buckets FROM r$t GROUP BY 1, 2")
      .mkString("\nUNION ALL ")
    s"""WITH ed AS MATERIALIZED (
       |  SELECT DISTINCT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst FROM lineitem),
       |sym AS MATERIALIZED (
       |  SELECT src, dst FROM ed UNION ALL SELECT dst AS src, src AS dst FROM ed),
       |nodes AS (SELECT DISTINCT src AS node FROM sym),
       |hh AS (SELECT node, ($h) AS h FROM nodes),
       |r0 AS MATERIALIZED (
       |  SELECT node, CAST(h % $m AS INTEGER) AS bucket,
       |    CAST(CASE WHEN h // $m = 0 THEN ${wBits + 1}
       |         ELSE ${wBits + 1} - length(bin(h // $m)) END AS INTEGER) AS reg
       |  FROM hh),
       |${(1 to rounds).map(roundCte).mkString(",\n")}
       |$hists""".stripMargin
  }

  /** Mirrors TimeSeries.rateAnomalies: the q73 gap-fill derivation as a
    * derived table, then the cross-multiplied integer z-test over the
    * same trailing window — no float anywhere.
    */
  def rateAnomalies(lookback: Int, minPrior: Int, z: Int): String =
    s"""WITH g AS (SELECT * FROM ($eventsGapFill) t),
       |w AS (
       |  SELECT event_type, hour, n_events,
       |    COUNT(*) OVER ww AS m,
       |    SUM(n_events) OVER ww AS s,
       |    SUM(n_events * n_events) OVER ww AS q
       |  FROM g
       |  WINDOW ww AS (PARTITION BY event_type ORDER BY hour
       |                ROWS BETWEEN $lookback PRECEDING AND 1 PRECEDING))
       |SELECT event_type, hour, n_events, CAST(m AS BIGINT) AS window_n,
       |  CASE WHEN m * n_events - s < 0 THEN 'dip' ELSE 'spike' END AS direction
       |FROM w
       |WHERE m >= $minPrior
       |  AND (m - 1) * (m * n_events - s) * (m * n_events - s)
       |      > ${z.toLong * z} * m * (m * q - s * s)""".stripMargin

  /** Mirrors the q184 planting + TextAnalysis.normalizeText: the same
    * doc_id-keyed messy prefix (decomposed é, C0/DEL, whitespace runs),
    * then `nfc_normalize` (UAX #15, as Java's Normalizer) → control strip
    * → whitespace squash → trim, with the exact character classes the
    * native expression implements.
    */
  val textNormalize: String = {
    val cleaned = "trim(regexp_replace(regexp_replace(nfc_normalize(text), " +
      "'[\\x00-\\x08\\x0E-\\x1F\\x7F]', '', 'g'), '[\\t\\n\\x0B\\f\\r ]+', ' ', 'g'))"
    s"""WITH p AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN 'Cafe' || chr(101) || chr(769) || '  ' || chr(1)
       |         WHEN doc_id % 3 = 1 THEN chr(9) || 'na' || chr(239) || 've' || chr(127) || ' '
       |         ELSE '' END || text AS text
       |  FROM documents),
       |c AS (SELECT doc_id, $cleaned AS clean_text FROM p)
       |SELECT doc_id, clean_text, CAST(length(clean_text) AS BIGINT) AS n_chars
       |FROM c""".stripMargin
  }

  /** Mirrors Funnel.rollingActiveUsers: user-day dedup, the same
    * windowDays contribution fan-out, (day, user) distinct count, max-day
    * clamp.
    */
  def rollingActiveUsers(windowDays: Int): String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events),
       |mx AS (SELECT MAX(CAST(ts AS DATE)) AS max_day FROM events),
       |fan AS (
       |  SELECT u, day + CAST(i AS INTEGER) AS wday
       |  FROM ud, unnest(generate_series(0, ${windowDays - 1})) t(i))
       |SELECT wday AS day, CAST(COUNT(DISTINCT u) AS BIGINT) AS active_users
       |FROM fan, mx
       |WHERE wday <= max_day
       |GROUP BY 1""".stripMargin

  /** Mirrors TimeSeries.seasonalAnomalies: the q73 gap-fill, hour-of-week
    * slot `(epoch_hour mod 168)`, the same cross-multiplied z-test over
    * all prior same-slot rows.
    */
  def seasonalAnomalies(minPrior: Int, z: Int): String =
    s"""WITH g AS (SELECT * FROM ($eventsGapFill) t),
       |w AS (
       |  SELECT event_type, hour, n_events,
       |    CAST((epoch(hour) // 3600) % 168 AS BIGINT) AS how,
       |    COUNT(*) OVER ww AS m,
       |    SUM(n_events) OVER ww AS s,
       |    SUM(n_events * n_events) OVER ww AS q
       |  FROM g
       |  WINDOW ww AS (PARTITION BY event_type, (epoch(hour) // 3600) % 168
       |                ORDER BY hour
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
       |SELECT event_type, hour, n_events, how, CAST(m AS BIGINT) AS slot_n,
       |  CASE WHEN m * n_events - s < 0 THEN 'dip' ELSE 'spike' END AS direction
       |FROM w
       |WHERE m >= $minPrior
       |  AND (m - 1) * (m * n_events - s) * (m * n_events - s)
       |      > ${z.toLong * z} * m * (m * q - s * s)""".stripMargin

  /** Mirrors TimeSeries.ewmaHourly: the q73 gap-fill derivation, then the
    * truncated-renormalized EWMA as the SAME finite integer-weighted lag
    * sum — one double division of identical integers at the boundary.
    */
  def ewmaHourly(alphaNum: Int, alphaDen: Int, depth: Int): String = {
    val weights = (0 until depth).map { i =>
      alphaNum.toLong * math.pow(alphaDen - alphaNum, i).toLong *
        math.pow(alphaDen, depth - 1 - i).toLong
    }
    val denom = math.pow(alphaDen, depth).toLong -
      math.pow(alphaDen - alphaNum, depth).toLong
    val num = weights.zipWithIndex
      .map { case (w, 0) => s"$w * n_events"
             case (w, i) => s"$w * lag(n_events, $i) OVER ww" }
      .mkString(" + ")
    s"""WITH g AS (SELECT * FROM ($eventsGapFill) t),
       |w AS (
       |  SELECT event_type, hour, n_events,
       |    row_number() OVER ww AS rn, $num AS num
       |  FROM g
       |  WINDOW ww AS (PARTITION BY event_type ORDER BY hour))
       |SELECT event_type, hour, n_events,
       |  round(CAST(num AS DOUBLE) / $denom, 6) AS ewma
       |FROM w WHERE rn >= $depth""".stripMargin
  }

  /** Mirrors Quality.winsorizedAgg (q151): nearest-rank percentile
    * bounds from by-value counts (`min(CASE WHEN ...)` over the running
    * windows), clamp, integer sum + floor mean.
    */
  def winsorizedAgg(pLo: Int, pHi: Int): String =
    s"""WITH s AS (
       |  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM lineitem GROUP BY 1, 2),
       |w AS (
       |  SELECT l_returnflag, v, c,
       |    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(c) OVER (PARTITION BY l_returnflag) AS tot
       |  FROM s),
       |b AS (
       |  SELECT l_returnflag,
       |    MIN(CASE WHEN cum * 100 >= tot * $pLo THEN v END) AS lo,
       |    MIN(CASE WHEN cum * 100 >= tot * $pHi THEN v END) AS hi
       |  FROM w GROUP BY 1)
       |SELECT f.l_returnflag, b.lo, b.hi, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(greatest(b.lo, least(b.hi, CAST(round(f.l_extendedprice * 100) AS BIGINT)))) AS BIGINT)
       |    AS winsorized_sum,
       |  CAST(SUM(greatest(b.lo, least(b.hi, CAST(round(f.l_extendedprice * 100) AS BIGINT)))) AS BIGINT)
       |    // COUNT(*) AS winsorized_mean
       |FROM lineitem f JOIN b USING (l_returnflag)
       |GROUP BY 1, 2, 3""".stripMargin

  /** Mirrors Quality.weightedMedianBy (q147): quantity-weighted lower
    * median of the price (in cents) per return flag — by-value weight
    * sums, running/total windows, the cross-multiplied boundary rule.
    */
  val weightedMedian: String =
    """WITH s AS (
      |  SELECT l_returnflag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
      |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT l_returnflag, v, w,
      |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(w) OVER (PARTITION BY l_returnflag) AS tot
      |  FROM s)
      |SELECT l_returnflag, v AS median_price_cents,
      |  CAST(tot AS BIGINT) AS total_w
      |FROM c WHERE cum * 2 >= tot AND (cum - w) * 2 < tot""".stripMargin

  /** Mirrors Similarity.randomProject (q148): the same derandomized
    * integer weight lattice `((j·31 + i·17) mod 7) − 3` over
    * micro-quantized components, rebuilt with scalar-range lists — pure
    * integer arithmetic after quantization. Emits fixed scalar columns
    * p0..p{outDim-1} (not a list) so the driver's row-sorting
    * canonicalizer can hash the result.
    */
  def randomProject(dim: Int, outDim: Int): String = {
    val us = "CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
    val pcols = (0 until outDim)
      .map(j => s"projected[${j + 1}] AS p$j").mkString(", ")
    s"""WITH p AS (
       |  SELECT vec_id,
       |    list_transform(range(0, $outDim), j ->
       |      CAST(list_sum(list_transform(range(1, ${dim + 1}), i ->
       |        $us * ((j * 31 + (i - 1) * 17) % 7 - 3))) AS BIGINT)) AS projected
       |  FROM embeddings)
       |SELECT vec_id, $pcols FROM p""".stripMargin
  }

  /** Mirrors Similarity.minMaxNormalize (q144): integer-micro
    * quantization (⌊x·10⁶+0.5⌋), per-dimension min/max via the
    * fixed-`dim` generate_series form, ppm rescale with floor division —
    * integer-exact end to end. Emits exploded (vec_id, dim, norm_ppm)
    * rows (dim 0-based, matching Spark's posexplode) so the driver's
    * row-sorting canonicalizer can hash the result.
    */
  def minMaxNormalize(dim: Int): String = {
    val us = "CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
    s"""WITH s AS (
       |  SELECT i AS si, MIN(us) AS mn, MAX(us) AS mx FROM (
       |    SELECT i, $us AS us
       |    FROM embeddings, generate_series(1, $dim) t(i))
       |  GROUP BY i
       |)
       |SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
       |  CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
       |       ELSE ($us - mn) * 1000000 // (mx - mn) END AS norm_ppm
       |FROM embeddings, generate_series(1, $dim) t(i), s
       |WHERE s.si = t.i""".stripMargin
  }

  /** q74 oracle: INTERSECT set semantics (parts shipped in both years). */
  val partsIntersect: String =
    """SELECT DISTINCT l_partkey FROM lineitem WHERE year(l_shipdate) = 1995
      |INTERSECT
      |SELECT DISTINCT l_partkey FROM lineitem WHERE year(l_shipdate) = 1996""".stripMargin

  /** q75 oracle: CUBE grouping sets over flag × ship year — same GROUPING
    * bitmask convention as the q64 ROLLUP (first cube column = MSB).
    */
  val salesCube: String =
    """SELECT l_returnflag, CAST(year(l_shipdate) AS BIGINT) AS ship_year,
      |  CAST(GROUPING(l_returnflag, year(l_shipdate)) AS BIGINT) AS gid,
      |  CAST(COUNT(*) AS BIGINT) AS n, SUM(l_quantity) AS qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, year(l_shipdate))""".stripMargin

  /** q76 oracle: int8 quantization of the L2-normalized embedding
    * (⌊x/‖x‖·127 + 0.5⌋ — floor, never a half-tie rule) then a pure
    * INTEGER dot-product rank. Norms pin ascending-index summation with
    * ORDER BY i, matching Spark's fused left fold; past quantization
    * everything is integer arithmetic, so no rounding guard is needed.
    */
  def quantizedTopK(mod: Int = 50, k: Int = 5): String =
    s"""WITH q0 AS (SELECT vec_id AS query_id, embedding AS v FROM embeddings WHERE vec_id % $mod = 0),
       |c0 AS (SELECT vec_id AS neighbor_id, embedding AS v FROM embeddings),
       |qn AS (SELECT query_id, sqrt(SUM(CAST(v[CAST(i AS INTEGER)] AS DOUBLE) * CAST(v[CAST(i AS INTEGER)] AS DOUBLE) ORDER BY i)) AS n
       |       FROM q0, generate_series(1, 64) t(i) GROUP BY 1),
       |cn AS (SELECT neighbor_id, sqrt(SUM(CAST(v[CAST(i AS INTEGER)] AS DOUBLE) * CAST(v[CAST(i AS INTEGER)] AS DOUBLE) ORDER BY i)) AS n
       |       FROM c0, generate_series(1, 64) t(i) GROUP BY 1),
       |qq AS (SELECT query_id, i,
       |         CAST(floor(CASE WHEN n = 0 THEN 0.0 ELSE CAST(v[CAST(i AS INTEGER)] AS DOUBLE) / n * 127.0 END + 0.5) AS BIGINT) AS a
       |       FROM q0 JOIN qn USING (query_id), generate_series(1, 64) t(i)),
       |cq AS (SELECT neighbor_id, i,
       |         CAST(floor(CASE WHEN n = 0 THEN 0.0 ELSE CAST(v[CAST(i AS INTEGER)] AS DOUBLE) / n * 127.0 END + 0.5) AS BIGINT) AS b
       |       FROM c0 JOIN cn USING (neighbor_id), generate_series(1, 64) t(i)),
       |dots AS (
       |  SELECT query_id, neighbor_id, CAST(SUM(a * b) AS BIGINT) AS qdot
       |  FROM qq JOIN cq USING (i)
       |  WHERE query_id <> neighbor_id
       |  GROUP BY 1, 2
       |)
       |SELECT query_id, neighbor_id, qdot, "rank" FROM (
       |  SELECT query_id, neighbor_id, qdot,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS INTEGER) AS "rank"
       |  FROM dots) WHERE "rank" <= $k""".stripMargin

  /** q77 oracle: NTILE quartiles per event type — both engines place the
    * remainder rows in the FIRST tiles (SQL standard), and the (value,
    * event_id) order key is unique, so tile assignment is deterministic.
    */
  def valueNtile(tiles: Int): String =
    s"""WITH t AS (
       |  SELECT event_type, value,
       |    ntile($tiles) OVER (PARTITION BY event_type ORDER BY value, event_id) AS tile
       |  FROM events
       |)
       |SELECT event_type, CAST(tile AS BIGINT) AS tile, CAST(COUNT(*) AS BIGINT) AS n,
       |  MIN(value) AS lo, MAX(value) AS hi
       |FROM t GROUP BY 1, 2""".stripMargin

  /** q78 oracle: per-source exact deciles — the q66 derivation with a
    * PARTITION BY source on both the cumulative and total windows.
    */
  def sourceQuantiles(q: Int): String =
    s"""WITH t AS (
       |  SELECT source, CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS v
       |  FROM documents
       |), vals AS (
       |  SELECT source, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY 1, 2
       |), cum AS (
       |  SELECT source, v,
       |    CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
       |  FROM vals
       |)
       |SELECT source, quantile, MIN(v) AS threshold, MIN(cum) AS n_le
       |FROM cum CROSS JOIN (SELECT unnest(range($q)) AS quantile)
       |WHERE cum * $q >= (quantile + 1) * n
       |GROUP BY 1, 2""".stripMargin

  /** q79 oracle: the PLAIN per-site sum — the salted two-phase rewrite
    * must be row-for-row identical (l_quantity is integral-valued, so the
    * double sum is association-order-independent below 2^53).
    */
  val saltedAgg: String =
    """SELECT CAST(l_suppkey AS VARCHAR) AS site, SUM(l_quantity) AS qty
      |FROM lineitem GROUP BY 1""".stripMargin

  /** q80 oracle: the gap-fill grid with MAX(value) per hour (order-free,
    * unlike a float sum) and last_value IGNORE NULLS carrying the last
    * observation forward per type.
    */
  val forwardFill: String =
    """WITH b AS (
      |  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1 FROM events
      |), hrs AS (
      |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b
      |), k AS (SELECT DISTINCT event_type FROM events
      |), agg AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, MAX(value) AS v
      |  FROM events GROUP BY 1, 2
      |), g AS (
      |  SELECT k.event_type, hrs.hour, agg.v
      |  FROM k CROSS JOIN hrs
      |  LEFT JOIN agg ON agg.event_type = k.event_type AND agg.hour = hrs.hour
      |)
      |SELECT event_type, hour, v,
      |  last_value(v IGNORE NULLS) OVER (
      |    PARTITION BY event_type ORDER BY hour
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ff
      |FROM g""".stripMargin

  /** q81 oracle: arg-max re-derived as a rank window over the same (qty,
    * sku) struct order — verifies the max_by result, not its mechanism.
    */
  val topSkuArgmax: String =
    """WITH st AS (
      |  SELECT CAST(l_suppkey AS VARCHAR) AS site, CAST(l_partkey AS VARCHAR) AS sku,
      |    SUM(l_quantity) AS qty
      |  FROM lineitem GROUP BY 1, 2
      |), r AS (
      |  SELECT site, sku, qty,
      |    ROW_NUMBER() OVER (PARTITION BY site ORDER BY qty DESC, sku DESC) AS rn
      |  FROM st
      |)
      |SELECT site, sku AS top_sku, qty AS top_qty FROM r WHERE rn = 1""".stripMargin

  /** q82 oracle: the z-order bit interleave in integer arithmetic —
    * `//` by a power of two plays Spark's arithmetic shiftright (both are
    * floor division on the masked non-negative keys).
    */
  def zorderAddress(mask: Int, bits: Int): String =
    s"""SELECT l_orderkey, l_linenumber,
       |  CAST(list_sum(list_transform(range(0, $bits), i ->
       |    ((((l_partkey % $mask) // (1::BIGINT << i)) % 2) * (1::BIGINT << (2 * i))) +
       |    ((((l_suppkey % $mask) // (1::BIGINT << i)) % 2) * (1::BIGINT << (2 * i + 1)))
       |  )) AS BIGINT) AS zaddr
       |FROM lineitem""".stripMargin

  /** Zipped positional tokenization CTE: DuckDB's parallel `unnest(w)` +
    * `unnest(range(0, len(w)))` pairs each token with its 0-based position
    * — the exact shape of Spark's posexplode over the shared whitespace
    * split.
    */
  private val positionsCte: String =
    """t AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS w
      |  FROM documents
      |), pos AS (
      |  SELECT doc_id, unnest(w) AS token, unnest(range(0, len(w))) AS p FROM t
      |)""".stripMargin

  /** Mirrors TextAnalysis.collocations: zipped-slice bigrams off the
    * token lists, HUGEINT lift ratio, deterministic top-k cut.
    */
  def collocations(minCount: Long, k: Int): String =
    s"""WITH t AS (
       |  SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS w
       |  FROM documents
       |), uc AS (
       |  SELECT t, CAST(COUNT(*) AS HUGEINT) AS c
       |  FROM (SELECT unnest(w) AS t FROM t) GROUP BY 1
       |), bc AS (
       |  SELECT w1, w2, CAST(COUNT(*) AS HUGEINT) AS c_xy
       |  FROM (SELECT unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
       |        FROM t WHERE len(w) >= 2)
       |  GROUP BY 1, 2
       |), tot AS (
       |  SELECT CAST(SUM(len(w)) AS HUGEINT) AS n_uni,
       |    CAST(SUM(greatest(len(w) - 1, 0)) AS HUGEINT) AS n_bi
       |  FROM t)
       |SELECT w1, w2, CAST(c_xy AS BIGINT) AS n_pair,
       |  CAST((1000000 * c_xy * n_uni * n_uni) // (n_bi * a.c * b.c) AS BIGINT) AS lift_ppm
       |FROM bc JOIN uc a ON a.t = w1 JOIN uc b ON b.t = w2, tot
       |WHERE c_xy >= $minCount
       |ORDER BY lift_ppm DESC, w1, w2 LIMIT $k""".stripMargin

  /** q83 oracle: the inverted index re-derived with window df over the
    * (token, doc) posting aggregate.
    */
  def invertedIndex(minDf: Int): String =
    s"""WITH $positionsCte, post AS (
       |  SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf,
       |    CAST(MIN(p) AS INTEGER) AS first_pos, CAST(MAX(p) AS INTEGER) AS last_pos
       |  FROM pos GROUP BY 1, 2
       |)
       |SELECT token, CAST(COUNT(*) OVER (PARTITION BY token) AS BIGINT) AS df,
       |  doc_id, tf, first_pos, last_pos
       |FROM post QUALIFY df >= $minDf""".stripMargin

  /** q150 oracle: conjunctive search — query-term tf aggregate, the AND
    * as HAVING count == |terms|, (total_tf DESC, doc) top-k.
    */
  def andSearch(queryTokens: Seq[String], k: Int): String = {
    val terms = queryTokens.distinct
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH $positionsCte, tf AS (
       |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM pos WHERE token IN ($inList) GROUP BY 1, 2)
       |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS total_tf
       |FROM tf GROUP BY 1 HAVING COUNT(*) = ${terms.size}
       |ORDER BY total_tf DESC, doc_id LIMIT $k""".stripMargin
  }

  /** q84 oracle: phrase occurrences as aligned-position self-joins of the
    * positional tokenization (same alignment trick as the Spark side).
    */
  def phraseMatch(phrase: Seq[String]): String = {
    val joins = phrase.zipWithIndex.tail.map { case (tok, i) =>
      s"JOIN pos p$i ON p$i.doc_id = p0.doc_id AND p$i.token = '$tok' AND p$i.p = p0.p + $i"
    }.mkString("\n")
    s"""WITH $positionsCte
       |SELECT p0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
       |FROM pos p0
       |$joins
       |WHERE p0.token = '${phrase.head}'
       |GROUP BY 1""".stripMargin
  }

  /** q85 oracle: BM25 with the Search.bm25TopK determinism policy —
    * rational fixed-point IDF and dl/avgdl, 6-dp per-token rounding, and
    * the cross-token sum written as FIXED-ORDER coalesce additions (one
    * conditional aggregate per query token, each covering ≤1 row per
    * doc). Constants k1/b interpolate from the same Scala doubles as the
    * Spark expression, so the literals parse to identical IEEE values.
    */
  def bm25TopK(queryTokens: Seq[String], k: Int, k1: Double, b: Double): String = {
    val inList = queryTokens.map(t => s"'$t'").mkString(", ")
    val parts = queryTokens.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN token = '$t' THEN score_t END) AS __s$i"
    }.mkString(",\n    ")
    val total = queryTokens.indices.map(i => s"COALESCE(__s$i, 0.0)").mkString(" + ")
    s"""WITH $positionsCte, tf AS (
       |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM pos WHERE token IN ($inList) GROUP BY 1, 2
       |), dft AS (
       |  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
       |), dl AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM pos GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(dl) AS BIGINT) AS tt FROM dl
       |), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
       |), scored AS (
       |  SELECT tf.doc_id, tf.token,
       |    round(
       |      CAST(((n + 1) * 1000) // (df + 1) AS DOUBLE) * CAST(tf AS DOUBLE) * ${k1 + 1} /
       |        (CAST(tf AS DOUBLE) + $k1 * (${1 - b} + $b * (CAST((dl * n * 1000) // tt AS DOUBLE) / 1000.0))),
       |      6) AS score_t
       |  FROM tf JOIN dft USING (token) JOIN dl USING (doc_id)
       |  CROSS JOIN tot CROSS JOIN nd
       |), agg AS (
       |  SELECT doc_id,
       |    $parts
       |  FROM scored GROUP BY 1
       |), ranked AS (
       |  SELECT doc_id, round($total, 6) AS score
       |  FROM agg
       |)
       |SELECT doc_id, score,
       |  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS "rank"
       |FROM ranked ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  val eventSessions: String =
    """WITH base AS (
      |  SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts FROM events
      |), e AS (
      |  SELECT user_id,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM base
      |)
      |SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM e GROUP BY 1""".stripMargin

  /** q86 oracle: star-schema revenue rollup. Mirrors
    * [[ext.Warehouse.starRevenue]]'s DECIMAL(18,2) money policy — the
    * product's scale-4 DECIMAL sum is exact in both engines, double only
    * at the boundary.
    */
  def starRevenue(regionName: String, fromDate: String, untilDate: String): String =
    s"""SELECT n_name AS nation, COUNT(*) AS n_lines,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |           CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders   ON l_orderkey  = o_orderkey
       |JOIN customer ON o_custkey   = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |WHERE r_name = '$regionName'
       |  AND o_orderdate >= TIMESTAMP '$fromDate 00:00:00'
       |  AND o_orderdate <  TIMESTAMP '$untilDate 00:00:00'
       |GROUP BY 1""".stripMargin

  /** q87 oracle: trailing `days`-day revenue window over the DAILY
    * aggregate (RANGE frame on epoch day — calendar-gap-aware, matching
    * [[ext.Warehouse.rollingDailyRevenue]]).
    */
  def rollingRevenue(days: Int): String =
    s"""WITH daily AS (
       |  SELECT l_returnflag AS flag,
       |    CAST(date_trunc('day', l_shipdate) AS DATE) AS day,
       |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
       |  FROM lineitem GROUP BY 1, 2
       |), d AS (
       |  SELECT flag, day, rev,
       |    date_diff('day', DATE '1970-01-01', day) AS ed
       |  FROM daily
       |)
       |SELECT flag, day, CAST(rev AS DOUBLE) AS rev,
       |  CAST(SUM(rev) OVER (PARTITION BY flag ORDER BY ed
       |    RANGE BETWEEN ${days - 1} PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_window
       |FROM d""".stripMargin

  /** q88 oracle: strict-sequence funnel — stage i+1 counts only events
    * strictly after the user's stage-i first qualifying time, chained CTEs
    * exactly like [[ext.Funnel.funnel]]'s per-stage joins.
    */
  def funnel(stages: Seq[String]): String = {
    val base = "SELECT user_id, event_id, event_type, " +
      "date_trunc('microseconds', ts) AS ts FROM events"
    val ctes = stages.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"s0 AS (SELECT user_id, min(ts) AS t FROM base WHERE event_type = '$st' GROUP BY 1)"
      else
        s"s$i AS (SELECT e.user_id, min(e.ts) AS t FROM base e " +
          s"JOIN s${i - 1} p ON e.user_id = p.user_id AND e.ts > p.t " +
          s"WHERE e.event_type = '$st' GROUP BY 1)"
    }
    val selects = stages.zipWithIndex.map { case (st, i) =>
      s"SELECT CAST($i AS BIGINT) AS stage, '$st' AS event_type, COUNT(*) AS users FROM s$i"
    }
    s"WITH base AS ($base), ${ctes.mkString(", ")}\n${selects.mkString("\nUNION ALL ")}"
  }

  /** q89 oracle: snapshot diff over the two DERIVED order snapshots (the
    * same deterministic derivation as the SparkEntry registration), full
    * outer join + null-safe column compare, unchanged keys dropped.
    */
  val snapshotDiff: String =
    """WITH b AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 10 <> 0
      |), a AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
      |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 7 <> 0
      |)
      |SELECT * FROM (
      |  SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey,
      |    CASE WHEN b.o_orderkey IS NULL THEN 'insert'
      |         WHEN a.o_orderkey IS NULL THEN 'delete'
      |         WHEN b.o_orderstatus IS DISTINCT FROM a.o_orderstatus
      |           OR b.o_totalprice IS DISTINCT FROM a.o_totalprice THEN 'update'
      |    END AS change,
      |    b.o_orderstatus AS b_o_orderstatus, a.o_orderstatus AS a_o_orderstatus,
      |    b.o_totalprice AS b_o_totalprice, a.o_totalprice AS a_o_totalprice
      |  FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey
      |) WHERE change IS NOT NULL""".stripMargin

  /** q90 oracle: the incremental stored+delta merge must equal a FULL
    * recompute — so the oracle IS the full recompute (same DECIMAL revenue
    * policy; partial sums merge exactly).
    */
  val incrementalAgg: String =
    """SELECT CAST(l_partkey AS VARCHAR) AS sku, COUNT(*) AS n,
      |  SUM(l_quantity) AS qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem GROUP BY 1""".stripMargin

  /** q92 oracle: the constraint report re-derived as one aggregate CTE +
    * stacked selects (mirrors [[ext.Quality.constraintReport]]'s one-pass
    * conditional counts) plus the anti-join FK count. DuckDB `SUM(int)`
    * returns HUGEINT — cast back to BIGINT; `constraint` is reserved —
    * quoted.
    */
  val qualityReport: String =
    """WITH agg AS (
      |  SELECT COUNT(*) AS checked,
      |    CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
      |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT) AS v2,
      |    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v3,
      |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS v4,
      |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS v5
      |  FROM orders
      |)
      |SELECT 'completeness_o_orderdate' AS "constraint", v1 AS violations, checked FROM agg
      |UNION ALL SELECT 'domain_o_orderstatus', v2, checked FROM agg
      |UNION ALL SELECT 'range_o_totalprice_pos', v3, checked FROM agg
      |UNION ALL SELECT 'freshness_1996', v4, checked FROM agg
      |UNION ALL SELECT 'unique_o_orderkey', v5, checked FROM agg
      |UNION ALL SELECT 'fk_o_custkey',
      |  (SELECT COUNT(*) FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |   WHERE c.c_custkey IS NULL),
      |  (SELECT checked FROM agg)""".stripMargin

  /** q93 oracle: per-group median/MAD outlier report with LOWER medians
    * picked by by-value cumulative counting (position ⌊(n+1)/2⌋) — an
    * element of the data, no interpolation, so median, MAD and the
    * k·MAD outlier count are bit-identical to Spark's.
    */
  def madOutliers(k: Double): String =
    s"""WITH counts AS (
       |  SELECT event_type, value AS v, COUNT(*) AS cnt FROM events GROUP BY 1, 2
       |), c2 AS (
       |  SELECT event_type, v, cnt,
       |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
       |    SUM(cnt) OVER (PARTITION BY event_type) AS n
       |  FROM counts
       |), med AS (
       |  SELECT event_type, v AS med FROM c2
       |  WHERE cum - cnt < (n + 1) // 2 AND (n + 1) // 2 <= cum
       |), dev AS (
       |  SELECT e.event_type, abs(e.value - m.med) AS adev
       |  FROM events e JOIN med m USING (event_type)
       |), dcounts AS (
       |  SELECT event_type, adev, COUNT(*) AS cnt FROM dev GROUP BY 1, 2
       |), dc2 AS (
       |  SELECT event_type, adev, cnt,
       |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY adev) AS cum,
       |    SUM(cnt) OVER (PARTITION BY event_type) AS n
       |  FROM dcounts
       |), mad AS (
       |  SELECT event_type, adev AS mad FROM dc2
       |  WHERE cum - cnt < (n + 1) // 2 AND (n + 1) // 2 <= cum
       |)
       |SELECT e.event_type, m.med, d.mad, COUNT(*) AS n,
       |  CAST(SUM(CASE WHEN abs(e.value - m.med) > $k * d.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
       |GROUP BY 1, 2, 3""".stripMargin

  /** q94 oracle: token-budgeted domain mix — the same j=150 mix hash
    * orders docs per source, ROWS-frame cumulative size, take-while the
    * pre-row total is under the source's budget.
    */
  def domainMix(budgets: Seq[(String, Long)], defaultBudget: Long): String = {
    val h = mixSql("doc_id", 150)
    val budgetCase = "CASE " + budgets.map { case (s, b) =>
      s"WHEN source = '$s' THEN $b" }.mkString(" ") + s" ELSE $defaultBudget END"
    s"""WITH h AS (
       |  SELECT doc_id, source, n_chars, ($h) AS hh FROM documents
       |), c AS (
       |  SELECT doc_id, source, n_chars,
       |    CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY hh, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_size
       |  FROM h
       |)
       |SELECT doc_id, source, n_chars, cum_size FROM c
       |WHERE cum_size - n_chars < $budgetCase""".stripMargin
  }

  /** q95 oracle: fixed-point integer PageRank with the iteration loop
    * UNROLLED into chained CTEs (no recursive-CTE aggregate restrictions,
    * and trivially the same arithmetic): bidirected supplier↔part graph
    * from distinct lineitem pairs, node ids disambiguated as 2·part /
    * 2·supp+1. `//` floors like Spark's `div` (all values non-negative).
    */
  def pageRank(iters: Int, scale: Long): String = {
    val steps = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT n.id, CAST(${15L * scale / 100L} + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT sym.dst AS id, CAST(SUM(p.pr // d.outdeg) AS BIGINT) AS s
         |    FROM sym JOIN pr${i - 1} p ON sym.src = p.id
         |             JOIN deg d ON sym.src = d.src
         |    GROUP BY 1
         |  ) s ON n.id = s.id
         |)""".stripMargin
    }
    s"""WITH e AS (
       |  SELECT DISTINCT CAST(l_suppkey * 2 + 1 AS BIGINT) AS src,
       |                  CAST(l_partkey * 2 AS BIGINT) AS dst
       |  FROM lineitem
       |), sym AS (
       |  SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e
       |), deg AS (
       |  SELECT src, COUNT(*) AS outdeg FROM sym GROUP BY 1
       |), nodes AS (
       |  SELECT DISTINCT src AS id FROM sym
       |), pr0 AS (
       |  SELECT id, CAST($scale AS BIGINT) AS pr FROM nodes
       |), ${steps.mkString(", ")}
       |SELECT id AS node_id, pr FROM pr$iters""".stripMargin
  }

  /** q299: personalized PageRank — the q95 unrolled recursion with the
    * teleport term gated on the seed indicator (id % seedMod = 1) and a
    * seed-mass initial vector; mirrors Graph.personalizedPageRank.
    */
  def personalizedPageRank(iters: Int, scale: Long, seedMod: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT n.id, CAST(n.seed * ${15L * scale / 100L} + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM nseed n LEFT JOIN (
         |    SELECT sym.dst AS id, CAST(SUM(p.pr // d.outdeg) AS BIGINT) AS s
         |    FROM sym JOIN pr${i - 1} p ON sym.src = p.id
         |             JOIN deg d ON sym.src = d.src
         |    GROUP BY 1
         |  ) s ON n.id = s.id
         |)""".stripMargin
    }
    s"""WITH e AS (
       |  SELECT DISTINCT CAST(l_suppkey * 2 + 1 AS BIGINT) AS src,
       |                  CAST(l_partkey * 2 AS BIGINT) AS dst
       |  FROM lineitem
       |), sym AS (
       |  SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e
       |), deg AS (
       |  SELECT src, COUNT(*) AS outdeg FROM sym GROUP BY 1
       |), nodes AS (
       |  SELECT DISTINCT src AS id FROM sym
       |), nseed AS (
       |  SELECT id, CASE WHEN id % $seedMod = 1 THEN 1 ELSE 0 END AS seed FROM nodes
       |), pr0 AS (
       |  SELECT id, CAST(seed * $scale AS BIGINT) AS pr FROM nseed
       |), ${steps.mkString(", ")}
       |SELECT id AS node_id, pr FROM pr$iters""".stripMargin
  }

  /** Mirrors Graph.hits on the directed supplier→part edge list: per
    * round, authority = Σ incoming hubs then `·scale // max`, hub = Σ
    * outgoing authorities then `·scale // max` — the integer
    * max-normalized HITS recursion, bit-identical to the engine.
    */
  def hits(iters: Int, scale: Long): String = {
    // every per-round CTE is MATERIALIZED: a$i reads ar$i TWICE (join +
    // MAX scalar subquery) and h$i reads hr$i twice, so DuckDB's default
    // CTE inlining doubles the expanded plan per half-step — 2^(2·iters)
    // copies of the edge join (the q250 exponential-inlining lesson; this
    // exact spelling exhausted >67 GB of spill at sf1 and >79 GB at
    // sf0.3 before materialization pinned each round once)
    val steps = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT e.dst AS id, CAST(SUM(h.h) AS BIGINT) AS s
         |  FROM e JOIN h${i - 1} h ON e.src = h.id GROUP BY 1),
         |a$i AS MATERIALIZED (
         |  SELECT n.id,
         |    CAST(COALESCE(r.s, 0) * ${scale}::BIGINT // (SELECT MAX(s) FROM ar$i) AS BIGINT) AS a
         |  FROM nodes n LEFT JOIN ar$i r ON n.id = r.id),
         |hr$i AS MATERIALIZED (
         |  SELECT e.src AS id, CAST(SUM(a.a) AS BIGINT) AS s
         |  FROM e JOIN a$i a ON e.dst = a.id GROUP BY 1),
         |h$i AS MATERIALIZED (
         |  SELECT n.id,
         |    CAST(COALESCE(r.s, 0) * ${scale}::BIGINT // (SELECT MAX(s) FROM hr$i) AS BIGINT) AS h
         |  FROM nodes n LEFT JOIN hr$i r ON n.id = r.id)""".stripMargin
    }
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT CAST(l_suppkey * 2 + 1 AS BIGINT) AS src,
       |                  CAST(l_partkey * 2 AS BIGINT) AS dst
       |  FROM lineitem),
       |nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT id, CAST($scale AS BIGINT) AS h FROM nodes),
       |${steps.mkString(",\n")}
       |SELECT n.id AS node_id, CAST(COALESCE(h.h, 0) AS BIGINT) AS hub,
       |  CAST(COALESCE(a.a, 0) AS BIGINT) AS auth
       |FROM nodes n LEFT JOIN h$iters h ON n.id = h.id
       |LEFT JOIN a$iters a ON n.id = a.id""".stripMargin
  }

  /** Mirrors TimeSeries.acf over the hourly event counts: zero-gapfilled
    * grid, n-scaled exact mean-centering (dev = n·c − S), lag equi-join,
    * `num·10⁶ // den` with the one wide product in HUGEINT (the engine
    * uses DECIMAL(38,0)) — both truncate toward zero.
    */
  def acf(maxLag: Int): String =
    s"""WITH c AS (
       |  SELECT epoch_us(ts) // 3600000000 AS h, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1),
       |b AS (
       |  SELECT MIN(h) AS h0, MAX(h) AS h1, CAST(SUM(c) AS BIGINT) AS s,
       |    MAX(h) - MIN(h) + 1 AS n
       |  FROM c),
       |g AS (SELECT unnest(generate_series(b.h0, b.h1)) AS h, b.h0, b.s, b.n FROM b),
       |sr AS (
       |  SELECT g.h - g.h0 AS t, g.n * COALESCE(c.c, 0) - g.s AS dev, g.n
       |  FROM g LEFT JOIN c ON g.h = c.h),
       |d AS (SELECT CAST(SUM(dev * dev) AS BIGINT) AS den, MAX(n) AS n_hours FROM sr),
       |l AS (SELECT t, dev, unnest(generate_series(1, $maxLag)) AS lag FROM sr),
       |nm AS (
       |  SELECT lag, CAST(SUM(x.dev * y.dev) AS BIGINT) AS num
       |  FROM (SELECT t + lag AS t2, lag, dev FROM l) x
       |  JOIN sr y ON x.t2 = y.t GROUP BY 1)
       |SELECT CAST(lag AS BIGINT) AS lag, n_hours,
       |  CAST(num::HUGEINT * 1000000 // den AS BIGINT) AS acf_ppm
       |FROM nm, d""".stripMargin

  /** q286 oracle: the TEXTBOOK correlated spelling of Q21-shape — a
    * supplier row survives iff another supplier shipped in the same order
    * (EXISTS) and no other supplier shipped on or after it (NOT EXISTS).
    * The engine's de-correlated aggregate form must hash-match this.
    */
  val lastToShip: String =
    """WITH l AS (
      |  SELECT l_orderkey, l_suppkey, CAST(l_shipdate AS DATE) AS sd
      |  FROM lineitem),
      |win AS (
      |  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
      |  FROM l l1
      |  WHERE EXISTS (
      |      SELECT 1 FROM l l2
      |      WHERE l2.l_orderkey = l1.l_orderkey
      |        AND l2.l_suppkey <> l1.l_suppkey)
      |    AND NOT EXISTS (
      |      SELECT 1 FROM l l3
      |      WHERE l3.l_orderkey = l1.l_orderkey
      |        AND l3.l_suppkey <> l1.l_suppkey
      |        AND l3.sd >= l1.sd))
      |SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS n_last
      |FROM win JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY 1, 2""".stripMargin

  /** q287 oracle: Q22-shape lapsed prospects in the scalar-subquery +
    * NOT EXISTS spelling, above-average gate as the exact integer
    * cross-multiply, recency cut inside the correlated subquery.
    */
  val prospects: String =
    """WITH c AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      |  FROM customer),
      |s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pos,
      |    CAST(SUM(bal_c) AS BIGINT) AS sum_pos
      |  FROM c WHERE bal_c > 0)
      |SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
      |  CAST(SUM(bal_c) AS BIGINT) AS total_bal_c
      |FROM c, s
      |WHERE bal_c * n_pos > sum_pos
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND CAST(o.o_orderdate AS DATE) >= DATE '2000-08-01')
      |GROUP BY 1""".stripMargin

  /** Mirrors Layout.fileBloomAudit over orders (key = o_custkey, files =
    * o_orderkey insertion ranges): per-file min/max envelopes vs per-file
    * Bloom bit tables at the BloomJ hash block vs exact containment, one
    * summary row.
    */
  def fileBloomAudit(nFiles: Int, k: Int, mBits: Int,
                     probeMod: Int, probeResidue: Int): String = {
    def pos(e: String, i: Int) =
      s"(${mixSql(e, ext.Sketch.BloomJ + 2 * i)}) % $mBits"
    val keyPos = (0 until k).map(i => pos("key", i)).mkString(", ")
    val pPos = (0 until k).map(i => pos("p", i)).mkString(", ")
    s"""WITH base AS (
       |  SELECT CAST(o_custkey AS BIGINT) AS key, CAST(o_orderkey AS BIGINT) AS ord
       |  FROM orders),
       |b AS (SELECT MIN(ord) AS o0, MAX(ord) AS o1 FROM base),
       |files AS (
       |  SELECT key, (ord - o0) * $nFiles // (o1 - o0 + 1) AS file
       |  FROM base, b),
       |env AS (SELECT file, MIN(key) AS kmin, MAX(key) AS kmax FROM files GROUP BY 1),
       |fk AS (SELECT DISTINCT file, key FROM files),
       |bits AS (
       |  SELECT DISTINCT file, pos FROM (
       |    SELECT file, unnest([$keyPos]) AS pos FROM fk)),
       |probes AS (
       |  SELECT DISTINCT key AS p FROM files WHERE key % $probeMod = $probeResidue),
       |ppos AS (SELECT p, unnest([$pPos]) AS pos FROM probes),
       |bo AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS bloom_open FROM (
       |    SELECT p, file FROM ppos JOIN bits USING (pos)
       |    GROUP BY 1, 2 HAVING COUNT(*) = $k)),
       |mo AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS minmax_open
       |  FROM probes JOIN env ON p BETWEEN kmin AND kmax),
       |eo AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS exact_open
       |  FROM probes JOIN fk ON p = key)
       |SELECT CAST($nFiles AS BIGINT) AS n_files,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM probes) AS n_probes,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS bits_set,
       |  minmax_open, bloom_open, exact_open,
       |  CAST(bloom_open - exact_open AS BIGINT) AS false_open
       |FROM mo, bo, eo""".stripMargin
  }

  /** q293: hourly CountSketch cells over events (unit weights) — the
    * same CsJ hash family replayed per hour; mirrors the mode-adaptive
    * Streams.countSketchHourly run as a batch frame.
    */
  def csCellsHourly(depth: Int, width: Int): String = {
    val cellRows = (0 until depth).map(r =>
      s"""SELECT h, $r AS r,
         |  (${mixSql("user_id", ext.Sketch.CsJ + 4 * r)}) % $width AS bucket,
         |  ((${mixSql("user_id", ext.Sketch.CsJ + 4 * r + 2)}) % 2) * 2 - 1 AS sign
         |FROM ev""".stripMargin).mkString("\n  UNION ALL\n  ")
    s"""WITH ev AS (
       |  SELECT user_id, epoch_us(ts) // 3600000000 AS h FROM events),
       |cells AS (
       |  $cellRows)
       |SELECT CAST(h AS BIGINT) AS h, CAST(r AS INTEGER) AS "row",
       |  CAST(bucket AS INTEGER) AS bucket, CAST(SUM(sign) AS BIGINT) AS cnt
       |FROM cells GROUP BY 1, 2, 3""".stripMargin
  }

  /** q294: per-synthetic-hour (vec_id mod `hours`) quantized embedding
    * moments — mirrors Streams.embeddingMomentsHourly's (dim, s, n)
    * boundary (BIGINT s; the engine sums in DECIMAL(38,0) and casts).
    */
  def embeddingMomentsHourly(hours: Int): String =
    s"""WITH qz AS (
       |  SELECT vec_id % $hours AS h, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS v
       |  FROM embeddings),
       |ex AS (SELECT h, unnest(v) AS x, unnest(range(0, len(v))) AS dim FROM qz)
       |SELECT CAST(h AS BIGINT) AS h, CAST(dim AS INTEGER) AS dim,
       |  CAST(SUM(x) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
       |FROM ex GROUP BY 1, 2""".stripMargin

  /** q296: one-pass Poisson bootstrap CI over orders price-cents — the
    * same construction as Sampling.bootstrapSums: ONE per-row S-box mix
    * `p5 = perm5(affine(id, BootJ))`, then per replicate one affine map
    * (hashA/hashB at j = BootJ + 2r) of the mixed value, Poisson
    * thresholds, resample sums, nearest-rank selection. u-draws get
    * their own CTE so each affine is spelled once, not once per
    * threshold.
    */
  def bootstrapMeanCI(resamples: Int, loPermille: Int, hiPermille: Int): String = {
    val m = resamples
    val bootJ = ext.Sampling.BootJ
    val thr = ext.Sampling.PoissonThresholds
    val uCols = (0 until m).map { r =>
      val j = bootJ + 2 * r
      s"(((${37L * j + 11L} * p5 + ${101L * j + 31L}) % 2147483647) % 10000) AS u_$r"
    }.mkString(",\n    ")
    val wCols = (0 until m).map(r =>
      thr.map(t => s"(CASE WHEN u_$r >= $t THEN 1 ELSE 0 END)")
        .mkString(" + ") + s" AS w_$r").mkString(",\n    ")
    val sCols = (0 until m).map(r =>
      s"CAST(SUM(w_$r * x) AS BIGINT) AS sx_$r, CAST(SUM(w_$r) AS BIGINT) AS n_$r")
      .mkString(",\n    ")
    val mRows = (0 until m).map(r =>
      s"SELECT round(CAST(sx_$r AS DOUBLE) / GREATEST(n_$r, 1), 6) AS mean FROM s")
      .mkString("\n  UNION ALL ")
    val loRank = (m * loPermille + 999) / 1000
    val hiRank = (m * hiPermille + 999) / 1000
    s"""WITH src AS (
       |  SELECT o_orderkey AS id, CAST(round(o_totalprice * 100) AS BIGINT) AS x
       |  FROM orders),
       |a1 AS (SELECT x, (${affineHashSql("id", bootJ)}) AS a FROM src),
       |p AS (SELECT x, (${perm5Sql("a")}) AS p5 FROM a1),
       |u AS (SELECT x,
       |    $uCols
       |  FROM p),
       |w AS (SELECT x,
       |    $wCols
       |  FROM u),
       |s AS (SELECT CAST(SUM(x) AS BIGINT) AS sv, CAST(COUNT(*) AS BIGINT) AS n,
       |    $sCols
       |  FROM w),
       |mm AS (
       |  $mRows),
       |r AS (SELECT mean, ROW_NUMBER() OVER (ORDER BY mean) AS rn FROM mm)
       |SELECT n, round(CAST(sv AS DOUBLE) / GREATEST(n, 1), 6) AS mean,
       |  (SELECT mean FROM r WHERE rn = $loRank) AS ci_lo,
       |  (SELECT mean FROM r WHERE rn = $hiRank) AS ci_hi,
       |  CAST($m AS BIGINT) AS resamples
       |FROM s""".stripMargin
  }

  /** Mirrors the q289 CountSketch drift readout: two half-corpus signed
    * sketches at the CsJ block subtracted cell-wise, probe-panel median
    * estimates (exact middle order statistic over depth rows) next to
    * exact per-user deltas.
    */
  def countSketchDrift(depth: Int, width: Int, probeMod: Int,
                       probeResidue: Int): String = {
    val cellRows = (0 until depth).map(r =>
      s"""SELECT $r AS r, (${mixSql("user_id", ext.Sketch.CsJ + 4 * r)}) % $width AS bucket,
         |  ((${mixSql("user_id", ext.Sketch.CsJ + 4 * r + 2)}) % 2) * 2 - 1 AS sign,
         |  w FROM halves""".stripMargin).mkString("\n  UNION ALL\n  ")
    val probeRows = (0 until depth).map(r =>
      s"""SELECT user_id, exact_delta, $r AS r,
         |  (${mixSql("user_id", ext.Sketch.CsJ + 4 * r)}) % $width AS bucket,
         |  ((${mixSql("user_id", ext.Sketch.CsJ + 4 * r + 2)}) % 2) * 2 - 1 AS sign
         |FROM probes""".stripMargin).mkString("\n  UNION ALL\n  ")
    s"""WITH ev AS (
       |  SELECT user_id, epoch_us(ts) // 3600000000 AS h FROM events),
       |sp AS (SELECT (MIN(h) + MAX(h) + 1) // 2 AS hs FROM ev),
       |halves AS (
       |  SELECT user_id,
       |    CAST(SUM(CASE WHEN h >= hs THEN 1 ELSE -1 END) AS BIGINT) AS w
       |  FROM ev, sp GROUP BY 1),
       |cells AS (
       |  $cellRows),
       |sk AS (
       |  SELECT r, bucket, CAST(SUM(sign * w) AS BIGINT) AS cnt
       |  FROM cells GROUP BY 1, 2),
       |probes AS (
       |  SELECT user_id, w AS exact_delta FROM halves
       |  WHERE user_id % $probeMod = $probeResidue),
       |pr AS (
       |  $probeRows),
       |est AS (
       |  SELECT user_id, exact_delta,
       |    CAST(sign * COALESCE(cnt, 0) AS BIGINT) AS est_r, r,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY sign * COALESCE(cnt, 0), r) AS rn
       |  FROM pr LEFT JOIN sk USING (r, bucket))
       |SELECT user_id, exact_delta, est_r AS est_delta,
       |  CAST(est_r - exact_delta AS BIGINT) AS err
       |FROM est WHERE rn = ${(depth + 1) / 2}""".stripMargin
  }

  /** Mirrors TimeSeries.trendFit: closed-form integer OLS moments over
    * the gapfilled hourly grid, wide products in HUGEINT (engine:
    * DECIMAL(38,0)), ppm boundaries.
    */
  val trendFit: String =
    """WITH c AS (
      |  SELECT epoch_us(ts) // 3600000000 AS h, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM c),
      |g AS (SELECT unnest(generate_series(b.h0, b.h1)) AS h, b.h0 FROM b),
      |s AS (SELECT g.h - g.h0 AS t, COALESCE(c.c, 0) AS c
      |      FROM g LEFT JOIN c ON g.h = c.h),
      |m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
      |    CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(t * t) AS BIGINT) AS stt,
      |    CAST(SUM(t * c) AS BIGINT) AS stc, CAST(SUM(c * c) AS BIGINT) AS scc
      |  FROM s)
      |SELECT n AS n_hours,
      |  CAST((n * stc - st * sc)::HUGEINT * 1000000
      |    // (n * stt - st * st) AS BIGINT) AS slope_ppm,
      |  CAST((sc::HUGEINT * stt - st::HUGEINT * stc) * 1000000
      |    // (n * stt - st * st) AS BIGINT) AS intercept_ppm,
      |  CAST((n * stc - st * sc)::HUGEINT * (n * stc - st * sc) * 1000000
      |    // ((n * stt - st * st)::HUGEINT * (n * scc - sc * sc)) AS BIGINT) AS r2_ppm
      |FROM m""".stripMargin

  /** q300: per-event-type OLS hourly trend on the common grid — the q290
    * moments grouped by key, with the same GREATEST(·, 1) r² floor as
    * the engine (constant series ⇒ 0/1 = 0).
    */
  val trendFitByKey: String =
    """WITH c AS (
      |  SELECT event_type AS k, epoch_us(ts) // 3600000000 AS h,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM c),
      |kk AS (SELECT DISTINCT k FROM c),
      |g AS (SELECT kk.k, unnest(generate_series(b.h0, b.h1)) AS h, b.h0 FROM kk, b),
      |s AS (SELECT g.k, g.h - g.h0 AS t, COALESCE(c.c, 0) AS c
      |      FROM g LEFT JOIN c ON g.k = c.k AND g.h = c.h),
      |m AS (
      |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
      |    CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(t * t) AS BIGINT) AS stt,
      |    CAST(SUM(t * c) AS BIGINT) AS stc, CAST(SUM(c * c) AS BIGINT) AS scc
      |  FROM s GROUP BY 1)
      |SELECT k AS key, n AS n_hours,
      |  CAST((n * stc - st * sc)::HUGEINT * 1000000
      |    // (n * stt - st * st) AS BIGINT) AS slope_ppm,
      |  CAST((sc::HUGEINT * stt - st::HUGEINT * stc) * 1000000
      |    // (n * stt - st * st) AS BIGINT) AS intercept_ppm,
      |  CAST((n * stc - st * sc)::HUGEINT * (n * stc - st * sc) * 1000000
      |    // GREATEST((n * stt - st * st)::HUGEINT * (n * scc - sc * sc), 1) AS BIGINT) AS r2_ppm
      |FROM m""".stripMargin

  /** Mirrors Funnel.markovAttribution: journey prefixes to first
    * conversion, ppm transition matrix, `rounds` unrolled value-iteration
    * CTEs over the (variant, state) relation, removal effects per channel.
    */
  def markovAttribution(convType: String, rounds: Int, scale: Long): String = {
    val steps = (1 to rounds).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT t.removed, t.src AS st,
         |    CAST(SUM(t.t_ppm * (CASE WHEN t.dst = '__conv' THEN $scale
         |      ELSE COALESCE(p.p, 0) END)) // $scale AS BIGINT) AS p
         |  FROM tv t LEFT JOIN p${i - 1} p
         |    ON t.removed = p.removed AND t.dst = p.st
         |  GROUP BY 1, 2)""".stripMargin
    }
    s"""WITH ev AS (
       |  SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events),
       |cv AS (SELECT user_id, MIN(rn) AS cv FROM ev
       |       WHERE event_type = '$convType' GROUP BY 1),
       |j0 AS (
       |  SELECT e.user_id, e.rn, e.event_type, c.cv
       |  FROM ev e LEFT JOIN cv c USING (user_id)
       |  WHERE c.cv IS NULL OR e.rn <= c.cv),
       |j AS (
       |  SELECT user_id, rn, cv,
       |    COALESCE(LAG(event_type) OVER (PARTITION BY user_id ORDER BY rn),
       |      '__start') AS src,
       |    CASE WHEN event_type = '$convType' THEN '__conv'
       |         ELSE event_type END AS dst
       |  FROM j0),
       |ends AS (
       |  SELECT arg_max(dst, rn) AS src, '__null' AS dst
       |  FROM j WHERE cv IS NULL GROUP BY user_id),
       |trans AS (
       |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT src, dst FROM j UNION ALL SELECT src, dst FROM ends)
       |  GROUP BY 1, 2),
       |tppm AS (
       |  SELECT src, dst,
       |    cnt * $scale // SUM(cnt) OVER (PARTITION BY src) AS t_ppm
       |  FROM trans),
       |var AS (
       |  SELECT DISTINCT src AS removed FROM tppm WHERE src <> '__start'
       |  UNION ALL SELECT '__none'),
       |tv AS MATERIALIZED (
       |  SELECT v.removed, t.src, t.dst, t.t_ppm
       |  FROM tppm t, var v WHERE t.dst <> v.removed),
       |p0 AS (SELECT DISTINCT removed, src AS st, CAST(0 AS BIGINT) AS p FROM tv),
       |${steps.mkString(",\n")}
       |SELECT v.removed AS channel, b.p AS p_base_ppm,
       |  CAST(COALESCE(c.p, 0) AS BIGINT) AS p_removed_ppm,
       |  CAST((b.p - COALESCE(c.p, 0)) * $scale
       |    // GREATEST(b.p, 1) AS BIGINT) AS removal_ppm
       |FROM var v
       |LEFT JOIN p$rounds c ON c.removed = v.removed AND c.st = '__start'
       |JOIN p$rounds b ON b.st = '__start' AND b.removed = '__none'
       |WHERE v.removed <> '__none'""".stripMargin
  }

  /** q96 oracle: the 64-bit perceptual average hash, value-exact per
    * media row — re-derived from the UTF-8 payload bytes (hex-pair decode
    * as in [[mediaFeatures]]; chunk-vs-global mean via integer
    * cross-multiply — no division anywhere), bits accumulated in HUGEINT
    * and re-signed to JVM Long semantics.
    */
  def mediaPerceptualHash(chunks: Int): String = {
    val m = "18446744073709551616::HUGEINT" // 2^64
    val hb = "9223372036854775808::HUGEINT" // 2^63
    s"""WITH d AS (
       |  SELECT doc_id, COALESCE(encode(text), ''::BLOB) AS b FROM documents
       |), s AS (
       |  SELECT doc_id, octet_length(b) AS n, hex(b) AS hx FROM d
       |), bytes AS (
       |  SELECT doc_id, n,
       |    list_transform(range(1, n + 1), i ->
       |      (strpos('0123456789ABCDEF', hx[2*i-1]) - 1) * 16 +
       |      (strpos('0123456789ABCDEF', hx[2*i]) - 1)) AS bs
       |  FROM s
       |), tot AS (
       |  SELECT doc_id, n, bs, COALESCE(list_sum(bs), 0) AS total FROM bytes
       |), raw AS (
       |  SELECT doc_id, n,
       |    COALESCE(list_sum(list_transform(range(0, $chunks), j ->
       |      CASE WHEN COALESCE(list_sum(bs[(j*n)//$chunks + 1 : ((j+1)*n)//$chunks]), 0) * n >
       |                total * (((j+1)*n)//$chunks - (j*n)//$chunks)
       |           THEN 1::HUGEINT << j ELSE 0::HUGEINT END)), 0::HUGEINT) AS p
       |  FROM tot
       |)
       |SELECT doc_id AS media_id,
       |  CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
       |       WHEN p >= $hb THEN CAST(p - $m AS BIGINT)
       |       ELSE CAST(p AS BIGINT) END AS phash
       |FROM raw""".stripMargin
  }

  /** q97 oracle: plants the same deterministic identifiers, then scrubs
    * with the same engine-portable patterns (plain classes + bounded
    * repetition — identical in Java regex and RE2; DuckDB needs the 'g'
    * flag for global replace, Spark replaces globally by default).
    */
  val piiScrub: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val num = "[0-9]{6,}"
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    text || ' contact user' || doc_id || '@example.com ref ' ||
       |      (doc_id * 1000003 + 123456) || ' end' AS text
       |  FROM documents
       |)
       |SELECT doc_id,
       |  regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
       |    '$num', '<NUM>', 'g') AS clean_text,
       |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$num')) AS BIGINT) AS n_numbers
       |FROM planted""".stripMargin
  }

  /** q98 oracle: the same three grouping sets; GROUPING(a, b) bit order
    * (first argument = MSB) matches Spark's grouping_id, as q64/q75
    * established.
    */
  val groupingSets: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  CAST(COUNT(*) AS BIGINT) AS n, SUM(l_quantity) AS qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |  (l_returnflag), (l_linestatus))""".stripMargin

  /** q141 oracle: the fixed-round k-core peel replayed as `rounds` nested
    * CTE rounds — per round a degree aggregate and an endpoint IN-filter,
    * over the same minPairs-thresholded co-occurrence edges the engine
    * derives. Final SELECT = residual degrees of the surviving edge set.
    */
  def kCore(k: Int, rounds: Int, minPairs: Long): String = {
    // every CTE MATERIALIZED: each round references its predecessor four
    // times (degree union twice, IN-gates twice) — inlined, round R would
    // expand to 4^R copies of the base self-join and exhaust file handles
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT n, COUNT(*) AS d FROM (
         |    SELECT u AS n FROM e${i - 1} UNION ALL SELECT v AS n FROM e${i - 1})
         |  GROUP BY n HAVING COUNT(*) >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT u, v FROM e${i - 1}
         |  WHERE u IN (SELECT n FROM d$i) AND v IN (SELECT n FROM d$i))""".stripMargin
    }
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS pn
       |    FROM lineitem a JOIN lineitem b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |    GROUP BY 1, 2)
       |  WHERE pn >= $minPairs
       |), ${steps.mkString(", ")}
       |SELECT node_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
       |  SELECT u AS node_id FROM e$rounds UNION ALL SELECT v AS node_id FROM e$rounds)
       |GROUP BY node_id""".stripMargin
  }

  /** The shared label-propagation CTE prefix (e0/sym/l0..l`rounds`) —
    * q146 reads the final labels, q284 builds the modularity report on
    * top of the same chain.
    */
  private def labelPropCtes(rounds: Int, minPairs: Long): String = {
    val steps = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT e.v AS id, l.lbl AS nl, COUNT(*) AS c
         |  FROM sym e JOIN l${i - 1} l ON e.u = l.id
         |  GROUP BY 1, 2),
         |l$i AS MATERIALIZED (
         |  SELECT id, nl AS lbl FROM (
         |    SELECT id, nl,
         |      row_number() OVER (PARTITION BY id ORDER BY c DESC, nl) AS rn
         |    FROM c$i) WHERE rn = 1)""".stripMargin
    }
    s"""e0 AS MATERIALIZED (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS pn
       |    FROM lineitem a JOIN lineitem b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |    GROUP BY 1, 2)
       |  WHERE pn >= $minPairs
       |), sym AS MATERIALIZED (
       |  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
       |), l0 AS MATERIALIZED (
       |  SELECT DISTINCT u AS id, u AS lbl FROM sym
       |), ${steps.mkString(", ")}""".stripMargin
  }

  /** q146 oracle: fixed-round synchronous label propagation replayed as
    * round-unrolled MATERIALIZED CTEs (same inlining hazard as [[kCore]]);
    * the per-node arg-max is a `row_number` over `(count DESC, label)` —
    * the same most-frequent/min-label tie-break as the engine's
    * `max(struct(c, -lbl))`.
    */
  def labelPropagation(rounds: Int, minPairs: Long): String =
    s"""WITH ${labelPropCtes(rounds, minPairs)}
       |SELECT id AS node_id, lbl AS community FROM l$rounds""".stripMargin

  /** Mirrors Graph.modularityReport over the q146 labels: per community,
    * node count, intra-community edges, degree mass, and the signed ppm
    * modularity contribution `e_in·S // m − deg_sum²·S // 4m²` — every
    * quantity integer, truncation order pinned on both sides.
    */
  def modularityReport(rounds: Int, minPairs: Long, scale: Long): String =
    s"""WITH ${labelPropCtes(rounds, minPairs)},
       |lab AS MATERIALIZED (SELECT id AS node_id, lbl AS community FROM l$rounds),
       |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0),
       |ein AS (
       |  SELECT lu.community, CAST(COUNT(*) AS BIGINT) AS e_in
       |  FROM e0 JOIN lab lu ON e0.u = lu.node_id
       |          JOIN lab lv ON e0.v = lv.node_id
       |  WHERE lu.community = lv.community GROUP BY 1),
       |deg AS (SELECT u AS node_id, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
       |agg AS (
       |  SELECT l.community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(SUM(d.deg) AS BIGINT) AS deg_sum
       |  FROM lab l JOIN deg d ON l.node_id = d.node_id GROUP BY 1)
       |SELECT a.community, a.n_nodes,
       |  CAST(COALESCE(e.e_in, 0) AS BIGINT) AS e_in, a.deg_sum,
       |  CAST(COALESCE(e.e_in, 0) * $scale // m
       |    - (a.deg_sum * a.deg_sum * $scale) // (4 * m * m) AS BIGINT) AS q_ppm
       |FROM agg a LEFT JOIN ein e ON a.community = e.community, mm""".stripMargin

  /** q152 oracle: multi-source BFS replayed as round-unrolled MATERIALIZED
    * CTEs over the same minPairs-thresholded co-occurrence edges — per
    * round the new frontier is the neighbors of the previous frontier not
    * yet settled (`NOT IN` over non-null ids ≡ the engine's anti-join),
    * stamped with the round number. Sources are the graph nodes with
    * `id % srcMod = 0`, derived inside the query like every graph oracle.
    */
  def bfsDistances(srcMod: Long, rounds: Int, minPairs: Long): String = {
    val steps = (1 to rounds).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT DISTINCT e.v AS id FROM sym e JOIN f${i - 1} f ON e.u = f.id
         |  WHERE e.v NOT IN (SELECT id FROM s${i - 1})),
         |s$i AS MATERIALIZED (
         |  SELECT id, dist FROM s${i - 1}
         |  UNION ALL SELECT id, CAST($i AS BIGINT) AS dist FROM f$i)""".stripMargin
    }
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS pn
       |    FROM lineitem a JOIN lineitem b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |    GROUP BY 1, 2)
       |  WHERE pn >= $minPairs
       |), sym AS MATERIALIZED (
       |  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
       |), f0 AS MATERIALIZED (
       |  SELECT DISTINCT u AS id FROM sym WHERE u % $srcMod = 0
       |), s0 AS MATERIALIZED (SELECT id, CAST(0 AS BIGINT) AS dist FROM f0),
       |${steps.mkString(",\n")}
       |SELECT id AS node_id, dist FROM s$rounds""".stripMargin
  }

  /** q157 oracle: fixed-round Bellman-Ford replayed in its SYNCHRONOUS
    * form (every round relaxes every edge — same ≤ i-edge-path minimum
    * the engine's delta-frontier computes, the classical equivalence),
    * round-unrolled as MATERIALIZED CTEs over the weighted co-occurrence
    * edges (w = 1000 // pair support).
    */
  def shortestPaths(srcMod: Long, rounds: Int, minPairs: Long): String = {
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT id, MIN(dist) AS dist FROM (
         |    SELECT id, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.v AS id, l.dist + e.w AS dist
         |    FROM syme e JOIN d${i - 1} l ON e.u = l.id)
         |  GROUP BY id)""".stripMargin
    }
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT u, v, CAST(1000 // pn AS BIGINT) AS w FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS pn
       |    FROM lineitem a JOIN lineitem b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |    GROUP BY 1, 2)
       |  WHERE pn >= $minPairs
       |), syme AS MATERIALIZED (
       |  SELECT u, v, w FROM e0 UNION ALL SELECT v AS u, u AS v, w FROM e0
       |), d0 AS MATERIALIZED (
       |  SELECT DISTINCT u AS id, CAST(0 AS BIGINT) AS dist
       |  FROM syme WHERE u % $srcMod = 0
       |), ${steps.mkString(",\n")}
       |SELECT id AS node_id, dist FROM d$rounds""".stripMargin
  }

  /** q101 oracle: per-node triangle counts on the part co-purchase graph —
    * same degree-orientation as Graph.triangleCounts (row-value comparison
    * `(d, id)` mirrors Spark's struct ordering), so each triangle is
    * counted from its unique oriented wedge in both engines.
    */
  val triangleCounts: String =
    """WITH und AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), deg AS (
      |  SELECT n, COUNT(*) AS d FROM (
      |    SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
      |  GROUP BY n
      |), o AS (
      |  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
      |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
      |  FROM und e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
      |), tri AS (
      |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM o e1
      |  JOIN o e2 ON e2.src = e1.dst
      |  JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst
      |)
      |SELECT node_id, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
      |  SELECT unnest([a, b, c]) AS node_id FROM tri)
      |GROUP BY node_id""".stripMargin

  // ---- BPE merge-training oracle (q102) -----------------------------------

  /** q102 oracle: replays Bpe.learnMerges — word-frequency dict, then
    * `nMerges` unrolled rounds of (pair count → lexicographic-tie top
    * pair → greedy non-overlapping merge via the run-parity rule). The
    * run-parity CTEs mirror the Spark windows term for term. Every CTE is
    * `AS MATERIALIZED`: each round references the previous one ~4 times,
    * and DuckDB's default CTE inlining re-evaluates every reference —
    * exponential (4^rounds) blowup that hangs the plain form.
    */
  def bpeMerges(nMerges: Int): String = {
    val out = (0 until nMerges)
      .map(r => s"SELECT CAST(${r + 1} AS BIGINT) AS \"rank\", a AS pair_a, b AS pair_b, cnt AS freq FROM bt$r")
      .mkString("\nUNION ALL\n")
    s"WITH ${bpeCtes(nMerges)}\n$out"
  }

  /** q104 oracle: per-doc token counts under the trained vocabulary —
    * each word contributes the length of its fully-merged symbol list.
    */
  def bpeTokenCounts(nMerges: Int): String =
    s"""WITH ${bpeCtes(nMerges)},
       |wc AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |    x -> x <> '')) AS word
       |  FROM documents)
       |SELECT doc_id, CAST(SUM(len(syms)) AS BIGINT) AS n_tokens
       |FROM wc JOIN bs$nMerges USING (word) GROUP BY doc_id""".stripMargin

  /** q378: per-language tokenizer fertility under the trained BPE vocab —
    * the q104 token counts rolled up by lang against the table's n_chars.
    */
  def bpeFertility(nMerges: Int): String =
    s"""WITH ${bpeCtes(nMerges)},
       |wc AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |    x -> x <> '')) AS word
       |  FROM documents),
       |tc AS (
       |  SELECT doc_id, CAST(SUM(len(syms)) AS BIGINT) AS n_tokens
       |  FROM wc JOIN bs$nMerges USING (word) GROUP BY doc_id)
       |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(COALESCE(t.n_tokens, 0)) AS BIGINT) AS bpe_tokens,
       |  CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
       |  CAST(SUM(COALESCE(t.n_tokens, 0)) * 1000000
       |    // (CASE WHEN SUM(d.n_chars) = 0 THEN 1 ELSE SUM(d.n_chars) END)
       |    AS BIGINT) AS fertility_ppm
       |FROM documents d LEFT JOIN tc t USING (doc_id)
       |GROUP BY 1""".stripMargin

  /** q379: rendezvous-shard balance audit — per-doc argmax over shards of
    * the S-independent affine weight, ROW_NUMBER argmax spelling (weight
    * desc, shard asc — the engine's max(struct) tiebreak).
    */
  def rendezvousShards(nShards: Int): String =
    s"""WITH w AS (
       |  SELECT doc_id, s,
       |    ${mixSql(s"doc_id * 1000003 + s", 11)} AS w
       |  FROM documents, unnest(range(0, $nShards)) t(s)),
       |sh AS (SELECT doc_id, s FROM (
       |    SELECT doc_id, s,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY w DESC, s) AS rn
       |    FROM w) WHERE rn = 1),
       |c AS (SELECT CAST(s AS BIGINT) AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs
       |      FROM sh GROUP BY 1),
       |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot FROM c)
       |SELECT shard, n_docs,
       |  CAST(n_docs * 1000000 // (CASE WHEN tot = 0 THEN 1 ELSE tot END)
       |    AS BIGINT) AS share_ppm
       |FROM c, t""".stripMargin

  private def bpeCtes(nMerges: Int): String = {
    val head =
      """bs0 AS MATERIALIZED (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
        |    list_transform(generate_series(1, len(word)),
        |      i -> substring(word, CAST(i AS INTEGER), 1)) AS syms
        |  FROM (
        |    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS word
        |    FROM documents)
        |  GROUP BY word)""".stripMargin
    val rounds = (0 until nMerges).map { r =>
      s"""bp$r AS MATERIALIZED (
         |  SELECT (pr).a AS a, (pr).b AS b, SUM(freq) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(generate_series(1, len(syms) - 1),
         |      i -> struct_pack(a := syms[CAST(i AS INTEGER)],
         |                       b := syms[CAST(i AS INTEGER) + 1]))) AS pr
         |    FROM bs$r)
         |  GROUP BY 1, 2),
         |bt$r AS MATERIALIZED (SELECT a, b, CAST(cnt AS BIGINT) AS cnt FROM bp$r ORDER BY cnt DESC, a, b LIMIT 1),
         |bx$r AS MATERIALIZED (
         |  SELECT word, freq, syms, CAST(i AS INTEGER) AS i FROM (
         |    SELECT word, freq, syms, unnest(generate_series(1, len(syms))) AS i FROM bs$r)),
         |bg$r AS MATERIALIZED (
         |  SELECT x.word, x.i FROM bx$r x, bt$r t
         |  WHERE x.syms[x.i] = t.a AND x.i < len(x.syms) AND x.syms[x.i + 1] = t.b),
         |bm$r AS MATERIALIZED (
         |  SELECT word, i FROM (
         |    SELECT word, i, ROW_NUMBER() OVER (PARTITION BY word, i - rn ORDER BY i) AS k
         |    FROM (SELECT word, i, ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS rn FROM bg$r))
         |  WHERE k % 2 = 1),
         |bs${r + 1} AS MATERIALIZED (
         |  SELECT x.word, x.freq, list(
         |      CASE WHEN m.i IS NOT NULL THEN x.syms[x.i] || x.syms[x.i + 1]
         |           ELSE x.syms[x.i] END ORDER BY x.i) AS syms
         |  FROM bx$r x
         |  LEFT JOIN bm$r m ON m.word = x.word AND m.i = x.i
         |  LEFT JOIN bm$r c ON c.word = x.word AND c.i = x.i - 1
         |  WHERE c.i IS NULL
         |  GROUP BY x.word, x.freq)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  // ---- k-means / semantic-dedup oracles (q99, q100) -----------------------

  /** Exact integer squared-L2 between two `dim`-length BIGINT lists. */
  private def l2sqSql(a: String, b: String, dim: Int = 64): String =
    s"CAST(list_sum(list_transform(generate_series(1, $dim), i -> " +
      s"($a[CAST(i AS INTEGER)] - $b[CAST(i AS INTEGER)]) * " +
      s"($a[CAST(i AS INTEGER)] - $b[CAST(i AS INTEGER)]))) AS BIGINT)"

  /** One Lloyd's assignment CTE `$name` against centroid CTE `$cent`:
    * nearest centroid by exact integer L2², ties to the lowest cid —
    * term-for-term the `min(struct(dist, cid))` rule in
    * Clustering.kmeansAssign.
    */
  private def kmAssignCte(name: String, cent: String, src: String, dim: Int): String =
    s"""$name AS (
       |  SELECT vec_id, cid, dist, v FROM (
       |    SELECT vec_id, cid, dist, v,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM (
       |      SELECT q.vec_id, c.cid, ${l2sqSql("q.v", "c.cv", dim)} AS dist, q.v
       |      FROM $src q, $cent c))
       |  WHERE rn = 1)""".stripMargin

  /** One centroid-mean update CTE `$name` from assignment CTE `$from`:
    * per-(cluster, dim) truncating integer mean (DuckDB `//` and Spark
    * `div` both truncate toward zero), reassembled in dim order.
    */
  private def kmUpdateCte(name: String, from: String, dim: Int): String =
    s"""$name AS (
       |  SELECT cid, list(m ORDER BY i) AS cv FROM (
       |    SELECT cid, CAST(i AS INTEGER) AS i,
       |      CAST(SUM(v[CAST(i AS INTEGER)]) AS BIGINT) // COUNT(*) AS m
       |    FROM $from, generate_series(1, $dim) t(i) GROUP BY 1, 2)
       |  GROUP BY cid)""".stripMargin

  /** CTE chain replaying Clustering.kmeansAssign exactly: quantize →
    * seed → `iterations` × (assign → mean update) → final assignment CTE
    * named `${p}a$iterations`. `sliceFrom`/`dim` train on a subvector
    * (the PQ per-subspace codebook); `p` prefixes every CTE name so
    * several chains can coexist in one query.
    */
  private def kmeansCtes(seedMod: Int, iterations: Int, dim: Int = 64,
                         sliceFrom: Int = 1, p: String = "km",
                         where: String = ""): String = {
    val vecExpr =
      if (sliceFrom == 1 && dim == 64) "embedding"
      else s"embedding[$sliceFrom:${sliceFrom + dim - 1}]"
    // seedMod = 0 → adaptive √n sizing: smallest power-of-two m with
    // m² ≥ n, in pure integer shift arithmetic (Clustering.adaptiveSeedMod)
    val seedCte =
      if (seedMod > 0)
        s"${p}c0 AS (SELECT vec_id AS cid, v AS cv FROM ${p}q WHERE vec_id % $seedMod = 0)"
      else
        s"""${p}n AS (SELECT COUNT(*) AS n FROM ${p}q),
           |${p}m AS (
           |  SELECT (CAST(1 AS BIGINT) << CAST(COALESCE(list_min(list_filter(range(1, 32),
           |    j -> (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) * (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) >= n)), 31) AS INTEGER)) AS m
           |  FROM ${p}n),
           |${p}c0 AS (SELECT vec_id AS cid, v AS cv FROM ${p}q CROSS JOIN ${p}m WHERE vec_id % m = 0)""".stripMargin
    val head = Seq(
      s"""${p}q AS (
         |  SELECT vec_id,
         |    list_transform($vecExpr,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS v
         |  FROM embeddings$where)""".stripMargin,
      seedCte)
    val steps = (0 until iterations).flatMap { it =>
      Seq(kmAssignCte(s"${p}a$it", s"${p}c$it", s"${p}q", dim),
        kmUpdateCte(s"${p}c${it + 1}", s"${p}a$it", dim))
    }
    (head ++ steps :+ kmAssignCte(s"${p}a$iterations", s"${p}c$iterations", s"${p}q", dim))
      .mkString(",\n")
  }

  /** q99 oracle: trained k-means assignment — all-integer output.
    * `seedMod = 0` derives the adaptive √n modulus from COUNT(*).
    */
  def kmeansAssign(seedMod: Int = 0, iterations: Int = 2): String =
    s"""WITH ${kmeansCtes(seedMod, iterations)}
       |SELECT vec_id, cid AS cluster, dist FROM kma$iterations""".stripMargin

  /** q100 oracle: SemDeDup — within-cell pairs on the ORIGINAL float
    * vectors, cosine rounded to 6 decimals at the decision boundary,
    * remove the higher id of any qualifying pair.
    */
  def semanticDedup(threshold: Double, seedMod: Int = 0, iterations: Int = 2,
                    where: String = ""): String =
    s"""WITH ${kmeansCtes(seedMod, iterations, where = where)},
       |sd AS (
       |  SELECT a.vec_id, a.cid AS cluster, e.embedding AS fv
       |  FROM kma$iterations a JOIN embeddings e ON e.vec_id = a.vec_id),
       |sp AS (
       |  SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.fv AS av, y.fv AS bv
       |  FROM sd x JOIN sd y ON x.cluster = y.cluster AND x.vec_id < y.vec_id),
       |${cosineCtes("sp", "id_a", "id_b", "av", "bv", "sc")},
       |removed AS (SELECT DISTINCT id_b AS vec_id FROM sc WHERE s >= $threshold)
       |SELECT d.vec_id, d.cluster, r.vec_id IS NULL AS kept
       |FROM sd d LEFT JOIN removed r ON r.vec_id = d.vec_id""".stripMargin

  /** q162 oracle: vocabulary drift between the doc_id-parity halves —
    * per-side token counts, vocabulary full-outer join, HUGEINT ppm of
    * each side's total mass, signed delta.
    */
  def vocabularyDrift(minCount: Long): String =
    s"""WITH tka AS (
       |  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt_a FROM (
       |    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS token
       |    FROM documents WHERE doc_id % 2 = 0) GROUP BY 1),
       |tkb AS (
       |  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt_b FROM (
       |    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS token
       |    FROM documents WHERE doc_id % 2 = 1) GROUP BY 1),
       |na AS (SELECT CAST(SUM(cnt_a) AS HUGEINT) AS tot_a FROM tka),
       |nb AS (SELECT CAST(SUM(cnt_b) AS HUGEINT) AS tot_b FROM tkb),
       |j AS (
       |  SELECT COALESCE(a.token, b.token) AS token,
       |    COALESCE(a.cnt_a, 0) AS cnt_a, COALESCE(b.cnt_b, 0) AS cnt_b
       |  FROM tka a FULL OUTER JOIN tkb b ON a.token = b.token),
       |p AS (
       |  SELECT token, cnt_a, cnt_b,
       |    CAST((CAST(cnt_a AS HUGEINT) * 1000000) // tot_a AS BIGINT) AS ppm_a,
       |    CAST((CAST(cnt_b AS HUGEINT) * 1000000) // tot_b AS BIGINT) AS ppm_b
       |  FROM j, na, nb
       |  WHERE cnt_a >= $minCount OR cnt_b >= $minCount)
       |SELECT token, cnt_a, cnt_b, ppm_a, ppm_b, ppm_a - ppm_b AS delta_ppm
       |FROM p""".stripMargin

  /** q307: χ²-weighted token drift — the q162 ppm proportions scored by
    * (pₐ−p_b)²·10⁶ // (pₐ+p_b); all terms bounded BIGINTs.
    */
  def chi2TokenDrift(minCount: Long): String =
    s"""WITH tka AS (
       |  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt_a FROM (
       |    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS token
       |    FROM documents WHERE doc_id % 2 = 0) GROUP BY 1),
       |tkb AS (
       |  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt_b FROM (
       |    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS token
       |    FROM documents WHERE doc_id % 2 = 1) GROUP BY 1),
       |na AS (SELECT CAST(SUM(cnt_a) AS HUGEINT) AS tot_a FROM tka),
       |nb AS (SELECT CAST(SUM(cnt_b) AS HUGEINT) AS tot_b FROM tkb),
       |j AS (
       |  SELECT COALESCE(a.token, b.token) AS token,
       |    COALESCE(a.cnt_a, 0) AS cnt_a, COALESCE(b.cnt_b, 0) AS cnt_b
       |  FROM tka a FULL OUTER JOIN tkb b ON a.token = b.token),
       |p AS (
       |  SELECT token, cnt_a, cnt_b,
       |    CAST((CAST(cnt_a AS HUGEINT) * 1000000) // tot_a AS BIGINT) AS ppm_a,
       |    CAST((CAST(cnt_b AS HUGEINT) * 1000000) // tot_b AS BIGINT) AS ppm_b
       |  FROM j, na, nb
       |  WHERE cnt_a >= $minCount OR cnt_b >= $minCount)
       |SELECT token, cnt_a, cnt_b,
       |  CASE WHEN ppm_a + ppm_b = 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST((ppm_a - ppm_b) * (ppm_a - ppm_b) * 1000000
       |      // (ppm_a + ppm_b) AS BIGINT) END AS chi2_ppm
       |FROM p""".stripMargin

  /** q163 oracle: exact cume_dist ppm — by-value counts, running + total
    * window over the collapsed relation, HUGEINT-carried numerator.
    */
  val pricePercentiles: String =
    """SELECT l_returnflag, value, cnt,
      |  CAST((CAST(cum AS HUGEINT) * 1000000) // n AS BIGINT) AS cume_ppm
      |FROM (
      |  SELECT l_returnflag, value, cnt,
      |    SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY value) AS cum,
      |    SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      |  FROM (
      |    SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS value,
      |      CAST(COUNT(*) AS BIGINT) AS cnt
      |    FROM lineitem GROUP BY 1, 2))""".stripMargin

  /** q172 oracle: dedup-cascade attrition — exact keepers, MinHash
    * clusters over ONLY the exact survivors (the parameterized shingle
    * WHERE), semantic dedup over ONLY the stage-2 survivors (the
    * parameterized kmeans corpus WHERE); unshingleable / no-embedding
    * survivors pass their stages. Outer CTEs are referenced from inside
    * the nested WITH derived tables (legal statement-wide CTE scope).
    */
  def dedupCascade(k: Int = 16, rowsPerBand: Int = 4,
                   threshold: Double = 0.3): String =
    s"""WITH ex AS MATERIALIZED (
       |  SELECT keep_id AS doc_id FROM ($dedupExact) t),
       |mhc AS MATERIALIZED (SELECT * FROM (
       |  WITH ${shingleCtes(" AND doc_id IN (SELECT doc_id FROM ex)")},
       |  ${sigCte(k)}, ${bandedCtes(k, rowsPerBand)},
       |  bucket AS (SELECT band, bkey, MIN(doc_id) AS bucket_rep FROM b2 GROUP BY 1, 2)
       |  SELECT a.doc_id, MIN(bucket_rep) AS cluster_rep
       |  FROM b2 a JOIN bucket USING (band, bkey) GROUP BY 1) t),
       |s2 AS MATERIALIZED (
       |  SELECT e.doc_id FROM ex e LEFT JOIN mhc m ON m.doc_id = e.doc_id
       |  WHERE m.doc_id IS NULL OR m.doc_id = m.cluster_rep),
       |sem AS MATERIALIZED (SELECT * FROM (
       |  ${semanticDedup(threshold, 0, 2, " WHERE vec_id IN (SELECT doc_id FROM s2)")}) t),
       |cnt AS (
       |  SELECT
       |    (SELECT COUNT(*) FROM documents) AS n0,
       |    (SELECT COUNT(*) FROM ex) AS n1,
       |    (SELECT COUNT(*) FROM s2) AS n2,
       |    (SELECT COUNT(*) FROM s2
       |     WHERE doc_id NOT IN (SELECT vec_id FROM embeddings)) AS nno,
       |    (SELECT COUNT(*) FROM sem WHERE kept) AS nsem)
       |SELECT 'exact' AS stage, CAST(n0 AS BIGINT) AS rows_in,
       |  CAST(n1 AS BIGINT) AS rows_out, CAST(n0 - n1 AS BIGINT) AS removed FROM cnt
       |UNION ALL SELECT 'minhash', CAST(n1 AS BIGINT), CAST(n2 AS BIGINT),
       |  CAST(n1 - n2 AS BIGINT) FROM cnt
       |UNION ALL SELECT 'semantic', CAST(n2 AS BIGINT), CAST(nsem + nno AS BIGINT),
       |  CAST(n2 - (nsem + nno) AS BIGINT) FROM cnt""".stripMargin

  /** q170 oracle: pre-join skew report over the attribution join's two
    * sides — per-key counts, exact fan-out product, deterministic top-k.
    */
  def joinSkew(k: Int): String =
    s"""WITH lc AS (SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS cnt_left
       |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |rc AS (SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS cnt_right
       |       FROM events WHERE event_type IN ('view', 'click') GROUP BY 1)
       |SELECT key, cnt_left, cnt_right,
       |  CAST(cnt_left * cnt_right AS BIGINT) AS est_rows
       |FROM lc JOIN rc USING (key)
       |ORDER BY est_rows DESC, key LIMIT $k""".stripMargin

  /** q171 oracle: deterministic A/B conversion z-test — HUGEINT mirror of
    * the cross-multiplied two-proportion comparison.
    */
  def armConversionTest(convType: String, zNum: Long, zDen: Long): String = {
    val h = mixSql("user_id", 360)
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       |ua AS (SELECT user_id, ($h) % 2 AS arm FROM u),
       |cu AS (SELECT DISTINCT user_id FROM events WHERE event_type = '$convType'),
       |pa AS (
       |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN cu.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS cv
       |  FROM ua LEFT JOIN cu ON cu.user_id = ua.user_id GROUP BY arm),
       |r AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN arm = 0 THEN cv END) AS BIGINT) AS conv_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_b,
       |    CAST(SUM(CASE WHEN arm = 1 THEN cv END) AS BIGINT) AS conv_b
       |  FROM pa)
       |SELECT n_a, conv_a, n_b, conv_b,
       |  CAST((CAST(conv_a AS HUGEINT) * 1000000) // n_a AS BIGINT) AS rate_a_ppm,
       |  CAST((CAST(conv_b AS HUGEINT) * 1000000) // n_b AS BIGINT) AS rate_b_ppm,
       |  (CAST(conv_a AS HUGEINT) * n_b - CAST(conv_b AS HUGEINT) * n_a)
       |    * (CAST(conv_a AS HUGEINT) * n_b - CAST(conv_b AS HUGEINT) * n_a)
       |    * (n_a + n_b) * ${zDen * zDen}
       |  > CAST(${zNum * zNum} AS HUGEINT) * (conv_a + conv_b)
       |    * ((n_a + n_b) - (conv_a + conv_b)) * n_a * n_b AS significant
       |FROM r""".stripMargin
  }

  /** q167 oracle: domain-normalized quality cut — the q163 cume-ppm chain
    * over (source, quality), joined back onto the per-doc rows, gate at
    * `10⁶ − keepTopPpm`.
    */
  def domainQualityCut(keepTopPpm: Long): String =
    s"""WITH st AS (SELECT doc_id, quality FROM ($textStats) t),
       |j AS (
       |  SELECT s.doc_id, d.source, s.quality
       |  FROM st s JOIN documents d ON d.doc_id = s.doc_id),
       |r AS (
       |  SELECT source, value,
       |    CAST((CAST(cum AS HUGEINT) * 1000000) // n AS BIGINT) AS cume_ppm
       |  FROM (
       |    SELECT source, value,
       |      SUM(cnt) OVER (PARTITION BY source ORDER BY value) AS cum,
       |      SUM(cnt) OVER (PARTITION BY source) AS n
       |    FROM (SELECT source, quality AS value, CAST(COUNT(*) AS BIGINT) AS cnt
       |          FROM j GROUP BY 1, 2)))
       |SELECT j.doc_id, j.source, j.quality, r.cume_ppm,
       |  r.cume_ppm > ${1000000L - keepTopPpm} AS kept
       |FROM j JOIN r ON r.source = j.source AND r.value = j.quality""".stripMargin

  /** q168 oracle: Pareto contribution — brand revenue cents, HUGEINT ppm
    * shares, ROWS-framed cumulative in (total DESC, brand) order.
    */
  def brandPareto(headPpm: Long): String =
    s"""WITH rev AS (
       |  SELECT p_brand,
       |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total
       |  FROM lineitem JOIN part ON p_partkey = l_partkey GROUP BY 1),
       |w AS (
       |  SELECT p_brand, total,
       |    CAST(SUM(total) OVER () AS HUGEINT) AS grand,
       |    CAST(SUM(total) OVER (ORDER BY total DESC, p_brand
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum
       |  FROM rev)
       |SELECT p_brand, total,
       |  CAST((CAST(total AS HUGEINT) * 1000000) // grand AS BIGINT) AS share_ppm,
       |  CAST((cum * 1000000) // grand AS BIGINT) AS cum_ppm,
       |  (cum * 1000000) // grand <= $headPpm AS pareto_head
       |FROM w""".stripMargin

  /** q169 oracle: linear multi-touch attribution — user-keyed
    * conversion×touch pairs under the horizon, equal integer split with
    * the remainder on the earliest touch, 'none' bucket for untouched
    * conversions.
    */
  def linearAttribution(touchTypes: Seq[String], convType: String,
                        horizonUs: Long): String = {
    val touches = touchTypes.map(t => s"'$t'").mkString(", ")
    s"""WITH base AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events WHERE event_type IN ($touches, '$convType')),
       |conv AS (SELECT user_id, event_id AS conv_id, t_us AS t_c, cents
       |         FROM base WHERE event_type = '$convType'),
       |tch AS (SELECT user_id, event_id AS touch_id, event_type AS touch_type, t_us AS t_t
       |        FROM base WHERE event_type IN ($touches)),
       |pairs AS (
       |  SELECT c.conv_id, c.cents, t.touch_id, t.touch_type, t.t_t
       |  FROM conv c JOIN tch t ON t.user_id = c.user_id
       |  WHERE t.t_t <= c.t_c AND t.t_t >= c.t_c - $horizonUs),
       |cr AS (
       |  SELECT touch_type,
       |    cents // n + CASE WHEN rk = 1 THEN cents % n ELSE 0 END AS credit_cents
       |  FROM (
       |    SELECT touch_type, cents,
       |      COUNT(*) OVER (PARTITION BY conv_id) AS n,
       |      ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY t_t, touch_id) AS rk
       |    FROM pairs)),
       |bt AS (
       |  SELECT touch_type AS credit, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(credit_cents) AS BIGINT) AS revenue_cents
       |  FROM cr GROUP BY 1),
       |nn AS (
       |  SELECT 'none' AS credit, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS revenue_cents
       |  FROM conv WHERE conv_id NOT IN (SELECT conv_id FROM pairs))
       |SELECT * FROM bt UNION ALL SELECT * FROM nn""".stripMargin
  }

  /** q159 oracle: exact per-group mode — count collapse + row_number
    * arg-max over (count DESC, value) = the engine's max(struct(c, −v)).
    */
  val brandModeSize: String =
    """SELECT p_brand, mode_size, mode_size_n FROM (
      |  SELECT p_brand, v AS mode_size, c AS mode_size_n,
      |    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY c DESC, v) AS rn
      |  FROM (SELECT p_brand, p_size AS v, CAST(COUNT(*) AS BIGINT) AS c
      |        FROM part GROUP BY 1, 2))
      |WHERE rn = 1""".stripMargin

  /** q160 oracle: Gini impurity in exact integer ppm — HUGEINT mirror of
    * the DECIMAL(38,0) chain `((n² − Σc²)·10⁶) // n²`.
    */
  val userGini: String =
    """SELECT user_id, CAST(n AS BIGINT) AS n,
      |  CAST(((CAST(n AS HUGEINT) * n - ss) * 1000000)
      |       // (CAST(n AS HUGEINT) * n) AS BIGINT) AS gini_ppm
      |FROM (
      |  SELECT user_id, SUM(c) AS n, SUM(CAST(c AS HUGEINT) * c) AS ss FROM (
      |    SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2)
      |  GROUP BY user_id)""".stripMargin

  /** q158 oracle: per-label cohesion — quantize, per-(label, dim)
    * truncated mean reassembled in dim order, exact integer L2² to the
    * label centroid, HUGEINT-carried floor mean.
    */
  val labelCohesion: String =
    s"""WITH q AS (
       |  SELECT label, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS v
       |  FROM embeddings),
       |c AS (
       |  SELECT label, list(m ORDER BY i) AS cv FROM (
       |    SELECT label, CAST(i AS INTEGER) AS i,
       |      CAST(SUM(v[CAST(i AS INTEGER)]) AS BIGINT) // COUNT(*) AS m
       |    FROM q, generate_series(1, 64) t(i) GROUP BY 1, 2)
       |  GROUP BY label),
       |d AS (SELECT q.label, ${l2sqSql("q.v", "c.cv")} AS d2
       |      FROM q JOIN c ON c.label = q.label)
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(CAST(SUM(d2) AS HUGEINT) // COUNT(*) AS BIGINT) AS mean_d2,
       |  CAST(MAX(d2) AS BIGINT) AS max_d2
       |FROM d GROUP BY label""".stripMargin

  /** q153 oracle: prototypicality gate — the trained-assignment CTE chain
    * plus the same two cluster-partitioned windows; the keep quota is
    * `GREATEST(1, keepPpm·n // 10⁶)` over exact integers, rank order
    * `(dist, vec_id)` — no float boundary anywhere.
    */
  def prototypicalityFilter(keepPpm: Long, seedMod: Int = 0, iterations: Int = 2): String =
    s"""WITH ${kmeansCtes(seedMod, iterations)},
       |pf AS (
       |  SELECT vec_id, cid AS cluster, dist,
       |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY dist, vec_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY cid) AS n
       |  FROM kma$iterations)
       |SELECT vec_id, cluster, dist,
       |  rn <= GREATEST(1, ($keepPpm * n) // 1000000) AS kept
       |FROM pf""".stripMargin

  /** q106 oracle: product-quantization ANN — one trained codebook chain
    * per subspace (the parameterized kmeans CTEs), corpus encoded as one
    * code per subspace, and the query↔vector distance reconstructed as
    * the SUM of per-subspace query→centroid distances (ADC). All-integer.
    */
  def pqTopK(queryMod: Int, k: Int, subspaces: Int = 4, iterations: Int = 2): String = {
    val sub = 64 / subspaces
    val chains = (0 until subspaces).map(s =>
      kmeansCtes(0, iterations, sub, s * sub + 1, s"pq$s"))
    val codes = (0 until subspaces)
      .map(s => s"SELECT vec_id AS neighbor_id, $s AS s, cid AS code FROM pq${s}a$iterations")
      .mkString(" UNION ALL ")
    val cents = (0 until subspaces)
      .map(s => s"SELECT $s AS s, cid, cv FROM pq${s}c$iterations")
      .mkString(" UNION ALL ")
    val qs = (0 until subspaces)
      .map(s => s"SELECT vec_id AS query_id, $s AS s, v AS qv FROM pq${s}q WHERE vec_id % $queryMod = 0")
      .mkString(" UNION ALL ")
    s"""WITH ${chains.mkString(",\n")},
       |pcodes AS ($codes),
       |pcents AS ($cents),
       |pqq AS ($qs),
       |pdist AS (
       |  SELECT query_id, s, cid, ${l2sqSql("qv", "cv", sub)} AS d
       |  FROM pqq JOIN pcents USING (s)),
       |padist AS (
       |  SELECT query_id, neighbor_id, CAST(SUM(d) AS BIGINT) AS adist
       |  FROM pcodes n JOIN pdist q ON n.s = q.s AND n.code = q.cid
       |  WHERE query_id <> neighbor_id
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, adist, "rank" FROM (
       |  SELECT query_id, neighbor_id, adist,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS INTEGER) AS "rank"
       |  FROM padist) WHERE "rank" <= $k""".stripMargin
  }

  /** q181 oracle: IVF-PQ — the q99 coarse chain (full-dim, prefix `km`)
    * gates candidates to each query's nProbe nearest cells, distances
    * reconstructed from the q106 PQ chains' codes (ADC). All-integer.
    */
  def ivfPqTopK(queryMod: Int, k: Int, nProbe: Int = 3, subspaces: Int = 4,
                iterations: Int = 2): String = {
    val sub = 64 / subspaces
    val chains = (0 until subspaces).map(s =>
      kmeansCtes(0, iterations, sub, s * sub + 1, s"pq$s"))
    val codes = (0 until subspaces)
      .map(s => s"SELECT vec_id AS neighbor_id, $s AS s, cid AS code FROM pq${s}a$iterations")
      .mkString(" UNION ALL ")
    val cents = (0 until subspaces)
      .map(s => s"SELECT $s AS s, cid, cv FROM pq${s}c$iterations")
      .mkString(" UNION ALL ")
    val qs = (0 until subspaces)
      .map(s => s"SELECT vec_id AS query_id, $s AS s, v AS qv FROM pq${s}q WHERE vec_id % $queryMod = 0")
      .mkString(" UNION ALL ")
    s"""WITH ${kmeansCtes(0, iterations)},
       |${chains.mkString(",\n")},
       |pcodes AS ($codes),
       |pcell AS (SELECT vec_id AS neighbor_id, cid AS cell FROM kma$iterations),
       |pcents AS ($cents),
       |pqq AS ($qs),
       |cprobe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cid AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${l2sqSql("q.v", "c.cv", 64)}, c.cid) AS rn
       |    FROM (SELECT vec_id, v FROM kmq WHERE vec_id % $queryMod = 0) q,
       |      kmc$iterations c) t
       |  WHERE rn <= $nProbe),
       |pdist AS (
       |  SELECT query_id, s, cid, ${l2sqSql("qv", "cv", sub)} AS d
       |  FROM pqq JOIN pcents USING (s)),
       |cand AS (
       |  SELECT p.query_id, pc.neighbor_id
       |  FROM cprobe p JOIN pcell pc USING (cell)
       |  WHERE p.query_id <> pc.neighbor_id),
       |padist AS (
       |  SELECT c.query_id, c.neighbor_id, CAST(SUM(d.d) AS BIGINT) AS adist
       |  FROM cand c
       |  JOIN pcodes n ON n.neighbor_id = c.neighbor_id
       |  JOIN pdist d ON d.query_id = c.query_id AND d.s = n.s AND d.cid = n.code
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, adist, "rank" FROM (
       |  SELECT query_id, neighbor_id, adist,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS INTEGER) AS "rank"
       |  FROM padist) WHERE "rank" <= $k""".stripMargin
  }

  /** q91 oracle: SCD2 validity intervals — consecutive-duplicate collapse
    * via lag, interval ends via lead over the change rows, (ts, event_id)
    * total order at every step.
    */
  val scd2Intervals: String =
    """WITH base AS (
      |  SELECT user_id, event_id, event_type, date_trunc('microseconds', ts) AS ts FROM events
      |), c AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM base
      |), ch AS (
      |  SELECT user_id, event_type, ts, event_id
      |  FROM c WHERE prev_type IS NULL OR prev_type <> event_type
      |)
      |SELECT user_id, event_type, ts AS valid_from,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      |FROM ch""".stripMargin

  /** Mirrors Dedup.segmentDedup over Dedup.wordChunkSegments: fixed-width
    * token chunks, drop chunks whose exact text occurs in ≥ minDf distinct
    * docs, rebuild each doc's text from survivors in original order.
    */
  def segmentDedup(chunkWords: Int, minDf: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS ts
       |  FROM documents
       |), segs AS (
       |  SELECT doc_id, i AS seg_idx,
       |    array_to_string(ts[i*$chunkWords+1 : i*$chunkWords+$chunkWords], ' ') AS seg
       |  FROM toks, UNNEST(range((len(ts) + ${chunkWords - 1}) // $chunkWords)) AS u(i)
       |  WHERE len(ts) > 0
       |), dfc AS (
       |  SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY 1
       |), flagged AS (
       |  SELECT s.doc_id, s.seg_idx, s.seg, (dfc.df < $minDf) AS keep
       |  FROM segs s JOIN dfc USING (seg)
       |), agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
       |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |    COALESCE(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY seg_idx), '') AS clean_text
       |  FROM flagged GROUP BY 1
       |)
       |SELECT d.doc_id, COALESCE(a.clean_text, '') AS clean_text,
       |  COALESCE(a.n_segments, 0) AS n_segments, COALESCE(a.n_kept, 0) AS n_kept
       |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Mirrors LangModel.scoreDocuments: add-one bigram model trained on the
    * corpus, per-doc mean ln((c12+1)/(c1+V)) rounded to 6 decimals.
    * `rel` is the corpus relation — parameterized so compositions (q110)
    * can retrain the model over a derived corpus.
    */
  def lmQuality(rel: String = "documents"): String =
    s"""WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS ts
      |  FROM $rel
      |), bg AS (
      |  SELECT doc_id, ts[i-1] AS w1, ts[i] AS w2
      |  FROM toks, UNNEST(range(2, len(ts) + 1)) AS u(i)
      |  WHERE len(ts) >= 2
      |), c12 AS (
      |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
      |), c1 AS (
      |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1
      |), v AS (
      |  SELECT COUNT(DISTINCT t) AS v FROM (SELECT unnest(ts) AS t FROM toks)
      |), scored AS (
      |  SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    ROUND(AVG(LN((c12.c12 + 1) / CAST(c1.c1 + v.v AS DOUBLE))), 6) AS avg_logprob
      |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
      |  GROUP BY 1
      |)
      |SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams, s.avg_logprob
      |FROM $rel d LEFT JOIN scored s USING (doc_id)""".stripMargin

  /** Mirrors Curation.curateClean: segment boilerplate strip (q107) →
    * retrain the bigram LM on the CLEANED corpus (q108's shape over the
    * derived relation) → keep docs at or above the log-prob gate.
    */
  def cleanLmCuration(chunkWords: Int, minDf: Int, minLogprob: Double): String =
    s"""WITH clean AS (SELECT * FROM (${segmentDedup(chunkWords, minDf)})),
       |corpus AS (SELECT doc_id, clean_text AS text FROM clean WHERE n_kept > 0),
       |scored AS (SELECT * FROM (${lmQuality("corpus")}))
       |SELECT s.doc_id, c.clean_text, c.n_kept, s.n_bigrams, s.avg_logprob
       |FROM scored s JOIN clean c USING (doc_id)
       |WHERE s.avg_logprob >= $minLogprob""".stripMargin

  /** Mirrors the q111 interval-overlap join with DuckDB's native
    * inequality join — an independent derivation of the same overlap
    * pairs (the engine side chunks + emits once per responsibility chunk;
    * any double-emit or drop breaks the count).
    */
  val intervalOverlap: String =
    """WITH o AS (
      |  SELECT o_orderkey,
      |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS o_lo,
      |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 15 AS o_hi
      |  FROM orders WHERE o_orderkey % 50 = 0
      |), i AS (
      |  SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS i_lo,
      |         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) + 1 + CAST(l_quantity AS BIGINT) % 28 AS i_hi
      |  FROM lineitem
      |), m AS (
      |  SELECT o.o_orderkey, COUNT(*) AS n
      |  FROM o JOIN i ON o.o_lo < i.i_hi AND i.i_lo < o.o_hi GROUP BY 1
      |)
      |SELECT o.o_orderkey, CAST(o.o_lo AS BIGINT) AS o_lo,
      |  CAST(COALESCE(m.n, 0) AS BIGINT) AS n_overlap
      |FROM o LEFT JOIN m USING (o_orderkey)""".stripMargin

  /** Mirrors Sampling.weightedHashSample over the stats quality score:
    * survive iff mixHash(doc_id) mod 10^6 < round(quality · 10^6).
    */
  def weightedSample(seed: Int = 0): String =
    s"""WITH st AS (SELECT doc_id, quality FROM ($textStats))
       |SELECT doc_id, quality FROM st
       |WHERE (${mixSql("doc_id", 160 + 8 * seed)}) % 1000000
       |  < CAST(ROUND(LEAST(GREATEST(quality, 0.0), 1.0) * 1000000) AS BIGINT)""".stripMargin

  /** q175 oracle: dataset card — one global aggregate over the textStats
    * relation plus the 1-row language head, unioned into the long-format
    * (metric, value) card.
    */
  val datasetCard: String =
    s"""WITH st AS (SELECT * FROM ($textStats) t),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_chars) AS BIGINT) AS nch,
       |    CAST(SUM(n_tokens) AS BIGINT) AS ntk,
       |    CAST(COUNT(DISTINCT fingerprint) AS BIGINT) AS n_unique,
       |    CAST(CAST(SUM(CAST(round(quality * 1000000) AS BIGINT)) AS HUGEINT)
       |         // COUNT(*) AS BIGINT) AS mq,
       |    CAST(COUNT(DISTINCT lang_pred) AS BIGINT) AS n_langs
       |  FROM st),
       |tl AS (SELECT lang_pred, CAST(COUNT(*) AS BIGINT) AS lang_n FROM st
       |       GROUP BY 1 ORDER BY lang_n DESC, lang_pred LIMIT 1)
       |SELECT 'n_docs' AS metric, CAST(n_docs AS VARCHAR) AS value FROM agg
       |UNION ALL SELECT 'n_chars', CAST(nch AS VARCHAR) FROM agg
       |UNION ALL SELECT 'n_tokens', CAST(ntk AS VARCHAR) FROM agg
       |UNION ALL SELECT 'exact_dup_ppm',
       |  CAST(((n_docs - n_unique) * 1000000) // n_docs AS VARCHAR) FROM agg
       |UNION ALL SELECT 'mean_quality_micro', CAST(mq AS VARCHAR) FROM agg
       |UNION ALL SELECT 'n_langs', CAST(n_langs AS VARCHAR) FROM agg
       |UNION ALL SELECT 'top_lang', lang_pred FROM tl
       |UNION ALL SELECT 'top_lang_ppm',
       |  CAST((lang_n * 1000000) // (SELECT n_docs FROM agg) AS VARCHAR) FROM tl""".stripMargin

  /** q154 oracle: epoch-weighted remix — HUGEINT mirrors of the exact
    * rational f_d = ppm_d·T / (10⁶·D_d) (the DECIMAL(38,0) twin, q117
    * policy): floor via `//`, fractional ppm via the same integral-
    * division chain, extra-copy draw = mixHash(doc_id; j) mod 10⁶.
    */
  def remixEpochs(targetPpm: Seq[(String, Long)], defaultPpm: Long,
                  j: Int = 340): String = {
    val ppmCase = "CASE " + targetPpm.map { case (s, p) =>
      s"WHEN d.source = '$s' THEN $p" }.mkString(" ") + s" ELSE $defaultPpm END"
    s"""WITH dom AS (
       |  SELECT source, CAST(SUM(n_chars) AS HUGEINT) AS dsz
       |  FROM documents GROUP BY source
       |), tot AS (SELECT CAST(SUM(n_chars) AS HUGEINT) AS tsz FROM documents),
       |b AS (
       |  SELECT d.doc_id, d.source, d.n_chars,
       |    CAST(($ppmCase) AS HUGEINT) * tot.tsz AS num,
       |    CAST(1000000 AS HUGEINT) * dom.dsz AS den
       |  FROM documents d JOIN dom ON dom.source = d.source CROSS JOIN tot
       |)
       |SELECT doc_id, source, n_chars,
       |  CAST(num // den +
       |    CASE WHEN (${mixSql("doc_id", j)}) % 1000000
       |              < ((num - (num // den) * den) * 1000000) // den
       |         THEN 1 ELSE 0 END AS BIGINT) AS n_copies
       |FROM b""".stripMargin
  }

  /** Mirrors Entities.resolveByName on part names: exact collapse →
    * df-capped token blocking → levenshtein verify → recursive transitive
    * closure (an independent algorithm from the Spark side's label
    * propagation, as in ccClusters).
    */
  def entityResolution(maxEdit: Int, maxTokenDf: Int): String =
    s"""WITH RECURSIVE base AS (
       |  SELECT p_partkey AS id, trim(lower(p_name)) AS name FROM part
       |), names AS (
       |  SELECT name, MIN(id) AS name_rep FROM base GROUP BY 1
       |), toks AS (
       |  SELECT DISTINCT name, name_rep,
       |    unnest(list_filter(string_split_regex(name, '\\s+'), t -> t <> '')) AS tok
       |  FROM names
       |), rare AS (
       |  SELECT tok FROM (SELECT tok, COUNT(*) AS df FROM toks GROUP BY 1) WHERE df <= $maxTokenDf
       |), blocked AS (
       |  SELECT t.name, t.name_rep, t.tok FROM toks t JOIN rare USING (tok)
       |), edges AS (
       |  SELECT src, dst FROM (
       |    SELECT DISTINCT a.name_rep AS src, b.name_rep AS dst, a.name AS na, b.name AS nb
       |    FROM blocked a JOIN blocked b ON a.tok = b.tok AND a.name_rep < b.name_rep
       |  ) WHERE levenshtein(na, nb) <= $maxEdit
       |), sym AS (
       |  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
       |), reach AS (
       |  SELECT name_rep AS id, name_rep AS r FROM names
       |  UNION
       |  SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src
       |), comp AS (
       |  SELECT id AS name_rep, MIN(r) AS entity_rep FROM reach GROUP BY 1
       |)
       |SELECT b.id AS p_partkey, b.name, c.entity_rep
       |FROM base b JOIN names n USING (name) JOIN comp c ON n.name_rep = c.name_rep""".stripMargin

  /** Mirrors SetSim.jaccardJoin over 3-gram shingle sets: brute-force
    * token equi-join (the oracle needs no prefix filter — only
    * co-occurring pairs can pass t > 0) with the same cross-multiplied
    * integer acceptance, so neither engine has a float boundary.
    */
  def setSimJoin(tPermille: Int, mod: Int): String =
    s"""WITH d AS (SELECT doc_id, text FROM documents
       |  WHERE length(text) >= 3 AND doc_id % $mod = 0),
       |sh AS (SELECT DISTINCT doc_id AS id, unnest(list_transform(
       |  generate_series(1, length(text) - 2),
       |  i -> substring(text, CAST(i AS INTEGER), 3))) AS tok FROM d),
       |sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
       |common AS (
       |  SELECT a.id AS ia, b.id AS ib, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM sh a JOIN sh b ON a.tok = b.tok AND a.id < b.id GROUP BY 1, 2)
       |SELECT ia AS id_a, ib AS id_b,
       |  round(CAST(c AS DOUBLE) / (na.n + nb.n - c), 6) AS jaccard
       |FROM common JOIN sizes na ON na.id = ia JOIN sizes nb ON nb.id = ib
       |WHERE 1000 * c >= $tPermille * (na.n + nb.n - c)""".stripMargin

  /** q372: setsim pruning audit — the q113 shingle/df/prefix derivation
    * with three moment aggregates instead of the join; `//` floor matches
    * the engine's integral div (all operands non-negative).
    */
  def setSimAudit(tPermille: Int, mod: Int): String =
    s"""WITH d AS (SELECT doc_id, text FROM documents
       |  WHERE length(text) >= 3 AND doc_id % $mod = 0),
       |sh AS (SELECT DISTINCT doc_id AS id, unnest(list_transform(
       |  generate_series(1, length(text) - 2),
       |  i -> substring(text, CAST(i AS INTEGER), 3))) AS tok FROM d),
       |sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
       |df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY 1),
       |ranked AS (
       |  SELECT s.id, s.tok, nn.n,
       |    ROW_NUMBER() OVER (PARTITION BY s.id ORDER BY f.df, s.tok) AS pos
       |  FROM sh s JOIN df f USING (tok) JOIN sizes nn ON nn.id = s.id),
       |pfx AS (SELECT id, tok FROM ranked
       |  WHERE pos <= n - ($tPermille * n + 999) // 1000 + 1),
       |pc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM pfx GROUP BY 1),
       |a1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM sizes),
       |a2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  COALESCE(SUM(df::HUGEINT * (df - 1)), 0) // 2 AS naive_pairs FROM df),
       |a3 AS (SELECT COALESCE(SUM(c::HUGEINT * (c - 1)), 0) // 2 AS prefix_pairs FROM pc)
       |SELECT a1.n_docs, a2.n_tokens,
       |  CAST(a2.naive_pairs AS BIGINT) AS naive_pairs,
       |  CAST(a3.prefix_pairs AS BIGINT) AS prefix_pairs,
       |  CAST(a1.n_docs::HUGEINT * (a1.n_docs - 1) // 2 AS BIGINT) AS all_pairs,
       |  CASE WHEN a1.n_docs < 2 THEN CAST(NULL AS BIGINT)
       |       ELSE CAST(a2.naive_pairs * 2000000
       |              // (a1.n_docs::HUGEINT * (a1.n_docs - 1)) AS BIGINT)
       |  END AS naive_ppm,
       |  CASE WHEN a1.n_docs < 2 THEN CAST(NULL AS BIGINT)
       |       ELSE CAST(a3.prefix_pairs * 2000000
       |              // (a1.n_docs::HUGEINT * (a1.n_docs - 1)) AS BIGINT)
       |  END AS prefix_ppm
       |FROM a1, a2, a3""".stripMargin

  /** q373: Brown–Forsythe — exact lower medians via the by-value running
    * window, integer deviations, HUGEINT moments; the per-group floor
    * ⌊S_g²·10⁶/n_g⌋ mirrors the engine's deliberate common-denominator
    * device, and the GREATEST(0, SSB·10⁶) clamp mirrors the engine's:
    * per-group floors can undershoot the total's floor by a few ppm,
    * and on a negative numerator DuckDB's flooring `//` and Spark's
    * truncating `div` would diverge.
    */
  val brownForsythe: String =
    """WITH cells AS (
      |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      |byv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS cnt
      |        FROM cells GROUP BY 1, 2),
      |cum AS (SELECT g, v, cnt,
      |          SUM(cnt) OVER (PARTITION BY g ORDER BY v) AS cum,
      |          SUM(cnt) OVER (PARTITION BY g) AS n
      |        FROM byv),
      |med AS (SELECT g, v AS med FROM cum
      |        WHERE cum - cnt < (n + 1) // 2 AND (n + 1) // 2 <= cum),
      |dev AS (SELECT c.g, abs(c.v - m.med) AS d
      |        FROM cells c JOIN med m USING (g)),
      |pg AS (SELECT g, COUNT(*)::HUGEINT AS n_g, SUM(d::HUGEINT) AS s,
      |         SUM(d::HUGEINT * d) AS s2
      |       FROM dev GROUP BY 1),
      |agg AS (SELECT COUNT(*)::HUGEINT AS k, SUM(n_g) AS n, SUM(s) AS stot,
      |          SUM(s2) AS s2tot, SUM(s * s * 1000000 // n_g) AS a
      |        FROM pg)
      |SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n_rows,
      |  CASE WHEN k < 2 OR n <= k OR s2tot * 1000000 - a = 0
      |       THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(GREATEST(0::HUGEINT, a - stot * stot * 1000000 // n)
      |              * (n - k) * 1000000
      |              // ((s2tot * 1000000 - a) * (k - 1)) AS BIGINT)
      |  END AS f_ppm
      |FROM agg""".stripMargin

  /** Mirrors Funnel.transitionCounts: per-user lead() with the event_id
    * tie-break, |types|²-bounded count aggregate, 6-decimal conditional
    * probability.
    */
  def eventTransitions: String =
    s"""WITH seq AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS to_type
       |  FROM events),
       |c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
       |SELECT from_type, to_type, n,
       |  round(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
       |FROM c""".stripMargin

  /** Mirrors Skyline.skyline2D on parts as the NAIVE quadratic
    * NOT-EXISTS dominance — an independent formulation of the same
    * skyline, fine at oracle scale.
    */
  def skylineParts: String =
    s"""WITH p AS (SELECT p_partkey,
       |  CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents, p_size
       |  FROM part)
       |SELECT p_partkey, price_cents, p_size FROM p r
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM p s
       |  WHERE s.price_cents <= r.price_cents AND s.p_size <= r.p_size
       |    AND (s.price_cents < r.price_cents OR s.p_size < r.p_size))""".stripMargin

  /** [[docPacking]] with [[bpeTokenCounts]] as the token source — the
    * pack-by-the-real-tokenizer composition.
    */
  def bpePacking(nMerges: Int, budget: Long, nBuckets: Int): String =
    s"""WITH st AS (SELECT doc_id, n_tokens FROM (${bpeTokenCounts(nMerges)})),
       |b AS (SELECT doc_id, n_tokens, doc_id % $nBuckets AS bucket FROM st),
       |c AS (
       |  SELECT doc_id, bucket, n_tokens,
       |    SUM(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY bucket ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM b
       |)
       |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       |  CAST((cum - n_tokens) // $budget AS BIGINT) AS pack_seq, n_tokens
       |FROM c""".stripMargin

  /** Mirrors Sampling.negativePairs over embeddings: k unrolled hash
    * draws per anchor (family block 320+), mod the broadcast corpus
    * count, self-collisions dropped.
    */
  def negativePairs(k: Int): String = {
    val draws = (0 until k).map { j =>
      s"""  SELECT vec_id AS anchor_id, CAST($j AS INTEGER) AS neg_idx,
         |    (${mixSql("vec_id", 320 + j)}) % n AS partner_id
         |  FROM embeddings, nrow""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH nrow AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
       |pairs AS (
       |$draws
       |)
       |SELECT anchor_id, neg_idx, partner_id FROM pairs
       |WHERE partner_id <> anchor_id""".stripMargin
  }

  /** Mirrors Similarity.hardNegatives: the near-dup pair set (the q24
    * derivation, symmetrized) excluded from the brute-force scored pairs
    * via NOT EXISTS, then the q18 rank tail.
    */
  def hardNegatives(mod: Int, k: Int, threshold: Double, dim: Int,
                    nPlanes: Int): String =
    // v feeds both sides of the bucket self-join and nd feeds both
    // orientations of ndsym — MATERIALIZED stops per-reference inlining
    // from re-deriving them (the q141 lesson; at sf0.1 the duplicated
    // near-dup arm pushed the oracle child past its memory cap)
    s"""WITH v AS MATERIALIZED (SELECT vec_id, embedding, ${lshBucketSql("embedding", dim, nPlanes)} AS bucket FROM embeddings),
       |ndp AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS av, b.embedding AS bv
       |        FROM v a JOIN v b ON a.bucket = b.bucket WHERE a.vec_id < b.vec_id),
       |nddots AS MATERIALIZED (
       |  SELECT id_a, id_b,
       |    SUM(CAST(av[CAST(i AS INTEGER)] AS DOUBLE) * CAST(bv[CAST(i AS INTEGER)] AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(CAST(av[CAST(i AS INTEGER)] AS DOUBLE) * CAST(av[CAST(i AS INTEGER)] AS DOUBLE) ORDER BY i) AS qq,
       |    SUM(CAST(bv[CAST(i AS INTEGER)] AS DOUBLE) * CAST(bv[CAST(i AS INTEGER)] AS DOUBLE) ORDER BY i) AS cc
       |  FROM ndp, generate_series(1, 64) t(i) GROUP BY 1, 2),
       |nd AS MATERIALIZED (
       |  SELECT id_a, id_b FROM nddots
       |  WHERE round(CASE WHEN sqrt(qq) * sqrt(cc) = 0 THEN 0.0
       |              ELSE dp / (sqrt(qq) * sqrt(cc)) END, 6) >= $threshold),
       |ndsym AS MATERIALIZED (SELECT id_a AS query_id, id_b AS neighbor_id FROM nd
       |          UNION ALL SELECT id_b, id_a FROM nd),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % $mod = 0),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       |p AS (SELECT query_id, neighbor_id, qv, cv FROM q, c
       |      WHERE query_id <> neighbor_id
       |        AND NOT EXISTS (SELECT 1 FROM ndsym s
       |                        WHERE s.query_id = q.query_id
       |                          AND s.neighbor_id = c.neighbor_id)),
       |$dotsCte,
       |${rankTail(k)}""".stripMargin

  /** [[hllRegisters]] grouped by (hour, event_type) — the oracle for the
    * batch twin of the streaming hourly sketch.
    */
  def hllRegistersHourly(log2m: Int): String = {
    val m = 1 << log2m
    val wBits = 31 - log2m
    val h = mixSql("user_id", ext.Sketch.HllJ)
    s"""WITH h AS (SELECT date_trunc('hour', ts) AS hour, event_type, ($h) AS h
       |  FROM events)
       |SELECT hour, event_type, CAST(h % $m AS INTEGER) AS bucket,
       |  CAST(MAX(CASE WHEN h // $m = 0 THEN ${wBits + 1}
       |               ELSE ${wBits + 1} - length(bin(h // $m)) END) AS INTEGER) AS reg
       |FROM h GROUP BY 1, 2, 3""".stripMargin
  }

  /** Mirrors Sketch.mergeRegisters(q118 hourly → daily): the oracle
    * builds the DAILY registers DIRECTLY from raw events — the engine
    * merges the hourly table with `max` — so an exact hash match proves
    * the HLL merge law (max over hour-sketches ≡ sketch of the day's
    * union) on real data, not just algebra.
    */
  def hllRegistersDaily(log2m: Int): String = {
    val m = 1 << log2m
    val wBits = 31 - log2m
    val h = mixSql("user_id", ext.Sketch.HllJ)
    s"""WITH h AS (SELECT CAST(ts AS DATE) AS day, event_type, ($h) AS h
       |  FROM events)
       |SELECT day, event_type, CAST(h % $m AS INTEGER) AS bucket,
       |  CAST(MAX(CASE WHEN h // $m = 0 THEN ${wBits + 1}
       |               ELSE ${wBits + 1} - length(bin(h // $m)) END) AS INTEGER) AS reg
       |FROM h GROUP BY 1, 2, 3""".stripMargin
  }

  /** Mirrors Sketch.kmvMerge(hourly kmvRegisters → daily): like
    * [[hllRegistersDaily]], the oracle builds the DAILY bottom-k registers
    * DIRECTLY from raw events — the engine merges the hourly table — so an
    * exact hash match proves the KMV merge law (bottom-k of the union of
    * hourly register sets ≡ bottom-k of the day's distinct set) on real
    * data. mixHash is a bijection below P, so DISTINCT over (day, type,
    * h) ≡ distinct over keys.
    */
  def kmvRegistersDaily(k: Int): String = {
    val h = mixSql("user_id", ext.Sketch.KmvJ)
    s"""WITH h AS (SELECT DISTINCT CAST(ts AS DATE) AS day, event_type, ($h) AS h
       |  FROM events),
       |r AS (SELECT day, event_type, h,
       |  ROW_NUMBER() OVER (PARTITION BY day, event_type ORDER BY h) AS rk FROM h)
       |SELECT day, event_type, CAST(rk AS INTEGER) AS "rank", h
       |FROM r WHERE rk <= $k""".stripMargin
  }

  /** Mirrors Sketch.kmvOverlap over per-event_type distinct-user KMV
    * sketches: bottom-k per group, pairwise union of register sets,
    * bottom-k of that union, then the all-integer estimators — union via
    * `(k−1)·P // kth`, intersection via round-half-up integer division,
    * Jaccard as ONE exact-integer division rounded to 6 decimals. Exact
    * (not estimated) whenever the merged set fits below k, same CASE as
    * the engine.
    */
  def kmvOverlap(k: Int): String = {
    val p = ext.Dedup.MinHashP
    val h = mixSql("user_id", ext.Sketch.KmvJ)
    s"""WITH h AS (SELECT DISTINCT event_type, ($h) AS h FROM events),
       |r AS (SELECT event_type, h,
       |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM h),
       |reg AS (SELECT event_type, h FROM r WHERE rk <= $k),
       |gs AS (SELECT DISTINCT event_type FROM reg),
       |pairs AS (SELECT a.event_type AS ga, b.event_type AS gb
       |  FROM gs a JOIN gs b ON a.event_type < b.event_type),
       |u AS (SELECT ga, gb, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
       |    SELECT p.ga, p.gb, r2.h, 1 AS in_a, 0 AS in_b
       |    FROM pairs p JOIN reg r2 ON r2.event_type = p.ga
       |    UNION ALL
       |    SELECT p.ga, p.gb, r2.h, 0 AS in_a, 1 AS in_b
       |    FROM pairs p JOIN reg r2 ON r2.event_type = p.gb
       |  ) t GROUP BY 1, 2, 3),
       |m AS (SELECT ga, gb, h, in_a, in_b,
       |  ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rk FROM u),
       |s AS (SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS n_merged, MAX(h) AS kth,
       |    CAST(SUM(in_a * in_b) AS BIGINT) AS both_n
       |  FROM m WHERE rk <= $k GROUP BY 1, 2),
       |f AS (SELECT ga, gb, n_merged, both_n,
       |    CASE WHEN n_merged < $k THEN n_merged
       |         ELSE CAST(${k - 1} AS BIGINT) * $p // greatest(kth, CAST(1 AS BIGINT)) END AS union_est
       |  FROM s)
       |SELECT ga AS group_a, gb AS group_b, CAST(n_merged AS INTEGER) AS k_used,
       |  both_n, union_est,
       |  CASE WHEN n_merged < $k THEN both_n
       |       ELSE (2 * both_n * union_est + $k) // ${2 * k} END AS inter_est,
       |  round(CAST(both_n AS DOUBLE) / CAST(n_merged AS DOUBLE), 6) AS jaccard
       |FROM f""".stripMargin
  }

  /** Mirrors Sampling.sampleExactN over documents by source: winners are
    * the n smallest mixHash(doc_id) per source (hash order = uniform
    * permutation), full rows joined back — same rank-prefix derivation in
    * SQL.
    */
  def exactNSample(n: Int, j: Int): String = {
    val h = mixSql("doc_id", j)
    s"""WITH r AS (SELECT doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY ($h)) AS rk
       |  FROM documents)
       |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
       |FROM documents d JOIN r USING (doc_id) WHERE r.rk <= $n""".stripMargin
  }

  /** q174 oracle: balanced eval set — global quality quintiles from the
    * exact cume-ppm chain, cells = lang × quintile, winners = bottom-5 of
    * the member-250 hash order per cell (the q128 rule).
    */
  def evalSet(n: Int, j: Int = 250): String = {
    val h = mixSql("doc_id", j)
    s"""WITH st AS (SELECT doc_id, quality FROM ($textStats) t),
       |wl AS (
       |  SELECT s.doc_id, d.lang, s.quality
       |  FROM st s JOIN documents d ON d.doc_id = s.doc_id),
       |r AS (
       |  SELECT value,
       |    CAST((CAST(cum AS HUGEINT) * 1000000) // nn AS BIGINT) AS cume_ppm
       |  FROM (
       |    SELECT value, SUM(cnt) OVER (ORDER BY value) AS cum,
       |      SUM(cnt) OVER () AS nn
       |    FROM (SELECT quality AS value, CAST(COUNT(*) AS BIGINT) AS cnt
       |          FROM wl GROUP BY 1))),
       |c AS (
       |  SELECT wl.doc_id, wl.lang,
       |    ((r.cume_ppm - 1) * 5) // 1000000 AS q_bucket,
       |    wl.lang || '|' || CAST(((r.cume_ppm - 1) * 5) // 1000000 AS VARCHAR) AS cell
       |  FROM wl JOIN r ON r.value = wl.quality),
       |w AS (
       |  SELECT doc_id, lang, q_bucket, cell,
       |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY ($h)) AS rn
       |  FROM c)
       |SELECT doc_id, lang, q_bucket, cell FROM w WHERE rn <= $n""".stripMargin
  }

  /** Mirrors operators.CdcMerge over the customer snapshot with the
    * orders-derived changelog: same last-writer window (seq DESC, op
    * DESC), same D-drop / upsert-image semantics, base rows surviving via
    * NOT EXISTS.
    */
  val cdcMerge: String =
    """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
      |log AS (
      |  SELECT c.c_custkey, c.c_name, o.o_totalprice AS c_acctbal,
      |         o.o_orderkey AS seq,
      |         CASE WHEN o.o_orderstatus = 'P' THEN 'D'
      |              WHEN o.o_orderstatus = 'F' THEN 'U' ELSE 'I' END AS op
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |latest AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
      |    ORDER BY seq DESC, op DESC) AS rn FROM log),
      |l1 AS (SELECT * FROM latest WHERE rn = 1)
      |SELECT b.c_custkey, b.c_name, b.c_acctbal FROM base b
      |WHERE NOT EXISTS (SELECT 1 FROM l1 WHERE l1.c_custkey = b.c_custkey)
      |UNION ALL
      |SELECT c_custkey, c_name, c_acctbal FROM l1 WHERE op <> 'D'""".stripMargin

  /** Mirrors Sampling.sampledQuantiles over documents(n_chars) by source:
    * the coordinated bottom-k id-hash sample, then nearest-rank (floor)
    * quantiles over the sample — rank index `((m−1)·p) // 100 + 1`, ties
    * broken by the hash. All-integer index arithmetic, exact values.
    */
  def sampledQuantiles(k: Int, j: Int, percentiles: Seq[Int]): String = {
    val h = mixSql("doc_id", j)
    s"""WITH r AS (SELECT source, ($h) AS h, n_chars AS value FROM documents),
       |b AS (SELECT source, h, value,
       |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS hrk FROM r),
       |s AS (SELECT source, h, value FROM b WHERE hrk <= $k),
       |o AS (SELECT source, value,
       |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY value, h) AS rn,
       |  COUNT(*) OVER (PARTITION BY source) AS m FROM s),
       |p AS (SELECT unnest([${percentiles.mkString(", ")}]) AS p)
       |SELECT o.source, p.p, o.value AS q_value, CAST(o.m AS INTEGER) AS sample_n
       |FROM o CROSS JOIN p WHERE o.rn = ((o.m - 1) * p.p) // 100 + 1""".stripMargin
  }

  /** Mirrors Dedup.incrementalAssign over a deterministic corpus split
    * (`doc_id % 10 < 8` = existing index, rest = new batch): both sides
    * run the full shingle→sig→band chain (suffix-parameterized CTE names),
    * the index collapses to its (band, key, min doc_id) bucket table, and
    * each batch doc takes the smallest matching bucket rep or itself.
    */
  def incrementalAssign(k: Int, rowsPerBand: Int): String = {
    val nBands = k / rowsPerBand
    val mins = (0 until k).map(j =>
      s"MIN((${Dedup.hashA(j)} * x + ${Dedup.hashB(j)}) % ${Dedup.MinHashP}) AS h$j").mkString(", ")
    val keyList = (0 until nBands).map { b =>
      ((b * rowsPerBand) until ((b + 1) * rowsPerBand))
        .map(j => s"CAST(h$j AS VARCHAR)").mkString(" || '_' || ")
    }.mkString("[", ", ", "]")
    def chain(sfx: String, where: String): String =
      s"""d$sfx AS (SELECT doc_id, text FROM documents WHERE length(text) >= 3 AND $where),
         |sh$sfx AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, length(text) - 2), i -> substring(text, CAST(i AS INTEGER), 3))) AS s FROM d$sfx),
         |enc$sfx AS (SELECT doc_id, ${encodeShingle3Sql(n => s"substring(s, $n, 1)")} AS x FROM sh$sfx),
         |sig$sfx AS (SELECT doc_id, $mins FROM enc$sfx GROUP BY doc_id),
         |keyed$sfx AS (SELECT doc_id, $keyList AS keys FROM sig$sfx),
         |banded$sfx AS (SELECT doc_id, keys, unnest(generate_series(0, ${nBands - 1})) AS band FROM keyed$sfx),
         |b$sfx AS (SELECT doc_id, band, keys[band + 1] AS bkey FROM banded$sfx)""".stripMargin
    s"""WITH ${chain("i", "doc_id % 10 < 8")},
       |${chain("n", "doc_id % 10 >= 8")},
       |bucket AS (SELECT band, bkey, MIN(doc_id) AS bucket_rep FROM bi GROUP BY 1, 2),
       |m AS (
       |  SELECT a.doc_id, MIN(bucket.bucket_rep) AS matched_rep
       |  FROM bn a LEFT JOIN bucket USING (band, bkey) GROUP BY 1)
       |SELECT b.doc_id,
       |  COALESCE(m.matched_rep, b.doc_id) AS assigned_rep,
       |  m.matched_rep IS NULL AS is_novel
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) b
       |LEFT JOIN m USING (doc_id)""".stripMargin
  }

  /** Mirrors Funnel.dwellTimes: per-user lead over (epoch µs, event_id),
    * open last intervals dropped, all-integer totals and floor-division
    * mean per event type.
    */
  val dwellTimes: String =
    """WITH iv AS (
      |  SELECT event_type,
      |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |      - epoch_us(ts) AS dwell_us
      |  FROM events),
      |g AS (SELECT event_type, COUNT(*) AS n_intervals,
      |        CAST(SUM(dwell_us) AS BIGINT) AS total_dwell_us
      |      FROM iv WHERE dwell_us IS NOT NULL GROUP BY 1)
      |SELECT event_type, n_intervals, total_dwell_us,
      |  total_dwell_us // n_intervals AS mean_dwell_us FROM g""".stripMargin

  /** Mirrors Funnel.conversionLagHistogram: the strict stage chain (each
    * stage's min time strictly after the previous stage's), final−first
    * lag floor-divided into hours.
    */
  def conversionLagHistogram(stages: Seq[String]): String = {
    val chain = stages.zipWithIndex.tail.map { case (st, i) =>
      s"""s$i AS (
         |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
         |  FROM events e JOIN s${i - 1} p ON e.user_id = p.user_id
         |  WHERE e.event_type = '$st' AND epoch_us(e.ts) > p.t
         |  GROUP BY 1)""".stripMargin
    }
    val n = stages.size - 1
    s"""WITH s0 AS (
       |  SELECT user_id, MIN(epoch_us(ts)) AS t FROM events
       |  WHERE event_type = '${stages.head}' GROUP BY 1
       |), ${chain.mkString(", ")}
       |SELECT (s$n.t - s0.t) // 3600000000 AS lag_hours,
       |  CAST(COUNT(*) AS BIGINT) AS users
       |FROM s$n JOIN s0 USING (user_id) GROUP BY 1""".stripMargin
  }

  /** Mirrors Funnel.sessionPaths: gap-based sessionization via a lag +
    * running-sum window over `(epoch µs, event_id)`, ordered-list path
    * prefix, count per path, `(sessions DESC, path)` top-k.
    */
  def sessionPaths(gapUs: Long, maxLen: Int, k: Int): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us
       |  FROM events),
       |b AS (
       |  SELECT *, CASE WHEN t_us - lag(t_us) OVER
       |      (PARTITION BY user_id ORDER BY t_us, event_id) <= $gapUs
       |    THEN 0 ELSE 1 END AS new_session
       |  FROM e),
       |s AS (
       |  SELECT *, SUM(new_session) OVER
       |      (PARTITION BY user_id ORDER BY t_us, event_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session
       |  FROM b),
       |p AS (
       |  SELECT array_to_string(
       |      list_slice(list(event_type ORDER BY t_us, event_id), 1, $maxLen),
       |      '>') AS path
       |  FROM s GROUP BY user_id, session)
       |SELECT path, COUNT(*) AS sessions FROM p GROUP BY path
       |ORDER BY sessions DESC, path LIMIT $k""".stripMargin

  /** Mirrors Funnel.sessionNgrams: the sessionPaths windows, ordered
    * per-session type lists, contiguous n-gram fan-out via the scalar
    * range list (empty below length n), occurrence + distinct-session
    * support counts, `(occurrences DESC, gram)` top-k.
    */
  def sessionNgrams(n: Int, k: Int, gapUs: Long): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us
       |  FROM events),
       |b AS (
       |  SELECT *, CASE WHEN t_us - lag(t_us) OVER
       |      (PARTITION BY user_id ORDER BY t_us, event_id) <= $gapUs
       |    THEN 0 ELSE 1 END AS new_session
       |  FROM e),
       |s AS (
       |  SELECT *, SUM(new_session) OVER
       |      (PARTITION BY user_id ORDER BY t_us, event_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session
       |  FROM b),
       |seq AS (
       |  SELECT user_id, session,
       |    list(event_type ORDER BY t_us, event_id) AS types
       |  FROM s GROUP BY user_id, session),
       |g AS (
       |  SELECT user_id, session, unnest(
       |    CASE WHEN len(types) >= $n THEN
       |      list_transform(range(1, len(types) - ${n - 1} + 1), i ->
       |        array_to_string(types[i : i + ${n - 1}], '>'))
       |    ELSE [] END) AS gram
       |  FROM seq),
       |occ AS (SELECT gram, COUNT(*) AS occurrences FROM g GROUP BY gram),
       |sup AS (SELECT gram, COUNT(*) AS sessions FROM (
       |  SELECT DISTINCT gram, user_id, session FROM g) GROUP BY gram)
       |SELECT gram, occurrences, sessions FROM occ JOIN sup USING (gram)
       |ORDER BY occurrences DESC, gram LIMIT $k""".stripMargin

  /** Mirrors Funnel.lastTouchAttribution: running IGNORE NULLS last_value
    * over the (user, t, id) window, horizon check, cents aggregation.
    */
  def lastTouchAttribution(touchTypes: Seq[String], convType: String,
                           horizonUs: Long): String = {
    val touches = touchTypes.map(t => s"'$t'").mkString(", ")
    val wdef = "OVER (PARTITION BY user_id ORDER BY t_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us,
       |         CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events WHERE event_type IN ($touches, '$convType')),
       |w AS (
       |  SELECT *,
       |    last_value(CASE WHEN event_type IN ($touches) THEN event_type END IGNORE NULLS) $wdef AS touch_type,
       |    last_value(CASE WHEN event_type IN ($touches) THEN t_us END IGNORE NULLS) $wdef AS touch_us
       |  FROM e)
       |SELECT CASE WHEN touch_us IS NULL OR t_us - touch_us > $horizonUs
       |         THEN 'none' ELSE touch_type END AS credit,
       |  COUNT(*) AS n_conversions, CAST(SUM(cents) AS BIGINT) AS revenue_cents
       |FROM w WHERE event_type = '$convType' GROUP BY 1""".stripMargin
  }

  /** Single-query brute-force cosine ranking (the q122 semantic arm),
    * parenthesized for embedding as a derived table.
    */
  private def cosineTopKOne(qid: Long, k: Int): String =
    s"""(WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id = $qid),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       |p AS (SELECT query_id, neighbor_id, qv, cv FROM q, c WHERE query_id <> neighbor_id),
       |$dotsCte,
       |${rankTail(k)})""".stripMargin

  /** Mirrors Search.rrfFuse over the BM25 lexical arm and the cosine
    * semantic arm: per-arm contributions are `1000000 // (c + rank)` —
    * BIGINT-exact integer division in both engines — summed per doc.
    * The arms re-use the q85/q18 oracle derivations verbatim as derived
    * tables (nested WITH, which DuckDB scopes per subquery).
    */
  def rrfFusion(queryTokens: Seq[String], qid: Long, armK: Int, k: Int,
                c: Int): String =
    s"""WITH lex AS (SELECT doc_id, "rank" AS r FROM (${bm25TopK(queryTokens, armK, 1.2, 0.75)}) t),
       |sem AS (SELECT neighbor_id AS doc_id, "rank" AS r FROM ${cosineTopKOne(qid, armK)} t),
       |u AS (
       |  SELECT doc_id, CAST(1000000 AS BIGINT) // ($c + CAST(r AS BIGINT)) AS contrib FROM lex
       |  UNION ALL
       |  SELECT doc_id, CAST(1000000 AS BIGINT) // ($c + CAST(r AS BIGINT)) AS contrib FROM sem
       |), f AS (
       |  SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS rrf FROM u GROUP BY 1
       |)
       |SELECT doc_id, rrf,
       |  CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS "rank"
       |FROM f ORDER BY rrf DESC, doc_id LIMIT $k""".stripMargin

  /** Mirrors Graph.associationRules over order baskets: exact BIGINT
    * support counts; confidence and lift are each ONE division of exact
    * integer products rounded to 6 decimals — same expression shape as
    * the engine, so the doubles are bit-identical.
    */
  def assocRules(minPairs: Long): String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
       |), ng AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS n_groups FROM items),
       |pairs AS (
       |  SELECT a.item AS antecedent, b.item AS consequent,
       |    CAST(COUNT(*) AS BIGINT) AS pair_n
       |  FROM items a JOIN items b USING (g)
       |  WHERE a.item <> b.item
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= $minPairs
       |), ic AS (
       |  SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM items GROUP BY 1
       |)
       |SELECT antecedent, consequent, pair_n,
       |  ia.n AS ante_n, ic2.n AS cons_n,
       |  round(CAST(pair_n AS DOUBLE) / CAST(ia.n AS DOUBLE), 6) AS confidence,
       |  round(CAST(pair_n * n_groups AS DOUBLE) / CAST(ia.n * ic2.n AS DOUBLE), 6) AS lift
       |FROM pairs
       |JOIN ic ia ON ia.item = antecedent
       |JOIN ic ic2 ON ic2.item = consequent
       |CROSS JOIN ng""".stripMargin

  /** Mirrors Funnel.retentionCohorts over events: distinct (user, day)
    * activity, min-day cohorts, day-offset matrix; the retention rate is
    * one exact-integer division rounded to 6 decimals.
    */
  val retentionCohorts: String =
    """WITH activity AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |), first_day AS (
      |  SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY 1
      |), sizes AS (
      |  SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_n FROM first_day GROUP BY 1
      |), matrix AS (
      |  SELECT cohort_day, datediff('day', cohort_day, day) AS day_offset,
      |    CAST(COUNT(*) AS BIGINT) AS active_n
      |  FROM activity JOIN first_day USING (user_id)
      |  GROUP BY 1, 2
      |)
      |SELECT cohort_day, CAST(day_offset AS INTEGER) AS day_offset, active_n,
      |  cohort_n, round(CAST(active_n AS DOUBLE) / CAST(cohort_n AS DOUBLE), 6) AS retention
      |FROM matrix JOIN sizes USING (cohort_day)""".stripMargin

  /** Mirrors TimeSeries.groupTrend over daily brand revenue: identical
    * integer daily units (DECIMAL money × 10⁴ → BIGINT), HUGEINT normal
    * equations (the engine's DECIMAL(38,0)), and the same INTEGER
    * half-away rounding to micro units — the only doubles are exact
    * micro counts divided by 10⁶, so no float `round` in either engine.
    * DuckDB lateral alias reuse lets each step reference the previous.
    */
  def brandTrend: String =
    s"""WITH daily AS (
       |  SELECT p_brand,
       |    datediff('day', DATE '1970-01-01', l_shipdate) AS day,
       |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       |      * CAST(1 - l_discount AS DECIMAL(18,2)) * 10000 AS BIGINT)) AS rev
       |  FROM lineitem JOIN part ON p_partkey = l_partkey
       |  GROUP BY 1, 2),
       |s AS (
       |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
       |    SUM(CAST(day AS HUGEINT)) AS sx, SUM(CAST(rev AS HUGEINT)) AS sy,
       |    SUM(CAST(day AS HUGEINT) * day) AS sxx,
       |    SUM(CAST(day AS HUGEINT) * rev) AS sxy
       |  FROM daily GROUP BY 1),
       |t AS (
       |  SELECT p_brand, n, sx, sy,
       |    n * sxx - sx * sx AS den, n * sxy - sx * sy AS num
       |  FROM s),
       |u AS (
       |  SELECT p_brand, n, sx, sy,
       |    CASE WHEN den > 0 THEN
       |      CASE WHEN num >= 0 THEN (2000000 * num + den) // (2 * den)
       |           ELSE -((2000000 * (-num) + den) // (2 * den)) END
       |    END AS slope_u
       |  FROM t),
       |v AS (
       |  SELECT p_brand, n, slope_u,
       |    1000000 * sy - slope_u * sx AS inum
       |  FROM u)
       |SELECT p_brand, n,
       |  CAST(slope_u AS DOUBLE) / 1000000 AS slope,
       |  CAST(CASE WHEN slope_u IS NOT NULL THEN
       |    CASE WHEN inum >= 0 THEN (2 * inum + n) // (2 * n)
       |         ELSE -((2 * (-inum) + n) // (2 * n)) END
       |  END AS DOUBLE) / 1000000 AS intercept
       |FROM v""".stripMargin

  /** Mirrors TimeSeries.groupCorr on lineitem: exact HUGEINT second
    * moments per (returnflag, linestatus), r from the identical integers
    * at the double boundary, 6-decimal round.
    */
  def metricCorr: String = {
    def rExpr(sy: String, syy: String, sxy: String): String =
      s"""CASE WHEN (n * sxx - sx * sx) > 0 AND (n * $syy - $sy * $sy) > 0 THEN
         |    round(CAST(n * $sxy - sx * $sy AS DOUBLE) /
         |      (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
         |       sqrt(CAST(n * $syy - $sy * $sy AS DOUBLE))), 6)
         |  END""".stripMargin
    s"""WITH b AS (
       |  SELECT l_returnflag, l_linestatus,
       |    CAST(round(l_quantity) AS BIGINT) AS x,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y0,
       |    CAST(round(l_discount * 10000) AS BIGINT) AS y1
       |  FROM lineitem),
       |s AS (
       |  SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS HUGEINT) AS n,
       |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(x AS HUGEINT) * x) AS sxx,
       |    SUM(CAST(y0 AS HUGEINT)) AS sy0, SUM(CAST(y0 AS HUGEINT) * y0) AS syy0,
       |    SUM(CAST(x AS HUGEINT) * y0) AS sxy0,
       |    SUM(CAST(y1 AS HUGEINT)) AS sy1, SUM(CAST(y1 AS HUGEINT) * y1) AS syy1,
       |    SUM(CAST(x AS HUGEINT) * y1) AS sxy1
       |  FROM b GROUP BY 1, 2)
       |SELECT l_returnflag, l_linestatus, CAST(n AS BIGINT) AS n,
       |  ${rExpr("sy0", "syy0", "sxy0")} AS corr_price_cents,
       |  ${rExpr("sy1", "syy1", "sxy1")} AS corr_disc_bp
       |FROM s""".stripMargin
  }

  /** Mirrors Sketch.bitmapIndex ∘ bitmapOverlap on brand⇄customer: the
    * oracle counts the distinct shared-customer SET directly — proving the
    * packed-word popcount path computes the true intersection size.
    */
  def bitmapOverlap: String =
    s"""WITH bc AS (
       |  SELECT DISTINCT p_brand AS g, o_custkey AS c
       |  FROM lineitem
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN part ON p_partkey = l_partkey)
       |SELECT a.g AS group_a, b.g AS group_b, CAST(COUNT(*) AS BIGINT) AS overlap
       |FROM bc a JOIN bc b ON a.c = b.c AND a.g < b.g
       |GROUP BY 1, 2""".stripMargin

  /** Mirrors Dedup.winnowOverlapPairs: per-char codepoints via the same
    * empty-pattern split (identical to Spark's `split(text, "")` on the
    * ASCII corpus), positional 3-gram codes through mixHash members
    * (400, 401), window minima by 1-based inclusive list slices, then the
    * df-capped fingerprint self-join.
    */
  def winnowOverlap(w: Int, minShared: Long, maxDfPpm: Long,
                    sampleMod: Int): String = {
    val code = "cps[CAST(i AS INTEGER)] * 65536 + " +
      "cps[CAST(i AS INTEGER) + 1] * 256 + cps[CAST(i AS INTEGER) + 2]"
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % $sampleMod = 0),
       |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
       |ch AS (
       |  SELECT doc_id,
       |    list_transform(string_split_regex(text, ''),
       |      c -> CAST(ascii(c) AS BIGINT)) AS cps
       |  FROM d),
       |hs AS (
       |  SELECT doc_id, CASE WHEN len(cps) >= 3 THEN
       |      list_transform(generate_series(1, len(cps) - 2),
       |        i -> ${mixSql(s"($code)", ext.Dedup.WinnowJ)})
       |    ELSE CAST([] AS BIGINT[]) END AS hs
       |  FROM ch),
       |fps AS (
       |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(hs) >= $w THEN
       |      list_transform(generate_series(1, len(hs) - ${w - 1}),
       |        j -> list_min(hs[CAST(j AS INTEGER):CAST(j AS INTEGER) + ${w - 1}]))
       |    ELSE CAST([] AS BIGINT[]) END) AS fp
       |  FROM hs),
       |rare AS (
       |  SELECT fp FROM (SELECT fp, COUNT(*) AS c FROM fps GROUP BY 1) t, nd
       |  WHERE c <= GREATEST(2, (n * $maxDfPpm) // 1000000)),
       |k AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(COUNT(*) AS BIGINT) AS shared
       |FROM k a JOIN k b USING (fp)
       |WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING COUNT(*) >= $minShared""".stripMargin
  }

  /** Mirrors Sampling.temperatureSample over documents(lang): corrected
    * exact isqrt, the same two-step integral divisions (target from the
    * root share, then ppm from the stratum size), the member-390 draw.
    */
  def temperatureSample(budget: Long): String =
    s"""WITH sz AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1),
       |rt AS (
       |  SELECT lang, n,
       |    CASE WHEN (s0 + 1) * (s0 + 1) <= n THEN s0 + 1
       |         WHEN s0 * s0 > n THEN s0 - 1 ELSE s0 END AS s
       |  FROM (SELECT lang, n,
       |          CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s0 FROM sz)),
       |tt AS (SELECT CAST(SUM(s) AS BIGINT) AS st FROM rt),
       |rates AS (
       |  SELECT lang,
       |    CAST(LEAST(1000000, ((($budget * s) // st) * 1000000) // n) AS BIGINT)
       |      AS keep_ppm
       |  FROM rt, tt)
       |SELECT d.doc_id, d.lang, r.keep_ppm,
       |  ((${mixSql("d.doc_id", ext.Sampling.TemperatureJ)}) % 1000000) < r.keep_ppm
       |    AS kept
       |FROM documents d JOIN rates r USING (lang)""".stripMargin

  /** Mirrors Clustering.kCenterGreedy over embeddings: the same quantized
    * corpus, then k−1 unrolled greedy rounds — the chosen set as a UNION
    * ALL chain, per-point min-L2² against it, arg-max by
    * (d DESC, vec_id) LIMIT 1 (the struct tie rule), seed = min vec_id.
    */
  def kCenterGreedy(k: Int): String = {
    val rounds = (1 until k).map { r =>
      val ch = (0 until r).map(i => s"SELECT v FROM s$i").mkString(" UNION ALL ")
      s"""m$r AS (
         |  SELECT q.vec_id, q.v, MIN(${l2sqSql("q.v", "c.v")}) AS d
         |  FROM q, ($ch) c GROUP BY q.vec_id, q.v),
         |s$r AS (
         |  SELECT CAST($r AS BIGINT) AS sel_rank, vec_id, d AS dist_sq, v
         |  FROM m$r ORDER BY d DESC, vec_id LIMIT 1)""".stripMargin
    }
    val all = (0 until k)
      .map(i => s"SELECT sel_rank, vec_id, dist_sq FROM s$i")
      .mkString("\nUNION ALL ")
    s"""WITH q AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS v
       |  FROM embeddings),
       |s0 AS (
       |  SELECT CAST(0 AS BIGINT) AS sel_rank, vec_id,
       |    CAST(0 AS BIGINT) AS dist_sq, v
       |  FROM q ORDER BY vec_id LIMIT 1),
       |${rounds.mkString(",\n")}
       |$all""".stripMargin
  }

  /** Mirrors Funnel.matchPattern(view → purchase, no intervening error):
    * the same packed `t_us·10⁹ + event_id` key (HUGEINT where Spark
    * carries DECIMAL(38,0)), frame-bounded suffix MINs over the identical
    * (t_us, event_id) order, identical horizon/negation gates.
    */
  def patternMatch(startType: String, endType: String, absentType: String,
                   horizonUs: Long): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us,
       |    CAST(epoch_us(ts) AS HUGEINT) * 1000000000 + event_id AS pk
       |  FROM events
       |  WHERE event_type IN ('$startType', '$endType', '$absentType')),
       |w AS (
       |  SELECT user_id, event_id, event_type, t_us,
       |    MIN(CASE WHEN event_type = '$endType' THEN pk END) OVER win AS ek,
       |    MIN(CASE WHEN event_type = '$absentType' THEN pk END) OVER win AS ak
       |  FROM e
       |  WINDOW win AS (PARTITION BY user_id ORDER BY t_us, event_id
       |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
       |SELECT user_id, event_id AS start_event_id,
       |  CAST(ek % 1000000000 AS BIGINT) AS end_event_id,
       |  CAST(ek // 1000000000 - t_us AS BIGINT) AS lag_us
       |FROM w
       |WHERE event_type = '$startType' AND ek IS NOT NULL
       |  AND ek // 1000000000 - t_us <= $horizonUs
       |  AND (ak IS NULL OR ak > ek)""".stripMargin

  /** Mirrors Sampling.dsirScores over documents with target `lang = 'en'`:
    * same whitespace tokenization, base-128 token fold, mixHash bucketing
    * (members 380, 381), exact integer ppm ratio weights, floor-mean
    * per-doc score — HUGEINT where the Spark side carries DECIMAL(38,0).
    */
  def dsirScores(buckets: Int): String = {
    val enc = (1 to 8).map(i =>
      s"CAST(ascii(substring(tok, $i, 1)) % 128 AS BIGINT) * ${1L << (7 * (8 - i))}")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, (lang = 'en') AS tgt,
       |    unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '')) AS tok
       |  FROM documents),
       |bk AS (
       |  SELECT doc_id, tgt,
       |    (${mixSql(s"($enc)", ext.Sampling.DsirJ)}) % $buckets AS b
       |  FROM toks),
       |bc AS (
       |  SELECT b, CAST(COUNT(*) AS BIGINT) AS raw_n,
       |    CAST(COUNT(*) FILTER (WHERE tgt) AS BIGINT) AS tgt_n
       |  FROM bk GROUP BY 1),
       |tot AS (SELECT SUM(CAST(raw_n AS HUGEINT)) AS raw_t,
       |               SUM(CAST(tgt_n AS HUGEINT)) AS tgt_t FROM bc),
       |w AS (
       |  SELECT b, CAST((CAST(tgt_n AS HUGEINT) * raw_t * 1000000)
       |    // (CAST(raw_n AS HUGEINT) * tgt_t) AS BIGINT) AS wppm
       |  FROM bc, tot),
       |sc AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    CAST(SUM(CAST(wppm AS HUGEINT)) // COUNT(*) AS BIGINT) AS score_ppm
       |  FROM bk JOIN w USING (b) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(sc.n_tokens, 0) AS n_tokens,
       |  COALESCE(sc.score_ppm, 0) AS score_ppm
       |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin
  }

  /** q188: VARIANT schema-on-read. The SAME deterministic JSON payload is
    * built from orders columns with string concatenation (integers render
    * identically in both engines), then extracted with DuckDB's JSON path
    * functions where Spark goes through parse_json → variant_get. The
    * missing-path count asserts NULL (not error) semantics for absent
    * fields in both engines.
    */
  val variantExtract: String =
    """WITH payload AS (
      |  SELECT '{"order":{"key":' || o_orderkey
      |      || ',"status":"' || o_orderstatus
      |      || '","priority":"' || o_orderpriority
      |      || '"},"lines":[{"c":' || o_custkey
      |      || '},{"c":' || (o_orderkey % 97) || '}]}' AS payload
      |  FROM orders
      |), x AS (
      |  SELECT CAST(json_extract(payload, '$.order.key') AS BIGINT) AS okey,
      |    json_extract_string(payload, '$.order.status') AS status,
      |    json_extract_string(payload, '$.order.priority') AS priority,
      |    CAST(json_extract(payload, '$.lines[0].c') AS BIGINT) AS line0,
      |    CAST(json_extract(payload, '$.lines[1].c') AS BIGINT) AS line1,
      |    CAST(json_extract(payload, '$.not.there') AS BIGINT) AS missing
      |  FROM payload
      |)
      |SELECT status, priority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(line0) AS BIGINT) AS sum_line0,
      |  CAST(SUM(line1) AS BIGINT) AS sum_line1,
      |  MIN(okey) AS min_key, MAX(okey) AS max_key,
      |  CAST(COUNT(missing) AS BIGINT) AS n_missing
      |FROM x GROUP BY 1, 2""".stripMargin

  /** Gaps-and-islands session CTE block shared by the q189 and q222
    * oracles (one derivation, no drift): strict-> split — Spark merges a
    * window starting exactly at the previous window's end (inclusive
    * boundary, pinned by SessionWindowSpec).
    */
  private val sessionCtes: String =
    """e AS (
      |  SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts FROM events
      |), m AS (
      |  SELECT user_id, event_type, ts,
      |    CASE WHEN prev IS NULL
      |           OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM (SELECT user_id, event_type, ts,
      |          LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM e)
      |), s AS (
      |  SELECT user_id, event_type, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |                     ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m
      |)""".stripMargin

  /** q189: native session_window sessions re-derived as classic
    * gaps-and-islands SQL — a fully independent formulation of the same
    * semantics; session_end = last event + gap; timestamps at µs like
    * the other event oracles.
    */
  val sessionWindows: String =
    s"""WITH $sessionCtes
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
      |FROM s GROUP BY user_id, sid""".stripMargin

  /** q222: bounce rate per session-start day over the same islands. */
  val bounceRate: String =
    s"""WITH $sessionCtes,
      |sess AS (
      |  SELECT CAST(MIN(ts) AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM s GROUP BY user_id, sid)
      |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS bounce_ppm
      |FROM sess GROUP BY 1""".stripMargin

  /** q226: real-container media decode. Mirrors Multimodal.probeMedia by
    * recomputing every PARSED field analytically from the synthetic
    * corpus' closed-form definition (even doc_id → 8×8 24-bpp BMP whose
    * pixel k is `(id·31 + k·7) mod 251`; odd → 64-sample 16-bit mono
    * 16 kHz WAV whose sample s is `(id·13 + s·5) mod 65536`, summed as
    * its two little-endian bytes) — the oracle never parses bytes, so
    * agreement proves the Spark-side encode → header-parse → featurize
    * chain end to end.
    */
  val mediaDecode: String =
    """SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS fmt,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 0 END AS INTEGER) AS width,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 0 END AS INTEGER) AS height,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 16000 END AS INTEGER) AS sample_rate,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS INTEGER) AS channels,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 192 ELSE 128 END AS INTEGER) AS n_content_bytes,
      |  CAST(CASE WHEN doc_id % 2 = 0
      |    THEN list_sum(list_transform(range(0, 192),
      |           k -> (doc_id * 31 + k * 7) % 251))
      |    ELSE list_sum(list_transform(range(0, 64),
      |           s -> ((doc_id * 13 + s * 5) % 65536) % 256
      |              + ((doc_id * 13 + s * 5) % 65536) // 256))
      |  END AS BIGINT) AS content_sum
      |FROM documents""".stripMargin

  /** q227: per-file parquet row counts straight from the footers.
    * `{SF_DIR}` is substituted by Verify at dump time (the only oracle
    * that must address files rather than the table views, since the view
    * layer erases file identity).
    */
  val fileProfile: String = {
    val metas = Tables.names.map { t =>
      s"SELECT '$t' AS tbl, file_name, num_rows FROM parquet_file_metadata('{SF_DIR}/$t.parquet')"
    }.mkString("\n  UNION ALL ")
    s"""SELECT tbl, regexp_extract(file_name, '[^/]+$$', 0) AS file,
       |  CAST(num_rows AS BIGINT) AS n_rows
       |FROM (
       |  $metas
       |)""".stripMargin
  }

  /** q228: TPC-H Q17 shape — facts gated below half their part's average
    * quantity via the integer cross-multiply (qty·2·n < sum), revenue
    * summed in DECIMAL(18,2) then cast DOUBLE at the output boundary
    * (the q86/q196/q202 money convention); no float average anywhere so
    * the survivor set is identical in both engines.
    */
  val smallOrderRevenue: String =
    """WITH li AS (
      |  SELECT l_partkey, CAST(round(l_quantity) AS BIGINT) AS qty,
      |         l_extendedprice
      |  FROM lineitem),
      |s AS (
      |  SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sum_qty,
      |         CAST(COUNT(*) AS BIGINT) AS n_li
      |  FROM li GROUP BY 1)
      |SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_small,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS small_revenue
      |FROM li JOIN s USING (l_partkey)
      |JOIN part ON p_partkey = l_partkey
      |WHERE qty * 2 * n_li < sum_qty
      |GROUP BY 1""".stripMargin

  /** q229: k-anonymity audit — identical QI banding (cents `//` 100000 is
    * DuckDB floor division, matching the engine's pmod-adjusted `div`),
    * pure integer counts.
    */
  def kAnonymity(k: Int): String =
    s"""WITH qi AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band
       |  FROM customer),
       |cls AS (
       |  SELECT c_nationkey, c_mktsegment, bal_band,
       |    CAST(COUNT(*) AS BIGINT) AS class_size
       |  FROM qi GROUP BY 1, 2, 3)
       |SELECT CASE WHEN class_size = 1 THEN '1'
       |            WHEN class_size < $k THEN '2..${k - 1}'
       |            ELSE '>=$k' END AS band,
       |  CAST(COUNT(*) AS BIGINT) AS n_classes,
       |  CAST(SUM(class_size) AS BIGINT) AS n_rows,
       |  CAST(MIN(class_size) AS BIGINT) AS min_class,
       |  CAST(MAX(class_size) AS BIGINT) AS max_class
       |FROM cls GROUP BY 1""".stripMargin

  /** q230: l-diversity audit — same QI banding arithmetic as q229,
    * diversity = COUNT(DISTINCT sensitive) per class.
    */
  def lDiversity(l: Int): String =
    s"""WITH qi AS (
       |  SELECT c_nationkey,
       |    CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
       |    c_mktsegment
       |  FROM customer),
       |cls AS (
       |  SELECT c_nationkey, bal_band,
       |    CAST(COUNT(*) AS BIGINT) AS class_size,
       |    CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive
       |  FROM qi GROUP BY 1, 2)
       |SELECT CASE WHEN n_sensitive = 1 THEN '1'
       |            WHEN n_sensitive < $l THEN '2..${l - 1}'
       |            ELSE '>=$l' END AS div_band,
       |  CAST(COUNT(*) AS BIGINT) AS n_classes,
       |  CAST(SUM(class_size) AS BIGINT) AS n_rows,
       |  CAST(MIN(n_sensitive) AS BIGINT) AS min_div,
       |  CAST(MAX(n_sensitive) AS BIGINT) AS max_div
       |FROM cls GROUP BY 1""".stripMargin

  /** q231: padding-waste audit — same whitespace token count as the q13
    * family, ceil-to-bucket via positive integer division, truncated ppm.
    */
  def paddingAudit(bucketWidth: Int): String =
    s"""WITH t AS (
       |  SELECT CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |    x -> x <> '')) AS BIGINT) AS n_tok
       |  FROM documents),
       |b AS (
       |  SELECT ((n_tok + ${bucketWidth - 1}) // $bucketWidth) * $bucketWidth AS bound,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_tok) AS BIGINT) AS real_tokens
       |  FROM t WHERE n_tok > 0 GROUP BY 1)
       |SELECT bound, n_docs, real_tokens,
       |  bound * n_docs AS padded_tokens,
       |  (bound * n_docs - real_tokens) * 1000000 // (bound * n_docs) AS waste_ppm
       |FROM b""".stripMargin

  /** q232: PSI drift — same Laplace-smoothed shares and ln expression as
    * Profile.psiDrift, 6-decimal rounded (the q108 ln policy), exact
    * integer counts and ppm shares.
    */
  def psiDrift(splitTs: String): String =
    s"""WITH ca AS (
       |  SELECT event_type AS bin, CAST(COUNT(*) AS BIGINT) AS n_before
       |  FROM events WHERE ts < TIMESTAMP '$splitTs' GROUP BY 1),
       |cb AS (
       |  SELECT event_type AS bin, CAST(COUNT(*) AS BIGINT) AS n_after
       |  FROM events WHERE ts >= TIMESTAMP '$splitTs' GROUP BY 1),
       |j AS (
       |  SELECT COALESCE(ca.bin, cb.bin) AS bin,
       |    COALESCE(n_before, 0) AS n_before, COALESCE(n_after, 0) AS n_after
       |  FROM ca FULL OUTER JOIN cb ON ca.bin = cb.bin),
       |t AS (
       |  SELECT CAST(SUM(n_before) AS BIGINT) AS t_before,
       |    CAST(SUM(n_after) AS BIGINT) AS t_after,
       |    CAST(COUNT(*) AS BIGINT) AS n_bins FROM j)
       |SELECT bin, n_before, n_after,
       |  n_before * 1000000 // t_before AS share_before_ppm,
       |  n_after * 1000000 // t_after AS share_after_ppm,
       |  round(
       |    ((CAST(n_before + 1 AS DOUBLE) / (t_before + n_bins))
       |     - (CAST(n_after + 1 AS DOUBLE) / (t_after + n_bins)))
       |    * ln((CAST(n_before + 1 AS DOUBLE) / (t_before + n_bins))
       |       / (CAST(n_after + 1 AS DOUBLE) / (t_after + n_bins))), 6)
       |    AS psi_contrib
       |FROM j, t""".stripMargin

  /** q233: hourly PSI vs the corpus-global mix — full (hour × ref-bin)
    * grid (zero rows for bins absent from a window, exactly like the
    * stream's conditional counts), same Laplace smoothing and 6-decimal
    * ln policy as q232.
    */
  val hourlyPsi: String =
    """WITH ref AS (
      |  SELECT event_type AS bin, CAST(COUNT(*) AS BIGINT) AS n_ref
      |  FROM events GROUP BY 1),
      |tr AS (
      |  SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
      |    CAST(COUNT(*) AS BIGINT) AS b FROM ref),
      |h AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type AS bin,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |th AS (SELECT hour, CAST(SUM(n) AS BIGINT) AS t_hour FROM h GROUP BY 1),
      |grid AS (
      |  SELECT th.hour, ref.bin, COALESCE(h.n, 0) AS n, th.t_hour, ref.n_ref
      |  FROM th CROSS JOIN ref
      |  LEFT JOIN h ON h.hour = th.hour AND h.bin = ref.bin)
      |SELECT hour, bin, n, n * 1000000 // t_hour AS share_ppm,
      |  round(
      |    ((CAST(n + 1 AS DOUBLE) / (t_hour + b))
      |     - (CAST(n_ref + 1 AS DOUBLE) / (t_ref + b)))
      |    * ln((CAST(n + 1 AS DOUBLE) / (t_hour + b))
      |       / (CAST(n_ref + 1 AS DOUBLE) / (t_ref + b))), 6) AS psi_contrib
      |FROM grid, tr""".stripMargin

  /** Mirrors Dedup.cdcChunks: the q180 trigram hash array, cut positions
    * by the same `% chunkMod = 0` predicate, spans as prepend/append
    * lists, XOR-fold chunk fingerprints (prepend 0 so empty interiors
    * reduce to 0 — DuckDB's list_reduce rejects empty lists, and its
    * list_sum would widen to HUGEINT where Spark wraps, hence XOR).
    */
  def cdcChunks(chunkMod: Int): String = {
    val code = "cps[CAST(i AS INTEGER)] * 65536 + " +
      "cps[CAST(i AS INTEGER) + 1] * 256 + cps[CAST(i AS INTEGER) + 2]"
    s"""WITH ch AS (
       |  SELECT doc_id,
       |    list_transform(string_split_regex(text, ''),
       |      c -> CAST(ascii(c) AS BIGINT)) AS cps
       |  FROM documents),
       |hs AS (
       |  SELECT doc_id, cps, CASE WHEN len(cps) >= 3 THEN
       |      list_transform(generate_series(1, len(cps) - 2),
       |        i -> ${mixSql(s"($code)", ext.Dedup.WinnowJ)})
       |    ELSE CAST([] AS BIGINT[]) END AS hs
       |  FROM ch WHERE len(cps) > 0),
       |cut AS (
       |  SELECT doc_id, cps, hs,
       |    list_filter(generate_series(1, len(hs)),
       |      i -> hs[CAST(i AS INTEGER)] % $chunkMod = 0) AS cuts
       |  FROM hs),
       |sp AS (
       |  SELECT doc_id, hs,
       |    list_prepend(CAST(1 AS BIGINT),
       |      list_transform(cuts, i -> CAST(i + 3 AS BIGINT))) AS starts,
       |    list_append(list_transform(cuts, i -> CAST(i + 2 AS BIGINT)),
       |      CAST(len(cps) AS BIGINT)) AS ends
       |  FROM cut),
       |x AS (
       |  SELECT doc_id, hs,
       |    unnest(generate_series(0, len(starts) - 1)) AS chunk_idx,
       |    unnest(starts) AS s, unnest(ends) AS e
       |  FROM sp)
       |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       |  s AS start_char, e - s + 1 AS chunk_chars,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      hs[CAST(s AS INTEGER):CAST(GREATEST(e - 2, 0) AS INTEGER)]),
       |    (a, b) -> xor(a, b)) AS chunk_fp
       |FROM x WHERE s <= e""".stripMargin
  }

  /** Mirrors Dedup.chunkDupStats: the q234 chunk derivation as a CTE
    * (nested WITH — DuckDB scopes it per subquery), fp-keyed distinct-doc
    * counts, doc-keyed text-mass rollup, truncated ppm.
    */
  def chunkDupStats(chunkMod: Int): String =
    s"""WITH chunks AS (${cdcChunks(chunkMod)}),
       |fp AS (
       |  SELECT chunk_fp, chunk_chars,
       |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |  FROM chunks WHERE chunk_chars >= 3 GROUP BY 1, 2)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(chunk_chars) AS BIGINT) AS n_chars,
       |  CAST(SUM(CASE WHEN n_docs >= 2 THEN chunk_chars ELSE 0 END) AS BIGINT)
       |    AS shared_chars,
       |  CAST(SUM(CASE WHEN n_docs >= 2 THEN chunk_chars ELSE 0 END) AS BIGINT)
       |    * 1000000 // CAST(SUM(chunk_chars) AS BIGINT) AS shared_ppm
       |FROM chunks LEFT JOIN fp USING (chunk_fp, chunk_chars)
       |GROUP BY 1""".stripMargin

  /** q240: incremental corpus refresh — every metric recomputed FROM
    * SCRATCH over the full documents table (no incremental path), so the
    * hash match against the Spark side's index-join + histogram-merge
    * plan proves incremental maintenance ≡ batch recompute.
    */
  def incrementalRefresh(dayMod: Int, day2From: Int, subBits: Int,
                         qs: Seq[Int]): String = {
    val cap = 1L << (subBits + 1)
    s"""WITH d AS (
       |  SELECT doc_id, $fingerprintSql AS fp,
       |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |      x -> x <> '')) AS BIGINT) AS v,
       |    (doc_id % $dayMod < $day2From) AS is1
       |  FROM documents),
       |agg AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN is1 THEN 1 ELSE 0 END) AS BIGINT) AS n_day1,
       |    CAST(SUM(CASE WHEN is1 THEN 0 ELSE 1 END) AS BIGINT) AS n_day2
       |  FROM d),
       |idx AS (SELECT DISTINCT fp FROM d WHERE is1),
       |d2 AS (
       |  SELECT d.fp, (idx.fp IS NOT NULL) AS known
       |  FROM d LEFT JOIN idx ON d.fp = idx.fp WHERE NOT is1),
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n2,
       |    CAST(SUM(CASE WHEN known THEN 1 ELSE 0 END) AS BIGINT) AS dup_vs,
       |    CAST(COUNT(DISTINCT fp) AS BIGINT) AS dist2,
       |    CAST(COUNT(DISTINCT CASE WHEN NOT known THEN fp END) AS BIGINT) AS novel
       |  FROM d2),
       |h AS (
       |  SELECT GREATEST(LENGTH(bin(v)) - ${1 + subBits}, 0) AS s,
       |    v >> GREATEST(LENGTH(bin(v)) - ${1 + subBits}, 0) AS m2,
       |    COUNT(*) AS cnt
       |  FROM d GROUP BY 1, 2),
       |b AS (SELECT s * $cap + m2 AS bucket_id, (m2 << s) AS rep, cnt FROM h),
       |c AS (
       |  SELECT rep, bucket_id, cnt,
       |    CAST(SUM(cnt) OVER (ORDER BY bucket_id) AS BIGINT) AS cum,
       |    CAST(SUM(cnt) OVER () AS BIGINT) AS n
       |  FROM b),
       |qv AS (
       |  SELECT 'p' || q.q || '_tokens' AS metric, MIN(rep) AS value
       |  FROM c CROSS JOIN (VALUES ${qs.map(q => s"($q)").mkString(", ")}) AS q(q)
       |  WHERE cum >= (n * q.q + 99) // 100 GROUP BY 1)
       |SELECT metric, value FROM (
       |  SELECT 'n_day1' AS metric, n_day1 AS value FROM agg
       |  UNION ALL SELECT 'n_day2', n_day2 FROM agg
       |  UNION ALL SELECT 'day2_dup_vs_day1', dup_vs FROM m
       |  UNION ALL SELECT 'day2_redundant_within', n2 - dist2 FROM m
       |  UNION ALL SELECT 'day2_novel_unique', novel FROM m
       |  UNION ALL SELECT metric, value FROM qv)""".stripMargin
  }

  /** q239: SRM audit — per assignment-hash family, arm counts over
    * distinct users and the integer cross-multiplied 1-dof chi-square
    * verdict (threshold 3.8415 · 10⁴ = 38415).
    */
  def srmAudit(families: Seq[Int]): String = {
    val branches = families.map { j =>
      val h = mixSql("user_id", j)
      s"SELECT $j AS family, (($h) % 2) AS arm FROM u"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       |fa AS (
       |  $branches),
       |c AS (
       |  SELECT family,
       |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |  FROM fa GROUP BY 1)
       |SELECT family, n_a, n_b,
       |  abs(n_a - n_b) * 1000000 // (n_a + n_b) AS delta_ppm,
       |  (n_a - n_b) * (n_a - n_b) * 10000 > 38415 * (n_a + n_b) AS srm
       |FROM c""".stripMargin
  }

  /** q237: CUPED variance-reduced A/B readout — identical per-user cents
    * rollup, mixHash(362) arm assignment, exact HUGEINT moments, and the
    * same floor-division staging for θ and the adjusted means (both
    * engines truncate signed integral division toward zero).
    */
  def cupedReadout(split: String): String = {
    val h = mixSql("user_id", 362)
    s"""WITH per AS (
       |  SELECT user_id,
       |    CAST(SUM(CASE WHEN ts < TIMESTAMP '$split'
       |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
       |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '$split'
       |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
       |  FROM events GROUP BY 1),
       |pa AS (SELECT user_id, x, y, ($h) % 2 AS arm FROM per),
       |g AS (
       |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
       |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
       |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
       |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
       |    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
       |  FROM pa),
       |a AS (
       |  SELECT arm, CAST(COUNT(*) AS HUGEINT) AS n_a,
       |    CAST(SUM(x) AS HUGEINT) AS sx_a, CAST(SUM(y) AS HUGEINT) AS sy_a
       |  FROM pa GROUP BY 1),
       |t AS (
       |  SELECT arm, n_a, sx_a, sy_a, n, sx, sy, syy,
       |    n * sxy - sx * sy AS nn,
       |    NULLIF(n * sxx - sx * sx, 0) AS dd,
       |    NULLIF(n * syy - sy * sy, 0) AS dy
       |  FROM a CROSS JOIN g),
       |t2 AS (
       |  SELECT arm, n_a, sy_a, nn, dy,
       |    (nn * 1000000) // dd AS theta_ppm,
       |    (sx_a * 1000000) // n_a - (sx * 1000000) // n AS dxm
       |  FROM t)
       |SELECT CAST(arm AS BIGINT) AS arm, CAST(n_a AS BIGINT) AS n_users,
       |  CAST(sy_a // n_a AS BIGINT) AS mean_y_cents,
       |  CAST((sy_a * 1000000) // n_a - (theta_ppm * dxm) // 1000000 AS BIGINT)
       |    AS adj_mean_microcents,
       |  CAST(theta_ppm AS BIGINT) AS theta_ppm,
       |  CAST((theta_ppm * nn) // dy AS BIGINT) AS varred_ppm
       |FROM t2""".stripMargin
  }

  /** q236: log-linear histogram quantiles — the identical pure-integer
    * bucketing as [[graft.ext.Sketch.logHistogram]] (`bin()`-length
    * octave + top subBits bits, both engines bit-identical), cumulative
    * rank walk over bucket rows, first-bucket-at-rank readout.
    */
  def logHistQuantiles(subBits: Int, qs: Seq[Int]): String =
    logHistQuantilesCore(
      "SELECT o_orderpriority AS g, CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders",
      "o_orderpriority", "n_orders", subBits, qs)

  /** q238: the identical sketch + readout over hourly event value cents —
    * the oracle-verified batch twin of the streaming histogram
    * ([[graft.streaming.Streams.logHistHourly]]).
    */
  def hourlyQuantiles(subBits: Int, qs: Seq[Int]): String =
    logHistQuantilesCore(
      "SELECT date_trunc('hour', ts) AS g, CAST(round(value * 100) AS BIGINT) AS x FROM events",
      "hour", "n_events", subBits, qs)

  private def logHistQuantilesCore(sourceSql: String, groupAlias: String,
                                   countAlias: String, subBits: Int,
                                   qs: Seq[Int]): String = {
    val cap = 1L << (subBits + 1)
    s"""WITH v AS ($sourceSql),
       |h AS (
       |  SELECT g,
       |    GREATEST(LENGTH(bin(x)) - ${1 + subBits}, 0) AS s,
       |    x >> GREATEST(LENGTH(bin(x)) - ${1 + subBits}, 0) AS m,
       |    COUNT(*) AS cnt
       |  FROM v GROUP BY 1, 2, 3),
       |b AS (
       |  SELECT g, s * $cap + m AS bucket_id,
       |    (m << s) AS rep, cnt
       |  FROM h),
       |c AS (
       |  SELECT g, bucket_id, rep, cnt,
       |    CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY bucket_id) AS BIGINT) AS cum,
       |    CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
       |  FROM b)
       |SELECT g AS $groupAlias, q.quantile, MIN(rep) AS est_cents,
       |  CAST(MAX(n) AS BIGINT) AS $countAlias
       |FROM c CROSS JOIN (VALUES ${qs.map(q => s"($q)").mkString(", ")})
       |  AS q(quantile)
       |WHERE cum >= (n * q.quantile + 99) // 100
       |GROUP BY 1, 2""".stripMargin
  }

  /** q225: one-time vs repeat buyers per nation. */
  val oneTimeBuyers: String =
    """WITH pc AS (
      |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY 1)
      |SELECT n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_buyers,
      |  CAST(SUM(CASE WHEN n_orders = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_one_time,
      |  CAST(SUM(CASE WHEN n_orders = 1 THEN 1 ELSE 0 END) * 1000000
      |       // COUNT(*) AS BIGINT) AS one_time_ppm
      |FROM pc
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1""".stripMargin

  /** q224: daily traffic mix — share-of-day ppm per type. */
  val dailyMix: String =
    """WITH g AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT day, CAST(SUM(n) AS BIGINT) AS day_total FROM g GROUP BY 1)
      |SELECT g.day, g.event_type, g.n,
      |  CAST(g.n * 1000000 // t.day_total AS BIGINT) AS share_ppm
      |FROM g JOIN t USING (day)""".stripMargin

  /** q223: the real props column via JSON path extraction — identical
    * aggregation to q72, exercised through the VARIANT spelling on the
    * Spark side.
    */
  val propsVariant: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(TRY_CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS n_k,
      |  CAST(SUM(TRY_CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(TRY_CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(TRY_CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY 1""".stripMargin

  /** q221: GDPR erasure audit — per-table before/after/erased under the
    * deterministic tombstone sample.
    */
  val erasureAudit: String =
    """WITH tomb AS (SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0)
      |SELECT 'events' AS table_name,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS rows_before,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM events e
      |     WHERE NOT EXISTS (SELECT 1 FROM tomb t WHERE t.user_id = e.user_id)) AS rows_after,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM events e
      |     WHERE EXISTS (SELECT 1 FROM tomb t WHERE t.user_id = e.user_id)) AS rows_erased
      |UNION ALL
      |SELECT 'orders',
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
      |     WHERE NOT EXISTS (SELECT 1 FROM tomb t WHERE t.user_id = o.o_custkey)),
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
      |     WHERE EXISTS (SELECT 1 FROM tomb t WHERE t.user_id = o.o_custkey))""".stripMargin

  /** q190: the stream-stream interval join's LEFT OUTER batch evaluation —
    * plain interval LEFT JOIN in SQL (every view exactly once per matching
    * purchase, or once with nulls).
    */
  val viewAbandonment: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, date_trunc('microseconds', ts) AS ts FROM events
      |), v AS (
      |  SELECT user_id, ts AS view_ts, event_id AS view_id FROM e WHERE event_type = 'view'
      |), b AS (
      |  SELECT user_id AS bu, ts AS buy_ts, event_id AS buy_id FROM e WHERE event_type = 'purchase'
      |)
      |SELECT v.user_id, v.view_id, b.buy_id, v.view_ts, b.buy_ts
      |FROM v LEFT JOIN b ON v.user_id = b.bu
      |  AND b.buy_ts >= v.view_ts
      |  AND b.buy_ts <= v.view_ts + INTERVAL 30 MINUTE""".stripMargin

  /** q191: per-brand top-2 by price as a native LATERAL correlated
    * subquery — the same decorrelated shape Spark plans for
    * `Dataset.lateralJoin` + `outer()`. Deterministic tie-break on
    * (price DESC, partkey).
    */
  val lateralTopK: String =
    """SELECT b.brand, t.partkey, t.price
      |FROM (SELECT DISTINCT p_brand AS brand FROM part) b,
      |LATERAL (
      |  SELECT p_partkey AS partkey, p_retailprice AS price FROM part p
      |  WHERE p.p_brand = b.brand
      |  ORDER BY p_retailprice DESC, p_partkey LIMIT 2) t""".stripMargin

  /** q192: correlated scalar MAX subquery (exact on doubles — max picks
    * an element; no accumulation order).
    */
  val scalarSubquery: String =
    """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
      |FROM orders o
      |WHERE o.o_totalprice =
      |  (SELECT MAX(i.o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey)""".stripMargin

  /** q193: EXISTS ∧ NOT EXISTS — urgent-order customers with no F-status
    * order.
    */
  val existsSubquery: String =
    """SELECT c.c_custkey, c.c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders u
      |  WHERE u.o_custkey = c.c_custkey AND u.o_orderpriority = '1-URGENT')
      |AND NOT EXISTS (SELECT 1 FROM orders f
      |  WHERE f.o_custkey = c.c_custkey AND f.o_orderstatus = 'F')""".stripMargin

  /** q194: the transposed metrics report built explicitly — row per
    * metric, one column per (pinned) return flag, matching
    * `Dataset.transpose`'s key/value layout.
    */
  val transposeReport: String =
    """WITH m AS (
      |  SELECT l_returnflag AS f, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(l_quantity) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1)
      |SELECT 'n' AS key,
      |  (SELECT n FROM m WHERE f = 'A') AS "A",
      |  (SELECT n FROM m WHERE f = 'N') AS "N",
      |  (SELECT n FROM m WHERE f = 'R') AS "R"
      |UNION ALL
      |SELECT 'qty',
      |  (SELECT qty FROM m WHERE f = 'A'),
      |  (SELECT qty FROM m WHERE f = 'N'),
      |  (SELECT qty FROM m WHERE f = 'R')""".stripMargin

  /** q196: TPC-H Q5 — the canonical local-supplier-volume 6-table join
    * with the customer=supplier nation condition; q86's DECIMAL money
    * policy.
    */
  def localSupplierVolume(regionName: String, fromDate: String,
                          untilDate: String): String =
    s"""SELECT n_name AS nation, COUNT(*) AS n_lines,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |           CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders   ON l_orderkey  = o_orderkey
       |JOIN customer ON o_custkey   = c_custkey
       |JOIN supplier ON l_suppkey   = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation   ON s_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |WHERE r_name = '$regionName'
       |  AND o_orderdate >= TIMESTAMP '$fromDate 00:00:00'
       |  AND o_orderdate <  TIMESTAMP '$untilDate 00:00:00'
       |GROUP BY 1""".stripMargin

  /** q202: top-k + OTHER rollup over exact DECIMAL brand revenue; rank
    * ties break on brand name like the Spark window.
    */
  def topkOthers(k: Int): String =
    s"""WITH rev AS (
       |  SELECT p_brand AS brand, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
       |ranked AS (
       |  SELECT brand, rev, ROW_NUMBER() OVER (ORDER BY rev DESC, brand) AS r FROM rev)
       |SELECT CASE WHEN r <= $k THEN brand ELSE 'OTHER' END AS brand,
       |  CAST(SUM(rev) AS DOUBLE) AS revenue,
       |  CAST(COUNT(*) AS BIGINT) AS n_groups
       |FROM ranked GROUP BY 1""".stripMargin

  /** q203: daily new-vs-returning actives over deduped (user, day). */
  val newVsReturning: String =
    """WITH a AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events),
      |f AS (SELECT u, MIN(day) AS first_day FROM a GROUP BY 1)
      |SELECT day,
      |  CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |  CAST(SUM(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
      |FROM a JOIN f USING (u) GROUP BY 1""".stripMargin

  /** q220: whole-schema FK audit — NOT EXISTS per edge (NULL-safe,
    * matching anti-join semantics).
    */
  val fkAudit: String = {
    val edges = Seq(
      ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem.suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("supplier.nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
      ("nation.regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"))
    edges.map { case (name, fact, fk, dim, pk) =>
      s"""SELECT '$name' AS fk_edge, CAST(COUNT(*) AS BIGINT) AS n_orphans
         |FROM $fact f WHERE NOT EXISTS (SELECT 1 FROM $dim d WHERE d.$pk = f.$fk)""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** q218: exact population variance ppm per brand (HUGEINT moments). */
  val discountVariance: String =
    """WITH x AS (
      |  SELECT p_brand, CAST(round(l_discount * 100) AS BIGINT) AS v
      |  FROM lineitem JOIN part ON p_partkey = l_partkey),
      |m AS (
      |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(v AS HUGEINT)) AS sx, SUM(CAST(v AS HUGEINT) * v) AS sxx
      |  FROM x GROUP BY 1)
      |SELECT p_brand, n,
      |  CAST((n * sxx - sx * sx) * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_ppm
      |FROM m""".stripMargin

  /** q219: lines-per-order histogram. */
  val basketHistogram: String =
    """WITH b AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS basket_size
      |           FROM lineitem GROUP BY 1)
      |SELECT basket_size, CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM b GROUP BY 1""".stripMargin

  /** q216: dead stock — unsold parts per brand beside catalog size. */
  val deadStock: String =
    """WITH sold AS (SELECT DISTINCT l_partkey FROM lineitem),
      |dead AS (
      |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_dead
      |  FROM part WHERE p_partkey NOT IN (SELECT l_partkey FROM sold)
      |  GROUP BY 1),
      |cat AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts FROM part GROUP BY 1)
      |SELECT cat.p_brand, cat.n_parts,
      |  CAST(COALESCE(dead.n_dead, 0) AS BIGINT) AS n_dead,
      |  CAST(COALESCE(dead.n_dead, 0) * 1000000 // cat.n_parts AS BIGINT) AS dead_ppm
      |FROM cat LEFT JOIN dead USING (p_brand)""".stripMargin

  /** q217: single-source parts per brand over distinct (part, supplier). */
  val singleSourceRisk: String =
    """WITH ps AS (
      |  SELECT l_partkey, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
      |  FROM lineitem GROUP BY 1)
      |SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_sold_parts,
      |  CAST(SUM(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_single_source,
      |  MAX(n_suppliers) AS max_suppliers
      |FROM part JOIN ps ON p_partkey = l_partkey
      |GROUP BY 1""".stripMargin

  /** q214: peak 10-minute burst per user, deterministic top-k. */
  def burstiestUsers(k: Int): String =
    s"""WITH b AS (
       |  SELECT user_id, epoch_us(ts) // 600000000 AS b10,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |u AS (
       |  SELECT user_id, MAX(n) AS peak_10min, CAST(SUM(n) AS BIGINT) AS n_events
       |  FROM b GROUP BY 1)
       |SELECT user_id, peak_10min, n_events FROM u
       |ORDER BY peak_10min DESC, user_id LIMIT $k""".stripMargin

  /** q215: exact integer Gini (truncated ppm) over per-customer cents —
    * rank by (cents, custkey), cross-multiplied closed form; numerator
    * non-negative so `//` ≡ Spark `div`.
    */
  val revenueGini: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |r AS (SELECT cents,
      |        ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i FROM per)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  CAST((2 * SUM(CAST(i AS HUGEINT) * cents)
      |        - (COUNT(*) + 1) * SUM(CAST(cents AS HUGEINT)))
      |       * 1000000 // (COUNT(*) * SUM(CAST(cents AS HUGEINT))) AS BIGINT) AS gini_ppm
      |FROM r""".stripMargin

  /** Benford first-digit expectation in integer ppm — ONE derivation
    * shared by the q212 Spark literal map and its oracle VALUES list.
    */
  val benfordPpm: Map[String, Long] = (1 to 9).map(d =>
    d.toString -> math.floor(math.log10(1.0 + 1.0 / d) * 1000000).toLong).toMap

  /** q212: Benford audit — digit from the integer-cents STRING (no
    * float log10), observed vs expected ppm.
    */
  val benfordAudit: String = {
    val vals = (1 to 9).map(d => s"('$d', ${benfordPpm(d.toString)})").mkString(", ")
    s"""WITH dg AS (
       |  SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS digit
       |  FROM orders),
       |g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM dg GROUP BY 1),
       |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM orders),
       |b(digit, benford_ppm) AS (VALUES $vals)
       |SELECT g.digit, g.n, CAST((g.n * 1000000) // tot AS BIGINT) AS observed_ppm,
       |  CAST(benford_ppm AS BIGINT) AS benford_ppm
       |FROM g CROSS JOIN t JOIN b ON g.digit = b.digit""".stripMargin
  }

  /** q213: ship-delay SLA per priority — integer day histogram stats. */
  val shipDelaySla: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(MIN(datediff('day', o_orderdate, l_shipdate)) AS BIGINT) AS min_days,
      |  CAST(MAX(datediff('day', o_orderdate, l_shipdate)) AS BIGINT) AS max_days,
      |  CAST(SUM(CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT))
      |       // COUNT(*) AS BIGINT) AS mean_days,
      |  CAST(SUM(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 60
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_breach_60d
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1""".stripMargin

  /** q211: time-in-state over the q91 SCD2 intervals (closed only);
    * truncated integer-µs mean (positive operands — `//` ≡ Spark `div`).
    */
  val stateDurations: String =
    s"""WITH iv AS (${scd2Intervals})
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals,
       |  CAST(SUM(epoch_us(valid_to) - epoch_us(valid_from)) AS BIGINT) AS total_us,
       |  CAST(SUM(epoch_us(valid_to) - epoch_us(valid_from)) // COUNT(*) AS BIGINT) AS mean_us
       |FROM iv WHERE valid_to IS NOT NULL GROUP BY 1""".stripMargin

  /** q210: cohort LTV — first-purchase-week cohorts, weekly cents and
    * the running cumulative over the cohort grid.
    */
  val cohortLtv: String =
    """WITH p AS (
      |  SELECT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS week,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT u, MIN(week) AS cohort_week FROM p GROUP BY 1),
      |weekly AS (
      |  SELECT cohort_week, week, CAST(SUM(cents) AS BIGINT) AS week_cents
      |  FROM p JOIN c USING (u) GROUP BY 1, 2)
      |SELECT cohort_week,
      |  CAST(date_diff('day', cohort_week, week) // 7 AS BIGINT) AS weeks_since,
      |  week_cents,
      |  CAST(SUM(week_cents) OVER (PARTITION BY cohort_week ORDER BY week
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      |FROM weekly""".stripMargin

  /** q208: WoW deltas — toward-zero integer ppm via sign split (DuckDB
    * `//` floors; Spark `div` truncates).
    */
  val weekOverWeek: String =
    """WITH weekly AS (
      |  SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM lineitem GROUP BY 1),
      |l AS (SELECT week, rev_cents,
      |        LAG(rev_cents) OVER (ORDER BY week) AS prev_cents FROM weekly)
      |SELECT week, rev_cents, prev_cents,
      |  CASE WHEN prev_cents > 0 THEN
      |    CASE WHEN rev_cents >= prev_cents
      |         THEN ((rev_cents - prev_cents) * 1000000) // prev_cents
      |         ELSE -(((prev_cents - rev_cents) * 1000000) // prev_cents) END
      |  END AS wow_ppm
      |FROM l""".stripMargin

  /** q209: fact↔rollup reconciliation in integer cents. */
  val reconciliation: String =
    """WITH ls AS (
      |  SELECT l_orderkey AS ok,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS line_cents
      |  FROM lineitem GROUP BY 1)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT)
      |                     <> COALESCE(line_cents, 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
      |  CAST(SUM(abs(CAST(round(o_totalprice * 100) AS BIGINT)
      |               - COALESCE(line_cents, 0))) AS BIGINT) AS abs_drift_cents
      |FROM orders LEFT JOIN ls ON o_orderkey = ok
      |GROUP BY 1""".stripMargin

  /** q206: duplicate-event pairs — identity equi-join + time residual. */
  def duplicateEvents(tolUs: Long): String =
    s"""WITH e AS (
       |  SELECT user_id AS u, event_type AS t,
       |    CAST(round(value * 100) AS BIGINT) AS cents,
       |    epoch_us(ts) AS us, event_id
       |  FROM events)
       |SELECT a.u AS user_id, a.t AS event_type,
       |  a.cents AS cents_a, b.cents AS cents_b,
       |  a.event_id AS id_a, b.event_id AS id_b,
       |  CAST(abs(a.us - b.us) AS BIGINT) AS gap_us
       |FROM e a JOIN e b
       |  ON a.u = b.u AND a.t = b.t
       | AND a.event_id < b.event_id AND abs(a.us - b.us) <= $tolUs""".stripMargin

  /** q207: discount-elasticity OLS — the q117 integer-micros skeleton
    * with x = discount cents, y = quantity (raw line points, no
    * pre-aggregate).
    */
  val discountElasticity: String =
    s"""WITH pts AS (
       |  SELECT p_brand,
       |    CAST(round(l_discount * 100) AS BIGINT) AS x,
       |    CAST(l_quantity AS BIGINT) AS y
       |  FROM lineitem JOIN part ON p_partkey = l_partkey),
       |s AS (
       |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
       |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
       |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
       |    SUM(CAST(x AS HUGEINT) * y) AS sxy
       |  FROM pts GROUP BY 1),
       |t AS (
       |  SELECT p_brand, n, sx, sy,
       |    n * sxx - sx * sx AS den, n * sxy - sx * sy AS num
       |  FROM s),
       |u AS (
       |  SELECT p_brand, n, sx, sy,
       |    CASE WHEN den > 0 THEN
       |      CASE WHEN num >= 0 THEN (2000000 * num + den) // (2 * den)
       |           ELSE -((2000000 * (-num) + den) // (2 * den)) END
       |    END AS slope_u
       |  FROM t),
       |v AS (
       |  SELECT p_brand, n, slope_u,
       |    1000000 * sy - slope_u * sx AS inum
       |  FROM u)
       |SELECT p_brand, n,
       |  CAST(slope_u AS DOUBLE) / 1000000 AS slope,
       |  CAST(CASE WHEN slope_u IS NOT NULL THEN
       |    CASE WHEN inum >= 0 THEN (2 * inum + n) // (2 * n)
       |         ELSE -((2 * (-inum) + n) // (2 * n)) END
       |  END AS DOUBLE) / 1000000 AS intercept
       |FROM v""".stripMargin

  /** q204: daily churn — lead over each user's active-day sequence,
    * final day excluded.
    */
  val dailyChurn: String =
    """WITH a AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events),
      |n AS (SELECT u, day, LEAD(day) OVER (PARTITION BY u ORDER BY day) AS next_day FROM a),
      |m AS (SELECT MAX(day) AS last_day FROM a)
      |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_churned
      |FROM n, m
      |WHERE day < last_day AND (next_day IS NULL OR next_day > day + 1)
      |GROUP BY 1""".stripMargin

  /** q205: RFM — same per-user aggregate, the q201 nearest-rank quartile
    * edges per metric (correlated-count bucket assignment), identical
    * 3-digit code arithmetic.
    */
  def rfmSegments(refDate: String): String = {
    def edges(v: String) =
      s"""SELECT q, MIN(v) AS edge FROM
         |  (SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM
         |    (SELECT $v AS v, CAST(COUNT(*) AS BIGINT) AS c FROM per GROUP BY 1)),
         |  (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM per),
         |  (SELECT unnest(range(1, 4)) AS q)
         |WHERE cum * 4 >= t * q GROUP BY 1""".stripMargin
    s"""WITH per AS (
       |  SELECT user_id,
       |    CAST(date_diff('day', MAX(CAST(ts AS DATE)), DATE '$refDate') AS BIGINT) AS recency_days,
       |    CAST(COUNT(*) AS BIGINT) AS frequency,
       |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |er AS (${edges("recency_days")}),
       |ef AS (${edges("frequency")}),
       |em AS (${edges("monetary_cents")}),
       |coded AS (
       |  SELECT monetary_cents,
       |    (3 - (SELECT COUNT(*) FROM er WHERE p.recency_days > edge)) * 100
       |    + (SELECT COUNT(*) FROM ef WHERE p.frequency > edge) * 10
       |    + (SELECT COUNT(*) FROM em WHERE p.monetary_cents > edge) AS rfm
       |  FROM per p)
       |SELECT CAST(rfm AS BIGINT) AS rfm, CAST(COUNT(*) AS BIGINT) AS n_users,
       |  CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
       |FROM coded GROUP BY 1""".stripMargin
  }

  /** q201: fit ∘ apply percentile bucketizer — nearest-rank edges over
    * the by-value cumulative table, bucket id = count of edges strictly
    * below the value (inclusive upper edge), identical to
    * Quality.fitBuckets/applyBuckets.
    */
  def priceBuckets(n: Int): String =
    s"""WITH c AS (SELECT p_retailprice AS v, CAST(COUNT(*) AS BIGINT) AS c FROM part GROUP BY 1),
       |cum AS (SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM c),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM part),
       |edges AS (
       |  SELECT q, MIN(v) AS edge
       |  FROM cum CROSS JOIN tot CROSS JOIN (SELECT unnest(range(1, $n)) AS q)
       |  WHERE cum * $n >= t * q GROUP BY 1)
       |SELECT
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM edges WHERE p.p_retailprice > edge) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  MIN(p.p_retailprice) AS lo, MAX(p.p_retailprice) AS hi
       |FROM part p GROUP BY 1""".stripMargin

  /** q200: the corpus-release flagship — q51's shard oracle minus the
    * q54 contaminated set, summarized per (split, bucket). Composed from
    * the SAME CTE generators as q51/q54, so the three oracles cannot
    * drift apart.
    */
  def corpusRelease(trainPct: Int, budget: Long, nBuckets: Int,
                    n: Int): String =
    s"""WITH shards AS (SELECT * FROM (${curationShards(trainPct, budget, nBuckets)})),
       |cont AS (SELECT train_id AS doc_id FROM (${decontamination(n)})),
       |clean AS (SELECT * FROM shards WHERE doc_id NOT IN (SELECT doc_id FROM cont))
       |SELECT split, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS n_tokens,
       |  CAST(MAX(pack_seq) + 1 AS BIGINT) AS n_packs,
       |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
       |FROM clean GROUP BY 1, 2""".stripMargin

  /** q199: the token-map HOF pipeline re-derived relationally — count ≥ 3
    * filter and integer-ppm division over the same whitespace tokens
    * (the MAP is Spark-internal; rows are the comparable surface).
    */
  val tokenMap: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')) AS tok
      |  FROM documents),
      |c AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1, 2),
      |tot AS (SELECT doc_id, SUM(n) AS total FROM c GROUP BY 1)
      |SELECT c.doc_id, c.tok AS token,
      |  CAST(c.n * 1000000 // t.total AS BIGINT) AS ppm
      |FROM c JOIN tot t USING (doc_id)
      |WHERE c.n >= 3""".stripMargin

  /** q198: the chained-window aggregate via integer epoch-µs bucket
    * arithmetic — 10-minute buckets first, hour derived from the bucket
    * (all integer division on positive epochs, matching Spark's
    * epoch-aligned tumbling windows).
    */
  val chainedWindows: String =
    """WITH b AS (
      |  SELECT event_type, epoch_us(ts) // 600000000 AS b10,
      |    CAST(COUNT(*) AS BIGINT) AS n10
      |  FROM events GROUP BY 1, 2)
      |SELECT make_timestamp((b10 * 600000000 // 3600000000) * 3600000000) AS hour,
      |  event_type, CAST(SUM(n10) AS BIGINT) AS n,
      |  CAST(MAX(n10) AS BIGINT) AS peak_10min
      |FROM b GROUP BY 1, 2""".stripMargin

  /** q197: the same recursive date spine in DuckDB's WITH RECURSIVE
    * (date + integer is DuckDB's date_add spelling).
    */
  val recursiveSpine: String =
    """WITH RECURSIVE days(day) AS (
      |  SELECT DATE '1995-01-01'
      |  UNION ALL SELECT day + 1 FROM days WHERE day < DATE '1995-03-31'
      |),
      |daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS od, COUNT(*) AS cnt
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
      |  GROUP BY 1
      |)
      |SELECT day, CAST(COALESCE(cnt, 0) AS BIGINT) AS n_orders
      |FROM days LEFT JOIN daily ON od = day""".stripMargin

  /** q195: the nested-export JSON rebuilt with DuckDB's JSON aggregates —
    * same element order (ln, pk, qty ascending), same compact rendering
    * (both engines emit no whitespace; integer-only payload keeps number
    * formatting engine-portable).
    */
  val nestedExport: String =
    """WITH l AS (
      |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
      |    l_partkey AS pk, CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem)
      |SELECT l_orderkey,
      |  CAST(to_json(list(struct_pack(ln := ln, pk := pk, qty := qty)
      |       ORDER BY ln, pk, qty)) AS VARCHAR) AS lines_json
      |FROM l GROUP BY 1""".stripMargin

  /** q242: batch twin of the streaming exact dedup — a doubled
    * at-least-once feed collapses back to exactly the distinct events
    * (every dropped row is bit-identical to its survivor, so which copy
    * survives cannot matter).
    */
  val dedupStreamTwin: String =
    """SELECT event_id, date_trunc('microseconds', ts) AS ts, user_id,
      |  event_type, value, props
      |FROM events""".stripMargin

  /** q243: batch twin of the streaming curation — keep-min-doc_id per
    * content fingerprint (the q12 exact-dedup semantics), quality gate
    * ≥ 0.3, ts synthesized from doc_id exactly as the Spark side does.
    */
  val curateStreamTwin: String =
    s"""WITH st AS (
       |  SELECT doc_id, quality, fingerprint, n_tokens FROM ($textStats)),
       |keep AS (SELECT fingerprint, MIN(doc_id) AS keep_id FROM st GROUP BY 1)
       |SELECT s.doc_id,
       |  TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (s.doc_id % 3600) SECOND AS ts,
       |  d.source, s.quality, s.n_tokens
       |FROM st s JOIN keep k ON s.doc_id = k.keep_id
       |JOIN documents d ON d.doc_id = s.doc_id
       |WHERE s.quality >= 0.3""".stripMargin

  /** q244: PNG probe — now a FULL-DECODE check. Mirrors
    * Multimodal.probePng analytically: the engine filter-encodes,
    * deflates, re-inflates and unfilters a 16×16 truecolor PNG whose
    * RECONSTRUCTED pixel byte k is `(id·17 + k·11) mod 251`; the oracle
    * computes the same 768 pixel bytes in closed form without touching
    * zlib. A hash match proves signature/IHDR/CRC validation, the
    * two-chunk IDAT concatenation, the inflate, and all five scanline
    * filter reconstructions reproduce the original pixels exactly.
    */
  val pngProbe: String =
    """SELECT doc_id AS media_id, 'png' AS fmt,
      |  CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
      |  CAST(0 AS INTEGER) AS sample_rate, CAST(0 AS INTEGER) AS channels,
      |  CAST(768 AS INTEGER) AS n_content_bytes,
      |  CAST(list_sum(list_transform(range(0, 768),
      |    k -> (doc_id * 17 + k * 11) % 251)) AS BIGINT) AS content_sum
      |FROM documents""".stripMargin

  /** q365: decoded-pixel statistics — closed-form total / position-
    * weighted / per-channel sums over the same 768 reconstructed pixel
    * bytes (px_wsum is order-sensitive, so a scanline or filter mix-up
    * that preserves the byte multiset still mismatches).
    */
  val pngPixelStats: String =
    """SELECT doc_id AS media_id,
      |  CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
      |  CAST(768 AS INTEGER) AS n_px_bytes,
      |  CAST(list_sum(list_transform(range(0, 768),
      |    k -> (doc_id * 17 + k * 11) % 251)) AS BIGINT) AS px_sum,
      |  CAST(list_sum(list_transform(range(0, 768),
      |    k -> k * ((doc_id * 17 + k * 11) % 251))) AS BIGINT) AS px_wsum,
      |  CAST(list_sum(list_transform(list_filter(range(0, 768), k -> k % 3 = 0),
      |    k -> (doc_id * 17 + k * 11) % 251)) AS BIGINT) AS r_sum,
      |  CAST(list_sum(list_transform(list_filter(range(0, 768), k -> k % 3 = 1),
      |    k -> (doc_id * 17 + k * 11) % 251)) AS BIGINT) AS g_sum,
      |  CAST(list_sum(list_transform(list_filter(range(0, 768), k -> k % 3 = 2),
      |    k -> (doc_id * 17 + k * 11) % 251)) AS BIGINT) AS b_sum
      |FROM documents""".stripMargin

  /** q375: decoded-JPEG pixel statistics — closed form over the DC-only
    * synthetic corpus (constant 8×8 blocks round-trip losslessly through
    * huffman/DPCM/IDCT with all-1s quant tables; see ext/Jpeg.scala).
    * Color ids convert YCbCr→RGB with the decoder's fixed-point formula;
    * `>> 16` is a FLOOR shift, mirrored here by biasing the operand
    * +2^24 before truncating `//` (non-negative ⇒ truncate ≡ floor).
    */
  val jpegPixelStats: String = {
    def grayV(k: String) =
      s"(doc_id * 23 + ((($k) // 128) * 2 + ((($k) % 16) // 8)) * 53) % 256"
    def colorV(k: String) = {
      val bi = s"(((($k) // 3) // 128) * 2 + (((($k) // 3) % 16) // 8))"
      val yv = s"((doc_id * 29 + $bi * 37) % 256)"
      val cb = s"((doc_id * 31 + $bi * 41) % 256)"
      val cr = s"((doc_id * 37 + $bi * 43) % 256)"
      val r = s"LEAST(255, GREATEST(0, $yv + (91881 * ($cr - 128) + 32768 + 16777216) // 65536 - 256))"
      val g = s"LEAST(255, GREATEST(0, $yv - ((22554 * ($cb - 128) + 46802 * ($cr - 128) + 32768 + 16777216) // 65536 - 256)))"
      val b = s"LEAST(255, GREATEST(0, $yv + (116130 * ($cb - 128) + 32768 + 16777216) // 65536 - 256))"
      s"(CASE ($k) % 3 WHEN 0 THEN $r WHEN 1 THEN $g ELSE $b END)"
    }
    def v(k: String) =
      s"(CASE WHEN doc_id % 2 = 1 THEN ${grayV(k)} ELSE ${colorV(k)} END)"
    val n = "(CASE WHEN doc_id % 2 = 1 THEN 256 ELSE 768 END)"
    s"""SELECT doc_id AS media_id,
       |  CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
       |  CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 3 END AS INTEGER) AS n_comp,
       |  CAST($n AS INTEGER) AS n_px_bytes,
       |  CAST(list_sum(list_transform(range(0, $n),
       |    k -> ${v("k")})) AS BIGINT) AS px_sum,
       |  CAST(list_sum(list_transform(range(0, $n),
       |    k -> k * ${v("k")})) AS BIGINT) AS px_wsum,
       |  CAST(list_sum(list_transform(list_filter(range(0, $n), k -> k % 3 = 0),
       |    k -> ${v("k")})) AS BIGINT) AS c0_sum,
       |  CAST(list_sum(list_transform(list_filter(range(0, $n), k -> k % 3 = 1),
       |    k -> ${v("k")})) AS BIGINT) AS c1_sum,
       |  CAST(list_sum(list_transform(list_filter(range(0, $n), k -> k % 3 = 2),
       |    k -> ${v("k")})) AS BIGINT) AS c2_sum
       |FROM documents""".stripMargin
  }

  /** q380: the 4:2:0 corpus's closed form. 32×32 color, Y blocks on the
    * 8-px grid (4 per row), chroma blocks on the 16-px grid (2 per row —
    * half-resolution planes upsampled by replication, so pixel (x,y)
    * reads chroma block (y//16)*2 + (x//16)). Same fixed-point YCbCr→RGB
    * with the +2^24 bias trick for floor-shift semantics; every id is
    * color, ids divisible by 3 carry restart markers (pixel-invariant).
    */
  val jpeg420PixelStats: String = {
    def v(k: String) = {
      val pi = s"(($k) // 3)"
      val xq = s"($pi % 32)"; val yq = s"($pi // 32)"
      val biY = s"(($yq // 8) * 4 + ($xq // 8))"
      val biC = s"(($yq // 16) * 2 + ($xq // 16))"
      val yv = s"((doc_id * 29 + $biY * 37) % 256)"
      val cb = s"((doc_id * 31 + $biC * 41) % 256)"
      val cr = s"((doc_id * 37 + $biC * 43) % 256)"
      val r = s"LEAST(255, GREATEST(0, $yv + (91881 * ($cr - 128) + 32768 + 16777216) // 65536 - 256))"
      val g = s"LEAST(255, GREATEST(0, $yv - ((22554 * ($cb - 128) + 46802 * ($cr - 128) + 32768 + 16777216) // 65536 - 256)))"
      val b = s"LEAST(255, GREATEST(0, $yv + (116130 * ($cb - 128) + 32768 + 16777216) // 65536 - 256))"
      s"(CASE ($k) % 3 WHEN 0 THEN $r WHEN 1 THEN $g ELSE $b END)"
    }
    s"""SELECT doc_id AS media_id,
       |  CAST(32 AS INTEGER) AS width, CAST(32 AS INTEGER) AS height,
       |  CAST(3 AS INTEGER) AS n_comp,
       |  CAST(3072 AS INTEGER) AS n_px_bytes,
       |  CAST(list_sum(list_transform(range(0, 3072),
       |    k -> ${v("k")})) AS BIGINT) AS px_sum,
       |  CAST(list_sum(list_transform(range(0, 3072),
       |    k -> k * ${v("k")})) AS BIGINT) AS px_wsum,
       |  CAST(list_sum(list_transform(list_filter(range(0, 3072), k -> k % 3 = 0),
       |    k -> ${v("k")})) AS BIGINT) AS c0_sum,
       |  CAST(list_sum(list_transform(list_filter(range(0, 3072), k -> k % 3 = 1),
       |    k -> ${v("k")})) AS BIGINT) AS c1_sum,
       |  CAST(list_sum(list_transform(list_filter(range(0, 3072), k -> k % 3 = 2),
       |    k -> ${v("k")})) AS BIGINT) AS c2_sum
       |FROM documents""".stripMargin
  }

  /** q385: the progressive corpus's closed form. Progressive coding is a
    * transmission ORDER, not a different transform — the multi-scan
    * successive-approximation round trip reconstructs the exact same
    * quantized coefficients (DC split as ((dc >> 4) << 4) | (bit << 3);
    * dc = 8·(v−128) keeps bits 2..0 zero), so decoded pixels equal the
    * sequential closed form: odd ids 32×32 grayscale on the 8-px block
    * grid, even ids the q380 4:2:0 color form (Y on the 8-px grid,
    * chroma on the 16-px grid, fixed-point YCbCr→RGB with the +2^24
    * floor-shift bias).
    */
  val jpegProgressivePixelStats: String = {
    def grayV(k: String) =
      s"(doc_id * 23 + (((($k) // 256) * 4) + ((($k) % 32) // 8)) * 53) % 256"
    def colorV(k: String) = {
      val pi = s"(($k) // 3)"
      val xq = s"($pi % 32)"; val yq = s"($pi // 32)"
      val biY = s"(($yq // 8) * 4 + ($xq // 8))"
      val biC = s"(($yq // 16) * 2 + ($xq // 16))"
      val yv = s"((doc_id * 29 + $biY * 37) % 256)"
      val cb = s"((doc_id * 31 + $biC * 41) % 256)"
      val cr = s"((doc_id * 37 + $biC * 43) % 256)"
      val r = s"LEAST(255, GREATEST(0, $yv + (91881 * ($cr - 128) + 32768 + 16777216) // 65536 - 256))"
      val g = s"LEAST(255, GREATEST(0, $yv - ((22554 * ($cb - 128) + 46802 * ($cr - 128) + 32768 + 16777216) // 65536 - 256)))"
      val b = s"LEAST(255, GREATEST(0, $yv + (116130 * ($cb - 128) + 32768 + 16777216) // 65536 - 256))"
      s"(CASE ($k) % 3 WHEN 0 THEN $r WHEN 1 THEN $g ELSE $b END)"
    }
    def v(k: String) =
      s"(CASE WHEN doc_id % 2 = 1 THEN ${grayV(k)} ELSE ${colorV(k)} END)"
    val n = "(CASE WHEN doc_id % 2 = 1 THEN 1024 ELSE 3072 END)"
    s"""SELECT doc_id AS media_id,
       |  CAST(32 AS INTEGER) AS width, CAST(32 AS INTEGER) AS height,
       |  CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 3 END AS INTEGER) AS n_comp,
       |  CAST($n AS INTEGER) AS n_px_bytes,
       |  CAST(list_sum(list_transform(range(0, $n),
       |    k -> ${v("k")})) AS BIGINT) AS px_sum,
       |  CAST(list_sum(list_transform(range(0, $n),
       |    k -> k * ${v("k")})) AS BIGINT) AS px_wsum,
       |  CAST(list_sum(list_transform(list_filter(range(0, $n), k -> k % 3 = 0),
       |    k -> ${v("k")})) AS BIGINT) AS c0_sum,
       |  CAST(list_sum(list_transform(list_filter(range(0, $n), k -> k % 3 = 1),
       |    k -> ${v("k")})) AS BIGINT) AS c1_sum,
       |  CAST(list_sum(list_transform(list_filter(range(0, $n), k -> k % 3 = 2),
       |    k -> ${v("k")})) AS BIGINT) AS c2_sum
       |FROM documents""".stripMargin
  }

  /** q386: G.711 companding closed form — stateless per byte, so each
    * sample expands analytically: µ-law (even ids) complements the byte
    * then ((mant·8 + 132) << exp) − 132 with the sign from the top bit;
    * A-law (odd ids) XORs 0x55 then the per-segment affine expansion.
    * d(k) = (doc_id·7 + k·13) mod 256 replays the synth corpus.
    */
  val g711Stats: String = {
    val d = "((doc_id * 7 + k * 13) % 256)"
    val ux = s"(255 - $d)"
    val uT = s"((($ux % 16) * 8 + 132) << (($ux // 16) % 8))"
    val uPcm = s"(CASE WHEN $ux >= 128 THEN 132 - $uT ELSE $uT - 132 END)"
    val ax = s"xor($d, 85)"
    val aT = s"""(CASE ($ax // 16) % 8
       |      WHEN 0 THEN ($ax % 16) * 16 + 8
       |      WHEN 1 THEN ($ax % 16) * 16 + 264
       |      ELSE (($ax % 16) * 16 + 264) << ((($ax // 16) % 8) - 1) END)""".stripMargin
    val aPcm = s"(CASE WHEN $ax >= 128 THEN $aT ELSE -$aT END)"
    val v = s"(CASE WHEN doc_id % 2 = 0 THEN $uPcm ELSE $aPcm END)"
    s"""SELECT doc_id AS media_id,
       |  CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS codec,
       |  CAST(64 AS INTEGER) AS n_samples,
       |  CAST(list_sum(list_transform(range(0, 64), k -> $v)) AS BIGINT) AS pcm_sum,
       |  CAST(list_sum(list_transform(range(0, 64), k -> k * $v)) AS BIGINT) AS pcm_wsum,
       |  CAST(list_min(list_transform(range(0, 64), k -> $v)) AS INTEGER) AS pcm_min,
       |  CAST(list_max(list_transform(range(0, 64), k -> $v)) AS INTEGER) AS pcm_max
       |FROM documents""".stripMargin
  }

  /** q387: IMA ADPCM is a genuine per-sample state machine (predictor +
    * step index), so the oracle REPLAYS it — a recursive CTE stepping
    * k = 0..64 per doc through the public 89-entry step table, the
    * shift-add diff expansion (step//8 ± conditional step, step//2,
    * step//4 — exact: step ≥ 0 makes // a floor shift), int16 predictor
    * clamp, and [0,88] index clamp. Initial state and nibbles replay
    * the synth corpus: p0 = (id·31 mod 4096) − 2048, i0 = id mod 89,
    * n(k) = (id·11 + k·5) mod 16. The final (pred, index) pair is part
    * of the output — one wrong transition anywhere shifts every
    * downstream sample AND the end state.
    */
  val adpcmStats: String = {
    val stepTable = "[7,8,9,10,11,12,13,14,16,17," +
      "19,21,23,25,28,31,34,37,41,45," +
      "50,55,60,66,73,80,88,97,107,118," +
      "130,143,157,173,190,209,230,253,279,307," +
      "337,371,408,449,494,544,598,658,724,796," +
      "876,963,1060,1166,1282,1411,1552,1707,1878,2066," +
      "2272,2499,2749,3024,3327,3660,4026,4428,4871,5358," +
      "5894,6484,7132,7845,8630,9493,10442,11487,12635,13899," +
      "15289,16818,18500,20350,22385,24623,27086,29794,32767]"
    val newPred = "GREATEST(-32768, LEAST(32767, " +
      "pred + CASE WHEN nib >= 8 THEN -df ELSE df END))"
    s"""WITH RECURSIVE steps AS (
       |  SELECT doc_id, 0 AS k,
       |    CAST((doc_id * 31) % 4096 - 2048 AS INTEGER) AS pred,
       |    CAST(doc_id % 89 AS INTEGER) AS idx,
       |    CAST((doc_id * 31) % 4096 - 2048 AS BIGINT) AS psum,
       |    CAST(0 AS BIGINT) AS pwsum
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id, k + 1,
       |    CAST($newPred AS INTEGER),
       |    CAST(GREATEST(0, LEAST(88, idx +
       |      CASE (nib & 7) WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6
       |                     WHEN 7 THEN 8 ELSE -1 END)) AS INTEGER),
       |    psum + $newPred,
       |    pwsum + CAST(k + 1 AS BIGINT) * $newPred
       |  FROM (
       |    SELECT doc_id, k, pred, idx, psum, pwsum, nib,
       |      (st // 8) + CASE WHEN (nib & 4) > 0 THEN st ELSE 0 END
       |                + CASE WHEN (nib & 2) > 0 THEN st // 2 ELSE 0 END
       |                + CASE WHEN (nib & 1) > 0 THEN st // 4 ELSE 0 END AS df
       |    FROM (
       |      SELECT s.*, CAST((doc_id * 11 + k * 5) % 16 AS INTEGER) AS nib,
       |        $stepTable[idx + 1] AS st
       |      FROM steps s
       |    )
       |  ) WHERE k < 64
       |)
       |SELECT doc_id AS media_id, CAST(65 AS INTEGER) AS n_samples,
       |  psum AS pcm_sum, pwsum AS pcm_wsum,
       |  pred AS end_pred, idx AS end_index
       |FROM steps WHERE k = 64""".stripMargin
  }

  /** q388: MJPEG-in-AVI closed form. The container adds no pixel math —
    * each frame f of video id is exactly the q375 synthetic JPEG with
    * frame id 4·id + f, so per-frame sums reuse that closed form with
    * the id expression substituted. Frames 0/2 are color (even ids,
    * 768 bytes), frames 1/3 grayscale (256 bytes) — the per-frame
    * columns pin each frame's independent decode.
    */
  val mjpegStats: String = {
    def graySum(idE: String) =
      s"list_sum(list_transform(range(0, 256), k -> " +
        s"(($idE) * 23 + ((k // 128) * 2 + ((k % 16) // 8)) * 53) % 256))"
    def colorSum(idE: String) = {
      val bi = "(((k // 3) // 128) * 2 + (((k // 3) % 16) // 8))"
      val yv = s"((($idE) * 29 + $bi * 37) % 256)"
      val cb = s"((($idE) * 31 + $bi * 41) % 256)"
      val cr = s"((($idE) * 37 + $bi * 43) % 256)"
      val r = s"LEAST(255, GREATEST(0, $yv + (91881 * ($cr - 128) + 32768 + 16777216) // 65536 - 256))"
      val g = s"LEAST(255, GREATEST(0, $yv - ((22554 * ($cb - 128) + 46802 * ($cr - 128) + 32768 + 16777216) // 65536 - 256)))"
      val b = s"LEAST(255, GREATEST(0, $yv + (116130 * ($cb - 128) + 32768 + 16777216) // 65536 - 256))"
      s"list_sum(list_transform(range(0, 768), k -> " +
        s"(CASE k % 3 WHEN 0 THEN $r WHEN 1 THEN $g ELSE $b END)))"
    }
    s"""SELECT media_id, n_frames, n_frames_declared, width, height,
       |  f0_sum, f1_sum, f2_sum, f3_sum,
       |  f0_sum + f1_sum + f2_sum + f3_sum AS px_sum
       |FROM (
       |  SELECT doc_id AS media_id,
       |    CAST(4 AS INTEGER) AS n_frames,
       |    CAST(4 AS INTEGER) AS n_frames_declared,
       |    CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
       |    CAST(${colorSum("doc_id * 4")} AS BIGINT) AS f0_sum,
       |    CAST(${graySum("doc_id * 4 + 1")} AS BIGINT) AS f1_sum,
       |    CAST(${colorSum("doc_id * 4 + 2")} AS BIGINT) AS f2_sum,
       |    CAST(${graySum("doc_id * 4 + 3")} AS BIGINT) AS f3_sum
       |  FROM documents
       |)""".stripMargin
  }

  /** q389: audio features over the decoded G.711 PCM — energy (Σv²),
    * zero crossings (sign flips between consecutive samples, negative
    * vs non-negative), and peak magnitude. Same per-byte companding
    * closed form as q386, evaluated pointwise and pairwise.
    */
  val audioFeatures: String = {
    def pcm(kE: String): String = {
      val d = s"((doc_id * 7 + ($kE) * 13) % 256)"
      val ux = s"(255 - $d)"
      val uT = s"((($ux % 16) * 8 + 132) << (($ux // 16) % 8))"
      val uPcm = s"(CASE WHEN $ux >= 128 THEN 132 - $uT ELSE $uT - 132 END)"
      val ax = s"xor($d, 85)"
      val aT = s"(CASE ($ax // 16) % 8" +
        s" WHEN 0 THEN ($ax % 16) * 16 + 8" +
        s" WHEN 1 THEN ($ax % 16) * 16 + 264" +
        s" ELSE (($ax % 16) * 16 + 264) << ((($ax // 16) % 8) - 1) END)"
      val aPcm = s"(CASE WHEN $ax >= 128 THEN $aT ELSE -$aT END)"
      s"(CASE WHEN doc_id % 2 = 0 THEN $uPcm ELSE $aPcm END)"
    }
    s"""SELECT doc_id AS media_id,
       |  CAST(64 AS INTEGER) AS n_samples,
       |  CAST(list_sum(list_transform(range(0, 64),
       |    k -> CAST(${pcm("k")} AS BIGINT) * ${pcm("k")})) AS BIGINT) AS energy,
       |  CAST(list_sum(list_transform(range(1, 64), k ->
       |    CASE WHEN (${pcm("k")} < 0) != (${pcm("k - 1")} < 0)
       |         THEN 1 ELSE 0 END)) AS INTEGER) AS zero_crossings,
       |  CAST(list_max(list_transform(range(0, 64),
       |    k -> abs(${pcm("k")}))) AS INTEGER) AS peak_abs
       |FROM documents""".stripMargin
  }

  /** q390: generalized-PNG closed form. PNG is lossless, and
    * deinterlacing only changes TRANSMISSION order — the final raster
    * equals the per-pixel formula regardless of Adam7, filters, or IDAT
    * splits, so each variant is analytic: 0 = 21×13 RGB8
    * (sample = (id·5 + pix·3 + c·17) mod 256), 1 = 16×16 palette→RGB
    * (index (id·13 + pix) mod 32 through the formula palette),
    * 2 = 12×9 gray16 (big-endian byte pairs of (id·257 + s·101) mod
    * 65536), 3 = 3×3 interlaced palette.
    */
  val pngFullStats: String = {
    val v0 = "((doc_id * 5 + (k // 3) * 3 + (k % 3) * 17) % 256)"
    def pal(idxE: String) =
      s"(CASE k % 3 WHEN 0 THEN (doc_id * 29 + $idxE * 31) % 256" +
        s" WHEN 1 THEN (doc_id * 31 + $idxE * 37) % 256" +
        s" ELSE (doc_id * 37 + $idxE * 41) % 256 END)"
    val v1 = pal("((doc_id * 13 + (k // 3)) % 32)")
    val v2 = "(CASE k % 2 WHEN 0 THEN ((doc_id * 257 + (k // 2) * 101) % 65536) // 256" +
      " ELSE ((doc_id * 257 + (k // 2) * 101) % 65536) % 256 END)"
    val v3 = v1 // same palette construction, smaller raster
    val v = s"(CASE doc_id % 4 WHEN 0 THEN $v0 WHEN 1 THEN $v1" +
      s" WHEN 2 THEN $v2 ELSE $v3 END)"
    val n = "(CASE doc_id % 4 WHEN 0 THEN 819 WHEN 1 THEN 768 WHEN 2 THEN 216 ELSE 27 END)"
    s"""SELECT doc_id AS media_id,
       |  CAST(doc_id % 4 AS INTEGER) AS variant,
       |  CAST(CASE doc_id % 4 WHEN 0 THEN 21 WHEN 1 THEN 16 WHEN 2 THEN 12 ELSE 3 END AS INTEGER) AS width,
       |  CAST(CASE doc_id % 4 WHEN 0 THEN 13 WHEN 1 THEN 16 WHEN 2 THEN 9 ELSE 3 END AS INTEGER) AS height,
       |  CAST(CASE doc_id % 4 WHEN 2 THEN 1 ELSE 3 END AS INTEGER) AS channels,
       |  CAST(CASE doc_id % 4 WHEN 2 THEN 16 ELSE 8 END AS INTEGER) AS bit_depth,
       |  CAST($n AS INTEGER) AS n_px_bytes,
       |  CAST(list_sum(list_transform(range(0, $n),
       |    k -> $v)) AS BIGINT) AS px_sum,
       |  CAST(list_sum(list_transform(range(0, $n),
       |    k -> k * $v)) AS BIGINT) AS px_wsum
       |FROM documents""".stripMargin
  }

  /** q391: EXIF closed form — every field is an affine/doubling
    * function of id (the engine walks SOI → APP1 → TIFF header → IFD0 →
    * Exif sub-IFD to recover them; the oracle recomputes directly).
    * Both byte orders appear (II even ids, MM odd), so a parser that
    * got one endianness wrong diverges on half the corpus.
    */
  val exifStats: String =
    s"""SELECT doc_id AS media_id,
       |  CASE WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END AS endian,
       |  CAST((doc_id % 8) + 1 AS INTEGER) AS orientation,
       |  CAST(640 + (doc_id * 7) % 3200 AS INTEGER) AS width,
       |  CAST(480 + (doc_id * 11) % 2400 AS INTEGER) AS height,
       |  CAST(640 + (doc_id * 7) % 3200 - (doc_id % 16) AS INTEGER) AS pixel_x,
       |  CAST(100 * (1 << (doc_id % 7)) AS INTEGER) AS iso
       |FROM documents""".stripMargin

  /** q383: the quality-scaled DQT closed form. Annex-K base tables as
    * literals, the IJG integer scaling ((k·scale + 50) // 100 clamped to
    * [1, 255], scale = 5000 // q below 50 else 200 − 2q), and the same
    * deterministic argmin-L1 estimator the engine runs: first index of
    * the minimal candidate distance (list_position finds the FIRST hit,
    * ties to the lowest quality — the engine's `d < bestD` rule).
    * Position-weighted sums are over NATURAL order, pinning the engine's
    * zigzag undo.
    */
  val jpegQualityStats: String = {
    val kl = "[16,11,10,16,24,40,51,61,12,12,14,19,26,58,60,55," +
      "14,13,16,24,40,57,69,56,14,17,22,29,51,87,80,62," +
      "18,22,37,56,68,109,103,77,24,35,55,64,81,104,113,92," +
      "49,64,78,87,103,121,120,101,72,92,95,98,112,100,103,99]"
    val kc = "[17,18,24,47,99,99,99,99,18,21,26,66,99,99,99,99," +
      "24,26,56,99,99,99,99,99,47,66,99,99,99,99,99,99," +
      "99,99,99,99,99,99,99,99,99,99,99,99,99,99,99,99," +
      "99,99,99,99,99,99,99,99,99,99,99,99,99,99,99,99]"
    def scaled(base: String, q: String) =
      s"list_transform($base, x -> LEAST(255, GREATEST(1, (x * " +
        s"(CASE WHEN $q < 50 THEN 5000 // $q ELSE 200 - 2 * $q END)" +
        s" + 50) // 100)))"
    def dists(obs: String, base: String) =
      s"""list_transform(range(1, 101), c -> list_sum(
         |    list_transform(range(1, 65),
         |      i -> abs(${scaled(base, "c")}[CAST(i AS INTEGER)]
         |             - $obs[CAST(i AS INTEGER)]))))""".stripMargin
    // everything downstream of doc_id depends ONLY on q = q_true (≤ 94
    // distinct values), so the argmin/sums run per distinct q and join
    // back — 94×100×64 lambda evals total instead of 51k×100×64 at sf1
    // (the per-doc spelling ground DuckDB for half an hour there)
    s"""WITH d AS (
       |  SELECT doc_id, 5 + ((doc_id % 94) * 7) % 94 AS q FROM documents
       |), qv AS MATERIALIZED (
       |  SELECT DISTINCT q FROM d
       |), obs AS MATERIALIZED (
       |  SELECT q, ${scaled(kl, "q")} AS lt, ${scaled(kc, "q")} AS ct
       |  FROM qv
       |), dl AS MATERIALIZED (
       |  SELECT q,
       |    CAST(list_position(ld, list_min(ld)) AS INTEGER) AS q_lum,
       |    CAST(list_position(cd, list_min(cd)) AS INTEGER) AS q_chr,
       |    CAST(list_sum(lt) AS BIGINT) AS lum_sum,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> (i - 1) * lt[CAST(i AS INTEGER)])) AS BIGINT) AS lum_wsum,
       |    CAST(list_sum(ct) AS BIGINT) AS chr_sum,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> (i - 1) * ct[CAST(i AS INTEGER)])) AS BIGINT) AS chr_wsum
       |  FROM (
       |    SELECT q, lt, ct,
       |      ${dists("lt", kl)} AS ld,
       |      ${dists("ct", kc)} AS cd
       |    FROM obs)
       |)
       |SELECT d.doc_id AS media_id, dl.q_lum, dl.q_chr,
       |  dl.lum_sum, dl.lum_wsum, dl.chr_sum, dl.chr_wsum
       |FROM d JOIN dl USING (q)""".stripMargin
  }

  /** q245: per-eval-doc n-gram containment (q54's dual). Same gram
    * derivation as the q54 oracle; the train side deduplicates to a
    * corpus-wide gram set (the oracle can afford the full distinct the
    * engine-side broadcast-filter shape avoids). Floor division on
    * non-negative counts matches Spark's `div`.
    */
  def evalContainment(n: Int): String =
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws
       |  FROM documents
       |), evg AS (
       |  SELECT DISTINCT doc_id AS eval_id, gram FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - ${n - 1}),
       |      i -> array_to_string(list_slice(ws, i, i + ${n - 1}), ' '))) AS gram
       |    FROM docs WHERE doc_id % 20 = 0)
       |), trg AS (
       |  SELECT DISTINCT gram FROM (
       |    SELECT unnest(list_transform(generate_series(1, len(ws) - ${n - 1}),
       |      i -> array_to_string(list_slice(ws, i, i + ${n - 1}), ' '))) AS gram
       |    FROM docs WHERE doc_id % 20 <> 0)
       |), tot AS (
       |  SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM evg GROUP BY 1
       |), hit AS (
       |  SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS n_contained
       |  FROM evg JOIN trg USING (gram) GROUP BY 1
       |)
       |SELECT t.eval_id, t.n_grams,
       |  CAST(COALESCE(h.n_contained, 0) AS BIGINT) AS n_contained,
       |  CAST(COALESCE(h.n_contained, 0) * 1000000 // t.n_grams AS BIGINT) AS containment_ppm
       |FROM tot t LEFT JOIN hit h USING (eval_id)""".stripMargin

  /** q246: the explicit spelling of GROUP BY ALL. */
  val groupByAll: String =
    """SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events GROUP BY 1, 2""".stripMargin

  /** q247: the parameterized query with its arguments inlined. */
  val paramSql: String =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |FROM lineitem WHERE l_quantity >= 30 AND l_discount <= 0.05
      |GROUP BY 1""".stripMargin

  /** q248: ordered listagg ≡ DuckDB's ordered string_agg. Sort key
    * (l_linenumber, l_partkey) — this corpus reuses linenumbers within an
    * order, and after the partkey tiebreak any remaining ties are
    * identical strings, so the concat is total.
    */
  val listaggBaskets: String =
    """SELECT l_orderkey,
      |  string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_linenumber, l_partkey) AS parts
      |FROM lineitem GROUP BY 1""".stripMargin

  /** q249: water-filling allocator, term-for-term the engine's integer
    * algorithm (capped-prefix test `cap·m + w_prev ≤ B`, floor-div base,
    * name-ordered remainder). `//`/`%` on non-negative BIGINTs match
    * Spark's `div`/`pmod`.
    */
  def waterFill(budget: Long): String =
    s"""WITH caps AS (
       |  SELECT source AS stratum, CAST(SUM(n_chars) AS BIGINT) AS cap
       |  FROM documents GROUP BY 1
       |), st AS (
       |  SELECT stratum, cap,
       |    CAST(COALESCE(SUM(cap) OVER (ORDER BY cap, stratum
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS w_prev,
       |    CAST(COUNT(*) OVER () - ROW_NUMBER() OVER (ORDER BY cap, stratum) + 1 AS BIGINT) AS m
       |  FROM caps
       |), fl AS (
       |  SELECT *, (cap * m + w_prev <= $budget) AS capped FROM st
       |), agg AS (
       |  SELECT CAST(COALESCE(SUM(CASE WHEN capped THEN cap END), 0) AS BIGINT) AS sum_capped,
       |    CAST(SUM(CASE WHEN capped THEN 0 ELSE 1 END) AS BIGINT) AS n_uncapped
       |  FROM fl
       |)
       |SELECT stratum, cap AS cap_tokens,
       |  CAST(CASE WHEN capped THEN cap
       |    ELSE ($budget - sum_capped) // n_uncapped
       |       + (CASE WHEN ROW_NUMBER() OVER (PARTITION BY capped ORDER BY stratum)
       |               <= ($budget - sum_capped) % n_uncapped THEN 1 ELSE 0 END)
       |  END AS BIGINT) AS alloc_tokens
       |FROM fl CROSS JOIN agg""".stripMargin

  /** Moment CTEs: quantize → exact HUGEINT sums → covariance scaled to
    * BIGINT by `n²·10⁴` (named `pc`).
    */
  private def pcaMomentCtes(dim: Int = 64): String =
    s"""pq AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS v
       |  FROM embeddings),
       |pn AS MATERIALIZED (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM pq),
       |ps AS MATERIALIZED (
       |  SELECT i, CAST(SUM(v[CAST(i AS INTEGER)]) AS HUGEINT) AS s
       |  FROM pq, generate_series(1, $dim) t(i) GROUP BY 1),
       |pg AS MATERIALIZED (
       |  SELECT i, j,
       |    CAST(SUM(CAST(v[CAST(i AS INTEGER)] AS HUGEINT) * v[CAST(j AS INTEGER)]) AS HUGEINT) AS g
       |  FROM pq, generate_series(1, $dim) t(i), generate_series(1, $dim) u(j)
       |  GROUP BY 1, 2),
       |pc AS MATERIALIZED (
       |  SELECT pg.i, pg.j,
       |    CAST((pn.n * pg.g - si.s * sj.s) // (pn.n * pn.n * 10000) AS BIGINT) AS c2
       |  FROM pg, pn, ps si, ps sj WHERE si.i = pg.i AND sj.i = pg.j)""".stripMargin

  /** Unrolled power chain over matrix CTE `mat` (columns i, j, c2), CTE
    * names prefixed by `p` — ends in signed loadings `${p}ld(i, lv)`.
    */
  private def pcaPowerCtes(p: String, mat: String, iterations: Int,
                           dim: Int = 64): String = {
    val head =
      s"""${p}v0 AS MATERIALIZED (SELECT i, CAST(1000 AS BIGINT) AS v FROM generate_series(1, $dim) t(i))""".stripMargin
    val steps = (1 to iterations).map { k =>
      s"""${p}w$k AS MATERIALIZED (
         |  SELECT $mat.i, CAST(SUM($mat.c2 * v.v) AS BIGINT) AS w
         |  FROM $mat JOIN ${p}v${k - 1} v ON v.i = $mat.j GROUP BY 1),
         |${p}m$k AS MATERIALIZED (SELECT MAX(ABS(w)) AS m FROM ${p}w$k),
         |${p}v$k AS MATERIALIZED (
         |  SELECT w.i,
         |    CAST(CASE WHEN m = 0 THEN pv.v ELSE (w.w * 1000) // m END AS BIGINT) AS v
         |  FROM ${p}w$k w JOIN ${p}v${k - 1} pv ON pv.i = w.i CROSS JOIN ${p}m$k)""".stripMargin
    }
    val tail =
      s"""${p}sgn AS MATERIALIZED (
         |  SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg FROM ${p}v$iterations
         |  WHERE i = (SELECT i FROM ${p}v$iterations ORDER BY ABS(v) DESC, i LIMIT 1)),
         |${p}ld AS MATERIALIZED (SELECT i, CAST(v * sg AS BIGINT) AS lv FROM ${p}v$iterations, ${p}sgn)""".stripMargin
    (Seq(head) ++ steps :+ tail).mkString(",\n")
  }

  /** CTE chain replaying Pca exactly: quantize → exact HUGEINT moments →
    * centered n-scaled covariance scaled to BIGINT by `n²·10⁴` (HUGEINT
    * `//` truncates toward zero, measured identical to Spark's DECIMAL
    * `div` and Scala BigInt `/`) → `iterations` unrolled power steps
    * renormalizing to ‖v‖∞ = 1000 → deterministic sign fix. The final
    * signed-loading CTE is named `ld` (1-based dim index `i`).
    */
  private def pcaCtes(iterations: Int, dim: Int = 64): String =
    pcaMomentCtes(dim) + ",\n" + pcaPowerCtes("p", "pc", iterations, dim) +
      ",\nld AS MATERIALIZED (SELECT i, lv FROM pld)"

  /** q250: the trained top principal component (0-based dim index). */
  def pcaComponent(iterations: Int): String =
    s"""WITH ${pcaCtes(iterations)}
       |SELECT CAST(i - 1 AS INTEGER) AS dim_idx, lv AS loading FROM ld""".stripMargin

  /** q253: the SECOND component — deflate the trained first component out
    * of both sides (`⌊(VV·I − vvᵀ) C (VV·I − vvᵀ) / VV²⌋`, VV = vᵀv, all
    * intermediates HUGEINT, truncating division) and power-iterate again.
    * Mirrors Pca.deflate term-for-term.
    */
  def pcaSecondComponent(iterations: Int): String = {
    // CTE names use a "df" prefix — the power chains own p*/q* (pm1 is
    // chain p's step-1 max)
    val defl =
      s"""dfvv AS MATERIALIZED (SELECT CAST(SUM(CAST(lv AS HUGEINT) * lv) AS HUGEINT) AS vv FROM pld),
         |dfvtc AS MATERIALIZED (
         |  SELECT pc.j, CAST(SUM(CAST(ld.lv AS HUGEINT) * pc.c2) AS HUGEINT) AS t
         |  FROM pc JOIN pld ld ON ld.i = pc.i GROUP BY pc.j),
         |dfm1 AS MATERIALIZED (
         |  SELECT pc.i, pc.j,
         |    CAST(dfvv.vv * pc.c2 - CAST(li.lv AS HUGEINT) * vt.t AS HUGEINT) AS m
         |  FROM pc, dfvv, pld li, dfvtc vt WHERE li.i = pc.i AND vt.j = pc.j),
         |dfm1v AS MATERIALIZED (
         |  SELECT m1.i, CAST(SUM(m1.m * lj.lv) AS HUGEINT) AS mv
         |  FROM dfm1 m1 JOIN pld lj ON lj.i = m1.j GROUP BY m1.i),
         |pdef AS MATERIALIZED (
         |  SELECT m1.i, m1.j,
         |    CAST((dfvv.vv * m1.m - mv.mv * CAST(lj.lv AS HUGEINT)) // (dfvv.vv * dfvv.vv) AS BIGINT) AS c2
         |  FROM dfm1 m1, dfvv, dfm1v mv, pld lj WHERE mv.i = m1.i AND lj.i = m1.j)""".stripMargin
    s"""WITH ${pcaMomentCtes()},
       |${pcaPowerCtes("p", "pc", iterations)},
       |$defl,
       |${pcaPowerCtes("q", "pdef", iterations)}
       |SELECT CAST(i - 1 AS INTEGER) AS dim_idx, lv AS loading FROM qld""".stripMargin
  }

  /** q252: Heaps-law vocabulary growth at nested hash permille prefixes.
    * Same token spelling as textStats' toks_l; each word's FIRST prefix
    * is min(hp), so all thresholds read one aggregate.
    */
  def vocabGrowth(permilles: Seq[Int], j: Int): String = {
    val h = mixSql("doc_id", j)
    val values = permilles.distinct.sorted.map(p => s"($p)").mkString(", ")
    s"""WITH dh AS MATERIALIZED (
       |  SELECT ($h) % 1000 AS hp, text FROM documents),
       |fw AS MATERIALIZED (
       |  SELECT word, MIN(hp) AS first_hp FROM (
       |    SELECT hp, unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |      x -> x <> '')) AS word
       |    FROM dh) GROUP BY 1)
       |SELECT CAST(p AS BIGINT) AS permille,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM dh WHERE hp < p) AS n_docs,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM fw WHERE first_hp < p) AS vocab
       |FROM (VALUES $values) t(p)""".stripMargin
  }

  /** CTE chain replaying LinearModel.train exactly: the feature CTE uses
    * the SQL spellings verified count-for-count against the native
    * text-stats kernel; each epoch is one aggregate over (features ×
    * current weights) with the mean update's truncating division.
    * Ends in the single-row weight CTE `lw$epochs (w0..w3)`.
    */
  private def perceptronCtes(epochs: Int, positiveSql: String): String = {
    val stops = inList(TextAnalysis.englishStopwords)
    val head =
      s"""lraw AS MATERIALIZED (
         |  SELECT CASE WHEN $positiveSql THEN 1 ELSE -1 END AS y,
         |    CAST(1 AS BIGINT) AS f0,
         |    CAST(len(toks) AS BIGINT) AS f1,
         |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS BIGINT) AS f2,
         |    CAST(len(list_filter(toks, x -> list_contains($stops, x))) AS BIGINT) AS f3
         |  FROM ($textStats) t JOIN (
         |    SELECT doc_id, text,
         |      list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
         |    FROM documents) d USING (doc_id)),
         |lmu AS MATERIALIZED (
         |  SELECT CAST(SUM(f1) // COUNT(*) AS BIGINT) AS m1,
         |    CAST(SUM(f2) // COUNT(*) AS BIGINT) AS m2,
         |    CAST(SUM(f3) // COUNT(*) AS BIGINT) AS m3
         |  FROM lraw),
         |lf AS MATERIALIZED (
         |  SELECT y, f0, f1 - m1 AS f1, f2 - m2 AS f2, f3 - m3 AS f3
         |  FROM lraw, lmu),
         |lw0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
         |  CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)""".stripMargin
    val margin = "(w0*f0 + w1*f1 + w2*f2 + w3*f3)"
    val steps = (1 to epochs).map { e =>
      val gs = (0 to 3).map(k =>
        s"CAST(COALESCE(SUM(CASE WHEN y * $margin <= 0 THEN y * f$k END), 0) AS BIGINT) AS g$k")
        .mkString(",\n         |    ")
      s"""lu$e AS MATERIALIZED (
         |  SELECT $gs,
         |    CAST(SUM(CASE WHEN y * $margin <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS m
         |  FROM lf, lw${e - 1}),
         |lw$e AS MATERIALIZED (
         |  SELECT w0 + g0 * 1000 // (GREATEST(m, 1) * $e) AS w0,
         |         w1 + g1 * 1000 // (GREATEST(m, 1) * $e) AS w1,
         |         w2 + g2 * 1000 // (GREATEST(m, 1) * $e) AS w2,
         |         w3 + g3 * 1000 // (GREATEST(m, 1) * $e) AS w3
         |  FROM lw${e - 1}, lu$e)""".stripMargin
    }
    // POCKET (Gallant 1990), mirroring LinearModel.train: lu$e holds the
    // miss count of lw${e-1}, plus one final-weights evaluation; the
    // returned model is the candidate with the fewest misses, earliest
    // epoch on ties.
    val finalEval =
      s"""luF AS MATERIALIZED (
         |  SELECT CAST(SUM(CASE WHEN y * $margin <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS m
         |  FROM lf, lw$epochs)""".stripMargin
    val cands = (0 until epochs).map { t =>
      s"SELECT $t AS t, w0, w1, w2, w3, m FROM lw$t, lu${t + 1}"
    } :+ s"SELECT $epochs AS t, w0, w1, w2, w3, m FROM lw$epochs, luF"
    val pocket =
      s"""lcand AS MATERIALIZED (
         |  ${cands.mkString("\n  UNION ALL ")}),
         |lpocket AS MATERIALIZED (
         |  SELECT w0, w1, w2, w3 FROM lcand ORDER BY m, t LIMIT 1)""".stripMargin
    (Seq(head) ++ steps ++ Seq(finalEval, pocket)).mkString(",\n")
  }

  /** q254: distilled-gate perceptron weights, one row per feature. */
  def perceptronWeights(epochs: Int, positiveSql: String = "t.quality >= 0.66"): String =
    s"""WITH ${perceptronCtes(epochs, positiveSql)}
       |SELECT CAST(0 AS INTEGER) AS feat_idx, w0 AS weight FROM lpocket
       |UNION ALL SELECT 1, w1 FROM lpocket
       |UNION ALL SELECT 2, w2 FROM lpocket
       |UNION ALL SELECT 3, w3 FROM lpocket""".stripMargin

  /** q255: confusion counts of the trained model over the corpus
    * (prediction = margin > 0; zero margin predicts negative).
    */
  def perceptronEval(epochs: Int, positiveSql: String = "t.quality >= 0.66"): String = {
    val margin = "(w0*f0 + w1*f1 + w2*f2 + w3*f3)"
    s"""WITH ${perceptronCtes(epochs, positiveSql)}
       |SELECT
       |  CAST(SUM(CASE WHEN y = 1 AND $margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |  CAST(SUM(CASE WHEN y = -1 AND $margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |  CAST(SUM(CASE WHEN y = -1 AND $margin <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |  CAST(SUM(CASE WHEN y = 1 AND $margin <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |FROM lf, lpocket""".stripMargin
  }

  /** q317: AUC of the trained margin vs the true gate — the q313
    * rank-sum readout over the perceptron-scored frame.
    */
  def gateAuc(epochs: Int, positiveSql: String = "t.quality >= 0.66"): String = {
    val margin = "(w0*f0 + w1*f1 + w2*f2 + w3*f3)"
    s"""WITH ${perceptronCtes(epochs, positiveSql)},
       |sc AS (SELECT CASE WHEN y = 1 THEN 1 ELSE 0 END AS isA,
       |       $margin AS v FROM lf, lpocket),
       |bv AS (
       |  SELECT v, CAST(SUM(isA) AS BIGINT) AS ca,
       |    CAST(SUM(1 - isA) AS BIGINT) AS cb
       |  FROM sc GROUP BY 1),
       |cum AS (
       |  SELECT ca, cb,
       |    CAST(SUM(cb) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
       |      - cb AS cum_b_lt
       |  FROM bv),
       |m AS (
       |  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
       |    CAST(SUM(ca::HUGEINT * cum_b_lt) AS HUGEINT) AS gt,
       |    CAST(SUM(ca::HUGEINT * cb) AS HUGEINT) AS eq
       |  FROM cum)
       |SELECT n_a, n_b, CAST(2 * gt + eq AS BIGINT) AS u2,
       |  CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE
       |    (2 * gt + eq) * 1000000 // (2 * n_a::HUGEINT * n_b) END AS BIGINT)
       |    AS auc_ppm
       |FROM m""".stripMargin
  }

  /** q318: per-type inter-arrival seconds (lag over the per-user keyed
    * window, event_id tie-break) at the q310 ceil-rank convention.
    */
  def interarrivalQuantiles(ppms: Seq[Long]): String =
    s"""WITH g AS (
       |  SELECT event_type AS key,
       |    (epoch_us(ts) - epoch_us(lag(ts) OVER (
       |      PARTITION BY user_id, event_type ORDER BY ts, event_id)))
       |      // 1000000 AS x
       |  FROM events),
       |v AS (SELECT key, CAST(x AS BIGINT) AS x FROM g WHERE x IS NOT NULL),
       |n AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
       |r AS (SELECT key, x,
       |  row_number() OVER (PARTITION BY key ORDER BY x) AS rn FROM v),
       |q AS (SELECT CAST(unnest([${ppms.mkString(", ")}]) AS BIGINT) AS q_ppm)
       |SELECT r.key, q.q_ppm,
       |  CAST(GREATEST(1, (q.q_ppm::HUGEINT * n.n + 999999) // 1000000) AS BIGINT) AS rank,
       |  r.x AS value
       |FROM q CROSS JOIN n
       |JOIN r ON r.key = n.key
       |  AND r.rn = GREATEST(1, (q.q_ppm::HUGEINT * n.n + 999999) // 1000000)""".stripMargin

  /** q319: precision/recall@k curve over the q295 panel — micro
    * precision, macro (per-query floored) recall, binary label-match
    * qrels.
    */
  def prCurve(mod: Int, kMax: Int): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % $mod = 0),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       |p AS (SELECT query_id, neighbor_id, qv, cv FROM q, c WHERE query_id <> neighbor_id),
       |$dotsCte,
       |rk AS (
       |  SELECT query_id, neighbor_id AS doc_id, rnk FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
       |    FROM scored) WHERE rnk <= $kMax),
       |ql AS (SELECT vec_id AS query_id, label AS l FROM embeddings WHERE vec_id % $mod = 0),
       |qr AS (
       |  SELECT query_id, e.vec_id AS doc_id
       |  FROM ql JOIN embeddings e ON e.label = ql.l
       |  WHERE e.vec_id <> query_id),
       |nrel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel FROM qr GROUP BY 1),
       |panel AS (SELECT DISTINCT query_id FROM rk),
       |pn AS (SELECT panel.query_id, COALESCE(nrel.n_rel, 0) AS n_rel
       |       FROM panel LEFT JOIN nrel USING (query_id)),
       |hits AS (
       |  SELECT rk.query_id, rk.rnk,
       |    CASE WHEN qr.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
       |  FROM rk LEFT JOIN qr USING (query_id, doc_id)),
       |ks AS (SELECT CAST(unnest(generate_series(1, $kMax)) AS BIGINT) AS k),
       |pqk AS (
       |  SELECT h.query_id, ks.k, CAST(SUM(h.rel) AS BIGINT) AS hits,
       |    CAST(COUNT(*) AS BIGINT) AS slots
       |  FROM hits h JOIN ks ON h.rnk <= ks.k GROUP BY 1, 2),
       |grid AS (
       |  SELECT pn.query_id, ks.k, pn.n_rel, COALESCE(pqk.hits, 0) AS hits,
       |    COALESCE(pqk.slots, 0) AS slots
       |  FROM pn CROSS JOIN ks
       |  LEFT JOIN pqk ON pqk.query_id = pn.query_id AND pqk.k = ks.k)
       |SELECT k, CAST(SUM(hits) AS BIGINT) AS total_hits,
       |  CASE WHEN SUM(slots) = 0 THEN NULL
       |    ELSE CAST(SUM(hits)::HUGEINT * 1000000 // SUM(slots) AS BIGINT) END AS p_at_k_ppm,
       |  CAST(SUM(CASE WHEN n_rel = 0 THEN 0
       |    ELSE hits::HUGEINT * 1000000 // n_rel END) // COUNT(*) AS BIGINT) AS r_at_k_ppm
       |FROM grid GROUP BY 1""".stripMargin

  /** q320: Kaplan–Meier — the engine's scaled-floor recursion replayed
    * as a recursive CTE over the ordered by-duration table.
    */
  val kaplanMeier: String =
    """WITH RECURSIVE o2 AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od, o_orderkey FROM orders),
      |r AS (SELECT o_custkey, od,
      |  row_number() OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey) AS rn
      |  FROM o2),
      |fs AS (SELECT o_custkey,
      |  MAX(CASE WHEN rn = 1 THEN od END) AS first_d,
      |  MAX(CASE WHEN rn = 2 THEN od END) AS second_d
      |  FROM r WHERE rn <= 2 GROUP BY 1),
      |h AS (SELECT MAX(od) AS horizon FROM o2),
      |dur AS (SELECT
      |  CAST(CASE WHEN second_d IS NOT NULL THEN date_diff('day', first_d, second_d)
      |       ELSE date_diff('day', first_d, h.horizon) END AS BIGINT) AS t,
      |  CASE WHEN second_d IS NOT NULL THEN 1 ELSE 0 END AS event
      |  FROM fs, h),
      |bd AS (SELECT t, CAST(SUM(event) AS BIGINT) AS d,
      |  CAST(SUM(1 - event) AS BIGINT) AS c FROM dur GROUP BY 1),
      |ord AS (SELECT t, d, c, row_number() OVER (ORDER BY t) AS rn FROM bd),
      |tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n0 FROM bd),
      |km AS (
      |  SELECT CAST(0 AS BIGINT) AS rn, tot.n0::HUGEINT AS n,
      |    CAST(1000000 AS HUGEINT) AS s
      |  FROM tot
      |  UNION ALL
      |  SELECT o.rn, km.n - (o.d + o.c), km.s * (km.n - o.d) // km.n
      |  FROM km JOIN ord o ON o.rn = km.rn + 1)
      |SELECT o.t, CAST(p.n AS BIGINT) AS n_risk, o.d AS d_events,
      |  o.c AS c_censored, CAST(k.s AS BIGINT) AS s_ppm
      |FROM ord o JOIN km k ON k.rn = o.rn JOIN km p ON p.rn = o.rn - 1""".stripMargin

  /** q321: difference-in-differences — the engine's four-cell spelling
    * with the q171 arm hash and the corpus-midpoint period boundary.
    */
  def diffInDifferences(convType: String): String = {
    val h = mixSql("user_id", 360)
    s"""WITH b AS (
       |  SELECT ($h) % 2 AS arm, epoch_us(ts) // 3600000000 AS h,
       |    CASE WHEN event_type = '$convType' THEN 1 ELSE 0 END AS is_conv
       |  FROM events),
       |m AS (SELECT (MIN(h) + MAX(h) + 1) // 2 AS mid FROM b),
       |cells AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN arm = 0 AND b.h < m.mid THEN 1 ELSE 0 END) AS BIGINT) AS n_c0,
       |    CAST(SUM(CASE WHEN arm = 0 AND b.h < m.mid THEN is_conv ELSE 0 END) AS BIGINT) AS v_c0,
       |    CAST(SUM(CASE WHEN arm = 0 AND b.h >= m.mid THEN 1 ELSE 0 END) AS BIGINT) AS n_c1,
       |    CAST(SUM(CASE WHEN arm = 0 AND b.h >= m.mid THEN is_conv ELSE 0 END) AS BIGINT) AS v_c1,
       |    CAST(SUM(CASE WHEN arm = 1 AND b.h < m.mid THEN 1 ELSE 0 END) AS BIGINT) AS n_t0,
       |    CAST(SUM(CASE WHEN arm = 1 AND b.h < m.mid THEN is_conv ELSE 0 END) AS BIGINT) AS v_t0,
       |    CAST(SUM(CASE WHEN arm = 1 AND b.h >= m.mid THEN 1 ELSE 0 END) AS BIGINT) AS n_t1,
       |    CAST(SUM(CASE WHEN arm = 1 AND b.h >= m.mid THEN is_conv ELSE 0 END) AS BIGINT) AS v_t1
       |  FROM b, m),
       |rates AS (
       |  SELECT n_c0, n_c1, n_t0, n_t1,
       |    CAST(v_c0::HUGEINT * 1000000 // GREATEST(n_c0, 1) AS BIGINT) AS r_c0_ppm,
       |    CAST(v_c1::HUGEINT * 1000000 // GREATEST(n_c1, 1) AS BIGINT) AS r_c1_ppm,
       |    CAST(v_t0::HUGEINT * 1000000 // GREATEST(n_t0, 1) AS BIGINT) AS r_t0_ppm,
       |    CAST(v_t1::HUGEINT * 1000000 // GREATEST(n_t1, 1) AS BIGINT) AS r_t1_ppm
       |  FROM cells)
       |SELECT *, (r_t1_ppm - r_t0_ppm) - (r_c1_ppm - r_c0_ppm) AS did_ppm
       |FROM rates""".stripMargin
  }

  /** q322: per-key split-conformal band — trendFitByKey's moments on the
    * common grid, per-key residual rank at ceil-rank (1−α)(n+1), per-key
    * coverage.
    */
  def conformalByKey(alphaPpm: Long): String =
    s"""WITH c AS (
       |  SELECT event_type AS key, epoch_us(ts) // 3600000000 AS h,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM c),
       |kk AS (SELECT DISTINCT key FROM c),
       |g AS (SELECT kk.key, unnest(generate_series(b.h0, b.h1)) AS h, b.h0 FROM kk, b),
       |s AS MATERIALIZED (SELECT g.key, g.h - g.h0 AS t, COALESCE(c.c, 0) AS c
       |      FROM g LEFT JOIN c ON g.key = c.key AND g.h = c.h),
       |m AS (
       |  SELECT key, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
       |    CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(t * t) AS BIGINT) AS stt,
       |    CAST(SUM(t * c) AS BIGINT) AS stc
       |  FROM s GROUP BY 1),
       |f AS (SELECT key, n AS n_hours,
       |  CAST((n * stc - st * sc)::HUGEINT * 1000000
       |    // (n * stt - st * st) AS BIGINT) AS slope_ppm,
       |  CAST((sc::HUGEINT * stt - st::HUGEINT * stc) * 1000000
       |    // (n * stt - st * st) AS BIGINT) AS intercept_ppm
       |  FROM m),
       |r AS (SELECT s.key, f.n_hours, f.slope_ppm, f.intercept_ppm,
       |    abs(s.c::HUGEINT * 1000000 - f.slope_ppm::HUGEINT * s.t
       |      - f.intercept_ppm) AS a
       |  FROM s JOIN f USING (key)),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY key ORDER BY a) AS rn FROM r),
       |q AS (SELECT key, a AS qhat FROM rk
       |  WHERE rn = LEAST(GREATEST(1,
       |    ((1000000 - $alphaPpm) * (n_hours + 1) + 999999) // 1000000), n_hours))
       |SELECT rk.key, MAX(rk.n_hours) AS n_hours, MAX(rk.slope_ppm) AS slope_ppm,
       |  MAX(rk.intercept_ppm) AS intercept_ppm,
       |  CAST(MAX(q.qhat) AS BIGINT) AS qhat_ppm,
       |  CAST(SUM(CASE WHEN rk.a <= q.qhat THEN 1 ELSE 0 END) * 1000000
       |    // MAX(rk.n_hours) AS BIGINT) AS cover_ppm
       |FROM rk JOIN q USING (key) GROUP BY 1""".stripMargin

  /** q323: quantile treatment effects — the q310 rank selection for both
    * arms, diffed per quantile.
    */
  def quantileEffects(ppms: Seq[Long]): String =
    s"""WITH v AS (
       |  SELECT l_returnflag AS key,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS x
       |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
       |n AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
       |r AS (SELECT key, x,
       |  row_number() OVER (PARTITION BY key ORDER BY x) AS rn FROM v),
       |q AS (SELECT CAST(unnest([${ppms.mkString(", ")}]) AS BIGINT) AS q_ppm),
       |sel AS (
       |  SELECT r.key, q.q_ppm, r.x
       |  FROM q CROSS JOIN n
       |  JOIN r ON r.key = n.key
       |    AND r.rn = GREATEST(1, (q.q_ppm::HUGEINT * n.n + 999999) // 1000000))
       |SELECT s1.q_ppm, s1.x AS value_r, s2.x AS value_a,
       |  s1.x - s2.x AS qte_cents
       |FROM sel s1 JOIN sel s2 ON s1.q_ppm = s2.q_ppm
       |WHERE s1.key = 'R' AND s2.key = 'A'""".stripMargin

  /** q324: certified KS interval from two log-histograms — exact
    * boundary KS + the one-sided bucket-mass upper bound, HUGEINT
    * cross-products mirroring the engine's DECIMAL(38,0).
    */
  def logHistKs(subBits: Int): String = {
    val cap = 1L << (subBits + 1)
    def hist(flag: String, alias: String, cName: String) =
      s"""h$alias AS (
         |  SELECT GREATEST(LENGTH(bin(x)) - ${1 + subBits}, 0) AS s,
         |    x >> GREATEST(LENGTH(bin(x)) - ${1 + subBits}, 0) AS m,
         |    COUNT(*) AS cnt
         |  FROM (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x
         |        FROM lineitem WHERE l_returnflag = '$flag') GROUP BY 1, 2),
         |b$alias AS (
         |  SELECT s * $cap + m AS bucket_id, CAST(SUM(cnt) AS BIGINT) AS $cName
         |  FROM h$alias GROUP BY 1)""".stripMargin
    s"""WITH ${hist("R", "a", "ca")},
       |${hist("A", "b", "cb")},
       |j AS (
       |  SELECT COALESCE(ba.bucket_id, bb.bucket_id) AS bucket_id,
       |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
       |  FROM ba FULL OUTER JOIN bb ON ba.bucket_id = bb.bucket_id),
       |cum AS (
       |  SELECT bucket_id, ca, cb,
       |    CAST(SUM(ca) OVER (ORDER BY bucket_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum_a,
       |    CAST(SUM(cb) OVER (ORDER BY bucket_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum_b
       |  FROM j),
       |tot AS (SELECT MAX(cum_a) AS n_a, MAX(cum_b) AS n_b FROM cum),
       |d AS (
       |  SELECT bucket_id, ca, cb, tot.n_a, tot.n_b,
       |    cum_a * tot.n_b - cum_b * tot.n_a AS dd
       |  FROM cum, tot),
       |d2 AS (
       |  SELECT n_a, n_b, ca, cb, dd,
       |    COALESCE(lag(dd) OVER (ORDER BY bucket_id), CAST(0 AS HUGEINT)) AS d_prev
       |  FROM d),
       |m AS (
       |  SELECT n_a, n_b, MAX(abs(dd)) AS lo_s,
       |    MAX(GREATEST(abs(d_prev + ca::HUGEINT * n_b),
       |        abs(d_prev - cb::HUGEINT * n_a))) AS hi_s
       |  FROM d2 GROUP BY 1, 2)
       |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
       |    ELSE lo_s * 1000000 // (n_a::HUGEINT * n_b) END AS BIGINT) AS ks_lo_ppm,
       |  CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
       |    ELSE hi_s * 1000000 // (n_a::HUGEINT * n_b) END AS BIGINT) AS ks_hi_ppm
       |FROM m""".stripMargin
  }

  /** q326: hourly certified KS drift series — per hour vs its
    * predecessor, from the q238 histogram cells; the q324 arithmetic
    * with every window partitioned by hour.
    */
  def logHistKsSeries(subBits: Int): String = {
    val cap = 1L << (subBits + 1)
    s"""WITH v AS (
       |  SELECT epoch_us(ts) // 3600000000 AS g,
       |    CAST(round(value * 100) AS BIGINT) AS x
       |  FROM events),
       |h AS (
       |  SELECT g, GREATEST(LENGTH(bin(x)) - ${1 + subBits}, 0) AS s,
       |    x >> GREATEST(LENGTH(bin(x)) - ${1 + subBits}, 0) AS m,
       |    COUNT(*) AS cnt
       |  FROM v GROUP BY 1, 2, 3),
       |b AS (
       |  SELECT g, s * $cap + m AS bucket_id, CAST(SUM(cnt) AS BIGINT) AS cnt
       |  FROM h GROUP BY 1, 2),
       |gs AS (SELECT DISTINCT g FROM b),
       |mp AS (
       |  SELECT g, lag(g) OVER (ORDER BY g) AS g_prev FROM gs
       |  QUALIFY g_prev IS NOT NULL),
       |cur AS (SELECT mp.g, b.bucket_id, b.cnt AS ca
       |        FROM mp JOIN b ON b.g = mp.g),
       |prv AS (SELECT mp.g, b.bucket_id, b.cnt AS cb
       |        FROM mp JOIN b ON b.g = mp.g_prev),
       |j AS (
       |  SELECT COALESCE(cur.g, prv.g) AS g,
       |    COALESCE(cur.bucket_id, prv.bucket_id) AS bucket_id,
       |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
       |  FROM cur FULL OUTER JOIN prv
       |    ON cur.g = prv.g AND cur.bucket_id = prv.bucket_id),
       |cum AS (
       |  SELECT g, bucket_id, ca, cb,
       |    CAST(SUM(ca) OVER (PARTITION BY g ORDER BY bucket_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum_a,
       |    CAST(SUM(cb) OVER (PARTITION BY g ORDER BY bucket_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum_b
       |  FROM j),
       |tot AS (SELECT g, MAX(cum_a) AS n_a, MAX(cum_b) AS n_b FROM cum GROUP BY 1),
       |d AS (
       |  SELECT cum.g, bucket_id, ca, cb, tot.n_a, tot.n_b,
       |    cum_a * tot.n_b - cum_b * tot.n_a AS dd
       |  FROM cum JOIN tot USING (g)),
       |d2 AS (
       |  SELECT g, n_a, n_b, ca, cb, dd,
       |    COALESCE(lag(dd) OVER (PARTITION BY g ORDER BY bucket_id),
       |      CAST(0 AS HUGEINT)) AS d_prev
       |  FROM d)
       |SELECT g AS h, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
       |    ELSE MAX(abs(dd)) * 1000000 // (n_a::HUGEINT * n_b) END AS BIGINT)
       |    AS ks_lo_ppm,
       |  CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
       |    ELSE MAX(GREATEST(abs(d_prev + ca::HUGEINT * n_b),
       |      abs(d_prev - cb::HUGEINT * n_a))) * 1000000
       |      // (n_a::HUGEINT * n_b) END AS BIGINT) AS ks_hi_ppm
       |FROM d2 GROUP BY g, n_a, n_b""".stripMargin
  }

  /** q325: quality-threshold yield curve — the textStats quality score
    * milli-rounded, by-score collapse, threshold grid over the collapsed
    * relation.
    */
  def yieldCurve(steps: Int): String =
    s"""WITH per AS (
       |  SELECT CAST(round(quality * 1000) AS BIGINT) AS s,
       |    CAST(n_tokens AS BIGINT) AS tok
       |  FROM ($textStats)),
       |bs AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS nd,
       |  CAST(SUM(tok) AS BIGINT) AS nt FROM per GROUP BY 1),
       |tot AS (SELECT CAST(SUM(nd) AS BIGINT) AS td,
       |  CAST(SUM(nt) AS BIGINT) AS tt FROM bs),
       |g AS (SELECT CAST(unnest(generate_series(0, ${steps - 1}))
       |  * ${1000 / steps} AS BIGINT) AS thr_milli),
       |r AS (
       |  SELECT g.thr_milli, COALESCE(SUM(bs.nd), 0) AS n_docs,
       |    COALESCE(SUM(bs.nt), 0) AS n_tokens
       |  FROM g LEFT JOIN bs ON bs.s >= g.thr_milli GROUP BY 1)
       |SELECT thr_milli, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(n_docs::HUGEINT * 1000000 // tot.td AS BIGINT) AS doc_ppm,
       |  CAST(n_tokens::HUGEINT * 1000000 // tot.tt AS BIGINT) AS token_ppm
       |FROM r, tot""".stripMargin

  /** q251: corpus top-k by |projection| onto the trained component. */
  def pcaProject(iterations: Int, k: Int): String =
    s"""WITH ${pcaCtes(iterations)},
       |proj AS (
       |  SELECT pq.vec_id,
       |    CAST(SUM(pq.v[CAST(ld.i AS INTEGER)] * ld.lv) AS BIGINT) AS score
       |  FROM pq, ld GROUP BY 1)
       |SELECT vec_id, score FROM proj ORDER BY ABS(score) DESC, vec_id LIMIT $k""".stripMargin

  /** q257: order-preserving compaction bins over the daily-ingest file
    * profile of orders — exclusive prefix sum div target, mirroring
    * Warehouse.compactionPlan (`//` on the non-negative cumsum plays
    * Spark's `div`).
    */
  def compactionPlan(targetRows: Long): String =
    s"""WITH p AS (
       |  SELECT 'orders' AS tbl, strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS file,
       |    CAST(COUNT(*) AS BIGINT) AS n_rows
       |  FROM orders GROUP BY 1, 2),
       |c AS (
       |  SELECT tbl, file, n_rows,
       |    COALESCE(SUM(n_rows) OVER (PARTITION BY tbl ORDER BY file
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM p)
       |SELECT tbl, CAST(cum // $targetRows AS BIGINT) AS bin,
       |  CAST(COUNT(*) AS BIGINT) AS n_files, CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       |  MIN(file) AS first_file, MAX(file) AS last_file
       |FROM c GROUP BY 1, 2""".stripMargin

  /** q258: file-skipping audit — linear-on-custkey vs z-order(custkey,
    * order-day) layouts of orders, 64 equal row-ranges as "files",
    * per-file min/max envelopes, and a deterministic probe panel per
    * dimension. Ranks come from a total-order ROW_NUMBER (tiebreak
    * o_orderkey), matching Layout.withGlobalRank's distributed exact
    * rank; the interleave is the q82 integer spelling inline.
    */
  def skippingAudit(nFiles: Int, bits: Int,
                    probeModA: Int, probeModB: Int): String = {
    val mask = 1L << bits
    s"""WITH base AS (
       |  SELECT o_orderkey AS id, (o_custkey % $mask) AS ka,
       |    (date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % $mask) AS kb
       |  FROM orders),
       |z AS (
       |  SELECT id, ka, kb,
       |    CAST(list_sum(list_transform(range(0, $bits), i ->
       |      (((ka // (1::BIGINT << i)) % 2) * (1::BIGINT << (2 * i))) +
       |      (((kb // (1::BIGINT << i)) % 2) * (1::BIGINT << (2 * i + 1)))
       |    )) AS BIGINT) AS zaddr
       |  FROM base),
       |n AS (SELECT COUNT(*) AS n FROM base),
       |r AS (
       |  -- ranks in their own CTE: DuckDB rejects window functions inside
       |  -- the comma join with the 1-row n relation (binds as LATERAL)
       |  SELECT 'linear_a' AS layout, ka, kb,
       |    ROW_NUMBER() OVER (ORDER BY ka, id) - 1 AS rnk
       |  FROM z
       |  UNION ALL
       |  SELECT 'zorder', ka, kb, ROW_NUMBER() OVER (ORDER BY zaddr, id) - 1
       |  FROM z),
       |env AS (
       |  SELECT layout, rnk * $nFiles // n AS file,
       |    MIN(ka) AS min_a, MAX(ka) AS max_a, MIN(kb) AS min_b, MAX(kb) AS max_b
       |  FROM r, n GROUP BY 1, 2),
       |pa AS (SELECT DISTINCT ka AS p FROM base WHERE ka % $probeModA = 1),
       |pb AS (SELECT DISTINCT kb AS p FROM base WHERE kb % $probeModB = 3),
       |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probes FROM pa),
       |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probes FROM pb)
       |SELECT layout, 'a' AS dim, CAST($nFiles AS BIGINT) AS n_files,
       |  na.n_probes, CAST(COUNT(*) AS BIGINT) AS files_hit
       |FROM pa JOIN env ON p BETWEEN min_a AND max_a, na GROUP BY 1, 2, 3, 4
       |UNION ALL
       |SELECT layout, 'b', $nFiles, nb.n_probes, CAST(COUNT(*) AS BIGINT)
       |FROM pb JOIN env ON p BETWEEN min_b AND max_b, nb GROUP BY 1, 2, 3, 4""".stripMargin
  }

  /** Mirrors Layout.curveAudit over the q258 key pair at `bits` — the
    * hilbert chain CTEs are generated from the SAME
    * Layout.hilbertSteps source as the engine, with `//` as the div
    * token; ranks use the identical (key, id) total order.
    */
  def curveAudit(nFiles: Int, bits: Int,
                 probeModA: Int, probeModB: Int): String =
    s"""WITH ${curveCtes(nFiles, bits, probeModA, probeModB)}
       |${curveAuditSelect(nFiles)}""".stripMargin

  /** Shared CTE chain for the curve-layout family (q282 audit, q292
    * OPTIMIZE manifest): masked keys, z-address, unrolled Hilbert chain,
    * the three layout-tagged total-order ranks, file envelopes at the
    * AUDIT granularity, and the probe panels.
    */
  private def curveCtes(nFiles: Int, bits: Int,
                        probeModA: Int, probeModB: Int): String = {
    val mask = 1L << bits
    val steps = ext.Layout.hilbertSteps(bits, "//")
    val hilbertCtes = steps.zipWithIndex.map { case (step, i) =>
      val exprs = step.map { case (name, sql) => s"$sql AS $name" }.mkString(",\n    ")
      s"h${i + 1} AS (\n  SELECT *,\n    $exprs\n  FROM h$i)"
    }.mkString(",\n")
    s"""base AS (
       |  SELECT o_orderkey AS id, (o_custkey % $mask) AS ka,
       |    (date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % $mask) AS kb
       |  FROM orders),
       |h0 AS (
       |  SELECT id, ka, kb,
       |    CAST(list_sum(list_transform(range(0, $bits), i ->
       |      (((ka // (1::BIGINT << i)) % 2) * (1::BIGINT << (2 * i))) +
       |      (((kb // (1::BIGINT << i)) % 2) * (1::BIGINT << (2 * i + 1)))
       |    )) AS BIGINT) AS zaddr,
       |    CAST(ka AS BIGINT) AS hx0, CAST(kb AS BIGINT) AS hy0,
       |    CAST(0 AS BIGINT) AS hd0
       |  FROM base),
       |$hilbertCtes,
       |n AS (SELECT COUNT(*) AS n FROM base),
       |r AS (
       |  SELECT 'linear_a' AS layout, ka, kb,
       |    ROW_NUMBER() OVER (ORDER BY ka, id) - 1 AS rnk
       |  FROM h$bits
       |  UNION ALL
       |  SELECT 'zorder', ka, kb, ROW_NUMBER() OVER (ORDER BY zaddr, id) - 1
       |  FROM h$bits
       |  UNION ALL
       |  SELECT 'hilbert', ka, kb, ROW_NUMBER() OVER (ORDER BY hd$bits, id) - 1
       |  FROM h$bits),
       |env AS (
       |  SELECT layout, rnk * $nFiles // n AS file,
       |    MIN(ka) AS min_a, MAX(ka) AS max_a, MIN(kb) AS min_b, MAX(kb) AS max_b
       |  FROM r, n GROUP BY 1, 2),
       |pa AS (SELECT DISTINCT ka AS p FROM base WHERE ka % $probeModA = 1),
       |pb AS (SELECT DISTINCT kb AS p FROM base WHERE kb % $probeModB = 3),
       |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probes FROM pa),
       |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probes FROM pb)""".stripMargin
  }

  private def curveAuditSelect(nFiles: Int): String =
    s"""SELECT layout, 'a' AS dim, CAST($nFiles AS BIGINT) AS n_files,
       |  na.n_probes, CAST(COUNT(*) AS BIGINT) AS files_hit
       |FROM pa JOIN env ON p BETWEEN min_a AND max_a, na GROUP BY 1, 2, 3, 4
       |UNION ALL
       |SELECT layout, 'b', $nFiles, nb.n_probes, CAST(COUNT(*) AS BIGINT)
       |FROM pb JOIN env ON p BETWEEN min_b AND max_b, nb GROUP BY 1, 2, 3, 4""".stripMargin

  /** q292: the OPTIMIZE manifest — run the q282 audit, pick the winning
    * layout (min Σ files_hit, name tie-break), re-rank the table on the
    * winner's order, bin at the REWRITE granularity (`binNFiles`, distinct
    * from the audit's file count), and emit each bin's row count and
    * two-key min/max envelope — exactly the parquet-footer summary the
    * rewritten files serve, mirroring `Sinks.optimize`.
    */
  def optimizeManifest(auditNFiles: Int, bits: Int,
                       probeModA: Int, probeModB: Int,
                       binNFiles: Int): String =
    s"""WITH ${curveCtes(auditNFiles, bits, probeModA, probeModB)},
       |aud AS (
       |${curveAuditSelect(auditNFiles)}),
       |tot AS (SELECT layout, SUM(files_hit) AS th FROM aud GROUP BY 1),
       |win AS (SELECT layout FROM tot ORDER BY th, layout LIMIT 1),
       |rw AS (SELECT r.layout, r.ka, r.kb, r.rnk FROM r JOIN win USING (layout))
       |SELECT layout, CAST(rnk * $binNFiles // n AS BIGINT) AS part_bin,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(MIN(ka) AS BIGINT) AS min_a, CAST(MAX(ka) AS BIGINT) AS max_a,
       |  CAST(MIN(kb) AS BIGINT) AS min_b, CAST(MAX(kb) AS BIGINT) AS max_b
       |FROM rw, n GROUP BY 1, 2""".stripMargin

  /** q259: reliability curve of the distilled gate — signed margin
    * octave band (`length(bin(|margin|))`, the BinLength spelling) →
    * corpus count and true-gate positives.
    */
  def perceptronCalibration(epochs: Int,
                            positiveSql: String = "t.quality >= 0.66"): String = {
    val margin = "(w0*f0 + w1*f1 + w2*f2 + w3*f3)"
    s"""WITH ${perceptronCtes(epochs, positiveSql)},
       |lm AS (SELECT y, $margin AS marg FROM lf, lpocket)
       |SELECT CAST(CASE WHEN marg = 0 THEN 0
       |            WHEN marg > 0 THEN length(bin(marg))
       |            ELSE -length(bin(-marg)) END AS INTEGER) AS band,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gate_pos
       |FROM lm GROUP BY 1""".stripMargin
  }

  /** q269: sketch-error audit — the q236 estimates joined to the exact
    * nearest-rank values under the SAME `(n·q + 99) // 100` rank rule,
    * relative error in ppm.
    */
  def logHistErrorAudit(subBits: Int, qs: Seq[Int]): String =
    s"""WITH est AS (${logHistQuantiles(subBits, qs)}),
       |v AS (
       |  SELECT o_orderpriority AS g, CAST(round(o_totalprice * 100) AS BIGINT) AS x,
       |    o_orderkey
       |  FROM orders),
       |r AS (
       |  SELECT g, x,
       |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY x, o_orderkey) AS rn,
       |    COUNT(*) OVER (PARTITION BY g) AS n
       |  FROM v),
       |e AS (
       |  SELECT g, q.quantile, x AS exact_cents
       |  FROM r CROSS JOIN (VALUES ${qs.map(q => s"($q)").mkString(", ")}) AS q(quantile)
       |  WHERE rn = (n * q.quantile + 99) // 100)
       |SELECT est.o_orderpriority, est.quantile, e.exact_cents, est.est_cents,
       |  CAST(abs(est_cents - exact_cents) * 1000000
       |    // GREATEST(exact_cents, 1) AS BIGINT) AS err_ppm
       |FROM est JOIN e ON e.g = est.o_orderpriority AND e.quantile = est.quantile""".stripMargin

  /** q268: cross-source boilerplate matrix — distinct shared CDC chunk
    * fingerprints per unordered source pair (the q235 (fp, chars) key,
    * trivial chunks excluded).
    */
  def crossSourceChunkDups(chunkMod: Int): String =
    s"""WITH chunks AS (${cdcChunks(chunkMod)}),
       |fs AS (
       |  SELECT DISTINCT chunk_fp, chunk_chars, d.source AS src
       |  FROM chunks JOIN documents d USING (doc_id)
       |  WHERE chunk_chars >= 3)
       |SELECT a.src AS src_a, b.src AS src_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_shared_chunks
       |FROM fs a JOIN fs b
       |  ON a.chunk_fp = b.chunk_fp AND a.chunk_chars = b.chunk_chars
       |  AND a.src < b.src
       |GROUP BY 1, 2""".stripMargin

  /** q267: token frequency spectrum — count-of-counts by floor-log2
    * octave with exact ppm occurrence shares (the portable bin()-length
    * spelling of the native BinLength octave).
    */
  val tokenSpectrum: String =
    """WITH toks AS (
      |  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
      |  FROM documents),
      |tc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1),
      |oct AS (
      |  SELECT LENGTH(bin(n)) - 1 AS octave, CAST(COUNT(*) AS BIGINT) AS n_types,
      |    CAST(SUM(n) AS BIGINT) AS n_occurrences
      |  FROM tc GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_occurrences) AS BIGINT) AS tt FROM oct),
      |c AS (
      |  SELECT octave, n_types, n_occurrences,
      |    SUM(n_occurrences) OVER (ORDER BY octave
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM oct)
      |SELECT CAST(octave AS INTEGER) AS octave, n_types, n_occurrences,
      |  CAST(n_occurrences * 1000000 // tt AS BIGINT) AS occ_share_ppm,
      |  CAST(cum * 1000000 // tt AS BIGINT) AS cum_occ_share_ppm
      |FROM c, t""".stripMargin

  /** q264: embedding-space drift — per-dim mean shift between the two
    * vec_id-parity snapshots, exact fixed-point cross-multiply, top-k
    * most-shifted dims (ties → lower dim).
    */
  def embeddingDrift(k: Int): String =
    s"""WITH qz AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS v
       |  FROM embeddings),
       |ex AS (SELECT vec_id, unnest(v) AS x, unnest(range(0, len(v))) AS dim FROM qz),
       |a AS (SELECT dim, CAST(SUM(x) AS HUGEINT) AS sa, CAST(COUNT(*) AS BIGINT) AS na
       |  FROM ex WHERE vec_id % 2 = 0 GROUP BY 1),
       |b AS (SELECT dim, CAST(SUM(x) AS HUGEINT) AS sb, CAST(COUNT(*) AS BIGINT) AS nb
       |  FROM ex WHERE vec_id % 2 = 1 GROUP BY 1)
       |SELECT CAST(dim AS INTEGER) AS dim,
       |  CAST(sa // na AS BIGINT) AS mean_a_micro,
       |  CAST(sb // nb AS BIGINT) AS mean_b_micro,
       |  CAST(abs(sa * nb - sb * na) // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS shift_micro
       |FROM a JOIN b USING (dim)
       |ORDER BY shift_micro DESC, dim LIMIT $k""".stripMargin

  /** q265: IVF recall-vs-nProbe curve — corpus assignment, query-centroid
    * ranking, and candidate scoring shared across arms (MATERIALIZED:
    * each arm re-reads the scored candidates), each arm a prank filter +
    * top-k window, recall vs the exact panel as in q134.
    */
  def ivfProbeCurve(centMod: Int, queryMod: Int, k: Int,
                    probes: Seq[Int]): String = {
    val maxP = probes.max
    val armCtes = probes.map { p =>
      s"""arm_$p AS (
         |  SELECT 'probe_$p' AS method, query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
         |    FROM cscored WHERE prank <= $p) WHERE rn <= $k)""".stripMargin
    }.mkString(",\n")
    val armUnion = probes.map(p => s"SELECT * FROM arm_$p").mkString("\n  UNION ALL ")
    val methodRows = probes.map(p => s"('probe_$p')").mkString(", ")
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % $centMod = 0),
       |corp AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings),
       |ap AS (SELECT neighbor_id, cid, nv, cv FROM corp, cent),
       |${cosineCtes("ap", "neighbor_id", "cid", "nv", "cv", "ascore")},
       |assign AS (
       |  SELECT neighbor_id, cid FROM (
       |    SELECT neighbor_id, cid, ROW_NUMBER() OVER (PARTITION BY neighbor_id ORDER BY s DESC, cid) AS rn
       |    FROM ascore) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % $queryMod = 0),
       |qp AS (SELECT query_id, cid, qv, cv FROM q, cent),
       |${cosineCtes("qp", "query_id", "cid", "qv", "cv", "qscore")},
       |probes AS (
       |  SELECT query_id, cid, rn AS prank FROM (
       |    SELECT query_id, cid, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, cid) AS rn
       |    FROM qscore) WHERE rn <= $maxP),
       |cand AS (
       |  SELECT pr.query_id, a.neighbor_id, qq2.qv, c.nv AS cv, pr.prank
       |  FROM probes pr
       |  JOIN assign a ON pr.cid = a.cid
       |  JOIN q qq2 ON pr.query_id = qq2.query_id
       |  JOIN corp c ON a.neighbor_id = c.neighbor_id
       |  WHERE pr.query_id <> a.neighbor_id),
       |cdots AS (
       |  SELECT query_id, neighbor_id, prank,
       |    SUM(CAST(qv[CAST(i AS INTEGER)] AS DOUBLE) * CAST(cv[CAST(i AS INTEGER)] AS DOUBLE) ORDER BY i) AS dp,
       |    SUM(CAST(qv[CAST(i AS INTEGER)] AS DOUBLE) * CAST(qv[CAST(i AS INTEGER)] AS DOUBLE) ORDER BY i) AS qq,
       |    SUM(CAST(cv[CAST(i AS INTEGER)] AS DOUBLE) * CAST(cv[CAST(i AS INTEGER)] AS DOUBLE) ORDER BY i) AS cc
       |  FROM cand, generate_series(1, 64) t(i) GROUP BY 1, 2, 3),
       |cscored AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, prank,
       |    round(CASE WHEN sqrt(qq) * sqrt(cc) = 0 THEN 0.0 ELSE dp / (sqrt(qq) * sqrt(cc)) END, 6) AS score
       |  FROM cdots),
       |$armCtes,
       |arms AS (
       |  $armUnion),
       |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM (${cosineTopK(queryMod, k)})),
       |hits AS (
       |  SELECT method, CAST(COUNT(*) AS BIGINT) AS total_hits
       |  FROM arms JOIN ex USING (query_id, neighbor_id) GROUP BY 1),
       |methods AS (SELECT * FROM (VALUES $methodRows) m(method)),
       |e AS (SELECT CAST(COUNT(*) AS BIGINT) AS expected FROM ex)
       |SELECT methods.method, COALESCE(total_hits, 0) AS total_hits, e.expected,
       |  CASE WHEN e.expected = 0 THEN 0
       |       ELSE CAST(1000000 * COALESCE(total_hits, 0) // e.expected AS BIGINT)
       |  END AS recall_ppm
       |FROM methods LEFT JOIN hits USING (method) CROSS JOIN e""".stripMargin
  }

  /** q263: filter-attribution kill matrix — per curation gate, total and
    * EXCLUSIVE rejections, each gate reusing the exact spelling its own
    * query pins (textStats → q13, repetitionSignals → q53, fingerprint →
    * q12).
    */
  def filterAttribution(minTokens: Long, minQuality: Double,
                        maxTopWordFrac: Double): String =
    s"""WITH st AS (SELECT doc_id, n_tokens, quality FROM ($textStats)),
       |rep AS (SELECT doc_id, top_word_frac FROM ($repetitionSignals)),
       |fp AS (SELECT doc_id, $fingerprintSql AS fp FROM documents),
       |k AS (SELECT fp, MIN(doc_id) AS keep_id FROM fp GROUP BY 1),
       |fl AS (
       |  SELECT st.doc_id,
       |    st.n_tokens < $minTokens AS f_short,
       |    st.quality < $minQuality AS f_quality,
       |    rep.top_word_frac > $maxTopWordFrac AS f_rep,
       |    fp.doc_id <> k.keep_id AS f_dup
       |  FROM st
       |  JOIN rep USING (doc_id)
       |  JOIN fp ON fp.doc_id = st.doc_id
       |  JOIN k USING (fp)),
       |n AS (
       |  SELECT *, CAST(f_short AS INT) + CAST(f_quality AS INT)
       |    + CAST(f_rep AS INT) + CAST(f_dup AS INT) AS n_flags
       |  FROM fl),
       |lng AS (
       |  SELECT 'short' AS filter, f_short AS fail, n_flags FROM n
       |  UNION ALL SELECT 'low_quality', f_quality, n_flags FROM n
       |  UNION ALL SELECT 'repetitive', f_rep, n_flags FROM n
       |  UNION ALL SELECT 'exact_dup', f_dup, n_flags FROM n)
       |SELECT filter,
       |  CAST(SUM(CASE WHEN fail THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
       |  CAST(SUM(CASE WHEN fail AND n_flags = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exclusive
       |FROM lng GROUP BY 1""".stripMargin

  /** q261: Average Overlap between the LSH and IVF top-k rankings of the
    * q134 query panel — each common doc contributes the suffix sum
    * Σ_{k=max(ra,rb)..d} L/k (L = lcm(1..d)) via a list-literal lookup,
    * mirroring Similarity.rankAgreement's exact rational evaluation.
    */
  def rankAgreement(depth: Int, queryMod: Int, k: Int, dim: Int,
                    nPlanes: Int, centMod: Int, nProbe: Int): String =
    rankAgreementSql(depth, lshTopK(queryMod, k, dim, nPlanes),
      ivfTopK(centMod, queryMod, nProbe, k))

  /** AO between two arbitrary (query_id, neighbor_id, rank) arm queries
    * — q261's evaluation with the arms injected (q266 reuses it for the
    * exact-vs-int8-quantized acceptance check).
    */
  def rankAgreementSql(depth: Int, armA: String, armB: String): String = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcmD = (1 to depth).foldLeft(1L)((acc, x) => acc / gcd(acc, x) * x)
    val suffix = (1 to depth).map(m => (m to depth).map(x => lcmD / x).sum)
    s"""WITH ra AS (
       |$armA),
       |rb AS (
       |$armB),
       |panel AS (
       |  SELECT DISTINCT query_id FROM ra
       |  UNION SELECT DISTINCT query_id FROM rb),
       |j AS (
       |  SELECT ra.query_id,
       |    (list_value(${suffix.mkString(", ")}))[GREATEST(ra.rank, rb.rank)] AS w
       |  FROM ra JOIN rb USING (query_id, neighbor_id)
       |  WHERE ra.rank <= $depth AND rb.rank <= $depth),
       |c AS (
       |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_common,
       |    CAST(SUM(w) AS BIGINT) AS wsum
       |  FROM j GROUP BY 1)
       |SELECT panel.query_id, COALESCE(n_common, 0) AS n_common,
       |  CAST(COALESCE(wsum, 0) * 1000000 // ${lcmD * depth} AS BIGINT) AS ao_ppm
       |FROM panel LEFT JOIN c USING (query_id)""".stripMargin
  }

  /** q262: t-closeness — per QI class, the exact cross-multiplied EMD
    * between the class and global sensitive-value distributions over the
    * ordered domain (HUGEINT products, the Spark side's DECIMAL(38,0)).
    */
  val tCloseness: String =
    """WITH cells AS (
      |  SELECT c_nationkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
      |    c_mktsegment AS v, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM customer GROUP BY 1, 2, 3),
      |cls AS (SELECT c_nationkey, bal_band, CAST(SUM(c) AS BIGINT) AS nc
      |  FROM cells GROUP BY 1, 2),
      |vals AS (SELECT v, CAST(SUM(c) AS BIGINT) AS vc FROM cells GROUP BY 1),
      |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(vc) AS BIGINT) AS n
      |  FROM vals),
      |grid AS (
      |  SELECT cls.c_nationkey, cls.bal_band, cls.nc, vals.v, vals.vc, m.m, m.n,
      |    COALESCE(cells.c, 0) AS o
      |  FROM cls CROSS JOIN vals CROSS JOIN m
      |  LEFT JOIN cells ON cells.c_nationkey = cls.c_nationkey
      |    AND cells.bal_band = cls.bal_band AND cells.v = vals.v),
      |cum AS (
      |  SELECT c_nationkey, bal_band, nc, m, n,
      |    SUM(o) OVER (PARTITION BY c_nationkey, bal_band ORDER BY v) AS cumc,
      |    SUM(vc) OVER (PARTITION BY c_nationkey, bal_band ORDER BY v) AS cumg,
      |    ROW_NUMBER() OVER (PARTITION BY c_nationkey, bal_band ORDER BY v) AS rn
      |  FROM grid)
      |SELECT c_nationkey, bal_band, nc AS class_size,
      |  CAST(SUM(abs(CAST(cumc AS HUGEINT) * n - CAST(cumg AS HUGEINT) * nc))
      |    * 1000000 // ((m - 1) * CAST(nc AS HUGEINT) * n) AS BIGINT) AS t_ppm
      |FROM cum WHERE rn < m
      |GROUP BY 1, 2, 3, m, n""".stripMargin

  /** q260: shard-homogeneity audit of the q59 deterministic shuffle —
    * per (shard × source) cell, ppm deviation from the independence
    * expectation via the exact HUGEINT cross-multiply (zero cells
    * included through the keyspace grid), rolled up per shard.
    */
  def shardBalance(nShards: Int): String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    CAST((${mixSql("doc_id", 100)}) % $nShards AS INTEGER) AS shard
       |  FROM documents),
       |a AS (SELECT shard, source AS cat FROM h JOIN documents USING (doc_id)),
       |obs AS (SELECT shard, cat, CAST(COUNT(*) AS BIGINT) AS o FROM a GROUP BY 1, 2),
       |st AS (SELECT shard, CAST(SUM(o) AS BIGINT) AS st FROM obs GROUP BY 1),
       |ct AS (SELECT cat, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY 1),
       |g AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
       |grid AS (
       |  SELECT st.shard, ct.cat, st.st, ct.ct, g.n, COALESCE(obs.o, 0) AS o
       |  FROM st CROSS JOIN ct CROSS JOIN g
       |  LEFT JOIN obs ON obs.shard = st.shard AND obs.cat = ct.cat),
       |d AS (
       |  SELECT shard, st, o,
       |    CAST((abs(CAST(o AS HUGEINT) * n - CAST(st AS HUGEINT) * ct) * 1000000)
       |      // (CAST(st AS HUGEINT) * ct) AS BIGINT) AS dev_ppm
       |  FROM grid)
       |SELECT shard, CAST(MAX(st) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN o > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cats,
       |  CAST(MAX(dev_ppm) AS BIGINT) AS max_dev_ppm,
       |  CAST(SUM(dev_ppm) AS BIGINT) AS total_dev_ppm
       |FROM d GROUP BY 1""".stripMargin

  /** q301: exact order statistics — the oracle IS the sort spelling the
    * engine's histogram descent replaces (`row_number()` at the same
    * ceil-rank), so a hash match proves descent ≡ sort. Rank convention:
    * max(1, ⌈ppm·n/10⁶⌉) in HUGEINT.
    */
  def exactQuantiles(ppms: Seq[Long]): String =
    s"""WITH v AS (
       |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x FROM lineitem),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
       |r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v),
       |q AS (SELECT CAST(unnest([${ppms.mkString(", ")}]) AS BIGINT) AS q_ppm)
       |SELECT q.q_ppm,
       |  CAST(GREATEST(1, (q.q_ppm::HUGEINT * n.n + 999999) // 1000000) AS BIGINT) AS rank,
       |  r.x AS value
       |FROM q CROSS JOIN n
       |JOIN r ON r.rn = GREATEST(1, (q.q_ppm::HUGEINT * n.n + 999999) // 1000000)""".stripMargin

  /** q310: per-group exact order statistics — [[exactQuantiles]]
    * partitioned by return flag; the engine answers every (group, rank)
    * in the same bounded descent passes.
    */
  def groupExactQuantiles(ppms: Seq[Long]): String =
    s"""WITH v AS (
       |  SELECT l_returnflag AS key,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS x FROM lineitem),
       |n AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
       |r AS (SELECT key, x,
       |  row_number() OVER (PARTITION BY key ORDER BY x) AS rn FROM v),
       |q AS (SELECT CAST(unnest([${ppms.mkString(", ")}]) AS BIGINT) AS q_ppm)
       |SELECT r.key, q.q_ppm,
       |  CAST(GREATEST(1, (q.q_ppm::HUGEINT * n.n + 999999) // 1000000) AS BIGINT) AS rank,
       |  r.x AS value
       |FROM q CROSS JOIN n
       |JOIN r ON r.key = n.key
       |  AND r.rn = GREATEST(1, (q.q_ppm::HUGEINT * n.n + 999999) // 1000000)""".stripMargin

  /** q302: split-conformal band — trendFit's moments, residuals vs the
    * reported (ppm-floored) line, q̂ at ceil-rank (1−α)(n+1), coverage
    * readback. Mirrors the engine's DECIMAL spelling in HUGEINT.
    */
  def conformalTrendInterval(alphaPpm: Long): String =
    s"""WITH c AS (
       |  SELECT epoch_us(ts) // 3600000000 AS h, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1),
       |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM c),
       |g AS (SELECT unnest(generate_series(b.h0, b.h1)) AS h, b.h0 FROM b),
       |s AS (SELECT g.h - g.h0 AS t, COALESCE(c.c, 0) AS c
       |      FROM g LEFT JOIN c ON g.h = c.h),
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
       |    CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(t * t) AS BIGINT) AS stt,
       |    CAST(SUM(t * c) AS BIGINT) AS stc
       |  FROM s),
       |f AS (SELECT n AS n_hours,
       |  CAST((n * stc - st * sc)::HUGEINT * 1000000
       |    // (n * stt - st * st) AS BIGINT) AS slope_ppm,
       |  CAST((sc::HUGEINT * stt - st::HUGEINT * stc) * 1000000
       |    // (n * stt - st * st) AS BIGINT) AS intercept_ppm
       |  FROM m),
       |r AS (SELECT f.n_hours, f.slope_ppm, f.intercept_ppm,
       |    abs(s.c::HUGEINT * 1000000 - f.slope_ppm::HUGEINT * s.t
       |      - f.intercept_ppm) AS a
       |  FROM s, f),
       |rk AS (SELECT *, row_number() OVER (ORDER BY a) AS rn FROM r),
       |q AS (SELECT a AS qhat FROM rk
       |  WHERE rn = LEAST(GREATEST(1,
       |    ((1000000 - $alphaPpm) * (n_hours + 1) + 999999) // 1000000), n_hours))
       |SELECT MAX(rk.n_hours) AS n_hours, MAX(rk.slope_ppm) AS slope_ppm,
       |  MAX(rk.intercept_ppm) AS intercept_ppm,
       |  CAST(LEAST(GREATEST(1,
       |    ((1000000 - $alphaPpm) * (MAX(rk.n_hours) + 1) + 999999) // 1000000),
       |    MAX(rk.n_hours)) AS BIGINT) AS cal_rank,
       |  CAST(MAX(q.qhat) AS BIGINT) AS qhat_ppm,
       |  CAST(SUM(CASE WHEN rk.a <= q.qhat THEN 1 ELSE 0 END) * 1000000
       |    // MAX(rk.n_hours) AS BIGINT) AS cover_ppm
       |FROM rk, q""".stripMargin

  /** q303: Theil–Sen — low-median of pairwise grid slopes (exact floored
    * ppm), low-median intercept; `//` truncation matches Spark `div` on
    * the signed slopes.
    */
  val theilSenTrend: String =
    """WITH c AS (
      |  SELECT epoch_us(ts) // 3600000000 AS h, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM c),
      |g AS (SELECT unnest(generate_series(b.h0, b.h1)) AS h, b.h0 FROM b),
      |s AS MATERIALIZED (SELECT g.h - g.h0 AS t, COALESCE(c.c, 0) AS c
      |      FROM g LEFT JOIN c ON g.h = c.h),
      |p AS (SELECT (s2.c - s1.c) * 1000000 // (s2.t - s1.t) AS sl
      |      FROM s s1 JOIN s s2 ON s2.t > s1.t),
      |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM p),
      |rp AS (SELECT sl, row_number() OVER (ORDER BY sl) AS rn FROM p),
      |med AS (SELECT np.n_pairs, rp.sl AS slope_ppm
      |        FROM rp, np WHERE rp.rn = (np.n_pairs + 1) // 2),
      |i AS (SELECT s.c::HUGEINT * 1000000 - med.slope_ppm::HUGEINT * s.t AS ic
      |      FROM s, med),
      |nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hours FROM s),
      |ri AS (SELECT ic, row_number() OVER (ORDER BY ic) AS rn FROM i)
      |SELECT nh.n_hours, med.n_pairs, med.slope_ppm,
      |  CAST(ri.ic AS BIGINT) AS intercept_ppm
      |FROM ri, nh, med WHERE ri.rn = (nh.n_hours + 1) // 2""".stripMargin

  /** q304: exact dyadic decayed engagement — weight 2^(maxShift−⌊age/hl⌋)
    * as shifted integers, readout ppm of decayed-equivalent events.
    */
  def decayedCountByKey(halfLifeHours: Int, maxShift: Int): String =
    s"""WITH c AS (
       |  SELECT event_type AS k, epoch_us(ts) // 3600000000 AS h,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |nw AS (SELECT MAX(h) AS now FROM c)
       |SELECT k AS key, CAST(SUM(c) AS BIGINT) AS n_events,
       |  CAST(SUM((CAST(1 AS HUGEINT) << CAST($maxShift
       |      - LEAST((nw.now - h) // $halfLifeHours, $maxShift) AS INTEGER)) * c)
       |    * 1000000 // (CAST(1 AS HUGEINT) << $maxShift) AS BIGINT) AS decayed_ppm
       |FROM c, nw GROUP BY 1""".stripMargin

  /** q308: two-regressor OLS (trend + weekend dummy) by Cramer's rule —
    * determinants in HUGEINT mirroring the engine's DECIMAL(38,0);
    * det = 0 degenerates to NULL in both engines.
    */
  val trendFitSeasonal: String =
    """WITH c AS (
      |  SELECT epoch_us(ts) // 3600000000 AS h, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM c),
      |g AS (SELECT unnest(generate_series(b.h0, b.h1)) AS h, b.h0 FROM b),
      |s AS (SELECT g.h - g.h0 AS t, COALESCE(c.c, 0) AS c,
      |    CASE WHEN (g.h // 24 + 3) % 7 >= 5 THEN 1 ELSE 0 END AS w
      |  FROM g LEFT JOIN c ON g.h = c.h),
      |m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
      |    CAST(SUM(w) AS BIGINT) AS sw, CAST(SUM(t * t) AS BIGINT) AS stt,
      |    CAST(SUM(t * w) AS BIGINT) AS stw, CAST(SUM(c) AS BIGINT) AS sc,
      |    CAST(SUM(t * c) AS BIGINT) AS stc, CAST(SUM(w * c) AS BIGINT) AS swc
      |  FROM s),
      |d AS (SELECT n, sw,
      |  n::HUGEINT * (stt::HUGEINT * sw - stw::HUGEINT * stw)
      |    - st::HUGEINT * (st::HUGEINT * sw - stw::HUGEINT * sw)
      |    + sw::HUGEINT * (st::HUGEINT * stw - stt::HUGEINT * sw) AS det,
      |  sc::HUGEINT * (stt::HUGEINT * sw - stw::HUGEINT * stw)
      |    - st::HUGEINT * (stc::HUGEINT * sw - stw::HUGEINT * swc)
      |    + sw::HUGEINT * (stc::HUGEINT * stw - stt::HUGEINT * swc) AS det_a,
      |  n::HUGEINT * (stc::HUGEINT * sw - stw::HUGEINT * swc)
      |    - sc::HUGEINT * (st::HUGEINT * sw - stw::HUGEINT * sw)
      |    + sw::HUGEINT * (st::HUGEINT * swc - stc::HUGEINT * sw) AS det_b,
      |  n::HUGEINT * (stt::HUGEINT * swc - stc::HUGEINT * stw)
      |    - st::HUGEINT * (st::HUGEINT * swc - stc::HUGEINT * sw)
      |    + sc::HUGEINT * (st::HUGEINT * stw - stt::HUGEINT * sw) AS det_w
      |  FROM m)
      |SELECT n AS n_hours, sw AS n_weekend_hours,
      |  CAST(CASE WHEN det = 0 THEN NULL
      |    ELSE det_b * 1000000 // det END AS BIGINT) AS slope_ppm,
      |  CAST(CASE WHEN det = 0 THEN NULL
      |    ELSE det_w * 1000000 // det END AS BIGINT) AS weekend_ppm,
      |  CAST(CASE WHEN det = 0 THEN NULL
      |    ELSE det_a * 1000000 // det END AS BIGINT) AS intercept_ppm
      |FROM d""".stripMargin

  /** q314: Tukey fences on exact quartiles (the q310 ceil-rank
    * convention) + one counting pass; floored fence arithmetic.
    */
  def tukeyOutliers(fencePpm: Long): String =
    s"""WITH v AS (
       |  SELECT l_returnflag AS key,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS x FROM lineitem),
       |n AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
       |r AS (SELECT key, x,
       |  row_number() OVER (PARTITION BY key ORDER BY x) AS rn FROM v),
       |qq AS (
       |  SELECT r.key,
       |    MAX(CASE WHEN rn = GREATEST(1, (250000::HUGEINT * n.n + 999999) // 1000000)
       |        THEN x END) AS q1,
       |    MAX(CASE WHEN rn = GREATEST(1, (750000::HUGEINT * n.n + 999999) // 1000000)
       |        THEN x END) AS q3
       |  FROM r JOIN n USING (key) GROUP BY 1),
       |f AS (
       |  SELECT key, q1, q3,
       |    q1 - (q3 - q1) * $fencePpm // 1000000 AS lo_fence,
       |    q3 + (q3 - q1) * $fencePpm // 1000000 AS hi_fence
       |  FROM qq)
       |SELECT v.key, MAX(f.q1) AS q1, MAX(f.q3) AS q3,
       |  MAX(f.lo_fence) AS lo_fence, MAX(f.hi_fence) AS hi_fence,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(CASE WHEN v.x < f.lo_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       |  CAST(SUM(CASE WHEN v.x > f.hi_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_high
       |FROM v JOIN f USING (key) GROUP BY 1""".stripMargin

  /** q315: exact two-sample KS — integer cross-products over the
    * running by-value CDFs; at_value = smallest argmax of the gap.
    */
  val ksStatistic: String =
    """WITH s AS (
      |  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS isA,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
      |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
      |bv AS (
      |  SELECT v, CAST(SUM(isA) AS BIGINT) AS ca,
      |    CAST(SUM(1 - isA) AS BIGINT) AS cb
      |  FROM s GROUP BY 1),
      |cum AS (
      |  SELECT v,
      |    CAST(SUM(ca) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
      |    CAST(SUM(cb) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b
      |  FROM bv),
      |tot AS (SELECT MAX(cum_a) AS n_a, MAX(cum_b) AS n_b FROM cum),
      |gaps AS (
      |  SELECT v, tot.n_a, tot.n_b,
      |    abs(cum_a::HUGEINT * tot.n_b - cum_b::HUGEINT * tot.n_a) AS d
      |  FROM cum, tot),
      |dm AS (SELECT MAX(d) AS dmax FROM gaps)
      |SELECT g.n_a, g.n_b, MIN(g.v) AS at_value,
      |  CAST(CASE WHEN g.n_a = 0 OR g.n_b = 0 THEN NULL ELSE
      |    MAX(g.d) * 1000000 // (g.n_a::HUGEINT * g.n_b) END AS BIGINT) AS ks_ppm
      |FROM gaps g, dm WHERE g.d = dm.dmax
      |GROUP BY g.n_a, g.n_b""".stripMargin

  /** q316: Pearson χ² independence (event type × day-of-week) with the
    * engine's milli-unit floor spelling over the full keyspace grid.
    */
  val chi2Independence: String =
    """WITH f AS (
      |  SELECT event_type AS a,
      |    CAST((epoch_us(ts) // 86400000000 + 3) % 7 AS VARCHAR) AS b
      |  FROM events),
      |obs AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS o FROM f GROUP BY 1, 2),
      |rt AS (SELECT a, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY 1),
      |ct AS (SELECT b, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY 1),
      |g AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
      |grid AS (
      |  SELECT rt.r, ct.c, g.n, COALESCE(obs.o, 0) AS o
      |  FROM rt CROSS JOIN ct CROSS JOIN g
      |  LEFT JOIN obs ON obs.a = rt.a AND obs.b = ct.b),
      |cells AS (
      |  SELECT n, o, r::HUGEINT * c * 1000 // n AS e_milli FROM grid),
      |m AS (
      |  SELECT MAX(n) AS n,
      |    CAST(SUM((o::HUGEINT * 1000 - e_milli) * (o::HUGEINT * 1000 - e_milli)
      |      // GREATEST(e_milli, 1)) AS HUGEINT) AS chi2_raw
      |  FROM cells),
      |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a_cats FROM rt),
      |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b_cats FROM ct)
      |SELECT m.n, na.n_a_cats, nb.n_b_cats,
      |  (na.n_a_cats - 1) * (nb.n_b_cats - 1) AS dof,
      |  CAST(m.chi2_raw AS BIGINT) AS chi2_milli
      |FROM m, na, nb""".stripMargin

  /** q312: exact Spearman ρ — row_number ranks with the part key as
    * tie-break, ρ = (D − 6Σd²)·10⁶ // D with D = n(n²−1) in HUGEINT.
    */
  val spearman: String =
    """WITH c AS (
      |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM lineitem GROUP BY 1),
      |f AS (
      |  SELECT p_partkey AS k,
      |    CAST(round(p_retailprice * 100) AS BIGINT) AS x,
      |    COALESCE(c.freq, 0) AS y
      |  FROM part LEFT JOIN c ON c.l_partkey = p_partkey),
      |r AS (
      |  SELECT k, row_number() OVER (ORDER BY x, k) AS rx,
      |    row_number() OVER (ORDER BY y, k) AS ry
      |  FROM f),
      |m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM((rx - ry)::HUGEINT * (rx - ry)) AS HUGEINT) AS s
      |  FROM r)
      |SELECT n AS n_rows, CAST(s AS BIGINT) AS sum_d2,
      |  CAST(CASE WHEN n < 2 THEN NULL ELSE
      |    (n::HUGEINT * (n::HUGEINT * n - 1) - 6 * s) * 1000000
      |      // (n::HUGEINT * (n::HUGEINT * n - 1)) END AS BIGINT) AS spearman_ppm
      |FROM m""".stripMargin

  /** q313: Mann–Whitney AUC between R and A line prices — by-value
    * collapse, running B-count window over distinct values, pair sums.
    */
  val rankSumAuc: String =
    """WITH v AS (
      |  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS isA,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
      |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
      |bv AS (
      |  SELECT v, CAST(SUM(isA) AS BIGINT) AS ca,
      |    CAST(SUM(1 - isA) AS BIGINT) AS cb
      |  FROM v GROUP BY 1),
      |cum AS (
      |  SELECT ca, cb,
      |    CAST(SUM(cb) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
      |      - cb AS cum_b_lt
      |  FROM bv),
      |m AS (
      |  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
      |    CAST(SUM(ca::HUGEINT * cum_b_lt) AS HUGEINT) AS gt,
      |    CAST(SUM(ca::HUGEINT * cb) AS HUGEINT) AS eq
      |  FROM cum)
      |SELECT n_a, n_b, CAST(2 * gt + eq AS BIGINT) AS u2,
      |  CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE
      |    (2 * gt + eq) * 1000000 // (2 * n_a::HUGEINT * n_b) END AS BIGINT)
      |    AS auc_ppm
      |FROM m""".stripMargin

  /** q311: weighted exact order statistics — rank over cumulative
    * QUANTITY, answer = smallest value whose running weight reaches the
    * ceil-rank; mirrors the engine's weighted descent.
    */
  def weightedGroupQuantiles(ppms: Seq[Long]): String =
    s"""WITH v AS (
       |  SELECT l_returnflag AS key,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
       |    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
       |n AS (SELECT key, CAST(SUM(w) AS BIGINT) AS n FROM v GROUP BY 1),
       |c AS (SELECT key, x, CAST(SUM(w) AS BIGINT) AS wx FROM v GROUP BY 1, 2),
       |r AS (SELECT key, x, wx,
       |  CAST(SUM(wx) OVER (PARTITION BY key ORDER BY x) AS HUGEINT) AS cum
       |  FROM c),
       |q AS (SELECT CAST(unnest([${ppms.mkString(", ")}]) AS BIGINT) AS q_ppm)
       |SELECT r.key, q.q_ppm,
       |  CAST(GREATEST(1, (q.q_ppm::HUGEINT * n.n + 999999) // 1000000) AS BIGINT) AS rank,
       |  r.x AS value
       |FROM q CROSS JOIN n
       |JOIN r ON r.key = n.key
       |  AND r.cum >= GREATEST(1, (q.q_ppm::HUGEINT * n.n + 999999) // 1000000)
       |  AND r.cum - r.wx < GREATEST(1, (q.q_ppm::HUGEINT * n.n + 999999) // 1000000)""".stripMargin

  /** q309: decayed-engagement snapshots — per snapshot hour present in
    * the hourly counts, each key's cumulative count and exact dyadic
    * decayed score as of that hour; the last snapshot equals q304.
    */
  def decayedSnapshots(halfLifeHours: Int, maxShift: Int): String =
    s"""WITH c AS (
       |  SELECT event_type AS key, epoch_us(ts) // 3600000000 AS h,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |s AS (SELECT DISTINCT h AS snap_h FROM c)
       |SELECT c.key, s.snap_h, CAST(SUM(c.c) AS BIGINT) AS n_events,
       |  CAST(SUM((CAST(1 AS HUGEINT) << CAST($maxShift
       |      - LEAST((s.snap_h - c.h) // $halfLifeHours, $maxShift) AS INTEGER)) * c.c)
       |    * 1000000 // (CAST(1 AS HUGEINT) << $maxShift) AS BIGINT) AS decayed_ppm
       |FROM c JOIN s ON c.h <= s.snap_h
       |GROUP BY 1, 2""".stripMargin

  /** q305: degree assortativity over the symmetrized co-purchase edge
    * ends — identical marginals make Pearson r one exact rational
    * (no sqrt); zero variance (regular graph) → NULL in both engines.
    */
  val degreeAssortativity: String =
    """WITH und AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), deg AS (
      |  SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
      |    SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
      |  GROUP BY n
      |), sym AS (
      |  SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und
      |), pts AS (
      |  SELECT du.d AS dx, dv.d AS dy
      |  FROM sym e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
      |), m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS mm, CAST(SUM(dx) AS BIGINT) AS sx,
      |    CAST(SUM(dx * dx) AS BIGINT) AS sxx,
      |    CAST(SUM(dx * dy) AS BIGINT) AS sxy
      |  FROM pts
      |), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
      |SELECT nn.n_nodes, CAST(m.mm // 2 AS BIGINT) AS n_edges,
      |  CAST(CASE WHEN (mm::HUGEINT * sxx - sx::HUGEINT * sx) = 0 THEN NULL
      |    ELSE (mm::HUGEINT * sxy - sx::HUGEINT * sx) * 1000000
      |      // (mm::HUGEINT * sxx - sx::HUGEINT * sx) END AS BIGINT) AS assort_ppm
      |FROM m, nn""".stripMargin

  /** q306: per-node clustering coefficient — the q101 wedge census
    * normalized by (deg choose 2); degree<2 excluded, triangle-free
    * nodes an explicit 0.
    */
  val localClustering: String =
    """WITH und AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), deg AS (
      |  SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
      |    SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
      |  GROUP BY n
      |), o AS (
      |  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
      |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
      |  FROM und e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
      |), tri AS (
      |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM o e1
      |  JOIN o e2 ON e2.src = e1.dst
      |  JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst
      |), tcnt AS (
      |  SELECT node_id, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
      |    SELECT unnest([a, b, c]) AS node_id FROM tri)
      |  GROUP BY node_id
      |)
      |SELECT deg.n AS node_id, deg.d AS degree,
      |  COALESCE(t.triangles, 0) AS triangles,
      |  CAST(COALESCE(t.triangles, 0)::HUGEINT * 2000000
      |    // (deg.d::HUGEINT * (deg.d - 1)) AS BIGINT) AS lcc_ppm
      |FROM deg LEFT JOIN tcnt t ON t.node_id = deg.n
      |WHERE deg.d >= 2""".stripMargin

  /** q330: AMS F₂ from the CountSketch cells — the same CsJ hash family
    * replayed, per-row Σ cell², exact median over depth rows (rank
    * (depth+1)/2 under (f2r, row) order), next to the exact Σ f(x)².
    */
  def csF2Moment(depth: Int, width: Int): String = {
    val cellRows = (0 until depth).map(r =>
      s"""SELECT $r AS r, (${mixSql("user_id", ext.Sketch.CsJ + 4 * r)}) % $width AS bucket,
         |  ((${mixSql("user_id", ext.Sketch.CsJ + 4 * r + 2)}) % 2) * 2 - 1 AS sign
         |FROM events""".stripMargin).mkString("\n  UNION ALL\n  ")
    s"""WITH cells AS (
       |  $cellRows),
       |sk AS (SELECT r, bucket, CAST(SUM(sign) AS BIGINT) AS cnt
       |       FROM cells GROUP BY 1, 2),
       |f2r AS (SELECT r, SUM(cnt::HUGEINT * cnt) AS f2r FROM sk GROUP BY 1),
       |med AS (SELECT f2r FROM (
       |    SELECT f2r, ROW_NUMBER() OVER (ORDER BY f2r, r) AS rn FROM f2r)
       |  WHERE rn = ${(depth + 1) / 2}),
       |ex AS (SELECT SUM(c::HUGEINT * c) AS f2x FROM (
       |    SELECT CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY user_id))
       |SELECT CAST(f2x AS BIGINT) AS f2_exact, CAST(f2r AS BIGINT) AS f2_est,
       |  CAST(abs(f2r - f2x) * 1000000 // f2x AS BIGINT) AS err_ppm
       |FROM ex, med""".stripMargin
  }

  /** q331: reciprocal-rank fusion of the exact cosine ranking and its
    * Matryoshka-truncated arm — both arms MATERIALIZED (each is a full
    * brute-force ranking; inlining would re-derive them per reference),
    * fused score = Σ 10⁶ // (k0 + rank), re-ranked (score desc, doc).
    */
  def rrfFusion(mod: Int, k: Int, dims: Int, k0: Int, kOut: Int): String =
    s"""WITH a0 AS MATERIALIZED (
       |  SELECT query_id, neighbor_id AS doc_id, "rank" FROM (${cosineTopK(mod, k)}) t),
       |b0 AS MATERIALIZED (
       |  SELECT query_id, neighbor_id AS doc_id, "rank" FROM (${cosineTopKDims(mod, k, dims)}) t),
       |sa AS (SELECT query_id, doc_id,
       |         CAST(1000000 // ($k0 + "rank") AS BIGINT) AS s_a FROM a0),
       |sb AS (SELECT query_id, doc_id,
       |         CAST(1000000 // ($k0 + "rank") AS BIGINT) AS s_b FROM b0),
       |f AS (SELECT COALESCE(sa.query_id, sb.query_id) AS query_id,
       |        COALESCE(sa.doc_id, sb.doc_id) AS doc_id,
       |        COALESCE(s_a, 0) + COALESCE(s_b, 0) AS rrf
       |      FROM sa FULL JOIN sb
       |        ON sa.query_id = sb.query_id AND sa.doc_id = sb.doc_id),
       |r AS (SELECT query_id, doc_id, rrf,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY rrf DESC, doc_id) AS INTEGER) AS "rank"
       |      FROM f)
       |SELECT query_id, doc_id, rrf, "rank" FROM r WHERE "rank" <= $kOut""".stripMargin

  /** q332: Pettitt changepoint on the hourly grid — per-value
    * s = 2·cumleq − m − n, prefix U_t = Σ s, K = max |U| over the n−1
    * proper splits, argmin-hour tie-break; the engine's spelling replayed.
    */
  val pettittTest: String =
    """WITH c AS (
      |  SELECT epoch_us(ts) // 3600000000 AS h, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM c),
      |g AS (SELECT unnest(generate_series(b.h0, b.h1)) AS h, b.h0 FROM b),
      |s AS (SELECT g.h, g.h - g.h0 AS t, COALESCE(c.c, 0) AS c
      |      FROM g LEFT JOIN c ON g.h = c.h),
      |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
      |byv AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS m FROM s GROUP BY 1),
      |sv AS (SELECT c,
      |         2 * SUM(m) OVER (ORDER BY c) - m - (SELECT n FROM n1) AS sval
      |       FROM byv),
      |u AS (SELECT s.h, s.t, SUM(sv.sval) OVER (ORDER BY s.t) AS u
      |      FROM s JOIN sv USING (c)),
      |uf AS (SELECT h, u FROM u WHERE t < (SELECT n FROM n1) - 1),
      |km AS (SELECT MAX(abs(u)) AS k_stat FROM uf)
      |SELECT (SELECT n FROM n1) AS n_hours, CAST(km.k_stat AS BIGINT) AS k_stat,
      |  CAST(MIN(uf.h) AS BIGINT) AS at_hour, CAST(min_by(uf.u, uf.h) AS BIGINT) AS u_at
      |FROM uf, km WHERE abs(uf.u) = km.k_stat GROUP BY km.k_stat""".stripMargin

  /** q333: k-core of the co-purchase graph — the engine's peel unrolled
    * round for round (MATERIALIZED: each round references the previous
    * twice; DuckDB's default CTE inlining would blow up exponentially).
    */
  def kCore(k: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT u AS n FROM e${r - 1} GROUP BY u HAVING COUNT(*) >= $k),
         |e$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e${r - 1} e
         |  JOIN s$r a ON a.n = e.u JOIN s$r b ON b.n = e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH und AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |e0 AS MATERIALIZED (
       |  SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
       |$roundCtes
       |SELECT u AS node_id, CAST(COUNT(*) AS BIGINT) AS core_degree
       |FROM e$rounds GROUP BY 1""".stripMargin
  }

  /** The paired 1-NN label relation shared by q340/q341: for every panel
    * query, the label its exact-cosine nearest neighbor carries, the label
    * its int8-quantized nearest neighbor carries, and its own true label.
    * Both arms MATERIALIZED (each is a full brute-force ranking).
    */
  private def onennLabelPairs(mod: Int): String =
    s"""ex AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (${cosineTopK(mod, 1)}) t),
       |qz AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (${quantizedTopK(mod, 1)}) t),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |pairs AS (
       |  SELECT e.query_id, la.label AS pred_exact, lb.label AS pred_quant,
       |         lt.label AS truth
       |  FROM ex e JOIN qz q USING (query_id)
       |  JOIN lab la ON la.vec_id = e.neighbor_id
       |  JOIN lab lb ON lb.vec_id = q.neighbor_id
       |  JOIN lab lt ON lt.vec_id = e.query_id)""".stripMargin

  /** q340: Cohen's kappa between the exact and quantized 1-NN label arms
    * — κ = (A·n − P)/(n² − P) as one integer rational in ppm, HUGEINT
    * envelope, sign-split `//` (toward-zero like Spark's `div`).
    */
  def onennKappa(mod: Int): String =
    s"""WITH ${onennLabelPairs(mod)},
       |conf AS (SELECT pred_exact AS ca, pred_quant AS cb, COUNT(*) AS m
       |         FROM pairs GROUP BY 1, 2),
       |t AS (SELECT CAST(SUM(m) AS BIGINT) AS n,
       |        CAST(SUM(CASE WHEN ca = cb THEN m ELSE 0 END) AS BIGINT) AS agree
       |      FROM conf),
       |pe AS (SELECT SUM(a.ra::HUGEINT * b.cc) AS p FROM
       |  (SELECT ca AS k, SUM(m) AS ra FROM conf GROUP BY 1) a JOIN
       |  (SELECT cb AS k, SUM(m) AS cc FROM conf GROUP BY 1) b USING (k))
       |SELECT n, agree,
       |  CAST((agree::HUGEINT * 1000000) // n AS BIGINT) AS po_ppm,
       |  CAST((p * 1000000) // (n::HUGEINT * n) AS BIGINT) AS pe_ppm,
       |  CASE WHEN n::HUGEINT * n = p THEN NULL
       |       WHEN agree::HUGEINT * n >= p
       |       THEN CAST(((agree::HUGEINT * n - p) * 1000000)
       |              // (n::HUGEINT * n - p) AS BIGINT)
       |       ELSE -CAST(((p - agree::HUGEINT * n) * 1000000)
       |              // (n::HUGEINT * n - p) AS BIGINT)
       |  END AS kappa_ppm
       |FROM t, pe""".stripMargin

  /** q341: McNemar over the same two arms against the true label —
    * χ² = (b − c)²·10⁶ div (b + c); discordant-free panels → NULL.
    */
  def onennMcnemar(mod: Int): String =
    s"""WITH ${onennLabelPairs(mod)},
       |f AS (SELECT
       |        CASE WHEN pred_exact = truth THEN 1 ELSE 0 END AS oka,
       |        CASE WHEN pred_quant = truth THEN 1 ELSE 0 END AS okb
       |      FROM pairs)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN oka = 1 AND okb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
       |  CAST(SUM(CASE WHEN oka = 0 AND okb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only,
       |  CASE WHEN SUM(CASE WHEN oka <> okb THEN 1 ELSE 0 END) = 0 THEN NULL
       |       ELSE CAST((SUM(CASE WHEN oka = 1 AND okb = 0 THEN 1 ELSE 0 END)::HUGEINT
       |                  - SUM(CASE WHEN oka = 0 AND okb = 1 THEN 1 ELSE 0 END))
       |                 * (SUM(CASE WHEN oka = 1 AND okb = 0 THEN 1 ELSE 0 END)::HUGEINT
       |                  - SUM(CASE WHEN oka = 0 AND okb = 1 THEN 1 ELSE 0 END))
       |                 * 1000000
       |              // (SUM(CASE WHEN oka = 1 AND okb = 0 THEN 1 ELSE 0 END)
       |                  + SUM(CASE WHEN oka = 0 AND okb = 1 THEN 1 ELSE 0 END)) AS BIGINT)
       |  END AS chi2_ppm
       |FROM f""".stripMargin

  /** q342/q343: Mann–Kendall over the hourly grid — S from the explicit
    * pair census, tie-corrected ×18 variance numerator in HUGEINT, and
    * the continuity-corrected z² in ppm (0 when |S| ≤ 1, NULL when the
    * series is constant). The stream twin re-uses this verbatim.
    */
  val mannKendall: String =
    """WITH c AS (
      |  SELECT epoch_us(ts) // 3600000000 AS h, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM c),
      |g AS (SELECT unnest(generate_series(b.h0, b.h1)) AS h, b.h0 FROM b),
      |s AS MATERIALIZED (SELECT g.h - g.h0 AS t, COALESCE(c.c, 0) AS c
      |      FROM g LEFT JOIN c ON g.h = c.h),
      |st AS (SELECT COALESCE(CAST(SUM(CASE WHEN s2.c > s1.c THEN 1
      |           WHEN s2.c < s1.c THEN -1 ELSE 0 END) AS BIGINT), 0) AS s_stat
      |       FROM s s1 JOIN s s2 ON s2.t > s1.t),
      |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
      |tie AS (SELECT COALESCE(SUM(m::HUGEINT * (m - 1) * (2 * m + 5)), 0) AS tie18
      |        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM s GROUP BY c) t),
      |v AS (SELECT n1.n,
      |        n1.n::HUGEINT * (n1.n - 1) * (2 * n1.n + 5) - tie.tie18 AS var18
      |      FROM n1, tie)
      |SELECT v.n AS n_hours, st.s_stat, CAST(v.var18 AS BIGINT) AS var18,
      |  CASE WHEN v.var18 = 0 THEN CAST(NULL AS BIGINT)
      |       WHEN abs(st.s_stat) <= 1 THEN CAST(0 AS BIGINT)
      |       ELSE CAST((abs(st.s_stat)::HUGEINT - 1) * (abs(st.s_stat) - 1)
      |              * 18000000 // v.var18 AS BIGINT)
      |  END AS z2_ppm
      |FROM v, st""".stripMargin

  /** q344: Kruskal–Wallis H over price cents by return flag — doubled
    * midranks keep every rank integer under ties; the per-group
    * ⌊R2²·10⁶/(4n_g)⌋ floor mirrors the engine exactly (one HUGEINT
    * division equals the engine's two-term DECIMAL(38,0) expansion).
    */
  val kruskalWallis: String =
    """WITH base AS (
      |  SELECT l_returnflag AS g, CAST(round(l_extendedprice * 100) AS BIGINT) AS v
      |  FROM lineitem WHERE l_returnflag IS NOT NULL),
      |cells AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM base GROUP BY 1, 2),
      |byv AS (SELECT v, CAST(SUM(cnt) AS BIGINT) AS m FROM cells GROUP BY 1),
      |rk AS (SELECT v, m, 2 * (SUM(m) OVER (ORDER BY v) - m) + m + 1 AS r2 FROM byv),
      |pg AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n_g,
      |         CAST(SUM(cnt::HUGEINT * r2) AS HUGEINT) AS rr2
      |       FROM cells JOIN rk USING (v) GROUP BY 1),
      |ag AS (SELECT n_g,
      |         (rr2 * rr2) // (4 * n_g) * 1000000
      |           + ((rr2 * rr2) % (4 * n_g)) * 1000000 // (4 * n_g) AS a_g
      |       FROM pg),
      |tie AS (SELECT COALESCE(SUM(m::HUGEINT * (m - 1) * (m + 1)), 0) AS tie FROM byv),
      |tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
      |          CAST(COUNT(*) AS BIGINT) AS k_groups, SUM(a_g) AS a FROM ag)
      |SELECT tot.n AS n_rows, tot.k_groups,
      |  CAST((12 * tot.a) // (tot.n::HUGEINT * (tot.n + 1))
      |    - 3 * (tot.n::HUGEINT + 1) * 1000000 AS BIGINT) AS h_ppm,
      |  CASE WHEN tot.n::HUGEINT * tot.n * tot.n - tot.n - tie.tie = 0
      |       THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(((12 * tot.a) // (tot.n::HUGEINT * (tot.n + 1))
      |                  - 3 * (tot.n::HUGEINT + 1) * 1000000)
      |                 * (tot.n::HUGEINT * tot.n * tot.n - tot.n)
      |              // (tot.n::HUGEINT * tot.n * tot.n - tot.n - tie.tie) AS BIGINT)
      |  END AS h_tie_ppm
      |FROM tot, tie""".stripMargin

  /** q345: per-query average precision at k for the exact cosine arm —
    * the q319 ranking/qrels derivation with the AP readout: each
    * precision term is the floored ppm ⌊cum·10⁶/rank⌋, the normalizer
    * min(n_rel, k); zero-relevant queries score 0 and stay in the panel.
    */
  def avgPrecision(mod: Int, kMax: Int): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % $mod = 0),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       |p AS (SELECT query_id, neighbor_id, qv, cv FROM q, c WHERE query_id <> neighbor_id),
       |$dotsCte,
       |rk AS (
       |  SELECT query_id, neighbor_id AS doc_id, rnk FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
       |    FROM scored) WHERE rnk <= $kMax),
       |ql AS (SELECT vec_id AS query_id, label AS l FROM embeddings WHERE vec_id % $mod = 0),
       |qr AS (
       |  SELECT query_id, e.vec_id AS doc_id
       |  FROM ql JOIN embeddings e ON e.label = ql.l
       |  WHERE e.vec_id <> query_id),
       |nrel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel FROM qr GROUP BY 1),
       |hits AS (
       |  SELECT rk.query_id, rk.rnk,
       |    CASE WHEN qr.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
       |  FROM rk LEFT JOIN qr USING (query_id, doc_id)),
       |cm AS (
       |  SELECT query_id, rnk, rel,
       |    SUM(rel) OVER (PARTITION BY query_id ORDER BY rnk) AS cum
       |  FROM hits),
       |pq AS (
       |  SELECT query_id, CAST(SUM(cum::HUGEINT * 1000000 // rnk) AS BIGINT) AS ap_num,
       |    CAST(MAX(cum) AS BIGINT) AS n_hits
       |  FROM cm WHERE rel = 1 GROUP BY 1),
       |panel AS (SELECT DISTINCT query_id FROM rk)
       |SELECT panel.query_id, COALESCE(nrel.n_rel, 0) AS n_rel,
       |  COALESCE(pq.n_hits, 0) AS n_hits,
       |  CASE WHEN COALESCE(nrel.n_rel, 0) = 0 THEN CAST(0 AS BIGINT)
       |       ELSE CAST(COALESCE(pq.ap_num, 0) // LEAST(nrel.n_rel, $kMax) AS BIGINT)
       |  END AS ap_ppm
       |FROM panel LEFT JOIN nrel USING (query_id) LEFT JOIN pq USING (query_id)""".stripMargin

  /** q346: per-query Kendall τ-b between the exact-cosine order and the
    * int8-quantized dot over the exact arm's top-k — exact ranking from
    * the q18/q319 derivation, quantized dots recomputed only on the
    * panel×k candidate rows (q340's quantization CTEs), concordance
    * census with the tie-adjusted sqrt-free τ_b² readout.
    */
  def onennTau(mod: Int, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % $mod = 0),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       |p AS (SELECT query_id, neighbor_id, qv, cv FROM q, c WHERE query_id <> neighbor_id),
       |$dotsCte,
       |rk AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, rnk FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
       |    FROM scored) WHERE rnk <= $k),
       |q0 AS (SELECT vec_id AS query_id, embedding AS v FROM embeddings WHERE vec_id % $mod = 0),
       |c0 AS (SELECT vec_id AS neighbor_id, embedding AS v FROM embeddings),
       |qn AS (SELECT query_id, sqrt(SUM(CAST(v[CAST(i AS INTEGER)] AS DOUBLE) * CAST(v[CAST(i AS INTEGER)] AS DOUBLE) ORDER BY i)) AS n
       |       FROM q0, generate_series(1, 64) t(i) GROUP BY 1),
       |cn AS (SELECT neighbor_id, sqrt(SUM(CAST(v[CAST(i AS INTEGER)] AS DOUBLE) * CAST(v[CAST(i AS INTEGER)] AS DOUBLE) ORDER BY i)) AS n
       |       FROM c0, generate_series(1, 64) t(i) GROUP BY 1),
       |qq AS (SELECT query_id, i,
       |         CAST(floor(CASE WHEN n = 0 THEN 0.0 ELSE CAST(v[CAST(i AS INTEGER)] AS DOUBLE) / n * 127.0 END + 0.5) AS BIGINT) AS a
       |       FROM q0 JOIN qn USING (query_id), generate_series(1, 64) t(i)),
       |cq AS (SELECT neighbor_id, i,
       |         CAST(floor(CASE WHEN n = 0 THEN 0.0 ELSE CAST(v[CAST(i AS INTEGER)] AS DOUBLE) / n * 127.0 END + 0.5) AS BIGINT) AS b
       |       FROM c0 JOIN cn USING (neighbor_id), generate_series(1, 64) t(i)),
       |qd AS MATERIALIZED (
       |  SELECT rk.query_id, rk.neighbor_id, -CAST(rk.rnk AS BIGINT) AS x,
       |    CAST(SUM(qq.a * cq.b) AS BIGINT) AS y
       |  FROM rk JOIN qq ON qq.query_id = rk.query_id
       |          JOIN cq ON cq.neighbor_id = rk.neighbor_id AND cq.i = qq.i
       |  GROUP BY 1, 2, 3),
       |pr AS (
       |  SELECT a.query_id AS g,
       |    CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS cx,
       |    CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS cy
       |  FROM qd a JOIN qd b
       |    ON a.query_id = b.query_id AND a.neighbor_id < b.neighbor_id),
       |agg AS (
       |  SELECT g, CAST(COUNT(*) AS BIGINT) AS p,
       |    CAST(SUM(CASE WHEN cx * cy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(SUM(CASE WHEN cx * cy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    CAST(SUM(CASE WHEN cx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
       |    CAST(SUM(CASE WHEN cy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty
       |  FROM pr GROUP BY 1)
       |SELECT g AS query_id, p AS n_pairs, c AS concordant, d AS discordant,
       |  CASE WHEN p = tx OR p = ty THEN CAST(NULL AS BIGINT)
       |       ELSE CAST((CASE WHEN c >= d THEN 1 ELSE -1 END)
       |              * (c - d)::HUGEINT * (c - d) * 1000000
       |              // ((p - tx)::HUGEINT * (p - ty)) AS BIGINT)
       |  END AS tau_b2_ppm
       |FROM agg""".stripMargin

  /** q347: link prediction on the ≥minPairs co-purchase graph — the
    * engine's capped common-neighbor census replayed exactly: centers
    * with degree > cap excluded, Jaccard in floored ppm, top-k under the
    * total order (jaccard, cn, u, v).
    */
  def linkPrediction(minPairs: Long, cap: Int, k: Int): String =
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v,
       |           COUNT(DISTINCT a.l_orderkey) AS pn
       |    FROM lineitem a JOIN lineitem b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |    GROUP BY 1, 2)
       |  WHERE pn >= $minPairs
       |), sym AS MATERIALIZED (
       |  SELECT u AS w, v AS n FROM e0 UNION ALL SELECT v AS w, u AS n FROM e0
       |), deg AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1
       |), cent AS MATERIALIZED (
       |  SELECT s.w, s.n FROM sym s JOIN deg ON deg.w = s.w WHERE deg.d <= $cap
       |), pairs AS (
       |  SELECT a.n AS a, b.n AS b, CAST(COUNT(*) AS BIGINT) AS cn
       |  FROM cent a JOIN cent b ON a.w = b.w AND a.n < b.n GROUP BY 1, 2
       |), cand AS (
       |  SELECT p.a, p.b, p.cn FROM pairs p
       |  LEFT JOIN e0 ON e0.u = p.a AND e0.v = p.b WHERE e0.u IS NULL
       |)
       |SELECT cand.a AS u, cand.b AS v, cand.cn,
       |  CAST(cand.cn * 1000000 // (da.d + db.d - cand.cn) AS BIGINT) AS jaccard_ppm
       |FROM cand JOIN deg da ON da.w = cand.a JOIN deg db ON db.w = cand.b
       |ORDER BY jaccard_ppm DESC, cand.cn DESC, u, v LIMIT $k""".stripMargin

  /** q348: Fleiss' kappa among three raters — the exact 1-NN label arm,
    * the quantized arm, and the true label — over the q340 paired panel;
    * the multi-rater integer rational replayed in HUGEINT.
    */
  def onennFleiss(mod: Int): String =
    s"""WITH ${onennLabelPairs(mod)},
       |melt AS (
       |  SELECT query_id AS s, CAST(pred_exact AS VARCHAR) AS cat FROM pairs
       |  UNION ALL SELECT query_id, CAST(pred_quant AS VARCHAR) FROM pairs
       |  UNION ALL SELECT query_id, CAST(truth AS VARCHAR) FROM pairs),
       |cells AS (SELECT s, cat, CAST(COUNT(*) AS BIGINT) AS m FROM melt GROUP BY 1, 2),
       |ss AS (SELECT CAST(SUM(m) AS BIGINT) AS t, SUM(m::HUGEINT * m) AS a FROM cells),
       |cs AS (SELECT COALESCE(SUM(cm * cm), 0) AS c FROM
       |  (SELECT SUM(m)::HUGEINT AS cm FROM cells GROUP BY cat) x)
       |SELECT CAST(ss.t // 3 AS BIGINT) AS n_subjects,
       |  CAST(3 AS BIGINT) AS n_raters,
       |  CAST((ss.a - ss.t) * 1000000 // (ss.t::HUGEINT * 2) AS BIGINT) AS pbar_ppm,
       |  CAST(cs.c * 1000000 // (ss.t::HUGEINT * ss.t) AS BIGINT) AS pe_ppm,
       |  CASE WHEN ss.t::HUGEINT * ss.t = cs.c THEN CAST(NULL AS BIGINT)
       |       ELSE CAST(((ss.a - ss.t) * ss.t - cs.c * 2) * 1000000
       |              // (2 * (ss.t::HUGEINT * ss.t - cs.c)) AS BIGINT)
       |  END AS kappa_ppm
       |FROM ss, cs""".stripMargin

  /** q349: 2-D radius self-join over quantized embedding coordinates —
    * brute-force exact distance² join (the grid is the ENGINE's scale
    * device; the oracle is deliberately the naive O(n²) spelling).
    */
  def radiusJoin(r: Long): String =
    s"""WITH pts AS (
       |  SELECT vec_id AS id,
       |    CAST(round(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT) AS x,
       |    CAST(round(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT) AS y
       |  FROM embeddings)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
       |FROM pts a JOIN pts b ON a.id < b.id
       |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= ${r * r}""".stripMargin

  /** q350/q351: lead-lag cross-correlation between two event-type hourly
    * series — n-scaled integer deviations over the shared gap-filled
    * grid; the signed sqrt-free r² readout replays the engine's TWO-STEP
    * floored division exactly. The stream twin reuses this verbatim.
    */
  def crossCorrelation(keyA: String, keyB: String, maxLag: Int): String =
    s"""WITH c AS (
       |  SELECT epoch_us(ts) // 3600000000 AS h,
       |    CAST(SUM(CASE WHEN event_type = '$keyA' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(SUM(CASE WHEN event_type = '$keyB' THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM events WHERE event_type IN ('$keyA', '$keyB') GROUP BY 1),
       |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1, SUM(ca) AS sa, SUM(cb) AS sb,
       |        MAX(h) - MIN(h) + 1 AS n FROM c),
       |g AS (SELECT unnest(generate_series(b.h0, b.h1)) AS h, b.h0, b.sa, b.sb, b.n FROM b),
       |s AS MATERIALIZED (
       |  SELECT g.h - g.h0 AS t, g.n,
       |    g.n * COALESCE(c.ca, 0) - g.sa AS deva,
       |    g.n * COALESCE(c.cb, 0) - g.sb AS devb
       |  FROM g LEFT JOIN c ON g.h = c.h),
       |den AS (SELECT SUM(deva::HUGEINT * deva) AS den_a,
       |          SUM(devb::HUGEINT * devb) AS den_b,
       |          CAST(MAX(n) AS BIGINT) AS n_hours FROM s),
       |l AS (SELECT CAST(unnest(generate_series(-$maxLag, $maxLag)) AS BIGINT) AS lag),
       |num AS (
       |  SELECT l.lag, SUM(a.deva::HUGEINT * b2.devb) AS num
       |  FROM s a JOIN l ON TRUE JOIN s b2 ON b2.t = a.t + l.lag
       |  GROUP BY 1)
       |SELECT num.lag, den.n_hours,
       |  CASE WHEN den.den_a = 0 OR den.den_b = 0 THEN CAST(NULL AS BIGINT)
       |       ELSE CAST((CASE WHEN num.num >= 0 THEN 1 ELSE -1 END)
       |              * (abs(num.num) * 1000000 // den.den_a)
       |              * abs(num.num) // den.den_b AS BIGINT)
       |  END AS xcf2_ppm
       |FROM num, den""".stripMargin

  /** q352: discrete-time churn hazard — per-user first/last day, the
    * grace-window censor split, and the reverse running at-risk sum over
    * the duration keyspace.
    */
  def churnHazard(graceDays: Int): String =
    s"""WITH spans AS (
       |  SELECT user_id AS u, MIN(CAST(ts AS DATE)) AS fd, MAX(CAST(ts AS DATE)) AS ld
       |  FROM events GROUP BY 1),
       |hz AS (SELECT MAX(CAST(ts AS DATE)) AS end_day FROM events),
       |obs AS (
       |  SELECT CASE WHEN s.ld < hz.end_day - $graceDays THEN s.ld - s.fd
       |              ELSE hz.end_day - s.fd END AS t,
       |         CASE WHEN s.ld < hz.end_day - $graceDays THEN 1 ELSE 0 END AS dead
       |  FROM spans s, hz),
       |byt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS ending,
       |          CAST(SUM(dead) AS BIGINT) AS n_churned
       |        FROM obs GROUP BY 1)
       |SELECT CAST(t AS BIGINT) AS lifetime_days,
       |  CAST(SUM(ending) OVER (ORDER BY t DESC) AS BIGINT) AS at_risk,
       |  n_churned,
       |  CAST(n_churned * 1000000 // SUM(ending) OVER (ORDER BY t DESC) AS BIGINT) AS hazard_ppm
       |FROM byt""".stripMargin

  /** q353: supplier revenue concentration — exact Gini over the
    * (mass, key)-ranked group relation and HHI, both HUGEINT rationals.
    */
  val concentration: String =
    """WITH mass AS (
      |  SELECT l_suppkey AS g,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM lineitem GROUP BY 1),
      |rk AS (SELECT g, x, row_number() OVER (ORDER BY x, g) AS r FROM mass),
      |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
      |          SUM(r::HUGEINT * x) AS rx, SUM(x::HUGEINT * x) AS xx FROM rk)
      |SELECT n AS n_groups, s AS total,
      |  CASE WHEN s = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST((2 * rx - (n::HUGEINT + 1) * s) * 1000000
      |              // (n::HUGEINT * s) AS BIGINT) END AS gini_ppm,
      |  CASE WHEN s = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(xx * 1000000 // (s::HUGEINT * s) AS BIGINT)
      |  END AS hhi_ppm
      |FROM agg""".stripMargin

  /** q354: Benford first-digit audit of line-amount cents — the law's
    * ppm constants as a VALUES grid so absent digits still emit.
    */
  val benford: String =
    """WITH c AS (
      |  SELECT CAST(substring(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
      |    CAST(COUNT(*) AS BIGINT) AS n_obs
      |  FROM lineitem WHERE CAST(round(l_extendedprice * 100) AS BIGINT) > 0
      |  GROUP BY 1),
      |t AS (SELECT CAST(COALESCE(SUM(n_obs), 0) AS BIGINT) AS n FROM c)
      |SELECT CAST(b.digit AS BIGINT) AS digit,
      |  CAST(COALESCE(c.n_obs, 0) AS BIGINT) AS n_obs,
      |  CASE WHEN t.n = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(COALESCE(c.n_obs, 0) * 1000000 // t.n AS BIGINT)
      |  END AS obs_ppm,
      |  CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
      |  CASE WHEN t.n = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(COALESCE(c.n_obs, 0) * 1000000 // t.n - b.benford_ppm AS BIGINT)
      |  END AS dev_ppm
      |FROM (VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
      |      (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757))
      |     b(digit, benford_ppm)
      |LEFT JOIN c ON c.digit = b.digit CROSS JOIN t""".stripMargin

  /** q366: stream-fed user-value concentration — the q353 readout over
    * per-user event-value cents; the engine reads the daily closed-window
    * mass emitter and merges by addition, which this single-pass grouping
    * is exactly equal to (masses are additive across windows).
    */
  val concentrationStream: String =
    """WITH mass AS (
      |  SELECT user_id AS g,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events WHERE value IS NOT NULL GROUP BY 1),
      |rk AS (SELECT g, x, row_number() OVER (ORDER BY x, g) AS r FROM mass),
      |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
      |          SUM(r::HUGEINT * x) AS rx, SUM(x::HUGEINT * x) AS xx FROM rk)
      |SELECT n AS n_groups, s AS total,
      |  CASE WHEN s = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST((2 * rx - (n::HUGEINT + 1) * s) * 1000000
      |              // (n::HUGEINT * s) AS BIGINT) END AS gini_ppm,
      |  CASE WHEN s = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(xx * 1000000 // (s::HUGEINT * s) AS BIGINT)
      |  END AS hhi_ppm
      |FROM agg""".stripMargin

  /** q367: stream-fed Benford audit — the q354 readout over event-value
    * cents; the engine merges the daily digit-count windows by addition,
    * equal to this single-pass census.
    */
  val benfordStream: String =
    """WITH c AS (
      |  SELECT CAST(substring(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
      |    CAST(COUNT(*) AS BIGINT) AS n_obs
      |  FROM events WHERE CAST(round(value * 100) AS BIGINT) > 0
      |  GROUP BY 1),
      |t AS (SELECT CAST(COALESCE(SUM(n_obs), 0) AS BIGINT) AS n FROM c)
      |SELECT CAST(b.digit AS BIGINT) AS digit,
      |  CAST(COALESCE(c.n_obs, 0) AS BIGINT) AS n_obs,
      |  CASE WHEN t.n = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(COALESCE(c.n_obs, 0) * 1000000 // t.n AS BIGINT)
      |  END AS obs_ppm,
      |  CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
      |  CASE WHEN t.n = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(COALESCE(c.n_obs, 0) * 1000000 // t.n - b.benford_ppm AS BIGINT)
      |  END AS dev_ppm
      |FROM (VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
      |      (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757))
      |     b(digit, benford_ppm)
      |LEFT JOIN c ON c.digit = b.digit CROSS JOIN t""".stripMargin

  /** q356/q357: Wald–Wolfowitz runs test — lower-median dichotomization
    * of the gap-filled hourly grid, run census by lag, exact z² against
    * the null moments in HUGEINT. The stream twin reuses this verbatim.
    */
  val runsTest: String =
    """WITH c AS (
      |  SELECT epoch_us(ts) // 3600000000 AS h, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM c),
      |g AS (SELECT unnest(generate_series(b.h0, b.h1)) AS h, b.h0 FROM b),
      |s AS MATERIALIZED (SELECT g.h - g.h0 AS t, COALESCE(c.c, 0) AS c
      |      FROM g LEFT JOIN c ON g.h = c.h),
      |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
      |byv AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS m FROM s GROUP BY 1),
      |med AS (SELECT MIN(c) AS med FROM (
      |  SELECT c, SUM(m) OVER (ORDER BY c) AS cum FROM byv), n1
      |  WHERE cum * 2 >= n1.n),
      |fl AS (SELECT t, CASE WHEN c > med.med THEN 1 ELSE 0 END AS s2
      |       FROM s, med),
      |cen AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(s2) AS BIGINT) AS n_above,
      |    CAST(COUNT(*) - SUM(s2) AS BIGINT) AS n_below,
      |    CAST(COALESCE(SUM(CASE WHEN prev IS NOT NULL AND prev <> s2
      |      THEN 1 ELSE 0 END), 0) + 1 AS BIGINT) AS runs
      |  FROM (SELECT s2, lag(s2) OVER (ORDER BY t) AS prev FROM fl))
      |SELECT n AS n_hours, n_above, n_below, runs,
      |  CASE WHEN n_above = 0 OR n_below = 0
      |         OR 2 * n_above * n_below = n OR n < 2 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(
      |         (runs::HUGEINT * n - n - 2 * n_above * n_below)
      |         * (runs::HUGEINT * n - n - 2 * n_above * n_below)
      |         * (n - 1) * 1000000
      |         // (2 * n_above::HUGEINT * n_below
      |            * (2 * n_above::HUGEINT * n_below - n)) AS BIGINT)
      |  END AS z2_ppm
      |FROM cen""".stripMargin

  /** q358: weekend×purchase 2×2 effect report — the four conditional
    * counts, then OR/RR/risk-diff as HUGEINT rationals with the
    * zero-cell NULL conventions.
    */
  val weekendEffect: String =
    """WITH f AS (
      |  SELECT CASE WHEN (epoch_us(ts) // 86400000000 + 3) % 7 >= 5
      |              THEN 1 ELSE 0 END AS ex,
      |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS oc
      |  FROM events),
      |t AS (SELECT
      |  CAST(SUM(CASE WHEN ex = 1 AND oc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |  CAST(SUM(CASE WHEN ex = 1 AND oc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |  CAST(SUM(CASE WHEN ex = 0 AND oc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |  CAST(SUM(CASE WHEN ex = 0 AND oc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      | FROM f)
      |SELECT a + b AS n_exposed, c + d AS n_unexposed,
      |  a AS n_exposed_hits, c AS n_unexposed_hits,
      |  CASE WHEN b * c = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(a::HUGEINT * d * 1000000 // (b::HUGEINT * c) AS BIGINT)
      |  END AS odds_ratio_ppm,
      |  CASE WHEN c = 0 OR a + b = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(a::HUGEINT * (c + d) * 1000000
      |              // (c::HUGEINT * (a + b)) AS BIGINT)
      |  END AS risk_ratio_ppm,
      |  CASE WHEN a + b = 0 OR c + d = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(a::HUGEINT * 1000000 // (a + b)
      |              - c::HUGEINT * 1000000 // (c + d) AS BIGINT)
      |  END AS risk_diff_ppm
      |FROM t""".stripMargin

  /** q359: Cramér's V² from the q316 milli-χ² integers — same
    * contingency CTEs, one extra exact rational.
    */
  val cramersV: String =
    """WITH f AS (
      |  SELECT event_type AS a,
      |    CAST((epoch_us(ts) // 86400000000 + 3) % 7 AS VARCHAR) AS b
      |  FROM events),
      |obs AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS o FROM f GROUP BY 1, 2),
      |rt AS (SELECT a, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY 1),
      |ct AS (SELECT b, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY 1),
      |g AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
      |grid AS (
      |  SELECT rt.r, ct.c, g.n, COALESCE(obs.o, 0) AS o
      |  FROM rt CROSS JOIN ct CROSS JOIN g
      |  LEFT JOIN obs ON obs.a = rt.a AND obs.b = ct.b),
      |cells AS (
      |  SELECT n, o, r::HUGEINT * c * 1000 // n AS e_milli FROM grid),
      |m AS (
      |  SELECT MAX(n) AS n,
      |    CAST(SUM((o::HUGEINT * 1000 - e_milli) * (o::HUGEINT * 1000 - e_milli)
      |      // GREATEST(e_milli, 1)) AS HUGEINT) AS chi2_raw
      |  FROM cells),
      |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a_cats FROM rt),
      |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b_cats FROM ct)
      |SELECT m.n, (na.n_a_cats - 1) * (nb.n_b_cats - 1) AS dof,
      |  CAST(m.chi2_raw AS BIGINT) AS chi2_milli,
      |  CASE WHEN m.n = 0 OR LEAST(na.n_a_cats, nb.n_b_cats) < 2
      |       THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(m.chi2_raw * 1000
      |              // (m.n::HUGEINT * (LEAST(na.n_a_cats, nb.n_b_cats) - 1))
      |              AS BIGINT)
      |  END AS v2_ppm
      |FROM m, na, nb""".stripMargin

  /** q360: interarrival burstiness — millisecond gaps by lag per type,
    * CV² as one HUGEINT rational in ppm.
    */
  val burstiness: String =
    """WITH g AS (
      |  SELECT event_type AS key,
      |    epoch_us(ts) // 1000
      |      - lag(epoch_us(ts) // 1000) OVER (PARTITION BY event_type
      |          ORDER BY epoch_us(ts) // 1000) AS d
      |  FROM events),
      |m AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |        CAST(SUM(d) AS BIGINT) AS s, SUM(d::HUGEINT * d) AS s2
      |      FROM g WHERE d IS NOT NULL GROUP BY 1)
      |SELECT key, n_gaps,
      |  CASE WHEN n_gaps = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(s // n_gaps AS BIGINT) END AS mean_gap_ms,
      |  CASE WHEN n_gaps < 2 OR s = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST((n_gaps * s2 - s::HUGEINT * s) * 1000000
      |              // (s::HUGEINT * s) AS BIGINT)
      |  END AS cv2_ppm
      |FROM m""".stripMargin

  /** q361: hourly peak-to-mean per type over the gap-filled grid —
    * zero-hours count toward the mean, peak·H·10⁶ // total.
    */
  val peakToMean: String =
    """WITH c AS (
      |  SELECT event_type AS key, date_trunc('hour', ts) AS hour,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM c),
      |hrs AS (SELECT unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour FROM b),
      |keys AS (SELECT DISTINCT key FROM c),
      |grid AS (
      |  SELECT keys.key, hrs.hour, COALESCE(c.n, 0) AS n
      |  FROM keys CROSS JOIN hrs
      |  LEFT JOIN c ON c.key = keys.key AND c.hour = hrs.hour)
      |SELECT key, CAST(COUNT(*) AS BIGINT) AS n_hours,
      |  CAST(MAX(n) AS BIGINT) AS peak, CAST(SUM(n) AS BIGINT) AS total,
      |  CASE WHEN SUM(n) = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST(MAX(n)::HUGEINT * COUNT(*) * 1000000 // SUM(n) AS BIGINT)
      |  END AS peak_to_mean_ppm
      |FROM grid GROUP BY 1""".stripMargin

  /** Shared CTE block for the q362–q364 exact-substring oracles: every
    * position's `minLen`-token window MATERIALIZED as a string and grouped
    * directly — the O(n·minLen) spelling DuckDB can afford at oracle
    * scale, which the engine's representative-doubling
    * ([[graft.ext.SuffixDedup]]) must agree with exactly: two windows
    * compare equal as space-joined strings iff they are token-for-token
    * equal (tokens are whitespace-free and non-empty by construction).
    */
  private def substrCtes(minLen: Int): String =
    s"""docs AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws
       |  FROM documents
       |), base AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens, ws FROM docs
       |), wins AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS p,
       |    array_to_string(list_slice(ws, CAST(p AS INTEGER), CAST(p AS INTEGER) + ${minLen - 1}), ' ') AS win
       |  FROM (
       |    SELECT doc_id, ws, unnest(generate_series(1, len(ws) - ${minLen - 1})) AS p
       |    FROM base WHERE n_tokens >= $minLen)
       |), sup AS (
       |  SELECT win, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
       |  FROM wins GROUP BY 1
       |), pos AS (
       |  SELECT w.doc_id, w.p FROM wins w
       |  JOIN sup s ON s.win = w.win AND s.n_occ >= 2
       |)""".stripMargin

  /** q362: maximal duplicated spans — gaps-and-islands over each doc's
    * duplicated window starts; a span of consecutive starts [a, b] covers
    * tokens [a, b + minLen − 1].
    */
  def substrDupSpans(minLen: Int): String =
    s"""WITH ${substrCtes(minLen)}, isl AS (
       |  SELECT doc_id, p,
       |    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS g
       |  FROM pos
       |)
       |SELECT doc_id, CAST(MIN(p) AS BIGINT) AS start,
       |  CAST(MAX(p) - MIN(p) + $minLen AS BIGINT) AS span_tokens
       |FROM isl GROUP BY doc_id, g""".stripMargin

  /** q363: per-doc duplication rollup over every doc — span count,
    * duplicated-start count, DISTINCT covered token positions, ppm.
    */
  def substrDocStats(minLen: Int): String =
    s"""WITH ${substrCtes(minLen)}, isl AS (
       |  SELECT doc_id, p,
       |    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS g
       |  FROM pos
       |), sp AS (
       |  SELECT doc_id, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_spans,
       |    CAST(COUNT(*) AS BIGINT) AS dup_starts
       |  FROM isl GROUP BY 1
       |), cov AS (
       |  SELECT doc_id, CAST(COUNT(DISTINCT cp) AS BIGINT) AS covered_tokens
       |  FROM (SELECT doc_id, unnest(generate_series(p, p + ${minLen - 1})) AS cp
       |        FROM pos) GROUP BY 1
       |)
       |SELECT b.doc_id, b.n_tokens,
       |  COALESCE(sp.n_spans, 0) AS n_spans,
       |  COALESCE(sp.dup_starts, 0) AS dup_starts,
       |  COALESCE(cov.covered_tokens, 0) AS covered_tokens,
       |  CAST(COALESCE(cov.covered_tokens, 0) * 1000000
       |    // (CASE WHEN b.n_tokens = 0 THEN 1 ELSE b.n_tokens END) AS BIGINT) AS dup_ppm
       |FROM base b
       |LEFT JOIN sp USING (doc_id) LEFT JOIN cov USING (doc_id)""".stripMargin

  /** q368: longest exactly-duplicated token span — the oracle computes
    * λ* by the suffix-array theorem (max pairwise LCP = max LCP of
    * ADJACENT suffixes in lexicographic order): sort every doc-bounded
    * token suffix, LCP each neighbor pair with a lambda scan, take the
    * max; then re-derives the winning class (support, distinct docs,
    * minimal (doc, start) representative, text) by direct λ*-gram
    * grouping. A completely different algorithm from the engine's
    * rank-doubling + binary search — agreement is the proof.
    */
  val longestRepeat: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      |  FROM documents
      |), base AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens, ws FROM docs
      |), sfx AS MATERIALIZED (
      |  SELECT doc_id, CAST(p AS BIGINT) AS p,
      |    list_slice(ws, CAST(p AS INTEGER), CAST(len(ws) AS INTEGER)) AS s
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS p
      |        FROM base WHERE n_tokens > 0)
      |), ord AS (
      |  SELECT s, lag(s) OVER (ORDER BY s) AS prev FROM sfx
      |), lcps AS (
      |  -- list_position returns 0 (not NULL) when absent in this DuckDB:
      |  -- NULLIF maps all-equal prefixes to the full shared length
      |  SELECT CASE WHEN prev IS NULL THEN 0
      |    ELSE COALESCE(NULLIF(list_position(list_transform(
      |        range(1, least(len(s), len(prev)) + 1),
      |        i -> s[i] = prev[i]), false), 0) - 1,
      |      least(len(s), len(prev))) END AS lcp
      |  FROM ord
      |), mx AS (
      |  SELECT CAST(COALESCE(MAX(lcp), 0) AS BIGINT) AS lstar FROM lcps
      |), win AS (
      |  SELECT f.doc_id, f.p,
      |    array_to_string(list_slice(f.s, 1, CAST(m.lstar AS INTEGER)), ' ') AS w
      |  FROM sfx f, mx m WHERE m.lstar > 0 AND len(f.s) >= m.lstar
      |), sup AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_occ,
      |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      |  FROM win GROUP BY 1 HAVING COUNT(*) >= 2
      |), winner AS (
      |  SELECT v.doc_id, v.p, v.w, s.n_occ, s.n_docs
      |  FROM win v JOIN sup s USING (w)
      |  ORDER BY v.doc_id, v.p LIMIT 1
      |)
      |SELECT m.lstar AS max_dup_tokens, w.doc_id AS rep_doc,
      |  w.p AS rep_start, w.n_occ, w.n_docs, w.w AS repeat_text
      |FROM mx m LEFT JOIN winner w ON true""".stripMargin

  /** q376: longest CROSS-CORPUS token span (train = doc_id %% 20 ≠ 0,
    * eval = %% 20 = 0) — the sorted-suffix construction of q368 with a
    * corpus tag: the longest common substring across two corpora is
    * attained at some ADJACENT different-tag pair of the sorted suffix
    * relation (between any cross pair, every adjacent LCP ≥ the pair's
    * LCP and some adjacent pair changes tag). Ties in the suffix sort
    * are safe: any ordering of an equal-suffix group containing both
    * tags has an adjacent cross pair with full-length LCP. A completely
    * different algorithm from the engine's tagged rank-doubling.
    */
  val crossCorpusRepeat: String =
    """WITH docs AS (
      |  SELECT doc_id, CASE WHEN doc_id % 20 = 0 THEN 1 ELSE 0 END AS tag,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      |  FROM documents
      |), base AS (
      |  SELECT doc_id, tag, CAST(len(ws) AS BIGINT) AS n_tokens, ws FROM docs
      |), sfx AS MATERIALIZED (
      |  SELECT doc_id, tag, CAST(p AS BIGINT) AS p,
      |    list_slice(ws, CAST(p AS INTEGER), CAST(len(ws) AS INTEGER)) AS s
      |  FROM (SELECT doc_id, tag, ws, unnest(generate_series(1, len(ws))) AS p
      |        FROM base WHERE n_tokens > 0)
      |), ord AS (
      |  SELECT s, tag, lag(s) OVER (ORDER BY s) AS prev,
      |    lag(tag) OVER (ORDER BY s) AS ptag
      |  FROM sfx
      |), lcps AS (
      |  SELECT CASE WHEN prev IS NULL OR tag = ptag THEN 0
      |    ELSE COALESCE(NULLIF(list_position(list_transform(
      |        range(1, least(len(s), len(prev)) + 1),
      |        i -> s[i] = prev[i]), false), 0) - 1,
      |      least(len(s), len(prev))) END AS lcp
      |  FROM ord
      |), mx AS (
      |  SELECT CAST(COALESCE(MAX(lcp), 0) AS BIGINT) AS lstar FROM lcps
      |), win AS (
      |  SELECT f.doc_id, f.tag, f.p,
      |    array_to_string(list_slice(f.s, 1, CAST(m.lstar AS INTEGER)), ' ') AS w
      |  FROM sfx f, mx m WHERE m.lstar > 0 AND len(f.s) >= m.lstar
      |), sup AS (
      |  SELECT w,
      |    CAST(SUM(CASE WHEN tag = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_occ_a,
      |    CAST(SUM(CASE WHEN tag = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_occ_b
      |  FROM win GROUP BY 1
      |  HAVING SUM(CASE WHEN tag = 0 THEN 1 ELSE 0 END) >= 1
      |     AND SUM(CASE WHEN tag = 1 THEN 1 ELSE 0 END) >= 1
      |), winner AS (
      |  SELECT v.doc_id, v.p, s.n_occ_a, s.n_occ_b, v.w
      |  FROM win v JOIN sup s USING (w)
      |  ORDER BY v.doc_id, v.p, v.tag LIMIT 1
      |)
      |SELECT m.lstar AS max_common_tokens, w.doc_id AS rep_doc,
      |  w.p AS rep_start, w.n_occ_a, w.n_occ_b, w.w AS common_text
      |FROM mx m LEFT JOIN winner w ON true""".stripMargin

  /** Shared CTE block for the q381/q382 cross-corpus decontamination
    * oracles (train = doc_id %% 20 ≠ 0, eval = %% 20 = 0): eval window
    * positions whose materialized `minLen`-gram string also appears in
    * the train corpus's distinct gram set — the O(n·minLen) spelling,
    * entirely independent of the engine's tagged class-doubling.
    */
  private def crossSubstrCtes(minLen: Int): String =
    s"""docs AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws
       |  FROM documents
       |), evd AS (
       |  SELECT doc_id, ws FROM docs WHERE doc_id % 20 = 0
       |), trg AS MATERIALIZED (
       |  SELECT DISTINCT array_to_string(list_slice(ws, CAST(p AS INTEGER),
       |      CAST(p AS INTEGER) + ${minLen - 1}), ' ') AS win
       |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - ${minLen - 1})) AS p
       |        FROM docs WHERE doc_id % 20 <> 0 AND len(ws) >= $minLen)
       |), evw AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS p,
       |    array_to_string(list_slice(ws, CAST(p AS INTEGER),
       |      CAST(p AS INTEGER) + ${minLen - 1}), ' ') AS win
       |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - ${minLen - 1})) AS p
       |        FROM evd WHERE len(ws) >= $minLen)
       |), pos AS (
       |  SELECT w.doc_id, w.p FROM evw w JOIN trg t USING (win)
       |)""".stripMargin

  /** q381: maximal contaminated spans per eval doc — gaps-and-islands
    * over the cross positions; a run of starts [a, b] covers tokens
    * [a, b + minLen − 1].
    */
  def crossDupSpans(minLen: Int): String =
    s"""WITH ${crossSubstrCtes(minLen)}, isl AS (
       |  SELECT doc_id, p,
       |    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS g
       |  FROM pos
       |)
       |SELECT doc_id, CAST(MIN(p) AS BIGINT) AS start,
       |  CAST(MAX(p) - MIN(p) + $minLen AS BIGINT) AS span_tokens
       |FROM isl GROUP BY doc_id, g""".stripMargin

  /** q382: eval decontamination trim — every eval token position covered
    * by a train-shared window removed, text rebuilt in order, every eval
    * doc reported.
    */
  def trimCrossDupSpans(minLen: Int): String =
    s"""WITH ${crossSubstrCtes(minLen)}, cov AS (
       |  SELECT DISTINCT doc_id, p FROM (
       |    SELECT doc_id, unnest(generate_series(p, p + ${minLen - 1})) AS p
       |    FROM pos)
       |), toks AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS p, ws[CAST(p AS INTEGER)] AS token
       |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS p
       |        FROM evd WHERE len(ws) > 0)
       |), kept AS (
       |  SELECT t.doc_id, t.p, t.token FROM toks t
       |  LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p
       |  WHERE c.doc_id IS NULL
       |), rebuilt AS (
       |  SELECT doc_id, string_agg(token, ' ' ORDER BY p) AS clean_text,
       |    CAST(COUNT(*) AS BIGINT) AS n_kept
       |  FROM kept GROUP BY 1
       |)
       |SELECT e.doc_id, COALESCE(r.clean_text, '') AS clean_text,
       |  COALESCE(r.n_kept, 0) AS n_kept
       |FROM evd e LEFT JOIN rebuilt r USING (doc_id)""".stripMargin

  /** q377: dictionary phrase scan — the naive positional-slice
    * formulation (every doc × every phrase × every start position),
    * fine at oracle scale and entirely independent of the engine's
    * rarest-token-anchor candidate generation.
    */
  val phraseScan: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
      |  FROM documents
      |), ph AS (
      |  SELECT doc_id AS phrase_id,
      |    list_slice(ws, 3, CAST(4 + (doc_id // 250) % 2 AS INTEGER)) AS pt
      |  FROM docs WHERE doc_id % 250 = 7 AND len(ws) >= 4 + (doc_id // 250) % 2
      |), pos AS (
      |  SELECT d.doc_id, ph.phrase_id,
      |    unnest(list_filter(range(1, len(d.ws) - len(ph.pt) + 2),
      |      p -> list_slice(d.ws, CAST(p AS INTEGER),
      |             CAST(p + len(ph.pt) - 1 AS INTEGER)) = ph.pt)) AS p
      |  FROM docs d, ph
      |)
      |SELECT doc_id, phrase_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
      |  CAST(MIN(p) AS BIGINT) AS first_pos
      |FROM pos GROUP BY 1, 2""".stripMargin

  /** q369: exact-substring trimming — the q60 rebuild spelling over the
    * q362 duplicated-window positions (n_occ ≥ 2 over ALL occurrences,
    * same-doc repeats included — NOT q60's distinct-doc-frequency rule).
    */
  def substrTrim(minLen: Int): String =
    s"""WITH ${substrCtes(minLen)}, cov AS (
       |  SELECT DISTINCT doc_id, cp FROM (
       |    SELECT doc_id, unnest(generate_series(p, p + ${minLen - 1})) AS cp
       |    FROM pos)
       |), toks AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS p, ws[CAST(p AS INTEGER)] AS token FROM (
       |    SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS p
       |    FROM base WHERE n_tokens > 0)
       |), kept AS (
       |  SELECT t.doc_id, t.p, t.token FROM toks t
       |  ANTI JOIN cov c ON c.doc_id = t.doc_id AND c.cp = t.p
       |)
       |SELECT b.doc_id,
       |  COALESCE(k.clean_text, '') AS clean_text,
       |  COALESCE(k.n_kept, 0) AS n_kept
       |FROM base b LEFT JOIN (
       |  SELECT doc_id, string_agg(token, ' ' ORDER BY p) AS clean_text,
       |    CAST(COUNT(*) AS BIGINT) AS n_kept
       |  FROM kept GROUP BY 1) k USING (doc_id)""".stripMargin

  /** q370: Friedman test over the (day × event-type) count panel —
    * grid-filled blocks, doubled midranks via RANK + tie-count windows,
    * HUGEINT moments, the same floor-division spelling as the engine's
    * DECIMAL path.
    */
  val friedman: String =
    """WITH cells AS (
      |  SELECT CAST(ts AS DATE) AS b, event_type AS j,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT bb.b, jj.j, COALESCE(c.x, 0) AS x
      |  FROM (SELECT DISTINCT b FROM cells) bb
      |  CROSS JOIN (SELECT DISTINCT j FROM cells) jj
      |  LEFT JOIN cells c ON c.b = bb.b AND c.j = jj.j),
      |ranked AS (
      |  SELECT b, j, x,
      |    2 * RANK() OVER (PARTITION BY b ORDER BY x)
      |      + COUNT(*) OVER (PARTITION BY b, x) - 1 AS r2
      |  FROM grid),
      |pt AS (SELECT j, SUM(r2::HUGEINT) AS rr2 FROM ranked GROUP BY 1),
      |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, SUM(rr2 * rr2) AS a FROM pt),
      |shp AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n FROM ranked),
      |tie AS (SELECT COALESCE(SUM(m::HUGEINT * (m - 1) * (m + 1)), 0) AS tie
      |        FROM (SELECT b, x, COUNT(*) AS m FROM grid GROUP BY 1, 2))
      |SELECT shp.n AS n_blocks, agg.k AS k_treatments,
      |  CAST(3 * agg.a * 1000000 // (shp.n::HUGEINT * agg.k * (agg.k + 1))
      |    - 3 * shp.n::HUGEINT * (agg.k + 1) * 1000000 AS BIGINT) AS fr_ppm,
      |  CASE WHEN shp.n::HUGEINT * agg.k * (agg.k * agg.k - 1) - tie.tie = 0
      |       THEN CAST(NULL AS BIGINT)
      |       ELSE CAST((3 * agg.a * 1000000
      |              // (shp.n::HUGEINT * agg.k * (agg.k + 1))
      |              - 3 * shp.n::HUGEINT * (agg.k + 1) * 1000000)
      |            * (shp.n::HUGEINT * agg.k * (agg.k * agg.k - 1))
      |            // (shp.n::HUGEINT * agg.k * (agg.k * agg.k - 1) - tie.tie)
      |            AS BIGINT)
      |  END AS fr_tie_ppm
      |FROM agg, shp, tie""".stripMargin

  /** q371: Cochran's Q over the (user × event-type) heavy-usage panel
    * (success = ≥ 15 events of the type) — pure integer moments.
    */
  val cochranQ: String =
    """WITH cells AS (
      |  SELECT user_id AS b, event_type AS j,
      |    CASE WHEN COUNT(*) >= 15 THEN 1 ELSE 0 END AS x
      |  FROM events GROUP BY 1, 2),
      |ct AS (SELECT j, SUM(x)::HUGEINT AS cj FROM cells GROUP BY 1),
      |ta AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, SUM(cj) AS n,
      |         SUM(cj * cj) AS c2 FROM ct),
      |bt AS (SELECT b, SUM(x)::HUGEINT AS rb FROM cells GROUP BY 1),
      |ba AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |         SUM(rb * rb) AS r2 FROM bt)
      |SELECT ba.n_blocks, ta.k AS k_treatments,
      |  CAST(ta.n AS BIGINT) AS n_success,
      |  CASE WHEN ta.k * ta.n - ba.r2 = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE CAST((ta.k - 1) * (ta.k * ta.c2 - ta.n * ta.n) * 1000000
      |              // (ta.k * ta.n - ba.r2) AS BIGINT)
      |  END AS q_ppm
      |FROM ta, ba""".stripMargin

  /** q364: the topK most-repeated exact windows; representative =
    * minimal (doc, start) of each class; order by support desc then text
    * (text is unique per class — a total order).
    */
  def substrTopRepeats(minLen: Int, topK: Int): String =
    s"""WITH ${substrCtes(minLen)}, rep AS (
       |  SELECT win, doc_id AS rep_doc, p AS rep_start FROM (
       |    SELECT win, doc_id, p,
       |      ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, p) AS rn
       |    FROM wins) WHERE rn = 1
       |)
       |SELECT r.rep_doc, r.rep_start, s.win AS repeat_text,
       |  CAST(s.n_occ AS BIGINT) AS n_occ, CAST(s.n_docs AS BIGINT) AS n_docs
       |FROM sup s JOIN rep r USING (win)
       |WHERE s.n_occ >= 2
       |ORDER BY s.n_occ DESC, s.win
       |LIMIT $topK""".stripMargin
}
