package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.Pin.PinOps

/** EXACT substring (duplicated-span) detection via distributed suffix
  * indexing — the operator behind "ExactSubstr" deduplication (Lee et al.
  * 2022, "Deduplicating Training Data Makes Language Models Better";
  * public literature). Finds every maximal token span of length ≥ `minLen`
  * whose text occurs ≥ 2 times anywhere in the corpus (another document OR
  * another position of the same document — self-repetition is duplication
  * too, per the paper), with NO hashing anywhere: verdicts are exact
  * token-sequence equality, so there are no fingerprint collisions to
  * adjudicate, unlike the MinHash/SimHash/winnowing family
  * ([[Dedup.minHashCandidatePairs]], [[Dedup.winnowFingerprints]]) and
  * unlike the fixed-n inverted-gram pass ([[Dedup.dupNgramCoverage]]) this
  * complements (that one keys on materialized n-gram strings at ITS fixed
  * n; here window text rides exactly ONE exchange — the depth-4 seed's
  * ≤ 4-token keys — and every deeper round ships only constant-width
  * class ids, so shuffle width is bounded regardless of span length).
  *
  * HOW, Spark-first — doubling over equivalence-class REPRESENTATIVES
  * (the [[Dedup.connectedComponents]] posture: O(log minLen) rounds of
  * map-combined groupBy + equi-join, per-round lineage cuts), never a
  * global suffix sort and never an all-pairs compare:
  *
  *   - rank_4(d,p) = representative of "same 4-token window": every
  *     position is keyed by the MINIMUM (doc,pos) holding the same
  *     window text — one gram-keyed aggregate + one join-back
  *     ([[gramSeed]]; depth 1/2 seeds exist for sub-4 answers). Entering
  *     at depth 4 directly skips the two WIDEST doubling rounds — the
  *     full-position-set rounds that dominate every climb.
  *   - rank_2k(d,p) = representative of the pair (rank_k(d,p),
  *     rank_k(d,p+k)) — the classic prefix-doubling step (Manber & Myers
  *     1993; Larsson & Sadakane 2007; public literature), except classes
  *     carry an ARBITRARY injective id (their min member) instead of a
  *     sort rank: equality at depth 2k is all dedup needs, and dropping
  *     the order requirement is what removes the per-round global sort.
  *   - a final OVERLAPPED combine (rank_k(d,p), rank_k(d,p+minLen−k))
  *     with k = largest power of two ≤ minLen lands on depth EXACTLY
  *     minLen (valid for any shift ≤ k because the two k-windows cover
  *     the span; the standard suffix-array LCP trick).
  *
  * Suffixes are DOCUMENT-BOUNDED: a position only acquires a depth-m rank
  * while its m-token window fits inside its own document (the per-round
  * inner join against the shifted relation enforces this for free), so no
  * comparison ever crosses a document boundary and no separator sentinels
  * are needed.
  *
  * Scale shape (the reason this survives 100 TB where a monolithic suffix
  * array does not): state is always one row per surviving token position —
  * (doc, pos, repDoc, repPos), four BIGINTs — and every round is two
  * equi-shuffles + one map-combined aggregate on that relation. The ONE
  * exception is the depth-4 seed exchange, whose keys are materialized
  * ≤ 4-token window strings (provision it at ~4× the token bytes);
  * everything after is constant-width.
  * Skew: a frequent token's depth-1 class is huge, but the aggregate that
  * touches it is a map-side-combined min(), and from depth 2 on the class
  * key is the PAIR of representatives, which splits frequent-token classes
  * combinatorially (the same reason PPJoin prefix-filtering works). Each
  * round ends in an eager localCheckpoint — O(1) lineage, the q55
  * connected-components discipline.
  */
object SuffixDedup {

  /** (d, p) packed into ONE DECIMAL(38,0): `d·2⁴⁰ + p`. Positions are
    * 1-based and document-bounded, so `0 < p < 2⁴⁰` at any conceivable
    * document length and the packing is injective and ORDER-ISOMORPHIC
    * to the `struct(d, p)` lexicographic order (negative tagged doc ids
    * included — the offset p stays in [1, 2⁴⁰), so d strictly dominates).
    * WHY: `min(struct(…))` carries a struct-typed aggregation buffer,
    * which is not HashAggregate-eligible — every representative
    * aggregate in this module ran as SortAggregate, paying TWO full
    * sorts of the gram/position stream around its exchange (seen in the
    * r13 seed plan). A DECIMAL buffer is hash-aggregable; the decoded
    * (rd, rp) is bit-identical to the struct min.
    */
  private val PosShift = 1099511627776L // 2^40

  private def packDP(d: Column, p: Column): Column =
    (d.cast("decimal(38,0)") * PosShift + p).cast("decimal(38,0)")
  /** pmod (not div): negative tagged doc ids must floor, not truncate. */
  private def unpackP(m: Column): Column =
    pmod(m, lit(PosShift)).cast("long")
  private def unpackD(m: Column): Column =
    ((m - pmod(m, lit(PosShift))) / PosShift).cast("long")

  /** (d, p, __g): every position whose `depth`-token window fits its
    * document, carrying the window TEXT — an exact class key with no
    * representative assignment, no aggregate, no pin. One narrow explode
    * off the token arrays; the relational steps that consume it key on
    * `__g` directly.
    */
  private def rawGrams(toks: DataFrame, depth: Int): DataFrame =
    toks.filter(size(col("__ws")) >= depth)
      .select(col("d"), posexplode(
        expr(s"transform(sequence(1, size(__ws) - ${depth - 1}), " +
          s"i -> array_join(slice(__ws, i, $depth), ' '))"))
        .as(Seq("__p0", "__g")))
      .select(col("d"), (col("__p0") + 1).cast("long").as("p"), col("__g"))

  /** Direct depth-`depth` class assignment straight from the token
    * stream: [[rawGrams]] keyed by the EXACT window text (space-joined —
    * tokens are whitespace-split, so the join is injective; no
    * fingerprints, the module's no-hashing contract holds) with the
    * minimal (d, p) as representative. One map-side-combined aggregate +
    * one join-back — the same relational step as the depth-1 assignment,
    * landing ⌈log₂ depth⌉ doubling rounds deep in ONE exchange. The
    * payoff is at the climb's WIDEST point: rounds 1-2 run on the full
    * position set (class splitting hasn't thinned anything yet), so
    * replacing them with a direct depth-4 partition removes the two most
    * expensive pinned rounds of every suffix-family query at once.
    * Beyond depth 4 the gram keys grow linearly while pair-refinement
    * stays constant-width — doubling wins again, so the seam stays at 4.
    *
    * `toks` is (d, __ws); output (d, p, rd, rp), positions 1-based.
    *
    * Callers pin `toks` (see [[windowClasses]] / the climb entry points),
    * so both gram evaluations below are cheap cached scans — the window
    * STRINGS are never pinned, only streamed. Below the limit the
    * (already dup-pruned) rep table broadcasts, so the position stream
    * never shuffles at all — the seed's one wide string-keyed exchange
    * collapses to the small aggregate side; past it the exchange join is
    * the correct posture (reps is corpus-scale there). The gate reads a
    * POSITION-COUNT UPPER BOUND (Σ tokens) off the pinned token relation
    * — a narrow aggregate that materializes no window text.
    */
  private def gramSeed(toks: DataFrame, depth: Int): DataFrame = {
    val grams = rawGrams(toks, depth)
    val reps = grams.groupBy("__g")
      .agg(min(packDP(col("d"), col("p"))).as("__m"), // HashAggregate (see [[packDP]])
        count(lit(1)).as("__n"))
      .filter(col("__n") >= 2) // ACTIVE positions only (see [[combine]])
      .select(col("__g"), unpackD(col("__m")).as("rd"), unpackP(col("__m")).as("rp"))
    // [[BroadcastGate]] on the reps table, which carries gram TEXT: its
    // payload is estimated from one narrow aggregate over the pinned
    // token relation — reps rows ≤ positions (Σ tokens), gram bytes ≈
    // depth × (avg token bytes + 1 separator), ~48 B row overhead. No
    // window text is ever materialized for the gate.
    val nTok = toks.agg(sum(size(col("__ws"))),
      sum(expr("aggregate(__ws, 0L, (a, x) -> a + length(x))"))).head()
    val nPos = if (nTok.isNullAt(0)) 0L else nTok.getLong(0)
    val nChars = if (nTok.isNullAt(1)) 0L else nTok.getLong(1)
    val avgTok = if (nPos > 0) nChars / nPos + 1 else 1L
    val repSide =
      if (BroadcastGate.fits(nPos, depth * (avgTok + 1) + 48)) broadcast(reps) else reps
    grams.join(repSide, Seq("__g"))
      .select(col("d"), col("p"), col("rd"), col("rp"))
      .pin()
  }

  /** (d, p, rd, rp) for every position in a DUPLICATED (≥ 2 member)
    * `minLen`-window class ([[combine]]'s active-position invariant;
    * duplicated classes carry their exact full membership): (rd, rp) is
    * the class representative — the minimal (doc, pos) whose window is
    * token-for-token equal. Positions are 1-based (the repo's
    * gram-position convention).
    */
  private[ext] def windowClasses(docs: DataFrame, minLen: Int,
                                 idCol: String, textCol: String): DataFrame = {
    require(minLen >= 2, "minLen must be >= 2 (1 would class single tokens)")
    // pinned: tokenization runs ONCE — the seed reads the token relation
    // three times (class aggregate, join-back probe, gate bound) and each
    // unpinned read re-tokenized the whole corpus
    val base = docs
      .withColumn("__ws", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol).cast("long").as("d"), col("__ws"),
        size(col("__ws")).cast("long").as("n"))
      .filter(col("n") >= minLen)
      .select(col("d"), col("__ws"))
      .pin()
    // direct seed at depth min(4, largest power of two ≤ minLen) — the
    // first two doubling rounds collapse into one exchange
    var k = if (minLen >= 4) 4 else 2
    var r = gramSeed(base, k)
    while (k * 2 <= minLen) { r = refine(r, k); k *= 2 }
    if (k < minLen) r = refine(r, minLen - k) // overlapped final combine
    r
  }

  /** One doubling round: pair each position's class id with the class id
    * `shift` tokens ahead (shift ≤ current depth ⇒ the result resolves
    * exact equality at depth (current + shift)), re-representative by the
    * pair. Inner join drops positions whose extended window no longer
    * fits the document — exactly the doc-bounded-suffix rule.
    */
  private def refine(r: DataFrame, shift: Int): DataFrame =
    combine(r, r, shift)

  /** Heterogeneous-depth combine: pair depth-a relation `a` at p with
    * depth-b relation `b` at p+shift. With shift = a this is exact
    * CONCATENATION — window(p, a+b) = window(p, a) ++ window(p+a, b), so
    * pair equality ⟺ (a+b)-window equality with NO overlap requirement;
    * with a = b and shift < a it is the overlapped combine (equality at
    * depth a+shift). Both reduce to the same relational step.
    *
    * ==Active-position pruning (the classic prefix-doubling work-list)==
    * Every class relation in this module is pruned to members of
    * DUPLICATED (≥ 2 member) classes — fused into the join-back for free
    * (the rep aggregate already passes over every class; keeping its
    * count and filtering the build side adds no exchange). Sound by
    * induction: if position p belongs to a duplicated class at depth
    * a+shift, some p' ≠ p shares the whole window, so p and p' share
    * the depth-a class (both survive `a`'s pruning) AND p+shift ≠
    * p'+shift share the right-side class (both survive `b`'s pruning) —
    * every member of every duplicated class survives every level, with
    * its exact membership and min-member representative. Only singleton
    * classes drop out, and no consumer reads those: the climb predicates
    * ask for ≥ 2 members (or both corpus tags — which implies ≥ 2), the
    * span/trim/top-repeat readouts filter to duplicated classes, and
    * [[dupWindowPositions]] IS the duplicated-member set. The payoff is
    * the scale shape: each level's state is the (rapidly shrinking)
    * duplicated-position set instead of every in-bounds position — on a
    * corpus with sparse duplication the deep rounds run on near-empty
    * relations instead of the full position set.
    */
  private def combine(a: DataFrame, b: DataFrame, shift: Int): DataFrame =
    combineOn(a, b.select(col("d"), col("p"), col("rd").as("rd2"), col("rp").as("rp2")),
      shift, Seq("rd2", "rp2"))

  /** [[combine]] with the right side keyed by raw window TEXT
    * ([[rawGrams]]) instead of a representative pair — the search
    * phase's depth-1/2 bits ride this, so those levels NEVER materialize
    * (no aggregate, no join-back, no pin; the old climb built them as a
    * side effect, and building them on demand just to serve as combine
    * inputs would hand back the rounds the depth-4 entry saved). Text
    * equality is the same exact equality — just a wider grouping column
    * for one aggregate.
    */
  private def combineRaw(a: DataFrame, rawRight: DataFrame, shift: Int): DataFrame =
    combineOn(a, rawRight, shift, Seq("__g"))

  /** The one relational step of [[combine]] and [[combineRaw]]: `right`'s
    * `(d, p)` shift back by `shift`, each position pairs its class
    * `(rd, rp)` in `a` with `right`'s class key columns `keys` at
    * p+shift, and the pair is re-represented by its minimal (d, p) —
    * one map-combined aggregate plus one join-back, keeping duplicated
    * classes only (the active-position invariant).
    */
  private def combineOn(a: DataFrame, right: DataFrame, shift: Int,
                        keys: Seq[String]): DataFrame = {
    val paired = a.join(
      right.select(col("d") +: (col("p") - shift).as("p") +: keys.map(col): _*), Seq("d", "p"))
    val cls = Seq("rd", "rp") ++ keys
    val reps = paired.groupBy(cls.map(col): _*)
      .agg(min(packDP(col("d"), col("p"))).as("__m"), // HashAggregate (see [[packDP]])
        count(lit(1)).as("__n"))
      .filter(col("__n") >= 2) // active positions only
      .select(cls.map(col) :+ unpackD(col("__m")).as("__nrd") :+
        unpackP(col("__m")).as("__nrp"): _*)
    paired.join(reps, cls)
      .select(col("d"), col("p"),
        col("__nrd").as("rd"), col("__nrp").as("rp"))
      .pin()
  }

  /** The shared climb-and-binary-search core behind [[longestRepeat]]
    * and [[crossLongestRepeat]]: enter DIRECTLY at depth 4 (one
    * [[gramSeed]] exchange replaces the two widest doubling rounds —
    * `seedLevel(i)` builds the depth-2^i relation straight from the
    * token stream for i ≤ 2), climb power-of-two depths while `pred`
    * holds (each level one [[refine]] of the previous, eager-pinned),
    * then binary-search λ between the last-holding and first-clean
    * depths, assembling rank-at-λ by exact CONCATENATION of the
    * precomputed levels along λ's set bits. Levels 0-1 are only
    * materialized (direct-seeded, never refined) if the search needs
    * those bits. Successive probes of the MONOTONE search share their
    * most-significant set bits, and the accumulated depth uniquely
    * identifies a prefix (a sum of distinct powers of two combined in
    * fixed MSB-first order), so prefix relations are memoized by depth —
    * each combine runs ONCE across the whole search. Driver-side actions
    * are one boolean per level/probe. Returns None when `pred` fails
    * already at depth 1, else (λ*, the rank relation at λ*).
    */
  private def climbSearch(toks: DataFrame,
                          pred: DataFrame => Boolean,
                          capLog2: Int): Option[(Int, DataFrame)] = {
    val directLog2 = math.min(2, capLog2) // direct-seed entry level
    // levels(i) holds the depth-2^i relation, built on demand
    val levels = scala.collection.mutable.Map[Int, DataFrame]()
    def level(i: Int): DataFrame = levels.getOrElseUpdate(i,
      if (i <= directLog2) gramSeed(toks, 1 << i)
      else refine(level(i - 1), 1 << (i - 1)))
    val prefixByDepth = scala.collection.mutable.Map[Int, DataFrame]()
    def rankAt(lambda: Int): DataFrame =
      if ((lambda & (lambda - 1)) == 0)
        level(java.lang.Integer.numberOfTrailingZeros(lambda))
      else {
        val bits = (30 to 0 by -1).filter(b => (lambda & (1 << b)) != 0)
        var cur = level(bits.head)
        var depth = 1 << bits.head
        bits.tail.foreach { b =>
          val nextDepth = depth + (1 << b)
          // sub-4 bits combine against the zero-materialization raw-gram
          // relation unless the slow path already built that level
          cur = prefixByDepth.getOrElseUpdate(nextDepth,
            if (b <= 1 && !levels.contains(b))
              combineRaw(cur, rawGrams(toks, 1 << b), depth)
            else combine(cur, level(b), depth))
          depth = nextDepth
        }
        cur
      }
    var lo = 0 // largest depth KNOWN to satisfy pred
    var hi = -1 // smallest depth KNOWN clean (-1 = not yet found)
    val entry = level(directLog2)
    if (!entry.isEmpty && pred(entry)) {
      lo = 1 << directLog2
      var i = directLog2
      while (hi < 0 && i < capLog2) {
        val next = level(i + 1)
        if (next.isEmpty || !pred(next)) hi = 1 << (i + 1)
        else { lo = 1 << (i + 1); i += 1 }
      }
    } else {
      // the entry depth is already clean: the answer (if any) is below 4
      if (!pred(level(0))) return None
      lo = 1; hi = 1 << directLog2
    }
    if (hi > 0) {
      while (hi - lo > 1) {
        val mid = (lo + hi) / 2
        if (pred(rankAt(mid))) lo = mid else hi = mid
      }
    }
    // hi < 0: saturated at an EXPLICIT cap with pred still holding —
    // report λ* = 2^capLog2 (documented saturation semantics)
    Some((lo, rankAt(lo)))
  }

  /** Positions (doc, p) whose `minLen`-window text occurs ≥ 2 times in
    * the corpus (any document, any position). The class relation is
    * pruned to duplicated-class members ([[combine]]'s active-position
    * invariant), so its position set IS the answer — the first cut paid
    * a whole-relation aggregate plus a semi join here to filter what the
    * construction now never materializes.
    */
  private[ext] def dupWindowPositions(docs: DataFrame, minLen: Int,
                                      idCol: String, textCol: String): DataFrame =
    windowClasses(docs, minLen, idCol, textCol).select(col("d"), col("p"))

  /** Maximal duplicated spans, the paper's output unit: one row per
    * maximal run of consecutive duplicated window starts — (doc_id,
    * start, span_tokens) where the span covers tokens [start,
    * start + span_tokens − 1] ([[spans]]).
    */
  def dupSpans(docs: DataFrame, minLen: Int = 8, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    spans(dupWindowPositions(docs, minLen, idCol, textCol), minLen, idCol)

  /** Gaps-and-islands over a `(d, p)` window-start set: one
    * `(idCol, start, span_tokens)` row per maximal run of consecutive
    * starts in a document, the run's `minLen`-token windows covering
    * tokens [start, start + span_tokens − 1]. The window is partitioned
    * BY DOCUMENT — never global.
    */
  private def spans(pos: DataFrame, minLen: Int, idCol: String): DataFrame = {
    val w = Window.partitionBy("d").orderBy("p")
    pos.withColumn("__g", col("p") - row_number().over(w))
      .groupBy("d", "__g")
      .agg(min("p").as("start"),
        (max("p") - min("p") + minLen).as("span_tokens"))
      .select(col("d").as(idCol), col("start"), col("span_tokens"))
  }

  /** Per-document rollup over EVERY doc (docs without duplication read
    * zeros): maximal-span count, duplicated-window-start count, distinct
    * token positions covered by any duplicated window, and the covered
    * ppm — the doc-level "how much of me is copied" signal that decides
    * trim-vs-drop. Coverage counts DISTINCT positions (overlapping spans
    * never double-count).
    */
  def dupSpanDocStats(docs: DataFrame, minLen: Int = 8,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val pos = dupWindowPositions(docs, minLen, idCol, textCol)
      .pin() // consumed twice below: spans + coverage
    val w = Window.partitionBy("d").orderBy("p")
    val spans = pos.withColumn("__g", col("p") - row_number().over(w))
      .groupBy("d", "__g").agg(count(lit(1)).as("__starts"))
      .groupBy("d").agg(count(lit(1)).as("n_spans"),
        sum("__starts").as("dup_starts"))
    val covered = pos
      .select(col("d"), explode(sequence(col("p"),
        col("p") + (minLen - 1))).as("cp"))
      .groupBy("d").agg(count_distinct(col("cp")).as("covered_tokens"))
    docs.select(col(idCol).cast("long").as("d"),
        coalesce(size(TextAnalysis.tokens(col(textCol))), lit(0))
          .cast("long").as("n_tokens"))
      .join(spans, Seq("d"), "left")
      .join(covered, Seq("d"), "left")
      .select(col("d").as(idCol), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_starts"), lit(0L)).as("dup_starts"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        expr("coalesce(covered_tokens, 0) * 1000000" +
          " div (CASE WHEN n_tokens = 0 THEN 1 ELSE n_tokens END)")
          .as("dup_ppm"))
  }

  /** Exact-substring TRIMMING at suffix-index precision — the
    * transformation half of ExactSubstr dedup (the [[dupSpans]] signal
    * decides, this edits): every token position covered by ANY duplicated
    * `minLen`-window (≥ 2 occurrences anywhere, same-doc repeats
    * included) is removed, and each doc's text is rebuilt from the
    * surviving tokens in order. The no-hashing sibling of
    * [[Dedup.trimDuplicatedSpans]] (which keys on materialized gram
    * strings and cross-document frequency only).
    *
    * Output: (idCol, clean_text, n_kept) for EVERY doc ([[trimCovered]]).
    */
  def trimDupSpans(docs: DataFrame, minLen: Int = 8, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    trimCovered(dupWindowPositions(docs, minLen, idCol, textCol), docs, minLen,
      idCol, textCol)

  /** Removes every token of `docs` covered by a `minLen`-window starting
    * at a `(d, p)` of `pos` and rebuilds each doc's text from the
    * surviving tokens in order: (idCol, clean_text, n_kept) for EVERY doc
    * of `docs`. Covered positions explode ×minLen off the window-start
    * stream; the anti-join and per-doc ordered rebuild are (id,
    * pos)-keyed — the q60 rebuild shape.
    */
  private def trimCovered(pos: DataFrame, docs: DataFrame, minLen: Int,
                          idCol: String, textCol: String): DataFrame = {
    val covered = pos
      .select(col("d"), explode(sequence(col("p"),
        col("p") + (minLen - 1))).as("p"))
      .distinct()
    val toksPos = docs
      .select(col(idCol).cast("long").as("d"),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("__p0", "token")))
      .select(col("d"), (col("__p0") + 1).cast("long").as("p"), col("token"))
    val kept = toksPos.join(covered, Seq("d", "p"), "left_anti")
    val rebuilt = kept.groupBy("d")
      .agg(collect_list(struct(col("p"), col("token"))).as("__kt"))
      .select(col("d"),
        concat_ws(" ", transform(array_sort(col("__kt")), s => s("token")))
          .as("clean_text"),
        size(col("__kt")).cast("long").as("n_kept"))
    docs.select(col(idCol).cast("long").as("d"))
      .join(rebuilt, Seq("d"), "left")
      .select(col("d").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Eval-side positions whose `minLen`-token window ALSO occurs in the
    * training corpus: both corpora enter ONE fixed-depth class relation
    * with the corpus tag embedded in the position key (id' = 2·id + tag,
    * the q376 trick), the cross predicate is a min/max-of-tag aggregate
    * per class, and only tag-1 (eval) members of cross classes survive.
    * Exact token-sequence equality end to end — no fingerprints.
    */
  private def crossDupPositions(train: DataFrame, eval: DataFrame,
                                minLen: Int, idCol: String,
                                textCol: String): DataFrame = {
    val tagged = train
      .select((col(idCol).cast("long") * 2).as("__td"),
        col(textCol).as("__tx"))
      .unionAll(eval.select((col(idCol).cast("long") * 2 + 1).as("__td"),
        col(textCol).as("__tx")))
    val r = windowClasses(tagged, minLen, "__td", "__tx")
    // classes spanning both corpora (pmod: negative ids keep their tag).
    // Rep-parity witness: the representative (rd, rp) is itself a member,
    // so a class holds both tags ⟺ some member's tag differs from the
    // rep's — filter those WITNESS rows first (narrow scan, no exchange),
    // then dedup the witnessed class keys. The first cut aggregated
    // min/max tag over EVERY position; the distinct now runs on the
    // (usually far smaller) witness subset only. Identical class set.
    val crossCls = r
      .filter(pmod(col("d"), lit(2)) =!= pmod(col("rd"), lit(2)))
      .select("rd", "rp").distinct()
    r.join(crossCls, Seq("rd", "rp"))
      .filter(pmod(col("d"), lit(2)) === 1)
      .select(shiftright(col("d"), 1).as("d"), col("p"))
  }

  /** Span-level decontamination signal (the readout [[crossLongestRepeat]]
    * gives only the MAXIMUM of): every maximal run of eval-document
    * positions whose `minLen`-token window also occurs ANYWHERE in the
    * training corpus — (idCol, start, span_tokens) rows per eval doc,
    * the Lee et al. 2022 eval-decontamination unit ([[spans]]).
    *
    * Scale shape: [[windowClasses]]' fixed-depth cost over the UNION
    * (direct depth-4 seed + ⌈log₂ minLen⌉−2 doubling rounds), one
    * class-keyed tag aggregate, one semi join, one doc-keyed window —
    * nothing quadratic, nothing text-keyed past the seed.
    */
  def crossDupSpans(train: DataFrame, eval: DataFrame, minLen: Int = 8,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    spans(crossDupPositions(train, eval, minLen, idCol, textCol), minLen, idCol)

  /** Eval-corpus decontamination TRIM at suffix precision — the editing
    * half of [[crossDupSpans]]: every eval token position covered by ANY
    * train-shared `minLen`-window is removed and each eval doc's text is
    * rebuilt from the surviving tokens in order ([[trimCovered]], with the
    * cross-corpus predicate). The training corpus is never
    * edited — it defines the contamination set. Output: (idCol,
    * clean_text, n_kept) for EVERY eval doc.
    */
  def trimCrossDupSpans(train: DataFrame, eval: DataFrame, minLen: Int = 8,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    trimCovered(crossDupPositions(train, eval, minLen, idCol, textCol), eval, minLen,
      idCol, textCol)

  /** The LONGEST exactly-duplicated token span in the corpus — the
    * suffix-array "longest repeated substring" readout, at token
    * granularity and corpus scale: λ* = max λ such that some λ-token
    * window occurs ≥ 2 times (any document, any position), plus the
    * winning window's representative, support, and text. 1-row output.
    *
    * HOW: climb power-of-two depths (each level a [[refine]] of the
    * previous — levels stop when the relation empties or loses its last
    * duplicated class), then binary-search λ between the last-duplicated
    * and first-clean depths; each probe assembles rank-at-λ by exact
    * CONCATENATION of the precomputed levels along λ's set bits (O(log λ)
    * combines — never a fresh doubling chain per probe). Driver-side
    * actions are one boolean per level/probe (the q55 fixpoint-check
    * posture); everything data-sized stays distributed.
    *
    * The climb terminates NATURALLY: once the depth exceeds the true
    * λ*, the refined relation loses its last duplicated class (or
    * empties — doc-bounded suffixes shorter than the depth drop out), so
    * no cap is needed for correctness. `capLog2` is a pure safety
    * ceiling (default 2^30 tokens ≈ beyond any single-window scope, and
    * the largest Int-safe shift headroom); an EXPLICIT small cap keeps
    * the documented saturation semantics — a corpus whose longest repeat
    * exceeds it reports λ* = 2^capLog2. The q368 oracle computes the
    * true unbounded longest repeat, so the default must never saturate
    * on a real corpus — hence ceiling-not-cap.
    */
  def longestRepeat(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", capLog2: Int = 30): DataFrame = {
    val spark = docs.sparkSession
    val emptyRow = spark.range(1).select(
      lit(0L).as("max_dup_tokens"),
      lit(null).cast("long").as("rep_doc"),
      lit(null).cast("long").as("rep_start"),
      lit(null).cast("long").as("n_occ"),
      lit(null).cast("long").as("n_docs"),
      lit(null).cast("string").as("repeat_text"))

    // pinned: the climb's direct-seeded levels, raw-gram combine bits,
    // gate bounds, and the winner's text slice all read this relation —
    // unpinned, each read re-tokenized the corpus
    val toks = docs.select(col(idCol).cast("long").as("d"),
      TextAnalysis.tokens(col(textCol)).as("__ws"))
      .pin()

    // Active-position invariant ([[combine]]): every relation the climb
    // hands this predicate is already pruned to members of ≥ 2-member
    // classes, so "some class is duplicated" ⟺ "the relation is
    // nonempty". The per-level/per-probe class aggregate the first cut
    // paid here (one full exchange of the position relation each call)
    // was redundant — isEmpty on the eager-pinned relation reads one
    // partition.
    def hasDup(r: DataFrame): Boolean = !r.isEmpty

    climbSearch(toks, hasDup, capLog2) match {
      case None => emptyRow
      case Some((lo, rStar)) =>
      val classes = rStar.groupBy("rd", "rp")
        .agg(count(lit(1)).as("n_occ"), count_distinct(col("d")).as("n_docs"))
        .filter(col("n_occ") >= 2)
      val winner = rStar.join(classes, Seq("rd", "rp"))
        .orderBy(col("d"), col("p")).limit(1)
      winner.join(toks, winner("d") === toks("d"))
        .select(lit(lo.toLong).as("max_dup_tokens"),
          winner("d").as("rep_doc"), col("p").as("rep_start"),
          col("n_occ"), col("n_docs"),
          array_join(slice(col("__ws"), col("p").cast("int"), lit(lo)), " ")
            .as("repeat_text"))
    }
  }

  /** The LONGEST token span occurring in BOTH corpora — exact-substring
    * contamination DEPTH between a training corpus and an evaluation
    * corpus (the Lee et al. 2022 decontamination question asked at
    * suffix-array precision instead of fixed-n grams: q54 answers "how
    * many 13-grams leak", this answers "how LONG is the longest leaked
    * span, where is it, and how often does each side carry it").
    *
    * HOW: both corpora enter one doubling relation with the corpus tag
    * embedded in the position key (id' = 2·id + tag — ids stay unique,
    * originals recoverable by halving), and the [[climbSearch]] predicate
    * asks not "does any class have ≥ 2 members" but "does any class span
    * BOTH tags" — a min/max aggregate over the same class key, so every
    * scale property of [[longestRepeat]] carries over unchanged.
    * 1-row output: (max_common_tokens, rep_doc, rep_start, n_occ_a,
    * n_occ_b, common_text); no cross-corpus span at all reads 0/NULLs.
    * Requires the two corpora's idCol spaces to be disjoint only for
    * REPORTING clarity (rep_doc is the original id) — correctness never
    * compares ids across tags.
    */
  def crossLongestRepeat(docsA: DataFrame, docsB: DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         capLog2: Int = 30): DataFrame = {
    val spark = docsA.sparkSession
    val emptyRow = spark.range(1).select(
      lit(0L).as("max_common_tokens"),
      lit(null).cast("long").as("rep_doc"),
      lit(null).cast("long").as("rep_start"),
      lit(null).cast("long").as("n_occ_a"),
      lit(null).cast("long").as("n_occ_b"),
      lit(null).cast("string").as("common_text"))

    def tagged(docs: DataFrame, tag: Int): DataFrame =
      docs.select((col(idCol).cast("long") * 2 + tag).as("d"),
        TextAnalysis.tokens(col(textCol)).as("__ws"))
    // pinned — the [[longestRepeat]] rationale (tokenize once)
    val toks = tagged(docsA, 0).unionAll(tagged(docsB, 1)).pin()

    // "some class spans both corpora": tag = pmod(d, 2) (ids are
    // 2·id + tag). pmod, NOT `%`: Spark's `%` truncates toward zero, so a
    // negative doc_id in corpus B gives (2·id+1) % 2 = -1 and the doc
    // silently vanishes from hasCross/n_occ_b.
    // Rep-parity witness (the [[crossDupPositions]] argument): the rep is
    // a member, so "some class holds both tags" ⟺ "some row's tag differs
    // from its rep's" — one narrow filtered scan of the pinned relation
    // per probe instead of the class aggregate's full exchange.
    def hasCross(r: DataFrame): Boolean =
      !r.filter(pmod(col("d"), lit(2)) =!= pmod(col("rd"), lit(2))).isEmpty

    climbSearch(toks, hasCross, capLog2) match {
      case None => emptyRow
      case Some((lo, rStar)) =>
        val classes = rStar.groupBy("rd", "rp")
          .agg(sum(when(pmod(col("d"), lit(2)) === 0, 1L).otherwise(0L))
            .as("n_occ_a"),
            sum(when(pmod(col("d"), lit(2)) === 1, 1L).otherwise(0L))
              .as("n_occ_b"))
          .filter(col("n_occ_a") >= 1 && col("n_occ_b") >= 1)
        // deterministic winner: minimal (ORIGINAL id, position) over all
        // members of cross-corpus classes — matches the oracle's order.
        // shiftright = FLOOR division by 2 (`div` truncates toward zero,
        // mis-deriving the original id for negative tagged ids).
        val winner = rStar.join(classes, Seq("rd", "rp"))
          .select(col("d"), shiftright(col("d"), 1).as("__orig"), col("p"),
            col("n_occ_a"), col("n_occ_b"))
          .orderBy(col("__orig"), col("p"), pmod(col("d"), lit(2))).limit(1)
        winner.join(toks, winner("d") === toks("d"))
          .select(lit(lo.toLong).as("max_common_tokens"),
            col("__orig").as("rep_doc"),
            col("p").as("rep_start"),
            col("n_occ_a"), col("n_occ_b"),
            array_join(slice(col("__ws"), col("p").cast("int"), lit(lo)), " ")
              .as("common_text"))
    }
  }

  /** The `topK` most-repeated exact `minLen`-token windows: the window's
    * text (materialized ONLY for the surviving classes, by slicing the
    * representative document — window text never rides the doubling
    * rounds), total occurrence count, distinct-document count, and the
    * representative (doc, start). Deterministic total order: support
    * descending, then text (windows are distinct by construction, so text
    * is a unique tiebreak). TakeOrdered — no global sort materializes.
    */
  def topRepeats(docs: DataFrame, minLen: Int = 8, topK: Int = 50,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val r = windowClasses(docs, minLen, idCol, textCol)
    val classes = r.groupBy("rd", "rp")
      .agg(count(lit(1)).as("n_occ"), count_distinct(col("d")).as("n_docs"))
      .filter(col("n_occ") >= 2)
    val toks = docs.select(col(idCol).cast("long").as("rd"),
      TextAnalysis.tokens(col(textCol)).as("__ws"))
    classes.join(toks, Seq("rd"))
      .select(col("rd").as("rep_doc"), col("rp").as("rep_start"),
        array_join(slice(col("__ws"), col("rp").cast("int"), lit(minLen)), " ")
          .as("repeat_text"),
        col("n_occ"), col("n_docs"))
      .orderBy(col("n_occ").desc, col("repeat_text"))
      .limit(topK)
  }
}
