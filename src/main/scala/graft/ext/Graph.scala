package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.Pin.PinOps

/** Iterative graph analytics on edge lists — the second graph operator
  * family next to [[Dedup.connectedComponents]]. Same engine shape: the
  * edge relation is checkpointed once, each round is one equi-join + one
  * key aggregate, and per-round `localCheckpoint` keeps the lineage (and
  * task closure) O(1) instead of O(rounds).
  *
  * Exactness policy: FIXED-POINT INTEGER PageRank. Floating-point PageRank
  * sums contributions in shuffle order — unreproducible across engines and
  * even across runs. Here ranks are integers at `scale`, contributions are
  * floor-divided (`pr div outdeg`), the damping step is
  * `(15·scale)/100 + (85·Σ)/100` in integer arithmetic, and iteration
  * count is fixed — every engine computes bit-identical ranks.
  */
object Graph {

  /** `d` hinted for broadcast on the small arm of a [[BroadcastGate]]
    * decision, as is on the shuffle arm. */
  private def arm(small: Boolean, d: DataFrame): DataFrame =
    if (small) broadcast(d) else d

  /** Fixed-iteration integer PageRank over a directed edge list.
    *
    * Every node is assumed to have outdegree ≥ 1 (true for symmetrized
    * edge lists — the caller's job otherwise); with no dangling mass the
    * per-round total stays bounded by N·scale, so with
    * `85 · N · scale < 2⁶³` the integer arithmetic cannot overflow
    * (N ≈ 10⁸ nodes at the default scale; lower `scale` for bigger
    * graphs).
    *
    * Scale shape per round: one (src) equi-join edge⋈rank, one (dst) hash
    * aggregate, one left join back to the node set — all shuffling on
    * explicit keys, nothing quadratic, matching the label-propagation
    * loop's cost model. `localCheckpoint(eager)` per round frees the
    * previous round's blocks (the overwritten reference is the only one).
    *
    * TWO ARMS, picked by node count (one exact `nodes.count()` over the
    * checkpointed node set, paid once per run, against [[BroadcastGate]]):
    *  - the rank relation fits: edges partition by DST once; each
    *    round broadcasts the keyspace-sized rank relation into the edges
    *    and the dst-aggregate reuses the resident partitioning — the big
    *    relation crosses the wire exactly once for the whole run.
    *  - it does not (a billion-node web/user graph — the regime where a
    *    per-round O(n) broadcast would kill the driver and every
    *    executor): edges partition by SRC once, so the rank join is a
    *    co-located shuffle join (only the keyspace-sized rank relation
    *    moves, hashed on id) and the per-round cost is the one
    *    contribution shuffle into the dst-aggregate — the canonical
    *    distributed-PageRank cost model, independent of whether the node
    *    set fits anywhere.
    * Both arms run the identical integer arithmetic — bit-identical ranks.
    */
  def pageRank(edges: DataFrame, iterations: Int,
               scale: Long = 1000000000000L,
               srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    rankRounds(edges, iterations, srcCol, dstCol, identity,
      lit(scale), lit(15L * scale / 100L))

  /** PERSONALIZED PageRank: the [[pageRank]] recursion with the teleport
    * mass restricted to a seed set — `pr'(v) = [v ∈ S]·(15·scale)/100 +
    * (85·Σ_in pr/outdeg)/100`, pr₀ = scale·[v ∈ S]. Rank measures
    * proximity TO THE SEEDS (the random surfer restarts only there):
    * related-item scoring, trust propagation, topic-conditioned
    * authority. Mass that would teleport from non-seed nodes is dropped
    * — the standard unnormalized PPR; ratios between nodes are what the
    * consumer reads. All-integer like the parent, bit-identical in any
    * engine; same overflow envelope. The seed flag `__seed` rides the
    * pinned node relation: one extra left join at setup, nothing per
    * round.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iterations: Int,
                           scale: Long = 1000000000000L,
                           srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    rankRounds(edges, iterations, srcCol, dstCol,
      _.join(seeds.select(col("id")).distinct().withColumn("__seed", lit(1L)),
        Seq("id"), "left").na.fill(0L, Seq("__seed")),
      col("__seed") * scale, col("__seed") * lit(15L * scale / 100L))

  /** The integer rank rounds behind [[pageRank]] and
    * [[personalizedPageRank]]: `pr₀ = start`, then per round
    * `pr'(v) = teleport + (85·Σ_in pr/outdeg) div 100`. `nodeRelation`
    * turns the distinct node ids `(id)` into the pinned node relation;
    * every column it adds besides `id` is carried through each round's
    * rank rows, where `start` and `teleport` may read it.
    */
  private def rankRounds(edges: DataFrame, iterations: Int, srcCol: String, dstCol: String,
                         nodeRelation: DataFrame => DataFrame,
                         start: Column, teleport: Column): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // pin the edge projection once: it feeds the node derivation (twice)
    // AND the degree/partition setup — unpinned, each consumer re-ran the
    // caller's whole edge construction (for q95 a corpus distinct + union)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).pin()
    val nodes = nodeRelation(e0.select(col("src").as("id"))
      .union(e0.select(col("dst").as("id"))).distinct())
      .pin()
    val carried = nodes.columns.filter(_ != "id").map(col).toSeq
    // rank rows are (id, pr[, seed]) — ~64 B built
    val small = BroadcastGate.fits(nodes.count(), 64)
    val e = e0.repartition(col(if (small) "dst" else "src"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val withDeg = e.join(arm(small, deg), "src")
      .pin()
    var pr = nodes.select(col("id") +: start.as("pr") +: carried: _*)
    for (_ <- 1 to iterations) {
      val prSide = arm(small, pr)
      val sums = withDeg.join(prSide, withDeg("src") === prSide("id"))
        .select(col("dst").as("id"), expr("pr div outdeg").as("c"))
        .groupBy("id").agg(sum("c").as("s"))
      pr = nodes.join(arm(small, sums), Seq("id"), "left")
        .na.fill(0L, Seq("s"))
        .select(col("id") +: (teleport + expr("(85 * s) div 100")).as("pr") +: carried: _*)
        .pin()
    }
    pr.select(col("id").as("node_id"), col("pr"))
  }

  /** Undirected co-occurrence edges: distinct `(u, v), u < v` pairs of
    * `itemCol` values sharing a `groupCol` value (e.g. parts ordered
    * together). Pair expansion is quadratic in GROUP size, not corpus
    * size — bounded by the natural basket width; the projection of a
    * bipartite relation into its item side.
    *
    * ONE corpus exchange: facts repartition on the group key, the
    * (g, item) dedup reuses that partitioning (hash on `g` clusters
    * `(g, item)` — the subset rule), and the per-group self-join is
    * CO-LOCATED (both legs hang off the same exchange, reused). The
    * first cut ran two full distinct exchanges plus two more to align
    * the join — 4 corpus-sized exchanges where this shape pays 1
    * (the [[associationRules]] layout, which always had it).
    *
    * `dedup = false` skips the final (u, v) distinct — ONLY for consumers
    * that re-dedup the pair stream themselves before any counting (e.g.
    * [[kCore]], whose first step is a (u, v)-keyed dropDuplicates over
    * the symmetrized list): the downstream result is bit-identical and
    * the full pair-stream exchange the distinct paid is deleted (§2.4
    * "a distinct on data a later step dedups anyway"). Consumers that
    * COUNT pairs (degree aggregates, triangle census) need the default.
    */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
                        dedup: Boolean = true): DataFrame = {
    val items = df.select(col(groupCol).as("g"), col(itemCol).as("item"))
      .repartition(col("g"))
      .dropDuplicates("g", "item")
    val pairs = items.select(col("g"), col("item").as("u"))
      .join(items.select(col("g"), col("item").as("v")), "g")
      .filter(col("u") < col("v"))
      .select("u", "v")
    if (dedup) pairs.distinct() else pairs
  }

  /** Market-basket association rules (Agrawal et al., SIGMOD 1993) over
    * (group, item) facts: every DIRECTED item pair `antecedent →
    * consequent` co-occurring in ≥ `minPairs` groups, with the exact
    * support counts, confidence P(cons|ante) and lift
    * P(ante ∧ cons) / (P(ante)·P(cons)).
    *
    * Determinism: all counts are exact BIGINTs; confidence and lift are
    * each ONE division of exact sub-2⁵³ integer products, rounded to 6
    * decimals at the boundary — bit-identical in any engine.
    *
    * Scale: ONE corpus exchange. Facts repartition on the group key, the
    * (group, item) dedup then needs no exchange of its own (hash on `g`
    * clusters `(g, item)` — the subset rule), and the per-group self-join
    * is CO-LOCATED: both legs are already hash-partitioned on `g`, so the
    * join adds no exchange and pair fan-out stays quadratic in basket
    * width (TPC-H: ≤ 7 parts per order), never in corpus size. The pair
    * aggregate shuffles on the (keyspace-bounded) pair space; item
    * frequencies are keyspace-sized and broadcast onto the surviving
    * (≥ minPairs) rules. The group total is an IN-PLAN one-row aggregate
    * crossed in broadcast — the first cut's driver-side `count()` ran a
    * separate whole-corpus job per invocation (6.5× at the 10× probe).
    */
  def associationRules(df: DataFrame, groupCol: String, itemCol: String,
                       minPairs: Long = 2): DataFrame = {
    val items = df.select(col(groupCol).as("g"), col(itemCol).as("item"))
      .repartition(col("g"))
      .dropDuplicates("g", "item")
    val nGroups = items.agg(count_distinct(col("g")).as("n_groups"))
    // support is direction-symmetric: count each UNDIRECTED pair once
    // (halves the pair shuffle and the aggregate keyspace — the dominant
    // cost, since most catalog pairs co-occur rarely) and emit both
    // directions after the ≥ minPairs gate
    val undirected = items.select(col("g"), col("item").as("ia"))
      .join(items.select(col("g"), col("item").as("ib")), "g")
      .filter(col("ia") < col("ib"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minPairs)
    val pairCounts = undirected
      .select(col("ia").as("antecedent"), col("ib").as("consequent"), col("pair_n"))
      .union(undirected
        .select(col("ib").as("antecedent"), col("ia").as("consequent"), col("pair_n")))
    val itemCounts = items.groupBy("item").agg(count(lit(1)).as("n"))
    pairCounts
      .join(broadcast(itemCounts.select(col("item").as("antecedent"), col("n").as("ante_n"))),
        "antecedent")
      .join(broadcast(itemCounts.select(col("item").as("consequent"), col("n").as("cons_n"))),
        "consequent")
      .crossJoin(broadcast(nGroups))
      .withColumn("confidence",
        round(col("pair_n").cast("double") / col("ante_n").cast("double"), 6))
      .withColumn("lift",
        round((col("pair_n") * col("n_groups")).cast("double") /
          (col("ante_n") * col("cons_n")).cast("double"), 6))
      .select(col("antecedent"), col("consequent"), col("pair_n"),
        col("ante_n"), col("cons_n"), col("confidence"), col("lift"))
  }

  /** Fixed-round k-core peel over an undirected edge list: each round
    * computes every node's degree, drops nodes below `k`, and removes
    * their edges; after `rounds` rounds the surviving nodes are reported
    * with their residual degree. With enough rounds to reach the fixpoint
    * (every reported degree ≥ k — the spec asserts it on the registered
    * parameterization at both oracle scales) the result IS the k-core,
    * the standard peel (Matula & Beck 1983) made engine-deterministic by
    * fixing the round count instead of looping "until converged" (whose
    * stopping step a SQL oracle cannot observe).
    *
    * Scale shape per round: one degree aggregate (union of both endpoint
    * projections — a key-partitioned hash agg) and TWO left-semi joins
    * gating the edge list on its endpoints; nothing quadratic, nothing
    * driver-side. `localCheckpoint(eager)` per round cuts the lineage —
    * the same O(1)-plan-depth discipline as [[pageRank]] and
    * [[Dedup.connectedComponents]], without which round R's plan would
    * re-derive rounds 1..R−1 per reference.
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    var e = edges.select(col("u"), col("v")).pin()
    for (_ <- 1 to rounds) {
      val deg = e.select(col("u").as("n")).union(e.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select("n")
      e = e.join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
        .select("u", "v")
        .pin()
    }
    e.select(col("u").as("node_id")).union(e.select(col("v").as("node_id")))
      .groupBy("node_id").agg(count(lit(1)).as("degree"))
  }

  /** Fixed-round SYNCHRONOUS label propagation (Raghavan 2007) — community
    * detection, the modularity-flavored sibling of
    * [[Dedup.connectedComponents]] (which finds connectivity, not
    * density): every node starts as its own label; each round every node
    * simultaneously adopts the most frequent label among its neighbors,
    * ties broken by the SMALLEST label. Both choices are the determinism
    * policy at work: async/randomized LPA (the common formulation) depends
    * on visit order and coin flips — unreproducible across engines and
    * even across runs — while sync + min-label is a pure function of the
    * edge set and round count. Sync LPA may oscillate on bipartite
    * structures rather than converge; the fixed round count makes the
    * reported state well-defined either way (label sizes after round R
    * are what a community signal reads).
    *
    * Scale shape per round: one (src) equi-join edges⋈labels (labels are
    * one row per node — broadcast when the node set is small, else a key
    * shuffle), a (node, label) count aggregate, and a per-node arg-max via
    * `max(struct(count, -label))` — partial-agg friendly, no window over
    * fact rows. `localCheckpoint(eager)` per round keeps lineage O(1),
    * the same discipline as [[pageRank]] / [[kCorePeel]].
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    // checkpoint the UNDIRECTED list first: the symmetric view references
    // it twice (union of both orientations) — un-cut, one checkpoint job
    // would run the upstream edge derivation (for q146, the co-occurrence
    // pair-support join) twice
    val und = edges.select(col("u"), col("v")).pin()
    val sym = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
      .pin()
    val nodes = sym.select(col("u").as("id")).distinct().pin()
    // label rows are (id, lbl) — ~48 B built
    val small = BroadcastGate.fits(nodes.count(), 48)
    var labels = nodes.withColumn("lbl", col("id"))
    // arg-max packing: (c, −lbl) rides ONE DECIMAL(38,0) `c·2⁶⁴ +
    // (−lbl + 2⁶³)` — a struct-typed max buffer is not
    // HashAggregate-eligible, so the per-round arg-max ran as
    // SortAggregate (full sort of the (node, label) count relation every
    // round). c ≥ 1 and the offset keeps −lbl in [0, 2⁶⁴) for any long
    // label, so the packing is injective and order-isomorphic to
    // struct(c, −lbl) — identical (max count, min label) tie-break.
    val shift = lit(new java.math.BigDecimal("18446744073709551616")) // 2^64
    val offset = lit(new java.math.BigDecimal("9223372036854775808")) // 2^63
    for (_ <- 1 to rounds) {
      val lblSide = labels.select(col("id").as("u"), col("lbl").as("nl"))
      labels = sym
        .join(arm(small, lblSide), "u")
        .select(col("v").as("id"), col("nl"))
        .groupBy("id", "nl")
        .agg(count(lit(1)).as("c"))
        .groupBy("id")
        .agg(max(col("c").cast("decimal(38,0)") * shift +
          ((-col("nl")).cast("decimal(38,0)") + offset)).as("m"))
        .select(col("id"), (offset - pmod(col("m"), shift)).cast("long").as("lbl"))
        .pin()
    }
    labels.select(col("id").as("node_id"), col("lbl").as("community"))
  }

  /** Multi-source BFS hop distances over an undirected edge list: every
    * node reachable from `sources` within `rounds` hops, with its exact
    * hop distance (0 for the sources themselves) — the shortest-path
    * member of the graph family (reach/influence radius, seed-distance
    * features for entity graphs). Nodes not reached within `rounds` hops
    * are absent from the output; the fixed round count is the same
    * engine-determinism policy as [[kCorePeel]] / [[labelPropagation]]
    * (a SQL oracle cannot observe a "loop until no frontier" stop).
    *
    * Scale shape per round — the textbook frontier formulation, NOT the
    * naive re-label-everything join: only the FRONTIER (nodes first
    * reached last round) joins the edge list, so across the whole run
    * each edge is expanded exactly twice (once per endpoint's settling
    * round) regardless of `rounds`; candidates dedup by node key, one
    * anti-join against the settled set filters re-discoveries, and
    * `localCheckpoint(eager)` per round keeps lineage O(1) — the
    * discipline shared by every iterative operator in this file. The
    * settled relation grows monotonically but is only ever probed by
    * key (anti-join), never expanded.
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val und = edges.select(col("u"), col("v")).pin()
    val sym = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
      .pin()
    // settled/frontier rows are (id, dist) ~48 B, node-sized; nodes ≤
    // 2·|und|, so the edge-count read carries the 2× slack in the width
    val small = BroadcastGate.fits(und.count(), 2 * 48)
    var settled = sources.select(col("id")).distinct()
      .withColumn("dist", lit(0L)).pin()
    var frontier = settled.select("id")
    for (i <- 1 to rounds) {
      val newf = sym.join(arm(small, frontier.select(col("id").as("u"))), "u")
        .select(col("v").as("id")).distinct()
        .join(arm(small, settled.select("id")), Seq("id"), "left_anti")
        .pin()
      settled = settled.unionAll(newf.withColumn("dist", lit(i.toLong)))
        .pin()
      frontier = newf.select("id")
    }
    settled.select(col("id").as("node_id"), col("dist"))
  }

  /** Fixed-round weighted shortest paths (Bellman-Ford) over an undirected
    * weighted edge list `(u, v, w)`, w a positive integer: after `rounds`
    * rounds every output row carries the EXACT minimum path weight over
    * paths of ≤ `rounds` edges from any source — [[bfsDistances]]'s
    * weighted generalization (hop count ↦ Σw), same fixed-round
    * determinism policy. Unreached nodes are absent.
    *
    * Scale shape per round — DELTA propagation, not the naive synchronous
    * form: only nodes whose distance IMPROVED last round re-expand their
    * edges (the classical Bellman-Ford work-list optimization, which
    * preserves the ≤ i-edge invariant: a node's value always propagates
    * the round after it last improved). Each round is one frontier⋈edges
    * equi-join, a per-node min partial aggregate, one left join against
    * the settled relation for the strictly-better test, and an anti-join
    * + union to fold improvements in; `localCheckpoint(eager)` per round
    * keeps lineage O(1). On graphs where distances stabilize early the
    * frontier empties and later rounds are no-ops.
    */
  def shortestPaths(edges: DataFrame, sources: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val und = edges.select(col("u"), col("v"), col("w")).pin()
    val sym = und.unionAll(und.select(col("v").as("u"), col("u").as("v"), col("w")))
      .pin()
    // frontier rows are (id, dist), node-sized, nodes ≤ 2·|und| — the
    // [[bfsDistances]] 2× slack inside the row width
    val small = BroadcastGate.fits(und.count(), 2 * 56)
    var dist = sources.select(col("id")).distinct()
      .withColumn("dist", lit(0L)).pin()
    var frontier = dist
    for (_ <- 1 to rounds) {
      val fSide = frontier.select(col("id").as("u"), col("dist").as("du"))
      val cand = sym.join(arm(small, fSide), "u")
        .select(col("v").as("id"), (col("du") + col("w")).as("dist"))
        .groupBy("id").agg(min("dist").as("dist"))
      val improved = cand
        .join(dist.select(col("id"), col("dist").as("old")), Seq("id"), "left")
        .filter(col("old").isNull || col("dist") < col("old"))
        .select("id", "dist").pin()
      dist = dist.join(improved.select(col("id").as("iid")),
          dist("id") === col("iid"), "left_anti")
        .unionAll(improved).pin()
      frontier = improved
    }
    dist.select(col("id").as("node_id"), col("dist"))
  }

  /** Per-node triangle counts over an undirected edge list — the classic
    * clustering/cohesion signal.
    *
    * Scale design: edges are ORIENTED from the lexicographically smaller
    * `(degree, id)` endpoint to the larger — the standard
    * degree-orientation bound (oriented out-degree ≤ O(√m)), so every
    * triangle has exactly ONE oriented wedge (a→b, a→c, b→c). The census
    * itself is the EDGE-ITERATOR form ([[triangleCensus]]): per oriented
    * edge, one native sorted-merge intersection of the endpoints'
    * adjacency arrays — the O(Σ out-deg²) wedge stream the previous
    * path-join enumeration materialized (49M rows on the sf0.1
    * co-purchase graph, for 1.9M triangles) never exists as rows, and in
    * the big-graph arm never crosses an exchange.
    *
    * The edge list is materialized TWICE on purpose (`localCheckpoint`):
    * `und` is referenced by the degree aggregate (2×) and the orientation
    * join, and `oriented` by the adjacency aggregate and the census join
    * — without the cut, Spark re-derives the upstream edge derivation
    * (for q101, the co-occurrence distinct self-join) per reference, and
    * that re-execution dominated the wall clock 3× over (the q55
    * iterative-lineage lesson applied to a DAG that merely FANS OUT).
    *
    * Arms ([[censusFits]]): the adjacency relation carries every oriented
    * edge twice (out- and in-arrays) — an edge-sized payload, so a
    * billion-edge graph never silently picks the O(m) broadcast; past
    * the budget the census joins become partitioned equi-joins on the
    * endpoint keys (edge-sized exchanges — strictly narrower than the
    * wedge-stream exchange the old closing join paid there). Both arms
    * are the same integer census — identical rows.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val (_, small, oriented) = orient(edges)
    triangleCensus(oriented, small)
  }

  /** The degree orientation both triangle readouts start from: the
    * pinned degree relation `(n, d)`, the census arm ([[censusFits]]),
    * and the pinned oriented edge list `(src, dst)` — src the smaller
    * `(degree, id)` endpoint. The order is total, so the oriented graph
    * is acyclic and every triangle has ONE wedge (a→b, a→c, b→c).
    */
  private def orient(edges: DataFrame): (DataFrame, Boolean, DataFrame) = {
    val und = edges.select(col("u"), col("v")).pin()
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .pin() // feeds BOTH orientation joins + the arm gate: unpinned, each
             // join re-aggregated the edge list and the gate paid its own
             // O(m) pass over `oriented`
    val small = censusFits(deg)
    val oriented = und
      .join(arm(small, deg.select(col("n").as("u"), col("d").as("du"))), "u")
      .join(arm(small, deg.select(col("n").as("v"), col("d").as("dv"))), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
      .pin()
    (deg, small, oriented)
  }

  /** The triangle census's [[BroadcastGate]] decision: it broadcasts the
    * degree relation (~48 B/node) and the adjacency relation (~64 B/node
    * of row and array overhead + 16 B/edge of elements). Both counts come
    * off one aggregate over the pinned degree relation (|edges| = Σd/2),
    * not a scan of the edge list.
    */
  private def censusFits(deg: DataFrame): Boolean = {
    val h = deg.agg(sum("d"), count(lit(1))).head()
    val edgeCount = (if (h.isNullAt(0)) 0L else h.getLong(0)) / 2
    BroadcastGate.fits(1, 112L * h.getLong(1) + 16L * edgeCount)
  }

  /** Edge-iterator triangle census over a degree-ORIENTED (acyclic) edge
    * list: build each node's sorted out- and in-neighbor arrays in one
    * aggregate, then per oriented edge (a, b) count
    * `cf = |out(a) ∩ out(b)|` and `cr = |in(a) ∩ in(b)|` with the native
    * sorted-merge intersection ([[graft.functions.SortedInterCount]],
    * whole-stage codegen). Each triangle a→b, a→c, b→c is found exactly
    * once per role: at edge (a, b), cf counts c — crediting apex a and
    * middle b; at edge (b, c), cr counts a — crediting sink c (in the
    * REVERSED acyclic graph the same triangle's apex is c, so the in-array
    * intersection at its (b, c) edge is the sink's census). Per-node
    * totals are one map-combined SUM over the 3-way credit explode —
    * 3·m short rows, versus the Σ out-deg² wedge rows of the path-join
    * formulation (the sf0.1 co-purchase graph: 3.6M credit rows replace
    * 49M wedges; q101 census job 4.1 s → measured A/B below 1 s).
    *
    * Identity proof sketch (two directions): every common out-neighbor
    * c of (a, b) forms the unique oriented triangle (a→b, a→c, b→c), and
    * every triangle's c is a common out-neighbor of its (a, b) — so cf
    * sums count apex/middle roles exactly; the reverse graph of an
    * acyclic orientation is acyclic with roles mirrored, giving cr the
    * sink role by the same argument. [[GraphSpec]] pins K4, the shared
    * diagonal square, and the triangle-free path.
    *
    * `small`: broadcast the (edge-sized) adjacency relation into both
    * census joins; above the gate they are partitioned equi-joins and
    * only edge-sized rows ever cross an exchange.
    */
  private def triangleCensus(oriented: DataFrame, small: Boolean): DataFrame = {
    // one pass builds BOTH arrays: out-neighbors (role=true) and
    // in-neighbors (role=false); collect_list skips the nulls the
    // opposite role leaves. Arrays cast to BIGINT for the native merge.
    val t = oriented
      .select(col("src").as("n"), col("dst").cast("long").as("x"), lit(true).as("o"))
      .unionAll(oriented
        .select(col("dst").as("n"), col("src").cast("long").as("x"), lit(false).as("o")))
      .groupBy("n")
      .agg(sort_array(collect_list(when(col("o"), col("x")))).as("ob"),
        sort_array(collect_list(when(!col("o"), col("x")))).as("ib"))
      .pin() // fans out into both census joins (two broadcasts/exchanges)
    val paired = oriented
      .join(arm(small, t.select(col("n").as("src"), col("ob").as("so"), col("ib").as("si"))),
        "src")
      .join(arm(small, t.select(col("n").as("dst"), col("ob").as("od"), col("ib").as("id"))),
        "dst")
      .select(col("src"), col("dst"),
        graft.functions.VectorFunctions.sortedInterCount(col("so"), col("od")).as("cf"),
        graft.functions.VectorFunctions.sortedInterCount(col("si"), col("id")).as("cr"))
    paired
      .select(explode(array(
        struct(col("src").as("node_id"), col("cf").as("c")),
        struct(col("dst").as("node_id"), col("cf").as("c")),
        struct(col("dst").as("node_id"), col("cr").as("c")))).as("e"))
      .select(col("e.node_id").as("node_id"), col("e.c").as("c"))
      .filter(col("c") > 0) // zero-credit rows carry nothing; dropping them
                            // keeps "only triangle nodes appear" exact
      .groupBy("node_id").agg(sum("c").as("triangles"))
  }

  /** Link prediction by common-neighbor census (Liben-Nowell & Kleinberg
    * 2003, public literature): the top-k non-adjacent pairs ranked by
    * Jaccard neighborhood overlap — `cn` common neighbors,
    * `jaccard_ppm` = cn·10⁶ div (deg_u + deg_v − cn). The standard
    * "which edge appears next" / related-item candidate generator.
    *
    * Scale design: wedge pairs are enumerated per CENTER node, and
    * centers with degree > `maxCenterDegree` are EXCLUDED from the
    * census — hub-centered wedges are inherently quadratic (every
    * follower pair shares the celebrity) and carry near-zero linking
    * signal (the same observation Adamic–Adar's 1/log(deg) weight
    * encodes); the cap bounds the expansion at cap·2m rows, the
    * [[ext.Similarity]] `maxBucketCandidates` discipline applied to
    * graphs. Degrees in the SCORE stay the true degrees. The cap is part
    * of the operator contract and the oracle replays it exactly.
    *
    * Output: top-k by (jaccard_ppm, cn, u, v) — a total order, so the
    * k-boundary is deterministic; TakeOrdered, never a global sort.
    */
  def linkPrediction(edges: DataFrame, k: Int,
                     maxCenterDegree: Int = 64): DataFrame = {
    require(k >= 1 && maxCenterDegree >= 2,
      s"bad linkPrediction params: k=$k cap=$maxCenterDegree")
    val und = edges.select(col("u"), col("v")).pin()
    val sym = und.select(col("u").as("w"), col("v").as("n"))
      .union(und.select(col("v").as("w"), col("u").as("n")))
    val deg = sym.groupBy("w").agg(count(lit(1)).as("d"))
    val centered = sym
      .join(deg.filter(col("d") <= maxCenterDegree), Seq("w"))
      .select(col("w"), col("n"))
    val pairs = centered.select(col("w"), col("n").as("a"))
      .join(centered.select(col("w"), col("n").as("b")), Seq("w"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"))
    val cand = pairs.join(
      und.select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b")),
      Seq("a", "b"), "left_anti")
    cand
      .join(deg.select(col("w").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("w").as("b"), col("d").as("db")), Seq("b"))
      .select(col("a").as("u"), col("b").as("v"), col("cn"),
        expr("cn * 1000000 div (da + db - cn)").as("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("cn").desc, col("u"), col("v"))
      .limit(k)
  }

  /** k-core (Seidman 1983, public literature): the maximal subgraph in
    * which every node keeps degree ≥ k — the standard "dense cohesive
    * backbone" extraction (spam rings, power-user cliques, co-purchase
    * cores). Computed by the classic peel: drop all nodes of degree < k,
    * recompute degrees, repeat. The peel is IDEMPOTENT at the fixpoint,
    * so running exactly `rounds` iterations equals the fixpoint whenever
    * convergence happens within them — which makes the operator
    * replayable round-for-round in any engine (the oracle unrolls the
    * same count) with no driver-side convergence probe in the loop.
    * `KCoreSpec` pins convergence margins on the test graphs; size
    * `rounds` ≥ the expected peel depth (peel depth is typically ≤ tens
    * even on web graphs — each round removes a full degree-layer).
    *
    * Output: (node_id, core_degree) — core members with their degree
    * INSIDE the core (≥ k by definition).
    *
    * Scale shape per round: one map-combined degree aggregate + two
    * semi-joins of the checkpointed symmetric edge list against the
    * keyspace-sized survivor set — O(m) work, shrinking monotonically;
    * `localCheckpoint(eager)` keeps lineage O(1) across rounds (the q55
    * iterative-lineage discipline). Nothing is ever broadcast-sized but
    * the survivor keys, and those only if Spark's own stats choose to.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 12): DataFrame = {
    require(k >= 1 && rounds >= 1, s"bad kCore params: k=$k rounds=$rounds")
    val und = edges.select(col("u"), col("v"))
    // symmetric, deduped (deg = out-deg), HASH-PARTITIONED ON u: the
    // dedup aggregate reuses the explicit u-exchange (subset rule), the
    // pin preserves the partitioning, and every round's degree aggregate
    // — groupBy(u) over a u-partitioned relation — then needs NO
    // exchange; when the survivor set broadcasts, whole rounds run
    // exchange-free. The first cut deduped with distinct() (an exchange
    // on the FULL (u,v) key) whose partitioning no later step could use,
    // so each round re-shuffled the surviving edge list for its degrees.
    var e = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
      .repartition(col("u")).dropDuplicates("u", "v").pin()
    // early-exit at the fixpoint: each round's result is eagerly
    // checkpointed anyway, so the edge count is O(partitions) driver
    // work; idempotence means stopping early returns the SAME rows the
    // full `rounds` unroll would (the oracle replays the full unroll) —
    // the remaining rounds are pure wasted O(m) scans at any scale
    var n = e.count()
    // survivor rows are single keys (~40 B built), survivors ≤ nodes ≤ n
    val small = BroadcastGate.fits(n, 40)
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val keep = e.groupBy("u").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("u").as("n"))
      val keepSide = arm(small, keep)
      e = e.join(keepSide.select(col("n").as("u")), Seq("u"))
        .join(keepSide.select(col("n").as("v")), Seq("v"))
        .select("u", "v").pin()
      val n2 = e.count()
      converged = n2 == n
      n = n2
      r += 1
    }
    e.groupBy(col("u").as("node_id")).agg(count(lit(1)).as("core_degree"))
  }

  /** HyperANF (Boldi, Rosa & Vigna, WWW 2011): the neighborhood function
    * N(t) — how many (source, target) pairs lie within t hops — via ONE
    * integer HLL register set per node, advanced per round by
    * `max`-merging each node's registers with its neighbors'. Exact
    * ball-of-radius-t counting is Θ(n²) state on a dense graph; this is
    * O(n·m_registers) per round with every step an equi-join + max
    * aggregate — the standard way to read an effective diameter off a
    * web-scale graph.
    *
    * Determinism policy: the registered OUTPUT is the per-round register
    * HISTOGRAM `(round, reg, n_buckets)` — pure integers, the same
    * artifact-vs-diagnostic split as [[Sketch.hllRegisters]]
    * (registers exact-oracled; the float harmonic-mean estimate lives in
    * the spec, where [[Sketch.hllEstimate]] turns each round's registers
    * into the N(t) readout and is asserted against exact BFS balls).
    * Round 0 is the singleton sketch {node} — its histogram doubles as a
    * uniformity check on the node-id hash.
    *
    * Scale shape per round: registers ⋈ edges on dst (register side is
    * n·m rows — key-shuffled, broadcast only if tiny), union with self,
    * one (node, bucket) max aggregate — mergeable, map-side combined.
    * `localCheckpoint(eager)` per round keeps lineage O(1); the
    * superseded round's blocks are freed as soon as the next is
    * materialized (the kCenterGreedy discipline).
    */
  def neighborhoodFunction(edges: DataFrame, rounds: Int,
                           log2m: Int = 4): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val m = 1 << log2m
    // pin the edge list once: unpinned, every round's neighbor join (and
    // the node derivation) re-ran the caller's whole edge construction —
    // for q273 a corpus scan + distinct + symmetric union PER ROUND
    val e = edges.select(col("src"), col("dst")).pin()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val (bucket, rank) = Sketch.hllBucketRank(col("node"), log2m)
    // DENSE register layout: ONE row per node with m register columns
    // (0 = empty bucket — true ranks are ≥ 1 by construction). The first
    // cut carried one (node, bucket, reg) row per TOUCHED register, so
    // the per-round neighbor join fanned out m× the edge count and the
    // max-merge aggregate keyed m× the node count; dense rows ship the
    // same register bytes with 1/m of the row overhead and an m-column
    // max() merge that stays map-side combined per NODE. Register values
    // are identical bucket-for-bucket, so the histogram is unchanged.
    val rCols = (0 until m).map(i => s"__r$i")
    var regs = nodes.select(col("node") +:
      (0 until m).map(i =>
        when(bucket === i, rank).otherwise(lit(0)).cast("int").as(rCols(i))): _*)
      .pin()
    // register rows are (node, m ints) — ~40 + 4m B, so wider register
    // layouts tighten the gate; the count is the true node count
    val small = BroadcastGate.fits(regs.count(), 40L + 4L * m)
    // each round's histogram is EAGERLY checkpointed (≤ rank-range rows)
    // before the round's register blocks are freed — a lazy histogram
    // would still reference blocks a localCheckpoint cannot recompute
    def hist(t: Int, r: DataFrame): DataFrame =
      r.select(explode(array(rCols.map(col): _*)).as("reg"))
        .filter(col("reg") > 0) // 0 = empty bucket, absent in sparse form
        .groupBy(col("reg")).agg(count(lit(1)).as("n_buckets"))
        .select(lit(t).as("round"), col("reg").cast("int").as("reg"),
          col("n_buckets"))
        .pin()
    var out = hist(0, regs)
    for (t <- 1 to rounds) {
      val regsAsDst = regs.withColumnRenamed("node", "dst")
      val fromNbrs = e.join(arm(small, regsAsDst), Seq("dst"))
        .select(col("src").as("node") +: rCols.map(col): _*)
      val next = regs.unionByName(fromNbrs)
        .groupBy(col("node"))
        .agg(max(col(rCols.head)).as(rCols.head),
          rCols.tail.map(c => max(col(c)).as(c)): _*)
        .pin()
      Pin.release(regs)
      regs = next
      out = out.unionByName(hist(t, regs))
    }
    Pin.release(regs)
    out
  }

  /** HITS hubs & authorities on a DIRECTED edge list, all-integer: per
    * round, authority = Σ incoming hub scores, hub = Σ outgoing authority
    * scores, each renormalized to `[0, scale]` by `v·scale div max(v)` —
    * integer max-normalization replaces the textbook L2 norm (same
    * fixed-point ranking, no float drift, bit-identical in any engine).
    *
    * Overflow envelope: a round's raw sum is ≤ maxdeg·scale and the
    * normalization multiplies by scale again, so `maxdeg·scale² < 2⁶³`
    * bounds the default scale=10⁶ at max weighted degree ~9·10⁶ — lower
    * `scale` for hub-ier graphs.
    *
    * Scale shape per round (mirrors [[pageRank]], same two-arm gate):
    * while the score relation fits [[BroadcastGate]] each half-step is one
    * keyspace-sized broadcast join into the dst-partitioned edge copy
    * plus one hash aggregate (map-side combined), one one-row max, one
    * left join back to the node set. Past the budget, TWO checkpointed
    * edge copies (src- and dst-partitioned) make each half-step's score
    * join co-located — only the keyspace-sized score relation shuffles,
    * and the cross-direction aggregate pays the one unavoidable
    * edge-sized exchange. `localCheckpoint(eager)` per half-step keeps
    * lineage O(1) and frees the superseded round's blocks.
    */
  def hits(edges: DataFrame, iterations: Int, scale: Long = 1000000L,
           srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .repartition(col("dst"))
      .pin()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .pin()
    // score rows are (id, score) — ~56 B built
    val small = BroadcastGate.fits(nodes.count(), 56)
    // big-node arm: a second edge copy partitioned on SRC so the hub
    // half-step's score join is co-located too (the dst copy already
    // co-locates the authority half-step)
    val eBy: Map[String, DataFrame] =
      if (small) Map("src" -> e, "dst" -> e)
      else Map("dst" -> e, "src" -> e.repartition(col("src")).pin())

    // sum scores over one edge direction, renormalize to [0, scale],
    // keep every node (dangling side → 0); eager checkpoint so the
    // caller can free the input it supersedes
    def halfStep(score: DataFrame, scoreCol: String, joinKey: String,
                 groupKey: String, out: String): DataFrame = {
      val ed = eBy(joinKey)
      val sSide = arm(small, score)
      val raw = ed.join(sSide, ed(joinKey) === sSide("id"))
        .groupBy(col(groupKey).as("id"))
        .agg(sum(col(scoreCol)).as("s"))
      val m = raw.agg(max(col("s")).as("m"))
      nodes.join(arm(small, raw), Seq("id"), "left")
        .crossJoin(broadcast(m))
        .select(col("id"),
          expr(s"coalesce(s, 0L) * $scale div m").as(out))
        .pin()
    }

    var h = nodes.withColumn("h", lit(scale)).pin()
    var a: DataFrame = null
    for (_ <- 1 to iterations) {
      val aNext = halfStep(h, "h", "src", "dst", "a")
      if (a != null) Pin.release(a) // superseded round
      a = aNext
      val hNext = halfStep(a, "a", "dst", "src", "h")
      Pin.release(h) // aNext/hNext are eager — safe
      h = hNext
    }
    // the final h and a checkpoints stay live — the result reads them
    nodes.join(h, Seq("id"), "left").join(a, Seq("id"), "left")
      .select(col("id").as("node_id"),
        coalesce(col("h"), lit(0L)).as("hub"),
        coalesce(col("a"), lit(0L)).as("auth"))
  }

  /** Newman modularity, decomposed per community — the acceptance test
    * for a [[labelPropagation]] (or any) partition: for community c,
    * `Q_c = e_c/m − (d_c/2m)²` (intra-edge share minus the random-graph
    * expectation at the same degree mass). Emitted as SIGNED ppm with the
    * truncation order pinned (`e_in·S div m − deg_sum²·S div 4m²`), all
    * integer — Σ q_ppm ≈ 10⁶·Q, and a community with q_ppm ≤ 0 is no
    * denser than chance (merge or re-run with more rounds).
    *
    * `edges` are undirected unique pairs (u < v); `labels` is
    * (node_id, community). The expectation term `deg_sum²·scale div 4m²`
    * runs in DECIMAL(38,0) BY DEFAULT (the q278 device): the first cut
    * built `4m²` as a Scala Long literal and `deg_sum²·scale` in Long
    * plan arithmetic, silently capping m at ~1.5·10⁶ edges (scale 10⁶)
    * and demanding a manual `scale` retune on any 100× graph. In decimal
    * the envelope is `4m²·scale < 10³⁸` — m up to ~10¹⁵ edges, far past
    * any real corpus — and `div` (IntegralDivide) still emits BIGINT, so
    * the schema and every in-envelope value are bit-identical to the old
    * spelling (same floor division, wider intermediates only).
    *
    * Scale shape: one edge⋈labels tag join (labels keyspace-sized →
    * broadcast), one degree aggregate, then community-keyspace
    * arithmetic; nothing quadratic, no windows over facts.
    */
  def modularityReport(edges: DataFrame, labels: DataFrame,
                       scale: Long = 1000000L): DataFrame = {
    val und = edges.select(col("u"), col("v")).pin()
    val m = und.count()
    require(m > 0, "modularityReport needs at least one edge")
    val lab = labels.select(col("node_id"), col("community"))
      .pin()
    // label rows are (node_id, community) ~48 B, nodes ≤ 2·m — the 2×
    // edge-read slack rides the row width
    val small = BroadcastGate.fits(m, 2 * 48)
    val eIn = und
      .join(arm(small, lab.select(col("node_id").as("u"), col("community").as("cu"))), "u")
      .join(arm(small, lab.select(col("node_id").as("v"), col("community").as("cv"))), "v")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("e_in"))
    val deg = und.select(col("u").as("node_id"))
      .unionAll(und.select(col("v").as("node_id")))
      .groupBy("node_id").agg(count(lit(1)).as("deg"))
    val agg = lab.join(deg, "node_id")
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("deg_sum"))
    agg.join(eIn, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("deg_sum"))
      .withColumn("q_ppm",
        expr(s"CAST(e_in AS DECIMAL(38,0)) * $scale div ${m}L" +
          s" - (CAST(deg_sum AS DECIMAL(38,0)) * deg_sum * $scale)" +
          s" div (CAST(${m} AS DECIMAL(38,0)) * ${m} * 4)"))
  }

  /** Degree assortativity (Newman, Phys. Rev. Lett. 89, 2002 — public
    * paper): the Pearson correlation of endpoint degrees over edges —
    * positive for hub-to-hub graphs (social), negative for hub-to-leaf
    * (infrastructure). Over the SYMMETRIZED endpoint list (each
    * undirected edge contributes both orientations) the x and y
    * marginals are identical, so r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²)
    * — one exact rational, NO square root, emitted in ppm. (Using full
    * degree instead of Newman's excess degree d−1 changes nothing: a
    * constant shift of both coordinates leaves covariance and variance
    * untouched.) A regular graph has zero variance → NULL, not a wrong
    * correlation.
    *
    * Scale shape: one degree aggregate, two keyspace joins to decorate
    * edge endpoints, one 4-moment aggregate — a single edge pass plus
    * degree-relation joins; nothing iterates, nothing collects.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val und = edges.select(col("u"), col("v")).pin()
    val deg = und.select(col("u").as("n")).unionAll(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .pin() // feeds both endpoint joins and the node count
    // degree rows are (n, d) — ~48 B built
    val small = BroadcastGate.fits(deg.count(), 48)
    val sym = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
    val pts = sym
      .join(arm(small, deg.select(col("n").as("u"), col("d").as("dx"))), "u")
      .join(arm(small, deg.select(col("n").as("v"), col("d").as("dy"))), "v")
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    pts
      .agg(count(lit(1)).as("mm"), sum("dx").as("sx"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dx") * col("dy")).as("sxy"))
      .crossJoin(broadcast(nn))
      .select(col("n_nodes"), expr("mm div 2").as("n_edges"),
        expr("CAST(mm AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sx")
          .as("num"),
        expr("CAST(mm AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx")
          .as("den"))
      .select(col("n_nodes"), col("n_edges"),
        expr("CASE WHEN den = 0 THEN NULL ELSE num * 1000000 div den END")
          .as("assort_ppm"))
  }

  /** Local clustering coefficient per node (Watts & Strogatz, Nature
    * 1998 — public paper): triangles(v) / (deg(v) choose 2) in exact
    * floored ppm — "how interconnected is each node's neighborhood",
    * the per-node refinement of [[triangleCounts]]'s global census.
    * Nodes of degree < 2 have no defined coefficient and are excluded;
    * triangle-free nodes read an explicit 0.
    *
    * Scale shape: the [[triangleCounts]] census; its pinned degree
    * relation also supplies the denominators, so normalization adds only
    * a keyspace-sized left join.
    */
  def localClustering(edges: DataFrame): DataFrame = {
    val (deg, small, oriented) = orient(edges)
    val tri = triangleCensus(oriented, small)
    deg.filter(col("d") >= 2)
      .join(tri, col("n") === col("node_id"), "left")
      .select(col("n").as("node_id"), col("d").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("lcc_ppm",
        expr("CAST(triangles AS DECIMAL(38,0)) * 2000000" +
          " div (CAST(degree AS DECIMAL(38,0)) * (degree - 1))"))
  }
}
