package graft.ext

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class GraphSpec extends SparkSpec {

  // 2-node cycle at scale 100: pr0 = (100, 100).
  // Each round: contrib = pr div 1; pr' = 15 + (85 * 100) div 100 = 100.
  // Fixed point immediately — stays (100, 100) forever.
  test("pageRank: symmetric 2-cycle is a fixed point") {
    val e = df("src BIGINT, dst BIGINT", Seq(Row(1L, 2L), Row(2L, 1L)))
    val out = Graph.pageRank(e, iterations = 3, scale = 100L)
    assert(rowSet(out) == rows(Seq("1", "100"), Seq("2", "100")))
  }

  // Star 1↔2, 1↔3 (bidirected), scale 1000:
  //   outdeg: 1 → 2, 2 → 1, 3 → 1. pr0 = 1000 each.
  //   r1: into 1: 1000+1000=2000 → 150 + 85*2000 div 100 = 1850
  //       into 2: 1000 div 2 = 500 → 150 + 425 = 575; same for 3.
  //   r2: into 1: 575+575=1150 → 150 + 85*1150 div 100 = 150+977 = 1127
  //       into 2: 1850 div 2 = 925 → 150 + 85*925 div 100 = 150+786 = 936
  test("pageRank: hand-computed star graph, two rounds, floor division") {
    val e = df("src BIGINT, dst BIGINT",
      Seq(Row(1L, 2L), Row(2L, 1L), Row(1L, 3L), Row(3L, 1L)))
    val out = Graph.pageRank(e, iterations = 2, scale = 1000L)
    assert(rowSet(out) == rows(
      Seq("1", "1127"), Seq("2", "936"), Seq("3", "936")))
  }

  test("pageRank: total mass stays near N·scale (no dangling leakage)") {
    val e = df("src BIGINT, dst BIGINT",
      Seq(Row(1L, 2L), Row(2L, 3L), Row(3L, 1L))) // directed 3-cycle, outdeg 1
    val out = Graph.pageRank(e, iterations = 4, scale = 1000000L)
    val total = out.collect().map(_.getLong(1)).sum
    // cycle: every node keeps 150000 + 850000 = scale (minus div-100 floor dust)
    assert(math.abs(total - 3000000L) < 10L, s"mass leaked: $total")
  }

  private def und(pairs: (Long, Long)*) =
    df("u BIGINT, v BIGINT", pairs.map { case (a, b) => Row(a, b) })

  test("bfsDistances: hand-traced path graph, two sources") {
    // path 1-2-3-4-5 from {1, 5}: both ends settle inward, 3 is reached
    // from both sides in the same round (distinct collapses the candidate)
    val e = und((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val src = df("id BIGINT", Seq(Row(1L), Row(5L)))
    assert(rowSet(Graph.bfsDistances(e, src, rounds = 2)) == rows(
      Seq("1", "0"), Seq("5", "0"), Seq("2", "1"), Seq("4", "1"), Seq("3", "2")))
  }

  test("bfsDistances: round cap excludes farther nodes; re-discovery keeps the first distance") {
    // 6-cycle from {1}: true dists 0,1,2,3,2,1 — with rounds=2 node 4
    // (dist 3) is absent, and nodes 3/5 keep dist 2 though round 3's
    // frontier would re-discover them
    val e = und((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L))
    val out = Graph.bfsDistances(e, df("id BIGINT", Seq(Row(1L))), rounds = 2)
    assert(rowSet(out) == rows(
      Seq("1", "0"), Seq("2", "1"), Seq("6", "1"), Seq("3", "2"), Seq("5", "2")))
  }

  test("bfsDistances: disconnected component absent; duplicate sources collapse") {
    val e = und((1L, 2L), (3L, 4L))
    val out = Graph.bfsDistances(e, df("id BIGINT", Seq(Row(1L), Row(1L))), rounds = 3)
    assert(rowSet(out) == rows(Seq("1", "0"), Seq("2", "1")))
  }

  private def wund(triples: (Long, Long, Long)*) =
    df("u BIGINT, v BIGINT, w BIGINT", triples.map { case (a, b, w) => Row(a, b, w) })

  test("shortestPaths: cheap 2-hop path beats the heavy direct edge") {
    val e = wund((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 10L))
    assert(rowSet(Graph.shortestPaths(e, df("id BIGINT", Seq(Row(1L))), rounds = 2)) ==
      rows(Seq("1", "0"), Seq("2", "1"), Seq("3", "2")))
  }

  test("shortestPaths: round R = exact minimum over <= R-edge paths") {
    // chain 1-2-3-4 (w 1 each) + direct 1-4 (w 5): with 2 rounds the
    // 3-edge chain is out of reach, the 1-edge direct wins at 5; with 3
    // rounds the chain relaxes it to 3
    val e = wund((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 4L, 5L))
    val src = df("id BIGINT", Seq(Row(1L)))
    val at2 = Graph.shortestPaths(e, src, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(at2(4L) == 5L)
    val at3 = Graph.shortestPaths(e, src, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(at3(4L) == 3L)
  }

  test("shortestPaths: disconnected component absent; undirected relaxation works both ways") {
    val e = wund((1L, 2L, 2L), (4L, 5L, 1L))
    val out = Graph.shortestPaths(e, df("id BIGINT", Seq(Row(2L))), rounds = 3)
    assert(rowSet(out) == rows(Seq("2", "0"), Seq("1", "2")))
  }

  test("triangleCounts: K4 gives every node 3 triangles") {
    val e = und((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(rowSet(Graph.triangleCounts(e)) == rows(
      Seq("1", "3"), Seq("2", "3"), Seq("3", "3"), Seq("4", "3")))
  }

  test("triangleCounts: square + one diagonal = two triangles sharing it") {
    // 1-2-3-4-1 with diagonal 1-3: triangles (1,2,3) and (1,3,4)
    val e = und((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
    assert(rowSet(Graph.triangleCounts(e)) == rows(
      Seq("1", "2"), Seq("2", "1"), Seq("3", "2"), Seq("4", "1")))
  }

  test("triangleCounts: triangle-free graph returns no rows") {
    val e = und((1L, 2L), (2L, 3L), (3L, 4L)) // a path
    assert(Graph.triangleCounts(e).count() == 0)
  }

  test("coOccurrenceEdges: dedups within and across groups, u < v") {
    val d = df("g BIGINT, item BIGINT", Seq(
      Row(1L, 10L), Row(1L, 20L), Row(1L, 20L), // dup line within group
      Row(2L, 20L), Row(2L, 10L),               // same pair, other order
      Row(3L, 30L)))                            // singleton group → no pair
    assert(rowSet(Graph.coOccurrenceEdges(d, "g", "item")) ==
      rows(Seq("10", "20")))
  }

  test("associationRules: hand-traced support, confidence, lift; duplicate lines collapse") {
    // baskets: g1 {a,b,c}, g2 {a,b}, g3 {a}, g4 {b,d}; n_groups = 4
    val d = df("g BIGINT, item STRING", Seq(
      Row(1L, "a"), Row(1L, "a"), // dup line must not inflate support
      Row(1L, "b"), Row(1L, "c"),
      Row(2L, "a"), Row(2L, "b"),
      Row(3L, "a"),
      Row(4L, "b"), Row(4L, "d")))
    val out = Graph.associationRules(d, "g", "item", minPairs = 2)
    // only a⇄b co-occur twice; a and b each occur in 3 baskets:
    // confidence = 2/3, lift = 2·4/(3·3) = 8/9
    assert(rowSet(out) == rows(
      Seq("a", "b", "2", "3", "3", "0.666667", "0.888889"),
      Seq("b", "a", "2", "3", "3", "0.666667", "0.888889")))
    // minPairs = 1 keeps all 8 directed pairs
    assert(Graph.associationRules(d, "g", "item", minPairs = 1).count() == 8)
  }

  test("kCorePeel: pendant chain peels away, the triangle core survives with degrees") {
    // triangle 1-2-3 plus a tail 3-4-5: 2-core = the triangle only,
    // reached after two peel rounds (5 dies, then 4)
    val e = und((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val out = Graph.kCorePeel(e, k = 2, rounds = 3)
    assert(out.columns.toSeq == Seq("node_id", "degree"))
    assert(rowSet(out) == rows(Seq("1", "2"), Seq("2", "2"), Seq("3", "2")))
  }

  test("kCorePeel: too few rounds reports the intermediate peel state") {
    val e = und((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    // one round removes only 5 (degree 1); 4 still holds edge 3-4
    assert(rowSet(Graph.kCorePeel(e, k = 2, rounds = 1)) == rows(
      Seq("1", "2"), Seq("2", "2"), Seq("3", "3"), Seq("4", "1")))
  }

  test("kCorePeel: whole graph below k peels to empty") {
    val e = und((1L, 2L), (2L, 3L)) // path: no 2-core
    assert(Graph.kCorePeel(e, k = 2, rounds = 3).count() == 0)
  }

  test("labelPropagation: two triangles joined by a bridge settle into two communities") {
    // triangle A {1,2,3}, triangle B {4,5,6}, bridge 3-4
    val e = und((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val out = Graph.labelPropagation(e, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // each triangle converges to ONE label; min-label ties pull toward 1
    assert(Set(out(1L), out(2L), out(3L)).size == 1)
    assert(Set(out(4L), out(5L), out(6L)).size == 1)
  }

  test("labelPropagation: round 1 on a star adopts the hub's minimum-neighbor rule") {
    // star: hub 5 with leaves 1..3. Round 1: every leaf sees only the hub
    // (label 5); the hub sees {1,2,3} all count 1 → min label 1
    val e = und((5L, 1L), (5L, 2L), (5L, 3L))
    val out = Graph.labelPropagation(e, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 5L, 2L -> 5L, 3L -> 5L, 5L -> 1L))
  }

  test("labelPropagation: deterministic across repartitioning") {
    val e = und((1L to 30L).flatMap(i => Seq((i, i % 7 + 100L))): _*)
    val a = Graph.labelPropagation(e, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = Graph.labelPropagation(e.repartition(5), rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a == b)
  }

  test("kCorePeel: registered q141 parameterization reaches its fixpoint (all degrees >= k)") {
    // a denser mesh: K4 plus pendants — after peel every residual degree >= 2
    val e = und((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    val out = Graph.kCorePeel(e, k = 2, rounds = 8).collect()
    assert(out.forall(_.getLong(1) >= 2))
    assert(out.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("neighborhoodFunction: iterative max-merge equals directly-sketched exact balls on a path graph") {
    // path 1-2-3-4-5-6, symmetric edges
    val und = Seq((1L,2L),(2L,3L),(3L,4L),(4L,5L),(5L,6L))
    val e = df("src BIGINT, dst BIGINT",
      und.flatMap { case (u, v) => Seq(Row(u, v), Row(v, u)) })
    val log2m = 4
    val rounds = 3
    val out = Graph.neighborhoodFunction(e, rounds, log2m).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // reference: per node, the EXACT ball of radius t on the path, sketched
    // directly (bucket/rank of each member, max per bucket) — an independent
    // derivation of what t rounds of max-merging must produce
    import spark.implicits._
    val nodes = (1L to 6L).toSeq
    val br = nodes.toDF("node").select(col("node"),
      Sketch.hllBucketRank(col("node"), log2m)._1.as("bucket"),
      Sketch.hllBucketRank(col("node"), log2m)._2.as("reg"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getAs[Number](2).intValue)).toMap
    def ball(n: Long, t: Int): Seq[Long] = nodes.filter(m => math.abs(m - n) <= t)
    (0 to rounds).foreach { t =>
      val expected = nodes
        .flatMap(n => ball(n, t).map(br).groupBy(_._1).map { case (b, xs) => (n, b, xs.map(_._2).max) })
        .groupBy(_._3).map { case (reg, xs) => (t, reg) -> xs.size.toLong }
      val got = out.filter(_._1._1 == t)
      assert(got == expected, s"round $t: $got vs $expected")
    }
  }

  test("hits: one hand-traced round of integer max-normalized HITS") {
    // 1→2, 1→3, 4→3: a_raw = {2:100, 3:200} → max 200 → a = {2:50, 3:100}
    // h_raw = {1: 50+100=150, 4: 100} → max 150 → h = {1:100, 4:66}
    val e = df("src BIGINT, dst BIGINT",
      Seq(Row(1L, 2L), Row(1L, 3L), Row(4L, 3L)))
    val out = Graph.hits(e, iterations = 1, scale = 100L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(
      1L -> ((100L, 0L)), 2L -> ((0L, 50L)),
      3L -> ((0L, 100L)), 4L -> ((66L, 0L))))
  }

  test("hits: iteration sharpens the dominant hub on an asymmetric graph") {
    // node 0 links to every authority; node 9 links to one
    val rows = (1L to 5L).map(Row(0L, _)) :+ Row(9L, 1L)
    val out = Graph.hits(df("src BIGINT, dst BIGINT", rows), iterations = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L)._1 == 1000000L)     // dominant hub pinned at scale
    assert(out(9L)._1 < 400000L)       // minor hub decays under iteration
    assert(out(1L)._2 == 1000000L)     // doubly-cited authority dominates
    assert((2L to 5L).forall(n => out(n)._2 < 1000000L && out(n)._2 > 0L))
  }

  test("modularityReport: two bridged triangles, hand-traced ppm") {
    // triangles {1,2,3} and {4,5,6} + bridge 3–4: m=7, per community
    // e_in=3, deg_sum=7 → q_ppm = 3e6 div 7 − 49e6 div 196
    //                            = 428571 − 250000 = 178571
    val e = df("u BIGINT, v BIGINT", Seq(
      Row(1L, 2L), Row(1L, 3L), Row(2L, 3L),
      Row(4L, 5L), Row(4L, 6L), Row(5L, 6L), Row(3L, 4L)))
    val labels = df("node_id BIGINT, community BIGINT",
      (1L to 6L).map(n => Row(n, if (n <= 3) 10L else 20L)))
    val out = Graph.modularityReport(e, labels).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(out(10L) == ((3L, 3L, 7L, 178571L)))
    assert(out(20L) == ((3L, 3L, 7L, 178571L)))
    // a partition that crosses the structure scores NEGATIVE: odd/even
    val bad = df("node_id BIGINT, community BIGINT",
      (1L to 6L).map(n => Row(n, n % 2)))
    val q = Graph.modularityReport(e, bad).collect()
      .map(_.getLong(4)).sum
    assert(q < 0L)
  }

  test("modularityReport: exact past the old Long envelope (deg_sum²·scale > 2⁶³)") {
    // two stars, m = 4000, scale = 10¹²: the expectation term's numerator
    // deg_sum²·scale reaches 6000²·10¹² = 3.6·10¹⁹ > 2⁶³ — the pre-decimal
    // Long spelling wrapped silently here; DECIMAL(38,0) must stay exact.
    //   A: star(0, 3000 leaves)  e_in=3000, deg_sum=6000
    //      q = 3000·S div 4000 − 6000²·S div (4·4000²) = 0.75S − 0.5625S
    //   B: star(9999999, 1000 leaves) e_in=1000, deg_sum=2000
    //      q = 0.25S − 0.0625S — both exactly 187_500_000_000
    val aEdges = (1L to 3000L).map(i => Row(0L, i))
    val bEdges = (1L to 1000L).map(i => Row(9999999L, 10000000L + i))
    val e = df("u BIGINT, v BIGINT", aEdges ++ bEdges)
    val labels = df("node_id BIGINT, community BIGINT",
      (Seq(Row(0L, 1L)) ++ (1L to 3000L).map(Row(_, 1L))) ++
        (Seq(Row(9999999L, 2L)) ++ (1L to 1000L).map(i => Row(10000000L + i, 2L))))
    val out = Graph.modularityReport(e, labels, scale = 1000000000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(out == Map(1L -> 187500000000L, 2L -> 187500000000L))
  }

  test("personalizedPageRank: rank concentrates near the seed; hand-traced first round") {
    // path 1-2-3-4 (bidirected), seed {1}, scale 1000:
    //   outdeg: 1→1, 2→2, 3→2, 4→1. pr0 = (1000, 0, 0, 0).
    //   r1: into 2 gets 1000 div 1 = 1000 → pr(2) = 0·150 + 850 = 850
    //       others get 0 → pr = (150, 850, 0, 0)
    val e = df("src BIGINT, dst BIGINT", Seq(
      Row(1L, 2L), Row(2L, 1L), Row(2L, 3L), Row(3L, 2L), Row(3L, 4L), Row(4L, 3L)))
    val seeds = df("id BIGINT", Seq(Row(1L)))
    val r1 = Graph.personalizedPageRank(e, seeds, iterations = 1, scale = 1000L)
    assert(rowSet(r1) == rows(
      Seq("1", "150"), Seq("2", "850"), Seq("3", "0"), Seq("4", "0")))
    // deeper iteration: rank decays with distance from the seed
    val r3 = Graph.personalizedPageRank(e, seeds, iterations = 3, scale = 1000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3(1L) > r3(2L) || r3(2L) > r3(3L))
    assert(r3(2L) > r3(4L) && r3(3L) > 0L)
  }

  // With every node a seed, [v ∈ S] = 1 everywhere: pr₀ and the teleport
  // term are PageRank's, so the two operators must agree row for row.
  test("personalizedPageRank: seeding every node returns exactly pageRank's rows") {
    val n = 60L
    val e = df("src BIGINT, dst BIGINT", (0L until n).flatMap(i =>
      Seq(Row(i, (i + 1) % n), Row(i, (i + 7) % n)) ++
        (if (i % 3 == 0) Seq(Row(i, (i + 19) % n)) else Nil)))
    val everyNode = df("id BIGINT", (0L until n).map(Row(_)))
    val ppr = Graph.personalizedPageRank(e, everyNode, iterations = 4, scale = 1000000L)
    val pr = Graph.pageRank(e, iterations = 4, scale = 1000000L)
    assert(ppr.count() == n)
    assertSameRows(ppr, pr)
  }

  // Triangle 1-2-3 plus pendant 3-4: degrees 2,2,3,1.
  // Symmetrized endpoint degrees: mm=8, Σx=18, Σx²=44, Σxy=38 →
  // num = 8·38−18² = −20, den = 8·44−18² = 28 → −20e6 div 28 = −714285
  // (truncation toward zero on the negative rational).
  test("degreeAssortativity: hand-computed triangle+pendant, exact rational ppm") {
    val e = df("u BIGINT, v BIGINT",
      Seq(Row(1L, 2L), Row(1L, 3L), Row(2L, 3L), Row(3L, 4L)))
    val r = Graph.degreeAssortativity(e).head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L)
    assert(r.getLong(2) == -714285L)
  }

  test("degreeAssortativity: regular graph has zero variance -> NULL, not 0") {
    // 4-cycle: every degree 2
    val e = df("u BIGINT, v BIGINT",
      Seq(Row(1L, 2L), Row(2L, 3L), Row(3L, 4L), Row(1L, 4L)))
    val r = Graph.degreeAssortativity(e).head()
    assert(r.isNullAt(2))
  }

  test("localClustering: triangle+pendant coefficients; degree-1 node excluded") {
    val e = df("u BIGINT, v BIGINT",
      Seq(Row(1L, 2L), Row(1L, 3L), Row(2L, 3L), Row(3L, 4L)))
    val out = Graph.localClustering(e)
    assert(out.columns.toSeq == Seq("node_id", "degree", "triangles", "lcc_ppm"))
    assert(rowSet(out) == rows(
      Seq("1", "2", "1", "1000000"),
      Seq("2", "2", "1", "1000000"),
      Seq("3", "3", "1", "333333")))
  }

  test("localClustering: triangle-free star reads explicit zeros") {
    val e = df("u BIGINT, v BIGINT",
      Seq(Row(1L, 2L), Row(1L, 3L), Row(1L, 4L)))
    assert(rowSet(Graph.localClustering(e)) == rows(
      Seq("1", "3", "0", "0")))
  }

  test("linkPrediction: hand Jaccard on a path; existing edges never surface") {
    // path 1−2−3: the only wedge pair is (1,3) through center 2;
    // deg(1)=deg(3)=1 → jaccard = 1e6/(1+1−1) = 1e6
    val path = df("u BIGINT, v BIGINT", Seq(Row(1L, 2L), Row(2L, 3L)))
    assert(rowSet(Graph.linkPrediction(path, k = 10)) == rows(
      Seq("1", "3", "1", "1000000")))
    // triangle: every wedge pair IS an edge → nothing to predict
    val tri = df("u BIGINT, v BIGINT",
      Seq(Row(1L, 2L), Row(2L, 3L), Row(1L, 3L)))
    assert(Graph.linkPrediction(tri, k = 10).count() == 0)
  }

  test("linkPrediction: the center cap drops hub wedges from the census by contract") {
    // star 0−{1..5} plus edge 1−2: center 0 has degree 5
    val star = df("u BIGINT, v BIGINT",
      Seq(Row(0L, 1L), Row(0L, 2L), Row(0L, 3L), Row(0L, 4L), Row(0L, 5L),
        Row(1L, 2L)))
    // uncapped: 9 leaf pairs (10 minus the existing 1−2); the three
    // degree-1 pairs score 1e6, the 4th in (jaccard, cn, u, v) order is
    // (1,3) at 1e6/(2+1−1) = 500000
    val open = Graph.linkPrediction(star, k = 4, maxCenterDegree = 64)
    assert(rowSet(open) == rows(
      Seq("3", "4", "1", "1000000"), Seq("3", "5", "1", "1000000"),
      Seq("4", "5", "1", "1000000"), Seq("1", "3", "1", "500000")))
    // capped at 4: hub 0 leaves the census; the surviving wedges (through
    // centers 1 and 2) only propose existing star edges → empty
    assert(Graph.linkPrediction(star, k = 10, maxCenterDegree = 4).count() == 0)
  }

  test("kCore: pendant chain peels in cascade; the clique core survives with in-core degrees") {
    // K4 on 1-4 plus chain 4-5-6: k=2 peels 6 (deg 1) then 5 (deg 1 after)
    val e = df("u BIGINT, v BIGINT", Seq(
      Row(1L, 2L), Row(1L, 3L), Row(1L, 4L), Row(2L, 3L), Row(2L, 4L),
      Row(3L, 4L), Row(4L, 5L), Row(5L, 6L)))
    assert(rowSet(Graph.kCore(e, k = 2, rounds = 3)) == rows(
      Seq("1", "3"), Seq("2", "3"), Seq("3", "3"), Seq("4", "3")))
    // k above the max core degree empties the graph
    assert(Graph.kCore(e, k = 4, rounds = 4).count() == 0)
  }

  test("kCore: extra rounds past the fixpoint change nothing (peel idempotence)") {
    val e = df("u BIGINT, v BIGINT", Seq(
      Row(1L, 2L), Row(1L, 3L), Row(1L, 4L), Row(2L, 3L), Row(2L, 4L),
      Row(3L, 4L), Row(4L, 5L), Row(5L, 6L)))
    assertSameRows(Graph.kCore(e, k = 2, rounds = 2),
      Graph.kCore(e, k = 2, rounds = 8))
  }

  test("kCore: k-core properties hold on a deterministic random graph " +
      "(every member keeps degree >= k; no peeled node qualifies; maximality)") {
    // 40-node graph, ~120 hash-deterministic edges
    val edges = (0 until 200).flatMap { i =>
      val u = (i * 7919L) % 40
      val v = (i * 104729L + 13) % 40
      if (u != v) Some((math.min(u, v), math.max(u, v))) else None
    }.distinct
    val e = df("u BIGINT, v BIGINT", edges.map { case (u, v) => Row(u, v) })
    val k = 5
    val core = Graph.kCore(e, k = k, rounds = 20).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // membership: every core node keeps >= k neighbors INSIDE the core
    val adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    core.foreach { case (n, d) =>
      val inCore = adj(n).count(core.contains)
      assert(d == inCore && d >= k, s"node $n: core_degree $d, in-core $inCore")
    }
    // maximality: no peeled node has >= k neighbors inside the core —
    // otherwise core ∪ {that node} would also satisfy the k-core
    // property and the reported set would not be maximal
    (adj.keySet -- core.keySet).foreach { n =>
      assert(adj(n).count(core.contains) < k,
        s"peeled node $n has >= $k in-core neighbors — core not maximal")
    }
  }

  private val BudgetKey = "spark.graft.broadcastBytes"

  /** `body` with the broadcast budget set to `value`; the prior value is
    * restored afterwards. */
  private def withBudget[T](value: String)(body: => T): T = {
    val prior = spark.conf.getOption(BudgetKey)
    spark.conf.set(BudgetKey, value)
    try body
    finally prior.fold(spark.conf.unset(BudgetKey))(spark.conf.set(BudgetKey, _))
  }

  // One row per two-arm operator. On these small graphs the default budget
  // takes the broadcast arm and a zero budget forces the shuffle arm; both
  // arms must return the same rows.
  private val bridged = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
  private val diamond = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (2L, 4L))
  private val shuffleArms: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
    "pageRank: shuffle arm is bit-identical to the broadcast arm" -> { () =>
      // ring + chords — multiple outdegrees, several rounds of mixing
      val n = 60L
      val e = df("src BIGINT, dst BIGINT", (0L until n).flatMap(i =>
        Seq(Row(i, (i + 1) % n), Row(i, (i + 7) % n)) ++
          (if (i % 3 == 0) Seq(Row(i, (i + 19) % n)) else Nil)))
      Graph.pageRank(e, iterations = 4, scale = 1000000L)
    },
    "personalizedPageRank: shuffle arm bit-identical to broadcast arm" -> { () =>
      val e = df("src BIGINT, dst BIGINT", (0L until 60L).flatMap(i =>
        Seq(Row(i, (i + 1) % 60), Row((i + 1) % 60, i))))
      val seeds = df("id BIGINT", Seq(Row(0L), Row(30L)))
      Graph.personalizedPageRank(e, seeds, iterations = 3, scale = 1000000L)
    },
    "hits: shuffle arm is bit-identical to the broadcast arm" -> { () =>
      val e = df("src BIGINT, dst BIGINT", (0L until 40L).flatMap(i =>
        Seq(Row(i, (i * 3 + 1) % 40), Row(i, (i + 11) % 40))))
      Graph.hits(e, iterations = 3)
    },
    "localClustering: edge-count gate drives both closing-join arms to the same rows" ->
      (() => Graph.localClustering(und(diamond: _*))),
    "triangleCounts: edge-count gate drives both closing-join arms to the same rows" ->
      (() => Graph.triangleCounts(und(diamond: _*))),
    "labelPropagation: shuffle arm returns the broadcast arm's rows" ->
      (() => Graph.labelPropagation(und(bridged: _*), rounds = 4)),
    "bfsDistances: shuffle arm returns the broadcast arm's rows" ->
      (() => Graph.bfsDistances(und(bridged: _*), df("id BIGINT", Seq(Row(1L))), rounds = 3)),
    "shortestPaths: shuffle arm returns the broadcast arm's rows" -> { () =>
      val e = wund((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 4L, 5L), (4L, 5L, 2L))
      Graph.shortestPaths(e, df("id BIGINT", Seq(Row(1L))), rounds = 3)
    },
    "kCore: shuffle arm returns the broadcast arm's rows" -> { () =>
      val e = und((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L))
      Graph.kCore(e, k = 2, rounds = 3)
    },
    "neighborhoodFunction: shuffle arm returns the broadcast arm's rows" -> { () =>
      val e = df("src BIGINT, dst BIGINT",
        bridged.flatMap { case (u, v) => Seq(Row(u, v), Row(v, u)) })
      Graph.neighborhoodFunction(e, rounds = 3)
    },
    "modularityReport: shuffle arm returns the broadcast arm's rows" -> { () =>
      val labels = df("node_id BIGINT, community BIGINT",
        (1L to 6L).map(n => Row(n, if (n <= 3) 10L else 20L)))
      Graph.modularityReport(und(bridged: _*), labels)
    },
    "degreeAssortativity: shuffle arm returns the broadcast arm's rows" ->
      (() => Graph.degreeAssortativity(und(bridged: _*))))

  shuffleArms.foreach { case (name, run) =>
    test(name) {
      val broadcastArm = run()
      withBudget("0")(assertSameRows(broadcastArm, run()))
    }
  }

  test("triangleCounts: big-edge arm plans a shuffle join, not a broadcast") {
    val e = df("u BIGINT, v BIGINT",
      Seq(Row(1L, 2L), Row(1L, 3L), Row(2L, 3L)))
    // suppress Spark's size-based auto-broadcast so the plan shows only
    // what the gate itself chose (on real TB-scale edges size stats would
    // suppress it anyway; tiny test relations need the override)
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    saved.foreach { case (k, _) => conf.set(k, "-1") }
    try {
      val plan = withBudget("0")(Graph.triangleCounts(e))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"gate failed to suppress broadcast:\n$plan")
      val broadcastPlan = Graph.triangleCounts(e)
        .queryExecution.executedPlan.toString
      assert(broadcastPlan.contains("BroadcastHashJoin"),
        s"small-edge arm should broadcast the closing edges:\n$broadcastPlan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("spark.graft.broadcastBytes: a malformed or negative value fails naming the key") {
    Seq("12x", "-1").foreach { bad =>
      withBudget(bad) {
        val e = intercept[IllegalArgumentException](BroadcastGate.fits(1L, 1L))
        assert(e.getMessage.contains(BudgetKey) && e.getMessage.contains(s"'$bad'"),
          e.getMessage)
      }
    }
  }
}
