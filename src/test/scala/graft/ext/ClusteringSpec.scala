package graft.ext

import org.apache.spark.sql.Row
import graft.SparkSpec

class ClusteringSpec extends SparkSpec {

  private def vecs(rows: (Long, Seq[Double])*): org.apache.spark.sql.DataFrame =
    df("vec_id BIGINT, embedding ARRAY<DOUBLE>", rows.map { case (i, v) => Row(i, v) })

  // two well-separated groups; seedMod=4 seeds centroids at ids 0 and 4,
  // one inside each group
  private def corpus = vecs(
    0L -> Seq(1.0, 0.0, 0.0),
    1L -> Seq(0.9, 0.1, 0.0),
    2L -> Seq(0.8, 0.0, 0.1),
    4L -> Seq(0.0, 1.0, 0.0),
    5L -> Seq(0.1, 0.9, 0.0),
    6L -> Seq(0.0, 0.8, 0.2))

  test("kmeansAssign: converges to the two obvious cells, exact integer dist") {
    val out = Clustering.kmeansAssign(corpus, seedMod = 4, iterations = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 4L, 5L, 6L))
    assert(Seq(0L, 1L, 2L).map(out(_)._1).distinct == Seq(0L))
    assert(Seq(4L, 5L, 6L).map(out(_)._1).distinct == Seq(4L))
    // distance of the trained centroid to its own cell member is exact
    // integer L2² in 1e6-quantized space: centroid of cell 0 is the
    // truncated per-dim mean of the three members
    val c0 = Seq(
      (1000000L + 900000L + 800000L) / 3,
      (0L + 100000L + 0L) / 3,
      (0L + 0L + 100000L) / 3)
    val v0 = Seq(1000000L, 0L, 0L)
    val want = c0.zip(v0).map { case (a, b) => (a - b) * (a - b) }.sum
    assert(out(0L)._2 == want)
  }

  test("adaptiveSeedMod: smallest power of two with m² ≥ n") {
    assert(Clustering.adaptiveSeedMod(1) == 2)
    assert(Clustering.adaptiveSeedMod(4) == 2)
    assert(Clustering.adaptiveSeedMod(5) == 4)
    assert(Clustering.adaptiveSeedMod(500) == 32)   // sf0.01 → ~15 cells
    assert(Clustering.adaptiveSeedMod(2000) == 64)  // sf0.1 → ~31 cells
    assert(Clustering.adaptiveSeedMod(20000) == 256) // 10× → ~78 cells
  }

  test("kmeansAssign is deterministic across runs") {
    val a = rowSet(Clustering.kmeansAssign(corpus, seedMod = 4, iterations = 2))
    val b = rowSet(Clustering.kmeansAssign(corpus, seedMod = 4, iterations = 2))
    assert(a == b)
  }

  test("ties break to the lowest centroid id") {
    // both seeds are equidistant from id 1; no update rounds so the seeds
    // stay put — the winner must be cid 0, not cid 4
    val d = vecs(
      0L -> Seq(1.0, 0.0),
      4L -> Seq(0.0, 1.0),
      1L -> Seq(0.5, 0.5))
    val out = Clustering.kmeansAssign(d, seedMod = 4, iterations = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 0L)
  }

  test("labelCohesion: hand-computed centroid, truncated mean, exact integer distances") {
    // label 0: (1e6,0) and (5e5,0) → centroid (750000, 0), each d2 = 250000² ;
    // label 1: singleton → centroid = itself, d2 = 0
    val d = df("vec_id BIGINT, label INT, embedding ARRAY<DOUBLE>", Seq(
      Row(1L, 0, Seq(1.0, 0.0)), Row(2L, 0, Seq(0.5, 0.0)),
      Row(3L, 1, Seq(0.25, 0.5))))
    val out = Clustering.labelCohesion(d)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0) == ((2L, 62500000000L, 62500000000L)))
    assert(out(1) == ((1L, 0L, 0L)))
  }

  test("prototypicalityFilter: per-cell ppm quota, nearest-(dist,id) order kept") {
    // cells {0,1,2} and {4,5,6}; quota = (670000·3) div 1e6 = 2 of 3
    val out = Clustering.prototypicalityFilter(corpus, keepPpm = 670000, seedMod = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val byCell = out.groupBy(_._2)
    assert(byCell.keySet == Set(0L, 4L))
    byCell.values.foreach { members =>
      assert(members.count(_._4) == 2)
      val ordered = members.sortBy(m => (m._3, m._1)) // (dist, vec_id)
      assert(ordered.take(2).forall(_._4) && !ordered.last._4)
    }
  }

  test("prototypicalityFilter: keepPpm=0 floors at one per cell; 1e6 keeps all") {
    val all = Clustering.prototypicalityFilter(corpus, keepPpm = 1000000, seedMod = 4).collect()
    assert(all.forall(_.getBoolean(3)))
    val one = Clustering.prototypicalityFilter(corpus, keepPpm = 0, seedMod = 4)
      .collect().groupBy(_.getLong(1))
    assert(one.values.forall(_.count(_.getBoolean(3)) == 1))
  }

  test("curateSemantic = curate minus the not-kept vectors; no-embedding docs survive") {
    val spark0 = spark
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark0, sf)
    val emb = graft.Tables.embeddings(spark0, sf)
    val base = Curation.curate(docs, Seq("en" -> 800), 500, 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sem = Curation.curateSemantic(docs, emb, 0.3, Seq("en" -> 800), 500, 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val removed = Clustering.semanticDedup(emb, 0.3)
      .filter(!org.apache.spark.sql.functions.col("kept"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(sem == base -- removed)
    assert(removed.nonEmpty, "scenario should actually remove something")
    // docs with no embedding at all must be unaffected by the stage
    val vecIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert((base -- vecIds).subsetOf(sem))
  }

  test("pqTopK: exact duplicates share every code — equal adist, ranks 1-2") {
    // 64-dim corpus: ids 0/4 seed-able, id 7 duplicates id 0 exactly;
    // id 9 is far from everything. Query = id 0's vector under a fresh id.
    def v(fill: Double, bump: Int): Seq[Double] =
      Seq.tabulate(64)(i => if (i == bump) 1.0 else fill)
    val corpus = vecs(
      0L -> v(0.0, 0), 4L -> v(0.0, 32), 7L -> v(0.0, 0),
      9L -> Seq.fill(64)(-0.5), 12L -> v(0.0, 33))
    val queries = vecs(100L -> v(0.0, 0))
    val out = Clustering.pqTopK(queries, corpus, k = 3, subspaces = 4, iterations = 1)
      .orderBy("rank").collect()
    // ids 0 and 7 share every subspace code with the query's cells →
    // reconstructed distance equals the query→centroid distance, and both
    // precede everything else; tie breaks to the lower id
    assert(out(0).getLong(1) == 0L && out(1).getLong(1) == 7L)
    assert(out(0).getLong(2) == out(1).getLong(2), "equal codes ⇒ equal adist")
    assert(out.length == 3)
  }

  test("pqTopK is deterministic across runs") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") % 50 === 0)
    val a = rowSet(Clustering.pqTopK(q, emb, k = 3))
    val b = rowSet(Clustering.pqTopK(q, emb, k = 3))
    assert(a == b && a.nonEmpty)
  }

  test("semanticDedup removes the higher id of a near-identical pair only") {
    val d = vecs(
      0L -> Seq(1.0, 0.0, 0.0),
      1L -> Seq(1.0, 0.0, 0.0), // exact dup of 0 → removed
      2L -> Seq(-1.0, 0.5, 0.0), // negative cosine vs both → kept
      4L -> Seq(0.0, 1.0, 0.0),
      5L -> Seq(0.0, 1.0, 0.001)) // dup of 4 in the other cell → removed
    val out = Clustering.semanticDedup(d, threshold = 0.9, seedMod = 4, iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(0L -> true, 1L -> false, 2L -> true, 4L -> true, 5L -> false))
  }

  test("ivfPqTopK: probing every cell degenerates to PQ-flat (the q106 arm)") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") % 50 === 0)
    assertSameRows(
      Clustering.ivfPqTopK(q, emb, k = 5, nProbe = 1000000),
      Clustering.pqTopK(q, emb, k = 5))
  }

  test("ivfPqTopK: nProbe=1 confines candidates to the query's own cell") {
    import org.apache.spark.sql.functions.col
    // two orthogonal 64-dim groups; adaptive seeding (m=4 for n=6) puts
    // one seed in each (ids 0 and 4)
    def v(hot: Int, mag: Double) =
      Seq.tabulate(64)(i => if (i == hot) mag else 0.0)
    val d = vecs(
      0L -> v(0, 1.0), 1L -> v(0, 0.9), 2L -> v(0, 0.8),
      4L -> v(32, 1.0), 5L -> v(32, 0.9), 6L -> v(32, 0.8))
    val out = Clustering.ivfPqTopK(d.filter(col("vec_id") === 0), d,
      k = 5, nProbe = 1)
      .collect().map(_.getLong(1)).toSet
    assert(out.nonEmpty && out.subsetOf(Set(1L, 2L)))
  }

  test("pqTopK / ivfPqTopK: a vector that is not 64-dim fails naming both widths") {
    def onehot(width: Int, hot: Long) = Seq.tabulate(width)(j => if (j == hot) 1.0 else 0.0)
    def messages(run: => Unit): String =
      Iterator.iterate[Throwable](intercept[Exception](run))(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    // a 128-dim corpus used to be quantized on its first 64 dims, silently
    val wide = vecs((0L until 8L).map(i => i -> onehot(128, i * 16)): _*)
    val want = "expects 64-dim vectors, got 128-dim"
    val pq = messages(Clustering.pqTopK(wide, wide, k = 3).collect())
    assert(pq.contains(want), pq)
    val ivf = messages(Clustering.ivfPqTopK(wide, wide, k = 3).collect())
    assert(ivf.contains(want), ivf)
    // the query side is checked too: 32-dim queries against a 64-dim corpus
    val corpus = vecs((0L until 8L).map(i => i -> onehot(64, i * 8)): _*)
    val narrow = vecs(100L -> Seq.fill(32)(0.5))
    val q = messages(Clustering.pqTopK(narrow, corpus, k = 3).collect())
    assert(q.contains("expects 64-dim vectors, got 32-dim"), q)
  }

  test("pqCodebooks: the keyed training equals one kmeansTrain per slice and on the full vectors") {
    import org.apache.spark.sql.functions.{col, slice}
    // 24 vectors on a quarter grid: adaptive seeding (m = 8) seeds ids 0,
    // 8 and 16 in every key; id 1 is the exact midpoint of ids 0 and 8, so
    // it sits at equal distance from both seeds in every slice and in the
    // full vector (the tie goes to the lower cid)
    def v(i: Long) = Seq.tabulate(64)(j => ((i * 5 + j) % 4) * 0.25)
    val mid = v(0).zip(v(8)).map { case (a, b) => (a + b) / 2 }
    val corpus = vecs((0L until 24L).map(i => i -> (if (i == 1L) mid else v(i))): _*)
    def assignment(a: org.apache.spark.sql.DataFrame) =
      a.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    def keyed(a: org.apache.spark.sql.DataFrame, s: Int) =
      assignment(a.filter(col("s") === s).select("vec_id", "cluster", "dist"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq.sorted

    val single = (0 until 4).map(s => Clustering.kmeansTrain(corpus.select(col("vec_id"),
      slice(col("embedding"), s * 16 + 1, 16).as("embedding"))))
    val full = Clustering.kmeansTrain(corpus)
    val (stacked, codewords, cells) =
      Clustering.pqCodebooks(corpus, 4, 2, "vec_id", "embedding", coarse = true)

    val wantCodewords = single.zipWithIndex.flatMap { case ((_, cents), s) =>
      cents.map { case (cid, cv) => (s, cid, cv) }
    }
    assert(codewords.collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2))).toSeq ==
      wantCodewords)
    val wantCodes = single.zipWithIndex.flatMap { case ((a, _), s) =>
      assignment(a).map { case (id, cluster, _) => (s, id, cluster) }
    }.sorted
    assert(rows(Clustering.pqCodes(stacked.filter(col("s") < 4))
      .select("cs", "neighbor_id", "code")) == wantCodes)
    (0 until 4).foreach(s => assert(keyed(stacked, s) == assignment(single(s)._1), s"slice $s"))
    assert(cells.map(r => (r.getLong(0), r.getSeq[Long](1))) == full._2)
    assert(keyed(stacked, 4) == assignment(full._1))

    // without the coarse key (the pqTopK training) the codebooks are the same
    val (pqOnly, pqCodewords, noCells) =
      Clustering.pqCodebooks(corpus, 4, 2, "vec_id", "embedding", coarse = false)
    assert(noCells.isEmpty)
    assert(pqCodewords.collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2))).toSeq ==
      wantCodewords)
    (0 until 4).foreach(s => assert(keyed(pqOnly, s) == assignment(single(s)._1), s"slice $s"))
  }

  test("ivfPqTopK builds with a pinned number of jobs: one keyed training, not one per codebook") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") % 50 === 0)
    val jobs = new AtomicInteger
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })(Clustering.ivfPqTopK(q, emb, k = 5))
    // building the frame trains all five codebooks (the coarse quantizer
    // and 4 PQ subspaces) as one loop: one pin of the stacked corpus, one
    // count, one seed collect, one collect per Lloyd's iteration (2), and
    // one pin of the final assignment, plus the AQE stage jobs those
    // shuffles start: 19 measured. Training each codebook in its own
    // loop, as five driver loops, started 80.
    assert(jobs.get <= 19, s"${jobs.get} jobs to build ivfPqTopK")
  }

  test("kCenterGreedy: farthest-point order with exact integer radii") {
    // 1-D layout (padded to 2 dims): 0, 10, 5, 0.001(dim2), 20
    val d = vecs(
      1L -> Seq(0.0, 0.0),
      2L -> Seq(10.0, 0.0),
      3L -> Seq(5.0, 0.0),
      4L -> Seq(0.0, 1.0),
      5L -> Seq(20.0, 0.0))
    val out = Clustering.kCenterGreedy(d, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // seed = id 1 (min id, radius 0); round 1 = id 5 at (20e6)²;
    // round 2 = id 2 (min dist max: min(1e14 to seed, 1e14 to id5) = 1e14
    // beats id 3's 2.5e13 and id 4's 1e12)
    val e6 = 1000000L
    assert(out == Seq((0L, 1L, 0L), (1L, 5L, 400L * e6 * e6), (2L, 2L, 100L * e6 * e6)))
  }

  test("kCenterGreedy: equidistant tie goes to the smaller id; k > n stops early") {
    val d = vecs(
      1L -> Seq(0.0, 0.0),
      2L -> Seq(3.0, 0.0),
      3L -> Seq(-3.0, 0.0))
    // ids 2 and 3 both at 9e12 from the seed → id 2 wins round 1
    val out = Clustering.kCenterGreedy(d, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((0L, 1L), (1L, 2L)))
    // k exceeding the corpus returns one row per point, no repeats
    val all = Clustering.kCenterGreedy(d, k = 10)
      .collect().map(_.getLong(1)).toSeq
    assert(all.length == 3 && all.distinct.length == 3)
  }
}
