package graft.ext

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class RankStatsSpec extends SparkSpec {

  test("spearman: perfect monotone agreement and reversal read ±1e6 exactly") {
    val up = df("k BIGINT, x BIGINT, y BIGINT",
      Seq(Row(1L, 10L, 1L), Row(2L, 20L, 2L), Row(3L, 30L, 3L), Row(4L, 40L, 4L)))
    assert(RankStats.spearman(up, "k", col("x"), col("y")).head().getLong(2) == 1000000L)
    val down = df("k BIGINT, x BIGINT, y BIGINT",
      Seq(Row(1L, 10L, 4L), Row(2L, 20L, 3L), Row(3L, 30L, 2L), Row(4L, 40L, 1L)))
    assert(RankStats.spearman(down, "k", col("x"), col("y")).head().getLong(2) == -1000000L)
  }

  test("spearman: hand value with one swapped pair; n<2 guards to NULL") {
    // y ranks (1,2,4,3) vs x ranks (1,2,3,4): Σd² = 2 →
    // ρ = 1 − 12/(4·15) = 0.8 → 800000 ppm
    val d1 = df("k BIGINT, x BIGINT, y BIGINT",
      Seq(Row(1L, 1L, 1L), Row(2L, 2L, 2L), Row(3L, 3L, 9L), Row(4L, 4L, 8L)))
    val r = RankStats.spearman(d1, "k", col("x"), col("y")).head()
    assert(r.getLong(1) == 2L && r.getLong(2) == 800000L)
    val single = df("k BIGINT, x BIGINT, y BIGINT", Seq(Row(1L, 1L, 1L)))
    assert(RankStats.spearman(single, "k", col("x"), col("y")).head().isNullAt(2))
  }

  test("spearman: ties broken by key (rank-of-record) — deterministic under repartition") {
    val d1 = df("k BIGINT, x BIGINT, y BIGINT",
      (1L to 50L).map(i => Row(i, i % 7, (i * 13) % 5)))
    val a = RankStats.spearman(d1.repartition(1), "k", col("x"), col("y")).head()
    val b = RankStats.spearman(d1.repartition(11), "k", col("x"), col("y")).head()
    assert(a.getLong(2) == b.getLong(2))
  }

  test("rankSumAuc: hand-counted pairs with ties; separated groups read 0 and 1e6") {
    // A = {3, 5}, B = {3, 4}: pairs (a,b): (3,3)=tie, (3,4)=lt, (5,3)=gt, (5,4)=gt
    // U2 = 2·2 + 1 = 5; auc = 5/8 → 625000 ppm
    val d1 = df("grp STRING, v BIGINT",
      Seq(Row("A", 3L), Row("A", 5L), Row("B", 3L), Row("B", 4L)))
    val r = RankStats.rankSumAuc(d1, col("grp"), "A", col("v")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 2L, 5L, 625000L)))
    val sep = df("grp STRING, v BIGINT",
      Seq(Row("A", 10L), Row("A", 11L), Row("B", 1L), Row("B", 2L)))
    assert(RankStats.rankSumAuc(sep, col("grp"), "A", col("v")).head().getLong(3) == 1000000L)
    assert(RankStats.rankSumAuc(sep, col("grp"), "B", col("v")).head().getLong(3) == 0L)
  }

  test("rankSumAuc: one empty group -> NULL effect, not a crash") {
    val d1 = df("grp STRING, v BIGINT", Seq(Row("A", 1L), Row("A", 2L)))
    val r = RankStats.rankSumAuc(d1, col("grp"), "A", col("v")).head()
    assert(r.getLong(1) == 0L && r.isNullAt(3))
  }

  test("cohenKappa: the textbook 2x2 hand value") {
    // Cohen's worked shape: a=20 (yes,yes), b=5 (yes,no), c=10 (no,yes),
    // d=15 (no,no); n=50, A=35, po=0.70
    // P = ryes*cyes + rno*cno = 25*30 + 25*20 = 1250; pe = 1250/2500 = 0.50
    // kappa = (35*50 - 1250)/(2500 - 1250) = 500/1250 = 0.40 → 400000 ppm
    val rows = Seq.fill(20)(Row("y", "y")) ++ Seq.fill(5)(Row("y", "n")) ++
      Seq.fill(10)(Row("n", "y")) ++ Seq.fill(15)(Row("n", "n"))
    val r = RankStats.cohenKappa(df("a STRING, b STRING", rows), "a", "b").head()
    assert((r.getLong(0), r.getLong(1)) == ((50L, 35L)))
    assert(r.getLong(2) == 700000L) // po_ppm
    assert(r.getLong(3) == 500000L) // pe_ppm
    assert(r.getLong(4) == 400000L) // kappa_ppm
  }

  test("cohenKappa: perfect agreement reads 1e6; constant raters read NULL; worse-than-chance is negative") {
    val perfect = df("a STRING, b STRING", Seq(Row("x", "x"), Row("y", "y")))
    assert(RankStats.cohenKappa(perfect, "a", "b").head().getLong(4) == 1000000L)
    val constant = df("a STRING, b STRING", Seq(Row("x", "x"), Row("x", "x")))
    assert(RankStats.cohenKappa(constant, "a", "b").head().isNullAt(4))
    // systematic disagreement: every y→n, n→y. A=0, P = 1*1 + 1*1 = 2
    // (n=2): kappa = (0 - 2)/(4 - 2) = -1 → -1000000 (Spark div is
    // toward-zero; exact here)
    val inverted = df("a STRING, b STRING", Seq(Row("y", "n"), Row("n", "y")))
    assert(RankStats.cohenKappa(inverted, "a", "b").head().getLong(4) == -1000000L)
  }

  test("mcnemar: hand value and the no-discordance guard") {
    // truth all "t": A right on r1,r2,r3 wrong on r4; B right on r1 only
    // → b (A-only) = 2, c (B-only) = 0, chi2 = (2-0)²/2 = 2 → 2000000 ppm
    val rows = Seq(
      Row("t", "t", "t"), // both right
      Row("t", "x", "t"), // A only
      Row("t", "x", "t"), // A only
      Row("x", "x", "t")) // both wrong
    val r = RankStats.mcnemar(df("a STRING, b STRING, tr STRING", rows),
      "a", "b", "tr").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 2L, 0L, 2000000L)))
    val agree = df("a STRING, b STRING, tr STRING",
      Seq(Row("t", "t", "t"), Row("x", "x", "t")))
    assert(RankStats.mcnemar(agree, "a", "b", "tr").head().isNullAt(3))
  }

  test("kruskalWallis: untied hand value — A={1,2,3} vs B={4,5,6}") {
    // doubled ranks 2..12: R2_A = 12, R2_B = 30;
    // A = ⌊144e6/12⌋ + ⌊900e6/12⌋ = 87e6;
    // H·1e6 = ⌊12·87e6/42⌋ − 21e6 = 24,857,142 − 21,000,000 = 3,857,142;
    // no ties → correction is identity
    val rows = Seq(Row("A", 1L), Row("A", 2L), Row("A", 3L),
      Row("B", 4L), Row("B", 5L), Row("B", 6L))
    val r = RankStats.kruskalWallis(df("g STRING, v BIGINT", rows),
      col("g"), col("v")).head()
    assert((r.getLong(0), r.getLong(1)) == ((6L, 2L)))
    assert(r.getLong(2) == 3857142L)
    assert(r.getLong(3) == 3857142L)
  }

  test("kruskalWallis: tie correction hand value; all-tied column reads NULL") {
    // A={1,1}, B={2,2}: doubled midranks 3 and 7 → R2_A=6, R2_B=14;
    // A = ⌊36e6/8⌋ + ⌊196e6/8⌋ = 29e6; H = ⌊348e6/20⌋ − 15e6 = 2.4;
    // tie = 2·1·3 + 2·1·3 = 12, n³−n = 60 → H_c = 2.4·60/48 = 3.0
    val tied = df("g STRING, v BIGINT",
      Seq(Row("A", 1L), Row("A", 1L), Row("B", 2L), Row("B", 2L)))
    val r = RankStats.kruskalWallis(tied, col("g"), col("v")).head()
    assert(r.getLong(2) == 2400000L)
    assert(r.getLong(3) == 3000000L)
    val allSame = df("g STRING, v BIGINT",
      Seq(Row("A", 7L), Row("A", 7L), Row("B", 7L)))
    assert(RankStats.kruskalWallis(allSame, col("g"), col("v")).head()
      .isNullAt(3))
  }

  test("kruskalWallis: 6M-row quotient past Long.Max stays DECIMAL-exact (r9 ADVICE)") {
    // n = 6e6 distinct values, two alternating groups: R2_g ≈ 1.8e13, so
    // the per-group quotient R2_g²/(4n_g) ≈ 2.7e19 EXCEEDS Long.Max —
    // the pre-fix BIGINT `div` wrapped here. Mirror the documented
    // formula in BigInt and require bit-identical h_ppm/h_tie_ppm.
    val n = 6000000L
    val d1 = spark.range(n).selectExpr("id % 2 AS g", "id AS v")
    val r = RankStats.kruskalWallis(d1, col("g"), col("v")).head()
    // exact mirror: r2(id) = 2·id + 2 (all values distinct, m = 1)
    val (bn, b1e6) = (BigInt(n), BigInt(1000000))
    def r2sum(parity: Long): BigInt = {
      // Σ_{k=0}^{n/2-1} (2·(2k+parity) + 2) = 4·Σk + (2·parity+2)·n/2
      val half = bn / 2
      BigInt(4) * (half * (half - 1) / 2) + BigInt(2 * parity + 2) * half
    }
    val a = Seq(0L, 1L).map { p =>
      val rr2 = r2sum(p); val d4 = BigInt(4) * (bn / 2)
      (rr2 * rr2 / d4) * b1e6 + (rr2 * rr2 % d4) * b1e6 / d4
    }.sum
    val h = BigInt(12) * a / (bn * (bn + 1)) - BigInt(3) * (bn + 1) * b1e6
    assert(a / b1e6 > BigInt(Long.MaxValue), "construction must exceed Long.Max")
    assert(BigInt(r.getLong(2)) == h)
    assert(BigInt(r.getLong(3)) == h) // no ties → correction is identity
  }

  test("kruskalWallis: layout-invariant under repartition") {
    val rows = (1L to 90L).map(i => Row(s"g${i % 3}", (i * 37) % 11))
    val d1 = df("g STRING, v BIGINT", rows)
    val a = RankStats.kruskalWallis(d1.repartition(1), col("g"), col("v")).head()
    val b = RankStats.kruskalWallis(d1.repartition(13), col("g"), col("v")).head()
    assert(a == b)
  }

  test("friedman: perfect consistency reads n(k-1); hand tie value; all-tied reads NULL") {
    // 2 blocks × 3 treatments, A<B<C in both blocks → Fr = n(k−1) = 4
    val perfect = df("b STRING, j STRING, v BIGINT", Seq(
      Row("b1", "A", 1L), Row("b1", "B", 2L), Row("b1", "C", 3L),
      Row("b2", "A", 4L), Row("b2", "B", 5L), Row("b2", "C", 6L)))
    val p = RankStats.friedman(perfect, col("b"), col("j"), col("v")).head()
    assert((p.getLong(0), p.getLong(1)) == ((2L, 3L)))
    assert(p.getLong(2) == 4000000L && p.getLong(3) == 4000000L)
    // block2 fully tied: R2 = (6,8,10), A = 200 → Fr = 1.0; T = 24,
    // D = 48 → Fr_tie = 1e6·48 div 24 ... = 2.0
    val tied = df("b STRING, j STRING, v BIGINT", Seq(
      Row("b1", "A", 1L), Row("b1", "B", 2L), Row("b1", "C", 3L),
      Row("b2", "A", 5L), Row("b2", "B", 5L), Row("b2", "C", 5L)))
    val t = RankStats.friedman(tied, col("b"), col("j"), col("v")).head()
    assert(t.getLong(2) == 1000000L && t.getLong(3) == 2000000L)
    val allTied = df("b STRING, j STRING, v BIGINT", Seq(
      Row("b1", "A", 7L), Row("b1", "B", 7L), Row("b1", "C", 7L),
      Row("b2", "A", 9L), Row("b2", "B", 9L), Row("b2", "C", 9L)))
    val a = RankStats.friedman(allTied, col("b"), col("j"), col("v")).head()
    assert(a.getLong(2) == 0L && a.isNullAt(3))
  }

  test("friedman: missing cells grid-fill with fillValue; repeated rows sum first") {
    // block b2 has no C row → filled 0, ranking (0, 5, 6) → C lowest...
    // wait: filled C = 0 ranks FIRST in b2. Mirror by hand:
    // b1 ranks: A=1,B=2,C=3 (r2 = 2,4,6); b2: C=0→r2=2, A=5→4, B=6→6
    // R2: A=6, B=10, C=8 → A=36+100+64=200 → Fr = 1.0, no ties
    val sparse = df("b STRING, j STRING, v BIGINT", Seq(
      Row("b1", "A", 1L), Row("b1", "B", 2L), Row("b1", "C", 3L),
      Row("b2", "A", 5L), Row("b2", "B", 6L)))
    val s = RankStats.friedman(sparse, col("b"), col("j"), col("v")).head()
    assert(s.getLong(2) == 1000000L && s.getLong(3) == 1000000L)
    // two rows for the same cell SUM before ranking (count-panel input)
    val dup = df("b STRING, j STRING, v BIGINT", Seq(
      Row("b1", "A", 1L), Row("b1", "A", 2L), Row("b1", "B", 4L),
      Row("b2", "A", 1L), Row("b2", "B", 2L)))
    // b1: A=3 < B=4; b2: A=1 < B=2 → perfect consistency, Fr = n(k−1) = 2
    val d2 = RankStats.friedman(dup, col("b"), col("j"), col("v")).head()
    assert(d2.getLong(2) == 2000000L)
  }

  test("brownForsythe: hand value; degenerate spread and single group read NULL") {
    // A = {0, 10} (med 0, d = {0,10}), B = {5,5,5} (med 5, d = {0,0,0})
    // SSB = 30, SSW = 50, F = (30/1)/(50/3) = 1.8 → 1800000 ppm
    val rows = Seq(Row("A", 0L), Row("A", 10L),
      Row("B", 5L), Row("B", 5L), Row("B", 5L))
    val r = RankStats.brownForsythe(df("g STRING, v BIGINT", rows),
      col("g"), col("v")).head()
    assert((r.getLong(0), r.getLong(1)) == ((2L, 5L)))
    assert(r.getLong(2) == 1800000L)
    // every group constant → SSW = 0 → NULL
    val flat = df("g STRING, v BIGINT",
      Seq(Row("A", 5L), Row("A", 5L), Row("B", 7L), Row("B", 7L)))
    assert(RankStats.brownForsythe(flat, col("g"), col("v")).head().isNullAt(2))
    // single group → NULL
    val one = df("g STRING, v BIGINT", Seq(Row("A", 1L), Row("A", 9L)))
    assert(RankStats.brownForsythe(one, col("g"), col("v")).head().isNullAt(2))
  }

  test("brownForsythe: floor-artifact panel clamps SSB at 0 (never negative)") {
    // 3 groups, each with deviations {0,0,1} from its lower median:
    // a = 3·⌊10⁶/3⌋ = 999999 but ⌊stot²·10⁶/n⌋ = ⌊9·10⁶/9⌋ = 1000000 —
    // the raw SSB·10⁶ numerator is −1 (pure floor artifact; true SSB = 0).
    // Unclamped, Spark div reads −1 and DuckDB // reads −2; the clamp
    // makes both read the mathematically-correct 0.
    val rows = Seq(
      Row("A", 5L), Row("A", 5L), Row("A", 6L),
      Row("B", 7L), Row("B", 7L), Row("B", 8L),
      Row("C", 9L), Row("C", 9L), Row("C", 10L))
    val r = RankStats.brownForsythe(df("g STRING, v BIGINT", rows),
      col("g"), col("v")).head()
    assert((r.getLong(0), r.getLong(1)) == ((3L, 9L)))
    assert(!r.isNullAt(2) && r.getLong(2) == 0L)
  }

  test("brownForsythe: layout-invariant under repartition") {
    val rows = (1L to 200L).map(i => Row(s"g${i % 4}", (i * 37) % 23))
    val d1 = df("g STRING, v BIGINT", rows)
    val a = RankStats.brownForsythe(d1.repartition(1), col("g"), col("v")).head()
    val b = RankStats.brownForsythe(d1.repartition(13), col("g"), col("v")).head()
    assert(a == b && !a.isNullAt(2))
  }

  test("cochranQ: hand panel; degenerate all-success reads NULL") {
    // C = (4,2,1), N = 7, ΣR² = 15, k = 3 →
    // Q = 2·(3·21 − 49)/(3·7 − 15) = 28/6 → 4666666 ppm
    val rows = Seq(
      Row("u1", "A", true), Row("u1", "B", true), Row("u1", "C", false),
      Row("u2", "A", true), Row("u2", "B", false), Row("u2", "C", false),
      Row("u3", "A", true), Row("u3", "B", true), Row("u3", "C", true),
      Row("u4", "A", true), Row("u4", "B", false), Row("u4", "C", false))
    val r = RankStats.cochranQ(df("b STRING, j STRING, s BOOLEAN", rows),
      col("b"), col("j"), col("s")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 3L, 7L)))
    assert(r.getLong(3) == 4666666L)
    // every block all-success → denominator 0 → NULL
    val allOn = df("b STRING, j STRING, s BOOLEAN", Seq(
      Row("u1", "A", true), Row("u1", "B", true),
      Row("u2", "A", true), Row("u2", "B", true)))
    assert(RankStats.cochranQ(allOn, col("b"), col("j"), col("s"))
      .head().isNullAt(3))
    // multiple rows per cell OR together (any success counts)
    val ored = df("b STRING, j STRING, s BOOLEAN", Seq(
      Row("u1", "A", false), Row("u1", "A", true), Row("u1", "B", false),
      Row("u2", "A", false), Row("u2", "B", false)))
    val o = RankStats.cochranQ(ored, col("b"), col("j"), col("s")).head()
    assert(o.getLong(2) == 1L) // exactly one success after the OR
  }

  test("twoByTwo: textbook OR/RR/risk-diff; zero cells NULL the right ratios") {
    // exposed: 10 hits / 10 misses; unexposed: 5 hits / 15 misses
    // OR = 10·15/(10·5) = 3.0; RR = (10/20)/(5/20) = 2.0; RD = 0.25
    val rows = Seq.fill(10)(Row(true, true)) ++ Seq.fill(10)(Row(true, false)) ++
      Seq.fill(5)(Row(false, true)) ++ Seq.fill(15)(Row(false, false))
    val r = RankStats.twoByTwo(df("ex BOOLEAN, oc BOOLEAN", rows),
      col("ex"), col("oc")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((20L, 20L, 10L, 5L)))
    assert(r.getLong(4) == 3000000L)
    assert(r.getLong(5) == 2000000L)
    assert(r.getLong(6) == 250000L)
    // b = 0 (every exposed hit): OR degenerates, RR and RD survive
    val noMiss = df("ex BOOLEAN, oc BOOLEAN",
      Seq.fill(4)(Row(true, true)) ++ Seq.fill(2)(Row(false, true)) ++
        Seq.fill(2)(Row(false, false)))
    val nm = RankStats.twoByTwo(noMiss, col("ex"), col("oc")).head()
    assert(nm.isNullAt(4))
    assert(nm.getLong(5) == 2000000L) // (4/4)/(2/4)
    assert(nm.getLong(6) == 500000L)
  }

  test("fleissKappa: hand values — disagreement below chance, perfect split, degenerate") {
    // S1 = (x,x,x), S2 = (x,x,y): T=6, A=9+5=14, cats x=5,y=1 → C=26;
    // P̄ = 8/12 = 666,666; P̄e = 26/36 = 722,222;
    // κ = (8·6 − 26·2)/(2·(36−26)) = −4/20 = −200,000
    val d1 = df("s BIGINT, r1 STRING, r2 STRING, r3 STRING",
      Seq(Row(1L, "x", "x", "x"), Row(2L, "x", "x", "y")))
    val r = RankStats.fleissKappa(d1, "s", Seq("r1", "r2", "r3")).head()
    assert((r.getLong(0), r.getLong(1)) == ((2L, 3L)))
    assert(r.getLong(2) == 666666L)
    assert(r.getLong(3) == 722222L)
    assert(r.getLong(4) == -200000L)
    // perfect agreement over DISTINCT categories reads exactly 1e6
    val perfect = df("s BIGINT, r1 STRING, r2 STRING, r3 STRING",
      Seq(Row(1L, "x", "x", "x"), Row(2L, "y", "y", "y")))
    assert(RankStats.fleissKappa(perfect, "s", Seq("r1", "r2", "r3"))
      .head().getLong(4) == 1000000L)
    // every rater one category: T² = C → NULL
    val flat = df("s BIGINT, r1 STRING, r2 STRING, r3 STRING",
      Seq(Row(1L, "x", "x", "x"), Row(2L, "x", "x", "x")))
    assert(RankStats.fleissKappa(flat, "s", Seq("r1", "r2", "r3"))
      .head().isNullAt(4))
  }

  test("kendallTauB: perfect agreement/reversal read ±1e6; hand census") {
    val up = df("g BIGINT, i BIGINT, x BIGINT, y BIGINT",
      (1L to 3L).map(i => Row(1L, i, i, i)))
    assert(RankStats.kendallTauB(up, "g", "i", col("x"), col("y"))
      .head().getLong(4) == 1000000L)
    val down = df("g BIGINT, i BIGINT, x BIGINT, y BIGINT",
      (1L to 3L).map(i => Row(1L, i, i, 4L - i)))
    assert(RankStats.kendallTauB(down, "g", "i", col("x"), col("y"))
      .head().getLong(4) == -1000000L)
    // x=(1,2,3,4), y=(1,3,2,4): C=5, D=1 → sign·(C−D)²·1e6/36 = 444,444
    val mixed = df("g BIGINT, i BIGINT, x BIGINT, y BIGINT",
      Seq(Row(1L, 1L, 1L, 1L), Row(1L, 2L, 2L, 3L),
        Row(1L, 3L, 3L, 2L), Row(1L, 4L, 4L, 4L)))
    val r = RankStats.kendallTauB(mixed, "g", "i", col("x"), col("y")).head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((6L, 5L, 1L)))
    assert(r.getLong(4) == 444444L)
  }

  test("kendallTauB: tie-adjusted denominator; all-tied side reads NULL") {
    // x=(1,2,3,4), y=(1,1,2,2): C=4, D=0, ty=2 →
    // 16e6 / ((6−0)(6−2)) = 666,666
    val ties = df("g BIGINT, i BIGINT, x BIGINT, y BIGINT",
      Seq(Row(1L, 1L, 1L, 1L), Row(1L, 2L, 2L, 1L),
        Row(1L, 3L, 3L, 2L), Row(1L, 4L, 4L, 2L)))
    assert(RankStats.kendallTauB(ties, "g", "i", col("x"), col("y"))
      .head().getLong(4) == 666666L)
    val flat = df("g BIGINT, i BIGINT, x BIGINT, y BIGINT",
      Seq(Row(1L, 1L, 1L, 5L), Row(1L, 2L, 2L, 5L), Row(1L, 3L, 3L, 5L)))
    assert(RankStats.kendallTauB(flat, "g", "i", col("x"), col("y"))
      .head().isNullAt(4))
  }

  test("midrank two-arm: distributed prefix sum is bit-identical to the single-partition window") {
    // 60 facts over 3 groups with repeated values — exercises ties,
    // multi-column cums (KS) and the Kruskal rank arithmetic through
    // BOTH cumSums arms; the distributed arm must not depend on where
    // the range cuts fall
    val rows = (1 to 60).map(i =>
      Row(s"g${i % 3}", ((i * 7919) % 13).toLong))
    val d = df("g STRING, v BIGINT", rows)
    def all() = Seq(
      rowSet(RankStats.kruskalWallis(d, col("g"), col("v"))),
      rowSet(RankStats.ksStatistic(d, col("g"), "g0", col("v"))),
      rowSet(RankStats.rankSumAuc(d, col("g"), "g0", col("v"))))
    val single = all()
    spark.conf.set("spark.graft.midrankPartitions", "4")
    try assert(all() == single)
    finally spark.conf.unset("spark.graft.midrankPartitions")
  }

  test("spark.graft.midrankPartitions: a malformed or negative value fails naming the key") {
    val key = "spark.graft.midrankPartitions"
    val d = df("g STRING, v BIGINT", Seq(Row("a", 1L), Row("b", 2L)))
    Seq("12x", "-1").foreach { bad =>
      spark.conf.set(key, bad)
      try {
        val e = intercept[IllegalArgumentException](
          RankStats.kruskalWallis(d, col("g"), col("v")))
        assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"), e.getMessage)
      } finally spark.conf.unset(key)
    }
  }
}
