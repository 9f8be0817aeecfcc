package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ext.Similarity

class VectorExpressionsSpec extends SparkSpec {

  private def pairs(rows: (Seq[Double], Seq[Double])*): org.apache.spark.sql.DataFrame =
    df("a ARRAY<DOUBLE>, b ARRAY<DOUBLE>", rows.map { case (x, y) => Row(x, y) })

  test("DotProduct matches the higher-order formulation bit-for-bit") {
    val d = pairs(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, -0.2), Seq(0.3, 0.7)),
      (Seq(0.0, 0.0), Seq(0.0, 0.0)))
    val out = d.select(
      VectorFunctions.dotProduct(col("a"), col("b")).as("fast"),
      Similarity.dotHof(col("a"), col("b")).as("hof")).collect()
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    assert(out(0).getDouble(0) == 32.0)
  }

  test("CosineSimilarity: fused pass equals three-pass HOF; zero-norm → 0.0") {
    val d = pairs(
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(3.0, 4.0), Seq(3.0, 4.0)),   // norms exact → cosine exactly 1.0
      (Seq(1.0, 2.0), Seq(2.0, 4.0)),   // parallel but inexact norms
      (Seq(0.0, 0.0), Seq(1.0, 1.0)))
    val out = d.select(
      VectorFunctions.cosineSim(col("a"), col("b")).as("fast"),
      Similarity.cosineHof(col("a"), col("b")).as("hof")).collect()
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // bit-identical
    assert(out(0).getDouble(0) == 0.0)
    assert(out(1).getDouble(0) == 1.0)
    assert(out(3).getDouble(0) == 0.0)
  }

  test("float arrays work and nulls propagate") {
    val d = df("a ARRAY<FLOAT>, b ARRAY<FLOAT>", Seq(
      Row(Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)), Row(null, Seq(1.0f))))
    val out = d.select(VectorFunctions.dotProduct(col("a"), col("b"))).collect()
    assert(out(0).getDouble(0) == 11.0)
    assert(out(1).isNullAt(0))
  }

  test("expression participates in whole-stage codegen (no fallback)") {
    // build from a Range source — a LocalTableScan would be computed
    // driver-side without any codegen stage at all
    val d = spark.range(4).select(
      array(col("id").cast("double"), lit(1.0)).as("a"),
      array(lit(2.0), col("id").cast("double")).as("b"))
    val plan = d.select(VectorFunctions.cosineSim(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators inside a WholeStageCodegen span
    assert(plan.contains("*(1) Project"), s"no codegen span in:\n$plan")
  }

  test("LongL2Squared: exact values, matches the HOF form, nulls propagate") {
    val d = df("a ARRAY<BIGINT>, b ARRAY<BIGINT>", Seq(
      Row(Seq(3L, -4L, 0L), Seq(0L, 0L, 0L)),             // 9 + 16 = 25
      Row(Seq(1000000L, -1000000L), Seq(-1000000L, 1000000L)), // 2·(2e6)² = 8e12
      Row(Seq(1L, 2L), Seq(1L, 2L)),                      // identical → 0
      Row(null, Seq(1L)),                                 // null array → null
      Row(Seq(1L), Seq(1L, 2L))))                         // length mismatch → null
    val out = d.select(
      VectorFunctions.l2Squared(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v).as("hof")).collect()
    assert(out(0).getLong(0) == 25L && out(0).getLong(0) == out(0).getLong(1))
    assert(out(1).getLong(0) == 8000000000000L && out(1).getLong(0) == out(1).getLong(1))
    assert(out(2).getLong(0) == 0L)
    assert(out(3).isNullAt(0))
    assert(out(4).isNullAt(0) && out(4).isNullAt(1))
  }

  test("LongL2Squared participates in whole-stage codegen") {
    val d = spark.range(4).select(
      array(col("id"), lit(1L)).as("a"),
      array(lit(2L), col("id")).as("b"))
    val plan = d.select(VectorFunctions.l2Squared(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"no codegen span in:\n$plan")
  }

  // one case per binary kernel: an array of the wrong element type fails
  // analysis with a message that names the kernel and the element types
  // it accepts (the type check every kernel takes from its shared base)
  Seq(
    ("graft_dot", "dotproduct", "array<float|double>", "ARRAY<BIGINT>"),
    ("graft_cosine", "cosinesimilarity", "array<float|double>", "ARRAY<BIGINT>"),
    ("graft_l2sq", "longl2squared", "array<bigint>", "ARRAY<DOUBLE>"),
    ("graft_sorted_inter", "sortedintercount", "array<bigint>", "ARRAY<DOUBLE>")
  ).foreach { case (fn, kernel, accepted, wrong) =>
    test(s"$fn rejects $wrong, naming $kernel and $accepted") {
      val d = df(s"a $wrong, b $wrong", Seq.empty)
      val e = intercept[org.apache.spark.sql.AnalysisException](
        d.select(call_function(fn, col("a"), col("b"))).schema)
      assert(e.getMessage.contains(s"$kernel requires $accepted inputs"), e.getMessage)
    }
  }

  test("SortedInterCount: merge scan equals array_intersect size on sorted distinct arrays; codegen'd") {
    import spark.implicits._
    // deterministic pseudo-random distinct sorted sets
    val d = (0L until 200L).map { i =>
      val a = (0L until 40L).filter(x => (x * 31 + i * 7) % 5 != 0).toArray
      val b = (0L until 40L).filter(x => (x * 17 + i * 3) % 3 != 0).toArray
      (a, b)
    }.toDF("a", "b")
    val out = d.select(
      VectorFunctions.sortedInterCount(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref")).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // disjoint and identical edges
    val edge = Seq((Array(1L, 3L, 5L), Array(2L, 4L, 6L)),
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L)),
      (Array.empty[Long], Array(1L, 2L))).toDF("a", "b")
    val e = edge.select(VectorFunctions.sortedInterCount(col("a"), col("b"))).as[Long].collect()
    assert(e.toSeq == Seq(0L, 3L, 0L))
    // execute first: AQE only shows whole-stage-codegen spans once final
    val ds = d.repartition(2)
      .select(VectorFunctions.sortedInterCount(col("a"), col("b")))
    ds.collect()
    val plan = ds.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen span in:\n$plan")
  }
}
