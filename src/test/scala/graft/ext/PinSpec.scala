package graft.ext

import java.nio.file.{Files, Paths}
import org.apache.spark.ReliableCheckpoint
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.SkewJoin

/** The one materialization switch: `localCheckpoint` by default (bench
  * parity), reliable `checkpoint()` when the SparkContext has a
  * checkpoint directory (executor-loss resilience for multi-hour jobs).
  * Both must produce identical rows AND the identical plan leaf shape —
  * the downstream plan must not know which posture pinned the state.
  */
class PinSpec extends SparkSpec {

  private def withReliable[A](body: => A): A = ReliableCheckpoint(spark.sparkContext)(body)

  /** The backing RDDs of the frames `Pin` cut into `d`'s plan. */
  private def pinnedLeaves(d: DataFrame): Seq[RDD[_]] =
    d.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  private def onDisk(file: String): Boolean = Files.exists(Paths.get(java.net.URI.create(file)))

  /** Runs `op` in both postures: the same rows, and every pinned leaf of
    * the reliable result is a checkpoint file, while no local one is. */
  private def agreesAcrossPostures(op: => DataFrame): Unit = {
    val local = op
    val localRows = rowSet(local)
    assert(localRows.nonEmpty)
    assert(pinnedLeaves(local).nonEmpty && pinnedLeaves(local).forall(_.getCheckpointFile.isEmpty))
    withReliable {
      val reliable = op
      assert(rowSet(reliable) == localRows)
      val files = pinnedLeaves(reliable).map(_.getCheckpointFile)
      assert(files.nonEmpty && files.forall(_.exists(onDisk)), files)
    }
  }

  test("pin: identical rows and LogicalRDD leaf under both postures") {
    val base = df("id BIGINT, v BIGINT",
      (1L to 50L).map(i => Row(i, i * 7 % 13)))
    val local = Pin.pin(base.filter(col("v") > 2))
    withReliable {
      val reliable = Pin.pin(base.filter(col("v") > 2))
      assert(rowSet(local) == rowSet(reliable))
      // same leaf shape: both postures cut lineage into a LogicalRDD scan,
      // so every downstream plan is identical across the switch
      assert(local.queryExecution.logical.isInstanceOf[LogicalRDD])
      assert(reliable.queryExecution.logical.isInstanceOf[LogicalRDD])
    }
  }

  test("pin: the context's checkpoint directory decides the posture, read per call") {
    val base = df("id BIGINT", (1L to 10L).map(Row(_)))
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(pinnedLeaves(Pin.pin(base)).forall(_.getCheckpointFile.isEmpty))
    withReliable {
      val files = pinnedLeaves(Pin.pin(base)).map(_.getCheckpointFile)
      assert(files.size == 1 && files.forall(_.exists(onDisk)))
    }
    // the directory is cleared again, so later suites pin locally
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(pinnedLeaves(Pin.pin(base)).forall(_.getCheckpointFile.isEmpty))
  }

  test("release: frees a local pin's blocks and leaves an unpinned frame alone") {
    val base = df("id BIGINT", (1L to 10L).map(Row(_)))
    val pinned = Pin.pin(base)
    val rdd = pinnedLeaves(pinned).head
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    Pin.release(pinned)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    Pin.release(base) // a LocalRelation leaf: nothing to free
  }

  test("pin: an iterative operator (connected components) agrees across the switch") {
    val edges = df("src BIGINT, dst BIGINT", Seq(
      Row(1L, 2L), Row(2L, 3L), Row(10L, 11L), Row(11L, 12L),
      Row(20L, 21L), Row(3L, 4L), Row(12L, 10L)))
    val nodes = df("doc_id BIGINT",
      (Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 99L)).map(Row(_)))
    val a = rowSet(Dedup.connectedComponents(edges, nodes))
    val b = withReliable(rowSet(Dedup.connectedComponents(edges, nodes)))
    assert(a == b && a.nonEmpty)
  }

  test("pin: suffix-indexing longest repeat agrees across the switch") {
    val ten = (1 to 10).map(i => s"L$i").mkString(" ")
    val docs = df("doc_id BIGINT, text STRING", Seq(
      Row(1L, s"a b $ten c"), Row(2L, s"x $ten y z")))
    val a = rowSet(SuffixDedup.longestRepeat(docs))
    val b = withReliable(rowSet(SuffixDedup.longestRepeat(docs)))
    assert(a == b)
    assert(a.head.startsWith("10|"))
  }

  test("pin: TimeSeries.theilSenTrend's pinned hour series agrees across the switch") {
    val t0 = java.time.Instant.parse("2024-06-01T00:00:00Z").getEpochSecond
    val events = df("event_id BIGINT, ts TIMESTAMP",
      Seq(1, 3, 2, 5, 4, 6).zipWithIndex.flatMap { case (n, h) =>
        (0 until n).map(i =>
          Row(h * 100L + i, new java.sql.Timestamp((t0 + h * 3600L + 60 * i) * 1000L)))
      })
    agreesAcrossPostures(TimeSeries.theilSenTrend(events, "ts"))
  }

  test("pin: Layout.skippingAudit's pinned keys and envelopes agree across the switch") {
    val grid = df("id BIGINT, a BIGINT, b BIGINT",
      (0 until 256).map(i => Row(i.toLong, (i / 16).toLong, (i % 16).toLong)))
    agreesAcrossPostures(Layout.skippingAudit(grid, "a", "b", "id", nFiles = 16, bits = 4,
      probeModA = 5, probeModB = 7))
  }

  test("pin: RankStats.ksStatistic's pinned running sums agree across the switch") {
    val d = df("g STRING, v BIGINT",
      (0 until 60).map(i => Row(if (i % 3 == 0) "g0" else "g1", (i * 7 % 23).toLong)))
    agreesAcrossPostures(RankStats.ksStatistic(d, col("g"), "g0", col("v")))
  }

  test("pin: SkewJoin.plannedSaltedJoin's pinned salt plan agrees across the switch") {
    val fact = df("k BIGINT, v BIGINT",
      (1 to 300).map(i => Row(if (i <= 240) 1L else i % 20 + 2L, i.toLong)))
    val dim = df("dk BIGINT, name STRING", (1L to 15L).map(k => Row(k, s"name$k")))
    agreesAcrossPostures(SkewJoin.plannedSaltedJoin(fact, "k", dim, "dk",
      SkewJoin.saltPlan(fact, "k", targetRowsPerTask = 50L)))
  }
}
