package graft.load

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class TableMaintenanceSpec extends SparkSpec {

  private def tmp() = java.nio.file.Files.createTempDirectory("sink").toString + "/t"

  test("upsertPartitions: only the partitions present in the delta are rewritten") {
    val path = tmp()
    val day1 = df("day STRING, sku STRING, qty DOUBLE", Seq(
      Row("2024-01-01", "a", 1.0), Row("2024-01-01", "b", 2.0),
      Row("2024-01-02", "a", 3.0)))
    Sinks.parquet(day1, path, Seq("day"))
    // backfill day 2 only — corrected values
    Sinks.upsertPartitions(
      df("day STRING, sku STRING, qty DOUBLE", Seq(
        Row("2024-01-02", "a", 30.0), Row("2024-01-02", "c", 40.0))),
      path, Seq("day"))
    val out = spark.read.parquet(path)
    // day 1 untouched, day 2 fully replaced (old day-2 row gone)
    assert(rowSet(out.select("day", "sku", "qty")) == rows(
      Seq("2024-01-01", "a", "1.0"),
      Seq("2024-01-01", "b", "2.0"),
      Seq("2024-01-02", "a", "30.0"),
      Seq("2024-01-02", "c", "40.0")))
    // reading one day must still prune: the partition filter reaches the scan
    val plan = out.filter(col("day") === "2024-01-02")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan.take(400))
  }

  test("compact: small-file spray collapses to the target file count, data intact") {
    val path = tmp()
    val data = spark.range(1000).select(
      col("id"), (col("id") % 7).cast("string").as("k"))
    // spray: 50 files of 20 rows
    data.repartition(50).write.parquet(path)
    val before = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before >= 40, s"expected a small-file spray, got $before files")
    Sinks.compact(spark, path, targetRowsPerFile = 500)
    val after = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after <= 4, s"expected ≤4 compacted files, got $after")
    val out = spark.read.parquet(path)
    assert(out.count() == 1000)
    assert(out.agg(sum("id")).head().getLong(0) == 499500L)
    // no temp dir left behind
    assert(!new java.io.File(path + ".__compact_tmp__").exists())
  }

  test("compact: residue of a crashed swap is cleared, data intact") {
    val path = tmp()
    spark.range(100).repartition(10).write.parquet(path)
    // a previous compaction died after moving its original aside
    val residue = new java.io.File(path + ".__compact_old__")
    spark.range(5).write.parquet(residue.getPath)
    Sinks.compact(spark, path, targetRowsPerFile = 1000)
    assert(!residue.exists(), "the crashed swap's residue survived")
    val out = spark.read.parquet(path)
    assert(out.count() == 100)
    assert(out.agg(sum("id")).head().getLong(0) == 4950L)
  }

  test("compact with partition columns: partition dirs survive, each compacts independently") {
    val path = tmp()
    val data = spark.range(400).select(
      col("id"), (col("id") % 2).cast("string").as("side"))
    data.repartition(20).write.partitionBy("side").parquet(path)
    Sinks.compact(spark, path, targetRowsPerFile = 1000, partitionCols = Seq("side"))
    val out = spark.read.parquet(path)
    assert(out.count() == 400)
    assert(rowSet(out.groupBy("side").agg(count(lit(1)))) ==
      rows(Seq("0", "200"), Seq("1", "200")))
    val sideDirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("side=")).sorted
    assert(sideDirs.toSeq == Seq("side=0", "side=1"))
  }
}
