package graft.extract

import org.apache.spark.sql.functions._
import graft.SparkSpec

class IngestionRobustnessSpec extends SparkSpec {

  test("readEvolved: batches with different schemas union by name, absent fields null") {
    val dir = java.nio.file.Files.createTempDirectory("evolve").toString + "/t"
    spark.range(2).selectExpr("id", "cast(id as string) as b")
      .write.parquet(dir + "/batch=1")
    spark.range(2).selectExpr("id + 10 as id", "id * 1.5 as c")
      .write.parquet(dir + "/batch=2")
    val out = Feeds.readEvolved(spark, dir)
    assert(out.columns.sorted.toSeq == Seq("b", "batch", "c", "id"))
    assert(out.count() == 4)
    // old batch: c null; new batch: b null
    assert(out.filter(col("batch") === 1 && col("c").isNull).count() == 2)
    assert(out.filter(col("batch") === 2 && col("b").isNull).count() == 2)
  }
}
