package graft

import java.io.File
import java.nio.file.Files
import java.sql.Date
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkSpec
import graft.extract.{Feeds, FileFeed}

object PipelineSpec {

  /** The 11 sinks `Pipeline.run` writes under its `outDir` for a 2024-06-01
    * run: 2 aggregate reports, the 3-path inventory fan-out and 6 dated
    * brand / wholesale reports.
    */
  val sinks: Seq[String] = Seq(
    "soldvalueretail.csv", "sold_itemswholesale.csv",
    "newstock.csv", "newstock_copy1.csv", "newstock_copy2.csv",
    "brand1_sales/06-01-2024.csv", "brand2_sales/06-01-2024.csv",
    "brand1_sales_agg/06-01-2024-brand1.csv", "brand2_sales_agg/06-01-2024-brand2s.csv",
    "wholesale_brand1/06-01-2024.csv", "wholesale_brand2/06-01-2024.csv")

  /** The sinks under `outDir` that were not committed (no `_SUCCESS`). */
  def missingSinks(outDir: String): Seq[String] =
    sinks.filterNot(s => new File(s"$outDir/$s/_SUCCESS").isFile)
}

/** Golden end-to-end test of the full reference DAG (SURVEY.md §3.3) on
  * reference-shaped fixtures, including the towel-set mapping case
  * (README.md:22-24) and the §7.4 quirk policies.
  */
class PipelineSpec extends SparkSpec {

  private val runDate = Date.valueOf("2024-06-01")

  private def dims = Pipeline.Dims(
    skuMap = df("sku_part STRING, sku_name STRING, multiplier DOUBLE", Seq(
      Row("set-1", "towel", 3.0),     // 1 set = 3 towels
      Row("set-1", "soap", 1.0),
      Row("b-2", "b-2w", 1.0),
      Row("ghost", "ghost-w", 2.0))), // never sold → 0.0 (§7.4-a)
    salesMap = df("SKU STRING, cost DOUBLE, brand STRING", Seq(
      Row("set-1", 10.0, "brand1"), Row("b-2", 4.0, "brand2"))),
    stock = df("sku STRING, qty DOUBLE, subcategory STRING, color STRING, brand STRING", Seq(
      Row("towel", 100.0, "bath", "red", "brand1"),
      Row("soap", 50.0, "bath", "white", "brand1"),
      Row("untouched", 7.0, "misc", "blue", "brand2"))),
    wholesaleMap = df("sku STRING, brand STRING", Seq(
      Row("towel", "brand1"), Row("soap", "brand1"), Row("b-2w", "brand2"))))

  // two source feeds with junk rows that must be cleaned (:602-607)
  private def feeds = Seq(
    df("sku STRING, qty DOUBLE, site STRING", Seq(
      Row("SET-1 ", 2.0, "Walmart"), Row("B-2", 1.0, "Walmart"),
      Row("sku", null, "Walmart"),      // header echo (:602)
      Row("other", 0.0, "Walmart"))),   // missing-file sentinel (:604)
    df("sku STRING, qty DOUBLE", Seq(Row("set-1", 1.0)))) // no site col (U2)

  private def outputRows(o: Pipeline.Outputs): Seq[Seq[String]] =
    o.productIterator.map { case d: DataFrame => rowSet(d) }.toSeq

  test("full DAG: union→clean→agg→map→inventory→enrich→split, 11 sinks written") {
    val outDir = Files.createTempDirectory("pipeline").toString
    val o = Pipeline.run(feeds, dims, runDate, outDir)

    // retail agg: set-1 = 2+1 = 3 units, b-2 = 1 (junk rows gone)
    val retail = o.soldValueRetail.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(retail == Map("set-1" -> 3.0, "b-2" -> 1.0))

    // wholesale: towel = 3×3 = 9, soap = 3×1 = 3, b-2w = 1, ghost-w = 0.0
    val ws = o.soldWholesale.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ws == Map("towel" -> 9.0, "soap" -> 3.0, "b-2w" -> 1.0, "ghost-w" -> 0.0))

    // inventory: towel 100−9=91, soap 50−3=47, untouched keeps 7 (fillna)
    val inv = o.newStock.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(inv == Map("towel" -> 91.0, "soap" -> 47.0, "untouched" -> 7.0))

    // enriched totals: set-1 rows qty×10, b-2 qty×4; Year/Month pinned
    val enr = o.enriched.collect()
    assert(enr.forall(r => r.getInt(6) == 2024 && r.getString(7) == "June"))

    // brand splits partition the branded rows (§7.4-h intended semantics)
    assert(o.brandPrimary.count() + o.brandOthers.count() == enr.length)

    assert(PipelineSpec.missingSinks(outDir).isEmpty,
      s"missing sinks: ${PipelineSpec.missingSinks(outDir)}")
  }

  test("run reads each sales feed once, not once per sink") {
    val dir = Files.createTempDirectory("feed")
    val feedRows = 1000
    val csv = dir.resolve("walmart.csv")
    Files.writeString(csv, Seq.tabulate(feedRows)(i => if (i % 2 == 0) "SET-1,1" else "B-2,2")
      .mkString("sku,qty\n", "\n", "\n"))
    val feed = Feeds.read(spark, FileFeed(csv.toString, siteLiteral = Some("Walmart")))

    val recordsRead = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      Pipeline.run(Seq(feed), dims, runDate, Files.createTempDirectory("once").toString)
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)

    // besides the feed's rows, the fan-out reads its parquet copy of the 3
    // new-stock rows once per target path, and a task reading the cached
    // fact counts one record per cached batch (one per partition here)
    val stockReReads = 3L * 3
    val feedPasses = (recordsRead.get - stockReReads) / feedRows
    assert(feedPasses == 1,
      s"$feedPasses passes: ${recordsRead.get} records read for a $feedRows-row feed")
  }

  test("run releases the cached sales fact, on success and when a sink fails") {
    val cache = spark.sharedState.cacheManager
    assert(cache.isEmpty, "cache not empty before the run")
    val expected = outputRows(Pipeline.build(feeds, dims, runDate, "brand1", Seq("brand2", "brand3")))

    val o = Pipeline.run(feeds, dims, runDate, Files.createTempDirectory("released").toString)
    assert(cache.isEmpty, "cache not released after a run")
    // the returned frames recompute from the feeds
    assert(outputRows(o) == expected)

    // a regular file where a dated sink's directory goes: the first sinks
    // have read the cache by the time this one fails
    val blocked = Files.createTempDirectory("blocked")
    Files.writeString(blocked.resolve("brand1_sales"), "not a directory")
    // and an output directory under a regular file: the first sink fails
    val underFile = Files.createTempFile("out", ".txt").resolve("out")
    for (outDir <- Seq(blocked.toString, underFile.toString)) {
      intercept[Exception](Pipeline.run(feeds, dims, runDate, outDir))
      assert(cache.isEmpty, s"cache not released after a failed run into $outDir")
    }
  }

  test("read-overwrite cycle: fan-out materializes before overwriting its input (§7.4-d)") {
    val dir = Files.createTempDirectory("overwrite").toString
    val src = s"$dir/stock.csv"
    df("sku STRING, qty DOUBLE", Seq(Row("a", 5.0), Row("b", 2.0)))
      .coalesce(1).write.option("header", "true").csv(src)
    val stock = spark.read.option("header", "true").csv(src)
    val decremented = stock.selectExpr("sku", "CAST(qty AS DOUBLE) - 1.0 AS qty")
    // overwrite the very file we read from — must not truncate mid-read
    load.Sinks.csvFanOut(decremented, Seq(src, s"$dir/copy.csv"))
    val back = spark.read.option("header", "true").csv(src).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(back == Map("a" -> "4.0", "b" -> "1.0"))
  }
}
