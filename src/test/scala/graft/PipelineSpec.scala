package graft

import java.io.File
import java.nio.file.Files
import java.sql.Date
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import graft.SparkSpec
import graft.extract.{Feeds, FileFeed, Payloads}
import graft.load.Sinks

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
    o.productIterator.map { case d: Dataset[_] => rowSet(d.toDF()) }.toSeq

  /** A one-file CSV feed of `rows` order lines over two SKUs. */
  private def csvFeed(rows: Int): DataFrame = {
    val csv = Files.createTempDirectory("feed").resolve("walmart.csv")
    Files.writeString(csv, Seq.tabulate(rows)(i => if (i % 2 == 0) "SET-1,1" else "B-2,2")
      .mkString("sku,qty\n", "\n", "\n"))
    Feeds.read(spark, FileFeed(csv.toString, siteLiteral = Some("Walmart")))
  }

  /** The live threads `Sinks.concurrently` started. */
  private def writerThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(_.startsWith(Sinks.WriterThreadPrefix)).toSet

  /** The messages of `e` and its causes. */
  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq

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
    val feedRows = 1000
    val feed = csvFeed(feedRows)
    val recordsRead = new AtomicLong
    listening(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    })(Pipeline.run(Seq(feed), dims, runDate, Files.createTempDirectory("once").toString))

    // besides the feed's rows, the fan-out reads its parquet copy of the 3
    // new-stock rows once per target path, and a task reading a cached
    // frame counts one record per cached batch (one per partition here)
    val stockReReads = 3L * 3
    val feedPasses = (recordsRead.get - stockReReads) / feedRows
    assert(feedPasses == 1,
      s"$feedPasses passes: ${recordsRead.get} records read for a $feedRows-row feed")
  }

  test("run computes the retail and the wholesale aggregate once each") {
    // the stages that ran shuffle-map tasks: one per shuffle computed
    val shuffles = ConcurrentHashMap.newKeySet[Int]()
    listening(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ShuffleMapTask") shuffles.add(e.stageId)
    })(Pipeline.run(Seq(csvFeed(1000)), dims, runDate, Files.createTempDirectory("aggs").toString))

    // one pass of the DAG shuffles four times: the retail aggregate, the
    // wholesale aggregate and the two brand aggregates (every join
    // broadcasts its dim). Recomputing the shared aggregates per sink
    // shuffles 11 times: retail under 5 sinks, wholesale under 4.
    assert(shuffles.size == 4, s"${shuffles.size} shuffles in one run")
  }

  test("run releases the cached sales fact, on success and when a sink fails") {
    val cache = spark.sharedState.cacheManager
    assert(cache.isEmpty, "cache not empty before the run")
    val expected = outputRows(Pipeline.build(feeds, dims, runDate, "brand1", Seq("brand2", "brand3")))

    val o = Pipeline.run(feeds, dims, runDate, Files.createTempDirectory("released").toString)
    assert(cache.isEmpty, "cache not released after a run")
    // the returned frames recompute from the feeds
    assert(outputRows(o) == expected)

    // regular files where two dated sinks' directories go: the other
    // sinks still write, and the first blocked sink's failure is thrown
    val blocked = Files.createTempDirectory("blocked")
    Files.writeString(blocked.resolve("brand1_sales"), "not a directory")
    Files.writeString(blocked.resolve("wholesale_brand1"), "not a directory")
    val e = intercept[Exception](Pipeline.run(feeds, dims, runDate, blocked.toString))
    def names(dir: String)(x: Throwable) = messages(x).exists(s"/$dir\\b".r.findFirstIn(_).isDefined)
    assert(names("brand1_sales")(e), messages(e))
    // (Spark may attach a suppressed caller stack trace of its own)
    assert(e.getSuppressed.count(names("wholesale_brand1")) == 1, e.getSuppressed.toSeq.map(messages))
    assert(PipelineSpec.missingSinks(blocked.toString) ==
      Seq("brand1_sales/06-01-2024.csv", "wholesale_brand1/06-01-2024.csv"))
    assert(cache.isEmpty, "cache not released after a run with blocked sinks")
    assert(writerThreads.isEmpty, s"writer threads alive after the run: $writerThreads")

    // an output directory under a regular file: every sink fails
    val underFile = Files.createTempFile("out", ".txt").resolve("out")
    val all = intercept[Exception](Pipeline.run(feeds, dims, runDate, underFile.toString))
    val file = underFile.getParent.toString
    assert(all.getSuppressed.count(messages(_).exists(_.contains(file))) == 8,
      all.getSuppressed.toSeq.map(messages))
    assert(cache.isEmpty, s"cache not released after a failed run into $underFile")
    assert(writerThreads.isEmpty, s"writer threads alive after the run: $writerThreads")
  }

  test("read-overwrite cycle: fan-out materializes before overwriting its input (§7.4-d)") {
    val dir = Files.createTempDirectory("overwrite").toString
    val src = s"$dir/stock.csv"
    df("sku STRING, qty DOUBLE", Seq(Row("a", 5.0), Row("b", 2.0)))
      .coalesce(1).write.option("header", "true").csv(src)
    val stock = spark.read.option("header", "true").csv(src)
    val decremented = stock.selectExpr("sku", "CAST(qty AS DOUBLE) - 1.0 AS qty")
    // overwrite the very file we read from — must not truncate mid-read.
    // Every job the fan-out starts belongs to one of its writes: the
    // re-read of the parquet copy declares its schema, so no footer job
    // runs outside a SQL execution
    val unattached = new AtomicLong
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties == null || e.properties.getProperty("spark.sql.execution.id") == null)
          unattached.incrementAndGet()
    })(Sinks.csvFanOut(decremented, Seq(src, s"$dir/copy.csv")))
    assert(unattached.get == 0, s"${unattached.get} jobs outside the fan-out's writes")
    val back = spark.read.option("header", "true").csv(src).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(back == Map("a" -> "4.0", "b" -> "1.0"))
  }

  test("run overwrites the stock file it read while the other sinks write (§7.4-d)") {
    val outDir = Files.createTempDirectory("cycle").toString
    val stockFile = s"$outDir/newstock.csv"
    val stockSchema = dims.stock.schema
    dims.stock.coalesce(1).write.option("header", "true").csv(stockFile)
    val d = dims.copy(stock = spark.read.schema(stockSchema).option("header", "true").csv(stockFile))

    // every other sink's rows, taken before the run overwrites the stock
    val built = Pipeline.build(feeds, d, runDate, "brand1", Seq("brand2", "brand3"))
    val others = Seq(
      "soldvalueretail.csv" -> built.soldValueRetail,
      "sold_itemswholesale.csv" -> built.soldWholesale,
      "brand1_sales/06-01-2024.csv" -> built.brandPrimary,
      "brand2_sales/06-01-2024.csv" -> built.brandOthers,
      "brand1_sales_agg/06-01-2024-brand1.csv" -> built.brandPrimaryAgg,
      "brand2_sales_agg/06-01-2024-brand2s.csv" -> built.brandOthersAgg,
      "wholesale_brand1/06-01-2024.csv" -> built.wholesalePrimary,
      "wholesale_brand2/06-01-2024.csv" -> built.wholesaleOthers)
      .map { case (sink, frame) => (sink, frame.schema, rowSet(frame)) }

    Pipeline.run(feeds, d, runDate, outDir)
    def readBack(sink: String, schema: org.apache.spark.sql.types.StructType): Seq[String] =
      rowSet(spark.read.schema(schema).option("header", "true").csv(s"$outDir/$sink"))

    val decremented = rows(Seq("towel", "91.0", "bath", "red", "brand1"),
      Seq("soap", "47.0", "bath", "white", "brand1"), Seq("untouched", "7.0", "misc", "blue", "brand2"))
    for (sink <- Seq("newstock.csv", "newstock_copy1.csv", "newstock_copy2.csv"))
      assert(readBack(sink, stockSchema) == decremented, sink)
    for ((sink, schema, want) <- others)
      assert(readBack(sink, schema) == want, sink)
  }

  test("a payload without its declared quantity field fails the run before any sink") {
    val page = Files.createTempDirectory("drift").resolve("faire.json")
    Files.writeString(page, """{"orders":[{"items":[{"sku":"SET-1","qty":2},{"sku":"B-2","qty":1}]}]}""")
    val faire = Payloads.faire(spark, page.toString)
    val outDir = Files.createTempDirectory("drifted").toString
    val e = intercept[IllegalArgumentException](Pipeline.run(feeds :+ faire, dims, runDate, outDir))
    assert(e.getMessage.contains("faire") && e.getMessage.contains("quantity"), e.getMessage)
    assert(PipelineSpec.missingSinks(outDir) == PipelineSpec.sinks)
    assert(spark.sharedState.cacheManager.isEmpty, "cache not released after a drifted run")

    // the same payload with its field back runs through
    Files.writeString(page, """{"orders":[{"items":[{"sku":"SET-1","quantity":2},{"sku":"B-2","quantity":1}]}]}""")
    val fixedDir = Files.createTempDirectory("fixed").toString
    Pipeline.run(feeds :+ Payloads.faire(spark, page.toString), dims, runDate, fixedDir)
    assert(PipelineSpec.missingSinks(fixedDir).isEmpty)
  }
}
