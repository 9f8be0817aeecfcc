package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, sum}
import graft.extract.{Excel, Feeds, FileFeed, Payloads, XlsxFixture}

/** The whole reference program end-to-end (SURVEY.md §3): all 13 source
  * extractors (7 API payload shapes + 5 flat-file feeds + 1 Excel feed)
  * feed the full transform DAG and its 11 sinks — the integration
  * equivalent of running portfolio-etl.py once.
  */
class FullEtlSpec extends SparkSpec {

  private def tmp(name: String, content: String): String = {
    val dir = Files.createTempDirectory("etl")
    val f = dir.resolve(name); Files.writeString(f, content); f.toString
  }

  test("13 extractors → clean → aggregate → map → enrich → 11 sinks") {
    val from = Timestamp.valueOf("2024-05-25 00:00:00")
    val to = Timestamp.valueOf("2024-06-01 00:00:00")

    // --- API payloads (S3-S9) -------------------------------------------
    val walmart = Payloads.walmart(spark, tmp("w.json",
      """{"list":{"elements":{"order":[{"orderLines":{"orderLine":[
        |{"item":{"sku":"A-1"},"orderLineQuantity":{"amount":"2"}}]}}]}}}""".stripMargin))
    val houzz = Payloads.houzz(spark, tmp("h.xml",
      "<Orders><Order><OrderItem><SKU>A-1</SKU><Quantity>1</Quantity></OrderItem></Order></Orders>"))
    val faire = Payloads.faire(spark, tmp("f.json",
      """{"orders":[{"items":[{"sku":"B-2","quantity":3}]}]}"""))
    val woo = Payloads.wooCommerce(spark, tmp("c.json",
      """[{"date_created":"2024-05-30T10:00:00","line_items":[{"sku":"B-2","quantity":1}]}]"""),
      "brand1site", from, to)
    val dsco = Payloads.dsco(spark, tmp("d.json",
      """{"orders":[{"dscoCreateDate":"2024-05-29T08:00:00","lineItems":[{"sku":"A-1","quantity":4}]}]}"""),
      "tenant1", from, to)
    val mirakl = Payloads.mirakl(spark, tmp("m.json",
      """{"orders":[{"order_state":"SHIPPING","order_lines":[{"offer_sku":"C-3","quantity":2}]},
        |{"order_state":"CANCELED","order_lines":[{"offer_sku":"C-3","quantity":99}]}]}""".stripMargin),
      "mirakl1")
    val wayfair = Payloads.wayfair(spark, tmp("y.json",
      """{"data":{"getDropshipPurchaseOrders":[{"products":[{"partNumber":"C-3","quantity":1}]}]}}"""))

    // --- file feeds (S10-S14) -------------------------------------------
    val macys = Feeds.read(spark, FileFeed(
      tmp("macys.csv", "junk\njunk\njunk\njunk\nVendor SKU,Quantity,Merchant\nA-1,2,macys\n"),
      headerOffset = 4, renames = Map("Vendor SKU" -> "sku", "Quantity" -> "qty"),
      siteColumn = Some("Merchant")))
    val amazon = Feeds.read(spark, FileFeed(
      tmp("amazon.txt", "sku\tquantity\nB-2\t5\nsku\tquantity\n"), sep = "\t",
      renames = Map("quantity" -> "qty"), siteLiteral = Some("Amazon")))
    val tom = Feeds.read(spark, FileFeed(
      tmp("tom.csv", "Item SKU,Qty\nC-3,1\n"),
      renames = Map("Item SKU" -> "sku", "Qty" -> "qty"), siteLiteral = Some("Touch OF Modern")))
    val missing = Feeds.read(spark, FileFeed("/nope/hsn.csv", siteLiteral = Some("HSN")))
    val rue = Feeds.read(spark, FileFeed(
      tmp("rue.csv", "Vendor SKU,Quantity\nA-1,1\n"),
      renames = Map("Vendor SKU" -> "sku", "Quantity" -> "qty"), siteLiteral = Some("Ruelala & Gilt")))
    val excel = Excel.readFeed(spark, FileFeed("/nope/walmart.xlsx", siteLiteral = Some("Walmart")))

    val frames = Seq(walmart, houzz, faire, woo, dsco, mirakl, wayfair,
      macys, amazon, tom, missing, rue, excel)

    val dims = Pipeline.Dims(
      skuMap = df("sku_part STRING, sku_name STRING, multiplier DOUBLE", Seq(
        Row("a-1", "alpha", 2.0), Row("b-2", "beta", 1.0), Row("c-3", "gamma", 1.0))),
      salesMap = df("SKU STRING, cost DOUBLE, brand STRING", Seq(
        Row("a-1", 10.0, "brand1"), Row("b-2", 5.0, "brand2"), Row("c-3", 2.0, "brand3"))),
      stock = df("sku STRING, qty DOUBLE, subcategory STRING, color STRING, brand STRING", Seq(
        Row("alpha", 100.0, "s", "c", "brand1"), Row("beta", 50.0, "s", "c", "brand2"),
        Row("gamma", 20.0, "s", "c", "brand3"))),
      wholesaleMap = df("sku STRING, brand STRING", Seq(
        Row("alpha", "brand1"), Row("beta", "brand2"), Row("gamma", "brand3"))))

    val outDir = Files.createTempDirectory("etl_out").toString
    val o = Pipeline.run(frames, dims, Date.valueOf("2024-06-01"), outDir)

    // retail units: A-1: 2+1+4+2+1 = 10, B-2: 3+1+5 = 9, C-3: 2+1+1 = 4
    // (CANCELED mirakl row and all sentinels/header echoes must be gone)
    val retail = o.soldValueRetail.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(retail == Map("a-1" -> 10.0, "b-2" -> 9.0, "c-3" -> 4.0))

    // wholesale: alpha = 10×2 = 20, beta = 9, gamma = 4
    val ws = o.soldWholesale.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ws == Map("alpha" -> 20.0, "beta" -> 9.0, "gamma" -> 4.0))

    // inventory decremented
    val inv = o.newStock.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(inv == Map("alpha" -> 80.0, "beta" -> 41.0, "gamma" -> 16.0))

    assert(PipelineSpec.missingSinks(outDir).isEmpty,
      s"missing sinks: ${PipelineSpec.missingSinks(outDir)}")

    // the six dated reports read back: (rows, qty total). Line-level sales
    // are A-1 ×5 (brand1), B-2 ×3 and C-3 ×3 (brand2/brand3); the aggs
    // have one row per (sku, cost), the wholesale reports one per sku_name
    def readBack(sink: String): (Long, Double) = {
      val d = spark.read.option("header", "true").csv(s"$outDir/$sink")
      (d.count(), d.agg(sum(col("qty").cast("double"))).head().getDouble(0))
    }
    val dated = Map(
      "brand1_sales/06-01-2024.csv" -> (5L, 10.0),
      "brand2_sales/06-01-2024.csv" -> (6L, 13.0),
      "brand1_sales_agg/06-01-2024-brand1.csv" -> (1L, 10.0),
      "brand2_sales_agg/06-01-2024-brand2s.csv" -> (2L, 13.0),
      "wholesale_brand1/06-01-2024.csv" -> (1L, 20.0),
      "wholesale_brand2/06-01-2024.csv" -> (2L, 13.0))
    assert(dated.map { case (sink, _) => sink -> readBack(sink) } == dated)
  }

  test("building the 14 source frames of a nightly run starts no Spark job") {
    // the benchmark's shapes: two pages per API payload, a preambled CSV,
    // a TSV, two plain CSVs, one missing feed and a workbook
    val in = Files.createTempDirectory("nightly")
    def pages(feed: String, ext: String)(page: Int => String): String = {
      val d = Files.createDirectories(in.resolve(feed))
      (0 until 2).foreach(i => Files.writeString(d.resolve(s"page-$i.$ext"), page(i)))
      d.toString
    }
    def file(name: String, body: String): String =
      Files.writeString(in.resolve(name), body).toString
    def items(sku: String, i: Int) = s"""[{"$sku":"A-$i","quantity":2},{"$sku":"B-$i","quantity":"n/a"}]"""
    val from = Timestamp.valueOf("2024-05-01 00:00:00")
    val to = Timestamp.valueOf("2024-06-01 00:00:00")
    val dsco = (i: Int) => s"""{"orders":[{"dscoCreateDate":"2024-05-0${i + 2}T10:00:00","lineItems":${items("sku", i)}}]}"""
    val build = () => Seq(
      Payloads.walmart(spark, pages("walmart", "json")(i =>
        s"""{"list":{"elements":{"order":[{"orderLines":{"orderLine":[""" +
          s"""{"item":{"sku":"W-$i"},"orderLineQuantity":{"amount":"n/a"}}]}}]}}}""")),
      Payloads.houzz(spark, pages("houzz", "xml")(i =>
        s"<Orders><Order><OrderItem><SKU>H-$i</SKU><Quantity>1</Quantity></OrderItem></Order></Orders>")),
      Payloads.faire(spark, pages("faire", "json")(i => s"""{"orders":[{"items":${items("sku", i)}}]}""")),
      Payloads.wooCommerce(spark, pages("woo", "json")(i =>
        s"""[{"date_created":"2024-05-0${i + 2}T10:00:00","line_items":${items("sku", i)}}]"""),
        "woo_site1", from, to),
      Payloads.dsco(spark, pages("dsco_t1", "json")(dsco), "dsco_t1", from, to),
      Payloads.dsco(spark, pages("dsco_t2", "json")(dsco), "dsco_t2", from, to),
      Payloads.mirakl(spark, pages("mirakl", "json")(i =>
        s"""{"orders":[{"order_state":"SHIPPING","order_lines":${items("offer_sku", i)}}]}"""), "mirakl_s1"),
      Payloads.wayfair(spark, pages("wayfair", "json")(i =>
        s"""{"data":{"getDropshipPurchaseOrders":[{"products":${items("partNumber", i)}}]}}""")),
      Feeds.read(spark, FileFeed(file("macys.csv", "pre\npre\npre\npre\nVendor SKU,Quantity,Merchant\nM-1,2,Macys\n"),
        headerOffset = 4, renames = Map("Vendor SKU" -> "sku", "Quantity" -> "qty"),
        siteColumn = Some("Merchant"))),
      Feeds.read(spark, FileFeed(file("amazon.csv", "sku\tquantity\nZ-1\t3\nsku\tquantity\n"), sep = "\t",
        renames = Map("quantity" -> "qty"), siteLiteral = Some("Amazon"))),
      Feeds.read(spark, FileFeed(file("tom.csv", "Item SKU,Qty\nT-1,1\n"),
        renames = Map("Item SKU" -> "sku", "Qty" -> "qty"), siteLiteral = Some("Touch OF Modern"))),
      Feeds.read(spark, FileFeed(in.resolve("hsn.csv").toString, siteLiteral = Some("HSN"))),
      Feeds.read(spark, FileFeed(file("rue.csv", "Vendor SKU,Quantity\nR-1,1\n"),
        renames = Map("Vendor SKU" -> "sku", "Quantity" -> "qty"), siteLiteral = Some("Ruelala & Gilt"))),
      Excel.readFeed(spark, FileFeed(XlsxFixture.writeXlsx(Seq(
        Seq(Left("SKU"), Left("Qty")), Seq(Left("X-1"), Right(2.0)))),
        renames = Map("SKU" -> "sku", "Qty" -> "qty"), siteLiteral = Some("Walmart"))))

    val jobs = new AtomicLong
    val frames = listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })(build())
    assert(jobs.get == 0, s"${jobs.get} jobs while building the frames")
    // every frame read its input: 14 sources, the missing one as its sentinel
    assert(frames.map(_.count()) == Seq(2, 2, 4, 4, 4, 4, 4, 4, 1, 2, 1, 1, 1, 1))
  }
}
