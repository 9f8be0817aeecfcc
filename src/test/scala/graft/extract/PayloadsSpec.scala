package graft.extract

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum}
import graft.{Fixtures, SparkSpec}
import graft.model.Schemas

/** Fixture shapes per FIXTURES.md §A.3 — each exercises one nested
  * flattening pattern from the reference (N1-N7).
  */
class PayloadsSpec extends SparkSpec {

  private def tmp(name: String, content: String): String = {
    val dir = Files.createTempDirectory("payloads")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  test("walmart: double-nested orderLines flatten (N1-N2)") {
    val p = tmp("walmart.json",
      """{"list":{"elements":{"order":[
        |{"orderLines":{"orderLine":[
        |  {"item":{"sku":"W-1"},"orderLineQuantity":{"amount":"2"}},
        |  {"item":{"sku":"W-2"},"orderLineQuantity":{"amount":"1"}}]}},
        |{"orderLines":{"orderLine":[
        |  {"item":{"sku":"W-3"},"orderLineQuantity":{"amount":"5"}}]}}
        |]}}}""".stripMargin)
    assert(rowSet(Payloads.walmart(spark, p)) == rows(
      Seq("W-1", "2.0", "walmart"), Seq("W-2", "1.0", "walmart"),
      Seq("W-3", "5.0", "walmart")))
  }

  test("houzz: XML rowTag=Order + OrderItem explode (S4+N6)") {
    val p = tmp("houzz.xml",
      """<Orders>
        |  <Order><OrderItem><SKU>H-1</SKU><Quantity>3</Quantity></OrderItem>
        |         <OrderItem><SKU>H-2</SKU><Quantity>1</Quantity></OrderItem></Order>
        |  <Order><OrderItem><SKU>H-3</SKU><Quantity>4</Quantity></OrderItem></Order>
        |</Orders>""".stripMargin)
    assert(rowSet(Payloads.houzz(spark, p)) == rows(
      Seq("H-1", "3.0", "houzz"), Seq("H-2", "1.0", "houzz"),
      Seq("H-3", "4.0", "houzz")))
  }

  test("faire: orders[].items[] double explode (N7)") {
    val p = tmp("faire.json",
      """{"orders":[{"items":[{"sku":"F-1","quantity":2}]},
        |{"items":[{"sku":"F-2","quantity":6},{"sku":"F-3","quantity":1}]}]}""".stripMargin)
    assert(rowSet(Payloads.faire(spark, p)) == rows(
      Seq("F-1", "2.0", "faire"), Seq("F-2", "6.0", "faire"),
      Seq("F-3", "1.0", "faire")))
  }

  test("wooCommerce: date-window filter + line_items explode (S6+N3+P4)") {
    val p = tmp("woo.json",
      """[{"date_created":"2024-05-30T10:00:00","line_items":[{"sku":"C-1","quantity":2}]},
        | {"date_created":"2024-04-01T10:00:00","line_items":[{"sku":"C-old","quantity":9}]}]""".stripMargin)
    val out = Payloads.wooCommerce(spark, p, "brand1site",
      Timestamp.valueOf("2024-05-25 00:00:00"), Timestamp.valueOf("2024-06-01 00:00:00"))
    assert(rowSet(out) == rows(Seq("C-1", "2.0", "brand1site")))
  }

  test("dsco: tz-naive date filter + lineItems explode, per-tenant site (S7+N4)") {
    val p = tmp("dsco.json",
      """{"orders":[
        |{"dscoCreateDate":"2024-05-30T12:00:00","lineItems":[{"sku":"D-1","quantity":1}]},
        |{"dscoCreateDate":"2024-01-01T12:00:00","lineItems":[{"sku":"D-old","quantity":2}]}]}""".stripMargin)
    val out = Payloads.dsco(spark, p, "tenant3",
      Timestamp.valueOf("2024-05-25 00:00:00"), Timestamp.valueOf("2024-06-01 00:00:00"))
    assert(rowSet(out) == rows(Seq("D-1", "1.0", "tenant3")))
  }

  test("mirakl: CANCELED filter + order_lines struct expansion (S8+N5+P5)") {
    val p = tmp("mirakl.json",
      """{"orders":[
        |{"order_state":"SHIPPING","order_lines":[{"offer_sku":"M-1","quantity":2}]},
        |{"order_state":"CANCELED","order_lines":[{"offer_sku":"M-x","quantity":5}]}]}""".stripMargin)
    assert(rowSet(Payloads.mirakl(spark, p, "miraklsite")) == rows(Seq("M-1", "2.0", "miraklsite")))
  }

  test("wayfair: GraphQL data.getDropshipPurchaseOrders[].products[] (S9+N7)") {
    val p = tmp("wayfair.json",
      """{"data":{"getDropshipPurchaseOrders":[
        |{"products":[{"partNumber":"Y-1","quantity":4},{"partNumber":"Y-2","quantity":2}]}]}}""".stripMargin)
    assert(rowSet(Payloads.wayfair(spark, p)) == rows(
      Seq("Y-1", "4.0", "wayfair"), Seq("Y-2", "2.0", "wayfair")))
  }

  private val from = Timestamp.valueOf("2024-05-01 00:00:00")
  private val to = Timestamp.valueOf("2024-06-01 00:00:00")

  /** Each reader with a payload of a day without orders. */
  private val emptyDays: Seq[(String, String, String => DataFrame)] = Seq(
    ("walmart", """{"list":{"elements":{"order":[]}}}""", Payloads.walmart(spark, _)),
    ("houzz", "<Orders/>", Payloads.houzz(spark, _)),
    ("faire", """{"orders":[]}""", Payloads.faire(spark, _)),
    ("wooCommerce", "[]", Payloads.wooCommerce(spark, _, "woo", from, to)),
    ("dsco", """{"orders":[]}""", Payloads.dsco(spark, _, "dsco_t1", from, to)),
    ("mirakl", """{"orders":[]}""", Payloads.mirakl(spark, _, "mirakl_s1")),
    ("wayfair", """{"data":{"getDropshipPurchaseOrders":[]}}""", Payloads.wayfair(spark, _)))

  for ((reader, payload, read) <- emptyDays)
    test(s"$reader: a day without orders reads as zero rows") {
      val out = read(tmp(s"$reader.payload", payload))
      assert(out.schema.map(f => f.name -> f.dataType) ==
        Schemas.saleLine.map(f => f.name -> f.dataType))
      assert(out.collect().isEmpty)
    }

  test("walmart fixture: the quoted amount is declared a string and reads as 2.0 and 1.0") {
    // a quoted "2" in a DOUBLE field would read as null
    val qty = Payloads.walmart(spark, s"${Fixtures.dir}/walmart.json")
      .collect().map(r => r.getString(0) -> r.get(1)).toMap
    assert(qty("W-100") == 2.0 && qty("W-101") == 1.0, qty)
  }

  test("a Faire page with numeric quantities is read once, not once per number") {
    // 2,000 items, every 50th quantity "n/a", as the nightly feed has them:
    // an inferred schema makes `quantity` a string, and Spark's exact
    // string parsing re-reads the page for each numeric token (~50x)
    val page = (0 until 2000).map { i =>
      val q = if (i % 50 == 0) "\"n/a\"" else (1 + i % 10).toString
      s"""{"sku":"S$i","quantity":$q}"""
    }.grouped(3).map(_.mkString("{\"items\":[", ",", "]}")).mkString("{\"orders\":[\n", ",\n", "]}\n")
    val p = tmp("faire.json", page)
    val bytes = new AtomicLong
    val got = listening(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    })(Payloads.faire(spark, p).agg(count(lit(1)), count(col("qty")), sum(col("qty"))).head())
    assert(got.getLong(0) == 2000 && got.getLong(1) == 1960, got)
    val size = Files.size(java.nio.file.Paths.get(p))
    assert(bytes.get <= 2 * size, s"${bytes.get} bytes read from a $size-byte page")
  }
}
