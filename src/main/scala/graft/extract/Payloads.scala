package graft.extract

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructType}
import graft.model.Schemas

/** API-payload readers (reference portfolio-etl.py §2.1 S3-S9, §2.2 N1-N7).
  *
  * The reference fetches each marketplace API with `requests`/curl and then
  * flattens nested JSON/XML with `json_normalize` + Python loops. Here the
  * connector boundary is a payload *file* (HTTP stays outside the engine,
  * SURVEY.md §3.1): every reader is `spark.read.json`/`format("xml")` with
  * the source's nested shape, flattened by lazy `explode`s — the per-row
  * Python loops (:63-76, :170-177, :419-429) disappear into single
  * generator expressions that run partition-parallel at any scale.
  *
  * Every reader reads against the source's declared schema in
  * [[graft.model.Schemas]], so building a frame starts no Spark job and a
  * scan reads each page once. Quantities are declared DOUBLE, and a
  * non-numeric one reads as null. The exceptions are Walmart's quoted
  * `orderLineQuantity.amount` and Houzz's XML `Quantity`, which are
  * declared STRING and cast here, so a dirty token is null there too. A
  * quoted number in a DOUBLE quantity (`"quantity": "2"`) also reads as
  * null. A day with no orders (`{"orders":[]}`, `[]`, `<Orders/>`) reads
  * as zero rows.
  *
  * Drift: a payload that no longer carries a declared field reads that
  * field as null on every line instead of failing. [[watchDrift]] counts
  * each frame's lines and its non-null sku and qty as it is read, and
  * `Pipeline.run` fails with the source and field named when a non-empty
  * source's sku or qty is null on every line, before any sink is written.
  *
  * All readers return the canonical `(sku, qty, site)` of Schemas.saleLine.
  */
object Payloads {

  private val SourceKey = "graft.source"
  private val FieldKey = "graft.field"

  /** The canonical frame over the flattened `df`. `sku` and `qty` are
    * column paths under one alias (`"i.sku"`); each output column carries
    * the source and its payload field for [[watchDrift]].
    */
  private def canon(df: DataFrame, reader: String, site: String,
                    sku: String, qty: String): DataFrame = {
    val source = if (site == reader) reader else s"$reader $site"
    def from(path: String): Metadata = new MetadataBuilder()
      .putString(SourceKey, source).putString(FieldKey, path.split('.').tail.mkString("."))
      .build()
    df.select(col(sku).cast("string").as("sku", from(sku)),
      // a no-op on the DOUBLE quantities; try_cast = errors='coerce' on the
      // STRING ones (dirty payload rows → null under ANSI mode)
      col(qty).try_cast("double").as("qty", from(qty)),
      lit(site).as("site"))
  }

  private def json(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).option("multiLine", "true").json(path)

  /** `frame` with its lines and its non-null `sku` and `qty` counted as it
    * is read, and the check to call after an action has read it: the
    * check names the source and the payload field when the frame has lines
    * but its sku or its qty is null on every one of them, and is None
    * otherwise. A frame no reader here built is returned as it is, with a
    * check that is always None.
    */
  def watchDrift(frame: DataFrame): (DataFrame, () => Option[String]) = {
    def origin(c: String) = frame.schema.find(_.name == c).map(_.metadata)
      .filter(m => m.contains(SourceKey) && m.contains(FieldKey))
    (origin("sku"), origin("qty")) match {
      case (Some(s), Some(q)) =>
        val seen = Observation()
        val watched = frame.observe(seen, count(lit(1)).as("lines"),
          count(col("sku")).as("sku"), count(col("qty")).as("qty"))
        (watched, () => {
          val n = seen.get
          val lines = n("lines").asInstanceOf[Long]
          Seq("sku" -> s, "qty" -> q).collectFirst {
            case (c, m) if lines > 0 && n(c).asInstanceOf[Long] == 0 =>
              s"payload ${m.getString(SourceKey)}: field ${m.getString(FieldKey)} is null " +
                s"on all $lines lines; the payload no longer carries its declared field"
          }
        })
      case _ => (frame, () => None)
    }
  }

  /** Walmart (N1-N2, portfolio-etl.py:54-78): double-nested
    * `list.elements.order[].orderLines.orderLine[]`. The reference's
    * iterrows loop (:63-76, quadratic append) becomes two explodes.
    */
  def walmart(spark: SparkSession, path: String): DataFrame = {
    val lines = json(spark, Schemas.walmartPayload, path)
      .select(explode(col("list.elements.order")).as("o"))
      .select(explode(col("o.orderLines.orderLine")).as("l"))
    canon(lines, "walmart", "walmart", "l.item.sku", "l.orderLineQuantity.amount")
  }

  /** Houzz (S4+N6, portfolio-etl.py:98-135): XML `<Order><OrderItem>`;
    * built-in XML source (Spark ≥4.0), rowTag=Order, explode OrderItem.
    * The declared array holds single- and multi-item orders alike (the
    * reference's findall handles both shapes, :129).
    */
  def houzz(spark: SparkSession, path: String): DataFrame = {
    val orders = spark.read.schema(Schemas.houzzOrder).format("xml")
      .option("rowTag", "Order").load(path)
    val items = orders.select(explode(col("OrderItem")).as("i"))
    canon(items, "houzz", "houzz", "i.SKU", "i.Quantity")
  }

  /** Faire (S5+N7, portfolio-etl.py:152-177): `orders[].items[]`. */
  def faire(spark: SparkSession, path: String): DataFrame = {
    val items = json(spark, Schemas.fairePayload, path)
      .select(explode(col("orders")).as("o"))
      .select(explode(col("o.items")).as("i"))
    canon(items, "faire", "faire", "i.sku", "i.quantity")
  }

  /** WooCommerce (S6+N3+P4, portfolio-etl.py:197-226): top-level array of
    * orders; timestamp-window filter (:219) then explode line_items.
    */
  def wooCommerce(spark: SparkSession, path: String, site: String,
                  from: Timestamp, to: Timestamp): DataFrame = {
    val inWindow = json(spark, Schemas.wooOrder, path)
      .withColumn("ts", to_timestamp(col("date_created")))
      .filter(col("ts") > lit(from) && col("ts") < lit(to))
    val items = inWindow.select(explode(col("line_items")).as("li"))
    canon(items, "woocommerce", site, "li.sku", "li.quantity")
  }

  /** DSCO (S7+N4, portfolio-etl.py:241-307): per-tenant payloads unioned by
    * the caller; tz-naive date filter (:258-263) then explode lineItems.
    * The tenant→site mapping (:268-274) is a per-branch literal, not a join.
    */
  def dsco(spark: SparkSession, path: String, site: String,
           from: Timestamp, to: Timestamp): DataFrame = {
    val inWindow = json(spark, Schemas.dscoPayload, path)
      .select(explode(col("orders")).as("o"))
      .withColumn("ts", to_timestamp(col("o.dscoCreateDate")))
      .filter(col("ts") > lit(from) && col("ts") < lit(to))
    val items = inWindow.select(explode(col("o.lineItems")).as("i"))
    canon(items, "dsco", site, "i.sku", "i.quantity")
  }

  /** Mirakl (S8+N5+P5, portfolio-etl.py:312-329): drop CANCELED orders,
    * explode order_lines; `apply(pd.Series)` struct expansion (:327) is a
    * struct-star select.
    */
  def mirakl(spark: SparkSession, path: String, site: String): DataFrame = {
    val live = json(spark, Schemas.miraklPayload, path)
      .select(explode(col("orders")).as("o"))
      .filter(col("o.order_state") =!= "CANCELED")
    val items = live.select(explode(col("o.order_lines")).as("l"))
    canon(items, "mirakl", site, "l.offer_sku", "l.quantity")
  }

  /** Wayfair (S9+N7, portfolio-etl.py:376-429): GraphQL response
    * `data.getDropshipPurchaseOrders[].products[]`.
    */
  def wayfair(spark: SparkSession, path: String): DataFrame = {
    val items = json(spark, Schemas.wayfairPayload, path)
      .select(explode(col("data.getDropshipPurchaseOrders")).as("po"))
      .select(explode(col("po.products")).as("p"))
    canon(items, "wayfair", "wayfair", "p.partNumber", "p.quantity")
  }
}
