package graft.model

import org.apache.spark.sql.types._

/** Canonical schemas for the engine.
  *
  * The reference (portfolio-etl.py) never declares schemas — everything is
  * pandas-inferred (portfolio-etl.py:468, :491, :515). Here every boundary is
  * an explicit StructType so production paths never rely on inference
  * (SURVEY.md §1.3).
  */
object Schemas {

  /* ---- API payloads (graft.extract.Payloads): one declared shape per
   * source, holding only the fields a reader uses; other fields are not
   * parsed. Every `quantity` is DOUBLE: a non-numeric token such as "n/a"
   * reads as null for that field alone (partial results), like the
   * `try_cast` it replaces. Two quantities stay STRING and are cast by the
   * reader: Walmart's `amount` is quoted ("2"), and a quoted token in a
   * DOUBLE field reads as null; Houzz's XML `Quantity` is element text.
   * Declaring the schema is also what keeps the scan at one read of each
   * page: with an inferred schema a dirty quantity makes the field a
   * string, and Spark's exact string parsing re-reads the page for every
   * numeric token in it. */

  /** Walmart (N1-N2): `list.elements.order[].orderLines.orderLine[]`. */
  val walmartPayload: StructType = StructType.fromDDL(
    "list STRUCT<elements: STRUCT<order: ARRAY<STRUCT<orderLines: STRUCT<orderLine: ARRAY<" +
      "STRUCT<item: STRUCT<sku: STRING>, orderLineQuantity: STRUCT<amount: STRING>>>>>>>>")

  /** Houzz (S4+N6): one `<Order>` row; `OrderItem` is an array whether an
    * order has one item or several.
    */
  val houzzOrder: StructType = StructType.fromDDL(
    "OrderItem ARRAY<STRUCT<SKU: STRING, Quantity: STRING>>")

  /** Faire (S5+N7): `orders[].items[]`. */
  val fairePayload: StructType = StructType.fromDDL(
    "orders ARRAY<STRUCT<items: ARRAY<STRUCT<sku: STRING, quantity: DOUBLE>>>>")

  /** WooCommerce (S6+N3): one order per element of the top-level array. */
  val wooOrder: StructType = StructType.fromDDL(
    "date_created STRING, line_items ARRAY<STRUCT<sku: STRING, quantity: DOUBLE>>")

  /** DSCO (S7+N4): `orders[].lineItems[]`, one payload per tenant. */
  val dscoPayload: StructType = StructType.fromDDL(
    "orders ARRAY<STRUCT<dscoCreateDate: STRING, " +
      "lineItems: ARRAY<STRUCT<sku: STRING, quantity: DOUBLE>>>>")

  /** Mirakl (S8+N5): `orders[].order_lines[]`. */
  val miraklPayload: StructType = StructType.fromDDL(
    "orders ARRAY<STRUCT<order_state: STRING, " +
      "order_lines: ARRAY<STRUCT<offer_sku: STRING, quantity: DOUBLE>>>>")

  /** Wayfair (S9+N7): GraphQL `data.getDropshipPurchaseOrders[].products[]`. */
  val wayfairPayload: StructType = StructType.fromDDL(
    "data STRUCT<getDropshipPurchaseOrders: ARRAY<STRUCT<" +
      "products: ARRAY<STRUCT<partNumber: STRING, quantity: DOUBLE>>>>>")

  /** Canonical sales fact — the `(sku, qty, site)` contract every extractor
    * must produce (reference `sales_header`, portfolio-etl.py:215, :252).
    */
  final case class SaleLine(sku: String, qty: Double, site: String)

  val saleLine: StructType = StructType(Seq(
    StructField("sku", StringType),
    StructField("qty", DoubleType),
    StructField("site", StringType)
  ))

  /** Retail→wholesale mapping table (portfolio-etl.py:621-625): a retail
    * set-SKU maps to component wholesale SKUs with a unit multiplier.
    */
  val skuMap: StructType = StructType(Seq(
    StructField("sku_part", StringType),
    StructField("sku_name", StringType),
    StructField("multiplier", DoubleType)
  ))

  /** Cost/brand enrichment dim (portfolio-etl.py:659-668). */
  val salesMap: StructType = StructType(Seq(
    StructField("SKU", StringType),
    StructField("cost", DoubleType),
    StructField("brand", StringType)
  ))

  /** Wholesale brand dim (portfolio-etl.py:748-756). */
  val wholesaleSoldMap: StructType = StructType(Seq(
    StructField("sku", StringType),
    StructField("brand", StringType)
  ))

  /** Inventory dim (portfolio-etl.py:634, column order :644-646). */
  val stock: StructType = StructType(Seq(
    StructField("sku", StringType),
    StructField("qty", DoubleType),
    StructField("subcategory", StringType),
    StructField("color", StringType),
    StructField("brand", StringType)
  ))
}
