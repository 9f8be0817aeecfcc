package graft

import java.sql.Date
import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.extract.Payloads
import graft.load.Sinks
import graft.transform.{Aggregate, Clean, Enrich, Inventory}

/** The reference's full transform DAG (portfolio-etl.py:581-775, SURVEY.md
  * §3.3) as one Spark pipeline with 11 sink outputs (2 aggregate reports, a
  * 3-path inventory fan-out, and 6 dated brand / wholesale reports), all
  * derived from one cleaned `(sku, qty, site)` sales fact.
  *
  * [[build]] is lazy: each output re-runs the extract, union, clean and
  * aggregates when it is acted on. [[run]] computes each shared frame once
  * per run instead: it persists the cleaned fact, the retail aggregate
  * `soldValue` (read by 5 outputs) and the wholesale aggregate
  * `finalResult` (read by 4), and releases all three when the sinks are
  * done, whether they succeeded or not. That is `persist` (recomputable
  * from lineage) and not a checkpoint or a parquet materialize because the
  * feeds are read-only inputs of a run: a lost cache block re-reads them
  * and gets the same rows. The one input a run overwrites, the stock file,
  * keeps its own durable materialize in `Sinks.csvFanOut`. The `Outputs`
  * that [[run]] returns are still lazy frames over the feeds, so acting on
  * them after [[run]] recomputes from the feeds.
  *
  * The sinks are independent, so [[run]] writes them concurrently, as
  * concurrent Spark jobs from driver threads. A failed sink does not stop
  * the others: every sink finishes, then the first failure in sink order
  * is thrown with the others attached as suppressed.
  *
  * Divergences from the reference, all documented in SURVEY.md §7.4:
  * the cross-frame mask bug at :769 is implemented with its intended
  * semantics; the double-counted walmart frame (:585/:588) is counted once;
  * pandas' CSV index column is not written; `newstock` is materialized
  * before being overwritten (the reference reads and rewrites the same file).
  *
  * Every join is a broadcast join against a mapping dim and every
  * aggregation is a partial+final hash agg, so the only shuffles at scale
  * are the three aggregation exchanges (A1-A3) — the fact stream itself is
  * never reshuffled.
  */
object Pipeline {

  /** All mapping/dimension inputs for one run. */
  final case class Dims(
      skuMap: DataFrame,        // (sku_part, sku_name, multiplier)  :621
      salesMap: DataFrame,      // (SKU, cost, brand)                :659
      stock: DataFrame,         // (sku, qty, subcategory, color, brand) :634
      wholesaleMap: DataFrame)  // (sku, brand)                      :748

  final case class Outputs(
      soldValueRetail: DataFrame,   // :618
      soldWholesale: DataFrame,     // :632
      newStock: DataFrame,          // :648-650
      enriched: DataFrame,          // :672-683
      brandPrimary: DataFrame,      // :688
      brandOthers: DataFrame,       // :689
      brandPrimaryAgg: DataFrame,   // :720-721
      brandOthersAgg: DataFrame,    // :733-734
      wholesalePrimary: DataFrame,  // :769 (intended semantics)
      wholesaleOthers: DataFrame)   // :770

  /** Builds every output frame of the DAG (lazy — nothing executes until a
    * sink action).
    *
    * @param salesFrames the 13 per-source canonical (sku, qty, site) frames
    * @param primaryBrand / otherBrands the brand split literals (:688-689)
    */
  def build(salesFrames: Seq[DataFrame], dims: Dims, runDate: Date,
            primaryBrand: String, otherBrands: Seq[String]): Outputs =
    derive(Clean.cleanSales(salesFrames), dims, runDate, primaryBrand, otherBrands, identity)

  /** Every output of the DAG over the cleaned sales fact `sales`
    * (:581-607). `share` is applied to each aggregate that several outputs
    * read.
    */
  private def derive(sales: DataFrame, dims: Dims, runDate: Date,
                     primaryBrand: String, otherBrands: Seq[String],
                     share: DataFrame => DataFrame): Outputs = {
    // branch A: retail agg → wholesale mapping (:610-632)
    val soldValue = share(Aggregate.retailAgg(sales))
    val finalResult = share(Aggregate.wholesaleAgg(soldValue, dims.skuMap))

    // branch A1: inventory decrement (:634-646)
    val newStock = Inventory.decrement(dims.stock, finalResult)

    // branch A2: wholesale reporting (:748-770)
    val wholesale = Enrich.enrichWholesale(finalResult, dims.wholesaleMap, runDate)
    val (wsPrimary, wsOthers) = Enrich.splitByBrand(wholesale, primaryBrand, otherBrands)

    // branch B: enriched sales reporting (:659-743)
    val enriched = Enrich.enrichSales(sales, dims.salesMap, runDate)
    val (bPrimary, bOthers) = Enrich.splitByBrand(enriched, primaryBrand, otherBrands)

    Outputs(
      soldValueRetail = soldValue,
      soldWholesale = finalResult,
      newStock = newStock,
      enriched = enriched,
      brandPrimary = bPrimary,
      brandOthers = bOthers,
      brandPrimaryAgg = Aggregate.brandAgg(bPrimary),
      brandOthersAgg = Aggregate.brandAgg(bOthers),
      wholesalePrimary = wsPrimary,
      wholesaleOthers = wsOthers)
  }

  /** Executes the DAG and writes the reference's 11 CSV sinks under
    * `outDir` (K1-K3). The cleaned sales fact and the retail and wholesale
    * aggregates are persisted for the duration of the sink writes and
    * unpersisted before returning or throwing.
    *
    * Before any sink starts, one job fills the cached fact and counts each
    * API payload's lines as it reads them (`Payloads.watchDrift`). When a
    * payload with lines has its sku or qty null on every line, its reader's
    * declared field is missing from the payload: the run throws an
    * `IllegalArgumentException` that names the source and the field, and
    * writes no sink.
    *
    * The sinks write concurrently; when some fail, the others still
    * finish, and then the first failure in sink order is thrown with the
    * rest suppressed.
    * `newstock` goes through the materialize-first fan-out because the
    * reference overwrites its own input file (SURVEY.md §7.4-d).
    */
  def run(salesFrames: Seq[DataFrame], dims: Dims, runDate: Date, outDir: String,
          primaryBrand: String = "brand1", otherBrands: Seq[String] = Seq("brand2", "brand3")): Outputs = {
    val cached = Seq.newBuilder[DataFrame]
    def share(df: DataFrame): DataFrame = { cached += df; df.persist() }
    try {
      val (frames, drift) = salesFrames.map(Payloads.watchDrift).unzip
      val sales = share(Clean.cleanSales(frames))
      // the one scan of the feeds: fills the cache, counts the payloads
      sales.write.format("noop").mode("overwrite").save()
      val drifted = drift.flatMap(_())
      if (drifted.nonEmpty) throw new IllegalArgumentException(drifted.mkString("; "))
      val o = derive(sales, dims, runDate, primaryBrand, otherBrands, share)
      val day = runDate.toLocalDate
      Sinks.concurrently(Seq(
        () => Sinks.csvReport(o.soldValueRetail, s"$outDir/soldvalueretail.csv"),
        () => Sinks.csvReport(o.soldWholesale, s"$outDir/sold_itemswholesale.csv"),
        () => Sinks.csvFanOut(o.newStock, Seq(
          s"$outDir/newstock.csv", s"$outDir/newstock_copy1.csv", s"$outDir/newstock_copy2.csv")),
        () => Sinks.datedCsv(o.brandPrimary, s"$outDir/brand1_sales", day),
        () => Sinks.datedCsv(o.brandOthers, s"$outDir/brand2_sales", day),
        () => Sinks.datedCsv(o.brandPrimaryAgg, s"$outDir/brand1_sales_agg", day, "-brand1"),
        () => Sinks.datedCsv(o.brandOthersAgg, s"$outDir/brand2_sales_agg", day, "-brand2s"),
        () => Sinks.datedCsv(o.wholesalePrimary, s"$outDir/wholesale_brand1", day),
        () => Sinks.datedCsv(o.wholesaleOthers, s"$outDir/wholesale_brand2", day)))
      o
    } finally cached.result().foreach(_.unpersist())
  }
}
