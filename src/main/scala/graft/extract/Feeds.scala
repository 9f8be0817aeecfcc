package graft.extract

import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession, Row}
import org.apache.spark.sql.functions._
import graft.model.Schemas

/** File-feed extraction (reference portfolio-etl.py:465-534).
  *
  * The reference has two near-duplicate reader functions (:488-505 and a
  * shadowing redefinition at :512-525) plus a bespoke Macy's reader (:465-482).
  * Here a single declarative [[FileFeed]] descriptor drives one reader
  * (SURVEY.md §3.2) — no shadowing, schema-checked output.
  */
final case class FileFeed(
    path: String,
    sep: String = ",",                 // "\t" for Amazon TSV (:491, :529)
    headerOffset: Int = 0,             // Macy's 4 preamble lines (:468)
    renames: Map[String, String] = Map.empty, // e.g. "Vendor SKU"→"sku" (:475)
    siteLiteral: Option[String] = None,       // e.g. "Walmart" (:517)
    siteColumn: Option[String] = None         // e.g. "Merchant" (:474)
)

object Feeds {

  /** Reads one feed to the canonical `(sku, qty, site)` shape.
    *
    * Missing/unreadable file ⇒ the reference's 1-row sentinel
    * `('other', 0, site)` (portfolio-etl.py:477-480, :500-503, :520-523),
    * which the clean stage later filters out (Clean.dropJunkRows). The
    * swallowed cause is logged so a present-but-broken feed (the
    * data-dropping case) is observable, unlike the reference's bare except.
    *
    * Preamble skipping: CSV has no skip-N-rows option, so the connector
    * pre-strips in-engine via a distributed positional index filter on the
    * raw lines (SURVEY.md §2.1 S10) — no driver materialization, so the
    * path is safe even if a preambled feed arrives at fact scale.
    */
  def read(spark: SparkSession, feed: FileFeed): DataFrame =
    Try(readRaw(spark, feed)).recover { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft.Feeds] feed ${feed.path} unreadable (${e.getClass.getSimpleName}: ${e.getMessage}); substituting sentinel row")
      sentinel(spark, feed)
    }.get

  private def readRaw(spark: SparkSession, feed: FileFeed): DataFrame = {
    val base =
      if (feed.headerOffset == 0) {
        spark.read.option("header", "true").option("sep", feed.sep).csv(feed.path)
      } else {
        // Strip N preamble lines positionally, then re-parse: zipWithIndex
        // keeps split order (= file order for text), the filter runs on the
        // executors, and only the surviving lines flow on. One extra job to
        // size the partition offsets — no collect(), any file size.
        import spark.implicits._
        val lines = spark.read.textFile(feed.path).rdd
          .zipWithIndex()
          .filter(_._2 >= feed.headerOffset)
          .map(_._1)
          .toDS()
        spark.read.option("header", "true").option("sep", feed.sep).csv(lines)
      }
    project(base, feed)
  }

  /** The canonical `(sku, qty, site)` projection of a feed's raw columns,
    * shared by every file-feed reader: apply the feed's renames, derive
    * `site` from its column or literal, then cast.
    */
  private[extract] def project(raw: DataFrame, feed: FileFeed): DataFrame = {
    val renamed = feed.renames.foldLeft(raw) { case (df, (from, to)) =>
      if (df.columns.contains(from)) df.withColumnRenamed(from, to) else df
    }
    val withSite = (feed.siteColumn, feed.siteLiteral) match {
      case (Some(c), _) if renamed.columns.contains(c) =>
        renamed.withColumn("site", col(c))
      case (_, Some(lit0)) => renamed.withColumn("site", lit(lit0))
      case _               => renamed.withColumn("site", lit(null).cast("string"))
    }
    withSite.select(
      col("sku").cast("string").as("sku"),
      // try_cast: dirty feed rows coerce to null (ANSI cast would throw)
      col("qty").try_cast("double").as("qty"),
      col("site").cast("string").as("site"))
  }

  /** 1-row missing-file sentinel (S14, portfolio-etl.py:477-480). */
  def sentinel(spark: SparkSession, feed: FileFeed): DataFrame = {
    val site = feed.siteLiteral.getOrElse(feed.path)
    spark.createDataFrame(
      java.util.List.of(Row("other", 0.0, site)), Schemas.saleLine)
  }

  /** JSON-lines ingestion with a QUARANTINE lane: good records parse
    * against the declared schema, malformed lines survive VERBATIM in the
    * second frame instead of becoming silent nulls (the reference's bare
    * `except:` swallows them — portfolio-etl.py:477). Built on
    * `from_json` + an in-schema corrupt-record column, which — unlike
    * filtering the reader's internal `_corrupt_record` — needs no
    * cache() workaround and streams unchanged. At scale the quarantine
    * frame is written next to the output and its COUNT is the batch's
    * data-quality gate.
    */
  def jsonWithQuarantine(spark: SparkSession, path: String,
                         schemaDdl: String): (DataFrame, DataFrame) = {
    val parsed = spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(col("value"), from_json(col("value"),
        org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
          .add("_corrupt_record", org.apache.spark.sql.types.StringType),
        java.util.Map.of("columnNameOfCorruptRecord", "_corrupt_record",
          "mode", "PERMISSIVE")).as("r"))
    (parsed.filter(col("r._corrupt_record").isNull).select(col("r.*"))
       .drop("_corrupt_record"),
      parsed.filter(col("r._corrupt_record").isNotNull)
        .select(col("value").as("raw_record")))
  }

  /** Schema-evolution read: one logical table whose parquet batches were
    * written with DIFFERENT (compatible) schemas — `mergeSchema` unions
    * the footers' columns, absent fields read as null per batch. The
    * ingestion reality of any long-lived 100 TB table (marketplaces add
    * fields; old partitions don't rewrite). Merge is footer-metadata
    * work, not data work.
    */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
