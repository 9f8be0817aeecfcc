package graft.extract

import java.io.{BufferedReader, FileNotFoundException, IOException, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import scala.util.{Try, Using}
import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SparkSession, Row}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
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
    * Declared read: the column names come from the feed's header line,
    * read on the driver from its first file ([[header]]), and every column
    * is declared STRING (the types inference would give). So building the
    * frame starts no Spark job; a header without the `renames`' source
    * names fails the build and takes the sentinel branch. With a preamble,
    * the one job left is `zipWithIndex`'s size count over a feed of more
    * than one partition.
    *
    * Preamble skipping: CSV has no skip-N-rows option, so the connector
    * pre-strips in-engine via a distributed positional index filter on the
    * raw lines (SURVEY.md §2.1 S10) — no driver materialization, so the
    * path is safe even if a preambled feed arrives at fact scale. Every
    * later line equal to the header is dropped too, as Spark's
    * `csv(Dataset)` does with `header`.
    */
  def read(spark: SparkSession, feed: FileFeed): DataFrame =
    Try(readRaw(spark, feed)).recover { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft.Feeds] feed ${feed.path} unreadable (${e.getClass.getSimpleName}: ${e.getMessage}); substituting sentinel row")
      sentinel(spark, feed)
    }.get

  private def readRaw(spark: SparkSession, feed: FileFeed): DataFrame = {
    val (line, names) = header(spark, feed)
    val reader = spark.read.schema(StructType(names.map(StructField(_, StringType))))
      .option("sep", feed.sep)
    val base =
      if (feed.headerOffset == 0) reader.option("header", "true").csv(feed.path)
      else {
        // zipWithIndex keeps split order (= file order for text), the
        // filters run on the executors, and only the surviving lines flow on
        import spark.implicits._
        val lines = spark.read.textFile(feed.path).rdd
          .zipWithIndex()
          .filter(_._2 >= feed.headerOffset)
          .map(_._1)
          .filter(_ != line)
          .toDS()
        reader.csv(lines)
      }
    project(base, feed)
  }

  /** The feed's header line and the column names Spark derives from it.
    * The line is the first non-blank one after `headerOffset` lines of the
    * feed's first file (by path, hidden files skipped), read through the
    * Hadoop FileSystem API and the file's compression codec, as Spark's
    * scan reads it. The names follow Spark's own CSV rules: a blank name
    * becomes `_c<i>`, and duplicate names get their index as a suffix.
    */
  private[extract] def header(spark: SparkSession, feed: FileFeed): (String, Seq[String]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(feed.path)
    val fs = path.getFileSystem(conf)
    def hidden(p: Path) = p.getName.startsWith("_") || p.getName.startsWith(".")
    val files = Option(fs.globStatus(path)).toSeq.flatten.flatMap { s =>
      if (s.isDirectory) fs.listStatus(s.getPath).filter(c => c.isFile && !hidden(c.getPath))
      else Seq(s)
    }.map(_.getPath).sortBy(_.toString)
    val first = files.headOption.getOrElse(throw new FileNotFoundException(feed.path))
    val codec = Option(new CompressionCodecFactory(conf).getCodec(first))
    val line = Using.Manager { use =>
      val raw = use(fs.open(first))
      val in = use(new BufferedReader(new InputStreamReader(
        codec.fold[InputStream](raw)(_.createInputStream(raw)), StandardCharsets.UTF_8)))
      Iterator.continually(in.readLine()).takeWhile(_ != null).drop(feed.headerOffset)
        .find(_.trim.nonEmpty)
        .getOrElse(throw new IOException(s"${feed.path}: no header line"))
    }.get
    val options = new CSVOptions(Map("sep" -> feed.sep, "header" -> "true"),
      true, spark.conf.get("spark.sql.session.timeZone"))
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
    (line, CSVUtils.makeSafeHeader(
      new CsvParser(options.asParserSettings).parseLine(line), caseSensitive, options).toSeq)
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
