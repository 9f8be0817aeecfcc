package graft.extract

import java.util.zip.ZipFile
import javax.xml.parsers.DocumentBuilderFactory
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.w3c.dom.Element

/** Minimal Excel reader (S11, reference portfolio-etl.py:491, :515 uses
  * `pd.read_excel` for hsn/rue/walmart feeds) — BOTH containers pandas
  * accepts: OOXML `.xlsx` (this file) and legacy BIFF8 `.xls`
  * (dispatched to [[Biff]] by magic sniff).
  *
  * Spark has no built-in Excel source; the reference's Excel inputs are
  * small mapping/feed files (README.md:19-20 sanctions flat-file mode), so
  * this is a deliberately simple parser: unzip the OOXML container, parse
  * `xl/worksheets/sheet1.xml` + `xl/sharedStrings.xml` with the JDK's DOM
  * parser into rows of strings (first row = header — downstream casts are
  * the engine's job, same as the CSV path). Spark reads it through the
  * `graft-excel` source ([[graft.sources.ExcelDataSource]]), one workbook
  * per task. Fact-scale data must arrive as Parquet/CSV; this connector
  * deliberately does not pretend to scale.
  */
object Excel {

  /** OLE2 compound-file magic — the container of legacy BIFF `.xls`. */
  private val Ole2Magic = Array(0xd0, 0xcf, 0x11, 0xe0, 0xa1, 0xb1, 0x1a, 0xe1).map(_.toByte)

  /** Container sniff: the reference's `pd.read_excel` (:491, :515) accepts
    * both OOXML `.xlsx` (ZIP) and legacy BIFF `.xls` (OLE2); so do we —
    * OLE2 dispatches to the [[Biff]] reader, everything else takes the ZIP
    * path. Detection is by MAGIC, not extension, like pandas.
    */
  private def isOle2(path: String): Boolean = {
    val in = new java.io.FileInputStream(path)
    // readNBytes loops until 8 bytes or EOF — a short first read (NFS/FUSE)
    // must not misroute the container
    val head = try in.readNBytes(8) finally in.close()
    head.length == 8 && java.util.Arrays.equals(head, Ole2Magic)
  }

  /** Header row only — schema inference without materializing the sheet
    * (the DOM parse itself is unavoidable with the JDK parser, but the
    * row→Seq conversion stops after row 1).
    */
  def readHeader(path: String): Seq[String] =
    if (isOle2(path)) Biff.readHeader(path)
    else readRows(path, maxRows = 1).headOption.getOrElse(Seq.empty)

  /** Parses the first worksheet into (header, rows) of strings — `.xlsx`
    * or BIFF8 `.xls`, sniffed by magic.
    */
  def readSheet(path: String): (Seq[String], Seq[Seq[String]]) =
    if (isOle2(path)) Biff.readSheet(path)
    else {
      val rows = readRows(path, maxRows = Int.MaxValue)
      (rows.headOption.getOrElse(Seq.empty), rows.drop(1))
    }

  private def readRows(path: String, maxRows: Int): Seq[Seq[String]] = {
    val zip = new ZipFile(path)
    try {
      val dbf = DocumentBuilderFactory.newInstance()
      dbf.setNamespaceAware(false)
      def parse(name: String): Option[org.w3c.dom.Document] =
        Option(zip.getEntry(name)).map(e => dbf.newDocumentBuilder().parse(zip.getInputStream(e)))

      // shared strings table (cell t="s" values are indexes into it)
      val shared: IndexedSeq[String] = parse("xl/sharedStrings.xml").map { d =>
        val sis = d.getElementsByTagName("si")
        (0 until sis.getLength).map(i => sis.item(i).getTextContent)
      }.getOrElse(IndexedSeq.empty)

      val sheet = parse("xl/worksheets/sheet1.xml")
        .getOrElse(throw new IllegalArgumentException(s"no sheet1 in $path"))
      val rowNodes = sheet.getElementsByTagName("row")

      def colIndex(ref: String): Int = {
        val letters = ref.takeWhile(_.isLetter)
        letters.foldLeft(0)((acc, c) => acc * 26 + (c - 'A' + 1)) - 1
      }

      val rows = (0 until math.min(rowNodes.getLength, maxRows)).map { r =>
        val cells = rowNodes.item(r).asInstanceOf[Element].getElementsByTagName("c")
        val byCol = mutable.SortedMap.empty[Int, String]
        (0 until cells.getLength).foreach { ci =>
          val c = cells.item(ci).asInstanceOf[Element]
          val idx = Option(c.getAttribute("r")).filter(_.nonEmpty)
            .map(colIndex).getOrElse(ci)
          val t = c.getAttribute("t")
          val vNode = c.getElementsByTagName("v")
          val isNode = c.getElementsByTagName("is")
          val raw =
            if (t == "inlineStr" && isNode.getLength > 0) isNode.item(0).getTextContent
            else if (vNode.getLength > 0) vNode.item(0).getTextContent
            else ""
          val value = if (t == "s") shared(raw.toInt) else raw
          byCol(idx) = value
        }
        val width = if (byCol.isEmpty) 0 else byCol.lastKey + 1
        (0 until width).map(i => byCol.getOrElse(i, "")): Seq[String]
      }
      rows
    } finally zip.close()
  }

  /** Excel-backed FileFeed read: same canonical (sku, qty, site) contract
    * and sentinel fallback as Feeds.read. The sheet reads through the
    * `graft-excel` source ([[graft.sources.ExcelDataSource]]), whose load
    * already parses the workbook's header, so an absent or broken workbook
    * fails here and degrades to the reference's 1-row marker; the rows
    * parse in the scan. A legacy-.xls rejection is NOT mapped to the
    * sentinel — a format mismatch must surface.
    */
  def readFeed(spark: SparkSession, feed: FileFeed): DataFrame =
    try Feeds.project(spark.read.format("graft-excel").load(feed.path), feed)
    catch {
      case e: UnsupportedOperationException => throw e
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft.Excel] feed ${feed.path} unreadable (${e.getClass.getSimpleName}: ${e.getMessage}); substituting sentinel row")
        Feeds.sentinel(spark, feed)
    }
}
