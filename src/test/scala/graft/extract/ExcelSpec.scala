package graft.extract

import java.io.FileOutputStream
import java.nio.file.Files
import graft.SparkSpec

class ExcelSpec extends SparkSpec {

  import XlsxFixture.writeXlsx

  test("reads header + mixed string/numeric cells (S11, hsn/rue/walmart shape)") {
    val p = writeXlsx(Seq(
      Seq(Left("Supplier Code"), Left("QTY"), Left("RequestorName")),
      Seq(Left("HS-1"), Right(4.0), Left("hsn")),
      Seq(Left("HS-2"), Right(2.0), Left("hsn"))))
    val feed = FileFeed(p, renames = Map("Supplier Code" -> "sku", "QTY" -> "qty"),
      siteColumn = Some("RequestorName"))
    assert(rowSet(Excel.readFeed(spark, feed)) ==
      rows(Seq("HS-1", "4.0", "hsn"), Seq("HS-2", "2.0", "hsn")))
  }

  test("sparse rows (missing cells) align by cell reference") {
    val p = writeXlsx(Seq(
      Seq(Left("sku"), Left("qty")),
      Seq(Left("A-1"), Right(1.0))))
    val (header, rows0) = Excel.readSheet(p)
    assert(header == Seq("sku", "qty"))
    assert(rows0 == Seq(Seq("A-1", "1.0")))
  }

  test("missing/corrupt file falls back to the sentinel row (S14)") {
    val feed = FileFeed("/nonexistent/book.xlsx", siteLiteral = Some("Ruelala & Gilt"))
    assert(rowSet(Excel.readFeed(spark, feed)) == rows(Seq("other", "0.0", "Ruelala & Gilt")))
  }

  test("corrupt OLE2 (.xls magic, truncated body) degrades to the sentinel like any broken feed") {
    val dir = Files.createTempDirectory("xls")
    val path = dir.resolve("book.xls").toString
    val out = new FileOutputStream(path)
    out.write(Array(0xd0, 0xcf, 0x11, 0xe0, 0xa1, 0xb1, 0x1a, 0xe1).map(_.toByte))
    out.write(new Array[Byte](64))
    out.close()
    val feed = FileFeed(path, siteLiteral = Some("hsn"))
    // valid BIFF8 .xls now PARSES (BiffSpec); a broken container is a
    // broken feed → the reference's 1-row sentinel, same as a missing file
    assert(rowSet(Excel.readFeed(spark, feed)) == rows(Seq("other", "0.0", "hsn")))
  }

  test("a BIFF5 workbook read through readFeed throws instead of becoming the sentinel row") {
    val p = XlsFixture.writeXls(Seq(
      Seq(Left("sku"), Left("qty")),
      Seq(Left("H-1"), Right(3.0))), mini = true, streamName = "Book")
    val e = intercept[UnsupportedOperationException](
      Excel.readFeed(spark, FileFeed(p, siteLiteral = Some("hsn"))))
    assert(e.getMessage.contains("BIFF8"))
  }
}
