package graft.extract

import graft.SparkSpec
import graft.extract.XlsFixture.writeXls
import graft.extract.XlsxFixture.writeXlsx

class BiffSpec extends SparkSpec {

  private val cells: Seq[Seq[Either[String, Double]]] = Seq(
    Seq(Left("sku"), Left("qty"), Left("site")),
    Seq(Left("A-1"), Right(4.0), Left("hsn")),
    Seq(Left("A-2"), Right(2.5), Left("rue")))

  test("BIFF8 .xls parses through Excel.readSheet — regular-FAT container") {
    val (header, rows0) = Excel.readSheet(writeXls(cells))
    assert(header == Seq("sku", "qty", "site"))
    assert(rows0 == Seq(Seq("A-1", "4.0", "hsn"), Seq("A-2", "2.5", "rue")))
  }

  test("BIFF8 .xls parses — mini-stream container (the real small-file layout)") {
    val (header, rows0) = Excel.readSheet(writeXls(cells, mini = true))
    assert(header == Seq("sku", "qty", "site"))
    assert(rows0 == Seq(Seq("A-1", "4.0", "hsn"), Seq("A-2", "2.5", "rue")))
  }

  test(".xls and .xlsx of the same sheet produce identical DataFrames") {
    val xls = spark.read.format("graft-excel").load(writeXls(cells))
    val xlsx = spark.read.format("graft-excel").load(writeXlsx(cells))
    assert(xls.schema == xlsx.schema)
    assert(rowSet(xls) == rowSet(xlsx))
  }

  test("UTF-16 strings (fHighByte) round-trip") {
    val c = Seq(Seq(Left("name"): Either[String, Double]),
      Seq(Left("café 北京"): Either[String, Double]))
    val (header, rows0) = Excel.readSheet(writeXls(c, mini = true))
    assert(header == Seq("name"))
    assert(rows0 == Seq(Seq("café 北京")))
  }

  test("sparse rows and ragged widths pad like the XLSX reader") {
    val c: Seq[Seq[Either[String, Double]]] = Seq(
      Seq(Left("a"), Left("b"), Left("c")),
      Seq(Left("x")), // short row
      Seq(Left("y"), Right(1.0), Left("z")))
    val (_, rows0) = Excel.readSheet(writeXls(c, mini = true))
    assert(rows0 == Seq(Seq("x"), Seq("y", "1.0", "z")))
  }

  test("BIFF5 'Book' stream is rejected with an actionable message") {
    val p = writeXls(cells, mini = true, streamName = "Book")
    val e = intercept[UnsupportedOperationException](Excel.readSheet(p))
    assert(e.getMessage.contains("BIFF8"))
  }

  test(".xls loads through the graft-excel DataSourceV2") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graft-excel").load(writeXls(cells))
    assert(df.schema.fieldNames.toSeq == Seq("sku", "qty", "site"))
    assert(df.filter(col("site") === "hsn").count() == 1L)
    assert(rowSet(df) == rows(Seq("A-1", "4.0", "hsn"), Seq("A-2", "2.5", "rue")))
  }

  test("a clipped cell record fails loudly instead of parsing fabricated zeros") {
    val p = writeXls(cells, mini = true)
    val wb = Biff.workbookStream(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), p)
    // drop the 4-byte sheet EOF plus 2 data bytes of the preceding cell
    // record: its header now claims more payload than the stream holds —
    // before the guard, copyOfRange zero-padded this into a fake 0.0 cell
    val clipped = wb.dropRight(6)
    val e = intercept[IllegalArgumentException](Biff.parseWorkbook(clipped, "clipped"))
    assert(e.getMessage.contains("truncated BIFF record"))
  }

  test(".xls feeds read via Excel.readFeed with the standard (sku, qty, site) contract") {
    val p = writeXls(Seq(
      Seq(Left("sku"), Left("qty")),
      Seq(Left("H-1"), Right(3.0))), mini = true)
    val feed = FileFeed(p, siteLiteral = Some("hsn"))
    assert(rowSet(Excel.readFeed(spark, feed)) == rows(Seq("H-1", "3.0", "hsn")))
  }
}
