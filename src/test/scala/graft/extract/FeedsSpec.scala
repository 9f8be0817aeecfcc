package graft.extract

import java.nio.file.Files
import graft.SparkSpec

class FeedsSpec extends SparkSpec {

  private def tmpFile(name: String, content: String): String = {
    val dir = Files.createTempDirectory("feeds")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  test("CSV feed with renames and site column (S13, macys shape)") {
    val p = tmpFile("macys.csv",
      "Vendor SKU,Quantity,Merchant\nAB-1,2,macys\nCD-2,3,macys\n")
    val feed = FileFeed(p, renames = Map("Vendor SKU" -> "sku", "Quantity" -> "qty"),
      siteColumn = Some("Merchant"))
    assert(rowSet(Feeds.read(spark, feed)) ==
      rows(Seq("AB-1", "2.0", "macys"), Seq("CD-2", "3.0", "macys")))
  }

  test("CSV feed with 4-line preamble (S10, header=4)") {
    val p = tmpFile("macys4.csv",
      "report for week\ngenerated by x\n\nsome note\nVendor SKU,Quantity\nAB-1,2\n")
    val feed = FileFeed(p, headerOffset = 4,
      renames = Map("Vendor SKU" -> "sku", "Quantity" -> "qty"), siteLiteral = Some("Macys"))
    assert(rowSet(Feeds.read(spark, feed)) == rows(Seq("AB-1", "2.0", "Macys")))
  }

  test("TSV feed (S12, amazon shape)") {
    val p = tmpFile("amazon.txt", "sku\tquantity\nZZ-9\t7\n")
    val feed = FileFeed(p, sep = "\t", renames = Map("quantity" -> "qty"),
      siteLiteral = Some("Amazon"))
    assert(rowSet(Feeds.read(spark, feed)) == rows(Seq("ZZ-9", "7.0", "Amazon")))
  }

  test("missing file yields the reference's sentinel row (S14)") {
    val feed = FileFeed("/nonexistent/feed.csv", siteLiteral = Some("Walmart"))
    assert(rowSet(Feeds.read(spark, feed)) == rows(Seq("other", "0.0", "Walmart")))
  }

  test("non-numeric qty coerces to null (F4), junk rows cleanable downstream") {
    val p = tmpFile("dirty.csv", "sku,qty\na1,2\nsku,qty\nother,0\nb2,junk\n")
    val feed = FileFeed(p, siteLiteral = Some("X"))
    val raw = Feeds.read(spark, feed)
    assert(raw.count() == 4)
    val cleaned = graft.transform.Clean.cleanSales(Seq(raw))
    // header echo + sentinel dropped; b2's qty is null after coerce
    assert(rowSet(cleaned) == rows(Seq("a1", "2.0", "x"), Seq("b2", "null", "x")))
  }

  test("header names follow Spark's rules: blank → _c<i>, duplicates take their index") {
    for (line <- Seq("sku,,qty", "sku,qty,SKU,qty", "\"Vendor SKU\",Quantity,", "a;b;;a"))
      withClue(line) {
        val p = tmpFile("h.csv", s"$line\n1,2,3,4\n")
        val sep = if (line.contains(";")) ";" else ","
        val (got, names) = Feeds.header(spark, FileFeed(p, sep = sep))
        assert(got == line)
        assert(names == spark.read.option("header", "true").option("sep", sep).csv(p).columns.toSeq)
      }
  }

  test("preambled feed: a blank line before the header is skipped, header echoes dropped") {
    val p = tmpFile("macys.csv",
      "report\nline 2\n\nVendor SKU,Quantity\nAB-1,2\nVendor SKU,Quantity\nCD-2,3\n")
    val feed = FileFeed(p, headerOffset = 2,
      renames = Map("Vendor SKU" -> "sku", "Quantity" -> "qty"), siteLiteral = Some("Macys"))
    assert(rowSet(Feeds.read(spark, feed)) ==
      rows(Seq("AB-1", "2.0", "Macys"), Seq("CD-2", "3.0", "Macys")))
  }

  test("a gzip-compressed feed reads like a plain one") {
    val p = Files.createTempDirectory("feeds").resolve("tom.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
    try out.write("Item SKU,Qty\nT-1,4\n".getBytes("UTF-8")) finally out.close()
    val feed = FileFeed(p.toString, renames = Map("Item SKU" -> "sku", "Qty" -> "qty"),
      siteLiteral = Some("Touch OF Modern"))
    assert(rowSet(Feeds.read(spark, feed)) == rows(Seq("T-1", "4.0", "Touch OF Modern")))
  }
}
