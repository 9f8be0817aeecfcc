package perfbench

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Plain-Scala model of the `part` table: the ETL dims come from it
  * (through `graft.Tables.skuMap/salesMap/stock/wholesaleMap`) and the expected
  * sink values are computed from it without Spark.
  */
final case class Part(key: Long, name: String, brand: String, ptype: String,
                      size: Int, price: Double)

/** Deterministic star tables, shaped like the engine's test corpus
  * (`lineitem`, `part`, `documents`, `embeddings` with the same columns and
  * value domains). Generated once per checkout from a fixed seed, so the
  * pinned query checksums hold for every run.
  */
object TableGen {
  val Seed = 20240601L
  val Orders = 15000
  val NParts = 2000
  val NSupp = 100
  val NDocs = 600
  val NVecs = 250
  val Dim = 64

  private val adjectives = Seq("large", "hot", "blue", "old", "cold", "small", "red", "new")
  private val nouns = Seq("ring", "bolt", "plate", "gear", "pipe", "nut", "valve", "beam")
  private val types = Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM")
  private val vocab = ("a the data spark line column order small sort fast value scan hash slow " +
    "group batch agg filter query big key window row part table stream merge join vector " +
    "customer").split(" ").toIndexedSeq
  private val langs = Seq("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)

  lazy val parts: IndexedSeq[Part] = {
    val r = new SplittableRandom(Seed + 1)
    (0 until NParts).map { i =>
      Part(i.toLong, s"${adjectives(r.nextInt(8))} ${nouns(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(types.size)),
        1 + r.nextInt(50), 900.0 + i / 10.0)
    }
  }

  def write(spark: SparkSession, dir: String): Unit = {
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("part", StructType.fromDDL("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
      parts.map(p => Row(p.key, p.name, p.brand, p.ptype, p.size, p.price)))

    val r = new SplittableRandom(Seed + 2)
    val day0 = java.time.LocalDate.of(1995, 1, 2)
    val lines = mutable.ArrayBuffer.empty[Row]
    for (o <- 0 until Orders; ln <- 1 to 1 + r.nextInt(7)) {
      val qty = (1 + r.nextInt(50)).toDouble
      val pk = r.nextInt(NParts).toLong
      val price = math.round(qty * (900 + pk / 10.0) * (0.9 + r.nextDouble() * 0.2) * 100) / 100.0
      val ship = java.sql.Timestamp.valueOf(day0.plusDays(r.nextInt(2500)).atStartOfDay())
      lines += Row(o.toLong, pk, r.nextInt(NSupp).toLong, ln, qty, price,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
        if (r.nextBoolean()) "O" else "F", ship)
    }
    save("lineitem", StructType.fromDDL("l_orderkey BIGINT, l_partkey BIGINT, " +
      "l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, " +
      "l_shipdate TIMESTAMP"), lines.toSeq)

    val langTotal = langs.map(_._2).sum
    val docs = (0 until NDocs).map { i =>
      val text = Seq.fill(8 + r.nextInt(90))(vocab(r.nextInt(vocab.size))).mkString(" ")
      var pick = r.nextInt(langTotal)
      val lang = langs.find { case (_, w) => pick -= w; pick < 0 }.get._1
      Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
    save("documents", StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"), docs)

    val centroids = Array.fill(10, Dim)(r.nextGaussian() * 0.2)
    val vecs = (0 until NVecs).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(Dim)(d => (centroids(label)(d) + r.nextGaussian() * 0.1).toFloat)
      Row(i.toLong, v.toSeq, label)
    }
    save("embeddings", StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"),
      vecs)
  }
}

/** One sales line as the clean stage leaves it: lowercased, trimmed sku;
  * qty after `try_cast` (None for dirty values); lowercased site.
  */
final case class CleanLine(sku: String, qty: Option[Double], site: String)

/** Seeded inputs of one `etl_nightly` run: paged API payloads for all 7
  * shapes (DSCO as two tenants), the 5 file feeds (one of them missing) and
  * the Excel feed, plus the clean lines a correct pipeline must keep.
  */
final case class EtlInputs(dir: String, lines: Int, bytes: Long, kept: Seq[CleanLine])

object EtlGen {
  val LinesPerRun = 20000
  val Pages = 2
  val From = "2024-05-01 00:00:00"
  val To = "2024-06-01 00:00:00"

  /** Every feed gets an equal share of the run's lines. */
  private val feeds = Seq("walmart", "houzz", "faire", "woo", "dsco_t1", "dsco_t2", "mirakl",
    "wayfair", "macys", "amazon", "tom", "rue", "excel")
  /** One rate for every kind of dirty row: one in `DirtyEvery` quantities is
    * "n/a", skus are null, skus are unknown, Mirakl orders are CANCELED,
    * WooCommerce and DSCO orders fall outside the window, and Amazon lines
    * are a leaked header. The equal shares, this rate and the SKU skew are
    * choices of the benchmark, not measured marketplace traffic.
    */
  val DirtyEvery = 50

  private final class Lines(seed: Long) {
    val r = new SplittableRandom(seed)
    val kept = mutable.ArrayBuffer.empty[CleanLine]
    var emitted = 0
    def dirty(): Boolean = r.nextInt(DirtyEvery) == 0

    /** A line's raw sku and qty; `kept` records what survives cleaning. A
      * missing sku reads as null, except in a spreadsheet (`blankSku`),
      * whose empty cell reads as "" and survives.
      */
    def next(site: String, live: Boolean, blankSku: Boolean = false): (Option[String], String) = {
      emitted += 1
      // popularity skewed towards low part keys (density ~ 1/sqrt(key))
      val sku =
        if (dirty()) None
        else if (dirty()) Some(s"X${r.nextInt(500)}")
        else Some((TableGen.NParts * math.pow(r.nextDouble(), 2.0)).toInt.toString)
      val bad = dirty()
      val q = 1 + r.nextInt(10)
      val qty = if (bad) "n/a" else q.toString
      if (live) sku.orElse(if (blankSku) Some("") else None).foreach(s =>
        kept += CleanLine(s.toLowerCase.trim, if (bad) None else Some(q.toDouble),
          site.toLowerCase))
      (sku, qty)
    }
  }

  private def jsonStr(s: Option[String]): String = s.fold("null")(v => "\"" + v + "\"")
  private def jsonQty(q: String): String = if (q == "n/a") "\"n/a\"" else q

  def generate(seed: Long, dir: String): EtlInputs = {
    val root = new File(dir)
    root.mkdirs()
    val budget = feeds.map(_ -> LinesPerRun / feeds.size).toMap
    val g = new Lines(seed)
    val r = g.r

    /** `Pages` files of one feed; `body` renders a page of `n` lines. */
    def pages(feed: String, ext: String)(body: Int => String): Unit = {
      val d = new File(root, feed); d.mkdirs()
      (0 until Pages).foreach { p =>
        Files.write(new File(d, f"page-$p%03d.$ext").toPath,
          body(budget(feed) / Pages).getBytes(UTF_8))
      }
    }
    /** Orders of 1-4 lines until `n` lines are emitted. */
    def orders(n: Int, sep: String = ",\n")(order: Int => String): String = {
      val sb = mutable.ArrayBuffer.empty[String]
      var left = n
      while (left > 0) { val k = math.min(left, 1 + r.nextInt(4)); sb += order(k); left -= k }
      sb.mkString(sep)
    }
    def stamp(inWindow: Boolean): String =
      if (inWindow) f"2024-05-${2 + r.nextInt(29)}%02dT${r.nextInt(24)}%02d:15:00"
      else if (r.nextBoolean()) f"2024-04-${1 + r.nextInt(28)}%02dT10:00:00"
      else f"2024-06-${2 + r.nextInt(27)}%02dT10:00:00"

    pages("walmart", "json") { n =>
      "{\"list\":{\"elements\":{\"order\":[\n" + orders(n) { k =>
        (1 to k).map { _ => val (s, q) = g.next("walmart", live = true)
          s"""{"item":{"sku":${jsonStr(s)}},"orderLineQuantity":{"amount":"$q"}}"""
        }.mkString("{\"orderLines\":{\"orderLine\":[", ",", "]}}")
      } + "]}}}\n"
    }
    pages("houzz", "xml") { n =>
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<Response><Orders>\n" + orders(n, "\n") { k =>
        (1 to k).map { _ => val (s, q) = g.next("houzz", live = true)
          s"<OrderItem>${s.fold("")(v => s"<SKU>$v</SKU>")}<Quantity>$q</Quantity></OrderItem>"
        }.mkString("<Order>", "", "</Order>")
      } + "\n</Orders></Response>\n"
    }
    pages("faire", "json") { n =>
      "{\"orders\":[\n" + orders(n) { k =>
        (1 to k).map { _ => val (s, q) = g.next("faire", live = true)
          s"""{"sku":${jsonStr(s)},"quantity":${jsonQty(q)}}"""
        }.mkString("{\"items\":[", ",", "]}")
      } + "]}\n"
    }
    pages("woo", "json") { n =>
      "[\n" + orders(n) { k =>
        val live = !g.dirty()
        val ts = stamp(live)
        (1 to k).map { _ => val (s, q) = g.next("woo_site1", live)
          s"""{"sku":${jsonStr(s)},"quantity":${jsonQty(q)}}"""
        }.mkString(s"""{"date_created":"$ts","line_items":[""", ",", "]}")
      } + "]\n"
    }
    for (tenant <- Seq("dsco_t1", "dsco_t2")) pages(tenant, "json") { n =>
      "{\"orders\":[\n" + orders(n) { k =>
        val live = !g.dirty()
        val ts = stamp(live)
        (1 to k).map { _ => val (s, q) = g.next(tenant, live)
          s"""{"sku":${jsonStr(s)},"quantity":${jsonQty(q)}}"""
        }.mkString(s"""{"dscoCreateDate":"$ts","lineItems":[""", ",", "]}")
      } + "]}\n"
    }
    pages("mirakl", "json") { n =>
      "{\"orders\":[\n" + orders(n) { k =>
        val live = !g.dirty()
        (1 to k).map { _ => val (s, q) = g.next("mirakl_s1", live)
          s"""{"offer_sku":${jsonStr(s)},"quantity":${jsonQty(q)}}"""
        }.mkString(s"""{"order_state":"${if (live) "SHIPPING" else "CANCELED"}","order_lines":[""",
          ",", "]}")
      } + "]}\n"
    }
    pages("wayfair", "json") { n =>
      "{\"data\":{\"getDropshipPurchaseOrders\":[\n" + orders(n) { k =>
        (1 to k).map { _ => val (s, q) = g.next("wayfair", live = true)
          s"""{"partNumber":${jsonStr(s)},"quantity":${jsonQty(q)}}"""
        }.mkString("{\"products\":[", ",", "]}")
      } + "]}}\n"
    }

    def csv(name: String, header: String, site: String, sep: String,
            preamble: Int = 0, siteCol: Option[String] = None, leakEvery: Int = 0): Unit = {
      val out = new StringBuilder
      (0 until preamble).foreach(i => out ++= s"Report generated for vendor,line $i\n")
      out ++= header + "\n"
      (1 to budget(name)).foreach { i =>
        if (leakEvery > 0 && i % leakEvery == 0) { out ++= header + "\n"; g.emitted += 1 }
        val (s, q) = g.next(siteCol.getOrElse(site), live = true)
        out ++= (Seq(s.getOrElse(""), q) ++ siteCol.toSeq).mkString(sep) + "\n"
      }
      Files.write(new File(root, name + ".csv").toPath, out.toString.getBytes(UTF_8))
    }
    csv("macys", "Vendor SKU,Quantity,Merchant", "", ",", preamble = 4,
      siteCol = Some("Macys"))
    csv("amazon", "sku\tquantity", "Amazon", "\t", leakEvery = DirtyEvery)
    csv("tom", "Item SKU,Qty", "Touch OF Modern", ",")
    csv("rue", "Vendor SKU,Quantity", "Ruelala & Gilt", ",")
    writeXlsx(new File(root, "walmart_dsv.xlsx"),
      Seq("SKU", "Qty") +: (1 to budget("excel")).map { _ =>
        val (s, q) = g.next("Walmart", live = true, blankSku = true)
        Seq(s.getOrElse(""), q)
      })

    val bytes = Files.walk(root.toPath).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum()
    EtlInputs(dir, g.emitted, bytes, g.kept.toSeq)
  }

  /** Minimal OOXML workbook: one sheet of inline strings. */
  private def writeXlsx(f: File, rows: Seq[Seq[String]]): Unit = {
    val zip = new ZipOutputStream(new FileOutputStream(f))
    try {
      def entry(name: String, body: String): Unit = {
        val e = new ZipEntry(name)
        e.setTime(315532800000L) // fixed 1980-01-01 stamp: same seed, same bytes
        zip.putNextEntry(e); zip.write(body.getBytes(UTF_8)); zip.closeEntry()
      }
      entry("[Content_Types].xml", "<?xml version=\"1.0\" encoding=\"UTF-8\"?><Types/>")
      val cells = rows.zipWithIndex.map { case (row, i) =>
        row.zipWithIndex.map { case (v, j) =>
          s"""<c r="${('A' + j).toChar}${i + 1}" t="inlineStr"><is><t>$v</t></is></c>"""
        }.mkString(s"""<row r="${i + 1}">""", "", "</row>")
      }.mkString
      entry("xl/worksheets/sheet1.xml",
        "<?xml version=\"1.0\" encoding=\"UTF-8\"?><worksheet><sheetData>" + cells +
          "</sheetData></worksheet>")
    } finally zip.close()
  }

  /** Row count and qty total of every sink `Pipeline.run` writes, from the
    * kept lines and the part model alone. Keys are the sink directories.
    */
  def expected(kept: Seq[CleanLine], primary: String, others: Set[String]): Map[String, (Long, Double)] = {
    val parts = TableGen.parts
    val byKey = parts.map(p => p.key.toString -> p).toMap
    // A1: sum(qty) per sku; an sku whose every qty is null sums to null
    val retail = kept.groupBy(_.sku).map { case (s, ls) =>
      s -> (if (ls.exists(_.qty.isDefined)) Some(ls.flatMap(_.qty).sum) else None) }
    // A2: part ⟕ retail on key, × p_size, per p_name, coalesce(sum, 0)
    val wholesale = parts.groupBy(_.name).map { case (n, ps) =>
      n -> ps.flatMap(p => retail.get(p.key.toString).flatten.map(_ * p.size)).sum }
    val stock = parts.groupBy(_.name).map { case (n, ps) => n -> ps.map(_.size * 100.0).sum }
    val wsBrand = parts.groupBy(_.name).map { case (n, ps) => n -> ps.map(_.brand).min }
    def lines(f: CleanLine => Boolean): (Long, Double) = {
      val ls = kept.filter(f); (ls.size.toLong, ls.flatMap(_.qty).sum) }
    def aggs(f: CleanLine => Boolean): (Long, Double) = {
      val ls = kept.filter(f); (ls.map(_.sku).distinct.size.toLong, ls.flatMap(_.qty).sum) }
    def brandOf(l: CleanLine): Option[String] = byKey.get(l.sku).map(_.brand)
    val isPrimary = (l: CleanLine) => brandOf(l).contains(primary)
    val isOther = (l: CleanLine) => brandOf(l).exists(others)
    def ws(f: String => Boolean): (Long, Double) = {
      val ns = wholesale.keys.filter(n => f(wsBrand(n))).toSeq
      (ns.size.toLong, ns.map(wholesale).sum) }
    val newStock = (stock.size.toLong,
      stock.map { case (n, q) => q - wholesale.getOrElse(n, 0.0) }.sum)
    Map(
      "soldvalueretail.csv" -> (retail.size.toLong, retail.values.flatten.sum),
      "sold_itemswholesale.csv" -> (wholesale.size.toLong, wholesale.values.sum),
      "newstock.csv" -> newStock,
      "newstock_copy1.csv" -> newStock,
      "newstock_copy2.csv" -> newStock,
      "brand1_sales" -> lines(isPrimary),
      "brand2_sales" -> lines(isOther),
      "brand1_sales_agg" -> aggs(isPrimary),
      "brand2_sales_agg" -> aggs(isOther),
      "wholesale_brand1" -> ws(_ == primary),
      "wholesale_brand2" -> ws(others))
  }

  /** Row count and qty total of one written CSV sink directory, parsed
    * without Spark.
    */
  def readSink(dir: Path): (Long, Double) = {
    val files = Files.walk(dir).filter(p => p.getFileName.toString.startsWith("part-") &&
      p.toString.endsWith(".csv")).toArray.map(_.asInstanceOf[Path])
    var rows = 0L
    var qty = 0.0
    files.foreach { f =>
      val ls = new String(Files.readAllBytes(f), UTF_8).split("\n").filter(_.nonEmpty)
      if (ls.nonEmpty) {
        val qi = ls.head.split(",", -1).indexOf("qty")
        ls.tail.foreach { l =>
          rows += 1
          val v = l.split(",", -1)(qi)
          if (v.nonEmpty) qty += v.toDouble
        }
      }
    }
    (rows, qty)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
