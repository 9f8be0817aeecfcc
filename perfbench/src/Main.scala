package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}

import graft.{GraftSession, Pipeline, SparkEntry}
import graft.extract.{Excel, Feeds, FileFeed, Payloads}
import graft.transform.{Aggregate, Clean, Enrich, Inventory}

/** A workload: the ops of one pass, its warm-up, and per op the timed work
  * (`run`), which returns the untimed output check.
  */
trait Workload {
  def tables: Seq[String]
  /** Warm-up passes before measuring, sized by measurement (README). */
  def warmPasses: Int
  def order(seed: Long, pass: Int): Seq[String]
  def run(spark: SparkSession, op: String, t: Option[Tracer]): () => Boolean
  /** Traced-only layer probes after a traced pass. */
  def layers(spark: SparkSession, t: Tracer): Unit = ()
}

object Probe {
  /** The `Bench.probe` expression: row count and bit_xor of a whole-row
    * xxhash64, so every output column is computed.
    */
  def apply(df: DataFrame): (Long, Long) = {
    val r = df.select(count(lit(1)), bit_xor(xxhash64(df.columns.map(col): _*))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}

/** `query_heavy`: the queries of `Main.Heavy`, in a seed-permuted order. */
final class Queries(data: String, pins: Map[String, (Long, Long)]) extends Workload {
  private val fns = SparkEntry.queries
  val tables = Seq("lineitem", "documents", "embeddings")
  val warmPasses = 1

  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(Main.Heavy.map(_._1))

  def run(spark: SparkSession, q: String, t: Option[Tracer]): () => Boolean = {
    val got = t match {
      case None => Probe(fns(q)(spark, data))
      case Some(tr) => tr.span(s"op:$q") {
        val df = tr.span("build")(fns(q)(spark, data))
        tr.span("probe")(Probe(df))
      }
    }
    () => pins.get(q).contains(got)
  }
}

final class Etl(data: String, val in: EtlInputs, work: String) extends Workload {
  val tables = Seq("part")
  val warmPasses = 1
  private val runDate = Date.valueOf("2024-06-01")
  private val primary = "Brand#1"
  private val others = Seq("Brand#2", "Brand#3")
  private val expected = EtlGen.expected(in.kept, primary, others.toSet)
  private val out = s"$work/out"
  private var last: (Seq[(String, DataFrame)], Pipeline.Dims) = _

  def order(seed: Long, pass: Int): Seq[String] = Seq("pipeline")

  /** The 14 source frames by reader kind: API payloads, then file feeds. */
  private def frames(spark: SparkSession, t: Option[Tracer]): Seq[(String, DataFrame)] = {
    def p(f: String) = s"${in.dir}/$f"
    val from = Timestamp.valueOf(EtlGen.From)
    val to = Timestamp.valueOf(EtlGen.To)
    def timed(kind: String)(df: => DataFrame): (String, DataFrame) =
      kind -> t.fold(df)(_.span(s"extract.build.$kind")(df))
    Seq(
      timed("json")(Payloads.walmart(spark, p("walmart"))),
      timed("xml")(Payloads.houzz(spark, p("houzz"))),
      timed("json")(Payloads.faire(spark, p("faire"))),
      timed("json")(Payloads.wooCommerce(spark, p("woo"), "woo_site1", from, to)),
      timed("json")(Payloads.dsco(spark, p("dsco_t1"), "dsco_t1", from, to)),
      timed("json")(Payloads.dsco(spark, p("dsco_t2"), "dsco_t2", from, to)),
      timed("json")(Payloads.mirakl(spark, p("mirakl"), "mirakl_s1")),
      timed("json")(Payloads.wayfair(spark, p("wayfair"))),
      timed("csv")(Feeds.read(spark, FileFeed(p("macys.csv"), headerOffset = 4,
        renames = Map("Vendor SKU" -> "sku", "Quantity" -> "qty"),
        siteColumn = Some("Merchant")))),
      timed("csv")(Feeds.read(spark, FileFeed(p("amazon.csv"), sep = "\t",
        renames = Map("quantity" -> "qty"), siteLiteral = Some("Amazon")))),
      timed("csv")(Feeds.read(spark, FileFeed(p("tom.csv"),
        renames = Map("Item SKU" -> "sku", "Qty" -> "qty"), siteLiteral = Some("Touch OF Modern")))),
      timed("csv")(Feeds.read(spark, FileFeed(p("hsn.csv"), siteLiteral = Some("HSN")))),
      timed("csv")(Feeds.read(spark, FileFeed(p("rue.csv"),
        renames = Map("Vendor SKU" -> "sku", "Quantity" -> "qty"),
        siteLiteral = Some("Ruelala & Gilt")))),
      timed("csv")(Excel.readFeed(spark, FileFeed(p("walmart_dsv.xlsx"),
        renames = Map("SKU" -> "sku", "Qty" -> "qty"), siteLiteral = Some("Walmart")))))
  }

  private def dims(spark: SparkSession) = Pipeline.Dims(
    graft.Tables.skuMap(spark, data), graft.Tables.salesMap(spark, data),
    graft.Tables.stock(spark, data), graft.Tables.wholesaleMap(spark, data))

  def run(spark: SparkSession, op: String, t: Option[Tracer]): () => Boolean = {
    EtlGen.deleteTree(new File(out))
    def pipeline(fr: Seq[(String, DataFrame)], d: Pipeline.Dims): Unit = {
      last = (fr, d)
      Pipeline.run(fr.map(_._2), d, runDate, out, primary, others)
    }
    t match {
      case None => pipeline(frames(spark, None), dims(spark))
      case Some(tr) => tr.span("op:etl") {
        val (fr, d) = tr.span("build")((frames(spark, t), dims(spark)))
        tr.span("probe")(pipeline(fr, d))
      }
    }
    () => expected.forall { case (sink, (rows, qty)) =>
      val (r, q) = EtlGen.readSink(Paths.get(out, sink))
      val ok = r == rows && math.abs(q - qty) <= 1e-9 * math.max(1.0, math.abs(qty))
      if (!ok) System.err.println(s"[perfbench] sink $sink: got ($r, $q), want ($rows, $qty)")
      ok
    }
  }

  override def layers(spark: SparkSession, t: Tracer): Unit = t.span("layers") {
    val (fr, d) = last
    for (kind <- Seq("json", "xml", "csv"))
      t.span(s"extract.probe.$kind")(fr.filter(_._1 == kind).foreach(f => Probe(f._2)))
    // cumulative probes at each stage's output, three times each: the
    // stage self times are differences of their medians
    val clean = Clean.cleanSales(fr.map(_._2))
    val fin = Aggregate.wholesaleAgg(Aggregate.retailAgg(clean), d.skuMap)
    val stages = Seq("extract" -> Clean.unionAll(fr.map(_._2)), "clean" -> clean,
      "aggregate" -> fin, "inventory" -> Inventory.decrement(d.stock, fin),
      "enrich" -> Enrich.enrichSales(clean, d.salesMap, runDate))
    for ((n, df) <- stages; _ <- 1 to 3) t.span(s"transform.cum.$n")(Probe(df))
  }

  def outputFiles: (Long, Long) = {
    val fs = Files.walk(Paths.get(out)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")).toSeq
    (fs.size.toLong, fs.map(Files.size(_)).sum)
  }
}

object Main {
  /** One query per ext module; q113 and q344 are the shuffle-bound ones. */
  val Heavy: Seq[(String, String)] = Seq(
    "q101_triangles" -> "Graph", "q368_longest_repeat" -> "SuffixDedup",
    "q181_ivfpq_topk" -> "Clustering", "q113_setsim_join" -> "SetSim",
    "q344_kruskal_wallis" -> "RankStats")
  val Modules: Seq[String] = Heavy.map(_._2).distinct

  val Cores = 4

  def session(work: String): SparkSession = {
    val s = GraftSession.builder(s"local[$Cores]", Cores, "perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.debug.maxToStringFields", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def readPins(f: String): Map[String, (Long, Long)] =
    Files.readAllLines(Paths.get(f)).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val a = l.split("\t"); a(0) -> (a(1).toLong, a(2).toLong) }.toMap

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = a("work")
    val data = a("data")
    a("mode") match {
      case "prepare" =>
        val s = session(work)
        TableGen.write(s, data)
        stop(s)
      case "record" =>
        val s = session(work)
        val lines = Heavy.map(_._1).map { q =>
          val (c, x) = Probe(SparkEntry.queries(q)(s, data)); s"$q\t$c\t$x" }
        stop(s)
        Files.write(Paths.get(a("pins")), ("# query\tcount\tbit_xor(xxhash64(*))\n" +
          lines.mkString("", "\n", "\n")).getBytes("UTF-8"))
      case "run" => Runner(a, work, data).run()
    }
  }
}

/** One benchmark run: set-up (session build and warm-up), the measured
  * (and, with tracing, the traced) passes, then the result line.
  */
final case class Runner(a: Map[String, String], work: String, data: String) {
  private val name = a("workload")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private var attempted = 0L
  private var failed = 0L
  private val meta = mutable.LinkedHashMap.empty[String, Any]

  private def now = System.nanoTime()

  def run(): Unit = {
    val launchedMs = a("launched_ms").toLong
    val genT0 = now
    val wl: Workload = name match {
      case "etl_nightly" =>
        val dir = s"$work/inputs"
        EtlGen.deleteTree(new File(dir))
        val in = EtlGen.generate(seed, dir)
        meta("etl_lines_per_op") = in.lines
        meta("etl_input_mb") = in.bytes / 1048576.0
        new Etl(data, in, work)
      case "query_heavy" => new Queries(data, Main.readPins(a("pins")))
    }
    val inputGen = (now - genT0) / 1e9
    meta("input_gen_s") = inputGen

    // set-up, as setup_s counts it: from JVM launch through the session
    // build and the warm-up passes to the first timed op, less the input
    // generation above
    val t0 = now
    val spark = Main.session(work)
    val t1 = now
    if (traced) graft.CodegenWatch.install()
    (0 until wl.warmPasses).foreach(p => pass(spark, wl, wl.order(seed, -1 - p), None))
    val t2 = now
    val setup = (System.currentTimeMillis() - launchedMs) / 1e3 - inputGen
    meta("jvm_start_s") = setup - (t2 - t0) / 1e9
    meta("session_s") = (t1 - t0) / 1e9
    meta("warmup_passes") = wl.warmPasses
    meta("warmup_s") = (t2 - t1) / 1e9

    val gc0 = gcSeconds
    val samples = mutable.ArrayBuffer.empty[Double]
    val byOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val plain = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val end = now + (seconds * 1e9).toLong
    var p = 0
    while (now < end || (traced && tracedWalls.isEmpty)) {
      val ord = wl.order(seed, p)
      if (traced && p % 2 == 1) {
        val tr = tracer.get
        tr.trace = p
        tr.open()
        tr.span("pass") {
          tr.span("tables")(wl.tables.foreach(t =>
            tr.span(s"tables.load:$t")(graft.Tables.load(spark, data, t))))
          pass(spark, wl, ord, tracer)
          wl.layers(spark, tr)
        }
        tr.close()
        tracedWalls += tr.spans.filter(s => s.trace == p && s.name.startsWith("op:"))
          .map(_.seconds).sum
      } else {
        val times = pass(spark, wl, ord, None)
        samples ++= times
        ord.zip(times).foreach { case (o, x) => byOp.getOrElseUpdate(o, mutable.ArrayBuffer.empty) += x }
        plain += times.sum
      }
      p += 1
    }
    val gcPerPass = (gcSeconds - gc0) / math.max(1, p)
    meta("measured_passes") = plain.size
    meta("pass_s") = plain.map(x => f"$x%.3f").mkString("[", ",", "]")
    meta("op_samples") = samples.size
    meta("op_median_s") = byOp.toSeq.sortBy(_._1).map { case (o, xs) =>
      f""""$o":${Main.median(xs.toSeq)}%.4f""" }.mkString("{", ",", "}")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      metrics("setup_s") = (setup, "s")
      metrics("ops_per_s") = (samples.size / samples.sum, "1/s")
    } else {
      metrics("session.start_s") = ((t1 - t0) / 1e9, "s")
      metrics("session.warmup_s") = ((t2 - t1) / 1e9, "s")
      val etl = wl match { case e: Etl => Some(e); case _ => None }
      new LayerMetrics(tracer.get, etl, data).all()
        .foreach { case (k, v) => metrics(k) = v }
      metrics("jvm.gc_s") = (gcPerPass, "s")
      metrics("jvm.heap_peak_mb") = (heapPeakMb, "MB")
      metrics("jvm.rss_peak_mb") = (vmHwmMb, "MB")
      metrics("trace.overhead_frac") =
        (Main.median(tracedWalls.toSeq) / Main.median(plain.toSeq) - 1.0, "frac")
      tracer.get.write(new File(s"$work/trace-$name-$seed.jsonl"))
    }
    Main.stop(spark)

    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
    val metaJson = meta.map { case (k, v) => s""""$k":${v match {
      case d: Double => num(d); case o => o.toString }}""" }.mkString("{", ",", "}")
    val body = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    val line = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$body}"""
    Files.write(Paths.get(a("out")), (s"""{"meta":$metaJson}""" + "\n" + line + "\n").getBytes("UTF-8"))
  }

  /** Runs one pass; returns each op's seconds (checks are untimed). */
  private def pass(spark: SparkSession, wl: Workload, ops: Seq[String],
                   t: Option[Tracer]): Seq[Double] = ops.map { op =>
    attempted += 1
    val t0 = now
    try {
      val check = wl.run(spark, op, t)
      val dt = (now - t0) / 1e9
      if (!check()) { failed += 1; System.err.println(s"[perfbench] $op: output check failed") }
      dt
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $op failed: $e")
        (now - t0) / 1e9
    }
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def vmHwmMb: Double = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
