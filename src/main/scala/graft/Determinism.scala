package graft

/** Determinism gate: every registered query, evaluated under two different
  * physical layouts (shuffle partition counts 5 and 32 — different
  * reduction trees, different row orders, different AQE decisions), must
  * produce the SAME order-insensitive whole-result checksum
  * (`bit_xor(xxhash64(all columns))`, commutative over rows).
  *
  * This is the property the oracle gate cannot see: DuckDB runs once, so a
  * result that depends on Spark's partitioning (an order-dependent float
  * fold, a non-deterministic tie-break, driver-held state trained on a
  * partition-dependent sample) can still hash-match the oracle on the
  * lucky layout. Running the whole registry under two layouts and
  * comparing checksums pins engine-side determinism directly — the
  * property every exactness note in this repo ("repartition-invariant",
  * "bit-stable") claims locally, enforced globally.
  *
  * Usage: `runMain graft.Determinism <sfDir> [out.json]` — exits nonzero
  * on any mismatch; writes one JSON line per query.
  */
object Determinism {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = if (args.length > 1) args(1) else "DETERMINISM.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def checksum(name: String, parts: Int): Either[String, (Long, Long)] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try Right(Bench.checksum(SparkEntry.queries(name)(spark, sfDir)))
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }

    val only = sys.env.get("SPARK_GRAFT_DET_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    val results = names.map { n =>
      val a = checksum(n, 5)
      val b = checksum(n, 32)
      val ok = (a, b) match {
        case (Right(x), Right(y)) => x == y
        case _ => false
      }
      (n, a, b, ok)
    }
    val bad = results.filterNot(_._4)
    def fmt(e: Either[String, (Long, Long)]): String = e match {
      case Right((n, h)) => s"""{"rows":$n,"hash":$h}"""
      case Left(err) => s""""${err.replace("\"", "'").take(120)}""""
    }
    val json = results.map { case (n, a, b, ok) =>
      s"""  "$n": {"ok":$ok,"p5":${fmt(a)},"p32":${fmt(b)}}"""
    }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    spark.stop()
    println(s"determinism: ${results.size - bad.size}/${results.size} layout-invariant" +
      (if (bad.nonEmpty) s"; MISMATCHES: ${bad.map(_._1).mkString(", ")}" else ""))
    if (bad.nonEmpty) sys.exit(1)
  }
}
