package graft

import scala.util.{Failure, Success, Try}

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
  * Usage: `runMain graft.Determinism <sfDir> [out.json]` — runs on
  * [[Runner.session]] (`local[SPARK_GRAFT_CPUS]`, default 4);
  * `SPARK_GRAFT_DET_ONLY=q1,q2` restricts the run to those name prefixes.
  * Exits nonzero on any mismatch; writes one JSON line per query.
  */
object Determinism {

  private[graft] type Checksum = Try[(Long, Long)]

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = if (args.length > 1) args(1) else "DETERMINISM.json"
    val selected = Runner.select("SPARK_GRAFT_DET_ONLY")
    val spark = Runner.session()
    val results = selected.map { case (n, fn) =>
      val Seq(a, b) = Seq(5, 32).map { parts =>
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        Runner.attempt("determinism", s"$n at $parts partitions")(Runner.checksum(fn(spark, sfDir))).result
      }
      (n, a, b)
    }
    val bad = results.filterNot { case (_, a, b) => same(a, b) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), render(results))
    spark.stop()
    println(s"determinism: ${results.size - bad.size}/${results.size} layout-invariant" +
      (if (bad.nonEmpty) s"; MISMATCHES: ${bad.map(_._1).mkString(", ")}" else ""))
    if (bad.nonEmpty) sys.exit(1)
  }

  private def same(a: Checksum, b: Checksum): Boolean = a.isSuccess && a == b

  /** The JSON document: one line per query with its verdict and each
    * layout's (rows, hash), or the first 120 characters of its failure. */
  private[graft] def render(results: Seq[(String, Checksum, Checksum)]): String = {
    def side(c: Checksum): String = c match {
      case Success((n, h)) => s"""{"rows":$n,"hash":$h}"""
      case Failure(e) => Runner.quote(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(120))
    }
    results.map { case (n, a, b) =>
      s"""  ${Runner.quote(n)}: {"ok":${same(a, b)},"p5":${side(a)},"p32":${side(b)}}"""
    }.mkString("{\n", ",\n", "\n}\n")
  }
}
