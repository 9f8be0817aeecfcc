package graft
import org.apache.spark.sql.types.{ArrayType, DecimalType, MapType, StructType}
import java.nio.file.{Files, Paths}
import Runner.quote
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Registration-time output-shape lint. The driver's oracle harness
    * canonicalizes by sorting rows on ALL columns in pandas, so any
    * top-level ARRAY / MAP / STRUCT column is unhashable there and the
    * query becomes unverifiable (round-4 q144/q148: correct operators,
    * red gate rows). Every registered query must emit only scalar
    * top-level columns — explode arrays to rows or project them to fixed
    * columns (the q14 h0..h15 pattern) before registering.
    *
    * Top-level DecimalType is rejected for the same reason (round-5 q228:
    * values identical to the cent, red gate row): Spark parquet DECIMAL
    * reaches the canonicalizer as `decimal.Decimal("…10.20")` while
    * DuckDB DECIMAL converts to float64 `…10.2` — trailing-zero cents
    * stringify differently. Sum money in DECIMAL internally; cast the
    * registered boundary to DOUBLE or integer cents.
    */
  def assertHarnessSafe(name: String, schema: StructType): Unit = {
    val bad = schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType]
             || f.dataType.isInstanceOf[MapType]
             || f.dataType.isInstanceOf[StructType] =>
        s"${f.name}: ${f.dataType.simpleString} (unsortable in the " +
          "oracle canonicalizer — explode to rows or project to scalars)"
      case f if f.dataType.isInstanceOf[DecimalType] =>
        s"${f.name}: ${f.dataType.simpleString} (Decimal-vs-float64 " +
          "stringification diverges — cast the output boundary to " +
          "DOUBLE or integer cents)"
    }
    require(bad.isEmpty,
      s"$name emits top-level columns the driver's oracle compare " +
        s"cannot hash stably: ${bad.mkString(", ")}")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_VERIFY_ONLY=q72,q73 → dump (and list oracles for) only
    // queries with a matching name prefix — local iteration aid, same
    // contract as the bench's SPARK_GRAFT_BENCH_ONLY; unset for the driver
    val selected = Runner.select("SPARK_GRAFT_VERIFY_ONLY")
    val spark = Runner.session()
    new java.io.File(outDir).mkdirs()
    // name any query whose execution silently fell back to interpreted
    // mode (codegen bailout) — dumped as codegen_bailouts.json below and
    // gated red by tools/gate.sh
    val bailouts = selected.flatMap { case (name, fn) =>
      val run = Runner.attempt("verify", name) {
        val out = fn(spark, sfDir)
        // fail THIS query loudly (missing output → a red oracle row)
        // rather than shipping a shape the oracle compare cannot hash
        assertHarnessSafe(name, out.schema)
        out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      if (run.bailouts.isEmpty) None else Some(name -> run.bailouts.distinct.take(3))
    }
    // {SF_DIR} templating: file-addressed oracles (q227's
    // parquet_file_metadata) need the data directory, which only this
    // dump knows; the driver runs the oracle against the same directory
    // it invoked Verify with, so substituting here keeps them in lockstep
    val names = selected.map(_._1).toSet
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${quote(k)}: ${quote(v.replace("{SF_DIR}", sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // {} when every query executed compiled — the healthy state gate.sh
    // asserts; a named entry is a q296-class silent 36× slowdown
    val bailJson = bailouts
      .map { case (k, ms) => s"${quote(k)}: ${ms.map(quote).mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/codegen_bailouts.json"), bailJson)
    if (bailJson != "{}")
      System.err.println(s"[verify] CODEGEN BAILOUTS: $bailJson")
    spark.stop()
  }
}
