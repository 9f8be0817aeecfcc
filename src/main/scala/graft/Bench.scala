package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{bit_xor, col, count, expr, lit, xxhash64}
object Bench {

  /** Machine-state calibration: three FIXED synthetic probes — never
    * engine queries, so the numbers are CODE-INVARIANT across rounds
    * (an engine query's plan changes as the library evolves; a
    * calibration that moves with the code cannot separate "the box was
    * loaded" from "the code got slower"). Timed first/mid/last per bench
    * run and recorded under "calibration" in BENCH_LOCAL.json;
    * tools/bench_drift.py divides per-query ratios by the run-state
    * ratio before flagging, so a uniformly-loaded box no longer paints
    * 8 untouched queries as regressions (the r9→r10 lesson: two
    * same-code full runs disagreed 10% whole-run and flipped individual
    * flags in both directions).
    *   - cpu_hash: one long codegen'd hash scan — CPU/memory-bandwidth
    *   - shuffle_agg: a 4096-key aggregate — exchange + combine path
    *   - task_sched: 320 tiny tasks — scheduler/dispatch overhead
    */
  private val calibrationProbes: Seq[(String, SparkSession => Unit)] = Seq(
    "cpu_hash" -> ((s: SparkSession) => {
      s.range(600000000L).select(bit_xor(xxhash64(col("id")))).head(); () }),
    "shuffle_agg" -> ((s: SparkSession) => {
      s.range(40000000L).groupBy(expr("id % 4096").as("k"))
        .agg(count(lit(1)).as("c"))
        .select(bit_xor(xxhash64(col("k"), col("c")))).head(); () }),
    "task_sched" -> ((s: SparkSession) => {
      s.range(3200L).repartition(320).count(); () }))

  private def calibrate(spark: SparkSession): Seq[(String, Double)] =
    calibrationProbes.map { case (name, fn) => (name, Runner.timed(fn(spark))._2) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // n warm runs per query, min reported: one noisy sample (GC pause,
    // plan-cache interaction from neighboring queries in the long run)
    // cannot masquerade as a regression — the round-2 q08 lesson
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // SPARK_GRAFT_BENCH_ONLY=q55,q57 restricts the run to queries whose
    // name starts with one of the comma-separated prefixes — for iterating
    // on one query without paying the full suite
    val named = Runner.select("SPARK_GRAFT_BENCH_ONLY")
    // runtime codegen-bailout detection (the q296 lesson: a silent
    // interpreted-mode fallback is invisible to plan strings and costs
    // up to 36×) — any query that executes interpreted is NAMED in the
    // bench record under "codegen_bailouts" and flips its codegen_ok
    val spark = Runner.session()
    // absorb session/codegen/parquet-footer/page-cache warmup outside the
    // timings: one scan per base table (the first timed query would
    // otherwise pay the whole corpus's cold IO), then run in stable name
    // order
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("lineitem", "part", "orders", "customer", "supplier",
        "events", "documents", "embeddings").foreach { t =>
      Runner.attempt("bench", s"warm-up scan of $t")(spark.read.parquet(s"$sfDir/$t.parquet").count())
    }
    SparkEntry.queries.headOption.foreach { case (name, fn) =>
      Runner.attempt("bench", s"warm-up $name")(Runner.checksum(fn(spark, sfDir)))
    }
    // calibration warmup (JIT/codegen for the probes themselves), then
    // the FIRST sample; MID lands after the middle pass, LAST after the
    // final pass — three spaced snapshots of machine state per run
    // (reps=1 collapses mid and last into one: two samples total).
    // Skipped entirely for SPARK_GRAFT_BENCH_ONLY runs: drift correction
    // only compares full-suite snapshots, and the probes would add tens
    // of seconds of fixed cost to the one-query iteration loop.
    val calibrated = !sys.env.contains("SPARK_GRAFT_BENCH_ONLY")
    if (calibrated) calibrationProbes.foreach { case (name, fn) =>
      Runner.attempt("bench", s"calibration warm-up $name")(fn(spark)) }
    val calSamples = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    if (calibrated) calSamples += calibrate(spark)
    val midAfterPass = math.max(1, (reps + 1) / 2)
    // Reps run as FULL PASSES over the suite (rep loop outside the query
    // loop), not back-to-back per query: the round-3 suite run showed
    // minutes-long transient machine load (co-resident verify/oracle
    // processes) poisoning ALL consecutive reps of the early queries
    // (q02 2.1s→28.2s while late queries improved) — spacing a query's
    // reps minutes apart decorrelates the min from any one load spike
    val passes = (1 to reps).map { rep =>
      val pass = named.map { case (name, fn) =>
        name -> Runner.attempt("bench", s"$name rep $rep")(Runner.checksum(fn(spark, sfDir)))
      }.toMap
      if (calibrated && (rep == midAfterPass || rep == reps))
        calSamples += calibrate(spark)
      pass
    }
    // (name, best seconds, ok): a throwing query is reported in `failed` and
    // its partial elapsed time excluded from `value` instead of silently
    // counted; a query that fails any rep is failed (no silent best-of),
    // and a failed rep's fast-abort elapsed never pollutes the reported min.
    val results = named.map { case (name, _) =>
      val runs = passes.map(_(name))
      val good = runs.filter(_.ok).map(_.seconds)
      (name, (if (good.nonEmpty) good else runs.map(_.seconds)).min, runs.forall(_.ok))
    }
    // a query is codegen-clean only if NO rep recorded a fallback WARN
    val bailed = named.map(_._1).filter(name => passes.exists(_(name).bailouts.nonEmpty))
    val qs = results.map { case (k, v, _) => s"${Runner.quote(k)}:$v" }.mkString("{", ",", "}")
    // per-query codegen_ok (directive: interpreted execution must be
    // visible in the bench record, not just wall-clock drift)
    val cg = results.map { case (k, _, _) => s"${Runner.quote(k)}:${!bailed.contains(k)}" }
      .mkString("{", ",", "}")
    val bailedJson = bailed.map(Runner.quote).mkString("[", ",", "]")
    val failed = results.collect { case (k, _, false) => Runner.quote(k) }.mkString("[", ",", "]")
    val total = results.collect { case (_, v, true) => v }.sum
    // stop FIRST, then emit: executor/session shutdown must not interleave
    // its own console output with the lines a reader machine-parses
    spark.stop()
    // calibration object: probe name -> [first, mid, last] seconds (one
    // array entry per snapshot; drift tooling takes the median of all;
    // empty arrays on SPARK_GRAFT_BENCH_ONLY runs — drift never compares
    // partial snapshots, and bench_drift falls back to the proxy factor)
    val calJson = calibrationProbes.map { case (name, _) =>
      val samples = calSamples.map(_.find(_._1 == name).get._2)
      // Locale.ROOT: the f-interpolator is locale-dependent and a
      // decimal-comma locale would corrupt the JSON line
      Runner.quote(name) + ":" + samples
        .map(s => String.format(java.util.Locale.ROOT, "%.4f",
          Double.box(s)))
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val fileLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"codegen_ok":$cg,"codegen_bailouts":$bailedJson,"reps":$reps,"probe":"xxhash64-checksum","calibration":$calJson,"sf":"$sfDir"}"""
    write("BENCH_LOCAL.json", fileLine)
    // A reader may keep only a ~2000-char tail of stdout and parse its
    // last line, so the total line stays SHORT and LAST (round-4 fix: a
    // 225-entry map inline on that line got its leading "metric" field cut
    // off the front → "parsed": null). The per-query map rides:
    //  - on its own stdout line directly before the total line, where a
    //    tail cut can shorten only the map line, never the total line;
    //  - in BENCH_RESULT.json (the total line plus the map, one object)
    //    and in BENCH_LOCAL.json (plus codegen_ok), stable files a reader
    //    needs no log-prefix stripping for (BENCH_r04/r05 came back
    //    "parsed": null when the stdout line carried sbt's "[info] ").
    val stdoutShort = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":$failed,"codegen_bailouts":$bailedJson,"reps":$reps,"probe":"xxhash64-checksum","calibration":$calJson,"sf":"$sfDir","queries_file":"BENCH_LOCAL.json"}"""
    write("BENCH_RESULT.json", stdoutShort.dropRight(1) + s""","queries":$qs}""")
    System.out.flush(); System.err.flush()
    println(qs)
    println(stdoutShort)
    System.out.flush()
  }

  private def write(file: String, line: String): Unit =
    Runner.attempt("bench", s"writing $file")(
      java.nio.file.Files.write(java.nio.file.Paths.get(file), (line + "\n").getBytes("UTF-8")))
}
