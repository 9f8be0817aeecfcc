package graft

import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}

/** The harness shared by the mains that walk the registered queries
  * ([[SparkEntry.queries]]): `Bench`, `Verify`, `Determinism` and `Tool`.
  * It owns the one session, the one query selection and the one
  * per-query failure record, so the four differ only in what they do
  * with each query's result.
  */
private[graft] object Runner {

  type Query = (SparkSession, String) => DataFrame

  /** The session: `local[SPARK_GRAFT_CPUS]` (default 4), UI off, console
    * logging at ERROR, and the codegen watch installed. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      // a WARN mid-run (e.g. SparkStringUtils plan truncation) can land
      // between stdout flushes and corrupt the JSON lines Bench prints
      // for a parser — BENCH_r03 came back "parsed: null" exactly this way.
      // Nothing below ERROR may write to the console during a run.
      .config("spark.sql.debug.maxToStringFields", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // after getOrCreate: Spark's logging init replaces the log4j2
    // configuration and would detach an earlier watch
    CodegenWatch.install()
    spark
  }

  /** The registered queries sorted by name; when `variable` is set in
    * `env`, only those whose name starts with one of its comma-separated
    * prefixes. An empty selection fails naming the variable and its value:
    * a zero-query run would otherwise read as a healthy one. */
  def select(variable: String, env: Map[String, String] = sys.env): Seq[(String, Query)] = {
    val only = env.get(variable).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    require(picked.nonEmpty,
      s"$variable=${env.getOrElse(variable, "")} matches no registered query")
    picked
  }

  /** The named registered queries in the given order, or every one sorted
    * by name when `names` is empty; an unknown name fails before any runs. */
  def named(names: Seq[String]): Seq[(String, Query)] = {
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) queries.toSeq.sortBy(_._1) else names.map(n => n -> queries(n))
  }

  /** One run of a body: its result or non-fatal failure, its seconds, and
    * the codegen fallback messages logged while it ran. */
  final case class Attempt[A](result: Try[A], seconds: Double, bailouts: Seq[String]) {
    def ok: Boolean = result.isSuccess
  }

  /** Runs `body` for `name`. The codegen watch is drained first (anything
    * queued belongs to earlier work) and after, so a bailout is charged to
    * the body that logged it. A non-fatal failure is recorded and named on
    * stderr as `[label] name failed: <class>: <message>`; a fatal error
    * (out of memory, a linkage error) ends the run. */
  def attempt[A](label: String, name: String)(body: => A): Attempt[A] = {
    CodegenWatch.drain()
    val (result, seconds) = timed(Try(body))
    result.failed.foreach(e =>
      Console.err.println(s"[$label] $name failed: ${e.getClass.getName}: ${e.getMessage}"))
    Attempt(result, seconds, CodegenWatch.drain())
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The timed probe and its value: (row count, whole-row xxhash64 folded
    * with bit_xor), an empty result hashing to 0. Order-insensitive, so two
    * plans of one query compare equal whatever their partitioning.
    *
    * Never `count()`: under `count()` ColumnPruning deletes any operator
    * whose outputs the count never references — e.g. a composed as-of
    * join's entire window collapses to union+filter, timing a plan that
    * never computes the match (round-4 finding; SCALING.md). Hashing every
    * output column forces the full operator semantics to execute; the hash
    * itself costs O(output rows), negligible for every registered query.
    */
  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.select(count(lit(1)), bit_xor(xxhash64(df.columns.toSeq.map(col): _*))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** `s` as a JSON string literal: backslash, quote and every control
    * character (< 0x20) escaped — a tab or CR in hand-written oracle SQL or a
    * multi-line Spark error would otherwise make the reader's json.load
    * fail. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
