package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Developer commands over the registered queries ([[SparkEntry.queries]]),
  * sharing one session ([[Bench.session]]), one checksum
  * ([[Bench.checksum]]) and one query selection:
  *
  * {{{
  *   graft.Tool time  <sfDir> [--reps N] (<query>... | --top N)
  *   graft.Tool plan  <sfDir> [--final] [<query>...]
  *   graft.Tool trace <sfDir> <outDir> <query>...
  *   graft.Tool ab    <sfDir> <key>=<v1>|<v2> <query>...
  * }}}
  *
  *  - `time`: one warm-up run, then the best of `--reps` (default 3)
  *    timed checksum runs per query. `--top N` picks the N slowest
  *    queries of the `BENCH_LOCAL.json` in the working directory and
  *    prints each one's recorded time next to the fresh one.
  *  - `plan`: the formatted physical plan of each named query, or of
  *    every registered query when none is named. `--final` runs the query
  *    first and prints its final adaptive plan instead.
  *  - `trace`: runs each query and writes every plan it executes —
  *    including the per-round jobs that eager pins hide from a plain
  *    `explain` — to `<outDir>/<query>_trace.txt`, in completion order.
  *    The output is not reproducible for every query: in the
  *    SuffixDedup climb queries (q368, q376, q381) AQE converts to a
  *    broadcast whichever join side's shuffle stage finishes first, so
  *    two runs of the same classes can trace different plans. Compare
  *    two builds with `plan`, not `trace`.
  *  - `ab`: runs each query under every value of one session conf key
  *    and compares the checksums, e.g.
  *    `ab <sfDir> 'spark.graft.broadcastBytes=134217728|0' q333_kcore`
  *    forces the shuffle arm of every two-arm Graph and SuffixDedup
  *    operator (that key is their one broadcast budget). Exits 1 on any
  *    mismatch; the key's prior value is restored afterwards.
  *
  * Checksums, never `count()`: under `count()` ColumnPruning deletes any
  * operator whose outputs the count does not reference, so the timed or
  * compared plan would not be the query's.
  *
  *   sbt "runMain graft.Tool plan <sfDir> q01_retail_agg"
  */
object Tool {

  private val Usage = Seq(
    "usage: graft.Tool time  <sfDir> [--reps N] (<query>... | --top N)",
    "       graft.Tool plan  <sfDir> [--final] [<query>...]",
    "       graft.Tool trace <sfDir> <outDir> <query>...",
    "       graft.Tool ab    <sfDir> <key>=<v1>|<v2> <query>...").mkString("\n")

  private type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val spark = Bench.session()
    val code = try run(spark, args) finally spark.stop()
    sys.exit(code)
  }

  /** Runs one subcommand in `spark`; returns the process exit status. */
  def run(spark: SparkSession, args: Array[String]): Int = args.toList match {
    case "time" :: sfDir :: rest => time(spark, sfDir, rest)
    case "plan" :: sfDir :: rest => plan(spark, sfDir, rest)
    case "trace" :: sfDir :: outDir :: (names @ _ :: _) => trace(spark, sfDir, outDir, names)
    case "ab" :: sfDir :: arms :: (names @ _ :: _) => ab(spark, sfDir, arms, names)
    case _ => System.err.println(Usage); 2
  }

  /** The named registered queries in the given order, or every one sorted
    * by name when `names` is empty; an unknown name fails before any runs. */
  private def select(names: Seq[String]): Seq[(String, Query)] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val picked = if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names
    picked.map(n => n -> SparkEntry.queries(n))
  }

  /** Removes `flag value` from `args`, returning the value if present. */
  private def option(args: List[String], flag: String): (Option[String], List[String]) =
    args.indexOf(flag) match {
      case -1 => (None, args)
      case i =>
        require(i + 1 < args.length, s"$flag needs a value")
        (Some(args(i + 1)), args.patch(i, Nil, 2))
    }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Per-query seconds of the last `graft.Bench` run in the working
    * directory (its flat `"name":seconds` map), empty when there is none. */
  private def lastBench(): Map[String, Double] = {
    val p = Paths.get("BENCH_LOCAL.json")
    if (!Files.exists(p)) Map.empty
    else "\"(q[0-9]+[a-z0-9_]*)\":([0-9.Ee+-]+)".r
      .findAllMatchIn(Files.readString(p))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  private def time(spark: SparkSession, sfDir: String, args: List[String]): Int = {
    val (reps, rest) = option(args, "--reps")
    val (top, names) = option(rest, "--top")
    require(top.isEmpty != names.isEmpty, "time needs query names or --top N, not both")
    val last = lastBench()
    val targets = top.fold(names: Seq[String]) { n =>
      require(last.nonEmpty, "--top needs a BENCH_LOCAL.json from a prior graft.Bench run")
      last.toSeq.sortBy(-_._2).take(n.toInt).map(_._1)
    }
    val n = reps.fold(3)(_.toInt)
    require(n >= 1, "--reps must be at least 1")
    select(targets).foreach { case (name, fn) =>
      Bench.checksum(fn(spark, sfDir)) // warm-up
      val ((rows, _), best) = (1 to n).map(_ => timed(Bench.checksum(fn(spark, sfDir)))).minBy(_._2)
      val prev = last.get(name).fold("")(s => f"  (last bench: $s%.2f s)")
      println(f"TIME $name%-28s $best%8.3f s  $rows%,d rows$prev")
    }
    0
  }

  private def plan(spark: SparkSession, sfDir: String, args: List[String]): Int = {
    val finalPlan = args.contains("--final")
    select(args.filterNot(_ == "--final")).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      println(s"\n## $name\n")
      if (finalPlan) {
        df.collect()
        println(df.queryExecution.executedPlan)
      } else df.explain("formatted")
    }
    0
  }

  private def trace(spark: SparkSession, sfDir: String, outDir: String,
                    names: Seq[String]): Int = {
    val dir = Files.createDirectories(Paths.get(outDir))
    select(names).foreach { case (name, fn) =>
      val out = dir.resolve(s"${name}_trace.txt")
      Files.deleteIfExists(out)
      var n = 0
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
                               durationNs: Long): Unit = synchronized {
          n += 1
          val txt = s"\n== job $n ($funcName, ${durationNs / 1000000} ms) ==\n" +
            qe.executedPlan.toString + "\n"
          Files.write(out, txt.getBytes(StandardCharsets.UTF_8),
            StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        }
        override def onFailure(funcName: String, qe: QueryExecution,
                               exception: Exception): Unit = ()
      }
      // the listener is session-global: one query at a time, or a
      // concurrent job would interleave into this query's file
      spark.listenerManager.register(listener)
      try {
        Bench.probe(fn(spark, sfDir))
        // listener events post asynchronously: deliver every one posted
        // so far before the listener goes
        ListenerBusDrain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      println(s"$name: ${if (Files.exists(out)) Files.size(out) else 0L} bytes -> $out")
    }
    0
  }

  private def ab(spark: SparkSession, sfDir: String, arms: String,
                 names: Seq[String]): Int = {
    val (key, values) = arms.split("=", 2) match {
      case Array(k, vs) if k.nonEmpty && vs.contains('|') => (k, vs.split("\\|", -1).toSeq)
      case _ => throw new IllegalArgumentException(s"ab needs <key>=<v1>|<v2>, got '$arms'")
    }
    val prior = spark.conf.getOption(key)
    val parity = try select(names).map { case (name, fn) =>
      val results = values.map { v =>
        spark.conf.set(key, v)
        Bench.checksum(fn(spark, sfDir)) // cold run, untimed
        val (cs, warm) = timed(Bench.checksum(fn(spark, sfDir)))
        (v, cs, warm)
      }
      val ok = results.map(_._2).distinct.size == 1
      val cols = results.map { case (v, (rows, hash), warm) =>
        f"$v=(n=$rows,h=$hash) warm=$warm%.2fs" }
      println(f"$name%-28s ${cols.mkString("  ")}  PARITY=${if (ok) "OK" else "MISMATCH"}")
      ok
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val allOk = parity.forall(identity)
    println(s"AB PARITY ($key): ${if (allOk) "ALL OK" else "MISMATCH FOUND"}")
    if (allOk) 0 else 1
  }
}
