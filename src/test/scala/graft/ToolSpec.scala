package graft

import java.nio.file.Files
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Drives [[Tool]] inside the shared test session. The first `ab` case
  * compares every registered query that runs a two-arm Graph or
  * SuffixDedup operator under the default broadcast budget and under
  * `spark.graft.broadcastBytes=0`, which forces their shuffle arms;
  * `GraphSpec` does the same per operator on hand-built graphs. */
class ToolSpec extends SparkSpec {

  private val SfDir = "/root/testdata/sf0.001"

  private def output(args: String*): (Int, String) = {
    val buf = new java.io.ByteArrayOutputStream
    val code = Console.withOut(buf)(Tool.run(spark, args.toArray))
    (code, buf.toString("UTF-8"))
  }

  test("ab: broadcast and shuffle arms of the byte-gated operators agree") {
    val key = "spark.graft.broadcastBytes"
    val queries = Seq("q95_pagerank", "q101_triangles", "q146_label_propagation",
      "q152_bfs_distances", "q157_shortest_paths", "q273_hyperanf", "q283_hits",
      "q284_modularity", "q299_personalized_pagerank", "q305_assortativity",
      "q306_local_clustering", "q333_kcore", "q362_substr_dup_spans",
      "q368_longest_repeat", "q376_cross_corpus_repeat")
    val (code, out) = output(Seq("ab", SfDir, s"$key=134217728|0") ++ queries: _*)
    assert(code == 0, out)
    assert(out.linesIterator.count(_.endsWith("PARITY=OK")) == queries.size, out)
    assert(spark.conf.getOption(key).isEmpty, "ab must unset the key it had to set")
  }

  test("ab: restores a key that was set before the run") {
    val key = "spark.graft.midrankPartitions"
    spark.conf.set(key, "2")
    try {
      val (code, out) = output("ab", SfDir, s"$key=1|4", "q344_kruskal_wallis")
      assert(code == 0, out)
      assert(spark.conf.get(key) == "2")
    } finally spark.conf.unset(key)
  }

  test("time: prints one timing line per named query") {
    val (code, out) = output("time", SfDir, "--reps", "1", "q01_retail_agg")
    assert(code == 0, out)
    assert(out.linesIterator.exists(l =>
      l.startsWith("TIME q01_retail_agg") && l.contains(" rows")), out)
  }

  test("plan: prints the formatted physical plan") {
    val (code, out) = output("plan", SfDir, "q01_retail_agg")
    assert(code == 0, out)
    assert(out.contains("## q01_retail_agg"), out)
    assert(out.contains("Exchange"), out)
  }

  test("trace: when run returns, every execution has its section in the file") {
    val executions = new java.util.concurrent.atomic.AtomicInteger
    val counter = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        executions.incrementAndGet()
    }
    val dir = Files.createTempDirectory("trace")
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(counter)
    val (code, text) = try {
      val (code, _) = output("trace", SfDir, dir.toString, "q101_triangles")
      // read before anything else drains the bus: `trace` must have done it
      (code, Files.readString(dir.resolve("q101_triangles_trace.txt")))
    } finally {
      ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(counter)
    }
    assert(code == 0)
    val sections = text.linesIterator.count(_.startsWith("== job "))
    // the pins, the gate's head() and the checksum: several executions
    assert(executions.get > 3)
    assert(sections == executions.get, text)
  }

  test("an unknown subcommand or query name is rejected") {
    assert(output("nope")._1 == 2)
    intercept[IllegalArgumentException](output("plan", SfDir, "q0_no_such_query"))
  }
}
