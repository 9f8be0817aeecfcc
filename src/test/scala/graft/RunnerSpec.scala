package graft

import scala.util.{Failure, Success}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row

/** The harness Bench, Verify, Determinism and Tool share: the prefix
  * selection, the per-query failure record and its codegen attribution,
  * and the JSON that Determinism writes from it. */
class RunnerSpec extends SparkSpec {

  private val Vars = Seq("SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_VERIFY_ONLY", "SPARK_GRAFT_DET_ONLY")

  test("prefix selection is sorted by name and keeps only the given prefixes") {
    val names = Runner.select("SPARK_GRAFT_BENCH_ONLY",
      Map("SPARK_GRAFT_BENCH_ONLY" -> "q2, q1,")).map(_._1)
    val expected = SparkEntry.queries.keys.toSeq
      .filter(n => n.startsWith("q1") || n.startsWith("q2")).sorted
    assert(expected.nonEmpty)
    assert(names == expected)
  }

  test("an unset variable selects every registered query, sorted") {
    assert(Runner.select("SPARK_GRAFT_VERIFY_ONLY", Map.empty).map(_._1) ==
      SparkEntry.queries.keys.toSeq.sorted)
  }

  test("an unmatched or empty prefix list fails, naming the variable and its value") {
    Vars.foreach { v =>
      val typo = intercept[IllegalArgumentException](Runner.select(v, Map(v -> "qq_typo")))
      assert(typo.getMessage.contains(s"$v=qq_typo"), typo.getMessage)
      val empty = intercept[IllegalArgumentException](Runner.select(v, Map(v -> " ")))
      assert(empty.getMessage.contains(s"$v= "), empty.getMessage)
    }
  }

  test("a failing body is recorded with its class and message, and the next one runs") {
    val err = new java.io.ByteArrayOutputStream
    val (bad, good) = Console.withErr(err) {
      (Runner.attempt("t", "q_bad")(throw new IllegalStateException("boom")),
        Runner.attempt("t", "q_good")(42))
    }
    assert(!bad.ok)
    assert(bad.result.failed.get.isInstanceOf[IllegalStateException])
    assert(err.toString("UTF-8").trim == "[t] q_bad failed: java.lang.IllegalStateException: boom")
    assert(good.ok && good.result == Success(42))
  }

  test("a fatal error is not recorded: it ends the run") {
    intercept[OutOfMemoryError](Runner.attempt("t", "q")(throw new OutOfMemoryError("forced")))
  }

  test("a codegen bailout is charged to the attempt that logged it") {
    val _ = spark // session before install (see CodegenWatchSpec)
    CodegenWatch.install()
    val key = "spark.sql.codegen.hugeMethodLimit"
    def aggregate(): Unit = {
      val d = df("k INT, v BIGINT", Seq(Row(1, 10L), Row(2, 20L), Row(1, 5L)))
      d.groupBy("k").sum("v").collect()
    }
    def forced(): Unit = {
      val prev = spark.conf.get(key, "65535")
      try { spark.conf.set(key, "1"); aggregate() } finally spark.conf.set(key, prev)
    }
    forced() // queued before either attempt: charged to neither
    val first = Runner.attempt("t", "first")(aggregate())
    val second = Runner.attempt("t", "second")(forced())
    assert(first.ok && second.ok)
    assert(first.bailouts.isEmpty, first.bailouts)
    assert(second.bailouts.exists(m => m.contains("Found too long generated codes")
      || m.contains("Whole-stage codegen disabled")), second.bailouts)
  }

  test("Determinism's JSON keeps a failure message with a quote, a backslash and a newline") {
    val msg = "cannot resolve \"col\" in C:\\tmp\nline two"
    val json = Determinism.render(Seq(
      ("q1_fails", Failure(new RuntimeException(msg)), Success((3L, -7L))),
      ("q2_same", Success((1L, 2L)), Success((1L, 2L)))))
    val tree = new ObjectMapper().readTree(json)
    assert(tree.get("q1_fails").get("p5").asText == s"RuntimeException: $msg")
    assert(!tree.get("q1_fails").get("ok").asBoolean)
    assert(tree.get("q1_fails").get("p32").get("hash").asLong == -7L)
    assert(tree.get("q2_same").get("ok").asBoolean)
    assert(tree.get("q2_same").get("p5").get("rows").asLong == 1L)
  }
}
