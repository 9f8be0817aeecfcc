package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

/** Runtime detector for silent codegen bailouts.
  *
  * Motivation (SCALING.md, the q296 incident): a query whose PLAN prints
  * `WholeStageCodegen` can still EXECUTE interpreted — Janino compile
  * failure, or generated-method bytecode above
  * `spark.sql.codegen.hugeMethodLimit`, makes `WholeStageCodegenExec`
  * fall back to `child.execute()` at runtime, and expression codegen has
  * the same escape hatch via `spark.sql.codegen.fallback`. Plan-string
  * assertions cannot see any of this; the only first-party signal is a
  * WARN on a handful of well-known loggers. q296's first bootstrap-CI
  * rewrite ran 36× slow (386 s) exactly this way and was caught only by
  * wall-clock drift.
  *
  * This watch attaches one log4j2 appender to those loggers at WARN and
  * records every fallback message into a concurrent queue.
  * [[Runner.attempt]] drains the queue before and after each query it
  * runs, so a bailing query is NAMED in the round record (`codegen_ok` per query in BENCH_LOCAL.json;
  * `codegen_bailouts.json` in the Verify dump, gated red by
  * tools/gate.sh).
  *
  * Scope: local-mode (single JVM) — exactly where Bench/Verify run. On a
  * real cluster the same WARNs land in executor logs; the detector would
  * need a listener-bus relay, which local mode does not exercise.
  */
object CodegenWatch {

  /** The three first-party fallback messages (verified present in the
    * Spark 4.1.2 jars):
    *  - WholeStageCodegenExec compile failure → interpreted subtree;
    *  - generated method over hugeMethodLimit → interpreted subtree;
    *  - expression codegen failure under spark.sql.codegen.fallback.
    */
  private val patterns = Seq(
    "Whole-stage codegen disabled for plan",
    "Found too long generated codes",
    "Expr codegen error and falling back to interpreter mode")

  /** Loggers that emit the messages above. WholeStageCodegenExec logs the
    * first two; the `CodeGeneratorWithInterpretedFallback` implementors
    * (object loggers, `$` stripped by Spark's Logging) log the third.
    */
  private val watchedLoggers = Seq(
    "org.apache.spark.sql.execution.WholeStageCodegenExec",
    "org.apache.spark.sql.catalyst.expressions.UnsafeProjection",
    "org.apache.spark.sql.catalyst.expressions.MutableProjection",
    "org.apache.spark.sql.catalyst.expressions.SafeProjection",
    "org.apache.spark.sql.catalyst.expressions.Predicate",
    "org.apache.spark.sql.catalyst.expressions.RowOrdering")

  private val hits = new ConcurrentLinkedQueue[String]()
  @volatile private var installed = false

  /** Idempotent. Call once after the SparkSession exists (so log4j2 is
    * initialized). The watched LoggerConfigs are non-additive: their WARNs
    * must not leak to the console appender — Bench's stdout is
    * machine-parsed and anything below ERROR on the console corrupts it
    * (the BENCH_r03 lesson). `setLogLevel` only touches the ROOT config,
    * so these stay at WARN regardless of the session's level.
    */
  def install(): Unit = synchronized {
    if (installed) return
    val appender = new AbstractAppender(
      "graft-codegen-watch", null, null, true, Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit = {
        val msg = event.getMessage.getFormattedMessage
        if (patterns.exists(msg.contains))
          hits.add(msg.takeWhile(_ != '\n').take(300))
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    watchedLoggers.foreach { name =>
      // INFO, not WARN: the hugeMethodLimit fallback ("Found too long
      // generated codes…") is logged at INFO — a WARN-level config
      // silently misses it (found empirically via the forced-bailout
      // spec). The pattern filter above keeps unrelated INFO out.
      val lc = new LoggerConfig(name, Level.INFO, /*additive=*/ false)
      lc.addAppender(appender, Level.INFO, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
    // Self-test roundtrip: Spark's own logging init REPLACES the log4j2
    // Configuration (observed: install() before SparkSession.getOrCreate
    // left the watch wired into a dead Configuration and every capture
    // silently missed). A watch that cannot see a synthetic fallback
    // message must fail loudly at install time, not miss real bailouts.
    val marker = "Found too long generated codes (graft-codegen-watch self-test)"
    org.slf4j.LoggerFactory.getLogger(watchedLoggers.head).info(marker)
    require(drain().exists(_.contains("self-test")),
      "CodegenWatch self-test failed: install() must run AFTER the " +
        "SparkSession exists (Spark's logging init replaces the log4j2 " +
        "configuration and silently detaches the watch)")
    installed = true
  }

  /** Remove and return every fallback message recorded since the last
    * drain. Empty = every plan executed under compiled codegen. */
  def drain(): Seq[String] = {
    val out = Seq.newBuilder[String]
    var m = hits.poll()
    while (m != null) { out += m; m = hits.poll() }
    out.result()
  }
}
