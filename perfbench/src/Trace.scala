package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bus
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of benchmark code. Jobs are attributed to the innermost
  * span through the job group `pb-<id>` set while the span is open.
  */
final case class Span(id: Int, name: String, parent: Int, trace: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Work the listeners counted for one span (its own jobs only). */
final class Work {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, waitMs, shuffleRead, shuffleWrite, spill, input, filesScanned = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var codegenBailouts = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; cpuNs += o.cpuNs; waitMs += o.waitMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    input += o.input; filesScanned += o.filesScanned
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs; codegenBailouts += o.codegenBailouts
  }
}

/** A SQL execution: the job group it ran under, the call stack that
  * started it (Spark's long call site), and its wall time.
  */
final case class Execution(id: Long, root: Long, group: Option[String], callSite: String,
                           startMs: Long, var endMs: Long = -1L, var jobs: Int = 0) {
  def seconds: Double = math.max(0L, endMs - startMs) / 1e3
}

/** In-memory span recorder plus the SparkListener and
  * QueryExecutionListener that count work per span. `open` registers both
  * listeners, `close` removes them, so untraced passes run without them.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var trace = 0

  private val lock = new Object
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val work = mutable.Map.empty[Int, Work]
  private val executions = mutable.Map.empty[Long, Execution]
  private val phases = mutable.ArrayBuffer.empty[(Long, Double, Double, Double)]
  private val queryExec = mutable.Map.empty[Long, Long]
  /** Accumulator ids of the file scans' "size of files read" metric. */
  private val scanSizeIds = mutable.Set.empty[Long]
  /** Latest "size of files read" per scan metric: (span, bytes). */
  private val scanSizes = mutable.Map.empty[Long, (Int, Long)]

  def open(): Unit = { sc.addSparkListener(this); spark.listenerManager.register(this) }
  def close(): Unit = {
    drain()
    sc.removeSparkListener(this); spark.listenerManager.unregister(this)
  }

  /** Blocks until the listener bus has delivered every posted event. */
  def drain(): Unit = Bus.drain(sc)

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setJobGroup(s"pb-$id", name, interruptOnCancel = false)
    graft.CodegenWatch.drain()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val bail = graft.CodegenWatch.drain().size
      stack = stack.tail
      stack.headOption.fold(sc.clearJobGroup())(p => sc.setJobGroup(s"pb-$p", "", false))
      spans += Span(id, name, parent, trace, t0, t1)
      if (bail > 0) lock.synchronized(workOf(id).codegenBailouts += bail)
    }
  }

  private def workOf(id: Int): Work = work.getOrElseUpdate(id, new Work)
  private def spanOfGroup(g: String): Option[Int] =
    Option(g).filter(_.startsWith("pb-")).map(_.drop(3).toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    spanOfGroup(e.properties.getProperty("spark.jobGroup.id")).foreach { s =>
      workOf(s).jobs += 1
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .flatMap(x => executions.get(x.toLong)).foreach(_.jobs += 1)
      e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, s))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(s => workOf(s).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val w = workOf(s)
      w.tasks += 1
      if (!e.taskInfo.successful) w.failedTasks += 1
      stageSubmit.get(e.stageId).foreach(t => w.waitMs += math.max(0L, e.taskInfo.launchTime - t))
      Option(e.taskMetrics).foreach { m =>
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.diskBytesSpilled
        w.input += m.inputMetrics.bytesRead
      }
    }
  }

  private def registerScans(p: SparkPlanInfo): Unit = {
    scanSizeIds ++= p.metrics.filter(_.name == "size of files read").map(_.accumulatorId)
    p.children.foreach(registerScans)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        executions(s.executionId) = Execution(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.jobGroupId, s.details, s.time)
        registerScans(s.sparkPlanInfo)
      case s: SparkListenerSQLAdaptiveExecutionUpdate => registerScans(s.sparkPlanInfo)
      case s: SparkListenerDriverAccumUpdates =>
        // a scan posts the absolute size of the files it reads; keep the last
        executions.get(s.executionId).flatMap(_.group).flatMap(spanOfGroup).foreach { sp =>
          s.accumUpdates.filter(u => scanSizeIds(u._1)).foreach(u => scanSizes(u._1) = (sp, u._2))
        }
      case s: SparkListenerSQLExecutionEnd =>
        executions.get(s.executionId).foreach(_.endMs = s.time)
        Bus.queryId(s).foreach(q => queryExec(q) = s.executionId)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = qe.tracker.phases
    def ms(k: String): Double = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    lock.synchronized {
      phases += ((qe.id, ms("analysis"), ms("optimization"), ms("planning")))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Folds the Catalyst phase times and the scanned file sizes into the span
    * whose job group ran the SQL execution.
    */
  private def foldExecutions(): Unit = lock.synchronized {
    scanSizes.values.foreach { case (sp, bytes) => workOf(sp).filesScanned += bytes }
    scanSizes.clear()
    phases.foreach { case (id, a, o, pl) =>
      queryExec.get(id).flatMap(executions.get).flatMap(_.group).flatMap(spanOfGroup).foreach { s =>
        val w = workOf(s)
        w.analysisMs += a; w.optimizationMs += o; w.planningMs += pl
      }
    }
    phases.clear()
  }

  /** Work of `span` and every span below it. */
  def inclusive(spanIds: Iterable[Int]): Work = {
    drain(); foldExecutions()
    val children = spans.groupBy(_.parent).map { case (k, v) => k -> v.map(_.id) }
    val total = new Work
    def walk(id: Int): Unit = {
      lock.synchronized(work.get(id).foreach(total.add))
      children.getOrElse(id, Nil).foreach(walk)
    }
    spanIds.foreach(walk)
    total
  }

  /** Executions started under `span` or below it. */
  def executionsUnder(span: Int): Seq[Execution] = {
    drain()
    val children = spans.groupBy(_.parent).map { case (k, v) => k -> v.map(_.id) }
    val ids = mutable.Set.empty[Int]
    def walk(id: Int): Unit = { ids += id; children.getOrElse(id, Nil).foreach(walk) }
    walk(span)
    lock.synchronized(executions.values.filter(_.group.flatMap(spanOfGroup).exists(ids)).toSeq)
  }

  /** Writes every span as one JSON line. */
  def write(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, UTF_8)
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""trace":${s.trace},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}
