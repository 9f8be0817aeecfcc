package perfbench

import java.io.File

/** Per-layer metrics of the traced passes: each is the median over traced
  * passes of its per-pass total. Layers a workload never calls read 0.
  */
final class LayerMetrics(t: Tracer, etl: Option[Etl], data: String) {
  private val in = etl.map(_.in)
  private val cores = Main.Cores
  private val mb = 1048576.0
  /** The dims' parquet: the ETL's only input besides its feeds. */
  private lazy val dimBytes: Double = Option(new File(s"$data/part.parquet").listFiles)
    .map(_.filter(_.getName.endsWith(".parquet")).map(_.length).sum.toDouble).getOrElse(0.0)

  def all(): Seq[(String, (Double, String))] = {
    val perPass = t.spans.map(_.trace).distinct.toSeq.map(pass)
    perPass.head.map { case (k, (_, u)) => k -> (Main.median(perPass.map(_.toMap.apply(k)._1)), u) }
  }

  private def pass(trace: Int): Seq[(String, (Double, String))] = {
    val sp = t.spans.filter(_.trace == trace).toSeq
    val byId = sp.map(s => s.id -> s).toMap
    def opOf(s: Span): String = byId.get(s.parent).map(_.name.stripPrefix("op:")).getOrElse("")
    def secs(ss: Seq[Span]) = ss.map(_.seconds).sum
    def work(ss: Seq[Span]) = t.inclusive(ss.map(_.id))
    def named(n: String) = sp.filter(_.name == n)
    def prefixed(n: String) = sp.filter(_.name.startsWith(n))

    val ops = prefixed("op:")
    val builds = named("build")
    val probes = named("probe")
    val opWork = work(ops)
    val opWall = secs(ops)
    val out = Seq.newBuilder[(String, (Double, String))]
    def put(k: String, v: Double, u: String): Unit = out += k -> (v, u)

    val tl = prefixed("tables.load:")
    put("tables.load_s", secs(tl), "s")
    put("tables.load_jobs", work(tl).jobs, "count")

    put("query.build_s", secs(builds), "s")
    put("query.build_jobs", work(builds).jobs, "count")
    put("query.probe_s", secs(probes), "s")
    put("query.probe_jobs", work(probes).jobs, "count")
    put("query.analysis_ms", opWork.analysisMs, "ms")
    put("query.optimization_ms", opWork.optimizationMs, "ms")
    put("query.planning_ms", opWork.planningMs, "ms")
    put("query.stages", opWork.stages, "count")
    put("query.tasks", opWork.tasks, "count")
    put("query.task_cpu_s", opWork.cpuNs / 1e9, "s")
    put("query.task_wait_s", opWork.waitMs / 1e3, "s")
    put("query.core_util", if (opWall > 0) opWork.runMs / 1e3 / (opWall * cores) else 0.0, "frac")
    put("query.shuffle_read_mb", opWork.shuffleRead / mb, "MB")
    put("query.shuffle_write_mb", opWork.shuffleWrite / mb, "MB")
    put("query.spill_mb", opWork.spill / mb, "MB")
    put("query.input_mb", opWork.input / mb, "MB")
    put("query.failed_tasks", opWork.failedTasks, "count")
    put("query.codegen_bailouts", opWork.codegenBailouts, "count")

    for (m <- Main.Modules) {
      val qs = Main.Heavy.filter(_._2 == m).map(_._1).toSet
      val b = builds.filter(s => qs(opOf(s)))
      val p = probes.filter(s => qs(opOf(s)))
      put(s"ext.$m.build_s", secs(b), "s")
      put(s"ext.$m.probe_s", secs(p), "s")
      put(s"ext.$m.jobs", work(b ++ p).jobs, "count")
    }

    // extract: the ETL readers
    val xb = prefixed("extract.build.")
    put("extract.build_s", secs(xb), "s")
    put("extract.build_jobs", work(xb).jobs, "count")
    put("extract.json_probe_s", secs(named("extract.probe.json")), "s")
    put("extract.xml_probe_s", secs(named("extract.probe.xml")), "s")
    put("extract.csv_probe_s", secs(named("extract.probe.csv")), "s")
    put("extract.input_mb", in.fold(0.0)(_.bytes) / mb, "MB")

    // transform self times: differences of cumulative probes at stage outputs
    def cum(n: String) = Main.median(named(s"transform.cum.$n").map(_.seconds))
    val hasEtl = etl.isDefined
    put("transform.clean_s", if (hasEtl) cum("clean") - cum("extract") else 0.0, "s")
    put("transform.aggregate_s", if (hasEtl) cum("aggregate") - cum("clean") else 0.0, "s")
    put("transform.inventory_s", if (hasEtl) cum("inventory") - cum("aggregate") else 0.0, "s")
    put("transform.enrich_s", if (hasEtl) cum("enrich") - cum("clean") else 0.0, "s")
    put("transform.shuffle_write_mb", work(prefixed("transform.cum.")).shuffleWrite / 3 / mb, "MB")

    // load: the SQL executions Pipeline.run started, split by the sink
    // function on their call stack
    val execs = (if (hasEtl) probes.flatMap(p => t.executionsUnder(p.id)) else Nil)
      .filter(e => e.root == e.id)
    val fan = execs.filter(_.callSite.contains("Sinks$.csvFanOut"))
    val csv = execs.filter(e => !fan.contains(e) && e.callSite.contains("Sinks$.csvReport"))
    put("load.csv_s", csv.map(_.seconds).sum, "s")
    put("load.fanout_s", fan.map(_.seconds).sum, "s")
    put("load.jobs", (csv ++ fan).map(_.jobs).sum, "count")
    val (files, bytes) = etl.fold((0L, 0L))(_.outputFiles)
    put("load.files", files, "count")
    put("load.mb_written", bytes / mb, "MB")

    val pw = if (hasEtl) opWork else new Work
    put("pipeline.jobs", pw.jobs, "count")
    put("pipeline.tasks", pw.tasks, "count")
    put("pipeline.core_util", if (hasEtl && opWall > 0) pw.runMs / 1e3 / (opWall * cores) else 0.0, "frac")
    put("pipeline.task_wait_s", pw.waitMs / 1e3, "s")
    // bytes the tasks read, and bytes of the files the scans cover, per op
    // over the input bytes: the first also counts a file read more than
    // once within one scan
    put("pipeline.scan_amplification", in.fold(0.0)(i => pw.input / (i.bytes + dimBytes)), "x")
    put("pipeline.scan_passes", in.fold(0.0)(i => pw.filesScanned / (i.bytes + dimBytes)), "x")
    out.result()
  }
}
