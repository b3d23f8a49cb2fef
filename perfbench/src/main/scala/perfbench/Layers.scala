package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the recorded spans and the
  * Spark listener counters. Times and counts are means per job over the
  * measured passes, except where a comment says otherwise. */
object Layers {
  val Layers: Seq[String] = Seq("sources", "pipelines", "queries", "catalyst",
    "exec", "cache", "sinks", "ops", "streaming")

  def metrics(tr: Tracer, st: SparkTrace, nJobs: Int, nTicks: Int, cores: Int,
              storagePeak: Long, passes: Seq[PassResult]): Map[String, Double] = {
    val spans = tr.spans.asScala.toSeq
    val children = spans.groupBy(_.parent)
    val spanById = spans.map(s => s.id -> s).toMap
    val jobs = math.max(1, nJobs).toDouble
    def totalMs(names: String*): Double =
      spans.filter(s => names.contains(s.name)).map(_.durNs).sum / 1e6
    def perJobMs(names: String*): Double = totalMs(names: _*) / jobs
    def counted(name: String): Double =
      Option(tr.counts.get(name)).map(_.get.toDouble).getOrElse(0.0)
    val sparkJobs = st.jobs.values.asScala.toSeq
    def sparkSum(k: String): Double = sparkJobs.map(_.get(k)).sum.toDouble
    def plan(k: String): Double = Option(st.plans.get(k)).map(_.get.toDouble).getOrElse(0.0)
    val actionMs = sparkJobs.map(j => j.endMs - j.startMs).sum.toDouble
    val constructJobs = sparkJobs.count(j =>
      spanById.get(j.span).exists(_.layer == "queries"))

    val selfMs: Map[String, Double] = spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.durNs - covered(s, children.getOrElse(s.id, Nil))).sum / 1e6
    }

    val m = Map[String, Double](
      "sources.read_ms" -> perJobMs("sources.xlsx_read", "sources.sheet_read"),
      "sources.cells" -> counted("sources.cells") / jobs,
      "pipelines.build_ms" -> perJobMs("pipelines.build"),
      "queries.construct_ms" -> perJobMs("queries.construct"),
      "queries.construct_jobs" -> constructJobs / jobs,
      "catalyst.analysis_ms" -> perJobMs("catalyst.analysis"),
      "catalyst.optimizer_ms" -> perJobMs("catalyst.optimization"),
      "catalyst.planning_ms" -> perJobMs("catalyst.planning"),
      "catalyst.plan_nodes" -> plan("plan_nodes") / jobs,
      "catalyst.exchanges" -> plan("exchanges") / jobs,
      "catalyst.sorts" -> plan("sorts") / jobs,
      "exec.action_ms" -> actionMs / jobs,
      "exec.jobs" -> sparkJobs.size / jobs,
      "exec.stages" -> sparkSum("stages") / jobs,
      "exec.tasks" -> sparkSum("tasks") / jobs,
      "exec.task_ms" -> sparkSum("task_ms") / jobs,
      "exec.task_cpu_ms" -> sparkSum("task_cpu_ns") / 1e6 / jobs,
      "exec.gc_ms" -> sparkSum("gc_ms") / jobs,
      // share of the cores kept busy while Spark jobs ran
      "exec.core_busy" -> (if (actionMs > 0) sparkSum("task_ms") / (actionMs * cores) else 0.0),
      "exec.shuffle_write_b" -> sparkSum("shuffle_write_b") / jobs,
      "exec.shuffle_read_b" -> sparkSum("shuffle_read_b") / jobs,
      "exec.spill_b" -> sparkSum("spill_b") / jobs,
      "exec.input_b" -> sparkSum("input_b") / jobs,
      // peak over the run, sampled after each job's action
      "cache.storage_peak_b" -> storagePeak.toDouble,
      // total over the run
      "cache.leaked_rdds" -> passes.flatMap(_.jobs).map(_.leakedRdds).sum.toDouble,
      "sinks.xlsx_ms" -> perJobMs("sinks.xlsx"),
      "sinks.macro_ms" -> perJobMs("sinks.macro"),
      "sinks.pdf_merge_ms" -> perJobMs("sinks.pdf_merge"),
      // Spark jobs that wrote files: the parquet writes inside the ops calls
      "sinks.parquet_write_ms" -> sparkJobs.filter(_.get("output_b") > 0)
        .map(j => j.endMs - j.startMs).sum / jobs,
      "sinks.compact_ms" -> perJobMs("sinks.compact"),
      "sinks.output_b" -> (counted("sinks.output_b") + sparkSum("output_b")) / jobs,
      "sinks.files" -> counted("sinks.files") / jobs,
      "ops.append_ms" -> perJobMs("ops.append"),
      "ops.serve_ms" -> perJobMs("ops.serve"),
      // per orchestrator tick
      "streaming.tick_ms" -> totalMs("streaming.tick") / math.max(1, nTicks),
      "streaming.claim_ms" -> totalMs("streaming.claim") / math.max(1, nTicks),
      "streaming.queue_wait_ms" -> perJobMs("streaming.queue_wait"))
    m ++ Layers.map(l => s"$l.self_ms" -> selfMs.getOrElse(l, 0.0) / jobs) ++
      Map("trace.job_coverage_min" -> jobCoverage(spans, children))
  }

  /** Nanoseconds of `s` covered by the union of `kids`, clipped to `s`. */
  def covered(s: Span, kids: Seq[Span]): Long = {
    val iv = kids.map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The smallest share of a job's wall time covered by its top-level
    * layer spans. */
  def jobCoverage(spans: Seq[Span], children: Map[Long, Seq[Span]]): Double = {
    val shares = spans.filter(_.name.startsWith("job.")).map { j =>
      if (j.durNs <= 0) 1.0 else covered(j, children.getOrElse(j.id, Nil)).toDouble / j.durNs
    }
    if (shares.isEmpty) 1.0 else shares.min
  }
}
