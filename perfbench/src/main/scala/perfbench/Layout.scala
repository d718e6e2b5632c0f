package perfbench

import scala.jdk.CollectionConverters._

/** The per-layer metrics of a traced run and how they are derived from
  * the recorded jobs and spans. A job belongs to the layer of the engine
  * module that launched it ([[JobListener.module]]); `Tables.t` and
  * `SchemaReader` count as the `sources` layer. */
object Layout {
  val operators = Seq("Checkpoints", "Dedup", "Similarity", "Clustering", "Graph",
    "TextAnalysis", "Decontaminate", "Sampling")

  val perLayer: Seq[String] =
    Seq("sources.jobs", "sources.job_s",
      "queries.build_s", "queries.build_jobs", "queries.build_task_cpu_s", "queries.gate_jobs") ++
      operators.flatMap(o => Seq(s"operators.$o.jobs", s"operators.$o.job_s",
        s"operators.$o.shuffle_write_mb")) ++
      Seq("operators.retained_mb", "plans.plan_s") ++
      Seq("s", "jobs", "stages", "tasks", "task_cpu_s", "core_busy_ratio", "task_wait_s",
        "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "peak_exec_mem_mb", "tasks_failed")
        .map("exec." + _) ++
      Seq("jobs.BatchAggJob.jobs", "jobs.BatchAggJob.task_cpu_s", "jobs.BatchAggJob.shuffle_write_mb",
        "sinks.KvSink.rows", "sinks.KvSink.mutate_calls", "sinks.KvSink.mutate_s",
        "sinks.ArchiveJob.jobs", "sinks.ArchiveJob.bytes_written_mb", "sinks.ArchiveJob.files_written",
        "streaming.trigger_ms_p50", "streaming.trigger_ms_tail", "streaming.add_batch_ms_p50",
        "streaming.planning_ms_p50", "streaming.wal_commit_ms_p50", "streaming.state_rows",
        "streaming.state_mb", "streaming.rows_dropped_by_watermark", "streaming.backlog_rows",
        "streaming.generator_late_ms", "streaming.latency_p50_ms", "streaming.latency_tail_ms",
        "streaming.max_rate", "ml.load_s",
        "lambda.batch_job_s", "lambda.archive_s", "lambda.archive_bytes_ratio",
        "fixpoint.cc_s", "fixpoint.pagerank_s",
        "driver.heap_retained_mb", "driver.gc_s", "driver.rss_peak_mb", "driver.first_setup_s", "suite.cold_s", "suite.query_p50_s", "trace.overhead_pct")

  private val MB = 1048576.0

  def fill(out: Layers, jl: JobListener, spans: Seq[Span], cores: Int): Unit = {
    val jobs = jl.jobs.values.asScala.toSeq
    def stagesOf(js: Seq[JobRec]) = js.flatMap(jl.stagesOf)
    def jobS(js: Seq[JobRec]) = js.map(j => (j.endMs - j.startMs) / 1e3).sum
    def cpuS(js: Seq[JobRec]) = stagesOf(js).map(_.cpuNs).sum / 1e9
    def shW(js: Seq[JobRec]) = stagesOf(js).map(_.shuffleWrite).sum / MB
    def phaseS(p: String) = spans.filter(s => s.kind == "phase" && s.name == p).map(_.durMs).sum / 1e3
    def isSource(m: String) = m == "queries.Tables" || m.startsWith("sources.")

    val src = jobs.filter(j => isSource(j.module))
    out("sources.jobs") = src.size
    out("sources.job_s") = jobS(src)
    val build = jobs.filter(_.phase == "build")
    out("queries.build_s") = phaseS("build")
    out("queries.build_jobs") = build.size
    out("queries.build_task_cpu_s") = cpuS(build)
    out("queries.gate_jobs") = build.count(_.gate)
    operators.foreach { o =>
      val js = jobs.filter(_.module == s"operators.$o")
      out(s"operators.$o.jobs") = js.size
      out(s"operators.$o.job_s") = jobS(js)
      out(s"operators.$o.shuffle_write_mb") = shW(js)
    }
    out("plans.plan_s") = phaseS("plan")

    val ex = jobs.filter(_.phase == "exec")
    val exStages = stagesOf(ex)
    val execS = phaseS("exec")
    out("exec.s") = execS
    out("exec.jobs") = ex.size
    out("exec.stages") = exStages.size
    out("exec.tasks") = exStages.map(_.tasks).sum
    out("exec.task_cpu_s") = exStages.map(_.cpuNs).sum / 1e9
    out("exec.core_busy_ratio") =
      if (execS > 0) exStages.map(_.runMs).sum / 1e3 / (cores * execS) else 0.0
    out("exec.task_wait_s") = exStages.map(_.waitMs).sum / 1e3
    out("exec.shuffle_write_mb") = exStages.map(_.shuffleWrite).sum / MB
    out("exec.shuffle_read_mb") = exStages.map(_.shuffleRead).sum / MB
    out("exec.spill_mb") = exStages.map(_.spill).sum / MB
    out("exec.peak_exec_mem_mb") = if (exStages.isEmpty) 0.0 else exStages.map(_.peakMem).max / MB
    out("exec.tasks_failed") = stagesOf(jobs).map(_.failed).sum

    val batch = jobs.filter(_.op == Lambda.BatchOp)
    out("jobs.BatchAggJob.jobs") = batch.size
    out("jobs.BatchAggJob.task_cpu_s") = cpuS(batch)
    out("jobs.BatchAggJob.shuffle_write_mb") = shW(batch)
    out("sinks.ArchiveJob.jobs") = jobs.count(_.op == Lambda.ArchiveOp)
  }
}
