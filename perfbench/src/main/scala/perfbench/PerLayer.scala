package perfbench

/** The traced run's per-layer metrics, each a value per traced pass
  * (zero where the workload does not run that layer). The names are
  * the `per_layer` list of BENCHMARK.json. */
object PerLayer {
  val etlTables = Seq("access", "file", "client", "network",
    "stats_mask1", "stats_mask2", "stats_mask3")

  val names: Seq[String] = Seq(
    "sources.list_s", "sources.files", "sources.bytes",
    "parse.s", "parse.lines_in", "parse.parsed", "parse.rejected", "parse.accept_ratio",
    "parse.web_s",
    "etl.s") ++ etlTables.map(t => s"etl.rows.$t") ++ Seq("etl.jobs", "etl.bytes_out",
    "streaming.full_s", "streaming.incr_s", "streaming.batches", "streaming.input_rows",
    "streaming.reread_rows", "streaming.state_rows", "streaming.add_batch_ms",
    "streaming.latest_offset_ms", "streaming.planning_ms", "streaming.commit_ms",
    "query.requests", "query.build_s", "query.exec_s",
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "codegen.compiles", "codegen.compile_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.tasks_per_stage", "exec.task_busy_s",
    "exec.core_idle_s", "exec.gc_s", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.dropped_accum",
    "self.op_s", "self.job_s", "self.stage_s",
    "cache_mb", "failed_frac", "trace.overhead_s", "trace.spans")

  def apply(ctx: Ctx, t: Tracer, traced: Seq[Double], untraced: Seq[Double],
            cacheMb: Double): Map[String, Double] = {
    val n = traced.size.toDouble
    val m = collection.mutable.LinkedHashMap(names.map(_ -> 0.0): _*)
    ctx.layer.foreach { case (k, v) => m(k) = v / n }
    if (m("parse.lines_in") > 0) m("parse.accept_ratio") = m("parse.parsed") / m("parse.lines_in")
    def all(key: String) = t.opSum("", key) / n
    Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_read_bytes",
      "exec.shuffle_write_bytes", "exec.spill_bytes", "codegen.compiles",
      "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms")
      .foreach(k => m(k) = all(k))
    m("etl.jobs") = t.opSum("etl.", "exec.jobs") / n
    m("codegen.compile_s") = all("codegen.compile_ms") / 1e3
    m("exec.task_busy_s") = all("exec.task_busy_ms") / 1e3
    m("exec.gc_s") = all("exec.gc_ms") / 1e3
    if (m("exec.stages") > 0) m("exec.tasks_per_stage") = m("exec.tasks") / m("exec.stages")
    m("exec.core_idle_s") = traced.sum / n * ctx.cores - m("exec.task_busy_s")
    m("exec.dropped_accum") = ctx.tap.droppedAccum.toDouble
    val self = t.selfMs
    Seq("op", "job", "stage").foreach { k =>
      m(s"self.${k}_s") = t.spans.filter(_.kind == k).map(s => self(s.id)).sum / 1e3 / n
    }
    m("cache_mb") = cacheMb
    m("failed_frac") = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    m("trace.overhead_s") = Stats.median(traced) - Stats.median(untraced)
    m("trace.spans") = t.spans.size.toDouble
    m.toMap
  }
}
