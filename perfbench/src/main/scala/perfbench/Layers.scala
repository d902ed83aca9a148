package perfbench

/** Per-layer metrics of a traced run. */
object Layers {
  /** Operator spans whose self time per call is reported, by metric name.
    * The bulk-load span comes from the traced set-ups, which write the
    * fixture.
    */
  private val OperatorSpans = Seq(
    "operators.bulkload_write_s" -> "operators.bulkload_write",
    "operators.multiget_s" -> "operators.multiget")

  def all(w: TsdbLookup, traced: Seq[OpRecord], exec: ExecListener,
          tracer: Tracer): Seq[Metric] = {
    val ops = math.max(1, traced.size)
    val perOp = (v: Double) => v / ops
    val jobsByOp = exec.jobsByOp
    val gapMs = traced.map(r =>
      ExecListener.uncoveredMs(r.startMs, r.endMs, jobsByOp.getOrElse(r.id, Nil))).sum
    val spans = OperatorSpans.map { case (metric, span) =>
      Metric(metric, tracer.selfNanos(span) / 1e9 / math.max(1, tracer.count(span)), "s")
    }
    spans ++ w.layers(traced, exec) ++ Seq(
      Metric("exec.jobs_per_op", perOp(jobsByOp.values.map(_.size).sum), "count"),
      Metric("exec.driver_gap_ms_per_op", perOp(gapMs), "ms"),
      Metric("exec.stages_per_op", perOp(exec.stagesCompleted), "count"),
      Metric("exec.shuffle_write_bytes", perOp(exec.shuffleWriteBytes), "bytes"),
      Metric("exec.task_busy_s", perOp(exec.taskBusyMs / 1e3), "s"),
      Metric("exec.gc_s", perOp(exec.gcMs / 1e3), "s"),
      Metric("exec.max_task_over_median", exec.stragglerRatio, "ratio"),
      Metric("exec.failed_tasks", exec.failedTasks, "count"),
      Metric("trace.traced_ops", traced.size, "count"))
  }
}
