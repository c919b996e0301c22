package perfbench

/** Per-workload constants shared by the harness and the report. */
object Workloads {
  /** Percentile reported as `op_s.tail` (NOTES.md gives the sample counts). */
  val tailPercentile = 90.0

  def microBatch(w: String): String = w match {
    case "stream_ingest" =>
      s"binlog ${Binlog.batchEvents} events; folds ${Folds.batches} seed-cut batches per replay"
    case _ => "none"
  }

  val perLayer: Seq[String] = Seq(
    "engine.build_s", "engine.build_jobs", "engine.build_jobs.max",
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
    "exec.run_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
    "exec.single_task_stages", "exec.max_tasks_per_stage", "exec.core_busy_ratio",
    "exec.task_cpu_s", "exec.task_run_s", "exec.task_wait_s", "exec.gc_s",
    "exec.codegen_compile_s", "exec.scan_bytes", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.result_rows", "exec.result_bytes",
    "session.pinned_storage_bytes", "session.pinned_storage_bytes.max",
    "streaming.batches", "streaming.add_batch_s", "streaming.state_commit_s",
    "streaming.state_rows", "streaming.state_bytes", "streaming.state_rows_updated",
    "streaming.state_rows_removed", "streaming.output_rows", "streaming.query_planning_s",
    "streaming.wal_commit_s", "streaming.commit_offsets_s", "streaming.events_per_s",
    "connectors.snapshot_s", "connectors.final_read_s.p50", "connectors.final_read_s.tail",
    "connectors.compact_s", "connectors.stored_bytes_per_event_byte", "connectors.events_per_s",
    "connectors.changes_per_event", "connectors.sink_bytes", "connectors.sink_files",
    "connectors.batch_dirs_at_read", "connectors.read_files_scanned",
    "connectors.compact_bytes_rewritten", "trace.overhead_s")

  def unitOf(n: String): String =
    if (n.endsWith("per_s")) "1/s"
    else if (n.endsWith("_s") || n.endsWith("_s.p50") || n.endsWith("_s.tail")) "s"
    else if (n.contains("bytes") && !n.contains("_per_")) "B"
    else if (n.endsWith("ratio") || n.endsWith("_per_event") || n.endsWith("_per_event_byte")) "ratio"
    else "count"
}
