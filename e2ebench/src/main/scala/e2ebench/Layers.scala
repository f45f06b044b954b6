package e2ebench

/** Every per-layer metric a traced run reports. A workload that does
  * not call a layer reports its metrics as 0 (RATIONALE.md lists which
  * workload exercises which layer). */
object Layers {
  val all: Seq[String] = Seq(
    "stream.trigger_ms_p50", "stream.add_batch_ms_p50", "stream.wal_commit_ms_p50",
    "stream.commit_offsets_ms_p50", "stream.query_planning_ms_p50",
    "stream.rows_per_batch_p50", "stream.backlog_max_posts", "stream.generator_late_ms_max",
    "sink.jobs_per_batch", "sink.tasks_per_batch", "sink.task_cpu_ms_per_batch",
    "sink.shuffle_write_bytes_per_batch", "sink.files_written_per_batch",
    "sink.probe_rows_per_batch", "fanout.rows_per_post",
    "warehouse.read_plan_ms_p50", "warehouse.read_exec_ms_p50",
    "warehouse.read_jobs_per_read", "warehouse.read_tasks_per_read",
    "warehouse.files_scanned_per_read", "warehouse.rows_scanned_per_row_returned",
    "warehouse.compact_ms_p50", "warehouse.open_ms_p50",
    "query.plan_ms", "query.exec_ms", "query.jobs", "query.stages", "query.tasks",
    "query.executor_cpu_s", "query.cpu_wall_ratio", "query.shuffle_read_mb",
    "query.shuffle_write_mb", "query.spill_mb", "query.task_skew_max",
    "query.codegen_ms_cold", "query.codegen_ms_warm") ++
    QueryMix.modules.map(m => s"module.$m.warm_ms") ++ Seq(
    "serve.pq_plan_ms_p50", "serve.pq_exec_ms_p50", "serve.pq_jobs",
    "jvm.gc_ms", "jvm.heap_used_max_mb", "trace.overhead_pct")

  /** The full set, with 0 for the layers `got` does not cover. */
  def complete(got: Map[String, Double]): Map[String, Double] = {
    val unknown = got.keySet -- all
    require(unknown.isEmpty, s"unknown layer metrics: ${unknown.mkString(",")}")
    all.map(k => k -> got.getOrElse(k, 0.0)).toMap
  }
}
