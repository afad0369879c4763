package perfbench

/** Every per-layer metric a traced run prints, with its unit. A workload
  * that does not exercise a layer reports 0 for it (e.g. `analytics.*` on
  * `backfill`), so every traced run prints the same keys.
  */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "feedgen.write_s" -> "s",
    "streaming.detect_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.offset_log_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.stats_upsert_ms" -> "ms",
    "operators.merge_ms" -> "ms",
    "operators.merge_mor_ms" -> "ms",
    "operators.merge_cow_ms" -> "ms",
    "operators.merge_mor_frac" -> "fraction",
    "operators.merge_jobs" -> "count",
    "operators.merge_stages" -> "count",
    "operators.merge_tasks" -> "count",
    "operators.merge_actions" -> "count",
    "operators.merge_action_ms" -> "ms",
    "operators.merge_task_cpu_ms_per_mevent" -> "ms/Mevent",
    "operators.merge_shuffle_bytes_per_event" -> "B/event",
    "operators.merge_spill_bytes" -> "B",
    "operators.merge_gc_ms" -> "ms",
    "table.load_ms" -> "ms",
    "table.manifest_bytes" -> "B",
    "table.data_files" -> "count",
    "table.delta_files" -> "count",
    "table.write_amp" -> "ratio",
    "table.read_plan_ms" -> "ms",
    "table.read_exec_ms" -> "ms",
    "table.read_rows_scanned_per_live_row" -> "ratio",
    "table.changelog_candidate_files" -> "count",
    "table.changelog_rows_scanned_per_change" -> "ratio",
    "table.changelog_plan_ms" -> "ms",
    "table.changelog_exec_ms" -> "ms",
    "analytics.plan_ms" -> "ms",
    "analytics.jobs" -> "count",
    "analytics.stages" -> "count",
    "analytics.tasks" -> "count",
    "analytics.exec_ms" -> "ms",
    "analytics.task_cpu_ms" -> "ms",
    "analytics.shuffle_bytes" -> "B",
    "analytics.spill_bytes" -> "B",
    "analytics.scan_bytes" -> "B",
    "analytics.dd_incremental.jobs" -> "count",
    "analytics.dd_incremental.stages" -> "count",
    "analytics.dd_incremental.plan_ms" -> "ms",
    "analytics.dd_incremental.task_cpu_ms" -> "ms",
    "analytics.dd_incremental.shuffle_bytes" -> "B",
    "analytics.persisted_rdds" -> "count",
    "jvm.gc_ms" -> "ms",
    "jvm.codegen_ms" -> "ms",
    "jvm.codegen_classes" -> "count",
    "trace.overhead_frac" -> "fraction")

  private val units = All.toMap

  def unit(name: String): String = units(name)

  /** `m` with every metric of [[All]] present, missing ones as 0. */
  def complete(m: Map[String, Double]): Map[String, Double] = {
    val unknown = m.keySet -- units.keySet
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    All.map { case (k, _) => k -> m.getOrElse(k, 0.0) }.toMap
  }
}
