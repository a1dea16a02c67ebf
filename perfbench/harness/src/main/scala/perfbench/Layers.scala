package perfbench

/** The metric names BENCHMARK.json lists, in its order. Layers are named
  * after graft's modules; `plans` and `functions` run inside them and show
  * through the codegen counters and the Spark work of `operators` and
  * `llm`; `spark` and `driver` sit under every layer.
  */
object Layers {
  val names: Seq[String] = Seq("snapshots", "snap", "dv", "mv", "streaming", "operators", "llm", "kv")

  val perLayerStats: Seq[String] = Seq("calls", "self_ms", "jobs", "tasks", "shuffle_bytes", "input_bytes", "errors")

  /** Layer-specific counts a workload reports: (name, unit). A unit ending
    * in "/op" is a phase total the runner divides by the operation count.
    */
  val extras: Seq[(String, String)] = Seq(
    "snapshots.view_misses" -> "count/op",
    "snapshots.plan_manifest_bytes" -> "B/op",
    "snapshots.files_written" -> "count/op",
    "snapshots.bytes_written_per_user_byte" -> "ratio",
    "snap.files_read" -> "count/op",
    "snap.files_pruned" -> "count/op",
    "snap.scan_overhead" -> "ratio",
    "snap.zero_job_share" -> "ratio",
    "dv.changed_rows" -> "count/op",
    "dv.rewritten_files" -> "count/op",
    "streaming.epoch_ms" -> "ms",
    "streaming.rows_per_epoch" -> "count",
    "mv.groups_recomputed" -> "count/op",
    "mv.full_resyncs" -> "count/op",
    "kv.zero_job_get_share" -> "ratio",
    "kv.read_through" -> "count/op")

  val run: Seq[String] = Seq(
    "codegen.compile_ms", "codegen.classes",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.task_run_ms", "spark.task_deser_ms", "spark.sched_delay_ms", "spark.gc_ms",
    "spark.failed_tasks", "spark.core_busy_share", "driver.gap_ms", "driver.gap_share",
    "trace.overhead_share", "trace.spans")

  val perLayerNames: Seq[String] =
    names.flatMap(l => perLayerStats.map(s => s"$l.$s")) ++ extras.map(_._1) ++ run

  /** End-to-end metrics every workload reports: the ones BENCHMARK.json
    * gates. The plain medians, the tails, the write and refresh latencies,
    * the retained heap and the workload-specific ratios are printed beside
    * them.
    */
  val endToEndNames: Seq[String] = Seq("setup_s", "ops_per_s", "op_mix_p50_ms")
}
