package perfbench

/** Every metric the benchmark reports, with its unit. BENCHMARK.json lists
  * the same names; run.py refuses a result whose names or units differ.
  */
object Layers {
  /** End-to-end metrics (untraced runs). Each workload reads them in its
    * own unit of work: see BENCHMARK.json's workload descriptions.
    */
  val endToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "work_per_s" -> "1/s", "p50_ms" -> "ms",
    "p90_ms" -> "ms")
  val endToEnd: Seq[String] = endToEndUnits.map(_._1)

  /** Per-layer metrics (traced runs). A layer the workload does not
    * execute did no work in that run and reads 0.
    */
  val all: Seq[(String, String)] = Seq(
    "bench.trace_overhead_pct" -> "%",
    "bench.control_s" -> "s",
    // batch_build: cumulative prefixes, layer = difference
    "kg.link_context_s" -> "s",
    "pipeline.sentences_s" -> "s",
    "pipeline.detect_s" -> "s",
    "kg.link_assemble_s" -> "s",
    "store.commit_s" -> "s",
    "store.resume_noop_s" -> "s",
    "kg.scaling_eff" -> "ratio",
    "pipeline.sentences" -> "count",
    "pipeline.mentions" -> "count",
    "pipeline.relations" -> "count",
    "kg.triples" -> "count",
    "kg.link_ratio" -> "ratio",
    "store.files" -> "count",
    "store.bytes" -> "bytes",
    "pipeline.detect_tasks" -> "count",
    "kg.link_assemble_shuffle_bytes" -> "bytes",
    "store.commit_jobs" -> "count",
    "store.commit_tasks" -> "count",
    "kg.build_gc_ms" -> "ms",
    // batch_build, traced: the salted micro-batch split
    "store.dict_context_s" -> "s",
    "pipeline.salted_run_s" -> "s",
    "streaming.commit_s" -> "s",
    "streaming.commit_overhead_s" -> "s",
    "store.lineage_probe_s" -> "s",
    "streaming.files_per_batch" -> "count",
    "streaming.jobs_per_batch" -> "count",
    "streaming.stages_per_batch" -> "count",
    "streaming.tasks_per_batch" -> "count",
    "streaming.shuffle_write_bytes_per_batch" -> "bytes",
    "streaming.gc_ms_per_batch" -> "ms",
    // ner_serve
    "api.kernel_short_ms" -> "ms",
    "api.kernel_page_ms" -> "ms",
    "api.http_overhead_ms" -> "ms",
    "api.lateness_ms" -> "ms",
    "api.p99_ms" -> "ms",
    "api.max_rps" -> "1/s",
    // ner_serve, traced: the op-query split
    "ops.construct_s" -> "s",
    "ops.action_s" -> "s",
    "ops.jobs" -> "count",
    "ops.stages" -> "count",
    "ops.tasks" -> "count",
    "ops.shuffle_read_bytes" -> "bytes",
    "ops.shuffle_write_bytes" -> "bytes",
    "ops.spill_bytes" -> "bytes",
    "ops.gc_ms" -> "ms") ++
    OpsQueries.mix.map(q => s"ops.${q}_s" -> "s")
  val names: Seq[String] = all.map(_._1)
}
