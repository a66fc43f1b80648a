package perfbench

/** Every per-layer metric a traced run prints, with its unit. A
  * workload fills in the layers it runs; a layer it does not run reads
  * 0 (it did no work). Times per op are per shard file
  * (cdc_small_batch, cdc_large_batch) or per query (query_library). */
object Layers {
  val units: Seq[(String, String)] = Seq(
    // engine, per op
    "spark.jobs_per_file" -> "count",
    "spark.tasks_per_file" -> "count",
    "spark.jobs_per_query" -> "count",
    "spark.task_cpu_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.codegen_compiles" -> "count",
    "spark.codegen_compile_ms" -> "ms",
    // streaming micro-batches, per file
    "streaming.micro_batches_per_file" -> "count",
    "streaming.nodata_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.state_update_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms",
    "streaming.state_rows" -> "count",
    "streaming.state_bytes" -> "bytes",
    "streaming.foreach_batch_ms" -> "ms",
    "sources.latest_offset_ms" -> "ms",
    // stateless prefix, per 10,000 records
    "decode.ms_per_10k" -> "ms",
    "rules.ms_per_10k" -> "ms",
    // sink, per file
    "sink.cas_ms" -> "ms",
    "sink.append_ms" -> "ms",
    "sink.txnlog_ms" -> "ms",
    "sink.cas_commits_per_file" -> "count",
    "sink.status_rows_per_key" -> "ratio",
    "sink.snapshot_rows_written" -> "count",
    "metrics.observed_batches" -> "count",
    // query library, per pass
    "SparkEntry.construct_ms" -> "ms",
    "SparkEntry.construct_jobs" -> "count",
    "plans.plan_ms" -> "ms",
    "spark.exec_ms" -> "ms",
    "library.pass_s" -> "s",
    "CorpusIngest.self_ms" -> "ms",
    "CorpusIngest.jobs_per_pass" -> "count",
    "CorpusIngest.index_mb" -> "MB",
    // the trace itself
    "trace.engine_ms" -> "ms",
    "trace.self_time_gap" -> "share",
    "trace.sampled_gap" -> "share",
    "trace.batch_p50_ms" -> "ms")

  /** Largest share by which the self times of a traced run may miss
    * the wall they split. On the cdc workloads the self times are the
    * phases of each micro-batch as the engine times them; what lies
    * between the phases (the landing, the wait for the next trigger,
    * progress reporting) is the allowed gap. On query_library they are
    * the construct, plan and execute parts of each query against the
    * pass wall. */
  val SelfTimeTolerance = 0.05
  /** Largest share by which the time the stack sampler charged may
    * miss the timed wall: a 10 ms interval lost or gained at each edge
    * of each timed window. */
  val SampledTolerance = 0.05

  /** A traced-run check: `gap` must not exceed `tolerance`. */
  def gapCheck(name: String, gap: Double, tolerance: Double): (String, Boolean, String) =
    (name, gap <= tolerance, f"gap=$gap%.5f tolerance=$tolerance")

  def zeros: Map[String, Metric] =
    units.map { case (n, u) => n -> Metric(0.0, u) }.toMap
}
