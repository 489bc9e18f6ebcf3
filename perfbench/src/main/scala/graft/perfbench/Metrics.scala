package graft.perfbench

/** The benchmark's metric catalogue, mirrored in BENCHMARK.json. Every run
  * prints all end-to-end metrics (`--trace 0`) or all per-layer metrics
  * (`--trace 1`); a per-layer metric whose layer a workload never reaches
  * reads 0 on that workload.
  */
object Metrics {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "run_p50_s" -> "s",
    "rec_per_s" -> "records/s",
    "geomean_s" -> "s",
    "cpu_p50_s" -> "s",
    "sink_bytes_per_input_byte" -> "ratio",
    "peak_rss_mb" -> "MiB")

  /** The query modules the query mix draws from (one `query.module.*_s` each). */
  val modules: Seq[String] = Seq(
    "CorpusOps", "Dedup", "EventsOps", "IngestOps", "MultimodalOps", "Relational",
    "Similarity", "SketchOps", "Temporal", "TpchStyle", "TrainPrep")

  val perLayer: Seq[(String, String)] = Seq(
    "parsers.csv_ns_per_rec" -> "ns",
    "parsers.fw_ns_per_rec" -> "ns",
    "parsers.error_ratio" -> "ratio",
    "pipeline.textsource_job_s" -> "s",
    "batchjob.target_job_s" -> "s",
    "batchjob.status_job_s" -> "s",
    "batchjob.summary_jobs_s" -> "s",
    "batchjob.driver_gap_s" -> "s",
    "batchjob.jobs" -> "count",
    "batchjob.stages" -> "count",
    "batchjob.tasks" -> "count",
    "batchjob.executor_cpu_s" -> "s",
    "batchjob.gc_s" -> "s",
    "batchjob.spill_bytes" -> "bytes",
    "runstore.jobs_s" -> "s",
    "runstore.jobs" -> "count",
    "runstore.insert_s" -> "s",
    "runstore.update_s" -> "s",
    "runstore.log_files" -> "count",
    "runstore.rows_read_per_update" -> "count",
    "sink.target_bytes" -> "bytes",
    "sink.status_bytes" -> "bytes",
    "sink.run_bytes" -> "bytes",
    "sink.files" -> "count",
    "query.construct_s" -> "s",
    "query.construct_jobs" -> "count",
    "query.driver_gap_s" -> "s",
    "query.in_jobs_s" -> "s",
    "query.jobs" -> "count",
    "query.stages" -> "count",
    "query.tasks" -> "count",
    "query.analyze_s" -> "s",
    "query.optimize_s" -> "s",
    "query.plan_s" -> "s",
    "query.executor_cpu_s" -> "s",
    "query.gc_s" -> "s",
    "query.shuffle_read_bytes" -> "bytes",
    "query.shuffle_write_bytes" -> "bytes",
    "query.spill_bytes" -> "bytes",
    "query.job_count_drift" -> "count") ++
    modules.map(m => s"query.module.${m}_s" -> "s") ++ Seq(
    "setup.session_s" -> "s",
    "setup.warm_run_s" -> "s",
    "setup.fixtures_s" -> "s",
    "trace.overhead_ratio" -> "ratio",
    "trace.unattributed_ratio" -> "ratio")

  /** What one workload run measured. */
  final case class Outcome(attempted: Int, failed: Int, endToEnd: Map[String, Double], layers: Map[String, Double])

  /** The metrics to print: every end-to-end metric, or every per-layer one. */
  def select(o: Outcome, trace: Boolean): Seq[Main.Metric] =
    if (trace) {
      val unknown = o.layers.keySet -- perLayer.map(_._1)
      require(unknown.isEmpty, s"per-layer metrics missing from the catalogue: $unknown")
      perLayer.map { case (n, u) => Main.Metric(n, o.layers.getOrElse(n, 0.0), u) }
    } else endToEnd.map { case (n, u) =>
      Main.Metric(n, o.endToEnd.getOrElse(n, sys.error(s"end-to-end metric $n not measured")), u)
    }
}
