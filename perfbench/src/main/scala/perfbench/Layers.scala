package perfbench

/** The metric names the benchmark reports, by trace mode. A traced run of
  * any workload reports every per-layer name; layers the workload never
  * calls read 0.
  */
object Layers {
  val endToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "cold_pass_s" -> "s", "op_geomean_s" -> "s")

  private val mb = 1024.0 * 1024.0

  /** Listener counters of one window, as the `spark.*` layer. */
  def spark(w: WindowStats): Seq[(String, Double, String)] = Seq(
    ("spark.jobs", w.c.jobs.toDouble, "count"),
    ("spark.stages", w.c.stages.toDouble, "count"),
    ("spark.tasks", w.c.tasks.toDouble, "count"),
    ("spark.driver_gap_s", w.driverGapS, "s"),
    ("spark.in_job_s", w.inJobS, "s"),
    ("spark.executor_run_s", w.c.executorRunMs / 1e3, "s"),
    ("spark.executor_cpu_s", w.c.executorCpuNs / 1e9, "s"),
    ("spark.gc_s", w.c.gcMs / 1e3, "s"),
    ("spark.shuffle_write_mb", w.c.shuffleWriteBytes / mb, "MB"),
    ("spark.shuffle_read_mb", w.c.shuffleReadBytes / mb, "MB"),
    ("spark.spill_mb", w.c.spillBytes / mb, "MB"),
    ("spark.input_mb", w.c.inputBytes / mb, "MB"),
    ("spark.output_mb", w.c.outputBytes / mb, "MB"),
    ("spark.storage_peak_mb", w.storagePeakBytes / mb, "MB"))

  val pipelineStages: Seq[String] = Seq("geomag", "align", "remap_depth",
    "heading", "soundspeed", "outliers", "correct_shear", "backscatter",
    "regrid", "three_beam", "enu_shear", "dac", "axes", "grid", "reference",
    "bias", "dataset")

  val perLayer: Seq[(String, String)] =
    spark(WindowStats.zero).map { case (n, _, u) => n -> u } ++
    Seq("trace_overhead" -> "ratio",
      "queries.build_s" -> "s", "queries.exec_s" -> "s",
      "queries.jobs_per_query_p50" -> "count") ++
    QueryMix.packs.map { case (p, _) => s"queries.${p}_s" -> "s" } ++
    pipelineStages.flatMap(s =>
      Seq(s"pipeline.${s}_s" -> "s", s"pipeline.${s}_jobs" -> "count")) ++
    Seq("build_s" -> "s", "ingest_batch_s" -> "s", "replay_s" -> "s",
      "delete_s" -> "s", "merge_s" -> "s", "retrain_s" -> "s",
      "compact_s" -> "s", "serve_s" -> "s", "files_pre_compact" -> "count",
      "files_post_compact" -> "count", "written_mb" -> "MB", "jobs" -> "count")
      .map { case (n, u) => s"operators.lsh.$n" -> u } ++
    Seq("operators.write_amp" -> "ratio", "operators.space_amp" -> "ratio")

  /** The full set for the run's mode, in registry order. Per-layer names
    * the workload did not measure are filled with 0; every end-to-end
    * metric must have been measured.
    */
  def complete(traced: Boolean,
      got: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val byName = got.map(m => m._1 -> m).toMap
    val names = if (traced) perLayer else endToEnd
    val unknown = byName.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"unregistered metrics: ${unknown.mkString(",")}")
    val missing = if (traced) Nil else names.map(_._1).filterNot(byName.contains)
    require(missing.isEmpty, s"unmeasured metrics: ${missing.mkString(",")}")
    names.map { case (n, u) => byName.getOrElse(n, (n, 0.0, u)) }
  }
}
