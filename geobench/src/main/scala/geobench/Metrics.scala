package geobench

/** The benchmark's metric names and units: every end-to-end metric is
  * reported by every workload's untraced run, every per-layer metric by
  * every traced run (0 where the workload does not exercise the layer). */
object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "p50_ms" -> "ms",
    "ops_per_s" -> "1/s",
    "mpix_per_s" -> "Mpix/s",
    "space_amp" -> "ratio")

  val ConsolidationStates: Seq[String] = graft.consolidation.ConsolidationJob.states.drop(1)

  /** Per-layer metrics: means per operation (tile, cube request or ingest
    * cycle) over the traced phase, except `catalog.live_files`, `jvm.*`
    * and `trace.overhead_pct`, which describe the whole phase. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_overhead_s" -> "s",
    "spark.executor_cpu_s" -> "s",
    "spark.executor_run_s" -> "s",
    "spark.shuffle_read_mb" -> "MiB",
    "spark.shuffle_write_mb" -> "MiB",
    "spark.spill_mb" -> "MiB",
    "spark.input_mb" -> "MiB",
    "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "cube.prepare_ms" -> "ms",
    "cube.plan_build_ms" -> "ms",
    "cube.execute_ms" -> "ms",
    "cube.xyz_driver_ms" -> "ms",
    "cube.deflate_ms" -> "ms",
    "cube.compression_ratio" -> "ratio",
    "serving.ttfb_ms" -> "ms",
    "serving.bytes_per_request" -> "bytes",
    "serving.gap_ms" -> "ms",
    "ingest.import_ms" -> "ms",
    "ingest.records_ms" -> "ms",
    "ingest.index_ms" -> "ms",
    "ingest.mpix_per_s" -> "Mpix/s",
    "consolidation.job_s" -> "s",
    "consolidation.spark_jobs" -> "count",
    "consolidation.verify_ms" -> "ms",
    "consolidation.mpix_per_s" -> "Mpix/s") ++
    ConsolidationStates.map(s => s"consolidation.step_s.$s" -> "s") ++ Seq(
    "catalog.files_written" -> "count",
    "catalog.bytes_written" -> "bytes",
    "catalog.live_files" -> "count",
    "jvm.gc_s" -> "s",
    "jvm.heap_peak_mb" -> "MiB",
    "jvm.jit_ms" -> "ms",
    "trace.overhead_pct" -> "%")

  /** Metrics that are derived as the remainder of an enclosing span
    * because the layer has no public entry point. */
  val Remainders: Map[String, String] = Map(
    "cube.xyz_driver_ms" ->
      "XYZTile.getTile span minus the wall time of its Spark jobs (mosaic, palette, PNG)")

  /** `{"name": {"value": v, "unit": u}, ...}` in the order of `names`. */
  def json(names: Seq[(String, String)], values: Map[String, Double]): String =
    names.map { case (n, u) =>
      s""""$n":{"value":${num(values.getOrElse(n, 0.0))},"unit":"$u"}"""
    }.mkString("{", ",", "}")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
