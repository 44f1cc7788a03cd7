package geobench

/** Per-layer metrics of a traced run, and its artifacts: `spans.jsonl`
  * (name, start, end, parent, request) and `summary.json` (the per-layer
  * values keyed by metric name, remainder labels, tracing overhead). */
object Layers {

  private val MiB = 1048576.0

  /** Spark and Catalyst counters summed over `groups`, divided by `n`. */
  private def spark(tracer: Tracer, groups: Seq[String], n: Int): Map[String, Double] = {
    val cs = groups.map(tracer.counters)
    def per(f: Counters => Double) = if (n == 0) 0.0 else cs.map(f).sum / n
    Map(
      "spark.jobs" -> per(_.jobs.toDouble),
      "spark.stages" -> per(_.stages.toDouble),
      "spark.tasks" -> per(_.tasks.toDouble),
      "spark.task_overhead_s" -> per(c => (c.taskWallMs - c.runMs) / 1000.0),
      "spark.executor_cpu_s" -> per(_.cpuNs / 1e9),
      "spark.executor_run_s" -> per(_.runMs / 1000.0),
      "spark.shuffle_read_mb" -> per(_.shuffleReadB / MiB),
      "spark.shuffle_write_mb" -> per(_.shuffleWriteB / MiB),
      "spark.spill_mb" -> per(_.spillB / MiB),
      "spark.input_mb" -> per(_.inputB / MiB),
      "catalyst.analysis_ms" -> per(_.analysisMs.toDouble),
      "catalyst.optimization_ms" -> per(_.optimizationMs.toDouble),
      "catalyst.planning_ms" -> per(_.planningMs.toDouble))
  }

  private def jvm(j: (Double, Double, Double)): Map[String, Double] =
    Map("jvm.gc_s" -> j._1, "jvm.heap_peak_mb" -> j._2, "jvm.jit_ms" -> j._3)

  private def overheadPct(untraced: Seq[Double], traced: Seq[Double]): Double =
    (Stats.median(traced) / Stats.median(untraced) - 1) * 100

  /** Wall time of the union of `jobs` (epoch ms) clipped to [s, e] (µs). */
  private def jobWallWithinMs(jobs: Seq[(Long, Long)], sUs: Long, eUs: Long): Double =
    Stats.covered(jobs.map { case (js, je) => (math.max(js * 1000, sUs), math.min(je * 1000, eUs)) }
      .filter { case (a, b) => b > a }) / 1000.0

  /** Add every request's Spark jobs as `spark.job` spans under its root. */
  private def addJobSpans(tracer: Tracer, spans: Spans): Unit = {
    // a group is a request id, or "<request>/<step span name>"
    val roots = spans.toSeq.filter(_.parent == 0)
      .flatMap(s => Seq(s.request -> s, s"${s.request}/${s.name}" -> s)).toMap
    for (g <- tracer.groups; (s, e) <- tracer.counters(g).jobSpans.toSeq)
      spans.add("spark.job", g.takeWhile(_ != '/'), s * 1000, e * 1000,
        roots.get(g).map(_.id).getOrElse(0L))
  }

  /** Share of requests that repeat an earlier request of the same phase. */
  def repeatShare[R](w: ReadWorkload[R], ops: Seq[Op[R]]): Double = {
    val keys = ops.sortBy(_.startNs).map(o => w.key(o.req))
    if (keys.isEmpty) 0.0
    else keys.zipWithIndex.count { case (k, i) => keys.take(i).contains(k) }.toDouble / keys.size
  }

  /** The read path's metrics; `tracedOps` pairs each traced request with
    * its request id (its job group). */
  def read[R](http: Seq[Op[R]], plain: Seq[Op[R]], tracedOps: Seq[(String, Op[R])],
      tracer: Tracer, spans: Spans, writes: Stats.Writes,
      jvmOut: (Double, Double, Double)): Map[String, Double] = {
    val n = tracedOps.size
    val (ids, traced) = tracedOps.unzip
    val all = spans.toSeq
    def spanMs(name: String) = if (n == 0) 0.0 else all.filter(_.name == name).map(_.ms).sum / n
    // the XYZ mosaic, palette and PNG run in getTile outside any Spark
    // job: its span minus its jobs' wall time is their remainder
    val remainders = all.filter(_.name == "xyz.getTile").map { s =>
      val r = s.ms - jobWallWithinMs(tracer.counters(s.request).jobSpans.toSeq, s.startUs, s.endUs)
      spans.add("cube.xyz_driver.remainder", s.request, s.startUs,
        s.startUs + (r * 1000).toLong, s.id)
      r
    }
    addJobSpans(tracer, spans)
    val answers = traced.flatMap(_.answer.toOption)
    val raw = answers.map(_.raw).sum
    val packed = answers.map(_.bytes).sum
    spark(tracer, ids, n) ++ jvm(jvmOut) ++ Map(
      "cube.prepare_ms" -> spanMs("cube.prepare"),
      "cube.plan_build_ms" -> spanMs("cube.plan_build"),
      "cube.execute_ms" -> (if (n == 0) 0.0 else ids.map(tracer.counters(_).jobWallMs).sum.toDouble / n),
      "cube.xyz_driver_ms" -> (if (n == 0) 0.0 else remainders.sum / n),
      "cube.deflate_ms" -> spanMs("cube.deflate"),
      "cube.compression_ratio" -> (if (packed > 0 && raw > 0) raw.toDouble / packed else 0.0),
      "serving.ttfb_ms" -> Stats.median(http.map(_.ttfbNs / 1e6)),
      "serving.bytes_per_request" -> (if (http.isEmpty) 0.0
        else http.flatMap(_.answer.toOption).map(_.bytes).sum.toDouble / http.size),
      "serving.gap_ms" -> (Stats.median(http.map(_.ms)) - Stats.median(traced.map(_.ms))),
      "catalog.files_written" -> (if (n == 0) 0.0 else writes.files.toDouble / n),
      "catalog.bytes_written" -> (if (n == 0) 0.0 else writes.bytes.toDouble / n),
      "catalog.live_files" -> writes.live.toDouble,
      "trace.overhead_pct" -> overheadPct(plain.map(_.ms), traced.map(_.ms)))
  }

  /** The write path's metrics from one traced ingest cycle. */
  def ingest(cycle: Ingest.Cycle, tracer: Tracer, spans: Spans, writes: Seq[Stats.Writes],
      liveFiles: Long, states: Seq[(String, Double)]): Map[String, Double] = {
    addJobSpans(tracer, spans)
    def stepMs(step: String) = cycle.stepsMs.filter(_._1 == step).map(_._2).sum
    val px = cycle.pixels / 1e6
    val ingestS = (stepMs("ingest.import") + stepMs("ingest.records") + stepMs("ingest.index")) / 1000
    val jobS = stepMs("consolidation.job") / 1000
    val consolidation = tracer.groups.filter(_.endsWith("/consolidation.job"))
    Map(
      "ingest.import_ms" -> stepMs("ingest.import"),
      "ingest.records_ms" -> stepMs("ingest.records"),
      "ingest.index_ms" -> stepMs("ingest.index"),
      "ingest.mpix_per_s" -> (if (ingestS > 0) px / ingestS else 0.0),
      "consolidation.job_s" -> jobS,
      "consolidation.spark_jobs" -> consolidation.map(tracer.counters(_).jobs).sum.toDouble,
      "consolidation.verify_ms" -> stepMs("consolidation.verify"),
      "consolidation.mpix_per_s" -> (if (jobS > 0) px / jobS else 0.0),
      "catalog.files_written" -> writes.map(_.files).sum.toDouble,
      "catalog.bytes_written" -> writes.map(_.bytes).sum.toDouble,
      "catalog.live_files" -> liveFiles.toDouble) ++
      Metrics.ConsolidationStates.map { s =>
        s"consolidation.step_s.$s" -> states.filter(_._1 == s).map(_._2).sum
      }
  }

  def writeArtifacts(a: Main.Args, spans: Spans, layers: Map[String, Double],
      extra: Map[String, String]): Unit = {
    spans.write(new java.io.File(a.traceDir, "spans.jsonl"))
    val remainders = Metrics.Remainders.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val body = Seq(
      s""""workload":"${a.workload}"""", s""""seed":${a.seed}""", s""""seconds":${a.seconds}""",
      s""""nproc":${Runtime.getRuntime.availableProcessors()}""",
      s""""heap_max_mb":${Runtime.getRuntime.maxMemory() / 1048576}""",
      s""""metrics":${Metrics.json(Metrics.PerLayer, layers)}""",
      s""""remainders":$remainders""") ++ extra.map { case (k, v) => s""""$k":$v""" }
    val w = new java.io.PrintWriter(new java.io.File(a.traceDir, "summary.json"), "UTF-8")
    try w.println(body.mkString("{\n  ", ",\n  ", "\n}")) finally w.close()
  }
}
