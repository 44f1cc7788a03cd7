package geobench

import graft.catalog.{Catalog, TableStore}
import org.apache.spark.sql.SparkSession

import java.io.File

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --trace-dir <dir>`. Prints, as its last
  * stdout line, `{"correct", "attempted", "failed", "metrics"}`: the
  * end-to-end metrics untraced, the per-layer metrics traced. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, traceDir: File)

  final case class Outcome(attempted: Long, errors: Seq[String], metrics: Map[String, Double])

  val Workloads = Seq("xyz_browse", "cube_timeseries")

  /** Length of the untimed warm-up before the measured window. */
  val WarmUpS = 20

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k required"))
    val a = Args(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") == "1", new File(req("work")), new File(req("trace-dir")))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    a.work.mkdirs()
    if (a.trace) a.traceDir.mkdirs()
    val spark = session(a, cores)
    log("session up")
    val out =
      try a.workload match {
        case "xyz_browse" =>
          readRun(spark, new Serving.Xyz(Mosaic(a.seed, cols = 3, rows = 3, dates = 2),
            a.seed, clients = cores), a)
        case "cube_timeseries" =>
          readRun(spark, new Serving.Cube(Mosaic(a.seed, cols = 2, rows = 2, dates = 16),
            a.seed, clients = 2), a)
      } finally { spark.stop(); log("session stopped") }
    val names = if (a.trace) Metrics.PerLayer else Metrics.EndToEnd
    val missing = if (a.trace) Nil
      else names.map(_._1).filter(n => !out.metrics.get(n).exists(v => v > 0 && !v.isInfinite))
    val errors = out.errors ++ missing.map(n => s"metric $n was not measured")
    errors.take(20).foreach(e => System.err.println(s"geobench: $e"))
    val correct = errors.isEmpty
    println(s"""{"correct":$correct,"attempted":${math.max(1L, out.attempted)},""" +
      s""""failed":${out.errors.size},"metrics":${Metrics.json(names, out.metrics)}}""")
    // exit explicitly: idle HTTP-client and pool threads must not hold
    // the JVM open after the result is out
    sys.exit(if (correct) 0 else 1)
  }

  def session(a: Args, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"geobench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
    // the engine's latency-serving settings
    val spark = graft.cube.GetCube.ServingSessionConfs
      .foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def seconds(ns: Long): Double = ns / 1e9

  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"geobench: [${seconds(System.nanoTime() - t0)}%.1fs] $msg")

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  private def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; seconds(System.nanoTime() - t0)
  }

  // --------------------------------------------------------------- reads

  def readRun[R](spark: SparkSession, w: ReadWorkload[R], a: Args): Outcome = {
    import Serving._
    val roots = (1 to (if (a.trace) 1 else 3)).map(i => new File(a.work, s"catalog-$i"))
    // set-up = seeding the fixture catalog, repeated; the last one serves
    val setupS = roots.map(r => timeS(w.mosaic.writeCatalog(spark, Catalog(r.getAbsolutePath))))
    roots.init.foreach(rm)
    log(s"setup_s per repetition: ${setupS.map(v => f"$v%.2f").mkString(" ")}")
    val root = roots.last
    val cat: TableStore = Catalog(root.getAbsolutePath)
    val edge = new graft.serving.HttpEdge(spark, cat)
    val port = edge.start()
    try {
      val hcs = Vector.fill(w.clients)(newClient())
      val viaHttp = (c: Int, i: Int, r: R) => httpOp(w, port, hcs(c), c, i, r)
      def phase(ns: Long, streams: Int => Vector[R] = w.stream)(
          run: (Int, Int, R) => Op[R]): Seq[Op[R]] =
        closedLoop(w.clients, System.nanoTime() + ns, streams)(run)
      // warm-up on another seed's stream for a fixed time: latency keeps
      // falling for longer than a run can wait (see README), so every run
      // starts measuring at the same point of that curve
      val warmJvm = new JvmPhase
      val warm = phase(WarmUpS * 1000000000L, w.warmup)(viaHttp)
      log(f"warm-up: ${warm.size} requests, JIT ${warmJvm.jitMsDelta}%.0f ms; " +
        "ms in start order: " + warm.sortBy(_.startNs).map(o => f"${o.ms}%.0f").mkString(" "))
      def mpix(ops: Seq[Op[R]]) =
        ops.map(o => o.answer.map(ans => w.outputMpix(o.req, ans)).getOrElse(0.0)).sum
      def inProc(ctx: Ctx, phaseId: String) = (c: Int, i: Int, r: R) =>
        timed(c, i, r) { _ =>
          val id = s"$phaseId-c$c-$i"
          Tracer.inGroup(spark, id)(w.inProcess(ctx, r, id))
        }
      if (!a.trace) {
        val jvm = new JvmPhase
        val ops = phase(a.seconds * 1000000000L)(viaHttp)
        log(f"${ops.size} requests; JIT ${jvm.jitMsDelta}%.0f ms, GC ${jvm.gcS}%.2f s, " +
          s"${jvm.classesLoaded} classes loaded; ms in start order: " +
          ops.sortBy(_.startNs).map(o => f"${o.ms}%.0f").mkString(" "))
        log(f"repeat share of measured requests: ${Layers.repeatShare(w, ops)}%.3f")
        val bad = verify(w, warm ++ ops)
        log("verified")
        val ms = ops.map(_.ms)
        // throughput over the clients' busy time (Little's law), so the
        // request in flight at the deadline does not quantize it
        val busy = ms.sum / 1000 / w.clients
        Outcome(warm.size + ops.size, bad, Map(
          "setup_s" -> Stats.median(setupS),
          "p50_ms" -> Stats.median(ms),
          "ops_per_s" -> ops.size / busy,
          "mpix_per_s" -> mpix(ops) / busy,
          "space_amp" -> Stats.spaceAmp(Stats.listing(root), w.mosaic.rawPixelBytes)))
      } else {
        // phases HTTP, untraced, traced, traced, untraced, HTTP, each
        // replaying the start of the same streams: every comparison is
        // symmetric in time, so drift that is linear in time (the JIT,
        // the host) cancels from trace.overhead_pct and serving.gap_ms
        val slot = a.seconds * 1000000000L / 4
        val plain = inProc(Ctx(spark, cat, None), "b")
        val a1 = phase(slot)(viaHttp)
        val b1 = phase(slot)(plain)
        val spans = new Spans
        val tracer = new Tracer
        tracer.attach(spark)
        val list0 = Stats.listing(root)
        val jvm = new JvmPhase
        def tracedPhase(id: String) = phase(slot)(inProc(Ctx(spark, cat, Some(spans)), id))
          .map(o => s"$id-c${o.client}-${o.seq}" -> o)
        val c1 = tracedPhase("c1")
        val c2 = tracedPhase("c2")
        val jvmOut = (jvm.gcS, jvm.heapPeakMb, jvm.jitMsDelta)
        tracer.detach(spark)
        val writes = Stats.writes(list0, Stats.listing(root))
        val b2 = phase(slot)(plain)
        val a2 = phase(slot)(viaHttp)
        val (http, untraced, traced) = (a1 ++ a2, b1 ++ b2, c1 ++ c2)
        val bad = verify(w, warm ++ http ++ untraced ++ traced.map(_._2))
        val read = Layers.read(http, untraced, traced, tracer, spans, writes, jvmOut)
        // the write path has no workload of its own: the cube run's
        // traced pass ends with one ingest cycle to measure its layers
        val (write, writeErrors, cycles) =
          if (w.name == "cube_timeseries") ingestCycle(spark, a, spans)
          else (Map.empty[String, Double], Nil, 0)
        val layers = read ++ write
        Layers.writeArtifacts(a, spans, layers, Map(
          "requests" -> Seq("http" -> http.size, "in_process" -> untraced.size,
            "traced" -> traced.size, "ingest_cycles" -> cycles)
            .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")))
        Outcome(warm.size + http.size + untraced.size + traced.size + cycles,
          bad ++ writeErrors, layers)
      }
    } finally edge.stop()
  }

  // -------------------------------------------------------------- writes

  /** The write path's per-layer metrics from one traced cycle on a fresh
    * catalog, with AQE on (the engine's ETL default). It is the JVM's
    * first write-path cycle, so its figures include that path's class
    * loading and compilation: a warm-up cycle would cost another 20-30 s
    * of a run that must stay under three minutes. Returns the metrics,
    * the cycle's error and the number of cycles run. */
  def ingestCycle(spark: SparkSession, a: Args,
      spans: Spans): (Map[String, Double], Seq[String], Int) = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val root = new File(a.work, "ingest")
    val cat = Catalog(root.getAbsolutePath)
    val in = new Ingest(a.seed, new File(a.work, "incoming"))
    in.setup(spark, cat)
    val tracer = new Tracer
    val writes = scala.collection.mutable.ArrayBuffer.empty[Stats.Writes]
    var states: Seq[(String, Double)] = Nil
    tracer.attach(spark)
    val cycle = Ingest.cycle(spark, cat, in, 0, { (step, body) =>
      val before = Stats.listing(root)
      spans.span(step, "cycle-0") { _ => Tracer.inGroup(spark, s"cycle-0/$step")(body()) }
      writes += Stats.writes(before, Stats.listing(root))
      if (step == "consolidation.job") states = Ingest.stepSeconds(spark, cat, "job-c0")
    })
    tracer.detach(spark)
    log(f"ingest cycle: ${cycle.ms / 1000}%.1f s")
    (Layers.ingest(cycle, tracer, spans, writes.toSeq, Stats.listing(root).size.toLong, states),
      if (cycle.ok) Nil else Seq(s"ingest cycle: ${cycle.error}"), 1)
  }
}
