package graft.serving

import graft.catalog.{Catalog, Schemas, TableStore}
import graft.core.DType
import graft.cube.{Compress, CubeRequest, GetCube}
import graft.geo.{Affine, BBox, GeomOps}
import graft.raster.Bitmap
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The HTTP serving edge end to end: a real JDK HttpServer on an
  * ephemeral port, a real JDK HttpClient, and the frame protocol
  * ([4-byte BE length][payload]) decoded exactly the way a client
  * library would — global header, per-slice header, chunk reassembly
  * ([[Compress.assemble]]) and inflation back to the byte-identical
  * cube payloads the in-process [[GetCube.cube]] returns. */
class HttpEdgeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val root =
    java.nio.file.Files.createTempDirectory("graft-httpedge").toString
  private lazy val cat: TableStore = Catalog(root)
  private lazy val edge = new HttpEdge(spark, cat)
  private var port: Int = 0

  private val tf = Seq(0.0, 0.01, 0.0, 2.56, 0.0, -0.01)
  private val t0 = 1704067200000L // 2024-01-01T00:00Z

  override def beforeAll(): Unit = {
    val sc = spark
    def write(table: String, rows: Seq[Row]): Unit =
      cat.append(sc.createDataFrame(
        sc.sparkContext.parallelize(rows), Schemas.all(table)), table)
    val wkb = GeomOps.writeWkb(GeomOps.polygonFromBBox(BBox(0, 0, 2.56, 2.56)))
    val bbox = Row(0.0, 0.0, 2.56, 2.56)
    write("aoi", Seq(Row("a1", "h", wkb, bbox)))
    write("records", (1 to 5).map(i =>
      Row(s"r$i", s"rec$i", new java.sql.Timestamp(t0 + i * 3600000L),
        Map.empty[String, String], "a1")))
    write("variable_definitions", Seq(
      Row("v1", "b", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "", "near")))
    write("variable_instances", Seq(Row("i1", "m", Map.empty[String, String], "v1")))
    write("datasets", (1 to 5).map(i =>
      Row(s"d$i", s"r$i", "i1", s"mem://h$i", "", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false, wkb, wkb, 4326, bbox)))
    write("tiles", (1 to 5).map { i =>
      val px = Array.tabulate(64 * 64)(p => ((p + i) % 200).toDouble)
      Row(s"mem://h$i", "", 64, 64, 1, "uint8", "EPSG:4326", tf,
        new Bitmap(64, 64, 1, DType.UInt8, px).toBytes)
    })
    port = edge.start()
  }

  override def afterAll(): Unit = {
    edge.stop()
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(root))
  }

  private lazy val client = HttpClient.newHttpClient()

  private def get(path: String): HttpResponse[Array[Byte]] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofByteArray())

  /** Split a framed body into payloads. */
  private def frames(body: Array[Byte]): Vector[Array[Byte]] = {
    val out = Vector.newBuilder[Array[Byte]]
    var i = 0
    while (i < body.length) {
      require(i + 4 <= body.length, s"truncated frame length at $i")
      val n = ((body(i) & 0xff) << 24) | ((body(i + 1) & 0xff) << 16) |
        ((body(i + 2) & 0xff) << 8) | (body(i + 3) & 0xff)
      require(i + 4 + n <= body.length, s"truncated frame payload at $i ($n)")
      out += java.util.Arrays.copyOfRange(body, i + 4, i + 4 + n)
      i += 4 + n
    }
    out.result()
  }

  private def jsonInt(json: String, key: String): Int =
    s""""$key":(-?\\d+)""".r.findFirstMatchIn(json)
      .getOrElse(fail(s"$key not in $json")).group(1).toInt

  private def jsonStr(json: String, key: String): String =
    s""""$key":"((?:[^"\\\\]|\\\\.)*)"""".r.findFirstMatchIn(json)
      .getOrElse(fail(s"$key not in $json")).group(1)

  private val cubeQuery = "instances=i1&crs=EPSG:4326" +
    "&transform=0,0.01,0,2.56,0,-0.01&width=64&height=64"

  test("cube stream: framed global header + per-slice chunked payloads, byte-identical to the in-process cube") {
    val resp = get(s"/v1/cube?$cubeQuery&records=r1,r2,r3&compression=6")
    assert(resp.statusCode() == 200)
    assert(resp.headers().firstValue("Content-Type").orElse("")
      == "application/x-graft-cube")
    val fs = frames(resp.body())
    val global = new String(fs.head, "UTF-8")
    assert(jsonStr(global, "crs") == "EPSG:4326")
    assert(jsonStr(global, "dtype") == "uint8")
    // walk slice frames: header JSON, then nparts binary chunks
    var i = 1
    val served = scala.collection.mutable.Map.empty[String, Array[Byte]]
    while (i < fs.length) {
      val header = new String(fs(i), "UTF-8")
      val nparts = jsonInt(header, "nparts")
      assert(jsonStr(header, "error") == "")
      val chunks = (0 until nparts).map(p => (p, fs(i + 1 + p)))
      served += jsonStr(header, "group_key") ->
        Compress.inflate(Compress.assemble(chunks))
      i += 1 + nparts
    }
    val direct = GetCube.cube(spark, cat, CubeRequest(
      instanceIds = Seq("i1"), crs = "EPSG:4326",
      transform = Affine.northUp(0, 2.56, 0.01, -0.01), width = 64, height = 64,
      recordIds = Seq("r1", "r2", "r3"))).collect()
    assert(served.keySet == direct.map(_.group_key).toSet)
    assert(served.size == 3)
    direct.foreach { s =>
      assert(java.util.Arrays.equals(served(s.group_key), s.payload),
        s"payload mismatch for ${s.group_key}")
    }
  }

  test("raw compression (-3) splits a >512 KiB payload into multiple chunk frames") {
    // 900×900 uint8 ≈ 810 KB raw → 2 chunks at the 512 KiB chunk size
    val resp = get("/v1/cube?instances=i1&crs=EPSG:4326" +
      "&transform=0,0.003,0,2.56,0,-0.003&width=900&height=900" +
      "&records=r1&compression=-3")
    assert(resp.statusCode() == 200)
    val fs = frames(resp.body())
    val header = new String(fs(1), "UTF-8")
    val nparts = jsonInt(header, "nparts")
    assert(nparts >= 2, s"expected a multi-chunk payload, got $nparts")
    assert(jsonInt(header, "raw_size") == jsonInt(header, "compressed_size"))
    val payload = Compress.assemble((0 until nparts).map(p => (p, fs(2 + p))))
    assert(payload.length == jsonInt(header, "raw_size"))
  }

  test("headers_only streams DatasetMeta frames — the DownloadCube client input") {
    val resp = get(s"/v1/cube?$cubeQuery&headers_only=true")
    assert(resp.statusCode() == 200)
    val fs = frames(resp.body())
    assert(fs.length == 1 + 5, s"expected global + 5 metadata frames, got ${fs.length}")
    val metas = fs.tail.map(f => new String(f, "UTF-8"))
    assert(metas.map(jsonStr(_, "container_uri")).toSet ==
      (1 to 5).map(i => s"mem://h$i").toSet)
    assert(metas.forall(m => jsonStr(m, "dtype") == "uint8"))
  }

  test("xyz tile: 200 image/png over data, 204 off data") {
    // z=7 x=64 y=63 covers lon [0, 2.8125], lat [0, ~2.81] — on the fixture
    val hit = get("/v1/xyz/i1/7/64/63.png")
    assert(hit.statusCode() == 200)
    assert(hit.headers().firstValue("Content-Type").orElse("") == "image/png")
    val png = hit.body()
    assert(png.length > 8 && (png(0) & 0xff) == 0x89 && png(1) == 'P' &&
      png(2) == 'N' && png(3) == 'G', "not a PNG payload")
    // a tile on the other side of the planet
    val miss = get("/v1/xyz/i1/7/10/63.png")
    assert(miss.statusCode() == 204)
  }

  test("a client that stops reading mid-stream is aborted at the stall bound, freeing the handler") {
    // r13 verdict optional #7: a gone-but-unclosed client used to block
    // the handler thread in write() forever, pinning the Spark partition
    // iterator behind it. A tight-stall edge (400 ms bound) must close
    // the exchange once ONE write stays blocked that long — observed
    // client-side as EOF/reset on the stalled socket, promptly.
    val stallEdge = new HttpEdge(spark, cat, stallTimeoutMs = 400L)
    val stallPort = stallEdge.start()
    try {
      val sock = new java.net.Socket()
      try {
        // a small advertised window plus a raw ~36 MB cube guarantees
        // the server's write actually BLOCKS instead of parking the
        // whole body in kernel buffers
        sock.setReceiveBufferSize(8192)
        sock.connect(new java.net.InetSocketAddress("127.0.0.1", stallPort))
        sock.setSoTimeout(30000)
        // DON'T read: the server's write must block on the TCP window
        val req = "GET /v1/cube?instances=i1&crs=EPSG:4326" +
          "&transform=0,0.0004266,0,2.56,0,-0.0004266&width=6000&height=6000" +
          "&records=r1&compression=-3 HTTP/1.1\r\n" +
          s"Host: 127.0.0.1:$stallPort\r\n\r\n"
        sock.getOutputStream.write(req.getBytes("US-ASCII"))
        sock.getOutputStream.flush()
        val buf = new Array[Byte](64 * 1024)
        val in = sock.getInputStream
        // phase 1: read until the body is clearly flowing (the compute
        // is done and the server is mid-stream), then STOP reading —
        // the ~36 MB remainder cannot fit the TCP windows, so the
        // server's next write blocks and the watchdog must fire
        var drained = 0L
        while (drained < 256 * 1024) {
          val n = in.read(buf)
          assert(n > 0, "stream ended before the stall phase")
          drained += n
        }
        Thread.sleep(1500) // stalled well past the 400 ms bound
        // phase 2: the server must have aborted — draining now ends in
        // EOF/reset after at most the kernel-buffered backlog
        val t0 = System.nanoTime()
        var eof = false
        while (!eof && (System.nanoTime() - t0) < 15e9) {
          val n = try in.read(buf) catch { case _: java.io.IOException => -1 }
          if (n < 0) eof = true else drained += n
        }
        assert(eof, s"stalled stream never aborted (drained $drained bytes)")
        assert(drained < 6000L * 6000 / 2, // far less than the full raster
          s"server pushed the whole body ($drained bytes) to a stalled client")
      } finally sock.close()
      // the edge stays healthy for the next client
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$stallPort/v1/datasets?instances=i1&limit=10")).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() == 200)
    } finally stallEdge.stop()
  }

  test("datasets browse clamps limit (400 above) and streams a large browse chunked") {
    // r13 verdict #2: an uncapped limit used to .collect() the whole
    // browse onto the serving driver. The cap is a clean 400; under it,
    // rows stream over chunked transfer (no Content-Length, one row in
    // driver memory at a time) with exact row-count parity.
    val over = get(s"/v1/datasets?limit=${HttpEdge.MaxBrowseLimit + 1}")
    assert(over.statusCode() == 400)
    assert(new String(over.body(), "UTF-8").contains("limit"))
    assert(get("/v1/datasets?limit=0").statusCode() == 400)
    // a browse bigger than any plausible buffer page, on its own instance
    val sc = spark
    val wkb = GeomOps.writeWkb(GeomOps.polygonFromBBox(BBox(0, 0, 2.56, 2.56)))
    val bbox = Row(0.0, 0.0, 2.56, 2.56)
    cat.append(sc.createDataFrame(
      sc.sparkContext.parallelize((1 to 3000).map(i =>
        Row(s"big$i", s"r${i % 5 + 1}", "i2", s"mem://big$i", "", Seq(1),
          "ACTIVE", null, "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0,
          false, wkb, wkb, 4326, bbox)), 4),
      Schemas.all("datasets")), "datasets")
    val resp = get("/v1/datasets?instances=i2&limit=10000")
    assert(resp.statusCode() == 200)
    assert(!resp.headers().firstValue("Content-Length").isPresent,
      "large browse was buffered (Content-Length set), not streamed")
    val body = new String(resp.body(), "UTF-8")
    assert("\"id\":\"big".r.findAllIn(body).size == 3000,
      "streamed browse lost rows")
    assert(body.startsWith("[") && body.endsWith("]"))
  }

  test("a wedged partition job frees the consuming thread at the compute deadline and its Spark jobs are cancelled") {
    // r14 advice #3 / verdict #2: PipelinedPartitions used to Await with
    // Duration.Inf — a Spark job that never finishes (executor wedge,
    // storage hang) pinned one of the edge's 8 handler threads forever;
    // 8 such requests wedged the whole edge. The per-request compute
    // deadline must free the thread AND cancel the in-flight jobs.
    import spark.implicits._
    val sc = spark.sparkContext
    val hang = spark.range(0, 8, 1, 2).as[Long].mapPartitions { it =>
      // "never finishes" — but exits promptly once its task is KILLED,
      // so the cancelled tasks don't squat local[4] cores for the rest
      // of the test run (kill does not interrupt a sleeping thread by
      // default; poll the kill flag instead)
      val ctx = org.apache.spark.TaskContext.get()
      while (ctx == null || !ctx.isInterrupted()) Thread.sleep(25)
      Iterator.empty[Long]
    }
    sc.setJobGroup("graft-deadline-test", "wedged partition fixture")
    val t0 = System.nanoTime()
    try {
      val pipe = new HttpEdge.PipelinedPartitions(hang, depth = 2,
        computeTimeoutMs = 1200L)
      intercept[HttpEdge.ComputeDeadlineException](pipe.iterator.hasNext)
    } finally sc.clearJobGroup()
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(elapsed < 20.0,
      f"handler thread freed only after $elapsed%.1f s — deadline dead")
    // the submitted partition jobs must reach a terminal state (the
    // cancel propagated), promptly — poll the scoped job group so
    // parallel suites' jobs can't pollute the assertion
    val ids = sc.statusTracker.getJobIdsForGroup("graft-deadline-test")
    assert(ids.nonEmpty, "fixture submitted no jobs")
    val deadline = System.nanoTime() + 15e9.toLong
    def allDone: Boolean = ids.forall { id =>
      sc.statusTracker.getJobInfo(id).forall(
        _.status() != org.apache.spark.JobExecutionStatus.RUNNING)
    }
    while (!allDone && System.nanoTime() < deadline) Thread.sleep(50)
    assert(allDone, "wedged partition jobs were not cancelled at the deadline")
  }

  test("the stall guard covers the terminating flush/close, not just frame writes") {
    // r14 advice #1 (medium): flush() and the chunked body's final
    // close() are blocking socket operations too — a client that stalls
    // exactly at end-of-stream used to pin the handler because only
    // write() armed the watchdog and the close ran AFTER the watchdog
    // task was cancelled. Model the socket with a stream whose close()
    // blocks until aborted (exactly what x.close() does to a blocked
    // chunked-encoder write).
    val aborted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val closeEntered = new java.util.concurrent.CountDownLatch(1)
    val raw = new java.io.OutputStream {
      override def write(b: Int): Unit = ()
      override def close(): Unit = {
        closeEntered.countDown()
        while (!aborted.get()) Thread.sleep(10) // blocked client window
        throw new java.io.IOException("severed")
      }
    }
    val t0 = System.nanoTime()
    // body writes fine and returns — the ONLY blocking point is close()
    intercept[java.io.IOException] {
      HttpEdge.stallGuarded(raw, () => aborted.set(true), 300L) { os =>
        os.write("all frames fit the kernel buffers".getBytes("UTF-8"))
      }
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(closeEntered.getCount == 0, "guarded stream was never closed in-scope")
    assert(aborted.get(), "watchdog never fired on the blocked close")
    assert(elapsed < 10.0,
      f"blocked end-of-stream close pinned the thread $elapsed%.1f s")
  }

  test("datasets browse returns JSON rows; a bad cube request is a clean 400") {
    val resp = get("/v1/datasets?instances=i1&status=ACTIVE&limit=10")
    assert(resp.statusCode() == 200)
    val body = new String(resp.body(), "UTF-8")
    (1 to 5).foreach(i => assert(body.contains(s""""id":"d$i"""")))
    // bbox filter prunes to nothing off-extent
    val none = get("/v1/datasets?instances=i1&bbox=100,10,101,11")
    assert(new String(none.body(), "UTF-8") == "[]")
    // missing crs → 400 with the validation message, never a hung stream
    val bad = get("/v1/cube?instances=i1&transform=0,1,0,0,0,-1&width=4&height=4")
    assert(bad.statusCode() == 400)
    assert(new String(bad.body(), "UTF-8").contains("crs"))
  }

  test("a short datasets bbox is a 400 naming the parameter, not a MatchError") {
    val short = get("/v1/datasets?instances=i1&bbox=1,2,3")
    assert(short.statusCode() == 400)
    val msg = new String(short.body(), "UTF-8")
    assert(msg.startsWith("IllegalArgumentException") && msg.contains("'bbox'"), msg)
    val word = get("/v1/datasets?instances=i1&bbox=1,2,x,4")
    assert(word.statusCode() == 400)
    assert(new String(word.body(), "UTF-8").contains("'bbox'"))
  }

  test("xyz path segments and tile coordinates are validated with a typed 400") {
    def fails(path: String, needle: String): Unit = {
      val r = get(path)
      assert(r.statusCode() == 400, path)
      val msg = new String(r.body(), "UTF-8")
      assert(msg.startsWith("IllegalArgumentException") && msg.contains(needle), s"$path: $msg")
    }
    fails("/v1/xyz/i1/seven/64/63.png", "'z'")
    fails("/v1/xyz/i1/7/x64/63.png", "'x'")
    fails("/v1/xyz/i1/7/64/6.3.png", "'y'")
    fails("/v1/xyz/i1/7/64/63.png?min=low", "'min'")
    // z=70 used to wrap 1L << z to the z6 tile; x/y must lie in [0, 2^z)
    fails("/v1/xyz/i1/70/32/31.png", "zoom")
    fails("/v1/xyz/i1/-1/0/0.png", "zoom")
    fails("/v1/xyz/i1/7/128/63.png", "outside")
    fails("/v1/xyz/i1/7/64/-1.png", "outside")
  }

  test("a server fault is a 500, not a bad request") {
    // a store that fails every read: the request is valid, the server is not
    val broken = new TableStore {
      def root: String = cat.root
      def read(spark: SparkSession, table: String) =
        throw new IllegalStateException(s"store offline reading $table")
      def append(df: org.apache.spark.sql.DataFrame, table: String): Unit = ???
      def rewrite(df: org.apache.spark.sql.DataFrame, table: String): Unit = ???
      def deleteWhere(spark: SparkSession, table: String,
          uris: org.apache.spark.sql.DataFrame, uriCol: String): Unit = ???
      def updatePartitions(spark: SparkSession, table: String, partValues: Seq[String],
          transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = ???
    }
    val faulty = new HttpEdge(spark, broken)
    val faultyPort = faulty.start()
    def send(path: String) = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$faultyPort$path")).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    try {
      for (path <- Seq(s"/v1/cube?$cubeQuery&records=r1", "/v1/xyz/i1/7/64/63.png")) {
        val r = send(path)
        assert(r.statusCode() == 500, path)
        val msg = new String(r.body(), "UTF-8")
        assert(msg.startsWith("IllegalStateException") && msg.contains("store offline"), msg)
      }
      // a request that fails validation on the same broken store stays a 400
      assert(send(s"/v1/cube?$cubeQuery&compression=11").statusCode() == 400)
    } finally faulty.stop()
  }

  test("edge sockets run with TCP_NODELAY") {
    // read once by the JDK server when its configuration class loads; the
    // edge sets it before it creates its first server
    assert(System.getProperty("sun.net.httpserver.nodelay") == "true")
  }

  private val allRecords = CubeRequest(instanceIds = Seq("i1"), crs = "EPSG:4326",
    transform = Affine.northUp(0, 2.56, 0.01, -0.01), width = 64, height = 64,
    recordIds = (1 to 5).map(i => s"r$i"))

  test("a warm in-budget cube streams as single-stage, shuffle-free kernel jobs") {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    def drain(): Vector[graft.cube.Slice] = {
      val pipe = new HttpEdge.PipelinedPartitions(GetCube.cube(spark, cat, allRecords),
        HttpEdge.StreamPipelineDepth, HttpEdge.RequestComputeTimeoutMs)
      try pipe.iterator.toVector finally pipe.cancel()
    }
    val warm = drain()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("cube-kernel") => jobs.add(e); e.stageIds.foreach(stages.add)
          case Some("cube-marker") => marker.countDown()
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleReadMetrics.totalBytesRead +
            e.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
    }
    sc.addSparkListener(listener)
    val served =
      try {
        sc.setJobGroup("cube-kernel", "in-budget cube")
        val served = try drain() finally sc.clearJobGroup()
        // the listener bus is FIFO: once the marker job's start arrives,
        // every event of the cube's jobs has been delivered
        sc.setJobGroup("cube-marker", "flush")
        try spark.range(1).count() finally sc.clearJobGroup()
        assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
        served
      } finally sc.removeSparkListener(listener)
    assert(served.map(_.group_key) == (1 to 5).map(i => s"r$i"))
    assert(served.map(_.payload.toSeq) == warm.map(_.payload.toSeq))
    val js = jobs.toArray(Array.empty[SparkListenerJobStart]).toSeq
    assert(js.nonEmpty && js.size <= sc.defaultParallelism,
      s"${js.size} jobs at parallelism ${sc.defaultParallelism}")
    js.foreach { j =>
      assert(j.stageInfos.size == 1 && j.stageInfos.head.numTasks == 1,
        s"job ${j.jobId}: ${j.stageInfos.map(_.numTasks)}")
    }
    assert(shuffleBytes.get == 0L)
  }

  test("the compute deadline cancels an in-budget cube's kernel jobs") {
    // a kernel of 1 Mpix bilinear slices against a 1 ms deadline (each
    // slice under 1 MiB, so a killed task leaves no result block behind)
    val big = allRecords.copy(transform = Affine.northUp(0, 2.56, 2.56 / 1000, -2.56 / 1000),
      width = 1000, height = 1000, resampling = Some("bilinear"))
    val sc = spark.sparkContext
    sc.setJobGroup("cube-deadline", "in-budget cube against a 1 ms deadline")
    try {
      val pipe = new HttpEdge.PipelinedPartitions(GetCube.cube(spark, cat, big),
        HttpEdge.StreamPipelineDepth, computeTimeoutMs = 1L)
      intercept[HttpEdge.ComputeDeadlineException](pipe.iterator.hasNext)
    } finally sc.clearJobGroup()
    val ids = sc.statusTracker.getJobIdsForGroup("cube-deadline")
    assert(ids.nonEmpty, "the cube submitted no kernel job")
    // the driver arm's kernel jobs, each a single stage
    assert(ids.forall(id => sc.statusTracker.getJobInfo(id).forall(_.stageIds.length == 1)))
    val deadline = System.nanoTime() + 15e9.toLong
    def allDone: Boolean = ids.forall { id =>
      sc.statusTracker.getJobInfo(id).forall(
        _.status() != org.apache.spark.JobExecutionStatus.RUNNING)
    }
    while (!allDone && System.nanoTime() < deadline) Thread.sleep(50)
    assert(allDone, "the cube's kernel jobs were not cancelled at the deadline")
    assert(ids.exists(id => sc.statusTracker.getJobInfo(id)
      .exists(_.status() == org.apache.spark.JobExecutionStatus.FAILED)))
  }
}
