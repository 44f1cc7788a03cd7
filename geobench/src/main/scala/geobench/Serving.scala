package geobench

import graft.catalog.TableStore
import graft.cube.{Compress, CubeRequest, GetCube, XYZTile}
import graft.geo.Affine
import org.apache.spark.sql.SparkSession

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.zip.CRC32

/** What one request returned, reduced to what the verify pass compares:
  * per output image (a tile, or a cube slice) its record ids and the
  * CRC-32 of its decoded pixels (an empty list is a 204), the bytes
  * received and the raw pixel bytes they decode to. */
final case class Answer(images: Seq[(Seq[String], Long)], bytes: Long, raw: Long = 0)

/** One timed request of a closed loop. */
final case class Op[R](client: Int, seq: Int, req: R, startNs: Long, endNs: Long,
    ttfbNs: Long, answer: Either[String, Answer]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A read workload over a seeded mosaic: its request streams, how a
  * request runs through HTTP and in-process, and the oracle's answer. */
trait ReadWorkload[R] {
  def name: String
  def mosaic: Mosaic
  def clients: Int
  def stream(client: Int): Vector[R]
  def warmup(client: Int): Vector[R]
  def key(r: R): String
  def outputMpix(r: R, a: Answer): Double
  def uri(port: Int, r: R): String
  def decode(r: R, status: Int, body: Array[Byte]): Answer
  /** Run `r` through the edge's public calls; returns the decoder of
    * what they produced, run once the clock has stopped. */
  def inProcess(ctx: Serving.Ctx, r: R, request: String): () => Answer
  def expected(r: R): Answer
}

object Serving {

  /** Everything a request needs in process, plus the span sink when the
    * run is traced (None = untraced). */
  final case class Ctx(spark: SparkSession, cat: TableStore, spans: Option[Spans]) {
    def span[A](name: String, request: String, parent: Long)(body: Long => A): A =
      spans match {
        case Some(s) => s.span(name, request, parent)(body)
        case None => body(0L)
      }
  }

  def crc(bytes: Array[Byte]): Long = { val c = new CRC32; c.update(bytes); c.getValue }

  def crcInts(px: Array[Int]): Long = {
    val bb = java.nio.ByteBuffer.allocate(px.length * 4)
    bb.asIntBuffer().put(px)
    crc(bb.array())
  }

  /** ARGB pixels of a PNG, in row order. */
  def decodePng(png: Array[Byte]): Array[Int] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)
  }

  /** Run every client's stream in a closed loop until `deadlineNs`; the
    * request in flight at the deadline completes and counts. */
  def closedLoop[R](clients: Int, deadlineNs: Long, streams: Int => Vector[R])(
      run: (Int, Int, R) => Op[R]): Seq[Op[R]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    try {
      val futures = (0 until clients).map { c =>
        pool.submit(new java.util.concurrent.Callable[Seq[Op[R]]] {
          def call(): Seq[Op[R]] = {
            val reqs = streams(c)
            val out = Seq.newBuilder[Op[R]]
            var i = 0
            while (i < reqs.length && System.nanoTime() < deadlineNs) {
              out += run(c, i, reqs(i)); i += 1
            }
            out.result()
          }
        })
      }
      futures.flatMap(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
  }

  /** Time one request, catching its failure as a value. The request
    * returns a decoder, which runs after the clock stops. */
  def timed[R](client: Int, seq: Int, r: R)(body: (() => Unit) => (() => Answer)): Op[R] = {
    val t0 = System.nanoTime()
    var ttfb = 0L
    val done = try Right(body(() => ttfb = System.nanoTime() - t0))
      catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t1 = System.nanoTime()
    val answer = done.flatMap { decode =>
      try Right(decode()) catch { case e: Exception => Left(s"undecodable answer: $e") }
    }
    Op(client, seq, r, t0, t1, ttfb, answer)
  }

  /** Issue one HTTP GET and read the whole body; the first-byte time is
    * when the response headers arrive. */
  def httpOp[R](w: ReadWorkload[R], port: Int, hc: HttpClient, client: Int, seq: Int,
      r: R): Op[R] =
    timed(client, seq, r) { firstByte =>
      val resp = hc.send(HttpRequest.newBuilder(URI.create(w.uri(port, r))).build(),
        HttpResponse.BodyHandlers.ofInputStream())
      firstByte()
      val in = resp.body()
      val body = try in.readAllBytes() finally in.close()
      val status = resp.statusCode()
      if (status != 200 && status != 204) throw new IllegalStateException(
        s"HTTP $status: ${new String(body, "UTF-8").take(200)}")
      () => w.decode(r, status, body)
    }

  def newClient(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** Compare every answer with the oracle's (memoized per request key);
    * returns one message per request whose answer is missing or wrong. */
  def verify[R](w: ReadWorkload[R], ops: Seq[Op[R]]): Seq[String] = {
    val distinct = ops.map(o => w.key(o.req) -> o.req).toMap
    val expected = new java.util.concurrent.ConcurrentHashMap[String, Answer]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, Runtime.getRuntime.availableProcessors()))
    try {
      distinct.map { case (k, r) =>
        pool.submit(new Runnable { def run(): Unit = expected.put(k, w.expected(r)) })
      }.foreach(_.get())
    } finally pool.shutdown()
    ops.flatMap { o =>
      o.answer match {
        case Left(err) => Some(s"${w.key(o.req)}: $err")
        case Right(a) =>
          val e = expected.get(w.key(o.req))
          if (a.images == e.images) None
          else Some(s"answer differs from the oracle for ${w.key(o.req)}: " +
            s"got ${a.images.take(3)}, expected ${e.images.take(3)}")
      }
    }
  }

  // ------------------------------------------------------------ workloads

  final class Xyz(val mosaic: Mosaic, seed: Long, val clients: Int)
      extends ReadWorkload[Streams.Tile] {
    val name = "xyz_browse"
    def stream(c: Int) = Streams.xyz(mosaic, seed, c, 5000)
    def warmup(c: Int) = Streams.xyz(mosaic, seed + 7919, c, 5000)
    def key(t: Streams.Tile) = s"${t.z}/${t.x}/${t.y}"
    def outputMpix(t: Streams.Tile, a: Answer) = a.images.size * 65536 / 1e6

    private def answer(png: Option[Array[Byte]]): Answer =
      Answer(png.map(p => Seq((Nil: Seq[String]) -> crcInts(decodePng(p)))).getOrElse(Nil),
        png.map(_.length.toLong).getOrElse(0L))

    def uri(port: Int, t: Streams.Tile) =
      s"http://127.0.0.1:$port/v1/xyz/${Mosaic.InstanceId}/${t.z}/${t.x}/${t.y}.png"
    def decode(t: Streams.Tile, status: Int, body: Array[Byte]) =
      answer(if (status == 200) Some(body) else None)

    def inProcess(ctx: Ctx, t: Streams.Tile, request: String): () => Answer =
      ctx.span("xyz.request", request, 0) { root =>
        // the tile's own variable lookup, timed separately; getTile's
        // lookup then hits the varCache
        ctx.span("cube.prepare", request, root) { _ =>
          GetCube.prepare(ctx.spark, ctx.cat, CubeRequest(Seq(Mosaic.InstanceId),
            "EPSG:3857", graft.layout.Grid.xyzTransform(t.x, t.y, t.z), 256, 256,
            validPixPc = 0))
        }
        val png = ctx.span("xyz.getTile", request, root) { _ =>
          XYZTile.getTile(ctx.spark, ctx.cat, Mosaic.InstanceId, t.x, t.y, t.z)
        }
        () => answer(png)
      }

    def expected(t: Streams.Tile): Answer =
      Answer(mosaic.expectedTile(t.z, t.x, t.y).map(px => Seq((Nil: Seq[String]) -> crcInts(px)))
        .getOrElse(Nil), 0)
  }

  final class Cube(val mosaic: Mosaic, seed: Long, val clients: Int)
      extends ReadWorkload[Streams.CubeReq] {
    val name = "cube_timeseries"
    val Level = 1
    def stream(c: Int) = Streams.cube(mosaic, seed, c, 2000)
    def warmup(c: Int) = Streams.cube(mosaic, seed + 7919, c, 2000)
    def key(r: Streams.CubeReq) = r.toString
    def outputMpix(r: Streams.CubeReq, a: Answer) = a.images.size.toDouble * r.w * r.h / 1e6

    def transform(r: Streams.CubeReq): Affine = Affine(r.x0, r.px, 0.0, r.y0, 0.0, -r.px)
    private def time(ms: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(ms))
    def from(r: Streams.CubeReq) = mosaic.datetimeMs(r.scene, r.d0) - 3600000L
    def to(r: Streams.CubeReq) = mosaic.datetimeMs(r.scene, r.d0 + r.k - 1) + 3600000L

    def cubeRequest(r: Streams.CubeReq): CubeRequest = CubeRequest(
      instanceIds = Seq(Mosaic.InstanceId), crs = "EPSG:3857", transform = transform(r),
      width = r.w, height = r.h, fromTime = Some(time(from(r))), toTime = Some(time(to(r))),
      resampling = Some("bilinear"))

    def uri(port: Int, r: Streams.CubeReq) = {
      val tf = transform(r)
      val q = Seq("instances" -> Mosaic.InstanceId, "crs" -> "EPSG:3857",
        "transform" -> Seq(tf.c0, tf.c1, tf.c2, tf.c3, tf.c4, tf.c5).mkString(","),
        "width" -> r.w.toString, "height" -> r.h.toString,
        "from" -> java.time.Instant.ofEpochMilli(from(r)).toString,
        "to" -> java.time.Instant.ofEpochMilli(to(r)).toString,
        "resampling" -> "bilinear", "compression" -> Level.toString)
        .map { case (k, v) => s"$k=${java.net.URLEncoder.encode(v, "UTF-8")}" }.mkString("&")
      s"http://127.0.0.1:$port/v1/cube?$q"
    }

    /** Decode the framed stream: global header, then per slice a JSON
      * header and its deflated parts. */
    def decode(r: Streams.CubeReq, status: Int, b: Array[Byte]): Answer = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(b))
      def frame(): Array[Byte] = { val a = new Array[Byte](in.readInt()); in.readFully(a); a }
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
      frame() // global header
      val images = Seq.newBuilder[(Seq[String], Long)]
      var raw = 0L
      while (in.available() > 0) {
        val h = json.readTree(frame())
        require(h.get("error").asText().isEmpty, s"slice error: ${h.get("error").asText()}")
        val ids = (0 until h.get("records").size).map(h.get("records").get(_).asText())
        val parts = (0 until h.get("nparts").asInt()).map(i => i -> frame())
        val px = Compress.inflate(Compress.assemble(parts))
        raw += px.length
        images += ids -> crc(px)
      }
      Answer(images.result(), b.length.toLong, raw)
    }

    def inProcess(ctx: Ctx, r: Streams.CubeReq, request: String): () => Answer =
      ctx.span("cube.request", request, 0) { root =>
        // the calls HttpEdge's /v1/cube handler makes, in its order
        val req = cubeRequest(r)
        val slices = ctx.span("cube.plan_build", request, root) { _ =>
          GetCube.cube(ctx.spark, ctx.cat, req)
        }
        ctx.span("cube.prepare", request, root)(_ => GetCube.prepare(ctx.spark, ctx.cat, req))
        val out = Seq.newBuilder[(Seq[String], Seq[(Int, Array[Byte])], Long)]
        ctx.span("cube.drain", request, root) { drain =>
          val it = slices.toLocalIterator()
          while (it.hasNext) {
            val s = it.next()
            val parts = ctx.span("cube.deflate", request, drain) { _ =>
              Compress.chunk(Compress.deflate(s.payload, Level))
            }
            out += ((s.record_ids, parts, s.payload.length.toLong))
          }
        }
        val got = out.result()
        () => Answer(got.map { case (ids, parts, _) =>
          ids -> crc(Compress.inflate(Compress.assemble(parts)))
        }, got.map(_._2.map(_._2.length.toLong).sum).sum, got.map(_._3).sum)
      }

    def expected(r: Streams.CubeReq): Answer = {
      val tf = transform(r)
      Answer((r.d0 until r.d0 + r.k).map { d =>
        Seq(mosaic.recordId(r.scene, d)) -> crc(mosaic.expectedSlice(r.scene, d, tf, r.w, r.h))
      }, 0)
    }
  }
}
