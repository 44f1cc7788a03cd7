package geobench

/** Seeded request streams. Every stream is a pure function of the seed and
  * the client index, so a run's inputs repeat exactly for a given seed. */
object Streams {

  final case class Tile(z: Int, x: Long, y: Long)

  /** A GetCube request: a north-up EPSG:3857 window inside scene `scene`
    * (origin `x0`,`y0`, square pixels of `px` metres, `w`×`h`), over the
    * `k` acquisitions of that scene from date `d0` on. */
  final case class CubeReq(scene: Int, w: Int, h: Int, x0: Double, y0: Double,
      px: Double, d0: Int, k: Int)

  val MinZoom = 6
  val MaxZoom = 10
  /** Positions, of every ten XYZ requests, drawn from the popular set. */
  private val PopularSlots = Set(0, 3, 6)
  val PopularShare: Double = PopularSlots.size / 10.0
  private val GoldenRatio = 0.6180339887498949
  private val WebMercatorHalf = math.Pi * 6378137.0

  /** Inclusive tile index range (xmin, xmax, ymin, ymax) at zoom `z`
    * covering the mosaic. */
  def tileRange(m: Mosaic, z: Int): (Long, Long, Long, Long) = {
    val n = 1L << z
    val b = m.bounds
    val (x0, y1) = Mosaic.lonLatToMercator(b.xmin, b.ymax)
    val (x1, y0) = Mosaic.lonLatToMercator(b.xmax, b.ymin)
    def tx(x: Double) = math.floor((x + WebMercatorHalf) / (2 * WebMercatorHalf) * n).toLong
    def ty(y: Double) = math.floor((WebMercatorHalf - y) / (2 * WebMercatorHalf) * n).toLong
    (tx(x0), tx(x1), ty(y1), ty(y0))
  }

  private def randomTile(m: Mosaic, z: Int, r: java.util.SplittableRandom): Tile = {
    val (x0, x1, y0, y1) = tileRange(m, z)
    Tile(z, x0 + r.nextLong(x1 - x0 + 1), y0 + r.nextLong(y1 - y0 + 1))
  }

  private val Zooms = MaxZoom - MinZoom + 1

  /** The popular tiles every client shares, most popular first. Zoom
    * levels follow the rank (z6, z7, …), so every seed's popular set costs
    * the same mix of mosaic sizes; only positions are random. */
  def popular(m: Mosaic, seed: Long, n: Int = 16): Vector[Tile] = {
    val r = new java.util.SplittableRandom(seed ^ 0x706f70L)
    (0 until n).foldLeft(Vector.empty[Tile]) { (acc, k) =>
      acc :+ Iterator.continually(randomTile(m, MinZoom + k % Zooms, r))
        .find(t => !acc.contains(t)).get
    }
  }

  /** Client `client`'s pan/zoom stream of `n` tiles: a walk over z6–z10
    * tiles of the mosaic (pan to a random neighbour, zoom in to a random
    * child, zoom out to the parent) from a random tile at the client's
    * start zoom, with requests 0, 3 and 6 of every ten ([[PopularShare]])
    * drawn Zipf(1.1) from [[popular]]. Which requests pan, zoom or draw,
    * and the popularity rank of each draw (a low-discrepancy sequence),
    * follow a fixed schedule, so every seed serves the same mix of zoom
    * levels and popular ranks and only positions are random. */
  def xyz(m: Mosaic, seed: Long, client: Int, n: Int): Vector[Tile] = {
    val r = new java.util.SplittableRandom(seed * 31 + client + 1)
    val pop = popular(m, seed)
    val weights = pop.indices.map(k => 1.0 / math.pow(k + 1, 1.1))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    // clients start on fixed, spread-out zoom levels
    var cur = randomTile(m, MinZoom + (2 * client) % Zooms, r)
    var draws, steps = 0
    def clamp(t: Tile): Tile = {
      val (x0, x1, y0, y1) = tileRange(m, t.z)
      Tile(t.z, math.max(x0, math.min(x1, t.x)), math.max(y0, math.min(y1, t.y)))
    }
    Vector.tabulate(n) { i =>
      if (PopularSlots(i % 10)) {
        draws += 1
        val u = (draws * GoldenRatio + client / 4.0) % 1.0
        pop(cdf.indexWhere(_ >= u) max 0)
      } else {
        steps += 1
        val zoomIn = steps % 7 == 2 && cur.z < MaxZoom || steps % 7 == 5 && cur.z == MinZoom
        val zoomOut = steps % 7 == 5 || steps % 7 == 2
        cur =
          if (zoomIn) clamp(Tile(cur.z + 1, cur.x * 2 + r.nextInt(2), cur.y * 2 + r.nextInt(2)))
          else if (zoomOut) clamp(Tile(cur.z - 1, cur.x / 2, cur.y / 2))
          else {
            val (dx, dy) = Iterator.continually((r.nextInt(3) - 1, r.nextInt(3) - 1))
              .find(_ != (0, 0)).get
            clamp(Tile(cur.z, cur.x + dx, cur.y + dy))
          }
        cur
      }
    }
  }

  val CubeSizes: Seq[Int] = Seq(256, 320, 384, 448, 512)

  /** Output pixels (width × height × dates) every cube request is sized to. */
  val CubePixels: Int = 8 * 384 * 384

  /** Client `client`'s stream of `n` cube requests: a random scene, a
    * 256²–512² window at least 5 km inside it, over as many consecutive
    * dates (4–16) as bring its output nearest `CubePixels`. Sizes cycle
    * through a fixed sequence, so every request costs about the same and
    * only placement is random. */
  def cube(m: Mosaic, seed: Long, client: Int, n: Int): Vector[CubeReq] = {
    val r = new java.util.SplittableRandom(seed * 131 + client + 7)
    val margin = 5000.0
    Vector.tabulate(n) { i =>
      val s = r.nextInt(m.scenes)
      val w = CubeSizes((i + client) % CubeSizes.size)
      val h = CubeSizes((2 * i + client + 1) % CubeSizes.size)
      val b = m.sceneBox(s)
      val (mx0, my1) = Mosaic.lonLatToMercator(b.xmin, b.ymax)
      val (mx1, my0) = Mosaic.lonLatToMercator(b.xmax, b.ymin)
      val fit = math.min(mx1 - mx0, my1 - my0) - 2 * margin
      val px = fit / math.max(w, h) * (0.4 + 0.6 * r.nextDouble())
      val x0 = mx0 + margin + r.nextDouble() * (mx1 - mx0 - 2 * margin - w * px)
      val y0 = my1 - margin - r.nextDouble() * (my1 - my0 - 2 * margin - h * px)
      val k = math.round(CubePixels.toDouble / (w * h)).toInt.max(4).min(math.min(16, m.dates))
      val d0 = r.nextInt(m.dates - k + 1)
      CubeReq(s, w, h, x0, y0, px, d0, k)
    }
  }
}
