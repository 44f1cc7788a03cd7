package geobench

import graft.catalog.{Schemas, TableStore}
import graft.geo.{Affine, BBox, CRS, GeomOps}
import org.apache.spark.sql.{Row, SparkSession}

/** A seeded mosaic fixture: `cols` × `rows` edge-adjacent scenes of
  * `size`² uint8 EPSG:4326 pixels at `res` degrees, each scene acquired on
  * `dates` dates (one record and one dataset per scene and date). Pixels
  * are a smooth ramp plus 3 bits of hash noise, no nodata inside a scene.
  *
  * The fixture is also the benchmark's output oracle: [[expectedTile]]
  * and [[expectedSlice]] recompute, outside the engine's kernels, the
  * pixels a correct nearest-neighbour XYZ mosaic and a correct bilinear
  * cube slice must hold. */
final case class Mosaic(seed: Long, cols: Int, rows: Int, dates: Int,
    size: Int = 256, res: Double = 0.01) {
  import Mosaic._

  private val origin = new java.util.SplittableRandom(seed ^ 0x6d6f73L)
  /** Top-left corner of scene 0, on the pixel grid. */
  val lon0: Double = (origin.nextInt(2000) - 1000) * res
  val lat0: Double = 30 + origin.nextInt(1500) * res
  val span: Double = size * res
  val scenes: Int = cols * rows
  val records: Int = scenes * dates

  def sceneX0(s: Int): Double = lon0 + (s % cols) * span
  def sceneY0(s: Int): Double = lat0 - (s / cols) * span
  def sceneBox(s: Int): BBox =
    BBox(sceneX0(s), sceneY0(s) - span, sceneX0(s) + span, sceneY0(s))
  def bounds: BBox = BBox(lon0, lat0 - rows * span, lon0 + cols * span, lat0)

  def recordId(s: Int, d: Int): String = s"r${s}_$d"
  def uri(s: Int, d: Int): String = s"mem://geobench/s$s/d$d"
  /** Acquisition time: date-major, scene-minor — the mosaic paint order. */
  def datetimeMs(s: Int, d: Int): Long = T0 + d * 86400000L + s * 60000L

  def value(s: Int, d: Int, i: Int, j: Int): Int =
    ((i >> 3) * 3 + (j >> 3) * 5 + s * 37 + d * 53 + (mix(seed, s, d, i, j) & 7)) % 255

  /** Row-major uint8 payload — the engine's byte codec for one band. */
  def payload(s: Int, d: Int): Array[Byte] = pixels(s, d).map(_.toByte)

  def rawPixelBytes: Long = records.toLong * size * size

  /** Write the whole fixture into an empty catalog, one table per writer
    * thread (the catalog serializes writers per table, not globally). */
  def writeCatalog(spark: SparkSession, cat: TableStore): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val pending = scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]
    def write(table: String, rows: => Seq[Row]): Unit =
      pending += pool.submit(new Runnable {
        def run(): Unit = cat.append(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, math.max(1, math.min(8, rows.size))),
          Schemas.all(table)), table)
      })
    val all = for (d <- 0 until dates; s <- 0 until scenes) yield (s, d)
    def wkb(b: BBox) = GeomOps.writeWkb(GeomOps.polygonFromBBox(b))
    def bboxRow(b: BBox) = Row(b.xmin, b.ymin, b.xmax, b.ymax)
    write("aoi", (0 until scenes).map(s =>
      Row(s"a$s", s"h$s", wkb(sceneBox(s)), bboxRow(sceneBox(s)))))
    write("records", all.map { case (s, d) =>
      Row(recordId(s, d), s"scene $s date $d", new java.sql.Timestamp(datetimeMs(s, d)),
        Map("scene" -> s.toString), s"a$s")
    })
    write("palette", Seq(Row(PaletteName, PalettePoints.map { case (v, r, g, b, a) =>
      Row(v, r, g, b, a) })))
    write("variable_definitions", Seq(Row(VariableId, "reflectance", "1", "geobench",
      Seq("b1"), "uint8", 255.0, 0.0, 254.0, PaletteName, "near")))
    write("variable_instances", Seq(Row(InstanceId, "master", Map.empty[String, String],
      VariableId)))
    write("containers", all.map { case (s, d) => Row(uri(s, d), false, "STANDARD") })
    write("datasets", all.map { case (s, d) =>
      val b = sceneBox(s)
      Row(s"ds${s}_$d", recordId(s, d), InstanceId, uri(s, d), "", Seq(1), "ACTIVE",
        null, "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false,
        wkb(b), wkb(b), 4326, bboxRow(b))
    })
    write("tiles", all.map { case (s, d) =>
      Row(uri(s, d), "", size, size, 1, "uint8", "EPSG:4326",
        Seq(sceneX0(s), res, 0.0, sceneY0(s), 0.0, -res), payload(s, d))
    })
    try pending.foreach(_.get()) finally pool.shutdown()
  }

  // ------------------------------------------------------------- oracle
  // Geometry primitives (affine inverse, the WebMercator inverse) are the
  // engine's, so pixel positions agree to the last bit; sampling, mosaic
  // order, rounding and the palette are recomputed here. Both output
  // grids are north-up, so a column's longitude and a row's latitude are
  // computed once.

  private val pixelCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Int]]()

  /** Row-major pixel values of record (s, d), computed once. */
  private def pixels(s: Int, d: Int): Array[Int] =
    pixelCache.computeIfAbsent((s, d), _ => {
      val out = new Array[Int](size * size)
      for (j <- 0 until size; i <- 0 until size) out(j * size + i) = value(s, d, i, j)
      out
    })

  /** Source pixel coordinates of every output column / row on scene `s`. */
  private def sourceAxes(s: Int, tf: Affine, w: Int, h: Int): (Array[Double], Array[Double]) = {
    val inv = Affine(sceneX0(s), res, 0.0, sceneY0(s), 0.0, -res).inverse
    def lonLat(tx: Int, ty: Int) =
      CRS.transform(CRS.WebMercator, Geographic, tf.transformX(tx + 0.5, ty + 0.5),
        tf.transformY(tx + 0.5, ty + 0.5))
    val lat0 = lonLat(0, 0)._2
    val lon0 = lonLat(0, 0)._1
    (Array.tabulate(w)(tx => inv.transformX(lonLat(tx, 0)._1, lat0)),
      Array.tabulate(h)(ty => inv.transformY(lon0, lonLat(0, ty)._2)))
  }

  /** ARGB pixels of XYZ tile (z, x, y) as the nearest-neighbour mosaic of
    * every record, newest on top, through the fixture palette; None when
    * no pixel centre falls on a scene (the edge answers 204). */
  def expectedTile(z: Int, x: Long, y: Long): Option[Array[Int]] = {
    val tf = graft.layout.Grid.xyzTransform(x, y, z)
    val v = Array.fill(256 * 256)(-1)
    // the newest date covers every scene without nodata, so only its
    // pixels show; at a shared edge the later-painted scene wins
    for (s <- 0 until scenes) {
      val (xs, ys) = sourceAxes(s, tf, 256, 256)
      val px = pixels(s, dates - 1)
      var ty = 0
      while (ty < 256) {
        val j = math.floor(ys(ty)).toInt
        if (j >= 0 && j < size) {
          var tx = 0
          while (tx < 256) {
            val i = math.floor(xs(tx)).toInt
            if (i >= 0 && i < size) v(ty * 256 + tx) = px(j * size + i)
            tx += 1
          }
        }
        ty += 1
      }
    }
    if (v.forall(_ < 0)) None
    else Some(v.map { u =>
      if (u < 0) 0
      else {
        val rgba = Lut(math.min(u, 254))
        ((rgba & 0xff) << 24) | (rgba >>> 8)
      }
    })
  }

  /** Bilinear uint8 slice of record (s, d) on the EPSG:3857 grid `tf`; the
    * window must lie inside scene `s` by at least one source pixel. */
  def expectedSlice(s: Int, d: Int, tf: Affine, w: Int, h: Int): Array[Byte] = {
    val (xs, ys) = sourceAxes(s, tf, w, h)
    val px = pixels(s, d)
    val out = new Array[Byte](w * h)
    var ty = 0
    while (ty < h) {
      val gy = ys(ty) - 0.5
      val j0 = math.floor(gy).toInt
      val fy = gy - j0
      var tx = 0
      while (tx < w) {
        val gx = xs(tx) - 0.5
        val i0 = math.floor(gx).toInt
        val fx = gx - i0
        // the same accumulation order as a weighted 2×2 sum over (row, col)
        var sum = 0.0; var wsum = 0.0
        var dy = 0
        while (dy < 2) {
          var dx = 0
          while (dx < 2) {
            val wt = (if (dx == 0) 1 - fx else fx) * (if (dy == 0) 1 - fy else fy)
            sum += wt * px((j0 + dy) * size + i0 + dx); wsum += wt
            dx += 1
          }
          dy += 1
        }
        out(ty * w + tx) = roundHalfUp(sum / wsum).toByte
        tx += 1
      }
      ty += 1
    }
    out
  }
}

object Mosaic {
  val T0: Long = 1704067200000L // 2024-01-01T00:00Z
  val VariableId = "v1"
  val InstanceId = "i1"
  val PaletteName = "geobench"
  val PalettePoints: Seq[(Float, Int, Int, Int, Int)] = Seq(
    (0f, 0, 0, 128, 255), (0.5f, 0, 200, 0, 255), (1f, 255, 255, 0, 255))

  /** The palette's 255-entry RGBA lookup table: linear interpolation
    * between the points (the reference's palette.go semantics). */
  val Lut: Array[Int] = Array.tabulate(255) { k =>
    val v = k.toFloat / 254
    val hi = PalettePoints.indexWhere(_._1 >= v) max 1
    val (a, b) = (PalettePoints(hi - 1), PalettePoints(hi))
    val f = (v - a._1) / (b._1 - a._1)
    def lerp(p: Int, q: Int): Int = (p * (1 - f) + q * f).toByte.toInt & 0xff
    (lerp(a._2, b._2) << 24) | (lerp(a._3, b._3) << 16) | (lerp(a._4, b._4) << 8) |
      lerp(a._5, b._5)
  }

  private val A = 6378137.0

  def lonLatToMercator(lon: Double, lat: Double): (Double, Double) =
    (A * math.toRadians(lon), A * math.log(math.tan(math.Pi / 4 + math.toRadians(lat) / 2)))

  private val Geographic = CRS.parse("EPSG:4326")

  /** Nearest integer (halves up), clamped to uint8. */
  def roundHalfUp(v: Double): Int = {
    val r = if (math.abs(v - math.floor(v)) == 0.5) math.floor(v + 0.5) else math.rint(v)
    math.min(255, math.max(0, r.toInt))
  }

  def mix(seed: Long, s: Int, d: Int, i: Int, j: Int): Int = {
    var h = seed * 0x9E3779B97F4A7C15L + s * 0xC2B2AE3D27D4EB4FL +
      d * 0x165667B19E3779F9L + i * 0x27D4EB2F165667C5L + j * 0x94D049BB133111EBL
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    (h & 0x7fffffff).toInt
  }
}
