package graft.cube

import graft.core.{Cast, DataFormat, DataMapping, DType, NumRange}
import graft.raster.Bitmap

/** Piecewise-linear value→RGBA palette (reference
  * internal/geocube/palette.go: points over [0,1], sorted; PaletteN
  * interpolates an N-color LUT). */
final case class Palette(name: String, points: Seq[Palette.ColorPoint]) {
  require(points.size >= 2, "palette needs at least 2 points")
  private val sorted = points.sortBy(_.value)
  require(sorted.head.value == 0f && sorted.last.value == 1f,
    "palette must span [0, 1]")
  require(sorted.sliding(2).forall(p => p(0).value < p(1).value),
    "palette point values must be strictly increasing") // palette.go:60-68

  /** N-color LUT, linear interpolation between points (palette.go:37-52),
    * packed RGBA. */
  def paletteN(n: Int): Array[Int] = {
    val lut = new Array[Int](n)
    var j = 0
    var i = 0
    while (i < n) {
      val v = i.toFloat / (n - 1)
      while (sorted(j + 1).value < v) j += 1
      val f = (v - sorted(j).value) / (sorted(j + 1).value - sorted(j).value)
      def lerp(a: Int, b: Int): Int = (a * (1 - f) + b * f).toByte.toInt & 0xff
      lut(i) = (lerp(sorted(j).r, sorted(j + 1).r) << 24) |
        (lerp(sorted(j).g, sorted(j + 1).g) << 16) |
        (lerp(sorted(j).b, sorted(j + 1).b) << 8) |
        lerp(sorted(j).a, sorted(j + 1).a)
      i += 1
    }
    lut
  }
}

object Palette {
  // memory-cached ImageIO streams, not the default temp-FILE cache (one
  // disk round-trip per served tile otherwise); process-global flag, set
  // by every module that touches ImageIO in its own init so no call-site
  // ordering discipline is needed (MediaCodec does the same)
  locally { javax.imageio.ImageIO.setUseCache(false) }

  final case class ColorPoint(value: Float, r: Int, g: Int, b: Int, a: Int)

  /** Read a palette by name from the catalog's `palette` table
    * (reference pg ReadPalette, catalog.go:454-467) through
    * [[graft.catalog.TableStore.rows]] — on the commit-log catalog a
    * driver read cached per table snapshot, so a warm XYZ serving loop
    * starts no Spark job here and any palette write is seen at once.
    * Validation re-runs on construction. */
  def read(spark: org.apache.spark.sql.SparkSession,
      cat: graft.catalog.TableStore, name: String): Option[Palette] =
    cat.rowsOrCollect(spark, "palette", Seq("name", "points"))
      .find(_.getString(0) == name).map { r =>
        Palette(r.getString(0),
          r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](1).map(p =>
            ColorPoint(p.getFloat(0), p.getInt(1), p.getInt(2), p.getInt(3),
              p.getInt(4))).toSeq)
      }

  /** Create (or with `replace`, upsert) a palette row — the reference's
    * CreatePalette with its replace flag (service.go CreatePalette →
    * pg CreatePalette/UpdatePalette). Refuses a duplicate name without
    * replace. */
  def write(spark: org.apache.spark.sql.SparkSession,
      cat: graft.catalog.TableStore, p: Palette, replace: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.Row
    val existing = cat.read(spark, "palette")
    val dup = existing.filter(col("name") === p.name).limit(1).count() > 0
    require(!dup || replace, s"palette '${p.name}' already exists")
    val row = Row(p.name, p.points.map(c =>
      Row(c.value, c.r, c.g, c.b, c.a)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row)),
      graft.catalog.Schemas.all("palette"))
    if (dup)
      cat.rewrite(existing.filter(col("name") =!= p.name).unionByName(df),
        "palette")
    else cat.append(df, "palette")
  }

  /** PNG rendering of a slice (reference image.go:522-584
    * DatasetToPngAsBytes, interpolateColor=true): rescale the bitmap into
    * uint8 [0,254] with nodata 255, then either palette-map to RGBA or
    * emit grayscale. Pure JVM (javax.imageio). An 8-bit bitmap's colours
    * are computed once per value into a 256-entry table; other dtypes, and
    * values that are not one of the dtype's integers, go through the same
    * value→ARGB function per pixel. */
  def toPng(bm: Bitmap, mapping: DataMapping, palette: Option[Palette]): Array[Byte] = {
    val to = DataMapping(
      DataFormat(DType.UInt8, 255.0, NumRange(0, 254)), mapping.rangeExt, 1.0)
    // palette LUT: 255 interpolated colors + transparent nodata slot
    val lut = palette.map(_.paletteN(255))
    val noData = mapping.format.noData
    def argb(v: Double): Int =
      if (if (noData.isNaN) v.isNaN else v == noData) 0 // transparent
      else {
        val u = Cast.storeValue(Cast.castValueBF(v, mapping, to), DType.UInt8).toInt
        lut match {
          case Some(l) =>
            val rgba = l(math.min(u, 254))
            ((rgba & 0xff) << 24) | (rgba >>> 8)
          case None => (0xff << 24) | (u << 16) | (u << 8) | u
        }
      }
    val lo = bm.dtype.minValue
    val byValue = bm.dtype match {
      case DType.UInt8 | DType.Int8 => Array.tabulate(256)(i => argb(lo + i))
      case _ => null
    }
    val img = new java.awt.image.BufferedImage(
      bm.width, bm.height, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    // TYPE_INT_ARGB keeps one non-premultiplied ARGB int per pixel, row
    // by row: what setRGB would store; band 0 of the bitmap is the same
    // row-major plane
    val px = img.getRaster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferInt].getData
    val n = bm.width * bm.height
    var i = 0
    while (i < n) {
      val v = bm.pixels(i)
      val k = (v - lo).toInt
      px(i) = if (byValue != null && k >= 0 && k < 256 && k + lo == v) byValue(k) else argb(v)
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }
}
