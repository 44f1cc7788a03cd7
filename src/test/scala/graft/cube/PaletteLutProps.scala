package graft.cube

import graft.core.{Cast, DataFormat, DataMapping, DType, NumRange}
import graft.raster.Bitmap
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAllNoShrink

/** [[Palette.toPng]] renders an 8-bit bitmap through a 256-entry colour
  * table and writes the image's pixel buffer directly. Its decoded ARGB
  * must equal the per-pixel `setRGB` loop it replaced, kept here as
  * [[reference]], for every value of the dtype, nodata as the dtype's
  * maximum or NaN, with or without a palette and with a min/max
  * override; a few values off the dtype's integers take the per-pixel
  * path and must agree as well. */
object PaletteLutProps extends Properties("palette-lut") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(200)

  /** The per-pixel loop `toPng` ran before its colour table. */
  private def reference(bm: Bitmap, mapping: DataMapping,
      palette: Option[Palette]): java.awt.image.BufferedImage = {
    val to = DataMapping(
      DataFormat(DType.UInt8, 255.0, NumRange(0, 254)), mapping.rangeExt, 1.0)
    val img = new java.awt.image.BufferedImage(
      bm.width, bm.height, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    val lut = palette.map(_.paletteN(255))
    val noData = mapping.format.noData
    var y = 0
    while (y < bm.height) {
      var x = 0
      while (x < bm.width) {
        val v = bm.get(x, y, 0)
        val isNoData = if (noData.isNaN) v.isNaN else v == noData
        val argb =
          if (isNoData) 0
          else {
            val u = Cast.storeValue(Cast.castValueBF(v, mapping, to), DType.UInt8).toInt
            lut match {
              case Some(l) =>
                val rgba = l(math.min(u, 254))
                ((rgba & 0xff) << 24) | (rgba >>> 8)
              case None => (0xff << 24) | (u << 16) | (u << 8) | u
            }
          }
        img.setRGB(x, y, argb)
        x += 1
      }
      y += 1
    }
    img
  }

  private val genPalette: Gen[Option[Palette]] = Gen.option(for {
    inner <- Gen.choose(0, 3)
    stops <- Gen.listOfN(inner, Gen.choose(0.01f, 0.99f))
    values = (0f +: stops.distinct.sorted :+ 1f)
    colours <- Gen.listOfN(values.size, Gen.listOfN(4, Gen.choose(0, 255)))
  } yield Palette("p", values.zip(colours).map { case (v, c) =>
    Palette.ColorPoint(v, c(0), c(1), c(2), c(3)) }))

  /** A mapping of `dtype` as a tile's (its range or a min/max override
    * inside it) with a random external range and exponent. */
  private def genMapping(dtype: DType): Gen[DataMapping] = for {
    noData <- Gen.oneOf(dtype.maxValue, Double.NaN)
    overridden <- Gen.oneOf(true, false)
    a <- Gen.choose(dtype.minValue, dtype.maxValue - 1)
    b <- Gen.choose(a + 1, dtype.maxValue)
    extMin <- Gen.choose(-1000.0, 1000.0)
    extSpan <- Gen.choose(0.5, 2000.0)
    exponent <- Gen.oneOf(1.0, 1.0, 2.0, 0.5)
  } yield {
    val range = if (overridden) NumRange(math.rint(a), math.rint(b).max(math.rint(a) + 1))
      else NumRange(dtype.minValue, dtype.maxValue)
    DataMapping(DataFormat(dtype, noData, range), NumRange(extMin, extMin + extSpan), exponent)
  }

  /** Every value of `dtype` once, shuffled, then values off its integers. */
  private def genBitmap(dtype: DType): Gen[Bitmap] = Gen.long.map { seed =>
    val all = (0 until 256).map(dtype.minValue + _)
    val off = Seq(Double.NaN, dtype.minValue - 1, dtype.maxValue + 1, dtype.minValue + 0.5,
      dtype.maxValue - 0.25, -0.0, 1e9, -1e9)
    val px = new scala.util.Random(seed).shuffle(all) ++ off
    new Bitmap(33, 8, 1, dtype, px.toArray)
  }

  private val bound = new graft.props.CaseBound("palette-lut")

  property("an 8-bit bitmap's decoded PNG equals the per-pixel reference") =
    forAllNoShrink(Gen.oneOf(DType.UInt8, DType.Int8).flatMap(dt =>
        Gen.zip(genBitmap(dt), genMapping(dt))), genPalette) { case ((bm, mapping), palette) =>
      var mismatch: Option[String] = None
      bound.check {
        val want = reference(bm, mapping, palette)
        val got = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(Palette.toPng(bm, mapping, palette)))
        mismatch = (for (y <- 0 until bm.height; x <- 0 until bm.width
            if got.getRGB(x, y) != want.getRGB(x, y))
          yield f"v=${bm.get(x, y, 0)} got=${got.getRGB(x, y)}%08x want=${want.getRGB(x, y)}%08x")
          .headOption
      } {
        case Some(e) => Prop.falsified :| s"toPng failed: $e"
        case None => Prop(mismatch.isEmpty) :| s"${bm.dtype} $mapping $palette: ${mismatch.getOrElse("")}"
      }
    }
}
