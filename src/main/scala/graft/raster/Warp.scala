package graft.raster

import graft.core.{Cast, DataMapping}
import graft.geo.{Affine, CRS}

/** A source raster to merge: pixels + georeferencing + value mapping.
  * The kernel-side analog of the reference's per-dataset inputs to
  * MergeDatasets (internal/image/image.go:321-384). */
final case class SourceRaster(
    bitmap: Bitmap,
    pixToCrs: Affine,
    crs: CRS,
    mapping: DataMapping)

/** Output descriptor — the reference's GdalDatasetDescriptor
  * (internal/image/image.go:43-57): target grid + value mapping +
  * resampling + valid-pixel threshold. */
final case class OutDescriptor(
    width: Int,
    height: Int,
    bands: Int,
    pixToCrs: Affine,
    crs: CRS,
    mapping: DataMapping,
    resampling: Resampling,
    validPixPc: Int = -1)

/** The cast → resample → reproject → paint → mosaic kernel: the engine's
  * replacement for the reference's VRT-cast + godal.Warp pipeline
  * (image.go:321-422). Pure Scala tight loops over primitive arrays —
  * this runs inside `mapGroups` on executors, invisible to Catalyst.
  */
object Warp {

  /** Cast a source raster's pixels into the output mapping
    * (the CastFile/VRT step, image.go:260-286): returns the casted bitmap
    * plus its casted nodata (castValueBF of the source nodata —
    * image.go:341 `outDataMapping.NoData = castValueBF(...)`). */
  def castSource(src: SourceRaster, out: DataMapping): (Bitmap, Double) = {
    val params = Cast.castParams(src.mapping, out) match {
      case None => return (src.bitmap, src.mapping.format.noData) // no cast
      case Some(p) => p
    }
    val srcNoData = src.mapping.format.noData
    val srcNoDataDefined = src.mapping.format.noDataDefined
    val castedNoData =
      if (srcNoDataDefined) Cast.castValueBF(srcNoData, src.mapping, out)
      else Double.NaN
    val in = src.bitmap
    val px = new Array[Double](in.pixels.length)
    var i = 0
    while (i < px.length) {
      val v = in.pixels(i)
      val isNoData = srcNoDataDefined &&
        (if (srcNoData.isNaN) v.isNaN else v == srcNoData)
      px(i) =
        if (isNoData) castedNoData
        else Cast.storeValue(params(v), out.format.dtype)
      i += 1
    }
    (new Bitmap(in.width, in.height, in.bands, out.format.dtype, px), castedNoData)
  }

  /** Paint one (casted) source onto the target buffer: for every target
    * pixel, inverse-map through target-grid → CRS → source-grid, sample
    * with the descriptor's resampling, and overwrite when the sample is
    * valid (GDAL Warp sequential-overwrite semantics; nodata samples never
    * overwrite — SURVEY §7.4 risk 4). */
  def paint(target: Bitmap, out: OutDescriptor, casted: Bitmap,
      srcPixToCrs: Affine, srcCrs: CRS, srcNoData: Double): Unit = {
    val srcInv = srcPixToCrs.inverse
    val sameCrs = srcCrs == out.crs
    // pure-affine fast path when no reprojection is needed
    val direct: Affine = if (sameCrs) srcInv.multiply(out.pixToCrs) else null

    // source pixels per target pixel (for area kernels), estimated at center
    val (scaleX, scaleY) = {
      val (cx, cy) = out.pixToCrs.transform(out.width / 2.0, out.height / 2.0)
      val (cx1, cy1) = out.pixToCrs.transform(out.width / 2.0 + 1, out.height / 2.0 + 1)
      val (sx0, sy0) = toSrcPixel(cx, cy, out.crs, srcCrs, srcInv)
      val (sx1, sy1) = toSrcPixel(cx1, cy1, out.crs, srcCrs, srcInv)
      (math.abs(sx1 - sx0), math.abs(sy1 - sy0))
    }

    val outDtype = out.mapping.format.dtype
    val bands = math.min(out.bands, casted.bands)
    var ty = 0
    while (ty < out.height) {
      var tx = 0
      while (tx < out.width) {
        var px = 0.0; var py = 0.0
        if (sameCrs) {
          px = direct.transformX(tx + 0.5, ty + 0.5)
          py = direct.transformY(tx + 0.5, ty + 0.5)
        } else {
          val cx = out.pixToCrs.transformX(tx + 0.5, ty + 0.5)
          val cy = out.pixToCrs.transformY(tx + 0.5, ty + 0.5)
          val sp = toSrcPixel(cx, cy, out.crs, srcCrs, srcInv)
          px = sp._1; py = sp._2
        }
        var b = 0
        while (b < bands) {
          val v = Sampler.sample(casted, b, px, py, scaleX, scaleY, srcNoData, out.resampling)
          if (!v.isNaN) target.set(tx, ty, b, Cast.storeValue(v, outDtype))
          else if (srcNoData.isNaN) {
            // NaN nodata: a valid NaN sample is indistinguishable; skip
          }
          b += 1
        }
        tx += 1
      }
      ty += 1
    }
  }

  @inline private def toSrcPixel(cx: Double, cy: Double, outCrs: CRS, srcCrs: CRS,
      srcInv: Affine): (Double, Double) = {
    val (sx, sy) = CRS.transform(outCrs, srcCrs, cx, cy)
    (srcInv.transformX(sx, sy), srcInv.transformY(sx, sy))
  }

  /** MergeDatasets (image.go:321-384): cast every source into the output
    * mapping, paint them in input order (caller orders oldest→newest so the
    * most recent lands on top), over a nodata-initialized accumulator;
    * enforce the valid-pixel threshold. Returns None when dropped. */
  def mergeDatasets(sources: Seq[SourceRaster], out: OutDescriptor): Option[Bitmap] =
    mergeCounted(sources, out).map(_._1)

  /** [[mergeDatasets]] with the merged bitmap's valid-pixel count
    * ([[Bitmap.validPixels]]), counted once for the threshold and the
    * caller. */
  def mergeCounted(sources: Seq[SourceRaster], out: OutDescriptor): Option[(Bitmap, Int)] = {
    require(sources.nonEmpty, "mergeDatasets: no dataset to merge")
    val target = Bitmap.filled(out.width, out.height, out.bands,
      out.mapping.format.dtype, out.mapping.format.noData)
    for (src <- sources) {
      val (casted, castedNoData) = castSource(src, out.mapping)
      paint(target, out, casted, src.pixToCrs, src.crs, castedNoData)
    }
    val valid = target.validPixels(out.mapping.format.noData)
    if (out.validPixPc >= 0) {
      // long arithmetic: width*height*pc overflows Int past ~21 Mpx,
      // which silently disabled the threshold on large outputs
      val minValid = out.width.toLong * out.height * out.validPixPc / 100
      if (valid < math.max(minValid, 1L)) return None
    }
    Some((target, valid))
  }
}
