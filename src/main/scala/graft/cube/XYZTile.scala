package graft.cube

import graft.catalog.TableStore
import graft.core.{DataFormat, DataMapping, NumRange}
import graft.layout.Grid
import graft.raster.{Bitmap, OutDescriptor}
import org.apache.spark.sql.SparkSession

/** The interactive XYZ tile read path (§3.3, reference
  * internal/svc/catalog.go:415-506 + getMosaic :629-668): z/x/y →
  * WebMercator 256×256 descriptor → the matching records' tiles (all
  * merged into ONE mosaic) → optional min/max rescale → palette → PNG.
  *
  * The tiles are resolved on the DRIVER by the cube's resolver,
  * [[GetCube.driverTiles]] — the reference's one PostGIS lookup plus
  * in-process reads — and merged there, so a warm tile starts no Spark
  * job and plans no query; a read that would decode more than its budget
  * of compressed parquet degrades alone, to a filtered Spark read of the
  * request's rows (the payload's collected here). */
object XYZTile {

  /** Largest zoom level served: at z30 a tile is ~1.5 cm across, and
    * `1L << z` stays far inside a Long. */
  val MaxZoom = 30

  /** Reject a tile address outside the XYZ pyramid: z in [0, [[MaxZoom]]],
    * x and y in [0, 2^z). */
  private[cube] def validate(x: Long, y: Long, z: Int): Unit = {
    if (z < 0 || z > MaxZoom)
      throw new IllegalArgumentException(s"tile zoom z=$z is outside [0, $MaxZoom]")
    val n = 1L << z
    if (x < 0 || x >= n || y < 0 || y >= n)
      throw new IllegalArgumentException(
        s"tile x=$x, y=$y is outside [0, $n) at zoom z=$z")
  }

  /** PNG bytes for tile (x, y, z); None when no dataset intersects or too
    * few valid pixels. With no explicit `palette`, the variable behind
    * the instance names one and it is resolved from the catalog's
    * palette table (reference catalog.go:454-467: variable.Palette →
    * ReadPalette; a dangling name fails the request, not silently
    * grayscale). */
  def getTile(spark: SparkSession, cat: TableStore, instanceId: String,
      x: Long, y: Long, z: Int,
      minOverride: Double = 0, maxOverride: Double = 0,
      palette: Option[Palette] = None,
      recordIds: Seq[String] = Nil,
      tags: Map[String, String] = Map.empty,
      fromTime: Option[java.sql.Timestamp] = None,
      toTime: Option[java.sql.Timestamp] = None): Option[Array[Byte]] =
    tile(spark, cat, instanceId, x, y, z, minOverride, maxOverride, palette,
      recordIds, tags, fromTime, toTime, TableStore.RowsBudgetBytes, GetCube.PayloadBudgetBytes)

  /** [[getTile]] with the resolver's byte budgets, for the catalog reads
    * and for the payload read: 0 sends every non-empty read to Spark. */
  private[cube] def tile(spark: SparkSession, cat: TableStore, instanceId: String,
      x: Long, y: Long, z: Int, minOverride: Double, maxOverride: Double,
      palette: Option[Palette], recordIds: Seq[String], tags: Map[String, String],
      fromTime: Option[java.sql.Timestamp], toTime: Option[java.sql.Timestamp],
      budgetBytes: Long, payloadBudgetBytes: Long): Option[Array[Byte]] = {
    validate(x, y, z)
    // all records merged into one slice: a single group of every matching
    // record (getMosaic consolidates the full scan into one image);
    // records scoped by ids (GetXYZTile) or tags+time
    // (GetXYZTileFromFilters, service.go:90) when given
    val req = CubeRequest(
      instanceIds = Seq(instanceId),
      crs = "EPSG:3857",
      transform = Grid.xyzTransform(x, y, z),
      width = 256, height = 256,
      recordIds = recordIds, tags = tags,
      fromTime = fromTime, toTime = toTime,
      validPixPc = 0)

    val out = GetCube.prepare(spark, cat, req)
    // resolved from TableStore.rows answers; an over-budget payload comes
    // back as one Spark job's rows
    val tiles = GetCube.driverTiles(spark, cat, req, out, budgetBytes, payloadBudgetBytes)
      .fold(_.collect(), identity)
    if (tiles.isEmpty) return None

    val slice = GetCube.buildSliceForMosaic(tiles, out)
    if (slice.isEmpty) return None
    val bm = Bitmap.fromBytes(slice.get, out.width, out.height,
      out.bands, out.mapping.format.dtype)

    // palette resolve AFTER the empty-tile early returns (the reference
    // reads the palette only once a mosaic exists to render)
    val pal = palette.orElse(
      GetCube.paletteNameOf(spark, cat, Seq(instanceId)).map { n =>
        Palette.read(spark, cat, n).getOrElse(
          throw new IllegalArgumentException(
            s"variable of instance $instanceId names unknown palette '$n'"))
      })

    // min/max rescale (getXYZTile :469-471): override the displayed range
    val mapping =
      if (minOverride < maxOverride)
        DataMapping(
          DataFormat(out.mapping.format.dtype, out.mapping.format.noData,
            NumRange(minOverride, maxOverride)),
          out.mapping.rangeExt, out.mapping.exponent)
      else out.mapping
    Some(Palette.toPng(bm, mapping, pal))
  }

  /** Catalog-FREE tile serving straight off one container file: range-read
    * the subdir at the level adequate for zoom z (head + chosen blocks
    * only — any container size), warp/reproject to the WebMercator tile
    * grid, palette to PNG. The no-index path for "just show me this COG",
    * Spark-free and driver- or executor-callable. */
  def getTileFromFile(conf: org.apache.hadoop.conf.Configuration,
      path: String, subdir: String, x: Long, y: Long, z: Int,
      noData: Double = Double.NaN,
      minOverride: Double = 0, maxOverride: Double = 0,
      palette: Option[Palette] = None): Option[Array[Byte]] = {
    import graft.geo.CRS
    import graft.raster.{Resampling, SourceRaster, Warp}
    validate(x, y, z)
    val tf = Grid.xyzTransform(x, y, z)
    // ONE head parse per request. Overview selection keys on SOURCE-CRS
    // units: the tile's meters/px converts to degrees for a geographic
    // source (equatorial factor — errs toward a finer level, like
    // GetCube.chooseLevel)
    val img = graft.ingest.GeoTiffIO.withTiff(conf, path) { tiff =>
      val geo = tiff.headers.head.crs.isGeographic
      tiff.decode(tiff.level(graft.raster.GeoTiff.subdirIndex(subdir),
        math.abs(if (geo) tf.rx / 111320.0 else tf.rx)))
    }
    // identity value mapping over the source dtype; warp only reprojects
    val fmt = DataFormat(img.bitmap.dtype, noData,
      NumRange(img.bitmap.dtype.minValue, img.bitmap.dtype.maxValue))
    val mapping0 = DataMapping(fmt, fmt.range, 1.0)
    val out = OutDescriptor(256, 256, img.bitmap.bands, tf, CRS.WebMercator,
      mapping0, Resampling.Near, validPixPc = 0)
    Warp.mergeDatasets(
        Seq(SourceRaster(img.bitmap, img.transform, img.crs, mapping0)), out)
      .map { merged =>
        val mapping =
          if (minOverride < maxOverride)
            DataMapping(DataFormat(fmt.dtype, noData,
              NumRange(minOverride, maxOverride)), fmt.range, 1.0)
          else mapping0
        Palette.toPng(merged, mapping, palette)
      }
  }
}
