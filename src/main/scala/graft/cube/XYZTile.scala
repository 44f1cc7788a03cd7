package graft.cube

import graft.catalog.TableStore
import graft.core.{DataFormat, DataMapping, DType, NumRange}
import graft.layout.Grid
import graft.raster.{Bitmap, OutDescriptor}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The interactive XYZ tile read path (§3.3, reference
  * internal/svc/catalog.go:415-506 + getMosaic :629-668): z/x/y →
  * WebMercator 256×256 descriptor → the matching records' tiles (all
  * merged into ONE mosaic) → optional min/max rescale → palette → PNG.
  *
  * The tiles are resolved on the DRIVER through [[TableStore.rows]] — the
  * reference's one PostGIS lookup plus in-process reads — so a warm tile
  * starts no Spark job and plans no query; when any of those reads would
  * decode more than the rows budget of compressed parquet, the tile runs
  * the GetCube Spark plan instead, unchanged. */
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
        s"tile x=$x, y=$y is outside [0, $n) at zoom $z")
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
      recordIds, tags, fromTime, toTime, TableStore.RowsBudgetBytes, PayloadBudgetBytes)

  /** Compressed parquet bytes the payload read of one tile may decode on
    * the driver. Unlike the catalog reads it is not cached, and only the
    * chosen levels' rows are kept as it streams, so it is bounded by
    * latency alone: on 4 cores the driver arm was faster than the Spark
    * plan at every size measured up to 256 MiB (770 vs 1333 ms p50), and
    * this stays at half that for boxes whose Spark plan runs on more
    * cores. */
  val PayloadBudgetBytes: Long = 128L << 20

  /** [[getTile]] with the driver arm's byte budgets, for the catalog
    * reads and for the payload read: 0 sends every non-empty read to the
    * Spark plan. */
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
    // the driver arm answers from TableStore.rows; any read over budget
    // runs the Spark plan instead
    val tiles = driverTiles(spark, cat, req, out, budgetBytes, payloadBudgetBytes)
      .getOrElse(GetCube.datasetTiles(spark, cat, req, out).collect())
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

  private val DatasetCols = Seq("id", "record_id", "container_uri", "subdir",
    "bands", "status", "dtype", "no_data", "min_value", "max_value",
    "real_min_value", "real_max_value", "exponent", "geog_wkb", "shape_wkb",
    "shape_srid", "bbox")
  private val TileCols = Seq("container_uri", "subdir", "width", "height",
    "bands", "dtype", "crs", "transform")

  /** The `records` rows of one [[TableStore.rows]] answer by id, built
    * once per answer: the answer instance is cached per commit-log
    * snapshot, so it is the index's validity token, and a warm tile looks
    * up its datasets' records instead of scanning the table. */
  @volatile private var recordIndex: (AnyRef, scala.collection.Map[String, List[org.apache.spark.sql.Row]]) =
    (null, Map.empty)
  private def recordsById(records: IndexedSeq[org.apache.spark.sql.Row]) = {
    val cur = recordIndex
    if (cur._1 eq records) cur._2
    else {
      // built back to front so each id's rows keep the answer's order
      val idx = new scala.collection.mutable.HashMap[String, List[org.apache.spark.sql.Row]](
        records.size * 2, scala.collection.mutable.HashMap.defaultLoadFactor)
      records.reverseIterator.foreach { r =>
        val id = r.getString(0)
        idx.update(id, r :: idx.getOrElse(id, Nil))
      }
      recordIndex = (records, idx)
      idx
    }
  }

  /** The tile's [[DatasetTile]]s resolved on the driver — the same rows
    * `GetCube.datasetTiles(...).collect()` returns, in the order the
    * mosaic does not depend on — or None when a read is over budget:
    *
    *  1. the instance's ACTIVE datasets (its `datasets` partition) that
    *     pass findDatasets' filters: record ids; the records inner join
    *     with its tag (Eq / Like / ILike, through Spark's own LIKE regex)
    *     and time-window filters; the bbox check, then `intersects` on the
    *     geographic footprint and, for same-SRID shapes, `interiorIntersects`
    *     on the native ring;
    *  2. the tile metadata of their containers' buckets, and per (container,
    *     base subdir) the level [[GetCube.chooseLevel]] picks;
    *  3. the chosen levels' rows with `payload`, from the row groups of
    *     their buckets whose statistics admit the chosen containers. */
  private def driverTiles(spark: SparkSession, cat: TableStore, req: CubeRequest,
      out: OutDescriptor, budgetBytes: Long,
      payloadBudgetBytes: Long): Option[Array[DatasetTile]] = {
    import graft.catalog.{Catalog, Patterns}
    import graft.functions.SpatialRuntime
    import graft.geo.GeomOps
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.util.{DateTimeUtils, StringUtils}
    def micros(t: java.sql.Timestamp): Long = DateTimeUtils.fromJavaTimestamp(t)

    val instanceId = req.instanceIds.head
    val records = cat.rows(spark, "records", Seq("id", "datetime", "tags"),
      budgetBytes = budgetBytes).getOrElse(return None)
    val datasets = cat.rows(spark, "datasets", DatasetCols, Seq(instanceId),
      budgetBytes = budgetBytes).getOrElse(return None)

    // records side: the time window and tag filters, applied to the
    // records of each candidate dataset
    val from = req.fromTime.map(micros)
    val to = req.toTime.map(micros)
    // a key mapped to null passes the key-presence test only, as
    // map_contains_key and element_at do
    val tagTests: Seq[scala.collection.Map[String, String] => Boolean] = req.tags.toSeq.map {
      case (k, v) if v.isEmpty => (t: scala.collection.Map[String, String]) => t.contains(k)
      case (k, v) =>
        val (value, op) = Patterns.parseLike(v)
        val test: String => Boolean = op match {
          case Patterns.Eq => _ == value
          case Patterns.Like =>
            val re = java.util.regex.Pattern.compile(StringUtils.escapeLikeRegex(value, '\\'))
            re.matcher(_).matches()
          case Patterns.ILike =>
            val re = java.util.regex.Pattern.compile(
              StringUtils.escapeLikeRegex(value.toLowerCase, '\\'))
            s => re.matcher(s.toLowerCase(java.util.Locale.ROOT)).matches()
        }
        (t: scala.collection.Map[String, String]) => t.get(k).exists(s => s != null && test(s))
    }
    val byId = recordsById(records)
    def recordTimes(id: String): Seq[java.sql.Timestamp] = byId.getOrElse(id, Nil).filter { r =>
      val dt = micros(r.getTimestamp(1))
      from.forall(dt >= _) && to.forall(dt <= _) && (tagTests.isEmpty || {
        val tags = r.getMap[String, String](2)
        tags != null && tagTests.forall(_(tags))
      })
    }.map(_.getTimestamp(1))

    // datasets side: status, ids, spatial pair, then the records join
    val (footprint, (nativeRing, srid)) = GetCube.spatialFilters(req, out)
    val fb = GeomOps.bbox(footprint)
    val footprintWkb = GeomOps.writeWkb(footprint)
    val nativeWkb = GeomOps.writeWkb(nativeRing)
    val ids = req.recordIds.toSet
    def spatial(d: Row): Boolean = {
      val b = d.getStruct(16)
      b != null && !b.isNullAt(0) && !b.isNullAt(1) && !b.isNullAt(2) && !b.isNullAt(3) &&
        b.getDouble(0) <= fb.xmax && b.getDouble(2) >= fb.xmin &&
        b.getDouble(1) <= fb.ymax && b.getDouble(3) >= fb.ymin &&
        !d.isNullAt(13) && SpatialRuntime.intersects(d.getAs[Array[Byte]](13), footprintWkb) &&
        (d.isNullAt(15) || d.getInt(15) != srid ||
          (!d.isNullAt(14) && SpatialRuntime.interiorIntersects(d.getAs[Array[Byte]](14), nativeWkb)))
    }
    val found = datasets.filter { d =>
      "ACTIVE" == d.getString(5) && (ids.isEmpty || ids(d.getString(1))) && spatial(d)
    }.flatMap(d => recordTimes(d.getString(1)).map(d -> _))
    if (found.isEmpty) return Some(Array.empty)

    // tile levels: each container's bucket metadata (cached per bucket),
    // one chosen level per (container, base subdir)
    val uris = found.map(_._1.getString(2)).toSet
    val buckets = uris.map(u => Catalog.tilesBucketOf(u).toString).toSeq.sorted
    val metaParts = buckets.iterator
      .map(b => cat.rows(spark, "tiles", TileCols, Seq(b), budgetBytes = budgetBytes))
      .takeWhile(_.isDefined).flatten.toSeq
    if (metaParts.size < buckets.size) return None
    val meta = metaParts.flatten.filter(t => uris(t.getString(0)))
    def subdirOf(r: Row, i: Int): String = Option(r.getString(i)).getOrElse("")
    val target = GetCube.targetResDeg(out)
    val chosen: Set[(String, String)] = meta
      .groupBy(t => (t.getString(0), GetCube.baseSubdir(subdirOf(t, 1))))
      .iterator.map { case ((uri, _), levels) =>
        uri -> GetCube.chooseLevel(levels.map(t =>
          (subdirOf(t, 1), t.getString(6), t.getSeq[Double](7)(1))), target)._1
      }.toSet
    val payloadBuckets = chosen.map(k => Catalog.tilesBucketOf(k._1).toString).toSeq.sorted
    // the chosen containers and levels prune row groups by their
    // statistics; a null subdir (read as "") matches no IN list, so the
    // subdir list is only passed when no level has one
    val levelIn = Map("container_uri" -> chosen.map(_._1)) ++
      (if (meta.exists(_.isNullAt(1))) Nil else Seq("subdir" -> chosen.map(_._2)))
    val levelRows = cat.rows(spark, "tiles", TileCols :+ "payload", payloadBuckets,
      levelIn, payloadBudgetBytes).getOrElse(return None)
      .filter(t => chosen((t.getString(0), subdirOf(t, 1))))
      .groupBy(t => (t.getString(0), GetCube.baseSubdir(subdirOf(t, 1))))

    Some(found.flatMap { case (d, datetime) =>
      levelRows.getOrElse((d.getString(2), subdirOf(d, 3)), Nil).map { t =>
        DatasetTile(
          group_key = d.getString(1), record_id = d.getString(1),
          datetime = datetime, dataset_id = d.getString(0),
          bands = Option(d.getSeq[Int](4)).map(_.toSeq).orNull,
          dtype = d.getString(6), no_data = d.getDouble(7),
          min_value = d.getDouble(8), max_value = d.getDouble(9),
          real_min_value = d.getDouble(10), real_max_value = d.getDouble(11),
          exponent = d.getDouble(12),
          t_width = t.getInt(2), t_height = t.getInt(3), t_bands = t.getInt(4),
          t_dtype = t.getString(5), t_crs = t.getString(6),
          t_transform = t.getSeq[Double](7).toSeq,
          payload = t.getAs[Array[Byte]](8))
      }
    }.toArray)
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
    // GetCube.selectTileLevel)
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
