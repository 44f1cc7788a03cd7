package graft.cube

import graft.catalog.{Catalog, TableStore, CatalogQueries, DatasetFilters}
import graft.core._
import graft.geo.{Affine, CRS, GeomOps}
import graft.raster._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Cube request: output grid + value source (variable instances) + record
  * filters — the argument surface of GetCube (reference
  * internal/svc/catalog.go:146-224, prepare :226-274). */
final case class CubeRequest(
    instanceIds: Seq[String],
    crs: String,
    transform: Affine,
    width: Int,
    height: Int,
    recordIds: Seq[String] = Nil,
    recordGroups: Seq[Seq[String]] = Nil, // client-side grouping (A2)
    tags: Map[String, String] = Map.empty,
    fromTime: Option[java.sql.Timestamp] = None,
    toTime: Option[java.sql.Timestamp] = None,
    resampling: Option[String] = None,
    validPixPc: Int = -1,
    headersOnly: Boolean = false)

/** One dataset row joined with its tile payload — the typed input of the
  * merge kernel. */
final case class DatasetTile(
    group_key: String,
    record_id: String,
    datetime: java.sql.Timestamp,
    dataset_id: String,
    bands: Seq[Int],
    dtype: String, no_data: Double, min_value: Double, max_value: Double,
    real_min_value: Double, real_max_value: Double, exponent: Double,
    t_width: Int, t_height: Int, t_bands: Int, t_dtype: String,
    t_crs: String, t_transform: Seq[Double],
    payload: Array[Byte])

/** One dataset's slice metadata — the reference's pb.InternalMeta inside
  * a DatasetMeta (svc/catalog.go:53-70): raster addressing (container,
  * subdir) + the dataset's dformat/ranges, WITHOUT pixels. What the
  * DownloadCube client replays cubes from. */
final case class DatasetMeta(
    group_key: String,
    record_id: String,
    datetime: java.sql.Timestamp,
    dataset_id: String,
    container_uri: String,
    subdir: String,
    bands: Seq[Int],
    dtype: String, no_data: Double, min_value: Double, max_value: Double,
    real_min_value: Double, real_max_value: Double, exponent: Double)

/** One output slice of the cube: header + (unless headers-only/error) the
  * merged bitmap payload in the engine's byte codec. Per-slice errors are
  * values, not failures (reference grpc/service.go:1086-1089). */
final case class Slice(
    group_key: String,
    record_ids: Seq[String],
    min_datetime: java.sql.Timestamp,
    width: Int, height: Int, bands: Int, dtype: String,
    payload: Array[Byte],
    valid_pixels: Long,
    error: String)

/** GetCube — the read path (SURVEY §3.1) in two arms that return the
  * same slices in the same order.
  *
  * The driver arm ([[GetCube.driverTiles]], the one resolver of cubes and
  * XYZ tiles): the request's tiles are resolved on the driver from
  * [[TableStore.rows]] answers — the reference's one PostGIS lookup — and
  * the merge kernel runs as one single-stage Spark job per partition of
  * slice-ordered groups, with no shuffle and no query to plan. It serves
  * every request whose reads fit their byte budgets.
  *
  * The Spark arm, for the rest: one Catalyst plan feeding a typed
  * mapGroups kernel:
  *
  *   findDatasets (S1: filters + bbox/JTS spatial + broadcast records join)
  *   → join tiles on (container_uri, subdir)      [co-located by container]
  *   → groupByKey(record | client group)           (A1/A2)
  *   → mapGroups: time-ordered cast→warp→mosaic    (D3 kernel)
  *   → slices ordered by (min datetime, group)     (O4 contract)
  *
  * Scale shape: the only shuffle is the groupByKey on record id — the same
  * key the mosaic needs; tile payloads move once. Slice kernel memory =
  * W·H·bands·8 per task (BASELINE.md §c sizing rule).
  */
object GetCube {

  /** Minimum tiles-store size (file bytes, from the scan's listing stats)
    * for the serving path's derived-bucket pruning conjunct — below it
    * the DPP subquery stages cost more than the full scan they prune
    * (see [[selectTileLevel]]). Overridable per session for tests/tuning. */
  val BucketPruneMinBytesConf = "graft.tiles.bucketPruneMinBytes"
  val BucketPruneMinBytesDefault: Long = 1L << 30

  /** Recommended session configuration for LATENCY-SERVING deployments
    * (a GetCube/XYZ tile server — the reference runs these as a
    * dedicated apiserver, svc/service.go): request-bounded plans with
    * explicit broadcast hints gain nothing from adaptive execution's
    * stage-by-stage materialization and re-optimization, which measured
    * ~0.3 s of pure driver overhead per 100-slice request (r11
    * profiling: 0.80 → 0.49 s min). ETL/analytics sessions (ingest,
    * consolidation, the dedup/text corpus) should keep AQE ON — skew
    * joins and partition coalescing matter there. The listing threshold
    * keeps the 64-bucket tiles store's directory listing on the driver
    * instead of launching a distributed listing job per request. */
  val ServingSessionConfs: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1024")

  /** Everything [[prepare]] reads off the variable definition row. */
  private final case class VariableInfo(dtype: String, noData: Double,
      minValue: Double, maxValue: Double, nBands: Int, resampling: Option[String],
      palette: Option[String])

  /** The variable behind `instanceIds`: instances → their one shared
    * definition, joined on the driver over [[TableStore.rows]] answers —
    * the two tables are broadcast-sized and change ~never, so a warm
    * serving loop reads them from the snapshot-keyed cache and starts no
    * Spark job. */
  private def resolveVariable(spark: SparkSession, cat: TableStore,
      instanceIds: Seq[String]): VariableInfo = {
    val wanted = instanceIds.toSet
    val defIds = cat.rowsOrCollect(spark, "variable_instances", Seq("id", "definition_id"))
      .collect { case r if wanted(r.getString(0)) => r.getString(1) }.toSet
    val vd = cat.rowsOrCollect(spark, "variable_definitions",
        Seq("id", "dtype", "no_data", "min_value", "max_value", "bands",
          "resampling_alg", "palette"))
      .filter(r => defIds(r.getString(0)))
    require(vd.length == 1,
      s"instances $instanceIds must exist and share one defined variable")
    val v = vd(0)
    VariableInfo(
      v.getAs[String]("dtype"), v.getAs[Double]("no_data"),
      v.getAs[Double]("min_value"), v.getAs[Double]("max_value"),
      math.max(1,
        Option(v.getAs[scala.collection.Seq[String]]("bands")).map(_.size).getOrElse(1)),
      Option(v.getAs[String]("resampling_alg")),
      Option(v.getAs[String]("palette")).filter(_.nonEmpty))
  }

  /** Palette NAME the instances' variable declares, if any (reference
    * catalog.go:455-467 reads variable.Palette before rendering). */
  def paletteNameOf(spark: SparkSession, cat: TableStore,
      instanceIds: Seq[String]): Option[String] =
    resolveVariable(spark, cat, instanceIds).palette

  /** Resolve the output descriptor from the variable behind the instance
    * (getCubePrepare: out mapping = variable DFormat, rangeExt = its own
    * range, exponent 1; default resampling from the variable). */
  def prepare(spark: SparkSession, cat: TableStore, req: CubeRequest): OutDescriptor = {
    val v = resolveVariable(spark, cat, req.instanceIds)
    val dt = DType.fromName(v.dtype)
    val format = DataFormat(dt, v.noData, NumRange(v.minValue, v.maxValue))
    OutDescriptor(
      width = req.width, height = req.height,
      bands = v.nBands,
      pixToCrs = req.transform,
      crs = CRS.parse(req.crs),
      mapping = DataMapping(format, format.range, 1.0),
      resampling = req.resampling.orElse(v.resampling)
        .map(Resampling.fromName).getOrElse(Resampling.Near),
      validPixPc = req.validPixPc)
  }

  /** The spatial filter pair of the read path: coarse geographic footprint
    * + refined native-CRS interior-intersects ring (pg_containers.go:302-311
    * — the CASE-on-SRID predicate that drops datasets merely touching the
    * request boundary). */
  private[cube] def spatialFilters(req: CubeRequest, out: OutDescriptor):
      (org.locationtech.jts.geom.Geometry, (org.locationtech.jts.geom.Geometry, Int)) = {
    val footprint = GeomOps.geographicRingFromExtent(
      req.transform, req.width, req.height, out.crs)
    val nativeRing = GeomOps.polygonFromBBox(
      graft.geo.BBox.fromExtent(req.transform, req.width, req.height))
    (footprint, (nativeRing, out.crs.srid))
  }

  /** The dataset scan + tile join + grouping plan (steps 2-4 of §3.1). */
  def datasetTiles(spark: SparkSession, cat: TableStore, req: CubeRequest): Dataset[DatasetTile] =
    datasetTiles(spark, cat, req, prepare(spark, cat, req))

  /** As above with the output descriptor already resolved — callers that
    * ran [[prepare]] themselves (cube, the serving paths) must not pay the
    * variable-lookup round-trip twice. */
  private[cube] def datasetTiles(spark: SparkSession, cat: TableStore, req: CubeRequest,
      out: OutDescriptor): Dataset[DatasetTile] = {
    import spark.implicits._
    // group key: the record itself (A1) or the client-supplied group (A2).
    // Deliberately LAZY even though the frame feeds both the
    // level-selection pass and the final tile join: the duplicate
    // catalog-discovery subtrees execute inside ONE job and overlap
    // across cores, where an eager localCheckpoint here serialized the
    // request into a chain of small jobs and measured ~30% SLOWER
    // end-to-end (r11 profiling: plan-construction-only latency ~1.0 s
    // of a 1.6 s request).
    val withGroup = datasetTilesMetaOnly(spark, cat, req, out)

    // the broadcast hints below are applied only to BOUNDED requests
    // (record/group/tag/time-filtered): an instance-wide unfiltered cube
    // can match catalog-scale dataset counts, where a forced broadcast
    // would OOM the driver or hit Spark's broadcast hard limit — there
    // the planner's size-based choice decides (r11 review finding)
    val bounded = req.recordIds.nonEmpty || req.recordGroups.nonEmpty ||
      req.tags.nonEmpty || req.fromTime.isDefined || req.toTime.isDefined
    def hinted(df: DataFrame): DataFrame = if (bounded) broadcast(df) else df

    val tiles = selectTileLevel(spark, cat, out, withGroup, bounded)

    // broadcast the request-bounded DATASET side, never the tile side:
    // size-based selection at toy scale picked the tiles projection as
    // the build — pushing every payload byte through the driver — where
    // the metadata side is k rows per request at any store size
    tiles
      .join(hinted(withGroup),
        col("container_uri") === col("t_uri") &&
          coalesce(col("subdir"), lit("")) === col("t_base_subdir"))
      .select(
        col("group_key"), col("record_id"), col("datetime"),
        col("id").as("dataset_id"), col("bands"),
        col("dtype"), col("no_data"), col("min_value"), col("max_value"),
        col("real_min_value"), col("real_max_value"), col("exponent"),
        col("t_width"), col("t_height"), col("t_bands"), col("t_dtype"),
        col("t_crs"), col("t_transform"), col("payload"))
      .as[DatasetTile]
  }

  /** Compressed parquet bytes the payload read of one request may decode
    * on the driver. Unlike the catalog reads it is not cached, and only
    * the chosen levels' rows are kept as it streams, so it is bounded by
    * latency alone: on 4 cores the driver arm was faster than the Spark
    * plan at every size measured up to 256 MiB (770 vs 1333 ms p50 for
    * one XYZ tile), and this stays at half that for boxes whose Spark plan
    * runs on more cores. */
  val PayloadBudgetBytes: Long = 128L << 20

  private val DatasetCols = Seq("id", "record_id", "container_uri", "subdir",
    "bands", "status", "dtype", "no_data", "min_value", "max_value",
    "real_min_value", "real_max_value", "exponent", "geog_wkb", "shape_wkb",
    "shape_srid", "bbox")
  private val TileCols = Seq("container_uri", "subdir", "width", "height",
    "bands", "dtype", "crs", "transform")

  /** The `records` rows of one [[TableStore.rows]] answer by id, built
    * once per answer: the answer instance is cached per commit-log
    * snapshot, so it is the index's validity token, and a warm request
    * looks up its datasets' records instead of scanning the table. */
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

  /** The request's [[DatasetTile]]s resolved on the driver — as a
    * multiset, the rows `datasetTiles(...).collect()` returns, group keys
    * included — or None when a read is over budget. The one resolver of
    * the XYZ tile and the cube:
    *
    *  1. the instances' ACTIVE datasets (their `datasets` partitions) that
    *     pass findDatasets' filters: record ids (the groups' records when
    *     `recordGroups` is set); the records inner join with its tag (Eq /
    *     Like / ILike, through Spark's own LIKE regex) and time-window
    *     filters; the bbox check, then `intersects` on the geographic
    *     footprint and, for same-SRID shapes, `interiorIntersects` on the
    *     native ring; each match once per group key of its record — the
    *     record itself, or every `g<i>` group that lists it;
    *  2. the tile metadata of their containers' buckets, and per (container,
    *     base subdir) the level [[chooseLevel]] picks;
    *  3. the chosen levels' rows with `payload`, from the row groups of
    *     their buckets whose statistics admit the chosen containers. */
  private[cube] def driverTiles(spark: SparkSession, cat: TableStore, req: CubeRequest,
      out: OutDescriptor, budgetBytes: Long,
      payloadBudgetBytes: Long): Option[Array[DatasetTile]] = {
    import graft.catalog.Patterns
    import graft.functions.SpatialRuntime
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.util.{DateTimeUtils, StringUtils}
    def micros(t: java.sql.Timestamp): Long = DateTimeUtils.fromJavaTimestamp(t)

    val records = cat.rows(spark, "records", Seq("id", "datetime", "tags"),
      budgetBytes = budgetBytes).getOrElse(return None)
    val datasets = cat.rows(spark, "datasets", DatasetCols, req.instanceIds.distinct,
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

    // group keys: the record itself, or each client group listing it
    // (once per listing, as the Spark plan's join with the group rows)
    val (ids, groupKeys): (Set[String], String => Seq[String]) =
      if (req.recordGroups.isEmpty) (req.recordIds.toSet, Seq(_))
      else {
        val keys = groupListings(req).groupMap(_._1)(_._2)
        (req.recordGroups.flatten.toSet, keys.getOrElse(_, Nil))
      }

    // datasets side: status, ids, spatial pair, then the records join
    val (footprint, (nativeRing, srid)) = spatialFilters(req, out)
    val fb = GeomOps.bbox(footprint)
    val footprintWkb = GeomOps.writeWkb(footprint)
    val nativeWkb = GeomOps.writeWkb(nativeRing)
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
    val target = targetResDeg(out)
    val chosen: Set[(String, String)] = meta
      .groupBy(t => (t.getString(0), baseSubdir(subdirOf(t, 1))))
      .iterator.map { case ((uri, _), levels) =>
        uri -> chooseLevel(levels.map(t =>
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
      .groupBy(t => (t.getString(0), baseSubdir(subdirOf(t, 1))))

    Some(found.flatMap { case (d, datetime) =>
      for {
        key <- groupKeys(d.getString(1))
        t <- levelRows.getOrElse((d.getString(2), subdirOf(d, 3)), Nil)
      } yield DatasetTile(
        group_key = key, record_id = d.getString(1),
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
    }.toArray)
  }

  /** Full cube: tiles + kernel + ordered emission. Within the driver
    * arm's budgets the tiles are resolved on the driver ([[driverTiles]])
    * and the kernel runs as shuffle-free jobs ([[kernelJobs]]); a request
    * any of whose reads is over budget runs the Spark plan instead. */
  def cube(spark: SparkSession, cat: TableStore, req: CubeRequest): Dataset[Slice] =
    cube(spark, cat, req, TableStore.RowsBudgetBytes, PayloadBudgetBytes)

  /** [[cube]] with the driver arm's byte budgets, for the catalog reads
    * and for the payload read: 0 sends every non-empty request to the
    * Spark plan. */
  private[graft] def cube(spark: SparkSession, cat: TableStore, req: CubeRequest,
      budgetBytes: Long, payloadBudgetBytes: Long): Dataset[Slice] = {
    import spark.implicits._
    val out = prepare(spark, cat, req)

    if (req.headersOnly) {
      // headers-only short-circuit (getCubeStream :325-339): no tile join,
      // no kernel — one aggregation over the dataset scan.
      val found = datasetTilesMetaOnly(spark, cat, req, out)
      return found
        .groupBy(col("group_key"))
        .agg(
          sort_array(collect_set(col("record_id"))).as("record_ids"),
          min(col("datetime")).as("min_datetime"))
        .select(col("group_key"), col("record_ids"), col("min_datetime"),
          lit(out.width).as("width"), lit(out.height).as("height"),
          lit(out.bands).as("bands"), lit(out.mapping.format.dtype.name).as("dtype"),
          lit(Array.empty[Byte]).as("payload"), lit(0L).as("valid_pixels"),
          lit("").as("error"))
        .orderBy(col("min_datetime"), col("group_key"))
        .as[Slice]
    }

    driverTiles(spark, cat, req, out, budgetBytes, payloadBudgetBytes) match {
      case Some(tiles) => kernelJobs(spark, tiles, out)
      case None =>
        datasetTiles(spark, cat, req, out).groupByKey(_.group_key)
          .mapGroups { (key, it) => buildSlice(key, it, out) }
          .orderBy(col("min_datetime"), col("group_key"))
    }
  }

  /** The kernel over driver-resolved tiles, with no shuffle and no join
    * to plan: the groups sorted as the Spark plan sorts slices
    * (min_datetime, then group key — full-microsecond timestamps, unsigned
    * UTF-8 keys), cut into at most one contiguous run per core, one
    * [[buildSlice]] per group. Read partition by partition in
    * order (toLocalIterator, the HTTP edge's pipelined partitions), the
    * slices come out in the Spark plan's order, one single-stage job per
    * partition. */
  private def kernelJobs(spark: SparkSession, tiles: Array[DatasetTile],
      out: OutDescriptor): Dataset[Slice] = {
    import graft.consolidation.Consolidation.utf8Compare
    import spark.implicits._
    val groups = tiles.groupBy(_.group_key).toArray.map { case (k, ts) =>
      (k, ts, ts.iterator.map(_.datetime).reduce((x, y) => if (x.compareTo(y) <= 0) x else y))
    }.sortWith { (a, b) =>
      val c = a._3.compareTo(b._3)
      if (c != 0) c < 0 else utf8Compare(a._1, b._1) < 0
    }.map { case (k, ts, _) => (k, ts) }
    val sc = spark.sparkContext
    val slices =
      if (groups.isEmpty) sc.emptyRDD[Slice]
      else sc.parallelize(groups.toSeq, math.min(groups.length, sc.defaultParallelism))
        .mapPartitions(_.map { case (k, ts) => buildSlice(k, ts.iterator, out) })
    spark.createDataset(slices)
  }

  /** DownloadCube (reference downloader.go:47-158): replay the merge
    * kernel from CLIENT-supplied tiles — the caller already holds slice
    * metadata (e.g. from a headers-only GetCube) plus the raster payloads
    * (e.g. file reads), so no catalog round-trip happens; same kernel,
    * same ordered emission. */
  def downloadCube(spark: SparkSession, tiles: Dataset[DatasetTile],
      out: OutDescriptor): Dataset[Slice] = {
    import spark.implicits._
    tiles.groupByKey(_.group_key)
      .mapGroups { (key, it) => buildSlice(key, it, out) }
      .orderBy(col("min_datetime"), col("group_key"))
  }

  /** Per-dataset slice metadata (the reference's pb.DatasetMeta /
    * InternalMeta, svc/catalog.go:39-70): container addressing + dformat
    * + ranges — everything [[cubeFromMetadata]] needs to rebuild the
    * slice from the raw tile store with NO catalog round-trip. */
  def cubeMetadata(spark: SparkSession, cat: TableStore,
      req: CubeRequest): Dataset[DatasetMeta] = {
    import spark.implicits._
    val out = prepare(spark, cat, req)
    datasetTilesMetaOnly(spark, cat, req, out)
      .select(
        col("group_key"), col("record_id"), col("datetime"),
        col("id").as("dataset_id"),
        col("container_uri"), coalesce(col("subdir"), lit("")).as("subdir"),
        col("bands"),
        col("dtype"), col("no_data"), col("min_value"), col("max_value"),
        col("real_min_value"), col("real_max_value"), col("exponent"))
      .as[DatasetMeta]
  }

  /** GetCubeFromMetadatas (reference downloader.go:47-158 +
    * svc/catalog.go:112-150): rebuild the cube from CLIENT-held metadata
    * and the raw tile store ONLY — the datasets/records/variable tables
    * are never read, mirroring the reference's downloader which fetches
    * the COGs itself from object storage using the URIs in the metadata.
    * The caller supplies the output grid + reference dformat the way the
    * DownloadCube request does. */
  def cubeFromMetadata(spark: SparkSession, cat: TableStore,
      meta: Dataset[DatasetMeta], out: OutDescriptor): Dataset[Slice] = {
    import spark.implicits._
    // reads the tiles store only, scoped to the metadata's container set;
    // the broadcast goes on the client-metadata side (k rows), never the
    // tile-payload side. The hint is GATED on the metadata frame's plan
    // size the same way the sibling getCube path gates on request
    // boundedness: client-held metadata is usually a LocalRelation with
    // exact stats, but this entry point also serves bulk-export-scale
    // sets (GeoTiffIO allows 10⁶ uris), where a forced broadcast could
    // OOM the driver or exceed Spark's broadcast hard limit — there the
    // planner's size-based choice decides (r11 advice).
    val metaDf = meta.toDF()
    val bounded = boundedForBroadcast(metaDf)
    def hinted(df: org.apache.spark.sql.DataFrame) =
      if (bounded) broadcast(df) else df
    val tiles = selectTileLevel(spark, cat, out, metaDf, bounded)
    val ds = tiles
      .join(hinted(metaDf),
        col("container_uri") === col("t_uri") &&
          col("subdir") === col("t_base_subdir"))
      .select(
        col("group_key"), col("record_id"), col("datetime"),
        col("dataset_id"), col("bands"),
        col("dtype"), col("no_data"), col("min_value"), col("max_value"),
        col("real_min_value"), col("real_max_value"), col("exponent"),
        col("t_width"), col("t_height"), col("t_bands"), col("t_dtype"),
        col("t_crs"), col("t_transform"), col("payload"))
      .as[DatasetTile]
    downloadCube(spark, ds, out)
  }

  /** Broadcast-hint gate for frames whose boundedness is only knowable
    * from plan statistics (client-held metadata): a LocalRelation from a
    * request carries exact byte stats and hints; an RDD-backed or
    * store-scale frame reports the default (≈unbounded) size and falls
    * back to the planner's choice. 256 MiB keeps a hinted build far
    * under Spark's broadcast hard limit with driver headroom. */
  private[cube] def boundedForBroadcast(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(1L << 28)

  /** (record id, group key) per listing of a record in the request's
    * client groups; the i-th group's key is `g<i>`, zero-padded. */
  private def groupListings(req: CubeRequest): Seq[(String, String)] =
    req.recordGroups.zipWithIndex.flatMap { case (g, i) => g.map(r => (r, f"g$i%06d")) }

  /** The request's datasets (findDatasets with the records join), one
    * row per group key — the record, or each client group listing it. */
  private def datasetTilesMetaOnly(spark: SparkSession, cat: TableStore,
      req: CubeRequest, out: OutDescriptor): DataFrame = {
    val (footprint, refined) = spatialFilters(req, out)
    val found = CatalogQueries.findDatasets(spark, cat, DatasetFilters(
      status = Seq("ACTIVE"), instanceIds = req.instanceIds,
      recordIds = if (req.recordGroups.nonEmpty) req.recordGroups.flatten else req.recordIds,
      recordTags = req.tags, fromTime = req.fromTime, toTime = req.toTime,
      geog = Some(footprint), refined = Some(refined),
      // no global sort: the result is joined/grouped immediately and the
      // kernel (or the headers agg) establishes its own order — see
      // DatasetFilters.joinRecords
      order = false, joinRecords = true))
    if (req.recordGroups.nonEmpty) {
      import spark.implicits._
      val groups = groupListings(req).toDF("__grid", "group_key")
      found.join(broadcast(groups), col("record_id") === col("__grid")).drop("__grid")
    } else found.withColumn("group_key", col("record_id"))
  }

  /** The per-group kernel (mergeDatasetsWorker, catalog.go:531-625): sort
    * by (datetime, dataset id) so the latest paints last; decode tiles;
    * extract the dataset's band subset; merge; envelope errors as values. */
  private[cube] def buildSlice(key: String, rows: Iterator[DatasetTile], out: OutDescriptor): Slice = {
    import graft.consolidation.Consolidation.utf8Compare
    // merge order sorts EXACTLY like Spark would (full-microsecond
    // Timestamp compare, unsigned UTF-8 tie-break) — `getTime` truncates
    // to millis and JVM String order is UTF-16, the two divergences the
    // consolidation kernel's ordering-parity fix documents; a tie decided
    // differently here would let an OLDER record paint last
    val list = rows.toArray.sortWith { (a, b) =>
      val c = a.datetime.compareTo(b.datetime)
      if (c != 0) c < 0 else utf8Compare(a.dataset_id, b.dataset_id) < 0
    }
    // UTF-8 order, matching the headers-only path's sort_array (UTF8String
    // binary order) so the two paths return identical header keys
    val recordIds = list.map(_.record_id).distinct
      .sortWith(utf8Compare(_, _) < 0).toSeq
    val minDt = list.map(_.datetime)
      .reduce((x, y) => if (x.compareTo(y) <= 0) x else y)
    try {
      val sources = list.map { r =>
        val full = Bitmap.fromBytes(r.payload, r.t_width, r.t_height, r.t_bands,
          DType.fromName(r.t_dtype))
        val bm = extractBands(full, r.bands)
        val mapping = DataMapping(
          DataFormat(DType.fromName(r.dtype), r.no_data,
            NumRange(r.min_value, r.max_value)),
          NumRange(r.real_min_value, r.real_max_value), r.exponent)
        SourceRaster(bm, Affine.fromArray(r.t_transform.toArray), CRS.parse(r.t_crs), mapping)
      }.toSeq
      Warp.mergeDatasets(sources, out) match {
        case Some(merged) =>
          Slice(key, recordIds, minDt, out.width, out.height, merged.bands,
            out.mapping.format.dtype.name, merged.toBytes,
            merged.validPixels(out.mapping.format.noData).toLong, "")
        case None =>
          Slice(key, recordIds, minDt, out.width, out.height, 0,
            out.mapping.format.dtype.name, Array.empty[Byte], 0L,
            "Not enough valid pixels (skipped)")
      }
    } catch {
      case e: Exception =>
        Slice(key, recordIds, minDt, out.width, out.height, 0,
          out.mapping.format.dtype.name, Array.empty[Byte], 0L,
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** Overview-aware tile selection — the engine's `-ovr AUTO`
    * (image.go:401, SURVEY §4 "pre-aggregation pushdown"): consolidation
    * writes ×2-downsampled pyramid rows as "<subdir>@ovK"; for each
    * (container, base subdir) pick the coarsest level still adequate for
    * the request resolution (×1.2 slack, GDAL's AUTO allowance), falling
    * back to the finest. Selection runs on a payload-free metadata
    * projection (window over the tiny per-dataset level set); only the
    * chosen levels' payloads are joined — a coarse request reads 1/4ᴷ of
    * the pixel bytes. Meters→degrees uses the equatorial factor (no
    * cos-lat), which only ever errs toward a finer level. */
  /** Both tiles scans of a request are container-scoped BEFORE anything
    * else touches the store. Three effects, all load-bearing at 100 TB
    * (the tiles store is the engine's only 100-TB-class table):
    *
    *  1. On a big store, each join carries a bucket conjunct comparing
    *     the derived partition column against [[Catalog.tilesBucketOf]]
    *     of its scoping side, which Catalyst's dynamic partition pruning
    *     turns into a partition filter — only the relevant ~|uris|/64
    *     buckets are LISTED AND READ; payload bytes in other buckets are
    *     never touched (PLANS.md d1: `dynamicpruningexpression` on the
    *     scan). The METADATA scan is scoped by the request's container
    *     set; the PAYLOAD scan by the (even narrower) chosen-level set.
    *  2. The overview-selection window shuffles only the request's tile
    *     metadata, not the whole store's.
    *  3. The payload side joins the chosen-level relation DIRECTLY (no
    *     second request-container semi-join): the chosen set already is
    *     a subset of the request's containers, so a semi-join there
    *     would only re-run the dataset-discovery subtree a third time.
    *
    * The bucket conjuncts are COST-GATED ([[BucketPruneMinBytesConf]]):
    * below the threshold the DPP subquery stages cost more than the
    * whole scan they would prune (r10 bench: getcube 0.5→1.0 s on a 6 MB
    * toy store), so a small store joins on the uri alone — the same
    * size-based strategy choice Spark itself makes for broadcast joins.
    * At 100-TB the threshold is exceeded by five orders of magnitude and
    * the plan is the r10 DPP shape with one fewer discovery subtree. */
  private def selectTileLevel(spark: SparkSession, cat: TableStore, out: OutDescriptor,
      containers: DataFrame, bounded: Boolean): DataFrame = {
    // ONE store relation for both scans: the directory listing (a real
    // cost per request — 64 bucket dirs) happens once per plan
    val store = cat.read(spark, "tiles")
    val minBytes = spark.conf.getOption(GetCube.BucketPruneMinBytesConf)
      .map(_.toLong).getOrElse(GetCube.BucketPruneMinBytesDefault)
    val big = store.queryExecution.optimizedPlan.stats.sizeInBytes >= minBytes
    // NO distinct on the build side: a left-semi join is insensitive to
    // build duplicates and DPP aggregates the pruning key itself — a
    // distinct here would add a (tiny but needless) metadata shuffle per
    // tiles reference, breaking the one-payload-shuffle plan contract
    val uris = containers.select(col("container_uri").as("__pu"))
    val semiCond =
      if (big)
        col("container_uri") === col("__pu") &&
          col(Catalog.TilesBucketCol) === Catalog.tilesBucketOf(col("__pu"))
      else col("container_uri") === col("__pu")
    val all = store.join(if (bounded) broadcast(uris) else uris,
      semiCond, "left_semi")
    // Fully-lazy join-back: the level-selection window and the payload
    // retrieval live in ONE plan, so the shared subtrees overlap inside a
    // single job. (An eager localCheckpoint of `chosen` + a static bucket
    // collect was tried in r11 and measured ~30% slower per request at
    // toy scale — plan-construction latency alone reached ~1.0 s — while
    // also disabling Catalyst's DPP on the meta scan, whose rule needs a
    // selective filter on the build side that a bare checkpointed
    // relation no longer carries.)
    val chosen = levelWindow(
      all.select(col("container_uri"), col("subdir"), col("crs"), col("transform")),
      targetResDeg(out))
    val payCond = {
      val base = col("container_uri") === col("c_uri") &&
        coalesce(col("subdir"), lit("")) === col("c_subdir")
      if (big)
        base && col(Catalog.TilesBucketCol) === Catalog.tilesBucketOf(col("c_uri"))
      else base
    }
    // the chosen-level relation is containers×levels-sized — bounded
    // requests hint it broadcast; unbounded ones let the planner decide
    store.join(if (bounded) broadcast(chosen) else chosen, payCond)
      .select(
        col("container_uri").as("t_uri"), coalesce(col("subdir"), lit("")).as("t_subdir"),
        col("width").as("t_width"), col("height").as("t_height"),
        col("bands").as("t_bands"), col("dtype").as("t_dtype"),
        col("crs").as("t_crs"), col("transform").as("t_transform"),
        col("t_base_subdir"), col("payload"))
  }

  /** The request resolution in degrees per pixel — the unit every tile
    * level's resolution is compared in. */
  private[cube] def targetResDeg(out: OutDescriptor): Double = {
    val rx = math.abs(out.pixToCrs.rx)
    if (out.crs.isGeographic) rx else rx / 111320.0
  }

  /** A tile level's resolution in degrees. tiles.crs is always
    * CRS.serialize output: "EPSG:<srid>" for a known code or a proj4
    * string — the geographic forms are exactly EPSG:4326 and
    * "+proj=longlat ..." (incl. datum-shifted longlat, whose towgs84
    * suffix keeps the prefix). A string-match on 4326 alone treated every
    * other geographic CRS as meters, shrinking res_deg ~1e5×: all pyramid
    * levels looked eligible and the window served the COARSEST overview
    * for every request. */
  private[cube] def levelResDeg(crs: String, rx: Double): Double =
    if (crs == "EPSG:4326" || crs.startsWith("+proj=longlat")) math.abs(rx)
    else math.abs(rx) / 111320.0

  /** Base subdir of an overview level row ("<subdir>@ovK" → "<subdir>"). */
  private[cube] def baseSubdir(subdir: String): String =
    subdir.replaceFirst("@ov\\d+$", "")

  /** The level rule as a Spark window over tile metadata rows
    * (container_uri, subdir, crs, transform): per (container, base
    * subdir) the coarsest level within ×1.2 of the target resolution,
    * else the finest. Returns (c_uri, c_subdir, t_base_subdir). */
  private[cube] def levelWindow(meta: DataFrame, targetResDeg: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = meta
      .withColumn("subdir", coalesce(col("subdir"), lit("")))
      .withColumn("base_subdir", regexp_replace(col("subdir"), "@ov\\d+$", ""))
      .withColumn("res_deg",
        when(col("crs") === "EPSG:4326" ||
            col("crs").startsWith("+proj=longlat"),
          abs(element_at(col("transform"), 2)))
          .otherwise(abs(element_at(col("transform"), 2)) / 111320.0))
      .withColumn("eligible", col("res_deg") <= targetResDeg * 1.2)
    val w = Window.partitionBy(col("container_uri"), col("base_subdir"))
      .orderBy(col("eligible").desc,
        when(col("eligible"), -col("res_deg")).otherwise(col("res_deg")))
    rows.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("container_uri").as("c_uri"), col("subdir").as("c_subdir"),
        col("base_subdir").as("t_base_subdir"))
  }

  /** [[levelWindow]] as a pure function over ONE (container, base
    * subdir) group of (subdir, crs, transform x-resolution) levels: the
    * same 1.2× slack, geographic test and order — eligible levels first,
    * coarsest eligible, else finest. Levels of equal resolution, which
    * the window leaves in no defined order, go to the smaller subdir. */
  private[cube] def chooseLevel(levels: Seq[(String, String, Double)],
      targetResDeg: Double): (String, String, Double) = {
    val limit = targetResDeg * 1.2
    def key(l: (String, String, Double)): (Boolean, Double) = {
      val r = levelResDeg(l._2, l._3)
      val eligible = r <= limit
      (eligible, if (eligible) -r else r)
    }
    levels.reduce { (a, b) =>
      val (ea, ra) = key(a)
      val (eb, rb) = key(b)
      val c =
        if (ea != eb) (if (ea) -1 else 1)
        else if (ra == rb) a._1.compareTo(b._1) // -0.0 == 0.0, as Spark sorts
        else java.lang.Double.compare(ra, rb)
      if (c <= 0) a else b
    }
  }

  /** Merge a collected set of dataset tiles into one mosaic payload (the
    * XYZ serving path, which runs driver-side for a single 256×256 tile —
    * §3.3: low-latency single tiles bypass the distributed plan). */
  private[cube] def buildSliceForMosaic(tiles: Array[DatasetTile], out: OutDescriptor): Option[Array[Byte]] = {
    if (tiles.isEmpty) return None
    val s = buildSlice("mosaic", tiles.iterator, out)
    if (s.error.nonEmpty || s.payload.isEmpty) None else Some(s.payload)
  }

  /** GDAL `-b`-style band subset (1-based; empty = all bands) —
    * image.go:221-231. */
  private[graft] def extractBands(bm: Bitmap, bands: Seq[Int]): Bitmap = {
    if (bands.isEmpty || bands == (1 to bm.bands)) return bm
    val plane = bm.width * bm.height
    val px = new Array[Double](plane * bands.size)
    for ((b, i) <- bands.zipWithIndex) {
      require(b >= 1 && b <= bm.bands, s"band $b out of range 1..${bm.bands}")
      System.arraycopy(bm.pixels, (b - 1) * plane, px, i * plane, plane)
    }
    new Bitmap(bm.width, bm.height, bands.size, bm.dtype, px)
  }
}
