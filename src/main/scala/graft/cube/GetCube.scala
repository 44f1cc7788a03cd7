package graft.cube

import graft.catalog.{Catalog, TableStore, CatalogQueries, DatasetFilters}
import graft.core._
import graft.geo.{Affine, CRS, GeomOps}
import graft.raster._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

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

/** The fields of one source dataset tile that both merge kernels — the
  * cube slice ([[GetCube.buildSlice]]) and the consolidated container —
  * decode through [[GetCube.sourceRasters]]: merge-order keys, the
  * dataset's band subset and value mapping, and the tile's raster. */
trait SourceTile {
  def datetime: java.sql.Timestamp
  def dataset_id: String
  def bands: Seq[Int]
  def dtype: String
  def no_data: Double
  def min_value: Double
  def max_value: Double
  def real_min_value: Double
  def real_max_value: Double
  def exponent: Double
  def t_width: Int
  def t_height: Int
  def t_bands: Int
  def t_dtype: String
  def t_crs: String
  def t_transform: Seq[Double]
  def payload: Array[Byte]
}

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
    payload: Array[Byte]) extends SourceTile

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

/** GetCube — the read path (SURVEY §3.1) with one resolver,
  * [[GetCube.driverTiles]], for cubes, headers-only cubes, the cube
  * metadata and XYZ tiles: the request's datasets and tile levels are
  * resolved on the driver from [[TableStore.rows]] answers — the
  * reference's one PostGIS lookup — and the merge kernel runs as one
  * single-stage Spark job per partition of slice-ordered groups, with no
  * shuffle and no query to plan.
  *
  * A read over its byte budget degrades alone, to a filtered Spark read
  * that returns only the request's rows: the catalog reads to one
  * collect each, and the payload read to one Spark job over the chosen
  * (bucket, container, level) list, which feeds the typed
  * groupByKey/mapGroups kernel of [[GetCube.downloadCube]]:
  *
  *   tiles scan (static bucket filter + IN filters) → DatasetTile rows
  *   → groupByKey(record | client group)           (A1/A2)
  *   → mapGroups: time-ordered cast→warp→mosaic    (D3 kernel)
  *   → slices ordered by (min datetime, group)     (O4 contract)
  *
  * Scale shape: there the only shuffle is the groupByKey on the group key
  * — the key the mosaic needs; tile payloads move once. Slice kernel
  * memory = W·H·bands·8 per task (BASELINE.md §c sizing rule).
  */
object GetCube {

  /** Recommended session configuration for LATENCY-SERVING deployments
    * (a GetCube/XYZ tile server — the reference runs these as a
    * dedicated apiserver, svc/service.go). They act only on the Spark
    * reads a request still runs: a catalog read or a payload read over
    * its budget, and the payload job's kernel. There, request-bounded
    * jobs gain nothing from adaptive execution's stage-by-stage
    * materialization and re-optimization, which measured ~0.3 s of pure
    * driver overhead per 100-slice request (r11 profiling, 0.80 → 0.49 s
    * min — measured when every cube still planned a Spark query).
    * ETL/analytics sessions (ingest, consolidation, the dedup/text
    * corpus) should keep AQE ON — skew joins and partition coalescing
    * matter there. The listing threshold keeps the 64-bucket tiles
    * store's directory listing on the driver instead of launching a
    * distributed listing job per request. */
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

  /** The request's tiles as [[driverTiles]] resolves them: a Dataset over
    * the driver-held answer, or the payload job's. */
  def datasetTiles(spark: SparkSession, cat: TableStore, req: CubeRequest): Dataset[DatasetTile] = {
    import spark.implicits._
    driverTiles(spark, cat, req, prepare(spark, cat, req), TableStore.RowsBudgetBytes,
      PayloadBudgetBytes).fold(identity, _.toSeq.toDS())
  }

  /** Compressed parquet bytes the payload read of one request may decode
    * on the driver. Unlike the catalog reads it is not cached, and only
    * the chosen levels' rows are kept as it streams, so it is bounded by
    * latency alone: on 4 cores the driver read was faster than a Spark
    * plan at every size measured up to 256 MiB (770 vs 1333 ms p50 for
    * one XYZ tile), and this stays at half that for boxes whose Spark
    * jobs run on more cores. */
  val PayloadBudgetBytes: Long = 128L << 20

  private val DatasetCols = Seq("id", "record_id", "container_uri", "subdir",
    "bands", "status", "dtype", "no_data", "min_value", "max_value",
    "real_min_value", "real_max_value", "exponent", "geog_wkb", "shape_wkb",
    "shape_srid", "bbox")
  private val RecordCols = Seq("id", "datetime", "tags")
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

  /** The request's tiles resolved by the one resolver, as a multiset with
    * group keys: held on the driver when the payload read fits
    * `payloadBudgetBytes` (Right), else the Dataset of one Spark job over
    * the chosen levels (Left). The datasets come from [[matchedDatasets]],
    * the levels and payload from [[levelTiles]]. */
  private[cube] def driverTiles(spark: SparkSession, cat: TableStore, req: CubeRequest,
      out: OutDescriptor, budgetBytes: Long,
      payloadBudgetBytes: Long): Either[Dataset[DatasetTile], Array[DatasetTile]] =
    levelTiles(spark, cat, matchedDatasets(spark, cat, req, out, budgetBytes), out,
      budgetBytes, payloadBudgetBytes)

  /** The request's datasets, one [[DatasetMeta]] per group key: the
    * instances' ACTIVE datasets (their `datasets` partitions) that pass
    * findDatasets' filters — record ids (the groups' records when
    * `recordGroups` is set); the records inner join with its tag (Eq /
    * Like / ILike, through Spark's own LIKE regex) and time-window
    * filters; the bbox check, then `intersects` on the geographic
    * footprint and, for same-SRID shapes, `interiorIntersects` on the
    * native ring — each match once per group key of its record: the
    * record itself, or every `g<i>` group that lists it.
    *
    * Both catalog reads are [[TableStore.rows]] answers within
    * `budgetBytes`. Over it, `datasets` is read by findDatasets with its
    * dataset-side filters only (no records join), and `records` by one
    * collect of the matched datasets' record ids. */
  private def matchedDatasets(spark: SparkSession, cat: TableStore, req: CubeRequest,
      out: OutDescriptor, budgetBytes: Long): Array[DatasetMeta] = {
    import graft.catalog.Patterns
    import graft.functions.SpatialRuntime
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.util.{DateTimeUtils, StringUtils}
    def micros(t: java.sql.Timestamp): Long = DateTimeUtils.fromJavaTimestamp(t)

    val records = cat.rows(spark, "records", RecordCols, budgetBytes = budgetBytes)

    // group keys: the record itself, or each client group listing it
    // (once per listing, as a join with the group rows)
    val (ids, groupKeys): (Set[String], String => Seq[String]) =
      if (req.recordGroups.isEmpty) (req.recordIds.toSet, Seq(_))
      else {
        val keys = groupListings(req).groupMap(_._1)(_._2)
        (req.recordGroups.flatten.toSet, keys.getOrElse(_, Nil))
      }
    val (footprint, refined @ (nativeRing, srid)) = spatialFilters(req, out)
    val datasets = cat.rows(spark, "datasets", DatasetCols, req.instanceIds.distinct,
        budgetBytes = budgetBytes).getOrElse(
      CatalogQueries.findDatasets(spark, cat, DatasetFilters(
        status = Seq("ACTIVE"), instanceIds = req.instanceIds, recordIds = ids.toSeq,
        geog = Some(footprint), refined = Some(refined), order = false))
        .select(DatasetCols.map(col): _*).collect().toIndexedSeq)

    // datasets side: status, ids, spatial pair
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
    val candidates = datasets.filter { d =>
      "ACTIVE" == d.getString(5) && (ids.isEmpty || ids(d.getString(1))) && spatial(d)
    }

    // records side: the time window and tag filters, applied to the
    // records of each candidate dataset
    val recordsOf: String => Seq[Row] = records match {
      case Some(all) =>
        val byId = recordsById(all)
        byId.getOrElse(_, Nil)
      case None =>
        val rids = candidates.map(_.getString(1)).toSet
        val byId =
          if (rids.isEmpty) Map.empty[String, IndexedSeq[Row]]
          else cat.collectRows(spark, "records", RecordCols, valuesIn = Map("id" -> rids))
            .groupBy(_.getString(0))
        byId.getOrElse(_, Nil)
    }
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
    def recordTimes(id: String): Seq[java.sql.Timestamp] = recordsOf(id).filter { r =>
      val dt = micros(r.getTimestamp(1))
      from.forall(dt >= _) && to.forall(dt <= _) && (tagTests.isEmpty || {
        val tags = r.getMap[String, String](2)
        tags != null && tagTests.forall(_(tags))
      })
    }.map(_.getTimestamp(1))

    (for {
      d <- candidates
      datetime <- recordTimes(d.getString(1))
      key <- groupKeys(d.getString(1))
    } yield DatasetMeta(
      group_key = key, record_id = d.getString(1),
      datetime = datetime, dataset_id = d.getString(0),
      container_uri = d.getString(2), subdir = subdirOf(d, 3),
      bands = Option(d.getSeq[Int](4)).map(_.toSeq).orNull,
      dtype = d.getString(6), no_data = d.getDouble(7),
      min_value = d.getDouble(8), max_value = d.getDouble(9),
      real_min_value = d.getDouble(10), real_max_value = d.getDouble(11),
      exponent = d.getDouble(12))).toArray
  }

  /** Column `i` of `r`, a nullable subdir, with null read as "". */
  private def subdirOf(r: org.apache.spark.sql.Row, i: Int): String =
    Option(r.getString(i)).getOrElse("")

  /** The tiles of `datasets`: the tile metadata of their containers'
    * buckets, per (container, base subdir) the level [[chooseLevel]]
    * picks, and the chosen levels' rows with `payload`, each paired with
    * every dataset of its container and base subdir.
    *
    * A bucket's metadata over `budgetBytes` is collected by Spark,
    * filtered to the request's containers. The payload rows come from the
    * row groups of their buckets whose statistics admit the chosen
    * levels, on the driver within `payloadBudgetBytes` (Right); over it,
    * from one Spark read of the same buckets — a static partition filter
    * — and containers (Left), whose rows are paired with the datasets in
    * its tasks, so payload bytes never reach the driver. */
  private def levelTiles(spark: SparkSession, cat: TableStore, datasets: Array[DatasetMeta],
      out: OutDescriptor, budgetBytes: Long,
      payloadBudgetBytes: Long): Either[Dataset[DatasetTile], Array[DatasetTile]] = {
    if (datasets.isEmpty) return Right(Array.empty)
    // tile levels: each container's bucket metadata (cached per bucket),
    // one chosen level per (container, base subdir)
    val uris = datasets.map(_.container_uri).toSet
    val buckets = uris.map(u => Catalog.tilesBucketOf(u).toString).toSeq.sorted
    val answers = buckets.map(b => b -> cat.rows(spark, "tiles", TileCols, Seq(b),
      budgetBytes = budgetBytes))
    val over = answers.collect { case (b, None) => b }
    val meta = (answers.flatMap(_._2).flatten ++
      (if (over.isEmpty) Nil
       else cat.collectRows(spark, "tiles", TileCols, over, Map("container_uri" -> uris))))
      .filter(t => uris(t.getString(0)))
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
    cat.rows(spark, "tiles", TileCols :+ "payload", payloadBuckets, levelIn,
        payloadBudgetBytes) match {
      case Some(rows) =>
        val levelRows = rows
          .filter(t => chosen((t.getString(0), subdirOf(t, 1))))
          .groupBy(t => (t.getString(0), baseSubdir(subdirOf(t, 1))))
        Right(datasets.flatMap(d =>
          levelRows.getOrElse((d.container_uri, d.subdir), Nil).map(datasetTile(d, _))))
      case None =>
        import spark.implicits._
        val byBase = datasets.groupBy(d => (d.container_uri, d.subdir))
        Left(cat.readWhere(spark, "tiles", payloadBuckets, levelIn)
          .select((TileCols :+ "payload").map(col): _*)
          .flatMap { t =>
            val level = (t.getString(0), subdirOf(t, 1))
            if (!chosen(level)) Nil
            else byBase.getOrElse((level._1, baseSubdir(level._2)), Array.empty[DatasetMeta])
              .map(datasetTile(_, t)).toSeq
          })
    }
  }

  /** Dataset `d` painted from tile row `t` (`TileCols` then `payload`). */
  private def datasetTile(d: DatasetMeta, t: org.apache.spark.sql.Row): DatasetTile =
    DatasetTile(
      group_key = d.group_key, record_id = d.record_id,
      datetime = d.datetime, dataset_id = d.dataset_id, bands = d.bands,
      dtype = d.dtype, no_data = d.no_data,
      min_value = d.min_value, max_value = d.max_value,
      real_min_value = d.real_min_value, real_max_value = d.real_max_value,
      exponent = d.exponent,
      t_width = t.getInt(2), t_height = t.getInt(3), t_bands = t.getInt(4),
      t_dtype = t.getString(5), t_crs = t.getString(6),
      t_transform = t.getSeq[Double](7).toSeq,
      payload = t.getAs[Array[Byte]](8))

  /** Full cube: tiles + kernel + ordered emission, through
    * [[driverTiles]]; a headers-only cube stops at the datasets. */
  def cube(spark: SparkSession, cat: TableStore, req: CubeRequest): Dataset[Slice] =
    cube(spark, cat, req, TableStore.RowsBudgetBytes, PayloadBudgetBytes)

  /** [[cube]] with the resolver's byte budgets, for the catalog reads and
    * for the payload read: 0 sends every non-empty read to Spark. */
  private[graft] def cube(spark: SparkSession, cat: TableStore, req: CubeRequest,
      budgetBytes: Long, payloadBudgetBytes: Long): Dataset[Slice] = {
    val out = prepare(spark, cat, req)
    if (req.headersOnly) headers(spark, matchedDatasets(spark, cat, req, out, budgetBytes), out)
    else slices(spark, driverTiles(spark, cat, req, out, budgetBytes, payloadBudgetBytes), out)
  }

  /** The kernel over the resolver's tiles: [[kernelJobs]] over driver-held
    * tiles, the [[downloadCube]] kernel over the payload job's. */
  private def slices(spark: SparkSession,
      tiles: Either[Dataset[DatasetTile], Array[DatasetTile]], out: OutDescriptor): Dataset[Slice] =
    tiles.fold(downloadCube(spark, _, out), kernelJobs(spark, _, out))

  /** Headers-only short-circuit (getCubeStream :325-339): no tile read,
    * no kernel — per group key its distinct record ids in UTF-8 order and
    * its earliest datetime, in slice order. */
  private def headers(spark: SparkSession, found: Array[DatasetMeta],
      out: OutDescriptor): Dataset[Slice] = {
    import graft.consolidation.Consolidation.utf8Compare
    import spark.implicits._
    found.groupBy(_.group_key).toSeq.map { case (k, ds) =>
      Slice(k, ds.map(_.record_id).distinct.sortWith(utf8Compare(_, _) < 0).toSeq,
        minDatetime(ds.iterator.map(_.datetime)), out.width, out.height, out.bands,
        out.mapping.format.dtype.name, Array.empty[Byte], 0L, "")
    }.sortWith((a, b) => sliceBefore(a.min_datetime, a.group_key, b.min_datetime, b.group_key))
      .toDS()
  }

  /** Slice order, as Spark sorts (min_datetime, group_key): full-
    * microsecond timestamps, then unsigned UTF-8 keys. */
  private def sliceBefore(t1: java.sql.Timestamp, k1: String,
      t2: java.sql.Timestamp, k2: String): Boolean = {
    val c = t1.compareTo(t2)
    if (c != 0) c < 0 else graft.consolidation.Consolidation.utf8Compare(k1, k2) < 0
  }

  /** The kernel over driver-resolved tiles, with no shuffle and no join
    * to plan: the groups sorted in slice order ([[sliceBefore]]), cut
    * into at most one contiguous run per core, one [[buildSlice]] per
    * group. Read partition by partition in order (toLocalIterator, the
    * HTTP edge's pipelined partitions), the slices come out in
    * [[downloadCube]]'s order, one single-stage job per partition. */
  private def kernelJobs(spark: SparkSession, tiles: Array[DatasetTile],
      out: OutDescriptor): Dataset[Slice] = {
    import spark.implicits._
    val groups = tiles.groupBy(_.group_key).toArray.map { case (k, ts) =>
      (k, ts, minDatetime(ts.iterator.map(_.datetime)))
    }.sortWith((a, b) => sliceBefore(a._3, a._1, b._3, b._1))
      .map { case (k, ts, _) => (k, ts) }
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
    * slice from the raw tile store with NO catalog round-trip. The
    * resolver's datasets, held on the driver. */
  def cubeMetadata(spark: SparkSession, cat: TableStore,
      req: CubeRequest): Dataset[DatasetMeta] = {
    import spark.implicits._
    matchedDatasets(spark, cat, req, prepare(spark, cat, req), TableStore.RowsBudgetBytes)
      .toSeq.toDS()
  }

  /** GetCubeFromMetadatas (reference downloader.go:47-158 +
    * svc/catalog.go:112-150): rebuild the cube from CLIENT-held metadata
    * and the raw tile store ONLY — the datasets/records/variable tables
    * are never read, mirroring the reference's downloader which fetches
    * the COGs itself from object storage using the URIs in the metadata.
    * The caller supplies the output grid + reference dformat the way the
    * DownloadCube request does. The metadata is collected to the driver
    * and runs the resolver's level and payload steps ([[levelTiles]]): a
    * metadata row is far smaller than the slice pixels it paints. */
  def cubeFromMetadata(spark: SparkSession, cat: TableStore,
      meta: Dataset[DatasetMeta], out: OutDescriptor): Dataset[Slice] =
    slices(spark, levelTiles(spark, cat, meta.collect(), out, TableStore.RowsBudgetBytes,
      PayloadBudgetBytes), out)

  /** (record id, group key) per listing of a record in the request's
    * client groups; the i-th group's key is `g<i>`, zero-padded. */
  private def groupListings(req: CubeRequest): Seq[(String, String)] =
    req.recordGroups.zipWithIndex.flatMap { case (g, i) => g.map(r => (r, f"g$i%06d")) }

  /** The per-group kernel (mergeDatasetsWorker, catalog.go:531-625): sort
    * and decode the tiles ([[sourceRasters]]); merge; envelope errors as
    * values. */
  private[cube] def buildSlice(key: String, rows: Iterator[DatasetTile], out: OutDescriptor): Slice = {
    import graft.consolidation.Consolidation.utf8Compare
    val list = rows.toVector
    // UTF-8 order, as the headers-only path sorts them, so the two paths
    // return identical header keys
    val recordIds = list.map(_.record_id).distinct.sortWith(utf8Compare(_, _) < 0)
    val minDt = minDatetime(list.iterator.map(_.datetime))
    try {
      val sources = sourceRasters(list)
      Warp.mergeCounted(sources, out) match {
        case Some((merged, valid)) =>
          Slice(key, recordIds, minDt, out.width, out.height, merged.bands,
            out.mapping.format.dtype.name, merged.toBytes, valid.toLong, "")
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
    * levels looked eligible and the level rule served the COARSEST
    * overview for every request. */
  private[cube] def levelResDeg(crs: String, rx: Double): Double =
    if (crs == "EPSG:4326" || crs.startsWith("+proj=longlat")) math.abs(rx)
    else math.abs(rx) / 111320.0

  /** Base subdir of an overview level row ("<subdir>@ovK" → "<subdir>"). */
  private[cube] def baseSubdir(subdir: String): String =
    subdir.replaceFirst("@ov\\d+$", "")

  /** Overview-aware level selection — the engine's `-ovr AUTO`
    * (image.go:401, SURVEY §4 "pre-aggregation pushdown"): consolidation
    * writes ×2-downsampled pyramid rows as "<subdir>@ovK"; over ONE
    * (container, base subdir) group of (subdir, crs, transform
    * x-resolution) levels, pick the coarsest level still adequate for the
    * request resolution (×1.2 slack, GDAL's AUTO allowance), else the
    * finest. Levels of equal resolution go to the smaller subdir. Only
    * the chosen levels' payloads are read — a coarse request reads 1/4ᴷ
    * of the pixel bytes. Meters→degrees uses the equatorial factor (no
    * cos-lat), which only ever errs toward a finer level. */
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
        else if (ra == rb) a._1.compareTo(b._1) // -0.0 == 0.0
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

  /** The earliest of `ts` at full microsecond precision — Spark's
    * TimestampType order (`Timestamp.compareTo`; `getTime` truncates to
    * millis). */
  private[graft] def minDatetime(ts: Iterator[java.sql.Timestamp]): java.sql.Timestamp =
    ts.reduce((x, y) => if (x.compareTo(y) <= 0) x else y)

  /** One merge kernel input: `tiles` sorted by (datetime, dataset id) so
    * the latest paints last, each decoded, cut to its dataset's band
    * subset and paired with its value mapping. Both kernels — the cube
    * slice and the consolidated container — merge through this. */
  private[graft] def sourceRasters(tiles: Seq[SourceTile]): Seq[SourceRaster] = {
    import graft.consolidation.Consolidation.utf8Compare
    // merge order sorts EXACTLY like Spark would (full-microsecond
    // Timestamp compare, unsigned UTF-8 tie-break) — `getTime` truncates
    // to millis and JVM String order is UTF-16, the two divergences the
    // consolidation kernel's ordering-parity fix documents; a tie decided
    // differently here would let an OLDER record paint last
    tiles.sortWith { (a, b) =>
      val c = a.datetime.compareTo(b.datetime)
      if (c != 0) c < 0 else utf8Compare(a.dataset_id, b.dataset_id) < 0
    }.map { r =>
      val full = Bitmap.fromBytes(r.payload, r.t_width, r.t_height, r.t_bands,
        DType.fromName(r.t_dtype))
      // the dataset's band subset applies to every merge exactly like the
      // read path (image.go:221-231: CastFile extracts dataset.Bands) —
      // without it a bands=[2] dataset would merge band 1's pixels under
      // its identity
      val bm = extractBands(full, r.bands)
      val mapping = DataMapping(
        DataFormat(DType.fromName(r.dtype), r.no_data,
          NumRange(r.min_value, r.max_value)),
        NumRange(r.real_min_value, r.real_max_value), r.exponent)
      SourceRaster(bm, Affine.fromArray(r.t_transform.toArray), CRS.parse(r.t_crs), mapping)
    }
  }

  /** GDAL `-b`-style band subset (1-based; empty = all bands) —
    * image.go:221-231. */
  private def extractBands(bm: Bitmap, bands: Seq[Int]): Bitmap = {
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
