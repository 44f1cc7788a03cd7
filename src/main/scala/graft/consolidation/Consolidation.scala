package graft.consolidation

import graft.catalog.{Catalog, TableStore, CatalogQueries, DatasetFilters, Schemas}
import graft.core._
import graft.functions.SpatialExpressions._
import graft.geo.{Affine, CRS, GeomOps}
import graft.layout.Layout
import graft.raster._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry

/** Consolidation parameters — the job's output format spec (reference
  * consolidation_params table, create.sql:168-176). */
final case class ConsolidationParams(
    mapping: DataMapping,
    resampling: Resampling,
    storageClass: String = "STANDARD")

/** The consolidation ETL (SURVEY §2.11, §3.2) as plain Spark batch jobs
  * over the catalog — the reference's distributed worker fleet + queue +
  * 20-state FSM collapses into:
  *
  *   C2 init       — lock = snapshot the job's dataset ids into the job row
  *   C3 prepare    — ONE plan: union footprints → layout cells →
  *                   spatial-join datasets×cells (J5: a single broadcast
  *                   join, not the reference's per-cell query loop) →
  *                   window-pack maxRecords records per container → tasks
  *   C4 consolidate— tasks ⋈ tiles, groupByKey(container) → mapGroups
  *                   merge kernel → stacked container tiles (one subdir
  *                   per record — the MuCOG `GTIFF_DIR:n` addressing)
  *   C5 index      — append INACTIVE datasets for the new containers
  *   C6 swap       — atomic status flip via Catalog.rewrite
  *   C7 delete     — drop TODELETE datasets + GC orphan containers/tiles
  *
  * One Spark task per output container (BASELINE.md §c: mirrors one queue
  * task per container) — linear scale-out, shuffle keyed by the same
  * container id the output needs.
  */
object Consolidation {

  /** Distributed geometric union (A3, GetDatasetsGeometryUnion
    * pg_containers.go:385-407): per-partition JTS union, then driver union
    * of the partials (treeReduce shape — footprint count per job is
    * bounded by the locked dataset set). */
  def unionFootprints(df: DataFrame, wkbCol: String): Geometry = {
    val partials = df.select(wkbCol).na.drop
      .rdd.mapPartitions { it =>
        val gs = it.map(r => GeomOps.readWkb(r.getAs[Array[Byte]](0))).toSeq
        if (gs.isEmpty) Iterator.empty
        else Iterator.single(GeomOps.writeWkb(
          org.locationtech.jts.operation.union.UnaryUnionOp.union(
            java.util.Arrays.asList(gs: _*))))
      }.collect()
    require(partials.nonEmpty, "unionFootprints: no geometries")
    org.locationtech.jts.operation.union.UnaryUnionOp.union(
      java.util.Arrays.asList(partials.map(GeomOps.readWkb): _*))
  }

  /** A7 — ComputeValidShapeFromCell (pg_containers.go:409-430): the valid
    * data shape of a record within a cell = union of its dataset
    * footprints intersected with the cell ring, made valid. Used by the
    * packing step to skip all-nodata container slots. */
  def validShapeInCell(shapes: Seq[Geometry], cell: Geometry): Option[Geometry] = {
    if (shapes.isEmpty) return None
    val union = org.locationtech.jts.operation.union.UnaryUnionOp.union(
      java.util.Arrays.asList(shapes: _*))
    val inter = union.intersection(cell)
    val valid = if (inter.isValid) inter
      else org.locationtech.jts.geom.util.GeometryFixer.fix(inter)
    if (valid.isEmpty || valid.getArea == 0) None else Some(valid)
  }

  /** C3 — csldPrepareOrders (consolidater.go:166-407): emit one task row
    * per output container: (cell, container index, ordered record list,
    * their dataset ids). */
  def prepareOrders(spark: SparkSession, cat: TableStore, jobId: String,
      instanceId: String, recordIds: Seq[String], layout: Layout,
      collapseOnRecordId: Option[String] = None,
      lockedIds: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._

    // When the job holds a durable lock snapshot, the packing input is
    // PINNED to it (semi-join on id): a resume/retry then derives the
    // exact container set of the original run even if the live catalog
    // gained new ACTIVE datasets for the same records in between —
    // drifting packing would orphan the journaled task rows' outputs.
    val found = CatalogQueries.findDatasets(spark, cat, DatasetFilters(
      status = Seq("ACTIVE"), instanceIds = Seq(instanceId),
      recordIds = recordIds, order = true))
    val datasets = lockedIds match {
      case Some(lk) => found.join(lk, Seq("id"), "left_semi")
      case None => found
    }

    // A3: job AOI = union of locked footprints
    val aoi = unionFootprints(datasets, "geog_wkb")

    // G5: covering cells of the job AOI (dedup by geometry hash); the
    // grid resolves against the catalog so custom grids pack too
    val cells = layout.resolveGrid(spark, cat).covers(aoi).map { c =>
      val ring = c.geographicRing
      val b = GeomOps.bbox(ring)
      (c.uri, GeomOps.writeWkb(ring), b.xmin, b.ymin, b.xmax, b.ymax,
        graft.geo.CRS.serialize(c.crs), c.pixToCrs.toArray.toSeq, c.sizeX, c.sizeY)
    }.toSeq.toDF("cell_uri", "cell_wkb", "c_xmin", "c_ymin", "c_xmax", "c_ymax",
      "cell_crs", "cell_transform", "cell_w", "cell_h")

    // J5: one spatial join datasets × cells (bbox prune + JTS fine)
    val joined = datasets.join(broadcast(cells),
      col("bbox.xmin") <= col("c_xmax") && col("bbox.xmax") >= col("c_xmin") &&
        col("bbox.ymin") <= col("c_ymax") && col("bbox.ymax") >= col("c_ymin") &&
        st_intersects(col("geog_wkb"), col("cell_wkb")))

    // collapse variant (C9, consolidater.go:277-345): ALL locked datasets
    // pack onto the one collapse record — a single ConsolidationRecord
    // stamped with the collapse record's own time, so ranking packs them
    // into one container slot; the per-dataset `datetime` column is kept
    // untouched because it drives the merge (mosaic) order downstream.
    val keyed = collapseOnRecordId match {
      case Some(rid) =>
        val recTs = cat.read(spark, "records").filter(col("id") === rid)
          .select("datetime").collect()
        require(recTs.nonEmpty, s"collapse record $rid not found")
        joined.withColumn("pack_record", lit(rid))
          .withColumn("pack_datetime", lit(recTs.head.getTimestamp(0)))
      case None =>
        joined.withColumn("pack_record", col("record_id"))
          .withColumn("pack_datetime", col("datetime"))
    }

    // O3 + packing: per cell, rank records by (datetime, record_id); pack
    // floor(rank / maxRecords) records per container (consolidater.go:411-431)
    val recordRank = dense_rank().over(
      Window.partitionBy(col("cell_uri")).orderBy(col("pack_datetime"), col("pack_record")))
    val packed = keyed
      .withColumn("record_rank", recordRank)
      .withColumn("container_idx", ((col("record_rank") - 1) / layout.maxRecords).cast("int"))
      .withColumn("container_uri",
        concat(lit(s"${cat.root}/containers/$jobId/"), col("cell_uri"), lit("/"),
          col("container_idx")))

    packed.groupBy(col("cell_uri"), col("container_idx"), col("container_uri"),
        col("cell_crs"), col("cell_transform"), col("cell_w"), col("cell_h"))
      .agg(sort_array(collect_list(struct(
        col("datetime"), col("pack_record").as("record_id"), col("id").as("dataset_id"))))
        .as("datasets"))
      .withColumn("job_id", lit(jobId))
  }

  /** C4 — the consolidation worker (handler_consolidation.go:59-234) as a
    * tasks ⋈ tiles shuffle keyed by container: merge each record's
    * datasets onto the cell grid, stack records as subdirs of the output
    * container, and append the ×2 overview pyramid per record
    * (subdir "GTIFF_DIR:n@ovK") down to `overviewsMinSize` — the
    * pre-aggregation the read path's -ovr AUTO selection consumes.
    * Returns the per-container failure map (one [[FailedSubdir]] marker
    * row per container whose build threw — error-as-value at the
    * reference's task granularity, consumed by the job FSM).
    *
    * The kernel pass runs ONCE, materialized to a per-job scratch
    * parquet dir under the catalog root; the three consumers (tiles
    * append — the only payload reader — plus the uri-only containers
    * append and the failure scan) read it back column-pruned. A scratch
    * file beats `persist(MEMORY_AND_DISK)` at job scale: a multi-TB
    * batch neither competes for executor storage nor recomputes the
    * whole kernel when an executor dies mid-append — the property the
    * reference gets from uploading each task's COG as it completes. The
    * scratch dir is removed on every exit; a hard-crash leftover is
    * overwritten by the retry and removed at its completion. */
  def consolidate(spark: SparkSession, cat: TableStore, jobId: String,
      tasks: DataFrame, params: ConsolidationParams,
      overviewsMinSize: Int = 0): Map[String, String] = {
    import spark.implicits._

    // explode tasks to (container, record, dataset) and join dataset+tile
    val exploded = tasks.select(
        col("container_uri"), col("cell_crs"), col("cell_transform"),
        col("cell_w"), col("cell_h"), explode(col("datasets")).as("d"))
      .select(col("container_uri").as("out_uri"), col("cell_crs"),
        col("cell_transform"), col("cell_w"), col("cell_h"),
        col("d.datetime").as("datetime"), col("d.record_id").as("record_id"),
        col("d.dataset_id").as("dataset_id"))

    val ds = cat.read(spark, "datasets").select(
      col("id"), col("container_uri"), col("subdir"), col("bands"),
      col("dtype"), col("no_data"), col("min_value"), col("max_value"),
      col("real_min_value"), col("real_max_value"), col("exponent"))

    // scope the pixel-store scan to the job's SOURCE container set before
    // the payload column is touched: the bucket conjunct against the
    // store's derived partition column (Catalog.tilesBucketOf) turns into
    // dynamic partition pruning — a job consolidating 100 containers never
    // reads the other buckets of a 100-TB tiles table
    val srcUris = exploded.join(ds, col("dataset_id") === ds("id"))
      .select(col("container_uri").as("__pu")).distinct()
    val tiles = cat.read(spark, "tiles")
      .join(broadcast(srcUris),
        col("container_uri") === col("__pu") &&
          col(Catalog.TilesBucketCol) === Catalog.tilesBucketOf(col("__pu")),
        "left_semi")
      .select(
      col("container_uri").as("t_uri"), coalesce(col("subdir"), lit("")).as("t_subdir"),
      col("width").as("t_width"), col("height").as("t_height"),
      col("bands").as("t_bands"), col("dtype").as("t_dtype"),
      col("crs").as("t_crs"), col("transform").as("t_transform"), col("payload"))

    val rows = exploded
      .join(ds, col("dataset_id") === ds("id"))
      .join(tiles, col("container_uri") === col("t_uri") &&
        coalesce(col("subdir"), lit("")) === col("t_subdir"))

    // A task dataset with NO catalog/tile backing fails its container's
    // task (the reference worker fails a task whose source cannot be
    // downloaded, handler_consolidation.go) — silently dropping the
    // record would both hide data loss and desynchronize recordOrder's
    // subdir numbering from the container actually built. Metadata-only
    // join: no payload column rides it.
    val missing = exploded.select(col("out_uri"), col("dataset_id"))
      .join(rows.select(col("out_uri").as("__mu"), col("dataset_id").as("__md")),
        col("out_uri") === col("__mu") && col("dataset_id") === col("__md"),
        "left_anti")
    val missingMarkers = missing.groupBy(col("out_uri"))
      .agg(count(lit(1)).as("__n"), min(col("dataset_id")).as("__d"))
      .select(col("out_uri").as("container_uri"),
        lit(FailedSubdir).as("subdir"),
        lit(0).as("width"), lit(0).as("height"), lit(0).as("bands"),
        lit("").as("dtype"), lit("").as("crs"),
        typedLit(Seq.empty[Double]).as("transform"),
        encode(concat(lit("missing tiles for "), col("__n"),
          lit(" dataset(s), e.g. "), col("__d")), "UTF-8").as("payload"),
        lit("").as("record_id"),
        lit(new java.sql.Timestamp(0L)).as("datetime"))
    val okRows = rows.join(
      missing.select(col("out_uri").as("__fu")).distinct(),
      col("out_uri") === col("__fu"), "left_anti")

    val outMapping = params.mapping
    val outDtypeName = outMapping.format.dtype.name
    val resamplingName = params.resampling.name

    // group by output container; one Spark task per container (C4 contract)
    val built0 = okRows.select(
        col("out_uri"), col("cell_crs"), col("cell_transform"),
        col("cell_w"), col("cell_h"),
        col("record_id"), col("datetime"), col("dataset_id"), col("bands"),
        col("dtype"), col("no_data"), col("min_value"), col("max_value"),
        col("real_min_value"), col("real_max_value"), col("exponent"),
        col("t_width"), col("t_height"), col("t_bands"), col("t_dtype"),
        col("t_crs"), col("t_transform"), col("payload"))
      .as[ConsolidationRow]
      .groupByKey(_.out_uri)
      .flatMapGroups { (outUri, it) =>
        // error-as-value per CONTAINER (the reference's task granularity,
        // handler_consolidation.go → TaskStateFAILED): one poisoned
        // container fails ITS task row, not the whole Spark stage — the
        // job FSM journals the failures and retry() re-emits only them
        // materialize INSIDE the try: buildContainer returns a lazy
        // iterator, and an error escaping via deferred evaluation would
        // fail the stage instead of the task row. One container's rows in
        // memory at once — the same working set the merge itself holds.
        val rs = it.toSeq
        try buildContainer(outUri, rs, outMapping, resamplingName,
          overviewsMinSize).toVector.iterator
        catch {
          case scala.util.control.NonFatal(e) =>
            Iterator((outUri, FailedSubdir, 0, 0, 0, "", "", Seq.empty[Double],
              String.valueOf(e).getBytes("UTF-8"), "",
              new java.sql.Timestamp(0L)))
        }
      }
      .toDF("container_uri", "subdir", "width", "height", "bands", "dtype",
        "crs", "transform", "payload", "record_id", "datetime")
      .unionByName(missingMarkers)
    // ONE pass of the warp work (the expensive stage of the whole job),
    // durably materialized — see the method doc for why this beats a
    // cluster-memory persist at job scale
    val scratch = new org.apache.hadoop.fs.Path(s"${cat.root}/.c4scratch/$jobId")
    val hfs = scratch.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // reclaim scratch left by hard-crashed jobs that never retried (a
    // retry of the SAME id overwrites its own dir; other ids' debris
    // would otherwise live forever). Age-gated with the catalog's stale-
    // staging TTL: a fresh dir may be a LIVE concurrent job's one-pass
    // materialization and is left strictly alone.
    locally {
      val ttl = graft.catalog.Catalog.staleReclaimMs(spark)
      val now = System.currentTimeMillis()
      val root = scratch.getParent
      if (hfs.exists(root))
        hfs.listStatus(root).foreach { s =>
          if (s.getPath.getName != jobId && now - s.getModificationTime >= ttl)
            hfs.delete(s.getPath, true): Unit
        }
    }
    try {
      val schema = built0.schema
      built0.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(scratch.toString)
      val built = spark.read.schema(schema).parquet(scratch.toString)
      val newTiles = built.filter(col("subdir") =!= FailedSubdir)
      // persist: tiles + containers (managed) — C4's upload step; failed
      // containers register nothing (reference: no upload for failed tasks)
      cat.append(newTiles.drop("record_id", "datetime"), "tiles")
      cat.append(newTiles.select(col("container_uri").as("uri")).distinct()
        .withColumn("managed", lit(true))
        .withColumn("storage_class", lit(params.storageClass)), "containers")
      built.filter(col("subdir") === FailedSubdir)
        .select("container_uri", "payload").collect()
        .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1), "UTF-8")))
        .toMap
    } finally hfs.delete(scratch, true): Unit
  }

  /** Marker subdir for a container whose build failed — the error-as-value
    * row [[consolidate]] emits instead of failing the stage; payload
    * carries the error text. Never appended to the tiles table. */
  val FailedSubdir = "__FAILED__"

  /** A job's durable lock snapshot — one `tasks` row per locked dataset
    * id, state "LOCK", payload = the id (the reference's
    * job.LockDatasets flags). Written at CREATED; read back as an
    * id-only relation by every later step and by resumes, so the lock
    * can never silently re-derive to a different set. Shared by the
    * consolidation and deletion FSMs. */
  def readLockIds(spark: SparkSession, cat: TableStore, jobId: String): DataFrame =
    cat.read(spark, "tasks")
      .filter(col("job_id") === jobId && col("state") === "LOCK")
      .select(col("payload").as("id"))
      .distinct() // crash between append and journal may retry the append

  /** The write side of the lock snapshot — the ONE place that mints
    * LOCK rows (row id = jobId-l-md5(dataset id), deterministic so a
    * retried append can never mint a second id), shared by both FSMs so
    * the [[readLockIds]] contract cannot drift between them. `ids` is an
    * id-only relation; the write stays distributed. */
  def writeLockSnapshot(spark: SparkSession, cat: TableStore, jobId: String,
      ids: DataFrame): Unit =
    cat.append(ids.select(
      concat(lit(s"$jobId-l-"), md5(col("id").cast("binary"))).as("id"),
      lit(jobId).as("job_id"),
      lit("LOCK").as("state"),
      col("id").as("payload")), "tasks")

  /** Rollback legs shared by the cancel and failure paths of the
    * consolidation FSM — one definition so a table added to one route
    * can never be missed on the other. Each leg is an idempotent
    * predicate rewrite, safe to re-run after a torn rollback. */
  def purgeInactiveOutputs(spark: SparkSession, cat: TableStore,
      prefix: String, instanceIds: Seq[String] = Nil): Unit =
    // instance-partition-scoped: a job rollback touches only its
    // instance's datasets partition (empty ids — a pre-spec-journal
    // legacy job — falls back to all partitions, still one partition-scoped
    // commit)
    cat.updatePartitions(spark, "datasets", instanceIds,
      _.filter(!(col("status") === "INACTIVE" &&
        col("container_uri").startsWith(prefix))))

  def purgeJobContainers(spark: SparkSession, cat: TableStore,
      prefix: String): Unit = {
    // bucket-scoped tiles delete: the doomed uri set comes from a
    // column-pruned metadata scan (container_uri only — dictionary pages,
    // never payload bytes); deleteWhere then rewrites ONLY the buckets
    // that set hashes to, not the 100-TB store
    cat.deleteWhere(spark, "tiles", cat.read(spark, "tiles")
      .filter(col("container_uri").startsWith(prefix))
      .select("container_uri"))
    cat.rewrite(cat.read(spark, "containers")
      .filter(!col("uri").startsWith(prefix)), "containers")
    cat.rewrite(cat.read(spark, "container_layouts")
      .filter(!col("container_uri").startsWith(prefix)), "container_layouts")
  }

  def dropJobTasks(spark: SparkSession, cat: TableStore, jobId: String): Unit =
    // drop the whole job_id partition (filter-none ⇒ dir removal); other
    // jobs' task directories are never read or rewritten
    cat.updatePartitions(spark, "tasks", Seq(jobId), _.filter(lit(false)))

  /** Unsigned byte-wise UTF-8 comparison — Spark's UTF8String order, which
    * differs from JVM `String.compareTo` (UTF-16 code units) whenever a
    * supplementary code point meets one in [U+E000, U+FFFF]. Used by
    * [[buildContainer]] so its JVM-side sort can never disagree with the
    * Spark sort in [[recordOrder]]. */
  private[graft] def utf8Compare(a: String, b: String): Int = {
    val ba = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(ba.length, bb.length)
    while (i < n) {
      val c = (ba(i) & 0xff) - (bb(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    ba.length - bb.length
  }

  /** The (container, subdir) → record mapping [[buildContainer]] commits
    * to, re-derived RELATIONALLY from the task orders: records group per
    * container, order by (earliest source datetime, record id), subdir =
    * "GTIFF_DIR:rank". Lets the indexing step (and task-scoped retries)
    * reconstruct dataset identity from the durable tiles table without
    * re-running the warp, at any scale — one keyed window, no payloads. */
  def recordOrder(tasks: DataFrame): DataFrame =
    tasks.select(col("container_uri"), explode(col("datasets")).as("d"))
      .groupBy(col("container_uri"), col("d.record_id").as("record_id"))
      .agg(min(col("d.datetime")).as("__t0"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("container_uri"))
          .orderBy(col("__t0"), col("record_id"))))
      .select(col("container_uri"),
        concat(lit("GTIFF_DIR:"), col("__rk")).as("subdir"), col("record_id"))

  final case class ConsolidationRow(
      out_uri: String, cell_crs: String, cell_transform: Seq[Double],
      cell_w: Int, cell_h: Int,
      record_id: String, datetime: java.sql.Timestamp, dataset_id: String,
      bands: Seq[Int],
      dtype: String, no_data: Double, min_value: Double, max_value: Double,
      real_min_value: Double, real_max_value: Double, exponent: Double,
      t_width: Int, t_height: Int, t_bands: Int, t_dtype: String,
      t_crs: String, t_transform: Seq[Double], payload: Array[Byte])
      extends graft.cube.SourceTile

  /** Merge each record's datasets onto the container's cell grid — one
    * output tile per record, subdir "GTIFF_DIR:i" in record-time order
    * (the MuCOG stacking contract, dataset.go:70-129). */
  private def buildContainer(outUri: String, rows: Seq[ConsolidationRow],
      outMapping: DataMapping, resamplingName: String, overviewsMinSize: Int):
      Iterator[(String, String, Int, Int, Int, String, String, Seq[Double], Array[Byte], String, java.sql.Timestamp)] = {
    val head = rows.head
    val out = OutDescriptor(
      width = head.cell_w, height = head.cell_h, bands = 1,
      pixToCrs = Affine.fromArray(head.cell_transform.toArray),
      crs = CRS.parse(head.cell_crs),
      mapping = outMapping,
      resampling = Resampling.fromName(resamplingName))
    // Group by record id alone: a record carries one datetime on the
    // normal path, while a C9 collapse packs MANY source datetimes under
    // the single collapse record — those must land in ONE output dir,
    // merged in source-datetime order (consolidater.go:328-345).
    //
    // Ordering MUST match [[recordOrder]]'s Spark sort bit-for-bit: C5
    // indexes datasets against the subdir numbers re-derived there, so a
    // divergence here serves one record's pixels under another record's
    // identity. Spark compares TimestampType at full microsecond
    // precision and strings as unsigned UTF-8 bytes; `getTime` (millis)
    // and JVM UTF-16 compareTo both silently disagree with that
    // (sub-millisecond datetimes; non-BMP code points vs [U+E000,U+FFFF]).
    def minTs(rs: Seq[ConsolidationRow]) =
      graft.cube.GetCube.minDatetime(rs.iterator.map(_.datetime))
    val byRecord = rows.groupBy(_.record_id).toSeq
      .sortWith { case ((ridA, rsA), (ridB, rsB)) =>
        val c = minTs(rsA).compareTo(minTs(rsB))
        if (c != 0) c < 0 else utf8Compare(ridA, ridB) < 0
      }
    byRecord.zipWithIndex.iterator.flatMap { case ((recordId, rs), i) =>
      val sources = graft.cube.GetCube.sourceRasters(rs)
      val merged = Warp.mergeDatasets(sources, out.copy(bands = sources.head.bitmap.bands))
        .getOrElse(Bitmap.filled(out.width, out.height, 1,
          outMapping.format.dtype, outMapping.format.noData))
      val subdir = s"GTIFF_DIR:${i + 1}"
      val base = (outUri, subdir, merged.width, merged.height, merged.bands,
        outMapping.format.dtype.name, head.cell_crs, head.cell_transform,
        merged.toBytes, recordId, rs.head.datetime)
      // overview pyramid rows (A8): ×2 average chain, addressable as
      // "<subdir>@ovK" with a ×2^K-scaled transform
      var cur = merged
      var curT = Affine.fromArray(head.cell_transform.toArray)
      val ovs = (1 to GeoTiff.nbOverviews(merged.width, merged.height, overviewsMinSize))
        .map { k =>
          cur = GeoTiff.downsample2(cur, outMapping.format.noData)
          curT = curT.multiply(Affine.scale(2, 2))
          (outUri, s"$subdir@ov$k", cur.width, cur.height, cur.bands,
            outMapping.format.dtype.name, head.cell_crs, curT.toArray.toSeq,
            cur.toBytes, recordId, rs.head.datetime)
        }
      base +: ovs
    }
  }

  /** C5 — csldIndex (consolidater.go:559-644): register one INACTIVE
    * dataset per (container, record/subdir). */
  /** Physical MuCOG bytes for a consolidated container, honoring the
    * layout's internal spec (C4's final file form, handler_consolidation.go
    * + mucog.go): block size = layout tile size, overview chain re-derived
    * to `overviews_min_size`, data blocks ordered by the layout's
    * interlacing pattern. */
  def exportPhysical(spark: SparkSession, cat: TableStore, containerUri: String,
      layout: graft.layout.Layout, noData: Double,
      bigTiff: Boolean = false): Array[Byte] =
    graft.ingest.GeoTiffIO.exportContainer(spark, cat, containerUri, noData,
      overviewsMinSize = layout.overviewsMinSize, compress = true,
      tileSize = layout.blockXSize, interlacing = layout.interlacingPattern,
      bigTiff = bigTiff)

  /** Bulk physical export of a job's containers — the scale path: MuCOG
    * bytes are assembled and written ON EXECUTORS (one shuffle keyed by
    * container, the same key C4 grouped on), the driver handles only the
    * (container_uri, path, n_bytes) manifest. Mirrors the reference's
    * worker-side file build + upload (handler_consolidation.go:59-234). */
  def exportPhysicalAll(spark: SparkSession, cat: TableStore,
      containerUris: Seq[String], outDir: String,
      layout: graft.layout.Layout, noData: Double,
      bigTiff: Boolean = false): DataFrame =
    graft.ingest.GeoTiffIO.exportContainers(spark, cat, containerUris, outDir,
      noData, overviewsMinSize = layout.overviewsMinSize, compress = true,
      tileSize = layout.blockXSize, interlacing = layout.interlacingPattern,
      bigTiff = bigTiff)

  /** Deterministic dataset id — name-based UUIDv3 (RFC 4122) over the
    * identity tuple, so task retries, speculative attempts, and repeated
    * actions on the same DataFrame mint the SAME id for the same logical
    * dataset. Oracle-checked by the `c8_dataset_ids` query. */
  def datasetId(instanceId: String, containerUri: String, subdir: String,
      recordId: String): String =
    java.util.UUID.nameUUIDFromBytes(
      s"$instanceId|$containerUri|$subdir|$recordId"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString

  def index(spark: SparkSession, cat: TableStore, newTiles: DataFrame,
      instanceId: String, params: ConsolidationParams): Unit = {
    // mapping scalars extracted driver-side so the closure ships a few
    // primitives, not the params object
    val m = params.mapping
    val (dtypeName, noData, rngMin, rngMax) =
      (m.format.dtype.name, m.format.noData, m.format.range.min, m.format.range.max)
    val (extMin, extMax, exponent) = (m.rangeExt.min, m.rangeExt.max, m.exponent)
    // footprints derive ON EXECUTORS (the IndexDatasets.run shape): the
    // driver never materializes the job's rows, so a collapse job over
    // 10⁶ records appends straight from the cluster
    val rows = newTiles.select("container_uri", "subdir", "record_id", "bands",
        "width", "height", "crs", "transform")
      .filter(!col("subdir").rlike("@ov\\d+$")) // overview rows aren't datasets
      .rdd.map { r =>
        val tf = Affine.fromArray(r.getAs[scala.collection.Seq[Double]]("transform").toArray)
        val crs = CRS.parse(r.getAs[String]("crs"))
        val native = GeomOps.polygonFromBBox(graft.geo.BBox.fromExtent(
          tf, r.getAs[Int]("width"), r.getAs[Int]("height")))
        // P9 ingest normalization, same as IndexDatasets.run: a cell
        // crossing the antimeridian must split before its bbox is taken,
        // or the stored footprint goes near-global and dateline requests
        // stop matching after the swap
        val geog = GeomOps.normalizeAntimeridian(
          GeomOps.geographicRingFromExtent(
            tf, r.getAs[Int]("width"), r.getAs[Int]("height"), crs))
        val b = GeomOps.bbox(geog)
        val did = datasetId(instanceId, r.getAs[String]("container_uri"),
          r.getAs[String]("subdir"), r.getAs[String]("record_id"))
        Row(
          did, r.getAs[String]("record_id"), instanceId,
          r.getAs[String]("container_uri"), r.getAs[String]("subdir"),
          (1 to r.getAs[Int]("bands")).toSeq, "INACTIVE", null,
          dtypeName, noData, rngMin, rngMax,
          extMin, extMax, exponent, false,
          GeomOps.writeWkb(geog), GeomOps.writeWkb(native), crs.srid,
          Row(b.xmin, b.ymin, b.xmax, b.ymax))
      }
    cat.append(spark.createDataFrame(rows, Schemas.datasets), "datasets")
  }

  /** Marks each row of `df` with boolean `mark` = (df[keyCol] ∈
    * ids[idCol]) via a JOIN — never a multi-literal `isin`: a single
    * collapse job can lock 10⁶ datasets, and an isin expression tree
    * breaks down (plan size, codegen) orders of magnitude before that.
    * The ids side is id-only metadata; AQE broadcasts it when small. */
  def withMembership(df: DataFrame, keyCol: String, ids: DataFrame,
      idCol: String, mark: String): DataFrame =
    df.join(
      ids.select(col(idCol).as("__mid")).distinct().withColumn(mark, lit(true)),
      df(keyCol) === col("__mid"), "left_outer")
      .withColumn(mark, coalesce(col(mark), lit(false)))
      .drop("__mid")

  /** C6 — csldSwapDatasets (consolidater.go:644-667): the atomic flip.
    * Old ACTIVE datasets of the job's records×instance → TODELETE; new
    * INACTIVE ones → ACTIVE. Single rewrite = single transaction. A C9
    * collapse job DUPLICATES data onto the collapse record, so the
    * originals stay ACTIVE (consolidater.go:649-655). `oldIds` is an
    * id-column RELATION (see [[withMembership]] — the locked set is
    * catalog-scale, not an in-plan literal list). */
  def swap(spark: SparkSession, cat: TableStore, instanceId: String,
      oldIds: DataFrame, keepOld: Boolean = false,
      newPrefix: Option[String] = None): Unit =
    // instance-partition-scoped status flip (both sides — the job's old
    // ACTIVE rows and its new INACTIVE outputs — live in the job's
    // instance partition): the C6 swap costs one partition's I/O, not a
    // rewrite of the whole datasets relation
    cat.updatePartitions(spark, "datasets", Seq(instanceId), { ds0 =>
      val ds =
        if (keepOld) ds0.withColumn("__old", lit(false))
        else withMembership(ds0, "id", oldIds, "id", "__old")
      val old = col("__old") && col("status") === "ACTIVE"
      // the INACTIVE→ACTIVE side is scoped to THIS job's output containers
      // when a prefix is given (the reference's ChangeDatasetsStatus is
      // job-lock-scoped): a second in-flight job on the same instance must
      // not have its not-yet-swapped INACTIVE outputs activated here
      val fresh = newPrefix match {
        case Some(p) =>
          col("container_uri").startsWith(p) && col("status") === "INACTIVE"
        case None =>
          col("instance_id") === instanceId && col("status") === "INACTIVE"
      }
      ds.withColumn("status",
          when(old, "TODELETE").when(fresh, "ACTIVE").otherwise(col("status")))
        .drop("__old")
    })

  /** C7 — csldDeleteDatasets (consolidater.go:669-748): drop TODELETE
    * rows, then GC containers (and their tiles) no dataset references.
    * `instanceIds` scopes the datasets drop to the job's instance
    * partitions (empty = all partitions, the unscoped admin form). */
  def deleteDatasets(spark: SparkSession, cat: TableStore,
      instanceIds: Seq[String] = Nil): Unit = {
    cat.updatePartitions(spark, "datasets", instanceIds,
      _.filter(col("status") =!= "TODELETE"))
    val live = cat.read(spark, "datasets").select(col("container_uri")).distinct()
    val containers = cat.read(spark, "containers")
    cat.rewrite(containers.join(live, containers("uri") === live("container_uri"), "left_semi"),
      "containers")
    // bucket-scoped tiles GC: the doomed set (tile uris no dataset
    // references) is a metadata-only anti-join; only its buckets rewrite
    val tiles = cat.read(spark, "tiles")
    cat.deleteWhere(spark, "tiles", tiles.select("container_uri").distinct()
      .join(live.withColumnRenamed("container_uri", "__live"),
        col("container_uri") === col("__live"), "left_anti"))
    gcContainerLayouts(spark, cat)
  }

  /** Drop container_layouts rows whose container is gone — the cascade the
    * reference runs with each container delete (persister.go:215,
    * DeleteContainerLayout). Called after every containers GC. */
  def gcContainerLayouts(spark: SparkSession, cat: TableStore): Unit = {
    val cl = cat.read(spark, "container_layouts")
    if (cl.limit(1).count() > 0)
      cat.rewrite(cl.join(
        cat.read(spark, "containers").select(col("uri").as("container_uri")),
        Seq("container_uri"), "left_semi"), "container_layouts")
  }
}
