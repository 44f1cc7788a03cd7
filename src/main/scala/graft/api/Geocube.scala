package graft.api

import graft.catalog._
import graft.consolidation.{ConsolidationJob, ConsolidationParams, DeletionJob, JournaledJob}
import graft.cube.{CubeRequest, GetCube, Palette, Slice, XYZTile}
import graft.geo.GeomOps
import graft.core.DataFormat
import graft.ingest.IndexDatasets
import graft.layout.{Layout => GridLayout, TileRow}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry

/** The programmatic API surface (SURVEY §7.1 module 9): method-per-rpc of
  * the reference's `GeocubeService` (internal/grpc/service.go:39-92),
  * delegating to the engine modules. A user of the reference switches by
  * replacing the gRPC stub with `Geocube(spark, catalog)` — names and
  * argument shapes track the service interface; streaming rpcs return
  * Datasets/iterators instead of gRPC streams.
  */
final case class Geocube(spark: SparkSession, cat: TableStore) {

  /** Version (service.go:1362; GeocubeServerVersion): the engine version
    * a client can probe for compatibility checks. */
  def version: String = Geocube.EngineVersion

  private def append(table: String, rows: Seq[Row]): Unit =
    cat.append(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size / 10000)),
      Schemas.all(table)), table)

  // ---- AOI / records (service.go:40-47)

  /** CreateAOI: id = SHA-1 of the WKB (record.go:33-46 dedup contract). */
  def createAoi(geomLonLat: Geometry): String = {
    val hash = GeomOps.geometryHash(geomLonLat)
    val existing = cat.read(spark, "aoi").filter(col("hash") === hash).count()
    if (existing == 0) {
      val b = GeomOps.bbox(geomLonLat)
      append("aoi", Seq(Row(hash, hash, GeomOps.writeWkb(geomLonLat),
        Row(b.xmin, b.ymin, b.xmax, b.ymax))))
    }
    hash
  }

  def getAoi(aoiId: String): Option[Geometry] =
    cat.read(spark, "aoi").filter(col("id") === aoiId).collect().headOption
      .map(r => GeomOps.readWkb(r.getAs[Array[Byte]]("geom_wkb")))

  final case class NewRecord(id: String, name: String,
      datetime: java.sql.Timestamp, tags: Map[String, String], aoiId: String)

  def createRecords(records: Seq[NewRecord]): Unit =
    append("records", records.map(r =>
      Row(r.id, r.name, r.datetime, r.tags, r.aoiId)))

  /** GetRecords: point lookup preserving request order, deduped (S3). */
  def getRecords(ids: Seq[String]): DataFrame =
    CatalogQueries.readByIds(spark, cat.read(spark, "records"), "id", ids)

  /** ListRecords (S2): name pattern + tags + time + AOI intersection. */
  def listRecords(nameLike: String = "", tags: Map[String, String] = Map.empty,
      fromTime: Option[java.sql.Timestamp] = None,
      toTime: Option[java.sql.Timestamp] = None,
      aoi: Option[Geometry] = None, limit: Int = 0): DataFrame =
    CatalogQueries.findRecords(spark, cat,
      namePatterns = if (nameLike.isEmpty) Nil else Seq(nameLike),
      tags = tags, fromTime = fromTime, toTime = toTime, aoi = aoi,
      limit = limit)

  /** DeleteRecords (service.go:62): refuses while a dataset still
    * references any of the ids — the reference's FK (datasets.record_id
    * → records.id) makes its delete fail the same way; silently
    * orphaning datasets would drop them from every ordered/time-filtered
    * listing while their pixels stay unreclaimable. */
  def deleteRecords(ids: Seq[String]): Long = {
    val rec = cat.read(spark, "records")
    val n = rec.filter(col("id").isin(ids: _*)).count()
    if (n > 0) {
      val inUse = cat.read(spark, "datasets")
        .filter(col("record_id").isin(ids: _*)).limit(1).count()
      require(inUse == 0,
        s"records still referenced by datasets — delete the datasets first")
      cat.rewrite(rec.filter(!col("id").isin(ids: _*)), "records")
    }
    n
  }

  def addRecordsTags(ids: Seq[String], tags: Map[String, String]): Long = {
    val rec = cat.read(spark, "records")
    val hit = col("id").isin(ids: _*)
    val n = rec.filter(hit).count()
    if (n > 0) {
      // UPSERT semantics (the reference's hstore ||): existing keys are
      // replaced — a bare map_concat over a duplicate key throws under
      // Spark's default mapKeyDedupPolicy=EXCEPTION, so tag values
      // could never be updated
      val merged = map_concat(
        map_filter(coalesce(col("tags"), map()),
          (k, _) => !k.isin(tags.keys.map(lit(_)).toSeq: _*)),
        map(tags.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq: _*))
      cat.rewrite(rec.withColumn("tags", when(hit, merged).otherwise(col("tags"))),
        "records")
    }
    n
  }

  def removeRecordsTags(ids: Seq[String], tagKeys: Seq[String]): Long = {
    val rec = cat.read(spark, "records")
    val hit = col("id").isin(ids: _*)
    val n = rec.filter(hit).count()
    if (n > 0) {
      val pruned = map_filter(col("tags"), (k, _) => !k.isin(tagKeys.map(lit(_)): _*))
      cat.rewrite(rec.withColumn("tags", when(hit, pruned).otherwise(col("tags"))),
        "records")
    }
    n
  }

  // ---- variables (service.go:49-59)

  final case class NewVariable(id: String, name: String, unit: String = "",
      description: String = "", bands: Seq[String] = Seq("b1"),
      dtype: String, noData: Double, minValue: Double, maxValue: Double,
      palette: String = "", resamplingAlg: String = "near")

  def createVariable(v: NewVariable): Unit =
    append("variable_definitions", Seq(Row(v.id, v.name, v.unit, v.description,
      v.bands, v.dtype, v.noData, v.minValue, v.maxValue, v.palette, v.resamplingAlg)))

  def instantiateVariable(variableId: String, instanceId: String, name: String,
      metadata: Map[String, String] = Map.empty): Unit =
    append("variable_instances", Seq(Row(instanceId, name, metadata, variableId)))

  def listVariables(nameLike: String = "", limit: Int = 0, offset: Int = 0): DataFrame =
    CatalogQueries.listByName(spark, cat, "variable_definitions", nameLike, limit, offset)

  final case class InstanceInfo(id: String, name: String,
      metadata: Map[String, String])

  final case class VariableInfo(id: String, name: String, unit: String,
      description: String, bands: Seq[String], dtype: String, noData: Double,
      minValue: Double, maxValue: Double, palette: String,
      resamplingAlg: String, instances: Seq[InstanceInfo])

  /** UpdateVariable (service.go:50; svc/service.go:130-143): partial
    * update — None leaves a field untouched; renaming onto another
    * variable's name refuses (the reference's unique-name constraint);
    * the resampling name is validated up front. False for unknown ids.
    * The update is immediately visible on the serving paths (the XYZ
    * palette/resampling resolution reads the definitions table). */
  def updateVariable(variableId: String, name: Option[String] = None,
      unit: Option[String] = None, description: Option[String] = None,
      palette: Option[String] = None,
      resamplingAlg: Option[String] = None): Boolean = {
    resamplingAlg.foreach(graft.raster.Resampling.fromName) // throws on bad
    val defs = cat.read(spark, "variable_definitions")
    if (defs.filter(col("id") === variableId).limit(1).count() == 0) false
    else {
      name.foreach { n =>
        require(defs.filter(col("name") === n && col("id") =!= variableId)
          .limit(1).count() == 0,
          s"variable name '$n' already exists")
      }
      val hit = col("id") === variableId
      var out = defs
      def set(c: String, v: Option[String]): Unit = v.foreach(x =>
        out = out.withColumn(c, when(hit, lit(x)).otherwise(col(c))))
      set("name", name); set("unit", unit); set("description", description)
      set("palette", palette); set("resampling_alg", resamplingAlg)
      cat.rewrite(out, "variable_definitions")
      true
    }
  }

  /** GetVariable (service.go:52; svc/service.go:145-166): resolve by the
    * FIRST non-empty of variable id / instance id / variable name, with
    * the variable's instances attached. All-empty refuses. */
  def getVariable(variableId: String = "", instanceId: String = "",
      variableName: String = ""): Option[VariableInfo] = {
    require(variableId.nonEmpty || instanceId.nonEmpty || variableName.nonEmpty,
      "getVariable: all parameters are empty")
    val defs = cat.read(spark, "variable_definitions")
    val insts = cat.read(spark, "variable_instances")
    val defRow: Option[Row] =
      if (variableId.nonEmpty) defs.filter(col("id") === variableId)
        .collect().headOption
      else if (instanceId.nonEmpty)
        insts.filter(col("id") === instanceId)
          .select("definition_id").collect().headOption
          .flatMap(d => defs.filter(col("id") === d.getString(0))
            .collect().headOption)
      else defs.filter(col("name") === variableName).collect().headOption
    defRow.map { r =>
      val vid = r.getAs[String]("id")
      val vis = insts.filter(col("definition_id") === vid)
        .orderBy("id").collect().map { i =>
          InstanceInfo(i.getAs[String]("id"), i.getAs[String]("name"),
            Option(i.getAs[scala.collection.Map[String, String]]("metadata"))
              .map(_.toMap).getOrElse(Map.empty))
        }.toSeq
      VariableInfo(vid, r.getAs[String]("name"), r.getAs[String]("unit"),
        r.getAs[String]("description"),
        r.getAs[scala.collection.Seq[String]]("bands").toSeq,
        r.getAs[String]("dtype"), r.getAs[Double]("no_data"),
        r.getAs[Double]("min_value"), r.getAs[Double]("max_value"),
        r.getAs[String]("palette"), r.getAs[String]("resampling_alg"), vis)
    }
  }

  /** UpdateInstance (service.go:55; svc/service.go:200-212): rename and/or
    * merge-in metadata and delete metadata keys. False for unknown ids;
    * renaming onto a sibling instance's name refuses. */
  def updateInstance(instanceId: String, name: Option[String] = None,
      newMetadata: Map[String, String] = Map.empty,
      delMetadataKeys: Seq[String] = Nil): Boolean = {
    val insts = cat.read(spark, "variable_instances")
    val mine = insts.filter(col("id") === instanceId)
      .select("definition_id").collect().headOption
    if (mine.isEmpty) false
    else {
      name.foreach { n =>
        require(insts.filter(col("definition_id") === mine.get.getString(0) &&
            col("name") === n && col("id") =!= instanceId)
          .limit(1).count() == 0,
          s"instance name '$n' already exists for this variable")
      }
      val hit = col("id") === instanceId
      var out = insts
      name.foreach(n => out = out.withColumn("name",
        when(hit, lit(n)).otherwise(col("name"))))
      if (newMetadata.nonEmpty) {
        val merged = map_concat(
          map_filter(coalesce(col("metadata"), map()),
            (k, _) => !k.isin(newMetadata.keys.map(lit(_)).toSeq: _*)),
          map(newMetadata.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq: _*))
        out = out.withColumn("metadata",
          when(hit, merged).otherwise(col("metadata")))
      }
      if (delMetadataKeys.nonEmpty) {
        val pruned = map_filter(coalesce(col("metadata"), map()),
          (k, _) => !k.isin(delMetadataKeys.map(lit(_)): _*))
        out = out.withColumn("metadata",
          when(hit, pruned).otherwise(col("metadata")))
      }
      cat.rewrite(out, "variable_instances")
      true
    }
  }

  /** DeleteInstance (service.go:58-59; pg_variables.go
    * DeletePendingInstances): delete iff no dataset (any status)
    * references the instance — true deleted, false refused-in-use;
    * unknown ids raise. */
  def deleteInstance(instanceId: String): Boolean = {
    val insts = cat.read(spark, "variable_instances")
    if (insts.filter(col("id") === instanceId).limit(1).count() == 0)
      throw new NoSuchElementException(s"instance $instanceId not found")
    val used = cat.read(spark, "datasets")
      .filter(col("instance_id") === instanceId).limit(1).count() > 0
    if (used) false
    else {
      cat.rewrite(insts.filter(col("id") =!= instanceId), "variable_instances")
      true
    }
  }

  /** DeleteVariable (service.go:56-57): delete the variable AND all its
    * instances iff no dataset references any of them — true deleted,
    * false refused-in-use; unknown ids raise. */
  def deleteVariable(variableId: String): Boolean = {
    val defs = cat.read(spark, "variable_definitions")
    if (defs.filter(col("id") === variableId).limit(1).count() == 0)
      throw new NoSuchElementException(s"variable $variableId not found")
    val insts = cat.read(spark, "variable_instances")
    val mine = insts.filter(col("definition_id") === variableId)
    val used = cat.read(spark, "datasets")
      .join(mine.select(col("id").as("instance_id")), Seq("instance_id"),
        "left_semi")
      .limit(1).count() > 0
    if (used) false
    else {
      cat.rewrite(insts.filter(col("definition_id") =!= variableId),
        "variable_instances")
      cat.rewrite(defs.filter(col("id") =!= variableId),
        "variable_definitions")
      true
    }
  }

  /** CreatePalette (grpc service.go CreatePalette, palette.go:37): store a
    * named palette in the catalog; `replace` upserts. A variable that
    * names this palette gets it applied on the XYZ/PNG serving paths. */
  def createPalette(p: Palette, replace: Boolean = false): Unit =
    Palette.write(spark, cat, p, replace)

  def getPalette(name: String): Option[Palette] =
    Palette.read(spark, cat, name)

  // ---- datasets / containers (service.go:62-66)

  def getContainers(uris: Seq[String]): DataFrame =
    CatalogQueries.readByIds(spark, cat.read(spark, "containers"), "uri", uris)

  /** IndexExternalDatasets (C8): validate against the tile store, derive
    * footprints, append ACTIVE datasets. */
  def indexExternalDatasets(datasets: Seq[IndexDatasets.NewDataset]): Unit =
    IndexDatasets.run(spark, cat, datasets)

  /** ListDatasets (S1 scan, ordered). */
  def listDatasets(instanceId: String, recordIds: Seq[String] = Nil,
      recordTags: Map[String, String] = Map.empty,
      fromTime: Option[java.sql.Timestamp] = None,
      toTime: Option[java.sql.Timestamp] = None): DataFrame =
    CatalogQueries.findDatasets(spark, cat, DatasetFilters(
      status = Seq("ACTIVE"), instanceIds = Seq(instanceId),
      recordIds = recordIds, recordTags = recordTags,
      fromTime = fromTime, toTime = toTime, order = true))

  // ---- consolidation / jobs (service.go:66-76)

  def consolidateFromRecords(jobId: String, name: String, instanceId: String,
      recordIds: Seq[String], layout: GridLayout, params: ConsolidationParams,
      collapseOnRecordId: Option[String] = None): String =
    ConsolidationJob.run(spark, cat, ConsolidationJob.Spec(
      jobId, name, instanceId, recordIds, layout, params, collapseOnRecordId))

  /** ConfigConsolidation (service.go:66; svc/service.go:406-421): persist
    * the consolidation parameters ON the variable — the job reads them
    * back when the caller does not pass params explicitly. Upserts;
    * refuses unknown variables and bad dtype/resampling up front. */
  def configConsolidation(variableId: String, params: ConsolidationParams): Unit = {
    require(cat.read(spark, "variable_definitions")
      .filter(col("id") === variableId).limit(1).count() > 0,
      s"variable $variableId not found")
    val cp = cat.read(spark, "consolidation_params")
    val m = params.mapping
    val row = Row(variableId, m.format.dtype.name, m.format.noData,
      m.format.range.min, m.format.range.max,
      m.rangeExt.min, m.rangeExt.max, m.exponent,
      params.resampling.name, params.storageClass)
    cat.rewrite(cp.filter(col("variable_id") =!= variableId)
      .unionByName(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(row)),
        Schemas.all("consolidation_params"))), "consolidation_params")
  }

  /** GetConsolidationParams (service.go:67): the variable's persisted
    * consolidation configuration, if any. */
  def getConsolidationParams(variableId: String): Option[ConsolidationParams] =
    cat.read(spark, "consolidation_params")
      .filter(col("variable_id") === variableId).collect().headOption
      .map { r =>
        import graft.core.{DataFormat, DataMapping, DType, NumRange}
        ConsolidationParams(
          DataMapping(
            DataFormat(DType.fromName(r.getAs[String]("dtype")),
              r.getAs[Double]("no_data"),
              NumRange(r.getAs[Double]("min_value"), r.getAs[Double]("max_value"))),
            NumRange(r.getAs[Double]("real_min_value"),
              r.getAs[Double]("real_max_value")),
            r.getAs[Double]("exponent")),
          graft.raster.Resampling.fromName(r.getAs[String]("resampling_alg")),
          r.getAs[String]("storage_class"))
      }

  /** The variable-configured params for an INSTANCE (the job resolves
    * through instance → variable, csldInit's ReadConsolidationParams). */
  private def paramsForInstance(instanceId: String): ConsolidationParams = {
    val vid = cat.read(spark, "variable_instances")
      .filter(col("id") === instanceId).select("definition_id")
      .collect().headOption
      .getOrElse(throw new NoSuchElementException(
        s"instance $instanceId not found")).getString(0)
    getConsolidationParams(vid).getOrElse(throw new IllegalStateException(
      s"variable $vid has no consolidation params configured " +
        "(ConfigConsolidation first, or pass params explicitly)"))
  }

  /** ConsolidateFromRecords with the params resolved from the variable's
    * persisted configuration (the reference's only form — params always
    * come from ConfigConsolidation, service.go:66-70). */
  def consolidateFromRecords(jobId: String, name: String, instanceId: String,
      recordIds: Seq[String], layout: GridLayout): String =
    consolidateFromRecords(jobId, name, instanceId, recordIds, layout,
      paramsForInstance(instanceId))

  /** ConsolidateFromFilters (service.go:70; svc/service.go:447-461):
    * resolve the record set from tags + time over the instance's ACTIVE
    * datasets (ListActiveDatasetsID), then drive the same consolidation
    * FSM. Refuses when the filters select nothing. */
  def consolidateFromFilters(jobId: String, name: String, instanceId: String,
      tags: Map[String, String], fromTime: Option[java.sql.Timestamp],
      toTime: Option[java.sql.Timestamp], layout: GridLayout,
      params: ConsolidationParams): String = {
    val recordIds = CatalogQueries.findDatasets(spark, cat, DatasetFilters(
        status = Seq("ACTIVE"), instanceIds = Seq(instanceId),
        recordTags = tags, fromTime = fromTime, toTime = toTime,
        order = false))
      .select("record_id").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    require(recordIds.nonEmpty,
      s"consolidateFromFilters: no ACTIVE dataset matches the filters")
    consolidateFromRecords(jobId, name, instanceId, recordIds, layout, params)
  }

  /** Retry (grpc RetryJob → operations.go Retry trigger, job.go:28-55
    * RETRYING/FORCERETRYING): re-emit a parked job's FAILED tasks; force
    * additionally re-emits never-finished (NEW/PENDING) ones — the
    * stuck-mid-flight case. The caller re-presents the job spec: this
    * facade keeps job parameters with the caller instead of journaling
    * them. Returns the final FSM state (NOTFOUND / UNHANDLED / ... /
    * DONE). */
  def retryConsolidation(jobId: String, name: String, instanceId: String,
      recordIds: Seq[String], layout: GridLayout, params: ConsolidationParams,
      collapseOnRecordId: Option[String] = None,
      force: Boolean = false): String =
    ConsolidationJob.retry(spark, cat, ConsolidationJob.Spec(
      jobId, name, instanceId, recordIds, layout, params, collapseOnRecordId),
      force)

  /** DeleteDatasets (service.go:594-612): drive the standalone deletion
    * job over the datasets selected by instances × records × container-URI
    * glob patterns. Returns the final FSM state. */
  def deleteDatasets(jobId: String, name: String,
      instanceIds: Seq[String] = Nil, recordIds: Seq[String] = Nil,
      datasetPatterns: Seq[String] = Nil,
      pauseAfter: Option[String] = None): String =
    DeletionJob.run(spark, cat,
      DeletionJob.Spec(jobId, name, instanceIds, recordIds, datasetPatterns),
      pauseAfter)

  /** RetryJob (service.go:552-567): retry BY ID — the spec rehydrates
    * from the NEW journal row like [[continueJob]]. Consolidation jobs
    * take the (force-)retry path (FAILED tasks re-emitted; force also
    * NEW/PENDING); a deletion job's resume IS its retry (the worker
    * stage re-processes NEW/PENDING/FAILED tasks). NOTFOUND for unknown
    * ids or pre-spec-journal jobs. */
  def retryJob(jobId: String, force: Boolean = false): String =
    byId(jobId)(
      onDeletion = DeletionJob.retry(spark, cat, _, _),
      onConsolidation = ConsolidationJob.retry(spark, cat, _, _, force))

  /** Shared by-id routing for retry/continue: the kernel reads the journal
    * once and routes on the NEW row's type, then the spec rehydrates from
    * that row's payload (NOTFOUND for a pre-spec-journal job). */
  private def byId(jobId: String)(
      onDeletion: (JournaledJob, DeletionJob.Spec) => String,
      onConsolidation: (JournaledJob, ConsolidationJob.Spec) => String): String =
    JournaledJob.byId(spark, cat, jobId) { job =>
      if (job.jobType == DeletionJob.JobType)
        DeletionJob.specOf(job).fold("NOTFOUND")(onDeletion(job, _))
      else ConsolidationJob.specOf(job).fold("NOTFOUND")(onConsolidation(job, _))
    }

  /** CancelJob (service.go:74): cancel by id, routed on the journaled job
    * type; NOTFOUND / CANCELLATIONFAILED / ABORTED. */
  def cancelJob(jobId: String): String =
    ConsolidationJob.cancelById(spark, cat, jobId)

  /** One row per job: its LATEST journaled FSM state (TASKEVENT counter
    * rows excluded) — the reference's jobs-table shape, derived from
    * the append-only journal. One keyed window, no driver work. */
  private def currentJobs: DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("created_at").desc)
    cat.read(spark, "jobs")
      .filter(col("type") =!= "TASKEVENT")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** ListJobs (service.go:72): ONE row per job with its current state —
    * listing the raw journal returned a row per transition (and the
    * streaming counter markers), so a small `limit` could be consumed
    * by one job's history. */
  def listJobs(nameLike: String = "", limit: Int = 0): DataFrame = {
    var df = currentJobs
    Patterns.predicate(col("name"), if (nameLike.isEmpty) Nil else Seq(nameLike))
      .foreach(p => df = df.filter(p))
    df = df.orderBy("name", "id")
    if (limit > 0) df.limit(limit) else df
  }

  /** GetJob (service.go:73; svc/service.go:542-550): the job's full state
    * journal, oldest first — state history, task counters, payloads (the
    * reference's job + logs form). Empty for unknown ids. */
  def getJob(jobId: String): DataFrame =
    cat.read(spark, "jobs").filter(col("id") === jobId)
      .orderBy("created_at")

  /** ContinueJob (service.go:75; svc/service.go:587-598): resume a paused
    * or interrupted job BY ID — the spec is rehydrated from the NEW
    * journal row's payload, then the FSM drives on from wherever the
    * journal stopped. `pauseAfter` keeps the step-by-step execution
    * level. NOTFOUND for unknown ids or pre-spec-journal jobs. */
  def continueJob(jobId: String, pauseAfter: Option[String] = None): String =
    byId(jobId)(
      onDeletion = DeletionJob.run(spark, cat, _, _, pauseAfter),
      onConsolidation = ConsolidationJob.run(spark, cat, _, _, pauseAfter,
        unparked = false))

  def cleanJobs(nameLike: String = "", state: Option[String] = None): Long = {
    val jobs = cat.read(spark, "jobs")
    // victims match on the job's CURRENT state, never any historical
    // journal row: every job has a NEW row forever, so a raw-row match
    // for state=NEW (or a once-FAILED state a retry fixed) would sweep
    // mid-flight jobs — destroying their journal, LOCK snapshot and
    // resume/rollback state
    // one windowed pass over the journal yields BOTH scopes below; the
    // sets ride as RELATIONS (anti-joins), never isin literal lists — a
    // bulk clean by state over a long job history is unbounded.
    // Checkpoint pins them: the jobs rewrite below mutates the table the
    // lazy plan reads.
    var current = currentJobs.select(col("id"), col("name"), col("state"))
    Patterns.predicate(col("name"), if (nameLike.isEmpty) Nil else Seq(nameLike))
      .foreach(p => current = current.filter(p))
    val currentCkpt = current.localCheckpoint(true)
    val victimIds = state.foldLeft(currentCkpt)(
        (df, s) => df.filter(col("state") === s))
      .select("id").distinct()
    // TASKEVENT retirement (VERDICT r10 #6): the streaming journal keeps
    // one counter row per task FOREVER — for a DONE job the counters
    // have served their purpose (progress of an in-flight job), so every
    // cleanJobs pass also drops the type=TASKEVENT rows of pattern-
    // matched jobs whose CURRENT state is DONE, keeping the partition
    // bounded by live-job task counts even when the job journals
    // themselves are retained as history. Same pattern scope as the
    // victims so a targeted clean never touches unrelated jobs.
    val doneIds = currentCkpt.filter(col("state") === "DONE")
      .select("id").distinct()
    try {
      // victim ids are job-cardinality — collected once on the driver,
      // they scope BOTH cascades to the partitions that actually hold
      // doomed rows instead of full-table rewrites (r11 verdict #2)
      val victims = victimIds.collect().map(_.getString(0)).toIndexedSeq
      val anyRetire = jobs.filter(col("type") === "TASKEVENT")
        .join(doneIds, Seq("id"), "left_semi").limit(1).count() > 0
      if (victims.nonEmpty) {
        // cascade to the jobs' task rows (the reference deletes tasks with
        // their job) — otherwise cleaned jobs leak task rows forever.
        // Tasks go FIRST: a crash between the two passes then leaves
        // jobs whose tasks are already gone (harmless, and a re-run
        // re-identifies them from the jobs filter), where the reverse
        // order would leave task rows whose job rows no longer exist —
        // unidentifiable, so orphaned forever. The tasks table is
        // partitioned by job_id, so this drops exactly the victims'
        // partitions; at 10⁵ tasks/job × many retained jobs, non-victim
        // partitions are never listed, read, or rewritten.
        cat.updatePartitions(spark, "tasks", victims, _.filter(lit(false)))
      }
      if (victims.nonEmpty || anyRetire) {
        // jobs journal purge, scoped to the type partitions that hold
        // victim rows (TASKEVENT joins in for the DONE-counter
        // retirement; it also surfaces via victimTypes when victims
        // have counter rows, since those match the id anti-join too)
        val victimTypes =
          if (victims.isEmpty) Seq.empty[String]
          else jobs.join(victimIds, Seq("id"), "left_semi")
            .select("type").distinct().collect().map(_.getString(0)).toSeq
        val touched =
          (victimTypes ++ (if (anyRetire) Seq("TASKEVENT") else Nil)).distinct
        // deleted-row accounting stays partition-scoped too (r12 verdict
        // #7: the old full jobs.count() paid a whole-journal scan per
        // clean call): only the touched type partitions can lose rows,
        // so count them before and after — both counts partition-prune
        val before = jobs.filter(col("type").isin(touched: _*)).count()
        cat.updatePartitions(spark, "jobs", touched, df =>
          df.join(victimIds, Seq("id"), "left_anti")
            .join(doneIds.withColumnRenamed("id", "__done"),
              col("id") === col("__done") && col("type") === "TASKEVENT",
              "left_anti"))
        before - cat.read(spark, "jobs")
          .filter(col("type").isin(touched: _*)).count()
      } else 0L
    } finally {
      graft.operators.OperatorCaches.releaseLocalCheckpoint(currentCkpt)
    }
  }

  // ---- grids / layouts (service.go:78-86)

  def createGrid(gridName: String, cells: Seq[(String, String, Geometry)]): Unit =
    append("cells", cells.map { case (cellId, crs, geom) =>
      val b = GeomOps.bbox(geom)
      Row(gridName, cellId, crs, graft.geo.CRS.parse(crs).srid,
        GeomOps.writeWkb(geom), Row(b.xmin, b.ymin, b.xmax, b.ymax))
    })

  def listGrids(nameLike: String = ""): DataFrame = {
    var g = cat.read(spark, "cells").select("grid").distinct()
    Patterns.predicate(col("grid"), if (nameLike.isEmpty) Nil else Seq(nameLike))
      .foreach(p => g = g.filter(p))
    g.orderBy("grid")
  }

  def createLayout(l: GridLayout): Unit = {
    val kind = l.gridFlags.headOption.getOrElse("regular")
    if (kind == "regular" || kind == "singlecell") l.validate()
    else {
      // custom grid (customgrid.go:26-41): structural checks, the named
      // grid must exist in the cells table, AND the grid parameters must
      // resolve (a valid positive 'resolution', a parseable 'subgrid') —
      // the reference fails creation, not first use (layout.go:120-129)
      l.validateStructure()
      require(cat.read(spark, "cells").filter(col("grid") === kind)
        .limit(1).count() > 0, s"custom grid '$kind' not found")
      l.resolveGrid(spark, cat).validate()
    }
    append("layouts", Seq(Row(l.name, l.gridFlags, l.gridParameters,
      l.blockXSize, l.blockYSize, l.maxRecords, l.overviewsMinSize,
      l.interlacingPattern)))
  }

  def listLayouts(nameLike: String = ""): DataFrame =
    CatalogQueries.listByName(spark, cat, "layouts", nameLike)

  /** DeleteLayout (service.go:84): refuses while any consolidated
    * container still follows the layout (the container_layouts FK of the
    * reference schema) — true deleted, false not found. */
  def deleteLayout(name: String): Boolean = {
    val layouts = cat.read(spark, "layouts")
    if (layouts.filter(col("name") === name).limit(1).count() == 0) false
    else {
      require(cat.read(spark, "container_layouts")
        .filter(col("layout_name") === name).limit(1).count() == 0,
        s"layout '$name' is still referenced by consolidated containers")
      cat.rewrite(layouts.filter(col("name") =!= name), "layouts")
      true
    }
  }

  /** DeleteGrid (service.go:80; pg_grids.go:63-68: drop the grid's cells):
    * refuses while a layout still names the grid in its grid_flags —
    * true deleted, false not found. */
  def deleteGrid(gridName: String): Boolean = {
    val cells = cat.read(spark, "cells")
    if (cells.filter(col("grid") === gridName).limit(1).count() == 0) false
    else {
      require(cat.read(spark, "layouts")
        .filter(array_contains(col("grid_flags"), gridName))
        .limit(1).count() == 0,
        s"grid '$gridName' is still referenced by a layout")
      cat.rewrite(cells.filter(col("grid") =!= gridName), "cells")
      true
    }
  }

  /** FindContainerLayouts (service.go:85; db.go:175-177;
    * pg_layouts.go:85-130): which layout each consolidated container
    * follows, for a dataset filter set — the metadata the reference's
    * DownloadCube client replays cubes from. One distinct
    * (layout_name, container_uri) relation: datasets filtered like S1,
    * semi-joined into container_layouts. */
  def findContainerLayouts(instanceId: String, recordIds: Seq[String] = Nil,
      recordTags: Map[String, String] = Map.empty,
      fromTime: Option[java.sql.Timestamp] = None,
      toTime: Option[java.sql.Timestamp] = None,
      aoi: Option[Geometry] = None): DataFrame = {
    val ds = CatalogQueries.findDatasets(spark, cat, DatasetFilters(
      status = Seq("ACTIVE"), instanceIds = Seq(instanceId),
      recordIds = recordIds, recordTags = recordTags,
      fromTime = fromTime, toTime = toTime, geog = aoi, order = false))
    cat.read(spark, "container_layouts")
      .join(ds.select("container_uri").distinct(), Seq("container_uri"),
        "left_semi")
      .select("layout_name", "container_uri").distinct()
      .orderBy("layout_name", "container_uri")
  }

  /** TileAOI (G6): stream covering cells in fixed batches. Custom
    * catalog-defined grids resolve here (their covers queries the cells
    * table — the reference's DB-backed TileAOI path). */
  def tileAoi(aoi: Geometry, layout: GridLayout,
      batchSize: Int = 1000): Iterator[Seq[TileRow]] =
    GridLayout.tileAoiBatches(layout.resolveGrid(spark, cat), aoi, batchSize)

  // ---- read path (service.go:88-92)

  def getXyzTile(instanceId: String, x: Long, y: Long, z: Int,
      min: Double = 0, max: Double = 0,
      palette: Option[Palette] = None,
      recordIds: Seq[String] = Nil): Option[Array[Byte]] =
    XYZTile.getTile(spark, cat, instanceId, x, y, z, min, max, palette,
      recordIds = recordIds)

  /** GetXYZTileFromFilters (service.go:90): the tile's record set scoped
    * by tags + time instead of explicit ids — a thin wrapper over the
    * same mosaic path. */
  def getXyzTileFromFilters(instanceId: String,
      tags: Map[String, String] = Map.empty,
      fromTime: Option[java.sql.Timestamp] = None,
      toTime: Option[java.sql.Timestamp] = None,
      x: Long, y: Long, z: Int,
      min: Double = 0, max: Double = 0,
      palette: Option[Palette] = None): Option[Array[Byte]] =
    XYZTile.getTile(spark, cat, instanceId, x, y, z, min, max, palette,
      tags = tags, fromTime = fromTime, toTime = toTime)

  def getCubeFromRecords(recordGroups: Seq[Seq[String]], instanceIds: Seq[String],
      crs: String, transform: graft.geo.Affine, width: Int, height: Int,
      headersOnly: Boolean = false): Dataset[Slice] =
    GetCube.cube(spark, cat, CubeRequest(
      instanceIds = instanceIds, crs = crs, transform = transform,
      width = width, height = height, recordGroups = recordGroups,
      headersOnly = headersOnly))

  /** GetCube metadata (the GetCubeResponse DatasetMeta headers the
    * reference streams, service.go:88 + svc/catalog.go:39-70): per-slice
    * dataset addressing + dformat, no pixels. Feed to [[downloadCube]]. */
  def getCubeMetadata(recordGroups: Seq[Seq[String]], instanceIds: Seq[String],
      crs: String, transform: graft.geo.Affine, width: Int, height: Int):
      Dataset[graft.cube.DatasetMeta] =
    GetCube.cubeMetadata(spark, cat, CubeRequest(
      instanceIds = instanceIds, crs = crs, transform = transform,
      width = width, height = height, recordGroups = recordGroups))

  /** DownloadCube (downloader service, downloader.go:47-158): rebuild the
    * cube from metadata + the raw tile store only — no catalog tables
    * read. The reference dformat and resampling come from the caller
    * exactly like the DownloadCube request; bands defaults to the widest
    * band list in the metadata. */
  def downloadCube(meta: Dataset[graft.cube.DatasetMeta],
      crs: String, transform: graft.geo.Affine, width: Int, height: Int,
      dformat: DataFormat, resamplingAlg: String = "near",
      bands: Int = 0): Dataset[Slice] = {
    // the band-count probe is a full action over the metadata pipeline;
    // cache it so cubeFromMetadata's collect replays blocks, not the
    // whole upstream catalog-scan lineage (registered for release with
    // the operator caches, the repo's consume-then-unpersist convention)
    val src = if (bands > 0) meta
      else graft.operators.OperatorCaches.register(meta.cache())
    val nBands =
      if (bands > 0) bands
      else src.toDF().select(size(col("bands")).as("__nb"))
        .agg(max(col("__nb"))).collect().headOption
        .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Int])).getOrElse(1)
    val out = graft.raster.OutDescriptor(
      width = width, height = height, bands = math.max(1, nBands),
      pixToCrs = transform, crs = graft.geo.CRS.parse(crs),
      mapping = graft.core.DataMapping(dformat, dformat.range, 1.0),
      resampling = graft.raster.Resampling.fromName(resamplingAlg),
      validPixPc = -1)
    GetCube.cubeFromMetadata(spark, cat, src, out)
  }

  def getCubeFromFilters(tags: Map[String, String],
      fromTime: Option[java.sql.Timestamp], toTime: Option[java.sql.Timestamp],
      instanceIds: Seq[String], crs: String, transform: graft.geo.Affine,
      width: Int, height: Int): Dataset[Slice] =
    GetCube.cube(spark, cat, CubeRequest(
      instanceIds = instanceIds, crs = crs, transform = transform,
      width = width, height = height, tags = tags,
      fromTime = fromTime, toTime = toTime))

  // ---- admin (admin.proto:58-62, C10)

  def updateDatasets(instanceIds: Seq[String], up: Admin.DFormatUpdate,
      recordIds: Seq[String] = Nil, simulate: Boolean = false): Long =
    Admin.updateDatasets(spark, cat, instanceIds, up, recordIds, simulate)

  /** TidyPending (admin.go:11-13): granular entity flags + dry-run. */
  def tidyDb(aois: Boolean = true, records: Boolean = true,
      variables: Boolean = true, instances: Boolean = true,
      containers: Boolean = true, params: Boolean = true,
      simulate: Boolean = false): Map[String, Long] =
    Admin.tidy(spark, cat, aois, records, variables, instances,
      containers, params, simulate)
}

object Geocube {
  /** Engine version reported by [[Geocube.version]] (the reference pins
    * GeocubeServerVersion the same way, service.go:34). */
  val EngineVersion = "1.0.0"

  /** The facade over the [[Catalog]] at `root` (any Hadoop scheme with a
    * registered connector). */
  def at(spark: SparkSession, root: String): Geocube =
    Geocube(spark, Catalog(root))
}

/** `runMain graft.api.ServeMain <catalogRoot> [port] [bindAddress]` —
  * the apiserver deployment entrypoint: one latency-tuned SparkSession
  * ([[graft.cube.GetCube.ServingSessionConfs]]), one
  * [[graft.serving.HttpEdge]] on `port` (default 8080), blocking until
  * killed. Binds LOOPBACK unless an explicit `bindAddress` is given —
  * the edge carries no auth/TLS of its own, so exposing it is a
  * deliberate act and deployments must front it with an authenticating
  * reverse proxy (the reference's apiserver ships behind the same kind
  * of middleware). Scale-out is N of these behind an HTTP balancer,
  * exactly the reference's autoscaled apiserver shape (cmd/server). */
object ServeMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ServeMain <catalogRoot> [port] [bindAddress]")
    val builder = SparkSession.builder()
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
    graft.cube.GetCube.ServingSessionConfs.foreach { case (k, v) =>
      builder.config(k, v)
    }
    // master from spark-submit when deployed; local[*] for a bare run
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")
    val spark = builder.master(master).getOrCreate()
    val bind = args.lift(2).getOrElse("127.0.0.1")
    // loopback-by-default is a deliberate hardening (no auth/TLS on the
    // edge itself), but on a cluster master it is almost certainly a
    // misconfiguration: the balancer can't reach an edge bound to
    // 127.0.0.1. Warn loudly rather than fail — single-machine cluster
    // masters behind a local proxy are legitimate (r14 advice #4).
    if (args.length < 3 && !master.startsWith("local"))
      System.err.println(
        s"WARNING: binding 127.0.0.1 (the default) under non-local master " +
          s"'$master' — external clients/balancers cannot reach this edge; " +
          "pass an explicit bindAddress argument to expose it")
    val edge = new graft.serving.HttpEdge(spark, Catalog(args(0)),
      args.lift(1).map(_.toInt).getOrElse(8080), bind)
    val port = edge.start()
    // the bound ADDRESS is in the startup line deliberately: the default
    // is loopback (no auth/TLS on the edge itself), so a deployment that
    // expects balancer reachability sees at a glance that it must pass
    // an explicit bind address
    println(s"graft serving edge on $bind:$port over ${args(0)}")
    Thread.currentThread.join() // serve until killed
  }
}
