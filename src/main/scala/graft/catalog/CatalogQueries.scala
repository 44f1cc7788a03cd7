package graft.catalog

import graft.functions.SpatialExpressions._
import graft.geo.GeomOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry

/** Filter bundle for dataset scans — the argument surface of the
  * reference's FindDatasets (pg_containers.go:244-348). Empty/None means
  * "no filter", exactly like the SQL builder's conditional clauses. */
final case class DatasetFilters(
    status: Seq[String] = Nil,
    containerUriPatterns: Seq[String] = Nil,
    lockedByJobId: Option[String] = None,
    instanceIds: Seq[String] = Nil,
    recordIds: Seq[String] = Nil,
    recordTags: Map[String, String] = Map.empty,
    fromTime: Option[java.sql.Timestamp] = None,
    toTime: Option[java.sql.Timestamp] = None,
    /** geographic intersection footprint (4326) */
    geog: Option[Geometry] = None,
    /** refined native-CRS footprint + its SRID (interior-intersects,
      * applied only to rows whose shape_srid matches) */
    refined: Option[(Geometry, Int)] = None,
    offset: Int = 0,
    limit: Int = 0,
    order: Boolean = true)

/** The catalog query builders (SURVEY §2.1/§2.3): DataFrame plans with the
  * same conditional structure as the reference's SQL builders. Joins are
  * added only when needed (join avoidance, SURVEY §4); the records side is
  * broadcast (dimension-sized vs the datasets fact table); spatial filters
  * are two-stage (prunable bbox && + JTS expression).
  */
object CatalogQueries {

  /** FindDatasets — pg_containers.go:244-348. Returns dataset rows
    * (+record datetime when joined); ordered by (datetime, record id, id)
    * when `order` is set. */
  def findDatasets(spark: SparkSession, cat: TableStore, f: DatasetFilters): DataFrame = {
    var d = cat.read(spark, "datasets")

    // status filter (pg:263-267)
    if (f.status.size == 1) d = d.filter(col("status") === f.status.head)
    else if (f.status.nonEmpty) d = d.filter(col("status").isin(f.status: _*))

    // lock filter (pg:269-271)
    f.lockedByJobId.foreach(j => d = d.filter(col("locked_by_job_id") === j))

    // container uri patterns, three-way split (pg:273-289)
    Patterns.predicate(col("container_uri"), f.containerUriPatterns)
      .foreach(p => d = d.filter(p))

    if (f.instanceIds.nonEmpty) d = d.filter(col("instance_id").isin(f.instanceIds: _*))
    if (f.recordIds.nonEmpty) d = d.filter(col("record_id").isin(f.recordIds: _*))

    // spatial: coarse prunable bbox && then fine JTS; refined interior
    // check only when the native SRID matches (pg:302-311)
    f.geog.foreach { g =>
      d = d.filter(bboxIntersects(col("bbox"), GeomOps.bbox(g)))
        .filter(st_intersects(col("geog_wkb"), lit(GeomOps.writeWkb(g))))
      f.refined.foreach { case (shape, srid) =>
        d = d.filter(
          when(col("shape_srid") === srid,
            st_interior_intersects(col("shape_wkb"), lit(GeomOps.writeWkb(shape))))
            .otherwise(lit(true)))
      }
    }

    // records join only when time/tags/order need it (pg:256-258)
    val needRecords = f.order || f.fromTime.isDefined ||
      f.toTime.isDefined || f.recordTags.nonEmpty
    var out = if (needRecords) {
      var r = cat.read(spark, "records")
        .select(col("id").as("__rid"), col("datetime"), col("tags"))
      f.fromTime.foreach(t => r = r.filter(col("datetime") >= t))
      f.toTime.foreach(t => r = r.filter(col("datetime") <= t))
      r = filterTags(r, f.recordTags)
      d.join(broadcast(r), d("record_id") === r("__rid"), "inner").drop("tags")
    } else d

    if (f.order) out = out.orderBy(col("datetime"), col("record_id"), col("id"))
    if (f.offset > 0) out = out.offset(f.offset)
    if (f.limit > 0) out = out.limit(f.limit)
    out
  }

  /** ListActiveDatasetsID — pg_containers.go:352-382: id-only projection;
    * Catalyst prunes the parquet scan to the filter+id columns. */
  def listActiveDatasetIds(spark: SparkSession, cat: TableStore, instanceId: String,
      recordIds: Seq[String] = Nil, tags: Map[String, String] = Map.empty,
      fromTime: Option[java.sql.Timestamp] = None,
      toTime: Option[java.sql.Timestamp] = None): DataFrame =
    findDatasets(spark, cat, DatasetFilters(
      status = Seq("ACTIVE"), instanceIds = Seq(instanceId), recordIds = recordIds,
      recordTags = tags, fromTime = fromTime, toTime = toTime, order = false))
      .select("id")

  /** FindRecords — pg_records.go:80-154: name pattern + tags + time + AOI
    * intersection (+aoi join for geometry load). */
  def findRecords(spark: SparkSession, cat: TableStore,
      namePatterns: Seq[String] = Nil,
      tags: Map[String, String] = Map.empty,
      fromTime: Option[java.sql.Timestamp] = None,
      toTime: Option[java.sql.Timestamp] = None,
      aoi: Option[Geometry] = None,
      withAoi: Boolean = false,
      offset: Int = 0, limit: Int = 0): DataFrame = {
    var r = cat.read(spark, "records")
    Patterns.predicate(col("name"), namePatterns).foreach(p => r = r.filter(p))
    r = filterTags(r, tags)
    fromTime.foreach(t => r = r.filter(col("datetime") >= t))
    toTime.foreach(t => r = r.filter(col("datetime") <= t))
    if (aoi.isDefined || withAoi) {
      val a = cat.read(spark, "aoi")
        .select(col("id").as("__aid"), col("geom_wkb"), col("bbox").as("__abbox"))
      r = r.join(broadcast(a), r("aoi_id") === col("__aid"), "left")
      aoi.foreach { g =>
        r = r.filter(bboxIntersects(col("__abbox"), GeomOps.bbox(g)))
          .filter(st_intersects(col("geom_wkb"), lit(GeomOps.writeWkb(g))))
      }
      r = r.drop("__aid", "__abbox")
      if (!withAoi) r = r.drop("geom_wkb")
    }
    r = r.orderBy(col("datetime"), col("id"))
    if (offset > 0) r = r.offset(offset)
    if (limit > 0) r = r.limit(limit)
    r
  }

  /** Records whose `tags` map matches every entry of `tags` (the
    * reference's tag clauses, pg_records.go:80-154): an empty value
    * tests key presence, any other is an Eq/Like/ILike pattern split by
    * [[Patterns.parseLike]]. */
  private def filterTags(records: DataFrame, tags: Map[String, String]): DataFrame =
    tags.foldLeft(records) { case (r, (k, v)) =>
      if (v.isEmpty) r.filter(map_contains_key(col("tags"), lit(k)))
      else {
        val (value, op) = Patterns.parseLike(v)
        val tagVal = element_at(col("tags"), k)
        r.filter(op match {
          case Patterns.Eq => tagVal === value
          case Patterns.Like => tagVal.like(value)
          case Patterns.ILike => lower(tagVal).like(value.toLowerCase)
        })
      }
    }

  /** ReadRecords/ReadContainers — point lookup by id list preserving input
    * order with dedup (pg.go:228-247, S3/J7): broadcast literal rank join. */
  def readByIds(spark: SparkSession, df: DataFrame, idCol: String, ids: Seq[String]): DataFrame = {
    import spark.implicits._
    val ranked = ids.zipWithIndex.groupBy(_._1).map { case (id, occ) => (id, occ.map(_._2).min) }
    val req = ranked.toSeq.toDF("__key", "__ord")
    df.join(broadcast(req), col(idCol) === col("__key"))
      .orderBy("__ord")
      .drop("__key", "__ord")
  }

  /** FindCells — spatial join grid cells × AOI returning both the cell and
    * the intersection geometry (pg_grids.go:113-151, J4): broadcast the
    * AOI literal; bbox prune then JTS intersection. */
  /** S5 — the name-pattern list scans (FindVariables / FindLayouts /
    * FindGrids / FindJobs: pg_variables.go, pg_layouts.go, pg_grids.go,
    * pg_jobs.go — the reference repeats the same SQL per table): P2
    * pattern split on `name` + ORDER BY name + LIMIT/OFFSET paging (O2).
    * Offset is a row_number filter so the plan needs no global collect. */
  def listByName(spark: SparkSession, cat: TableStore, table: String,
      namePattern: String = "", limit: Int = 0, offset: Int = 0): DataFrame = {
    var df = cat.read(spark, table)
    Patterns.predicate(col("name"), if (namePattern.isEmpty) Nil else Seq(namePattern))
      .foreach(p => df = df.filter(p))
    df = df.orderBy("name")
    if (offset > 0) {
      val w = org.apache.spark.sql.expressions.Window.orderBy("name")
      df = df.withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("__rn") > offset).drop("__rn")
    }
    if (limit > 0) df.limit(limit) else df
  }

  def findCells(spark: SparkSession, cat: TableStore, grid: String, aoi: Geometry): DataFrame = {
    val cells = cat.read(spark, "cells").filter(col("grid") === grid)
    val aoiWkb = lit(GeomOps.writeWkb(aoi))
    cells
      .filter(bboxIntersects(col("bbox"), GeomOps.bbox(aoi)))
      .filter(st_intersects(col("coordinates_wkb"), aoiWkb))
      .withColumn("intersection_wkb", st_intersection(col("coordinates_wkb"), aoiWkb))
      .filter(col("intersection_wkb").isNotNull)
  }

  /** Garbage-collection anti-joins (pg_records.go:176-191,
    * pg_containers.go:100-109, J6): rows with no referring datasets. */
  def pendingDeletion(spark: SparkSession, cat: TableStore, table: String): DataFrame = {
    val datasets = cat.read(spark, "datasets")
    table match {
      case "records" =>
        cat.read(spark, "records")
          .join(datasets.select(col("record_id")), col("id") === col("record_id"), "left_anti")
      case "aoi" =>
        cat.read(spark, "aoi")
          .join(cat.read(spark, "records").select(col("aoi_id")),
            col("id") === col("aoi_id"), "left_anti")
      case "containers" =>
        cat.read(spark, "containers")
          .join(datasets.select(col("container_uri").as("__cu")),
            col("uri") === col("__cu"), "left_anti")
      case t => throw new IllegalArgumentException(s"no GC for table $t")
    }
  }
}
