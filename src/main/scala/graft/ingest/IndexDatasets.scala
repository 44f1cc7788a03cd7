package graft.ingest

import graft.catalog.{Catalog, TableStore, Schemas}
import graft.core.{DataFormat, DType}
import graft.geo.{Affine, BBox, CRS, GeomOps}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Indexation (C8, reference internal/svc/service.go:239-379
  * IndexDatasets): register externally-produced containers as datasets —
  * validate each container is reachable and its rasters homogeneous
  * (bands/dtype), derive the footprint from the georeferencing, then
  * append.
  *
  * The reference opens every file with GDAL driver-side (request-sized
  * batches). The Spark form is bulk-backfill-safe: validation runs as
  * JOINED COLUMNS over the tile store's metadata (payloads pruned by
  * Catalyst), only FAILURES are collected (bounded sample), and the
  * footprint derivation runs distributed — the driver never materializes
  * the headers of millions of containers. */
object IndexDatasets {

  final case class NewDataset(
      recordId: String,
      instanceId: String,
      containerUri: String,
      subdir: String = "",
      bands: Seq[Int] = Seq(1),
      dformat: DataFormat,
      realMin: Double, realMax: Double, exponent: Double = 1.0)

  /** Validate + derive + append. Throws when a container is missing or
    * inhomogeneous (service.go's validation errors), reporting a bounded
    * sample of the failures. */
  def run(spark: SparkSession, cat: TableStore, toIndex: Seq[NewDataset]): Unit = {
    import spark.implicits._
    toIndex.foreach(_.dformat.validate()) // request-shape check, driver-side

    val reqs = toIndex.map { d =>
      (d.recordId, d.instanceId, d.containerUri, d.subdir, d.bands,
        d.dformat.dtype.name, d.dformat.noData, d.dformat.range.min,
        d.dformat.range.max, d.realMin, d.realMax, d.exponent)
    }.toDF("record_id", "instance_id", "uri", "sub", "req_bands", "req_dtype",
      "no_data", "min_value", "max_value", "real_min", "real_max", "exponent")

    // header relation: payload column pruned away by Catalyst. One header
    // per (container, subdir): the tiles table is append-only, so a
    // re-imported container carries duplicate rows — without the dedup
    // each request would fan out into several identical dataset
    // registrations (distinct ids, same pixels painted twice)
    val rawHeaders = cat.read(spark, "tiles")
      // request-scoped: the homogeneity check below must not scan the
      // whole tile store for a bounded request; the bucket conjunct
      // turns into dynamic partition pruning of the listing itself
      .join(broadcast(reqs.select(col("uri").as("__pu"),
          col("sub").as("__ps")).distinct()),
        col("container_uri") === col("__pu") &&
          coalesce(col("subdir"), lit("")) === col("__ps") &&
          col(graft.catalog.Catalog.TilesBucketCol) ===
            graft.catalog.Catalog.tilesBucketOf(col("__pu")),
        "left_semi")
      .select(
        col("container_uri"), coalesce(col("subdir"), lit("")).as("subdir"),
        col("width"), col("height"), col("bands"), col("dtype"), col("crs"),
        col("transform"))
    // HOMOGENEITY across duplicate header rows (the scaladoc's promise):
    // a container re-imported after its source changed has CONFLICTING
    // headers, and dropDuplicates alone would pick an arbitrary one per
    // Spark job — validation could pass or fail across runs, and the row
    // that passed need not be the row whose dims derive the footprint.
    val mixed = rawHeaders
      .groupBy("container_uri", "subdir")
      .agg(countDistinct(struct(col("width"), col("height"), col("bands"),
        col("dtype"), col("crs"), col("transform"))).as("__v"))
      .filter(col("__v") > 1)
      .select("container_uri", "subdir").limit(10)
      .collect().map(r => s"${r.getString(0)}[${r.getString(1)}]")
    if (mixed.nonEmpty)
      throw new IllegalArgumentException(
        "IndexDatasets: conflicting duplicate headers for " +
          mixed.mkString(", ") + " — re-import or tidy the container first")
    val tiles = rawHeaders.dropDuplicates("container_uri", "subdir")

    // validation as joined columns (the doc's "distributed validation",
    // now actually distributed): requests left-join their headers, errors
    // are computed per-row in codegen. Cached: the error collect and the
    // footprint derivation both consume it — uncached, the header join
    // (the indexation's heaviest stage) ran twice.
    val checked = reqs
      .join(tiles, reqs("uri") === tiles("container_uri") &&
        reqs("sub") === tiles("subdir"), "left_outer")
      .cache()
    val checkedErr = checked
      .withColumn("err",
        when(col("container_uri").isNull,
          concat(lit("container "), col("uri"), lit("["), col("sub"),
            lit("] unreachable")))
          .when(array_min(col("req_bands")) < 1 ||
            array_max(col("req_bands")) > col("bands"),
            concat(lit("bands "), to_json(col("req_bands")),
              lit(" out of container range 1.."), col("bands")))
          .when(col("dtype") =!= col("req_dtype"),
            concat(lit("dtype mismatch "), col("dtype"), lit(" != "),
              col("req_dtype"))))

    // collect only failures — a bounded sample, never the full header set
    val errs = checkedErr.filter(col("err").isNotNull)
      .select("err").limit(10).collect().map(_.getString(0))
    if (errs.nonEmpty) {
      checked.unpersist()
      throw new IllegalArgumentException(
        s"IndexDatasets: ${errs.mkString("; ")}")
    }

    // distributed derivation: footprint from the georeferencing, one
    // dataset row per request (JTS + CRS math is genuine per-row imperative
    // work — the documented mapPartitions exception)
    val rows = checked.select(
      col("record_id"), col("instance_id"), col("uri"), col("sub"),
      col("req_bands"), col("req_dtype"), col("no_data"), col("min_value"),
      col("max_value"), col("real_min"), col("real_max"), col("exponent"),
      col("width"), col("height"), col("crs"), col("transform")).rdd.map { r =>
      val tf = Affine.fromArray(
        r.getAs[scala.collection.Seq[Double]]("transform").toArray)
      val crs = CRS.parse(r.getAs[String]("crs"))
      val w = r.getAs[Int]("width"); val ht = r.getAs[Int]("height")
      val native = GeomOps.polygonFromBBox(BBox.fromExtent(tf, w, ht))
      val geogRaw = GeomOps.geographicRingFromExtent(tf, w, ht, crs)
      val geog = GeomOps.normalizeAntimeridian(geogRaw) // ingest normalization (P9)
      val b = GeomOps.bbox(geog)
      Row(
        java.util.UUID.randomUUID().toString,
        r.getAs[String]("record_id"), r.getAs[String]("instance_id"),
        r.getAs[String]("uri"), r.getAs[String]("sub"),
        r.getAs[scala.collection.Seq[Int]]("req_bands").toSeq, "ACTIVE", null,
        r.getAs[String]("req_dtype"), r.getAs[Double]("no_data"),
        r.getAs[Double]("min_value"), r.getAs[Double]("max_value"),
        r.getAs[Double]("real_min"), r.getAs[Double]("real_max"),
        r.getAs[Double]("exponent"), false,
        GeomOps.writeWkb(geog), GeomOps.writeWkb(native), crs.srid,
        Row(b.xmin, b.ymin, b.xmax, b.ymax))
    }
    try cat.append(spark.createDataFrame(rows, Schemas.datasets), "datasets")
    finally checked.unpersist()
  }
}
