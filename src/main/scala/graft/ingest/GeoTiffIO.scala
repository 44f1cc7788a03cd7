package graft.ingest

import graft.catalog.{Catalog, TableStore, Schemas}
import graft.raster.GeoTiff
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Bridge between real GeoTIFF files and the catalog tile store: the
  * import path a user of the reference would take to move existing
  * COG/MuCOG containers in, and the export path producing files readable
  * by standard tooling (S8/S9).
  *
  * Import is a distributed `binaryFile` read → per-file parse on
  * executors → tile-row append; [[withTiff]] reads a file in place
  * through positioned reads. Bulk export assembles + writes each
  * container's file on the executor holding its tiles
  * ([[exportContainers]]); the single-container [[exportContainer]]
  * (request-sized download path) collects one container — bounded by
  * maxRecords ≤ 1024 subdirs — to the caller. */
object GeoTiffIO {

  /** Import .tif files (each possibly multi-IFD) as containers whose URI
    * is the file path. Runs the TIFF parse on executors via the
    * binaryFile source — one task per file, linear scale-out. Only the
    * full-resolution directories are decoded; overviews are skipped. */
  def importFiles(spark: SparkSession, cat: TableStore, pathGlob: String): Unit = {
    val files = spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("content"))
    val rows = files.rdd.flatMap { r =>
      val path = r.getAs[String]("path")
      val tiff = GeoTiff.open(r.getAs[Array[Byte]]("content"))
      (0 until tiff.records).map { i =>
        val img = tiff.decode(tiff.level(i))
        Row(path, s"GTIFF_DIR:${i + 1}",
          img.bitmap.width, img.bitmap.height, img.bitmap.bands,
          img.bitmap.dtype.name, graft.geo.CRS.serialize(img.crs),
          img.transform.toArray.toSeq, img.bitmap.toBytes)
      }
    }
    // containers BEFORE tiles: a crash between the two appends then
    // leaves a dangling containers row (harmless, TidyDB collects it),
    // where tiles-first left pixels a later IndexDatasets could bind a
    // dataset to while the containers row never landed
    val uris = files.select(col("path").as("uri")).distinct()
      .withColumn("managed", lit(false))
      .withColumn("storage_class", lit("STANDARD"))
    cat.append(uris, "containers")
    cat.append(spark.createDataFrame(rows, Schemas.tiles), "tiles")
  }

  /** Open the TIFF at `path` on any Hadoop filesystem through positioned
    * reads and run `f` while the stream is open — the one open/readFully/
    * close adapter behind every file reader (the `mucog` source, the
    * catalog-free XYZ tile). The head parse and each `decode` fetch only
    * their own byte ranges, so container size (BigTIFF past 2 GiB
    * included) stops mattering. Spark-free: callable from a driver
    * request handler or inside an executor task. */
  def withTiff[T](conf: org.apache.hadoop.conf.Configuration, path: String)(
      f: GeoTiff.Tiff => T): T = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try f(GeoTiff.open((pos, buf, off, n) => in.readFully(pos, buf, off, n), len))
    finally in.close()
  }

  /** One full-res tile of a container, as carried into assembly. */
  final case class ContainerTile(subdir: String, width: Int, height: Int,
      bands: Int, dtype: String, crs: String, transform: Seq[Double],
      payload: Array[Byte])

  /** Assemble one container's full-res tiles (GTIFF_DIR order) into a
    * multi-IFD GeoTIFF/MuCOG byte array. Spark-free — runs wherever the
    * tiles already are (an executor in the distributed path, the driver
    * for a single-container download). */
  def assembleContainer(tiles: Seq[ContainerTile], noData: Double,
      overviewsMinSize: Int, compress: Boolean, tileSize: Int,
      interlacing: String, bigTiff: Boolean = false): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val n = assembleContainerTo(tiles, bos, noData, overviewsMinSize,
      compress, tileSize, interlacing, bigTiff)
    require(n <= Int.MaxValue,
      s"assembleContainer: $n bytes exceeds the 2 GiB in-memory limit; use assembleContainerTo")
    bos.toByteArray
  }

  /** [[assembleContainer]] streaming into `os` (returns bytes written) —
    * the >2 GiB path: a BigTIFF container streams block-by-block to the
    * target filesystem, never materializing the file as one array. Auto-
    * switches to BigTIFF when the pixel volume could exceed the classic
    * 4 GiB address space (the reference's consolidation behavior,
    * mucog.go:82) — explicit `bigTiff = true` still forces it. */
  def assembleContainerTo(tiles: Seq[ContainerTile], os: java.io.OutputStream,
      noData: Double, overviewsMinSize: Int, compress: Boolean, tileSize: Int,
      interlacing: String, bigTiff: Boolean = false): Long = {
    require(tiles.nonEmpty, "assembleContainer: no tiles")
    val images = tiles
      .sortBy { t =>
        val s = Option(t.subdir).getOrElse("")
        if (s.startsWith("GTIFF_DIR:")) s.stripPrefix("GTIFF_DIR:").toInt else 0
      }
      .map { t =>
        GeoTiff.Image(
          graft.raster.Bitmap.fromBytes(t.payload, t.width, t.height, t.bands,
            graft.core.DType.fromName(t.dtype)),
          graft.geo.Affine.fromArray(t.transform.toArray),
          graft.geo.CRS.parse(t.crs))
      }
    GeoTiff.writeTo(images, os, noData, overviewsMinSize, compress, tileSize,
      interlacing, bigTiff = bigTiff, autoBigTiff = true)
  }

  /** Export one container (all its subdirs, in GTIFF_DIR order) to a
    * multi-IFD GeoTIFF byte array. Driver-side by design: this is the
    * single-container download path (request-sized). Bulk export goes
    * through [[exportContainers]], which never moves payloads to the
    * driver. */
  def exportContainer(spark: SparkSession, cat: TableStore, containerUri: String,
      noData: Double = Double.NaN, overviewsMinSize: Int = 0,
      compress: Boolean = false, tileSize: Int = 0,
      interlacing: String = "", bigTiff: Boolean = false): Array[Byte] = {
    val rows = cat.read(spark, "tiles")
      // the bucket conjunct constant-folds to a literal → STATIC partition
      // pruning: only the uri's one bucket directory is listed/read
      .filter(col("container_uri") === containerUri &&
        col(Catalog.TilesBucketCol) === Catalog.tilesBucketOf(lit(containerUri)))
      // pyramid rows ("<subdir>@ovK") are not their own subdirs — the
      // overview chain is re-derived from overviewsMinSize at write time
      .filter(!coalesce(col("subdir"), lit("")).rlike("@ov\\d+$"))
      .collect()
    require(rows.nonEmpty, s"exportContainer: no tiles for $containerUri")
    assembleContainer(rows.toSeq.map(toContainerTile), noData,
      overviewsMinSize, compress, tileSize, interlacing, bigTiff)
  }

  private def toContainerTile(r: Row): ContainerTile = ContainerTile(
    Option(r.getAs[String]("subdir")).getOrElse(""),
    r.getAs[Int]("width"), r.getAs[Int]("height"), r.getAs[Int]("bands"),
    r.getAs[String]("dtype"), r.getAs[String]("crs"),
    r.getAs[scala.collection.Seq[Double]]("transform").toSeq,
    r.getAs[Array[Byte]]("payload"))

  /** Bulk physical export (the reference's worker-side container build,
    * handler_consolidation.go:59-234): each container's MuCOG bytes are
    * assembled and WRITTEN on the executor that already holds its tiles —
    * one shuffle keyed by container, payloads never reach the driver. The
    * driver sees only (container_uri, path, n_bytes) manifest rows.
    *
    * `containerUris` empty = export every container under the tile store
    * matching the filter-free scan (caller pre-filters via the catalog). */
  def exportContainers(spark: SparkSession, cat: TableStore,
      containerUris: Seq[String], outDir: String,
      noData: Double = Double.NaN, overviewsMinSize: Int = 0,
      compress: Boolean = false, tileSize: Int = 0,
      interlacing: String = "",
      bigTiff: Boolean = false): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val base = cat.read(spark, "tiles")
      .filter(!coalesce(col("subdir"), lit("")).rlike("@ov\\d+$"))
    val scoped =
      if (containerUris.isEmpty) base
      // semi-join, not a multi-literal isin: a bulk export covers a whole
      // job's container set (10⁵+ uris) — an isin expression tree breaks
      // down long before that, while a broadcast ships one small uri
      // relation. The bucket conjunct turns into dynamic partition
      // pruning on the store's derived partition column
      // (Catalog.tilesBucketOf). The broadcast HINT is bounded:
      // past ~1M uris the driver-side relation stops being "small", so
      // the hint is dropped and AQE/size stats pick the strategy — the
      // DPP conjunct works either way.
      else {
        val uriDf = containerUris.toDF("__pu")
        val build = if (containerUris.size <= 1000000) broadcast(uriDf) else uriDf
        base.join(build,
          col("container_uri") === col("__pu") &&
            col(Catalog.TilesBucketCol) === Catalog.tilesBucketOf(col("__pu")),
          "left_semi")
      }
    scoped.select(col("container_uri"), coalesce(col("subdir"), lit("")).as("subdir"),
        col("width"), col("height"), col("bands"), col("dtype"), col("crs"),
        col("transform"), col("payload"))
      .as[(String, String, Int, Int, Int, String, String, Seq[Double], Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (uri, it) =>
        val tiles = it.map(t => ContainerTile(t._2, t._3, t._4, t._5, t._6,
          t._7, t._8, t._9)).toSeq
        // filename from the container URI tail, collision-proofed by an
        // md5 of the FULL uri (31-bit String.hashCode collides at even
        // odds around ~50k same-tail URIs — real at export scale, and a
        // collision silently overwrites another container)
        val tail = uri.split('/').takeRight(2).mkString("_")
          .replaceAll("[^A-Za-z0-9._-]", "_")
        val name = s"${tail}_${graft.core.Digest.md5Hex(uri, 16)}.tif"
        val path = new org.apache.hadoop.fs.Path(outDir, name)
        val fs = path.getFileSystem(hconf.value)
        // stream the container straight to the target FS: no whole-file
        // array, so BigTIFF containers past 2 GiB export fine
        val os = fs.create(path, true)
        val n =
          try assembleContainerTo(tiles, os, noData, overviewsMinSize,
            compress, tileSize, interlacing, bigTiff)
          finally os.close()
        (uri, path.toString, n)
      }
      .toDF("container_uri", "path", "n_bytes")
  }
}
