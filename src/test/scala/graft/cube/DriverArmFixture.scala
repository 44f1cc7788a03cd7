package graft.cube

import graft.SparkSuite
import graft.catalog.{Catalog, Schemas}
import graft.core.DType
import graft.geo.{BBox, CRS, GeomOps}
import graft.raster.Bitmap
import org.apache.spark.sql.Row

/** The catalog both arms of the driver-side resolver are compared on: a
  * 4326 container with two overview levels, a 3857 container with one, a
  * second 4326 scene, a container holding two datasets' rasters under
  * their own subdirs, nodata speckles in every raster, ACTIVE and
  * INACTIVE datasets over three instances, and records with tags and a
  * sub-millisecond datetime. A suite adds its own rows through the
  * `extra*` hooks. */
trait DriverArmFixture extends SparkSuite { this: org.scalatest.Suite =>

  protected val dir: java.nio.file.Path = tempDir("graft-drvarm")
  protected val cat: Catalog = Catalog(dir.toString)

  protected def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
  protected def wkb(g: org.locationtech.jts.geom.Geometry): Array[Byte] = GeomOps.writeWkb(g)
  protected def bboxRow(b: BBox): Row = Row(b.xmin, b.ymin, b.xmax, b.ymax)

  /** [[cat]] with no read answered on the driver. */
  protected lazy val overBudget: graft.catalog.TableStore = DriverArmFixture.noRows(cat)

  /** Rows a suite adds to the fixture's `records` and `datasets`. */
  protected def extraRecords: Seq[Row] = Nil
  protected def extraDatasets: Seq[Row] = Nil

  /** A fixture `datasets` row: uint8 [0, 254] with nodata 255. */
  protected def ds(id: String, rid: String, inst: String, uri: String, box: BBox,
      status: String = "ACTIVE", native: Option[(BBox, Int)] = None,
      subdir: String = ""): Row = {
    val geog = GeomOps.polygonFromBBox(box)
    val (shape, srid) = native.getOrElse((box, 4326))
    Row(id, rid, inst, uri, subdir, Seq(1), status, null,
      "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, true,
      wkb(geog), wkb(GeomOps.polygonFromBBox(shape)), srid, bboxRow(box))
  }

  override def beforeAll(): Unit = {
    val sc = spark
    def write(table: String, rows: Seq[Row]): Unit =
      cat.append(sc.createDataFrame(sc.sparkContext.parallelize(rows, 2),
        Schemas.all(table)), table)
    write("palette", Seq(Row("pal1", Seq(
      Row(0f, 10, 240, 3, 255), Row(0.5f, 90, 20, 200, 128), Row(1f, 245, 7, 132, 249)))))
    write("variable_definitions", Seq(
      Row("v1", "dn", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "pal1", "near"),
      Row("v2", "dn2", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "nopal", "near"),
      Row("v3", "dn3", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "", "near")))
    write("variable_instances", Seq(
      Row("i1", "m", Map.empty[String, String], "v1"),
      Row("i2", "m", Map.empty[String, String], "v2"),
      Row("i3", "m", Map.empty[String, String], "v3")))
    write("records", Seq(
      Row("r1", "s1", ts("2024-01-01 00:00:00"), Map("sat" -> "S2A", "mode" -> "IW"), null),
      Row("r2", "s2", ts("2024-01-05 00:00:00"), Map("sat" -> "S2B"), null),
      Row("r3", "s3", ts("2024-02-01 00:00:00.000123"), Map("sat" -> "L8"), null),
      Row("r4", "s4", ts("2024-03-01 00:00:00"), null, null)) ++ extraRecords)

    // sources: a 4326 container with two overview levels, a 3857
    // container, a second 4326 scene and a grayscale-instance copy
    def px(w: Int, seed: Int): Array[Double] = Array.tabulate(w * w) { i =>
      val v = ((i % w) * 7 + (i / w) * 13 + seed * 31) % 260
      if (v >= 254) 255.0 else v.toDouble // nodata speckles
    }
    def tile(uri: String, sub: String, w: Int, crs: String, x0: Double, y0: Double,
        res: Double, seed: Int): Row =
      Row(uri, sub, w, w, 1, "uint8", crs, Seq(x0, res, 0.0, y0, 0.0, -res),
        new Bitmap(w, w, 1, DType.UInt8, px(w, seed)).toBytes)
    val geoTiles = Seq(
      tile("mem://geo", "", 64, "EPSG:4326", 0, 4, 4.0 / 64, 1),
      tile("mem://geo", "@ov1", 32, "EPSG:4326", 0, 4, 4.0 / 32, 2),
      tile("mem://geo", "@ov2", 16, "EPSG:4326", 0, 4, 4.0 / 16, 3),
      tile("mem://geo2", "", 48, "EPSG:4326", 3, 6, 3.0 / 48, 4))
    val (mx0, my0) = CRS.transform(CRS.WGS84, CRS.WebMercator, 2.0, 5.0)
    val (mx1, _) = CRS.transform(CRS.WGS84, CRS.WebMercator, 5.0, 2.0)
    val mres = (mx1 - mx0) / 40
    val merc = Seq(tile("mem://merc", "", 40, "EPSG:3857", mx0, my0, mres, 5),
      tile("mem://merc", "@ov1", 20, "EPSG:3857", mx0, my0, mres * 2, 6))
    // one container holding two datasets' rasters under their own
    // subdirs, each with its own overview
    val multi = Seq(tile("mem://multi", "s1", 32, "EPSG:4326", 4, 2, 2.0 / 32, 7),
      tile("mem://multi", "s1@ov1", 16, "EPSG:4326", 4, 2, 2.0 / 16, 8),
      tile("mem://multi", "s2", 32, "EPSG:4326", 4, 2, 2.0 / 32, 9),
      tile("mem://multi", "s2@ov1", 16, "EPSG:4326", 4, 2, 2.0 / 16, 10))
    write("tiles", geoTiles ++ merc ++ multi)

    val mercBox = BBox(mx0, my0 - 40 * mres, mx0 + 40 * mres, my0)
    val mercGeog = GeomOps.geographicRingFromExtent(
      graft.geo.Affine.northUp(mx0, my0, mres, -mres), 40, 40, CRS.WebMercator)
    write("datasets", Seq(
      ds("d1", "r1", "i1", "mem://geo", BBox(0, 0, 4, 4)),
      ds("d2", "r2", "i1", "mem://geo2", BBox(3, 3, 6, 6)),
      ds("d3", "r3", "i1", "mem://merc", GeomOps.bbox(mercGeog), native = Some((mercBox, 3857))),
      ds("d4", "r4", "i1", "mem://geo2", BBox(3, 3, 6, 6)),
      ds("d5", "r1", "i1", "mem://geo", BBox(0, 0, 4, 4), status = "INACTIVE"),
      ds("d6", "r1", "i2", "mem://geo", BBox(0, 0, 4, 4)),
      ds("d7", "r2", "i3", "mem://geo", BBox(0, 0, 4, 4)),
      ds("d8", "r1", "i1", "mem://multi", BBox(4, 0, 6, 2), subdir = "s1"),
      ds("d9", "r2", "i1", "mem://multi", BBox(4, 0, 6, 2), subdir = "s2")) ++ extraDatasets)
  }
}

object DriverArmFixture {

  /** `cat` with no read answered on the driver: every
    * [[graft.catalog.TableStore.rows]] call is over budget, so each
    * catalog and payload read of a request degrades to its Spark read. */
  def noRows(cat: graft.catalog.TableStore): graft.catalog.TableStore =
    new graft.catalog.TableStore {
      import org.apache.spark.sql.{DataFrame, SparkSession}
      def root: String = cat.root
      def read(spark: SparkSession, table: String): DataFrame = cat.read(spark, table)
      def append(df: DataFrame, table: String): Unit = cat.append(df, table)
      def rewrite(df: DataFrame, table: String): Unit = cat.rewrite(df, table)
      def deleteWhere(spark: SparkSession, table: String, uris: DataFrame, uriCol: String): Unit =
        cat.deleteWhere(spark, table, uris, uriCol)
      def updatePartitions(spark: SparkSession, table: String, partValues: Seq[String],
          transform: DataFrame => DataFrame): Unit =
        cat.updatePartitions(spark, table, partValues, transform)
      override def rows(spark: SparkSession, table: String, columns: Seq[String],
          partitionValues: Seq[String], valuesIn: Map[String, Set[String]],
          budgetBytes: Long): Option[IndexedSeq[Row]] = None
    }
}
