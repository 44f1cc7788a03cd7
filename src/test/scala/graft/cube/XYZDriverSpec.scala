package graft.cube

import graft.catalog.{Catalog, Schemas}
import graft.core.DType
import graft.geo.{BBox, CRS, GeomOps}
import graft.layout.Grid
import graft.raster.Bitmap
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The XYZ tile's driver arm ([[TableStore.rows]] reads, no Spark job)
  * against its Spark arm (the GetCube plan, forced by a zero rows
  * budget): byte-identical PNGs over a tile grid for every filter
  * `getTile` accepts, on 4326 and 3857 sources with overview levels and
  * nodata; the same empty tiles and the same dangling-palette error; and
  * a warm in-budget tile that starts no Spark job at all. */
class XYZDriverSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = java.nio.file.Files.createTempDirectory("graft-xyzdrv")
  private val cat = Catalog(dir.toString)

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private def wkb(g: org.locationtech.jts.geom.Geometry) = GeomOps.writeWkb(g)
  private def bboxRow(b: BBox) = Row(b.xmin, b.ymin, b.xmax, b.ymax)

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
      Row("r4", "s4", ts("2024-03-01 00:00:00"), null, null)))

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

    def ds(id: String, rid: String, inst: String, uri: String, box: BBox,
        status: String = "ACTIVE", native: Option[(BBox, Int)] = None,
        subdir: String = ""): Row = {
      val geog = GeomOps.polygonFromBBox(box)
      val (shape, srid) = native.getOrElse((box, 4326))
      Row(id, rid, inst, uri, subdir, Seq(1), status, null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, true,
        wkb(geog), wkb(GeomOps.polygonFromBBox(shape)), srid, bboxRow(box))
    }
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
      ds("d9", "r2", "i1", "mem://multi", BBox(4, 0, 6, 2), subdir = "s2")))
  }

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(dir.toFile)
  }

  /** The XYZ tiles at zoom z whose extent meets lon/lat [-1, 7]. */
  private def tilesAt(z: Int): Seq[(Long, Long)] = {
    val n = 1L << z
    def tx(lon: Double) = math.floor((lon + 180) / 360 * n).toLong.max(0).min(n - 1)
    def ty(lat: Double) = {
      val r = math.toRadians(lat)
      math.floor((1 - math.log(math.tan(r) + 1 / math.cos(r)) / math.Pi) / 2 * n)
        .toLong.max(0).min(n - 1)
    }
    for (x <- tx(-1) to tx(7); y <- ty(7) to ty(-1)) yield (x, y)
  }

  private val grid: Seq[(Long, Long, Int)] =
    (2 to 8).flatMap(z => tilesAt(z).map { case (x, y) => (x, y, z) })

  private case class Filters(recordIds: Seq[String] = Nil,
      tags: Map[String, String] = Map.empty,
      from: Option[java.sql.Timestamp] = None, to: Option[java.sql.Timestamp] = None,
      min: Double = 0, max: Double = 0)

  private def both(inst: String, x: Long, y: Long, z: Int, f: Filters):
      (Either[String, Option[Seq[Byte]]], Either[String, Option[Seq[Byte]]]) = {
    def arm(budget: Long, payloadBudget: Long) =
      try Right(XYZTile.tile(spark, cat, inst, x, y, z, f.min, f.max, None,
        f.recordIds, f.tags, f.from, f.to, budget, payloadBudget).map(_.toSeq))
      catch { case e: IllegalArgumentException => Left(e.getMessage) }
    (arm(graft.catalog.TableStore.RowsBudgetBytes, XYZTile.PayloadBudgetBytes), arm(0L, 0L))
  }

  test("driver and Spark arms serve byte-identical tiles for every filter") {
    val filters = Seq(
      Filters(),
      Filters(recordIds = Seq("r1", "r3")),
      Filters(tags = Map("sat" -> "S2A")),
      Filters(tags = Map("sat" -> "S2*")),
      Filters(tags = Map("sat" -> "s2?(?i)")),
      Filters(tags = Map("mode" -> "")),
      Filters(from = Some(ts("2024-01-02 00:00:00")),
        to = Some(ts("2024-02-01 00:00:00.000123"))),
      Filters(to = Some(ts("2024-02-01 00:00:00.000122"))))
    // every tile of the grid unfiltered; the record-level filters on the
    // tiles at z3 and z6, which hold every source
    val cases = grid.map(_ -> Filters()) ++ grid.map(_ -> Filters(min = 10, max = 200)) ++
      grid.filter(t => t._3 == 3 || t._3 == 6).flatMap(t => filters.tail.map(t -> _))
    var served = 0
    var empty = 0
    for (((x, y, z), f) <- cases) {
      val (driver, sparkArm) = both("i1", x, y, z, f)
      assert(driver == sparkArm, s"tile $z/$x/$y with $f")
      driver match {
        case Right(Some(_)) => served += 1
        case Right(None) => empty += 1
        case Left(e) => fail(s"tile $z/$x/$y with $f failed: $e")
      }
    }
    assert(served > 30 && empty > 20, s"served $served, empty $empty")
    // the grayscale instance (no palette named) and a far-away tile
    for ((x, y, z) <- grid.take(12)) {
      val (d, s) = both("i3", x, y, z, Filters())
      assert(d == s, s"i3 tile $z/$x/$y")
    }
    assert(both("i1", 0, 0, 6, Filters()) == ((Right(None), Right(None))))
  }

  test("both arms pick the same overview level and fail a dangling palette alike") {
    // the z3 tile over the fixture chooses @ov1 (0.125°/px within 1.2× of
    // its ~0.176°) on the 4326 source, checked through the Spark arm's join
    val req = CubeRequest(Seq("i1"), "EPSG:3857", Grid.xyzTransform(4, 3, 3), 256, 256,
      validPixPc = 0)
    val picked = GetCube.datasetTiles(spark, cat, req, GetCube.prepare(spark, cat, req))
      .collect()
    assert(picked.exists(t => t.dataset_id == "d1" && t.t_width == 32),
      picked.map(t => t.dataset_id -> t.t_width).toSeq)
    // the two-subdir container keeps both datasets, each on its own level
    assert(Set("d8", "d9").subsetOf(picked.map(_.dataset_id).toSet),
      picked.map(_.dataset_id).toSeq)
    val (d, s) = both("i2", 4, 3, 3, Filters())
    assert(d == s)
    assert(d.left.exists(_.contains("unknown palette 'nopal'")), d)
  }

  test("a warm in-budget tile starts no Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "xyz-marker"))
          marker.countDown()
        else jobs.incrementAndGet(): Unit
    }
    val tiles = tilesAt(6).map { case (x, y) => (x, y, 6) } ++ Seq((4L, 3L, 3))
    tiles.foreach { case (x, y, z) => XYZTile.getTile(spark, cat, "i1", x, y, z) } // warm
    spark.sparkContext.addSparkListener(listener)
    try {
      val pngs = tiles.map { case (x, y, z) => XYZTile.getTile(spark, cat, "i1", x, y, z) }
      assert(pngs.count(_.isDefined) >= 2)
      // the listener bus is FIFO: once a marker job's start arrives,
      // every earlier job start has been delivered
      spark.sparkContext.setJobGroup("xyz-marker", "flush")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get == 0, s"${jobs.get} Spark jobs for ${tiles.size} warm tiles")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("tile coordinates outside the pyramid are rejected, both entry points") {
    val conf = spark.sparkContext.hadoopConfiguration
    for ((x, y, z) <- Seq((32L, 31L, 70), (0L, 0L, -1), (64L, 0L, 6), (0L, -1L, 6),
        (0L, 1L << 31, 31))) {
      val e = intercept[IllegalArgumentException](
        XYZTile.getTile(spark, cat, "i1", x, y, z))
      assert(e.getMessage.contains("outside"), e.getMessage)
      intercept[IllegalArgumentException](
        XYZTile.getTileFromFile(conf, "/nonexistent.tif", "", x, y, z))
    }
    // the edges of the range still serve
    assert(XYZTile.getTile(spark, cat, "i1", 0, 0, 0).isDefined)
    assert(XYZTile.getTile(spark, cat, "i1", (1L << 30) - 1, (1L << 30) - 1, 30).isEmpty)
  }
}
