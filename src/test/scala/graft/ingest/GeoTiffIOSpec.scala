package graft.ingest

import graft.catalog.Catalog
import graft.core.DType
import graft.geo.{Affine, CRS}
import graft.raster.{Bitmap, GeoTiff}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GeoTiffIOSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root: String = java.nio.file.Files.createTempDirectory("graft-tiffio").toString
  val cat: Catalog = Catalog(root)

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(new java.io.File(root))
  }

  test("import .tif files distributed, then export round-trips") {
    // write two 2-image stacks to disk
    val dir = java.nio.file.Files.createTempDirectory("tifs")
    for (f <- Seq("a", "b")) {
      val imgs = Seq(
        GeoTiff.Image(new Bitmap(2, 2, 1, DType.UInt8, Array(1, 2, 3, 4)),
          Affine.northUp(0, 2, 1, -1), CRS.WGS84),
        GeoTiff.Image(new Bitmap(2, 2, 1, DType.UInt8, Array(5, 6, 7, 8)),
          Affine.northUp(0, 2, 1, -1), CRS.WGS84))
      java.nio.file.Files.write(dir.resolve(s"$f.tif"), GeoTiff.write(imgs))
    }
    GeoTiffIO.importFiles(spark, cat, s"$dir/*.tif")
    val tiles = cat.read(spark, "tiles").collect()
    assert(tiles.length == 4) // 2 files × 2 subdirs
    assert(tiles.map(_.getAs[String]("subdir")).toSet == Set("GTIFF_DIR:1", "GTIFF_DIR:2"))
    assert(cat.read(spark, "containers").count() == 2)

    // export one container back to tif and compare pixels
    val uri = tiles.head.getAs[String]("container_uri")
    val bytes = GeoTiffIO.exportContainer(spark, cat, uri)
    val tiff = GeoTiff.open(bytes)
    assert(tiff.headers.size == 2)
    assert(tiff.decode(0).bitmap.pixels.toSeq == Seq(1.0, 2, 3, 4))
    assert(tiff.decode(1).bitmap.pixels.toSeq == Seq(5.0, 6, 7, 8))

    // range-read single-subdir serving straight off the file
    val tifPath = uri.stripPrefix("file:")
    val one = GeoTiffIO.withTiff(spark.sparkContext.hadoopConfiguration, tifPath) {
      t => t.decode(t.level(1))
    }
    assert(one.bitmap.pixels.toSeq == Seq(5.0, 6, 7, 8))

    // BigTIFF export: version 43 container, same pixels, and the mucog
    // DSv2 source auto-detects the format
    val big = GeoTiffIO.exportContainer(spark, cat, uri, bigTiff = true)
    assert(big(2) == 43)
    assert(GeoTiff.open(big).decode(0).bitmap.pixels.toSeq == Seq(1.0, 2, 3, 4))
    val bigDir = java.nio.file.Files.createTempDirectory("tifs-big")
    java.nio.file.Files.write(bigDir.resolve("big.tif"), big)
    val viaSource = spark.read.format("mucog").load(s"$bigDir/*.tif").collect()
    assert(viaSource.length == 2)
  }

  test("file-backed -ovr AUTO read: coarse requests decode the overview IFD") {
    val dir = java.nio.file.Files.createTempDirectory("tifs-ovr")
    // 64×64 COG (tiled + deflate) with overviews 32 and 16, res 1°/px
    val base = GeoTiff.Image(
      new Bitmap(64, 64, 1, DType.UInt8,
        Array.tabulate(64 * 64)(i => (i % 199).toDouble)),
      Affine.northUp(0, 64, 1, -1), CRS.WGS84)
    val bytes = GeoTiff.write(Seq(base), overviewsMinSize = 16, compress = true, tileSize = 16)
    java.nio.file.Files.write(dir.resolve("c.tif"), bytes)
    def tiles(targetRes: Double) = spark.read.format("mucog")
      .option("targetRes", targetRes.toString).load(s"$dir/*.tif").collect()

    val fine = tiles(1.0)
    assert(fine.length == 1 && fine.head.getAs[Int]("width") == 64)
    val mid = tiles(2.4)
    assert(mid.head.getAs[Int]("width") == 32)
    assert(mid.head.getAs[scala.collection.Seq[Double]]("transform")(1) == 2.0)
    // the payload is the 32×32 overview directory the writer produced
    assert(java.util.Arrays.equals(mid.head.getAs[Array[Byte]]("payload"),
      GeoTiff.open(bytes).decode(1).bitmap.toBytes))
    val coarse = tiles(50.0)
    assert(coarse.head.getAs[Int]("width") == 16)
    // payload is the decoded overview, not the full image
    assert(coarse.head.getAs[Array[Byte]]("payload").length == 16 * 16)
  }

  test("custom-tmerc CRS survives the file-backed path (proj4 serialization)") {
    // a file in a user-defined transverse Mercator (srid sentinel 32767):
    // the stored crs string must be a proj4 string CRS.parse accepts, not
    // the unresolvable "EPSG:32767"
    val dir = java.nio.file.Files.createTempDirectory("tifs-tmerc")
    val tm = CRS.TransverseMercator(lon0Deg = 10.5, lat0Deg = 1.0, k0 = 0.9998,
      fe = 200000.0, fnParam = 1000.0)
    val img = GeoTiff.Image(
      new Bitmap(4, 4, 1, DType.UInt8, Array.tabulate(16)(_.toDouble)),
      Affine.northUp(0, 4, 1, -1), tm)
    java.nio.file.Files.write(dir.resolve("t.tif"), GeoTiff.write(Seq(img)))

    val rows = spark.read.format("mucog").load(s"$dir/*.tif").collect()
    assert(rows.length == 1)
    val stored = rows.head.getAs[String]("crs")
    assert(stored.startsWith("+proj=tmerc"), stored)
    val parsed = CRS.parse(stored)
    assert(parsed == tm) // exact parameter round-trip
    // and the importFiles catalog path stores the same parseable string
    val cat3 = Catalog(java.nio.file.Files.createTempDirectory("graft-tmerc").toString)
    GeoTiffIO.importFiles(spark, cat3, s"$dir/*.tif")
    val catCrs = cat3.read(spark, "tiles").select("crs").collect().head.getString(0)
    assert(CRS.parse(catCrs) == tm)
  }

  test("end-to-end: MuCOG file on disk -> file-backed tiles -> GetCube slices") {
    import graft.catalog.Schemas
    import graft.cube.{CubeRequest, GetCube}
    import graft.geo.BBox

    val dir = java.nio.file.Files.createTempDirectory("tifs-e2e")
    // one MuCOG container: 2 records of 8x8 over [0,8]^2, overviews to 4,
    // tiled + deflate + timeseries interlacing
    val imgs = Seq(60.0, 120.0).map { v =>
      GeoTiff.Image(new Bitmap(8, 8, 1, DType.UInt8, Array.fill(64)(v)),
        Affine.northUp(0, 8, 1, -1), CRS.WGS84)
    }
    val uri = dir.resolve("stack.tif").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(uri),
      GeoTiff.write(imgs, noData = 255, overviewsMinSize = 4, compress = true,
        tileSize = 16, interlacing = "Z=0>T>R>B;Z=1:>R>T>B"))

    // catalog rows; the tiles table comes from the FILE-BACKED source at
    // the coarse (overview) resolution
    val root2 = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val cat2 = Catalog(root2)
    def write(table: String, rows: Seq[org.apache.spark.sql.Row]): Unit =
      cat2.append(spark.createDataFrame(
        spark.sparkContext.parallelize(rows), Schemas.all(table)), table)
    def wkb(b: BBox) = graft.geo.GeomOps.writeWkb(graft.geo.GeomOps.polygonFromBBox(b))
    val box = BBox(0, 0, 8, 8)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    write("aoi", Seq(org.apache.spark.sql.Row("a1", "h", wkb(box), org.apache.spark.sql.Row(0.0, 0.0, 8.0, 8.0))))
    write("records", Seq(
      org.apache.spark.sql.Row("r1", "t0", ts("2024-01-01 00:00:00"), Map.empty[String, String], "a1"),
      org.apache.spark.sql.Row("r2", "t1", ts("2024-01-02 00:00:00"), Map.empty[String, String], "a1")))
    write("variable_definitions", Seq(org.apache.spark.sql.Row(
      "v1", "band", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "", "near")))
    write("variable_instances", Seq(org.apache.spark.sql.Row("i1", "m", Map.empty[String, String], "v1")))
    write("containers", Seq(org.apache.spark.sql.Row(s"file:$uri", false, "STANDARD")))
    (1 to 2).foreach { i =>
      write("datasets", Seq(org.apache.spark.sql.Row(
        s"d$i", s"r$i", "i1", s"file:$uri", s"GTIFF_DIR:$i", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, true,
        wkb(box), wkb(box), 4326, org.apache.spark.sql.Row(0.0, 0.0, 8.0, 8.0))))
    }
    // the -ovr AUTO file read at 2deg/px picks the 4x4 overview level
    val fileTiles = spark.read.format("mucog").option("targetRes", "2.0")
      .load(s"$dir/*.tif")
    assert(fileTiles.collect().forall(_.getAs[Int]("width") == 4))
    cat2.append(fileTiles, "tiles")

    val req = CubeRequest(instanceIds = Seq("i1"), crs = "EPSG:4326",
      transform = Affine.northUp(0, 8, 2, -2), width = 4, height = 4)
    val slices = GetCube.cube(spark, cat2, req).collect()
    assert(slices.length == 2)
    assert(slices.map(_.record_ids) sameElements Array(Seq("r1"), Seq("r2")))
    // constant rasters survive decode -> overview -> cast -> mosaic intact
    val px1 = Bitmap.fromBytes(slices(0).payload, 4, 4, 1, DType.UInt8).pixels
    val px2 = Bitmap.fromBytes(slices(1).payload, 4, 4, 1, DType.UInt8).pixels
    assert(px1.forall(_ == 60.0) && px2.forall(_ == 120.0))

    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(new java.io.File(root2))
  }
}
