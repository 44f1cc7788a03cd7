package graft.sources

import graft.core.DType
import graft.geo.{Affine, CRS}
import graft.raster.{Bitmap, GeoTiff}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MucogDataSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def writeStack(dir: java.nio.file.Path, name: String, vals: Seq[Double]): Unit = {
    val imgs = vals.map { v =>
      GeoTiff.Image(new Bitmap(8, 8, 1, DType.UInt8, Array.fill(64)(v)),
        Affine.northUp(0, 8, 1, -1), CRS.WGS84)
    }
    java.nio.file.Files.write(dir.resolve(name),
      GeoTiff.write(imgs, noData = 255, overviewsMinSize = 4, compress = true,
        tileSize = 16, interlacing = "Z=0>T>R>B;Z=1:>R>T>B"))
  }

  test("spark.read.format(\"mucog\") reads containers as tile rows") {
    val dir = java.nio.file.Files.createTempDirectory("mucog-dsv2")
    writeStack(dir, "a.tif", Seq(60, 120))
    writeStack(dir, "b.tif", Seq(30))

    val df = spark.read.format("mucog").load(s"$dir/*.tif")
    assert(df.schema == graft.catalog.Schemas.tiles)
    val rows = df.collect()
    assert(rows.length == 3) // 2 subdirs + 1 subdir
    assert(rows.map(_.getAs[String]("subdir")).toSet ==
      Set("GTIFF_DIR:1", "GTIFF_DIR:2"))
    assert(rows.forall(_.getAs[Int]("width") == 8))
    val a1 = rows.find(r => r.getAs[String]("container_uri").endsWith("a.tif") &&
      r.getAs[String]("subdir") == "GTIFF_DIR:1").get
    val bm = Bitmap.fromBytes(a1.getAs[Array[Byte]]("payload"), 8, 8, 1, DType.UInt8)
    assert(bm.pixels.forall(_ == 60.0))

    // column pruning composes: a metadata projection plans without error
    val meta = df.select("container_uri", "width", "height").collect()
    assert(meta.length == 3)

    // SQL surface: CREATE TABLE ... USING mucog
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW mucog_tiles
                  USING mucog OPTIONS (path '$dir/*.tif')""")
    assert(spark.sql("SELECT count(*) FROM mucog_tiles").collect().head.getLong(0) == 3)
  }

  test("multi-path load(p1, p2) reads every path (JSON-array `paths` option)") {
    val dir1 = java.nio.file.Files.createTempDirectory("mucog-multi1")
    val dir2 = java.nio.file.Files.createTempDirectory("mucog-multi2")
    writeStack(dir1, "m1.tif", Seq(10))
    writeStack(dir2, "m2.tif", Seq(20, 40))
    val df = spark.read.format("mucog").load(s"$dir1/*.tif", s"$dir2/*.tif")
    val rows = df.collect()
    assert(rows.length == 3) // 1 subdir + 2 subdirs
    assert(rows.map(_.getAs[String]("container_uri"))
      .count(_.endsWith("m2.tif")) == 2)
  }

  test("container_uri filters prune partitions (file-level pushdown)") {
    val dir = java.nio.file.Files.createTempDirectory("mucog-prune-files")
    writeStack(dir, "k1.tif", Seq(11))
    writeStack(dir, "k2.tif", Seq(22))
    writeStack(dir, "k3.tif", Seq(33))
    val df = spark.read.format("mucog").load(s"$dir/*.tif")
    val uri2 = df.select("container_uri").collect()
      .map(_.getString(0)).sorted.apply(1)
    val one = df.filter(col("container_uri") === uri2)
    // the filter reaches the scan (partition pruning at planning time)...
    assert(one.queryExecution.executedPlan.toString.contains("container_uri"))
    val rows = one.collect()
    // ...and results are correct: only k2's subdir, right pixels
    assert(rows.length == 1)
    assert(graft.raster.Bitmap.fromBytes(rows.head.getAs[Array[Byte]]("payload"),
      8, 8, 1, graft.core.DType.UInt8).pixels.forall(_ == 22.0))
    // prefix pushdown composes with other predicates as residuals
    assert(df.filter(col("container_uri").startsWith(s"file:$dir") &&
      col("width") === 8).count() == 3)
  }

  test("targetRes option selects the overview level (-ovr AUTO)") {
    val dir = java.nio.file.Files.createTempDirectory("mucog-dsv2-ovr")
    writeStack(dir, "c.tif", Seq(90))
    val coarse = spark.read.format("mucog")
      .option("targetRes", "2.0").load(s"$dir/*.tif").collect()
    assert(coarse.head.getAs[Int]("width") == 4) // the 4x4 overview
    assert(coarse.head.getAs[scala.collection.Seq[Double]]("transform")(1) == 2.0)
  }

  test("payload pruning pushes into the source (header-only read)") {
    val dir = java.nio.file.Files.createTempDirectory("mucog-dsv2-prune")
    writeStack(dir, "p.tif", Seq(42, 84))
    val df = spark.read.format("mucog").option("targetRes", "2.0").load(s"$dir/*.tif")
    val meta = df.select("subdir", "width", "height", "crs")
    // the scan's read schema no longer carries the payload column
    assert(!meta.queryExecution.executedPlan.toString.contains("payload"))
    val rows = meta.collect().sortBy(_.getString(0))
    assert(rows.length == 2)
    // overview-level selection works from headers alone: 8x8 base ->
    // 4x4 level for a 2deg/px request
    assert(rows.forall(_.getAs[Int]("width") == 4))
    assert(rows.map(_.getString(0)).toSeq == Seq("GTIFF_DIR:1", "GTIFF_DIR:2"))
    assert(rows.forall(_.getAs[String]("crs") == "EPSG:4326"))
  }

  test("header-only and payload scans choose the same level for every fixture") {
    // one level chooser behind both projections: the pruned (header-only)
    // read and the payload read report the same width/height/transform —
    // including a file whose ModelTiepoint is gone (identity transform)
    val dir = java.nio.file.Files.createTempDirectory("mucog-agree")
    graft.raster.TiffFixtures.all.zipWithIndex.foreach { case ((_, bytes), i) =>
      java.nio.file.Files.write(dir.resolve(s"f$i.tif"), bytes)
    }
    for (targetRes <- Seq("0", "2.0", "3.5", "100")) {
      val df = spark.read.format("mucog").option("targetRes", targetRes).load(s"$dir/*.tif")
      def levels(withPayload: Boolean) = {
        val cols = Seq("container_uri", "subdir", "width", "height", "transform") ++
          (if (withPayload) Seq("payload") else Nil)
        df.select(cols.map(col): _*).collect().map { r =>
          (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
            r.getAs[scala.collection.Seq[Double]](4).toSeq)
        }.sortBy(t => (t._1, t._2)).toSeq
      }
      val headerOnly = levels(withPayload = false)
      assert(headerOnly.size == graft.raster.TiffFixtures.all.map { case (_, b) =>
        graft.raster.GeoTiff.open(b).records }.sum)
      assert(headerOnly == levels(withPayload = true), s"targetRes $targetRes")
    }
  }

  test("payload scan at coarse targetRes range-reads a fraction of the container") {
    val dir = java.nio.file.Files.createTempDirectory("mucog-ranged")
    // incompressible pixels (LCG) so deflate can't shrink the base levels:
    // 4 records of 512x512 -> ~2.8 MB container; a targetRes=16 request
    // needs only the 32x32 level per record
    var st = 1L
    // high LCG bits: the low bits of a power-of-two-modulus LCG are
    // short-period and would deflate away
    def px(): Double = { st = (st * 1103515245L + 12345L) & 0x7fffffffL; ((st >> 16) % 256).toDouble }
    val imgs = (0 until 4).map { _ =>
      GeoTiff.Image(new Bitmap(512, 512, 1, DType.UInt8, Array.fill(512 * 512)(px())),
        Affine.northUp(0, 512, 1, -1), CRS.WGS84)
    }
    val f = dir.resolve("big.tif")
    java.nio.file.Files.write(f,
      GeoTiff.write(imgs, noData = 255, overviewsMinSize = 16, compress = true,
        tileSize = 256))
    val fileLen = java.nio.file.Files.size(f)
    assert(fileLen > 4 * 256 * 1024, s"container only $fileLen B — head fetch would cover it")

    // expected rows: each record's 32×32 level decoded from the bytes in memory
    val tiff = GeoTiff.open(java.nio.file.Files.readAllBytes(f))
    val expected = tiff.chains.map { chain =>
      tiff.decode(chain.find(tiff.headers(_).width == 32).get)
    }

    // scheme registered for THIS test only: cache disabled so no FS
    // instance outlives the registration, properties unset in finally so
    // the scheme can't leak into other suites on the shared SparkContext
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    hc.setBoolean("fs.countfs.impl.disable.cache", true)
    CountingLocalFs.bytesRead.set(0L)
    val (rows, counted) =
      try {
        val r = spark.read.format("mucog").option("targetRes", "16.0")
          .load(s"countfs:$f").collect().sortBy(_.getAs[String]("subdir"))
        (r, CountingLocalFs.bytesRead.get())
      } finally {
        hc.unset("fs.countfs.impl")
        hc.unset("fs.countfs.impl.disable.cache")
      }

    assert(rows.length == 4)
    rows.zip(expected).foreach { case (r, e) =>
      assert(r.getAs[Int]("width") == 32 && r.getAs[Int]("height") == 32)
      assert(r.getAs[Array[Byte]]("payload").toSeq == e.bitmap.toBytes.toSeq)
    }
    // ranged reads fetch the head + 4 tiny levels, NOT the container
    assert(counted > 0, "counting filesystem saw no reads")
    assert(counted < fileLen / 3,
      s"payload scan read $counted of $fileLen bytes — not ranged")
  }

  test("mucog rows feed GetCube unchanged (DSv2 face of the file source)") {
    import graft.catalog.{Catalog, Schemas}
    import graft.cube.{CubeRequest, GetCube}
    import graft.geo.{BBox, GeomOps}
    import org.apache.spark.sql.Row

    val dir = java.nio.file.Files.createTempDirectory("mucog-dsv2-cube")
    writeStack(dir, "d.tif", Seq(75))
    val uri = spark.read.format("mucog").load(s"$dir/*.tif")
      .select("container_uri").collect().head.getString(0)

    val root = java.nio.file.Files.createTempDirectory("mucog-cat").toString
    val cat = Catalog(root)
    def w(table: String, rows: Seq[Row]): Unit = cat.append(
      spark.createDataFrame(spark.sparkContext.parallelize(rows),
        Schemas.all(table)), table)
    val box = BBox(0, 0, 8, 8)
    val wkb = GeomOps.writeWkb(GeomOps.polygonFromBBox(box))
    w("aoi", Seq(Row("a1", "h", wkb, Row(0.0, 0.0, 8.0, 8.0))))
    w("records", Seq(Row("r1", "t", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      Map.empty[String, String], "a1")))
    w("variable_definitions", Seq(Row("v1", "b", "1", "d", Seq("b1"), "uint8",
      255.0, 0.0, 254.0, "", "near")))
    w("variable_instances", Seq(Row("i1", "m", Map.empty[String, String], "v1")))
    w("containers", Seq(Row(uri, false, "STANDARD")))
    w("datasets", Seq(Row("d1", "r1", "i1", uri, "GTIFF_DIR:1", Seq(1), "ACTIVE",
      null, "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false, wkb, wkb, 4326,
      Row(0.0, 0.0, 8.0, 8.0))))
    cat.append(spark.read.format("mucog").load(s"$dir/*.tif"), "tiles")

    val slices = GetCube.cube(spark, cat, CubeRequest(instanceIds = Seq("i1"),
      crs = "EPSG:4326", transform = Affine.northUp(0, 8, 1, -1),
      width = 8, height = 8)).collect()
    assert(slices.length == 1)
    val px = Bitmap.fromBytes(slices.head.payload, 8, 8, 1, DType.UInt8).pixels
    assert(px.forall(_ == 75.0))
  }
}

/** Local filesystem under a `countfs:` scheme that counts every byte
  * served, including positioned reads — the test double for "how much did
  * the scan actually transfer". Registered per-test via fs.countfs.impl;
  * local-mode executors share the JVM, so the static counter sees
  * executor-side reads. */
class CountingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream =
    new org.apache.hadoop.fs.FSDataInputStream(
      new CountingStream(super.open(f, bufferSize)))
}

object CountingLocalFs {
  val bytesRead = new java.util.concurrent.atomic.AtomicLong()
}

class CountingStream(inner: org.apache.hadoop.fs.FSDataInputStream)
    extends java.io.InputStream
    with org.apache.hadoop.fs.Seekable
    with org.apache.hadoop.fs.PositionedReadable {
  private def add(n: Long): Unit =
    if (n > 0) CountingLocalFs.bytesRead.addAndGet(n)
  override def read(): Int = { val r = inner.read(); if (r >= 0) add(1); r }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val r = inner.read(b, off, len); add(r); r
  }
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
    val r = inner.read(pos, b, off, len); add(r); r
  }
  override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
    inner.readFully(pos, b, off, len); add(len)
  }
  override def readFully(pos: Long, b: Array[Byte]): Unit = {
    inner.readFully(pos, b); add(b.length)
  }
  override def seek(pos: Long): Unit = inner.seek(pos)
  override def getPos: Long = inner.getPos
  override def seekToNewSource(targetPos: Long): Boolean =
    inner.seekToNewSource(targetPos)
  override def close(): Unit = inner.close()
}
