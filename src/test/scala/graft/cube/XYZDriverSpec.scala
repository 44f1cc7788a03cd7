package graft.cube

import graft.layout.Grid
import org.scalatest.funsuite.AnyFunSuite

/** The XYZ tile's driver arm ([[TableStore.rows]] reads, no Spark job)
  * against its Spark arm (the GetCube plan, forced by a zero rows
  * budget): byte-identical PNGs over a tile grid for every filter
  * `getTile` accepts, on 4326 and 3857 sources with overview levels and
  * nodata; the same empty tiles and the same dangling-palette error; and
  * a warm in-budget tile that starts no Spark job at all. */
class XYZDriverSpec extends AnyFunSuite with DriverArmFixture {

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
    (arm(graft.catalog.TableStore.RowsBudgetBytes, GetCube.PayloadBudgetBytes), arm(0L, 0L))
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
