package graft.cube

import graft.catalog.TableStore
import graft.geo.{Affine, BBox, CRS}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The cube's driver arm (tiles resolved from [[TableStore.rows]], the
  * kernel as shuffle-free jobs) against its Spark arm (the GetCube plan,
  * forced by zero budgets): the same slices, field by field and in the
  * same order, for every filter `cube` accepts — record ids, tags, a time
  * window, client record groups with a record in two groups — on 4326 and
  * 3857 sources with overview levels and nodata, near and bilinear, a
  * valid-pixel skip and an empty cube. Three records share one datetime,
  * under ids whose UTF-8 and UTF-16 orders differ. */
class CubeDriverSpec extends AnyFunSuite with DriverArmFixture {

  // "rＡ" sorts before "r😀" in UTF-8 and after it in UTF-16
  private val wide = "rＡ"
  private val emoji = "r😀"

  override protected def extraRecords: Seq[Row] = Seq(wide, emoji, "rz").map(id =>
    Row(id, s"same time $id", ts("2024-04-01 00:00:00"), Map("sat" -> "S1A"), null))
  override protected def extraDatasets: Seq[Row] = Seq(
    ds("d10", wide, "i1", "mem://geo2", BBox(3, 3, 6, 6)),
    ds("d11", emoji, "i1", "mem://geo", BBox(0, 0, 4, 4)),
    ds("d12", "rz", "i1", "mem://multi", BBox(4, 0, 6, 2), subdir = "s1"))

  private val fine4326 = CubeRequest(Seq("i1"), "EPSG:4326",
    Affine.northUp(-0.5, 6.5, 0.05, -0.05), 140, 140)
  // 0.15°/px: the 4326 source serves its @ov1 level
  private val coarse4326 = fine4326.copy(
    transform = Affine.northUp(-0.5, 6.5, 0.15, -0.15), width = 47, height = 47)
  private val merc3857 = {
    val (mx, my) = CRS.transform(CRS.WGS84, CRS.WebMercator, -0.5, 6.5)
    fine4326.copy(crs = "EPSG:3857",
      transform = Affine.northUp(mx, my, 11132.0, -11132.0), width = 70, height = 70)
  }

  private def fields(s: Slice) = (s.group_key, s.record_ids.toList, s.min_datetime,
    s.width, s.height, s.bands, s.dtype, s.payload.toSeq, s.valid_pixels, s.error)

  /** Both arms' slices, after checking that the in-budget request did
    * resolve on the driver. */
  private def both(req: CubeRequest): (Seq[Slice], Seq[Slice]) = {
    val budget = TableStore.RowsBudgetBytes
    assert(GetCube.driverTiles(spark, cat, req, GetCube.prepare(spark, cat, req),
      budget, GetCube.PayloadBudgetBytes).isDefined, s"$req fell back to the Spark plan")
    (GetCube.cube(spark, cat, req, budget, GetCube.PayloadBudgetBytes).collect().toSeq,
      GetCube.cube(spark, cat, req, 0L, 0L).collect().toSeq)
  }

  private def same(req: CubeRequest): Seq[Slice] = {
    val (driver, sparkArm) = both(req)
    assert(driver.map(fields) == sparkArm.map(fields), req)
    driver
  }

  test("driver and Spark arms serve the same slices for every filter") {
    val filters: Seq[CubeRequest => CubeRequest] = Seq(
      identity,
      _.copy(recordIds = Seq("r1", "r3")),
      _.copy(tags = Map("sat" -> "S2A")),
      _.copy(tags = Map("sat" -> "S2*")),
      _.copy(tags = Map("sat" -> "s2?(?i)")),
      _.copy(tags = Map("mode" -> "")),
      _.copy(fromTime = Some(ts("2024-01-02 00:00:00")),
        toTime = Some(ts("2024-02-01 00:00:00.000123"))),
      _.copy(toTime = Some(ts("2024-02-01 00:00:00.000122"))))
    val served = filters.map(f => same(f(fine4326)))
    assert(served.head.size == 7 && served.forall(_.forall(_.error.isEmpty)))
    assert(served(1).map(_.group_key) == Seq("r1", "r3"))
    assert(served(6).map(_.group_key) == Seq("r2", "r3"))
    // equal datetimes order by the UTF-8 group key, as Spark sorts
    assert(served.head.map(_.group_key).takeRight(3) == Seq("rz", wide, emoji))
    for (f <- filters.take(2) ++ filters.takeRight(2); grid <- Seq(coarse4326, merc3857))
      assert(same(f(grid)).nonEmpty, f(grid))
  }

  test("client record groups: a record in two groups paints in both") {
    val groups = Seq(
      Seq(Seq("r1", "r2"), Seq("r2", "r3")),
      Seq(Seq(emoji, "rz"), Seq(wide), Seq("r4", "r1"), Seq("absent")))
    for (g <- groups; grid <- Seq(fine4326, merc3857)) {
      val slices = same(grid.copy(recordGroups = g))
      assert(slices.map(_.group_key).toSet ==
        g.indices.filter(i => g(i) != Seq("absent")).map(i => f"g$i%06d").toSet)
    }
    val twice = same(fine4326.copy(recordGroups = groups.head))
    assert(twice.map(_.record_ids) == Seq(Seq("r1", "r2"), Seq("r2", "r3")))
  }

  test("bilinear, a valid-pixel skip and an empty cube agree across arms") {
    for (grid <- Seq(fine4326, coarse4326, merc3857))
      same(grid.copy(resampling = Some("bilinear"), recordGroups = Seq(Seq("r1", "r2", "r3"))))
    val skipped = same(fine4326.copy(validPixPc = 30))
    assert(skipped.exists(_.error.contains("skipped")) && skipped.exists(_.error.isEmpty),
      skipped.map(s => s.group_key -> s.error))
    assert(same(fine4326.copy(recordIds = Seq("none"))).isEmpty)
    val far = fine4326.copy(transform = Affine.northUp(100, 50, 0.05, -0.05))
    assert(same(far).isEmpty)
  }
}
