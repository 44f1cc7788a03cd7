package graft.api

import graft.catalog.Catalog
import graft.core.{DataFormat, DType, NumRange}
import graft.geo.{Affine, BBox, GeomOps}
import graft.ingest.IndexDatasets
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The method-per-rpc facade exercised as a user of the reference would:
  * create AOI/records/variable → index datasets → list → cube → admin. */
class GeocubeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root: String = java.nio.file.Files.createTempDirectory("graft-api").toString
  val cat: Catalog = Catalog(root)
  lazy val gc: Geocube = Geocube(spark, cat)

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
  val box: BBox = BBox(0, 0, 4, 4)

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(new java.io.File(root))
  }

  test("full client flow: create -> index -> list -> cube") {
    // AOI dedups by geometry hash
    val aoiId = gc.createAoi(GeomOps.polygonFromBBox(box))
    assert(gc.createAoi(GeomOps.polygonFromBBox(box)) == aoiId)
    assert(cat.read(spark, "aoi").count() == 1)
    assert(gc.getAoi(aoiId).get.getArea == 16.0)

    gc.createRecords(Seq(
      gc.NewRecord("r1", "scene-1", ts("2024-01-01 00:00:00"), Map("sat" -> "S2A"), aoiId),
      gc.NewRecord("r2", "scene-2", ts("2024-01-02 00:00:00"), Map("sat" -> "S2B"), aoiId)))
    gc.createVariable(gc.NewVariable(id = "v1", name = "ndvi",
      dtype = "uint8", noData = 255.0, minValue = 0.0, maxValue = 254.0))
    gc.instantiateVariable("v1", "i1", "master")
    assert(gc.listVariables("nd*").count() == 1)

    // seed a container + tile, then index datasets through the rpc
    cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("mem://c1", true, "STANDARD"))), graft.catalog.Schemas.all("containers")),
      "containers")
    cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("mem://c1", "", 4, 4, 1, "uint8", "EPSG:4326",
        Seq(0.0, 1.0, 0.0, 4.0, 0.0, -1.0),
        new graft.raster.Bitmap(4, 4, 1, DType.UInt8,
          Array.fill(16)(100.0)).toBytes))), graft.catalog.Schemas.all("tiles")),
      "tiles")
    gc.indexExternalDatasets(Seq(IndexDatasets.NewDataset(
      recordId = "r1", instanceId = "i1", containerUri = "mem://c1",
      dformat = DataFormat(DType.UInt8, 255.0, NumRange(0, 254)),
      realMin = 0, realMax = 254)))
    assert(gc.listDatasets("i1").count() == 1)
    assert(gc.getRecords(Seq("r2", "r1")).select("id").collect()
      .map(_.getString(0)).toSeq == Seq("r2", "r1")) // order preserved

    // tags rpcs
    assert(gc.addRecordsTags(Seq("r1"), Map("proc" -> "L2")) == 1)
    assert(gc.listRecords(tags = Map("proc" -> "L2")).count() == 1)
    // UPSERT of an existing key (the reference's hstore ||): a bare
    // map_concat threw Duplicate map key under ANSI dedup policy
    assert(gc.addRecordsTags(Seq("r1"), Map("proc" -> "L2A")) == 1)
    assert(gc.listRecords(tags = Map("proc" -> "L2A")).count() == 1)
    assert(gc.listRecords(tags = Map("proc" -> "L2")).count() == 0)
    assert(gc.removeRecordsTags(Seq("r1"), Seq("proc")) == 1)
    assert(gc.listRecords(tags = Map("proc" -> "L2A")).count() == 0)

    // deleteRecords refuses while a dataset references the record (the
    // reference's FK) — r1 has the indexed dataset
    intercept[IllegalArgumentException](gc.deleteRecords(Seq("r1")))
    assert(gc.listRecords().count() == 2)

    // the cube rpc
    val slices = gc.getCubeFromRecords(Seq(Seq("r1")), Seq("i1"),
      "EPSG:4326", Affine.northUp(0, 4, 1, -1), 4, 4).collect()
    assert(slices.length == 1 && slices(0).record_ids == Seq("r1"))

    // admin: tidy drops the datasets-less r2 (and nothing else needed)
    val deleted = gc.tidyDb()
    assert(deleted("records") == 1)
    assert(gc.listRecords().count() == 1)
  }

  test("listJobs is one row per job; cleanJobs matches the CURRENT state only") {
    val t0 = ts("2024-01-01 00:00:00"); val t1 = ts("2024-01-01 00:00:01")
    def jrow(id: String, name: String, tpe: String, state: String,
        at: java.sql.Timestamp): Row =
      Row(id, name, tpe, state, 0, 0, "", at, at)
    cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      jrow("cjxa", "cjx-a", "CONSOLIDATION", "NEW", t0),
      jrow("cjxa", "cjx-a", "CONSOLIDATION", "CONSOLIDATIONINPROGRESS", t1),
      Row("cjxa", "cjx-run-batch-0", "TASKEVENT", "COUNTERS", 1, 0, "", t1, t1),
      jrow("cjxb", "cjx-b", "CONSOLIDATION", "NEW", t0),
      jrow("cjxb", "cjx-b", "CONSOLIDATION", "DONE", t1))),
      graft.catalog.Schemas.all("jobs")), "jobs")
    // one row per job at its LATEST state; counter rows excluded
    val listed = gc.listJobs("cjx*").collect()
      .map(r => (r.getAs[String]("id"), r.getAs[String]("state"))).toSet
    assert(listed == Set(("cjxa", "CONSOLIDATIONINPROGRESS"), ("cjxb", "DONE")))
    // every job has a historical NEW row — matching it would sweep the
    // MID-FLIGHT job and destroy its journal/lock state
    assert(gc.cleanJobs("cjx*", state = Some("NEW")) == 0)
    // the current-DONE job sweeps whole (both journal rows)
    assert(gc.cleanJobs("cjx*", state = Some("DONE")) == 2)
    assert(cat.read(spark, "jobs").filter(col("id") === "cjxb").count() == 0)
    assert(cat.read(spark, "jobs").filter(col("id") === "cjxa").count() == 3)
    gc.cleanJobs("cjx*") // tidy the fixture
  }

  test("cleanJobs retires DONE jobs' TASKEVENT counters even when the journal is kept") {
    val t0 = ts("2024-01-02 00:00:00"); val t1 = ts("2024-01-02 00:00:01")
    def jrow(id: String, name: String, tpe: String, state: String,
        at: java.sql.Timestamp): Row =
      Row(id, name, tpe, state, 0, 0, "", at, at)
    cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      jrow("cte1", "cte-done", "CONSOLIDATION", "NEW", t0),
      jrow("cte1", "cte-done", "CONSOLIDATION", "DONE", t1),
      Row("cte1", "run-task-t1", "TASKEVENT", "COUNTERS", 1, 0, "", t1, t1),
      Row("cte1", "run-task-t2", "TASKEVENT", "COUNTERS", 1, 0, "", t1, t1),
      jrow("cte2", "cte-live", "CONSOLIDATION", "CONSOLIDATIONINPROGRESS", t0),
      Row("cte2", "run-task-t3", "TASKEVENT", "COUNTERS", 1, 0, "", t0, t0))),
      graft.catalog.Schemas.all("jobs")), "jobs")
    // a clean that matches NO victim (state filter misses) still retires
    // the DONE job's counter rows — the journal rows stay as history
    assert(gc.cleanJobs("cte-*", state = Some("FAILED")) == 2)
    assert(cat.read(spark, "jobs")
      .filter(col("id") === "cte1" && col("type") === "TASKEVENT").count() == 0)
    assert(cat.read(spark, "jobs").filter(col("id") === "cte1").count() == 2)
    // the in-flight job's counters are untouched (its FSM still reads them)
    assert(cat.read(spark, "jobs")
      .filter(col("id") === "cte2" && col("type") === "TASKEVENT").count() == 1)
    gc.cleanJobs("cte-*") // tidy the fixture
  }

  test("cleanJobs leaves non-victim jobs' task partitions byte-identical") {
    val t0 = ts("2024-01-03 00:00:00"); val t1 = ts("2024-01-03 00:00:01")
    def jrow(id: String, name: String, tpe: String, state: String,
        at: java.sql.Timestamp): Row =
      Row(id, name, tpe, state, 0, 0, "", at, at)
    cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      jrow("cnv1", "cnv-done", "CONSOLIDATION", "NEW", t0),
      jrow("cnv1", "cnv-done", "CONSOLIDATION", "DONE", t1),
      jrow("cnv2", "cnv-live", "CONSOLIDATION", "CONSOLIDATIONINPROGRESS", t0))),
      graft.catalog.Schemas.all("jobs")), "jobs")
    cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("t1", "cnv1", "DONE", ""), Row("t2", "cnv1", "DONE", ""),
      Row("t3", "cnv2", "LOCK", ""), Row("t4", "cnv2", "NEW", ""))),
      graft.catalog.Schemas.all("tasks")), "tasks")
    // the live job's task partition before the clean, byte for byte
    def liveState = graft.catalog.CatalogTestIO.partitionState(root, "tasks", "job_id=cnv2")
    val before = liveState
    assert(before.nonEmpty)
    // sweep the DONE job: its tasks cascade is PARTITION-scoped — the
    // in-flight job's task partition must not be listed/rewritten
    // (r11 verdict #2: cleanJobs was the one delete path still doing a
    // full tasks rewrite)
    assert(gc.cleanJobs("cnv-*", state = Some("DONE")) == 2)
    assert(!graft.catalog.CatalogTestIO.livePartitions(spark, cat, "tasks")
      .contains("job_id=cnv1"))
    assert(liveState == before,
      "non-victim task partition was touched by cleanJobs")
    assert(cat.read(spark, "tasks").select("job_id").collect()
      .map(_.getString(0)).toSet == Set("cnv2"))
    // tidy: drop the remaining fixture rows
    gc.cleanJobs("cnv-*")
    cat.updatePartitions(spark, "tasks", Seq("cnv2"), _.filter(lit(false)))
  }

  test("grids and layouts rpcs") {
    gc.createGrid("g1", Seq(
      ("c1", "EPSG:4326", GeomOps.polygonFromBBox(BBox(0, 0, 10, 10)))))
    assert(gc.listGrids("g*").collect().map(_.getString(0)).toSeq == Seq("g1"))
    val layout = graft.layout.Layout("l1", Seq("regular"),
      Map("crs" -> "EPSG:4326", "resolution" -> "1", "cell_size" -> "4"),
      interlacingPattern = "Z=0>T>R>B;Z=1:>R>T>B")
    gc.createLayout(layout)
    assert(gc.listLayouts().count() == 1)
    assertThrows[IllegalArgumentException](gc.createLayout(
      layout.copy(name = "bad", interlacingPattern = "R>B")))
    val batches = gc.tileAoi(GeomOps.polygonFromBBox(BBox(0, 0, 8, 8)), layout).toSeq
    assert(batches.flatten.size == 4) // 2×2 cells of 4px at 1°
  }

  test("palette CRUD + name-resolved palette on the XYZ tile path") {
    import graft.cube.Palette
    val blueRed = Palette("heat", Seq(
      Palette.ColorPoint(0f, 0, 0, 255, 255), Palette.ColorPoint(1f, 255, 0, 0, 255)))
    gc.createPalette(blueRed)
    assert(gc.getPalette("heat").contains(blueRed))
    assert(gc.getPalette("nope").isEmpty)
    // duplicate name refuses without replace; replace upserts
    assertThrows[IllegalArgumentException](gc.createPalette(blueRed))
    val greens = Palette("heat", Seq(
      Palette.ColorPoint(0f, 0, 32, 0, 255), Palette.ColorPoint(1f, 0, 224, 0, 255)))
    gc.createPalette(greens, replace = true)
    assert(gc.getPalette("heat").contains(greens))

    // a variable NAMES the palette; XYZ serving resolves it from the
    // catalog (catalog.go:454-467) — no palette object passed by the user
    gc.createVariable(gc.NewVariable(id = "v2", name = "colored",
      dtype = "uint8", noData = 255.0, minValue = 0.0, maxValue = 254.0,
      palette = "heat"))
    gc.instantiateVariable("v2", "i2", "master")
    gc.indexExternalDatasets(Seq(IndexDatasets.NewDataset(
      recordId = "r1", instanceId = "i2", containerUri = "mem://c1",
      dformat = DataFormat(DType.UInt8, 255.0, NumRange(0, 254)),
      realMin = 0, realMax = 254)))
    // z6/x32/y31 covers lon [0,5.6°], lat [0,5.6°] — the fixture footprint
    val png = gc.getXyzTile("i2", 32, 31, 6).get
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    // every data pixel carries value 100 → lut(100) of the CURRENT
    // (replaced) palette, converted RGBA→ARGB exactly like toPng
    val rgba = greens.paletteN(255)(100)
    val expected = ((rgba & 0xff) << 24) | (rgba >>> 8)
    val pixels = for (y <- 0 until 256; x <- 0 until 256) yield img.getRGB(x, y)
    assert(pixels.exists(_ == expected)) // data pixels palette-mapped
    assert(pixels.forall(p => p == expected || p == 0)) // rest transparent
    assert(pixels.exists(_ == 0)) // footprint doesn't fill the tile

    // a dangling palette name fails the request (ReadPalette error path),
    // not silently grayscale — the palette resolves only once a mosaic
    // exists to render (reference order), so i3 needs a dataset
    gc.createVariable(gc.NewVariable(id = "v3", name = "dangling",
      dtype = "uint8", noData = 255.0, minValue = 0.0, maxValue = 254.0,
      palette = "missing-palette"))
    gc.instantiateVariable("v3", "i3", "master")
    gc.indexExternalDatasets(Seq(IndexDatasets.NewDataset(
      recordId = "r1", instanceId = "i3", containerUri = "mem://c1",
      dformat = DataFormat(DType.UInt8, 255.0, NumRange(0, 254)),
      realMin = 0, realMax = 254)))
    assertThrows[IllegalArgumentException](gc.getXyzTile("i3", 32, 31, 6))
    // an empty tile short-circuits BEFORE palette resolution (no data →
    // no render → no palette read), mirroring the reference's order
    assert(gc.getXyzTile("i3", 40, 31, 6).isEmpty)
  }

  test("variable lifecycle: update/get by id-instance-name, guarded deletes") {
    // partial update: only the named fields change
    assert(gc.updateVariable("v1", name = Some("ndvi2"), unit = Some("idx"),
      resamplingAlg = Some("cubic")))
    val byName = gc.getVariable(variableName = "ndvi2").get
    assert(byName.id == "v1" && byName.unit == "idx" &&
      byName.resamplingAlg == "cubic" && byName.dtype == "uint8")
    // resolution precedence: id > instance > name, first non-empty wins
    assert(gc.getVariable(instanceId = "i1").get.id == "v1")
    assert(gc.getVariable(variableId = "v1").get.instances.map(_.name) ==
      Seq("master"))
    assertThrows[IllegalArgumentException](gc.getVariable())
    assert(gc.getVariable(variableId = "nope").isEmpty)
    assert(!gc.updateVariable("nope", name = Some("x")))
    // renaming onto an existing variable's name refuses
    assertThrows[IllegalArgumentException](
      gc.updateVariable("v2", name = Some("ndvi2")))
    // bad resampling name refuses up front
    assertThrows[IllegalArgumentException](
      gc.updateVariable("v1", resamplingAlg = Some("bogus")))

    // instance update: rename + metadata merge/delete
    assert(gc.updateInstance("i1", name = Some("master2"),
      newMetadata = Map("k" -> "v", "drop" -> "me")))
    assert(gc.updateInstance("i1", delMetadataKeys = Seq("drop")))
    val vi = gc.getVariable(variableId = "v1").get.instances.head
    assert(vi.name == "master2" && vi.metadata == Map("k" -> "v"))
    assert(!gc.updateInstance("nope"))

    // deletes refuse while datasets reference the instance
    assert(!gc.deleteInstance("i1"))
    assert(!gc.deleteVariable("v1"))
    assertThrows[NoSuchElementException](gc.deleteInstance("ghost"))
    assertThrows[NoSuchElementException](gc.deleteVariable("ghost"))
    // an unused variable deletes whole (definition + instances)
    gc.createVariable(gc.NewVariable(id = "v9", name = "temp",
      dtype = "uint8", noData = 255.0, minValue = 0.0, maxValue = 254.0))
    gc.instantiateVariable("v9", "i9a", "a")
    gc.instantiateVariable("v9", "i9b", "b")
    assert(gc.deleteInstance("i9b"))
    assert(gc.deleteVariable("v9"))
    assert(gc.getVariable(variableId = "v9").isEmpty)
    assert(cat.read(spark, "variable_instances")
      .filter(col("definition_id") === "v9").count() == 0)
  }

  test("updateVariable palette swap is visible on the XYZ serving path") {
    import graft.cube.Palette
    val reds = Palette("heat-v2", Seq(
      Palette.ColorPoint(0f, 255, 0, 0, 255), Palette.ColorPoint(1f, 255, 255, 0, 255)))
    gc.createPalette(reds)
    assert(gc.updateVariable("v2", palette = Some("heat-v2")))
    val png = gc.getXyzTile("i2", 32, 31, 6).get
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val rgba = reds.paletteN(255)(100)
    val expected = ((rgba & 0xff) << 24) | (rgba >>> 8)
    val pixels = for (y <- 0 until 256; x <- 0 until 256) yield img.getRGB(x, y)
    assert(pixels.exists(_ == expected), "tile not re-colored by the updated palette")
  }

  test("XYZ tile record scoping: explicit ids and tags+time filters") {
    // i2 serves r1's dataset (sat=S2A from the flow test)
    assert(gc.getXyzTile("i2", 32, 31, 6, recordIds = Seq("r1")).isDefined)
    assert(gc.getXyzTile("i2", 32, 31, 6, recordIds = Seq("r-none")).isEmpty)
    assert(gc.getXyzTileFromFilters("i2", tags = Map("sat" -> "S2A"),
      x = 32, y = 31, z = 6).isDefined)
    assert(gc.getXyzTileFromFilters("i2", tags = Map("sat" -> "nope"),
      x = 32, y = 31, z = 6).isEmpty)
    assert(gc.getXyzTileFromFilters("i2",
      fromTime = Some(ts("2024-02-01 00:00:00")),
      x = 32, y = 31, z = 6).isEmpty) // r1 is 2024-01-01: outside window
  }

  test("deleteGrid / deleteLayout with in-use guards; findContainerLayouts") {
    // layout delete: free layout deletes, referenced one refuses
    val l2 = graft.layout.Layout("l2", Seq("regular"),
      Map("crs" -> "EPSG:4326", "resolution" -> "1", "cell_size" -> "4"))
    gc.createLayout(l2)
    assert(gc.deleteLayout("l2"))
    assert(!gc.deleteLayout("l2")) // gone: not found
    gc.createLayout(l2)
    // a consolidated container following l2 (the C5 container_layouts row)
    cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("mem://c1", "l2"))), graft.catalog.Schemas.all("container_layouts")),
      "container_layouts")
    assertThrows[IllegalArgumentException](gc.deleteLayout("l2"))
    // FindContainerLayouts: i1's ACTIVE dataset sits on mem://c1
    val found = gc.findContainerLayouts("i1").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(found == Seq(("l2", "mem://c1")))
    // an instance with no datasets finds nothing
    assert(gc.findContainerLayouts("i-none").count() == 0)

    // grid delete: referenced by a layout's grid_flags refuses
    gc.createGrid("g2", Seq(
      ("c1", "EPSG:4326", GeomOps.polygonFromBBox(BBox(0, 0, 10, 10)))))
    val lg = graft.layout.Layout("lg", Seq("g2"),
      Map("crs" -> "EPSG:4326", "resolution" -> "1", "cell_size" -> "4"))
    gc.createLayout(lg)
    // the stored custom-grid layout is USABLE, not just creatable: TileAOI
    // resolves the grid against the cells table and streams its cells
    val customCells = gc.tileAoi(
      GeomOps.polygonFromBBox(BBox(0, 0, 8, 8)), lg).toSeq.flatten
    assert(customCells.map(_.uri) == Seq("c1"))
    assertThrows[IllegalArgumentException](gc.deleteGrid("g2"))
    assert(gc.deleteLayout("lg"))
    assert(gc.deleteGrid("g2"))
    assert(cat.read(spark, "cells").filter(col("grid") === "g2").count() == 0)
    assert(!gc.deleteGrid("g2")) // gone: not found
  }

  test("version reports the pinned engine version (service.go:1362)") {
    assert(gc.version == Geocube.EngineVersion && gc.version.nonEmpty)
  }

  test("createLayout rejects unusable custom-grid layouts at create time") {
    gc.createGrid("g3", Seq(
      ("c1", "EPSG:4326", GeomOps.polygonFromBBox(BBox(0, 0, 10, 10)))))
    // the reference fails creation, not first use (layout.go:120-129 +
    // customgrid.go:26-41): missing resolution...
    assertThrows[IllegalArgumentException](gc.createLayout(
      graft.layout.Layout("lbad", Seq("g3"), Map("crs" -> "EPSG:4326"))))
    // ...non-positive resolution...
    assertThrows[IllegalArgumentException](gc.createLayout(
      graft.layout.Layout("lbad2", Seq("g3"), Map("resolution" -> "-1"))))
    // ...an unsupported subgrid kind...
    assertThrows[IllegalArgumentException](gc.createLayout(
      graft.layout.Layout("lbad3", Seq("g3"),
        Map("resolution" -> "1", "subgrid" -> "bogus"))))
    // ...or a regular subgrid with no cell sizes
    assertThrows[Exception](gc.createLayout(
      graft.layout.Layout("lbad4", Seq("g3"),
        Map("resolution" -> "1", "subgrid" -> "regular"))))
    assert(gc.listLayouts().filter(col("name").startsWith("lbad")).count() == 0)
    assert(gc.deleteGrid("g3")) // nothing was created that references it
  }
}
