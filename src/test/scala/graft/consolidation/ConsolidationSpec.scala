package graft.consolidation

import graft.catalog._
import graft.core._
import graft.geo.{Affine, BBox, GeomOps}
import graft.layout.Layout
import graft.raster.{Bitmap, Resampling}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end consolidation job (§3.2): seed scattered per-record tiles,
  * run the FSM, assert the re-tiled containers + the atomic swap. */
class ConsolidationSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root: String = java.nio.file.Files.createTempDirectory("graft-csld").toString
  val cat: Catalog = Catalog(root)

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
  def wkbBox(b: BBox): Array[Byte] = GeomOps.writeWkb(GeomOps.polygonFromBBox(b))
  def bboxRow(b: BBox): Row = Row(b.xmin, b.ymin, b.xmax, b.ymax)

  val uint8Map: DataMapping = DataMapping(
    DataFormat(DType.UInt8, 255.0, NumRange(0, 254)), NumRange(0, 254), 1.0)

  override def beforeAll(): Unit = {
    val sc = spark
    def write(table: String, rows: Seq[Row]): Unit =
      cat.append(sc.createDataFrame(
        sc.sparkContext.parallelize(rows), Schemas.all(table)), table)

    // two records, each with one 4×4 uint8 tile over [0,4]²
    val box = BBox(0, 0, 4, 4)
    write("aoi", Seq(Row("a1", "h1", wkbBox(box), bboxRow(box))))
    write("records", Seq(
      Row("r1", "s1", ts("2024-01-01 00:00:00"), Map.empty[String, String], "a1"),
      Row("r2", "s2", ts("2024-01-02 00:00:00"), Map.empty[String, String], "a1")))
    write("variable_definitions", Seq(
      Row("v1", "b", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "", "near")))
    write("variable_instances", Seq(Row("i1", "m", Map.empty[String, String], "v1")))
    write("containers", Seq(Row("mem://c1", false, "STANDARD"), Row("mem://c2", false, "STANDARD")))
    def dsRow(id: String, rid: String, uri: String): Row =
      Row(id, rid, "i1", uri, "", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false,
        wkbBox(box), wkbBox(box), 4326, bboxRow(box))
    write("datasets", Seq(dsRow("d1", "r1", "mem://c1"), dsRow("d2", "r2", "mem://c2")))
    def tile(uri: String, v: Double): Row =
      Row(uri, "", 4, 4, 1, "uint8", "EPSG:4326", Seq(0.0, 1.0, 0.0, 4.0, 0.0, -1.0),
        new Bitmap(4, 4, 1, DType.UInt8, Array.fill(16)(v)).toBytes)
    write("tiles", Seq(tile("mem://c1", 10.0), tile("mem://c2", 20.0)))
  }

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(new java.io.File(root))
  }

  // layout: one 8×8-px cell of 0.5° resolution covers [0,4]² exactly;
  // overviewsMinSize 4 → one ×2 overview level per record
  val layout: Layout = Layout("cells", Seq("regular"),
    Map("crs" -> "EPSG:4326", "resolution" -> "0.5", "cell_size" -> "8"),
    maxRecords = 4, overviewsMinSize = 4)

  test("full consolidation job: FSM to DONE, containers stacked, swap atomic") {
    val spec = ConsolidationJob.Spec("job1", "test", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    val finalState = ConsolidationJob.run(spark, cat, spec)
    assert(finalState == "DONE")

    // job journal recorded every transition
    val states = cat.read(spark, "jobs").filter(col("id") === "job1")
      .orderBy("created_at").select("state").collect().map(_.getString(0)).toSeq
    assert(states == ConsolidationJob.states)

    // the old datasets are gone; exactly 2 new ACTIVE datasets (one per
    // record) pointing at the consolidated container with GTIFF_DIR subdirs
    val ds = cat.read(spark, "datasets").collect()
    assert(ds.length == 2)
    assert(ds.forall(_.getAs[String]("status") == "ACTIVE"))
    assert(ds.forall(_.getAs[String]("container_uri").startsWith(s"$root/containers/job1/")))
    assert(ds.map(_.getAs[String]("subdir")).toSet == Set("GTIFF_DIR:1", "GTIFF_DIR:2"))

    // consolidated tiles: 8×8 base per record + one 4×4 overview each
    val allTiles = cat.read(spark, "tiles")
      .filter(col("container_uri").startsWith(s"$root/containers/job1/")).collect()
    assert(allTiles.length == 4)
    assert(allTiles.map(_.getAs[String]("subdir")).toSet ==
      Set("GTIFF_DIR:1", "GTIFF_DIR:2", "GTIFF_DIR:1@ov1", "GTIFF_DIR:2@ov1"))
    val ov = allTiles.find(_.getAs[String]("subdir") == "GTIFF_DIR:1@ov1").get
    assert(ov.getAs[Int]("width") == 4 && ov.getAs[Int]("height") == 4)
    val tiles = allTiles.filterNot(_.getAs[String]("subdir").contains("@ov"))
    val bySubdir = tiles.map(t => t.getAs[String]("subdir") -> t).toMap
    val bm1 = Bitmap.fromBytes(bySubdir("GTIFF_DIR:1").getAs[Array[Byte]]("payload"),
      8, 8, 1, DType.UInt8)
    assert(bm1.pixels.forall(_ == 10.0)) // r1 (older) is dir 1
    val bm2 = Bitmap.fromBytes(bySubdir("GTIFF_DIR:2").getAs[Array[Byte]]("payload"),
      8, 8, 1, DType.UInt8)
    assert(bm2.pixels.forall(_ == 20.0))

    // old unmanaged containers were GC'd with their tiles
    // C5 journals which layout each new container follows
    val cls = cat.read(spark, "container_layouts").collect()
    assert(cls.nonEmpty && cls.forall(r =>
      r.getString(1) == "cells" &&
      r.getString(0).startsWith(s"$root/containers/job1/")))
    val uris = cat.read(spark, "containers").select("uri")
      .collect().map(_.getString(0)).toSet
    assert(!uris.contains("mem://c1") && !uris.contains("mem://c2"))
  }

  test("consolidated catalog still serves GetCube (read-after-swap)") {
    import graft.cube._
    val slices = GetCube.cube(spark, cat, CubeRequest(
      instanceIds = Seq("i1"), crs = "EPSG:4326",
      transform = Affine.northUp(0, 4, 1, -1), width = 4, height = 4)).collect()
    assert(slices.length == 2)
    val bm = Bitmap.fromBytes(slices(0).payload, 4, 4, 1, DType.UInt8)
    assert(bm.pixels.forall(_ == 10.0))
  }

  test("overview selection (-ovr AUTO): coarse requests read the pyramid") {
    import graft.cube._
    // fine request (res 0.5° = base res) → base 8×8 level
    val fine = GetCube.datasetTiles(spark, cat, CubeRequest(
      instanceIds = Seq("i1"), crs = "EPSG:4326",
      transform = Affine.northUp(0, 4, 0.5, -0.5), width = 8, height = 8)).collect()
    assert(fine.nonEmpty && fine.forall(_.t_width == 8))
    // coarse request (res 2°) → the 4×4 overview (res 1°) is adequate
    val coarse = GetCube.datasetTiles(spark, cat, CubeRequest(
      instanceIds = Seq("i1"), crs = "EPSG:4326",
      transform = Affine.northUp(0, 4, 2, -2), width = 2, height = 2)).collect()
    assert(coarse.nonEmpty && coarse.forall(_.t_width == 4))
    // and the coarse cube still merges to the right values
    val slices = GetCube.cube(spark, cat, CubeRequest(
      instanceIds = Seq("i1"), crs = "EPSG:4326",
      transform = Affine.northUp(0, 4, 2, -2), width = 2, height = 2)).collect()
    val bm = Bitmap.fromBytes(slices(0).payload, 2, 2, 1, DType.UInt8)
    assert(bm.pixels.forall(_ == 10.0))
  }

  test("collapse variant (C9): all records consolidate onto one record") {
    // prepareOrders with collapse: every dataset packs under the target
    // record, so one container slot (GTIFF_DIR:1) holds the whole mosaic
    val tasks = Consolidation.prepareOrders(spark, cat, "jobC", "i1",
      Seq("r1", "r2"), layout, collapseOnRecordId = Some("r1"))
    val rows = tasks.collect()
    assert(rows.length == 1)
    val ds = rows(0).getAs[scala.collection.Seq[Row]]("datasets")
    assert(ds.map(_.getAs[String]("record_id")).toSet == Set("r1"))
  }

  test("valid shape in cell (A7): union ∩ cell, empty when disjoint") {
    import graft.geo.{BBox, GeomOps}
    val cell = GeomOps.polygonFromBBox(BBox(0, 0, 10, 10))
    val shapes = Seq(
      GeomOps.polygonFromBBox(BBox(-5, -5, 2, 2)),
      GeomOps.polygonFromBBox(BBox(8, 8, 15, 15)))
    val vs = Consolidation.validShapeInCell(shapes, cell).get
    assert(vs.getArea === 2.0 * 2 + 2 * 2) // two clipped corners
    assert(Consolidation.validShapeInCell(
      Seq(GeomOps.polygonFromBBox(BBox(20, 20, 30, 30))), cell).isEmpty)
    assert(Consolidation.validShapeInCell(Nil, cell).isEmpty)
  }

  test("physical MuCOG export of a consolidated container (layout-driven)") {
    // the consolidated container from job1 has GTIFF_DIR:n + @ov pyramid
    // rows; export must skip @ov rows and honor the layout's interlacing
    val uri = cat.read(spark, "datasets")
      .filter(col("container_uri").startsWith(s"$root/containers/job1/"))
      .select("container_uri").collect().head.getString(0)
    val mucogLayout = Layout("cells", Seq("regular"),
      Map("crs" -> "EPSG:4326", "resolution" -> "0.5", "cell_size" -> "8"),
      blockXSize = 16, blockYSize = 16, maxRecords = 4, overviewsMinSize = 4,
      interlacingPattern = "Z=0>T>R>B;Z=1:>R>T>B").validate()
    val bytes = Consolidation.exportPhysical(spark, cat, uri, mucogLayout, 255.0)
    val tiff = graft.raster.GeoTiff.open(bytes)
    val fulls = (0 until tiff.records).map(r => tiff.decode(tiff.level(r)))
    assert(fulls.size == 2 && tiff.headers.size > fulls.size) // records + overviews
    assert(fulls.forall(_.bitmap.width == 8))
    // a bad interlacing pattern fails validation up front
    assertThrows[IllegalArgumentException](
      Layout("x", Seq("regular"), Map("crs" -> "EPSG:4326", "resolution" -> "1",
        "cell_size" -> "8"), interlacingPattern = "R>B>Z").validate())
  }

  test("distributed physical export: files built + written on executors") {
    // every consolidated container of job1 exports in ONE distributed pass;
    // the driver-visible result is a manifest (uri, path, n_bytes) — no
    // payload column anywhere in the returned schema
    val uris = cat.read(spark, "datasets")
      .filter(col("container_uri").startsWith(s"$root/containers/job1/"))
      .select("container_uri").distinct().collect().map(_.getString(0)).toSeq
    assert(uris.nonEmpty)
    val outDir = java.nio.file.Files.createTempDirectory("mucog-out").toString
    val mucogLayout = Layout("cells", Seq("regular"),
      Map("crs" -> "EPSG:4326", "resolution" -> "0.5", "cell_size" -> "8"),
      blockXSize = 16, blockYSize = 16, maxRecords = 4, overviewsMinSize = 4,
      interlacingPattern = "Z=0>T>R>B;Z=1:>R>T>B").validate()
    val manifest = Consolidation.exportPhysicalAll(
      spark, cat, uris, outDir, mucogLayout, 255.0)
    assert(manifest.schema.fieldNames.toSeq == Seq("container_uri", "path", "n_bytes"))
    val rows = manifest.collect()
    assert(rows.length == uris.length)
    // each written file is a valid multi-IFD MuCOG readable by the codec
    rows.foreach { r =>
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(new java.net.URI(
          "file:" + r.getAs[String]("path").stripPrefix("file:"))))
      assert(bytes.length == r.getAs[Long]("n_bytes"))
      val headers = graft.raster.GeoTiff.open(bytes).headers
      assert(headers.exists(!_.isOverview) && headers.exists(_.isOverview))
    }
  }

  test("step-by-step execution level: pause after a state, resume to DONE") {
    val spec = ConsolidationJob.Spec("job3", "stepwise", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    // pause after C3: tasks journaled, no outputs built yet
    val paused = ConsolidationJob.run(spark, cat, spec,
      pauseAfter = Some("CONSOLIDATIONINPROGRESS"))
    assert(paused == "CONSOLIDATIONINPROGRESS")
    assert(cat.read(spark, "containers")
      .filter(col("uri").startsWith(s"$root/containers/job3/")).count() == 0)
    // resume: journaled states skip, the rest drives to DONE
    assert(ConsolidationJob.run(spark, cat, spec) == "DONE")
    val active = cat.read(spark, "datasets").filter(col("status") === "ACTIVE")
    assert(active.collect().forall(
      _.getAs[String]("container_uri").startsWith(s"$root/containers/job3/")))
    // journal holds the full state history exactly once each
    val states = cat.read(spark, "jobs").filter(col("id") === "job3")
      .select("state").collect().map(_.getString(0)).toSeq
    assert(states.count(_ == "CONSOLIDATIONINPROGRESS") == 1)
    assert(states.contains("DONE"))
  }

  test("crash between C4 appends and DONE journal: rerun purges, no duplicates") {
    val spec = ConsolidationJob.Spec("job4", "crashy", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat, spec,
      pauseAfter = Some("CONSOLIDATIONINPROGRESS")) == "CONSOLIDATIONINPROGRESS")
    // simulate the crash window: C4's tiles/containers appends land in the
    // catalog, but CONSOLIDATIONDONE is never journaled
    val tasks = Consolidation.prepareOrders(spark, cat, "job4", "i1",
      Seq("r1", "r2"), layout, None)
    // scratch debris from hard-crashed jobs: a STALE foreign dir is
    // reclaimed by this C4 pass, a FRESH one (possibly a live concurrent
    // job's materialization) survives
    val staleScratch = new java.io.File(s"$root/.c4scratch/dead-old-job")
    val freshScratch = new java.io.File(s"$root/.c4scratch/live-other-job")
    staleScratch.mkdirs(); freshScratch.mkdirs()
    staleScratch.setLastModified(1000L)
    Consolidation.consolidate(spark, cat, "job4", tasks, spec.params,
      layout.overviewsMinSize)
    assert(!staleScratch.exists, "stale crashed-job scratch not reclaimed")
    assert(freshScratch.exists, "fresh (possibly live) scratch was reclaimed")
    graft.catalog.CatalogTestIO.rm(freshScratch)
    val jobTiles = cat.read(spark, "tiles")
      .filter(col("container_uri").startsWith(s"$root/containers/job4/"))
    val partial = jobTiles.count()
    assert(partial > 0)
    // rerun: resume must purge the partial outputs before redoing C4 —
    // without the unconditional purge this doubles every tile/container row
    assert(ConsolidationJob.run(spark, cat, spec) == "DONE")
    val after = cat.read(spark, "tiles")
      .filter(col("container_uri").startsWith(s"$root/containers/job4/")).collect()
    assert(after.length == partial)
    assert(after.map(r => (r.getAs[String]("container_uri"),
      r.getAs[String]("subdir"))).distinct.length == after.length)
    val uris = cat.read(spark, "containers")
      .filter(col("uri").startsWith(s"$root/containers/job4/"))
      .select("uri").collect().map(_.getString(0)).toSeq
    assert(uris.distinct.length == uris.length)
  }

  test("init failure journals INITIALISATIONFAILED (job.go:493); retryable") {
    // nothing was locked or written, so this is the reference's
    // INITIALISATIONFAILED — not the post-rollback terminal FAILED
    val spec = ConsolidationJob.Spec("job2", "bad", "missing-instance", Seq("rX"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat, spec) == "INITIALISATIONFAILED")
    val states = cat.read(spark, "jobs").filter(col("id") === "job2")
      .select("state").collect().map(_.getString(0)).toSet
    assert(states.contains("INITIALISATIONFAILED") && !states.contains("FAILED"))
    // catalog untouched
    assert(cat.read(spark, "datasets").count() == 2)
    // retry with the cause unfixed re-enters and fails init again
    assert(ConsolidationJob.retry(spark, cat, spec) == "INITIALISATIONFAILED")
  }

  test("init failure retried with the cause fixed drives to DONE") {
    val cat2 = twoCellCatalog("initfix", poisonR2 = false)
    val bad = ConsolidationJob.Spec("ji1", "initfix", "i1", Seq("rX"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat2, bad) == "INITIALISATIONFAILED")
    // the user fixes the request (the record list) and retries the job id
    assert(ConsolidationJob.retry(spark, cat2,
      bad.copy(recordIds = Seq("r1", "r2"))) == "DONE")
    assert(cat2.read(spark, "datasets").filter(col("status") === "ACTIVE")
      .count() == 2)
  }

  test("rollback failure journals ROLLBACKFAILED; retry re-attempts the rollback") {
    val cat2 = twoCellCatalog("rbfail", poisonR2 = false)
    val spec = ConsolidationJob.Spec("jb1", "rbfail", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat2, spec,
      pauseAfter = Some("CONSOLIDATIONDONE")) == "CONSOLIDATIONDONE")
    // poison the datasets table (the i1 partition's live files turned
    // to garbage): the resume's lock read fails mid-flight AND the
    // rollback's own rewrite fails — the reference's ROLLBACKFAILED,
    // never a clean-looking FAILED
    val repair = poisonLive(cat2, "datasets", _.contains("/instance_id=i1/"))
    assert(ConsolidationJob.run(spark, cat2, spec) == "ROLLBACKFAILED")
    assert(cat2.read(spark, "jobs").filter(col("id") === "jb1" &&
      col("state") === "ROLLBACKFAILED").count() == 1)
    // repair the table; retry re-attempts ONLY the rollback → FAILED
    repair()
    assert(ConsolidationJob.retry(spark, cat2, spec) == "FAILED")
    val ds = cat2.read(spark, "datasets").collect()
    assert(ds.length == 2 && ds.forall(_.getAs[String]("status") == "ACTIVE"))
  }

  test("cancel before the swap rolls back; ABORTED is terminal") {
    // fresh catalog so the shared fixture's state machine is untouched
    val root2 = java.nio.file.Files.createTempDirectory("graft-csld-cancel").toString
    val cat2 = Catalog(root2)
    def write(table: String, rows: Seq[Row]): Unit =
      cat2.append(spark.createDataFrame(
        spark.sparkContext.parallelize(rows), Schemas.all(table)), table)
    val box = BBox(0, 0, 4, 4)
    write("aoi", Seq(Row("a1", "h1", wkbBox(box), bboxRow(box))))
    write("records", Seq(
      Row("r1", "s1", ts("2024-01-01 00:00:00"), Map.empty[String, String], "a1"),
      Row("r2", "s2", ts("2024-01-02 00:00:00"), Map.empty[String, String], "a1")))
    write("variable_definitions", Seq(
      Row("v1", "b", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "", "near")))
    write("variable_instances", Seq(Row("i1", "m", Map.empty[String, String], "v1")))
    write("containers", Seq(Row("mem://c1", false, "STANDARD"),
      Row("mem://c2", false, "STANDARD")))
    def dsRow(id: String, rid: String, uri: String): Row =
      Row(id, rid, "i1", uri, "", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false,
        wkbBox(box), wkbBox(box), 4326, bboxRow(box))
    write("datasets", Seq(dsRow("d1", "r1", "mem://c1"), dsRow("d2", "r2", "mem://c2")))
    def tile(uri: String, v: Double): Row =
      Row(uri, "", 4, 4, 1, "uint8", "EPSG:4326", Seq(0.0, 1.0, 0.0, 4.0, 0.0, -1.0),
        new Bitmap(4, 4, 1, DType.UInt8, Array.fill(16)(v)).toBytes)
    write("tiles", Seq(tile("mem://c1", 10.0), tile("mem://c2", 20.0)))

    val spec = ConsolidationJob.Spec("jobC", "cancelme", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    // drive through indexing: new INACTIVE datasets + tiles exist, swap not yet
    assert(ConsolidationJob.run(spark, cat2, spec,
      pauseAfter = Some("CONSOLIDATIONINDEXED")) == "CONSOLIDATIONINDEXED")
    assert(cat2.read(spark, "datasets")
      .filter(col("status") === "INACTIVE").count() > 0)

    assert(ConsolidationJob.cancel(spark, cat2, spec) == "ABORTED")
    // catalog restored: the 2 originals ACTIVE, no job rows anywhere
    val ds = cat2.read(spark, "datasets").collect()
    assert(ds.length == 2 && ds.forall(_.getAs[String]("status") == "ACTIVE"))
    assert(cat2.read(spark, "tiles")
      .filter(col("container_uri").startsWith(s"$root2/containers/jobC/")).count() == 0)
    assert(cat2.read(spark, "containers")
      .filter(col("uri").startsWith(s"$root2/containers/jobC/")).count() == 0)
    // the rolled-back job's task rows were dropped with it
    assert(cat2.read(spark, "tasks").filter(col("job_id") === "jobC").count() == 0)
    // terminal: a rerun refuses to resume the cancelled job
    assert(ConsolidationJob.run(spark, cat2, spec) == "ABORTED")
    assert(cat2.read(spark, "datasets").count() == 2)

    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    rm(new java.io.File(root2))
  }

  test("concurrent jobs on one instance: the swap is scoped to its own job") {
    val root3 = java.nio.file.Files.createTempDirectory("graft-csld-conc").toString
    val cat3 = Catalog(root3)
    def write(table: String, rows: Seq[Row]): Unit =
      cat3.append(spark.createDataFrame(
        spark.sparkContext.parallelize(rows), Schemas.all(table)), table)
    val box = BBox(0, 0, 4, 4)
    write("aoi", Seq(Row("a1", "h1", wkbBox(box), bboxRow(box))))
    write("records", Seq(
      Row("r1", "s1", ts("2024-01-01 00:00:00"), Map.empty[String, String], "a1"),
      Row("r2", "s2", ts("2024-01-02 00:00:00"), Map.empty[String, String], "a1")))
    write("variable_definitions", Seq(
      Row("v1", "b", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "", "near")))
    write("variable_instances", Seq(Row("i1", "m", Map.empty[String, String], "v1")))
    write("containers", Seq(Row("mem://c1", false, "STANDARD"),
      Row("mem://c2", false, "STANDARD")))
    def dsRow(id: String, rid: String, uri: String): Row =
      Row(id, rid, "i1", uri, "", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false,
        wkbBox(box), wkbBox(box), 4326, bboxRow(box))
    write("datasets", Seq(dsRow("d1", "r1", "mem://c1"), dsRow("d2", "r2", "mem://c2")))
    def tile(uri: String, v: Double): Row =
      Row(uri, "", 4, 4, 1, "uint8", "EPSG:4326", Seq(0.0, 1.0, 0.0, 4.0, 0.0, -1.0),
        new Bitmap(4, 4, 1, DType.UInt8, Array.fill(16)(v)).toBytes)
    write("tiles", Seq(tile("mem://c1", 10.0), tile("mem://c2", 20.0)))

    // job A (record r1) parks at INDEXED: its new dataset sits INACTIVE
    val specA = ConsolidationJob.Spec("jobA", "a", "i1", Seq("r1"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat3, specA,
      pauseAfter = Some("CONSOLIDATIONINDEXED")) == "CONSOLIDATIONINDEXED")
    // job B (record r2) runs to DONE on the SAME instance
    val specB = ConsolidationJob.Spec("jobB", "b", "i1", Seq("r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat3, specB) == "DONE")
    // B's swap must not have activated A's INACTIVE outputs
    val aStates = cat3.read(spark, "datasets")
      .filter(col("container_uri").startsWith(s"$root3/containers/jobA/"))
      .select("status").collect().map(_.getString(0)).toSet
    assert(aStates == Set("INACTIVE"))
    // and A's original dataset is still the ACTIVE one for r1
    assert(cat3.read(spark, "datasets")
      .filter(col("record_id") === "r1" && col("status") === "ACTIVE")
      .select("id").collect().map(_.getString(0)).toSeq == Seq("d1"))

    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    rm(new java.io.File(root3))
  }

  test("cancel of an unknown job id is NOTFOUND, not a poisoned ABORTED") {
    val spec = ConsolidationJob.Spec("job-typo", "x", "i1", Seq("r1"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.cancel(spark, cat, spec) == "NOTFOUND")
    assert(cat.read(spark, "jobs").filter(col("id") === "job-typo").count() == 0)
  }

  test("cancel after the swap is refused (CANCELLATIONFAILED)") {
    // job1 finished in the first test — its datasets serve reads now
    val spec = ConsolidationJob.Spec("job1", "test", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    val before = cat.read(spark, "datasets").count()
    assert(ConsolidationJob.cancel(spark, cat, spec) == "CANCELLATIONFAILED")
    assert(cat.read(spark, "datasets").count() == before)
    assert(cat.read(spark, "jobs").filter(col("id") === "job1" &&
      col("state") === "CANCELLATIONFAILED").count() == 1)
  }

  /** Fresh two-cell catalog: r1's tile sits in cell [0,4]², r2's in
    * [8,12]², so the job packs TWO containers (= two task rows) and one
    * can fail while the other completes. */
  /** Turn the live files of `table` whose path matches `inPath` into
    * garbage (every read of them fails); returns the repair. */
  private def poisonLive(cat: TableStore, table: String,
      inPath: String => Boolean): () => Unit = {
    val good = cat.read(spark, table).inputFiles.filter(inPath).toSeq.map { u =>
      val f = new java.io.File(new java.net.URI(u))
      f -> java.nio.file.Files.readAllBytes(f.toPath)
    }
    assert(good.nonEmpty, s"no live $table file to poison")
    good.foreach { case (f, _) =>
      java.nio.file.Files.write(f.toPath, "not parquet".getBytes("UTF-8"))
    }
    () => good.foreach { case (f, b) => java.nio.file.Files.write(f.toPath, b): Unit }
  }

  def twoCellCatalog(tag: String, poisonR2: Boolean): Catalog = {
    val root2 = java.nio.file.Files.createTempDirectory(s"graft-csld-$tag").toString
    val cat2 = Catalog(root2)
    def write(table: String, rows: Seq[Row]): Unit =
      cat2.append(spark.createDataFrame(
        spark.sparkContext.parallelize(rows), Schemas.all(table)), table)
    val b1 = BBox(0, 0, 4, 4)
    val b2 = BBox(8, 8, 12, 12)
    write("aoi", Seq(Row("a1", "h1", wkbBox(b1), bboxRow(b1)),
      Row("a2", "h2", wkbBox(b2), bboxRow(b2))))
    write("records", Seq(
      Row("r1", "s1", ts("2024-01-01 00:00:00"), Map.empty[String, String], "a1"),
      Row("r2", "s2", ts("2024-01-02 00:00:00"), Map.empty[String, String], "a2")))
    write("variable_definitions", Seq(
      Row("v1", "b", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "", "near")))
    write("variable_instances", Seq(Row("i1", "m", Map.empty[String, String], "v1")))
    write("containers", Seq(Row("mem://c1", false, "STANDARD"),
      Row("mem://c2", false, "STANDARD")))
    def dsRow(id: String, rid: String, uri: String, b: BBox): Row =
      Row(id, rid, "i1", uri, "", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false,
        wkbBox(b), wkbBox(b), 4326, bboxRow(b))
    write("datasets", Seq(dsRow("d1", "r1", "mem://c1", b1),
      dsRow("d2", "r2", "mem://c2", b2)))
    def tile(uri: String, x0: Double, y1: Double, v: Double, poison: Boolean): Row =
      Row(uri, "", 4, 4, 1, "uint8", "EPSG:4326",
        Seq(x0, 1.0, 0.0, y1, 0.0, -1.0),
        if (poison) Array[Byte](1, 2, 3) // truncated payload: decode throws
        else new Bitmap(4, 4, 1, DType.UInt8, Array.fill(16)(v)).toBytes)
    write("tiles", Seq(tile("mem://c1", 0, 4, 10.0, poison = false),
      tile("mem://c2", 8, 12, 20.0, poisonR2)))
    cat2
  }

  test("retry (job.go RETRYING): failed task re-emitted, DONE ones kept") {
    val cat2 = twoCellCatalog("retry", poisonR2 = true)
    val spec = ConsolidationJob.Spec("jr1", "retryable", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    // r2's poisoned payload fails ITS container's task; the job parks in
    // CONSOLIDATIONFAILED without rollback — r1's container is DONE
    assert(ConsolidationJob.run(spark, cat2, spec) == "CONSOLIDATIONFAILED")
    val taskStates = cat2.read(spark, "tasks")
      .filter(col("job_id") === "jr1" && col("state") =!= "LOCK")
      .select("state").collect().map(_.getString(0)).sorted.toSeq
    assert(taskStates == Seq("DONE", "FAILED"))
    // the durable lock snapshot is HELD while the job is parked FAILED
    assert(Consolidation.readLockIds(spark, cat2, "jr1").count() == 2)
    val failedRow = cat2.read(spark, "tasks")
      .filter(col("job_id") === "jr1" && col("state") === "FAILED").collect().head
    assert(failedRow.getString(3).nonEmpty) // error text journaled
    // the journal row carries the task counters (jobs schema columns)
    val failState = cat2.read(spark, "jobs")
      .filter(col("id") === "jr1" && col("state") === "CONSOLIDATIONFAILED")
      .collect().head
    assert(failState.getAs[Int]("active_tasks") == 1)
    assert(failState.getAs[Int]("failed_tasks") == 1)
    // retry before the repair: the failed task is re-emitted (journal
    // shows RETRYING) and fails again — still CONSOLIDATIONFAILED
    assert(ConsolidationJob.retry(spark, cat2, spec) == "CONSOLIDATIONFAILED")
    // repair the poisoned tile, retry again → job drives to DONE
    val fixed = new Bitmap(4, 4, 1, DType.UInt8, Array.fill(16)(20.0)).toBytes
    val tiles = cat2.read(spark, "tiles").collect().map { r =>
      if (r.getString(0) == "mem://c2")
        Row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4), r.get(5),
          r.get(6), r.get(7), fixed)
      else r
    }.toSeq
    cat2.rewrite(spark.createDataFrame(
      spark.sparkContext.parallelize(tiles), Schemas.all("tiles")), "tiles")
    assert(ConsolidationJob.retry(spark, cat2, spec) == "DONE")
    // journal shows the retry transitions; both tasks end DONE
    val states = cat2.read(spark, "jobs").filter(col("id") === "jr1")
      .select("state").collect().map(_.getString(0)).toSeq
    assert(states.count(_ == "CONSOLIDATIONRETRYING") == 2)
    assert(states.count(_ == "CONSOLIDATIONFAILED") == 2)
    assert(states.contains("DONE"))
    assert(cat2.read(spark, "tasks").filter(col("job_id") === "jr1")
      .select("state").collect().map(_.getString(0)).forall(_ == "DONE"))
    // both records' datasets swapped ACTIVE under the job's containers
    val active = cat2.read(spark, "datasets")
      .filter(col("status") === "ACTIVE").collect()
    assert(active.length == 2)
    assert(active.forall(_.getAs[String]("container_uri")
      .startsWith(s"${cat2.root}/containers/jr1/")))
    // retry after DONE refuses (terminal, reference UnhandledEvent)
    assert(ConsolidationJob.retry(spark, cat2, spec) == "UNHANDLED")
  }

  test("missing tile backing fails the task (not silent record drop); retry after repair") {
    val cat2 = twoCellCatalog("misstile", poisonR2 = false)
    // remove r2's tile row entirely: its dataset has no pixel backing
    val saved = cat2.read(spark, "tiles").filter(col("container_uri") === "mem://c2")
      .collect().toSeq
    cat2.rewrite(cat2.read(spark, "tiles")
      .filter(col("container_uri") =!= "mem://c2"), "tiles")
    val spec = ConsolidationJob.Spec("jm1", "misstile", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat2, spec) == "CONSOLIDATIONFAILED")
    val failed = cat2.read(spark, "tasks")
      .filter(col("job_id") === "jm1" && col("state") === "FAILED").collect()
    assert(failed.length == 1)
    assert(failed.head.getString(3).contains("missing tiles")) // error names the cause
    // restore the tile, retry → DONE with both records indexed
    cat2.append(spark.createDataFrame(
      spark.sparkContext.parallelize(saved), Schemas.all("tiles")), "tiles")
    assert(ConsolidationJob.retry(spark, cat2, spec) == "DONE")
    val active = cat2.read(spark, "datasets").filter(col("status") === "ACTIVE")
      .select("record_id").collect().map(_.getString(0)).sorted.toSeq
    assert(active == Seq("r1", "r2"))
  }

  test("crash between C5 index and the INDEXED journal: resume never double-indexes") {
    val cat2 = twoCellCatalog("idxcrash", poisonR2 = false)
    val spec = ConsolidationJob.Spec("jx1", "idxcrash", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat2, spec,
      pauseAfter = Some("CONSOLIDATIONDONE")) == "CONSOLIDATIONDONE")
    // simulate the crash window: index() ran (INACTIVE rows appended)
    // but CONSOLIDATIONINDEXED was never journaled
    val tasks = Consolidation.prepareOrders(spark, cat2, "jx1", "i1",
      Seq("r1", "r2"), layout, None)
    val jobTiles = cat2.read(spark, "tiles")
      .filter(col("container_uri").startsWith(s"${cat2.root}/containers/jx1/"))
      .filter(!col("subdir").rlike("@ov\\d+$"))
      .join(Consolidation.recordOrder(tasks), Seq("container_uri", "subdir"))
    Consolidation.index(spark, cat2, jobTiles, "i1", spec.params)
    assert(cat2.read(spark, "datasets")
      .filter(col("status") === "INACTIVE").count() == 2)
    // resume: the index step must purge-then-append, not append a twin set
    assert(ConsolidationJob.run(spark, cat2, spec) == "DONE")
    val active = cat2.read(spark, "datasets").filter(col("status") === "ACTIVE").collect()
    assert(active.length == 2) // one per record — not four
    assert(cat2.read(spark, "datasets").count() == 2)
  }

  test("force-retry (job.go FORCERETRYING): re-emits non-done tasks of a stuck job") {
    val cat2 = twoCellCatalog("forceretry", poisonR2 = false)
    val spec = ConsolidationJob.Spec("jf1", "stuck", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    // park the job mid-flight: INPROGRESS journaled, no worker ran
    assert(ConsolidationJob.run(spark, cat2, spec,
      pauseAfter = Some("CONSOLIDATIONINPROGRESS")) == "CONSOLIDATIONINPROGRESS")
    // plain retry needs a FAILED journal — a stuck job takes the force path
    assert(ConsolidationJob.retry(spark, cat2, spec) == "UNHANDLED")
    assert(ConsolidationJob.retry(spark, cat2, spec, force = true) == "DONE")
    val states = cat2.read(spark, "jobs").filter(col("id") === "jf1")
      .select("state").collect().map(_.getString(0)).toSeq
    assert(states.contains("CONSOLIDATIONFORCERETRYING"))
    assert(cat2.read(spark, "tasks").filter(col("job_id") === "jf1")
      .select("state").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("DONE", "DONE"))
    // unknown id refuses cleanly
    assert(ConsolidationJob.retry(spark, cat2,
      spec.copy(jobId = "nope"), force = true) == "NOTFOUND")
  }

  test("C4/C5 ordering parity: sub-ms datetimes and non-BMP ids (ADVICE r9)") {
    // Three records in ONE cell whose pack order differs between the buggy
    // comparators (getTime millis + UTF-16 compareTo) and Spark's order
    // (full-micros timestamps + UTF-8 bytes): all three datetimes share a
    // millisecond, and the two tied ids straddle the UTF-16/UTF-8
    // disagreement (U+1F600 surrogate pair vs U+E000). A comparator drift
    // makes C5 index a record against another record's pixels.
    val root3 = java.nio.file.Files.createTempDirectory("graft-csld-ord").toString
    val cat3 = Catalog(root3)
    def write(table: String, rows: Seq[Row]): Unit =
      cat3.append(spark.createDataFrame(
        spark.sparkContext.parallelize(rows), Schemas.all(table)), table)
    val b = BBox(0, 0, 4, 4)
    val idEarly = "zzz"                 // .000300 — earliest by micros
    val idE000 = "zz\uE000"             // .000400 — UTF-8 EE.. < F0.., UTF-16 E000 > D83D
    val idEmoji = "zz\uD83D\uDE00"      // .000400 — U+1F600
    val idLate = "aaa"                  // .000500 — LAST by micros, FIRST by id:
                                        // a millis-truncating comparator ties all
                                        // four datetimes and packs this record first
    write("aoi", Seq(Row("a1", "h1", wkbBox(b), bboxRow(b))))
    write("records", Seq(
      Row(idEarly, "s1", ts("2024-01-01 00:00:00.0003"), Map.empty[String, String], "a1"),
      Row(idE000, "s2", ts("2024-01-01 00:00:00.0004"), Map.empty[String, String], "a1"),
      Row(idEmoji, "s3", ts("2024-01-01 00:00:00.0004"), Map.empty[String, String], "a1"),
      Row(idLate, "s4", ts("2024-01-01 00:00:00.0005"), Map.empty[String, String], "a1")))
    write("variable_definitions", Seq(
      Row("v1", "b", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "", "near")))
    write("variable_instances", Seq(Row("i1", "m", Map.empty[String, String], "v1")))
    write("containers", Seq(Row("mem://o1", false, "STANDARD"),
      Row("mem://o2", false, "STANDARD"), Row("mem://o3", false, "STANDARD"),
      Row("mem://o4", false, "STANDARD")))
    def dsRow(id: String, rid: String, uri: String): Row =
      Row(id, rid, "i1", uri, "", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false,
        wkbBox(b), wkbBox(b), 4326, bboxRow(b))
    write("datasets", Seq(dsRow("d1", idEarly, "mem://o1"),
      dsRow("d2", idE000, "mem://o2"), dsRow("d3", idEmoji, "mem://o3"),
      dsRow("d4", idLate, "mem://o4")))
    def tile(uri: String, v: Double): Row =
      Row(uri, "", 4, 4, 1, "uint8", "EPSG:4326", Seq(0.0, 1.0, 0.0, 4.0, 0.0, -1.0),
        new Bitmap(4, 4, 1, DType.UInt8, Array.fill(16)(v)).toBytes)
    write("tiles", Seq(tile("mem://o1", 30.0), tile("mem://o2", 40.0),
      tile("mem://o3", 50.0), tile("mem://o4", 60.0)))

    val spec = ConsolidationJob.Spec("jord", "ordering", "i1",
      Seq(idEarly, idE000, idEmoji, idLate),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat3, spec) == "DONE")

    // Spark's order: earliest micros first, then UTF-8 id tie-break
    val ds = cat3.read(spark, "datasets").collect()
      .map(r => r.getAs[String]("record_id") ->
        (r.getAs[String]("container_uri"), r.getAs[String]("subdir"))).toMap
    assert(ds(idEarly)._2 == "GTIFF_DIR:1")
    assert(ds(idE000)._2 == "GTIFF_DIR:2")
    assert(ds(idEmoji)._2 == "GTIFF_DIR:3")
    assert(ds(idLate)._2 == "GTIFF_DIR:4")
    // and the indexed identity serves the record's OWN pixels
    val tiles = cat3.read(spark, "tiles").collect()
      .map(r => (r.getAs[String]("container_uri"), r.getAs[String]("subdir")) ->
        r.getAs[Array[Byte]]("payload")).toMap
    for ((rid, v) <- Seq(idEarly -> 30.0, idE000 -> 40.0, idEmoji -> 50.0,
        idLate -> 60.0)) {
      val bm = Bitmap.fromBytes(tiles(ds(rid)), 8, 8, 1, DType.UInt8)
      assert(bm.pixels.exists(_ == v), s"record $rid lost its pixels")
      assert(!bm.pixels.exists(p => p != v && p != 255.0),
        s"record $rid serves another record's pixels")
    }
    // the comparator itself agrees with Spark on the adversarial pair
    assert(Consolidation.utf8Compare(idE000, idEmoji) < 0)
    assert(idE000.compareTo(idEmoji) > 0) // …which the JVM order inverts
  }

  test("swap-crash window: resume reads the durable lock, outputs survive") {
    val cat2 = twoCellCatalog("swapcrash", poisonR2 = false)
    val spec = ConsolidationJob.Spec("jsw", "swapcrash", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat2, spec,
      pauseAfter = Some("CONSOLIDATIONINDEXED")) == "CONSOLIDATIONINDEXED")
    // the durable snapshot exists from CREATED on
    val locked = Consolidation.readLockIds(spark, cat2, "jsw").localCheckpoint(true)
    assert(locked.count() == 2)
    // simulate the crash: the swap's datasets rewrite lands, the
    // CONSOLIDATIONEFFECTIVE journal append does not
    Consolidation.swap(spark, cat2, "i1", locked, keepOld = false,
      newPrefix = Some(s"${cat2.root}/containers/jsw/"))
    // resume: a lock re-derived from the live ACTIVE set would now be the
    // job's own freshly-activated outputs, and the re-run swap would flip
    // them to TODELETE — C7 then deletes originals AND outputs
    assert(ConsolidationJob.run(spark, cat2, spec) == "DONE")
    val ds = cat2.read(spark, "datasets").collect()
    assert(ds.nonEmpty,
      "all datasets deleted: the resume re-locked the job's own outputs")
    assert(ds.forall(_.getAs[String]("status") == "ACTIVE"))
    assert(ds.forall(_.getAs[String]("container_uri")
      .startsWith(s"${cat2.root}/containers/jsw/")))
    // locks released at DONE; a re-run of a DONE job is a journal no-op
    assert(cat2.read(spark, "tasks").filter(col("state") === "LOCK").count() == 0)
    assert(ConsolidationJob.run(spark, cat2, spec) == "DONE")
  }

  test("resume packing is pinned to the lock: mid-job ingest stays out") {
    val cat2 = twoCellCatalog("midingest", poisonR2 = false)
    val spec = ConsolidationJob.Spec("jmi", "midingest", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat2, spec,
      pauseAfter = Some("CONSOLIDATIONINPROGRESS")) == "CONSOLIDATIONINPROGRESS")
    // a new ACTIVE dataset for r1 lands while the job is parked
    val b1 = BBox(0, 0, 4, 4)
    cat2.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("dX", "r1", "i1", "mem://cX", "", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false,
        wkbBox(b1), wkbBox(b1), 4326, bboxRow(b1)))),
      Schemas.all("datasets")), "datasets")
    cat2.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("mem://cX", false, "STANDARD"))), Schemas.all("containers")), "containers")
    cat2.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("mem://cX", "", 4, 4, 1, "uint8", "EPSG:4326",
        Seq(0.0, 1.0, 0.0, 4.0, 0.0, -1.0),
        new Bitmap(4, 4, 1, DType.UInt8, Array.fill(16)(77.0)).toBytes))),
      Schemas.all("tiles")), "tiles")
    // resume to DONE: the packing re-derives from the LOCK snapshot, so
    // dX is neither consolidated nor swapped out
    assert(ConsolidationJob.run(spark, cat2, spec) == "DONE")
    val dx = cat2.read(spark, "datasets").filter(col("id") === "dX").collect()
    assert(dx.length == 1 && dx.head.getAs[String]("status") == "ACTIVE")
    assert(dx.head.getAs[String]("container_uri") == "mem://cX")
    // its container and tile survive C7's GC (a dataset references them)
    assert(cat2.read(spark, "containers")
      .filter(col("uri") === "mem://cX").count() == 1)
    assert(cat2.read(spark, "tiles")
      .filter(col("container_uri") === "mem://cX").count() == 1)
    // the consolidated outputs hold ONLY the locked records' pixels
    val outTiles = cat2.read(spark, "tiles")
      .filter(col("container_uri").startsWith(s"${cat2.root}/containers/jmi/"))
      .filter(!col("subdir").rlike("@ov\\d+$")).collect()
    assert(outTiles.forall { t =>
      val bm = Bitmap.fromBytes(t.getAs[Array[Byte]]("payload"), 8, 8, 1, DType.UInt8)
      !bm.pixels.exists(_ == 77.0)
    })
  }

  test("consolidateFromFilters: record set resolved from tags+time") {
    val cat2 = twoCellCatalog("fromfilters", poisonR2 = false)
    val gc2 = graft.api.Geocube(spark, cat2)
    // the time window covers r1 (2024-01-01) but not r2 (2024-01-02)
    assert(gc2.consolidateFromFilters("jff", "ff", "i1", Map.empty,
      Some(ts("2023-12-31 00:00:00")), Some(ts("2024-01-01 12:00:00")),
      layout, ConsolidationParams(uint8Map, Resampling.Near)) == "DONE")
    val active = cat2.read(spark, "datasets")
      .filter(col("status") === "ACTIVE").collect()
    // r1 consolidated under the job, r2 untouched on its original container
    assert(active.map(r => (r.getAs[String]("record_id"),
      r.getAs[String]("container_uri").startsWith(
        s"${cat2.root}/containers/jff/"))).sortBy(_._1).toSeq ==
      Seq(("r1", true), ("r2", false)))
    // nothing matching refuses up front
    assertThrows[IllegalArgumentException](
      gc2.consolidateFromFilters("jff2", "ff2", "i1", Map("no" -> "pe"),
        None, None, layout, ConsolidationParams(uint8Map, Resampling.Near)))
  }

  test("stale job-prefix outputs from a drifted packing are purged on resume") {
    val cat2 = twoCellCatalog("stalepurge", poisonR2 = false)
    val spec = ConsolidationJob.Spec("jsp", "stale", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat2, spec,
      pauseAfter = Some("CONSOLIDATIONINPROGRESS")) == "CONSOLIDATIONINPROGRESS")
    // an output of a hypothetical earlier incarnation whose uri is not in
    // the current packing: without the stale purge it survives C4's
    // pending-scoped purge, is never indexed, and orphans forever
    val ghost = s"${cat2.root}/containers/jsp/ghost-cell"
    cat2.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(ghost, true, "STANDARD"))), Schemas.all("containers")), "containers")
    cat2.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(ghost, "GTIFF_DIR:1", 4, 4, 1, "uint8", "EPSG:4326",
        Seq(0.0, 1.0, 0.0, 4.0, 0.0, -1.0),
        new Bitmap(4, 4, 1, DType.UInt8, Array.fill(16)(9.0)).toBytes))),
      Schemas.all("tiles")), "tiles")
    assert(ConsolidationJob.run(spark, cat2, spec) == "DONE")
    assert(cat2.read(spark, "tiles")
      .filter(col("container_uri") === ghost).count() == 0)
    assert(cat2.read(spark, "containers")
      .filter(col("uri") === ghost).count() == 0)
    assert(cat2.read(spark, "datasets")
      .filter(col("container_uri") === ghost).count() == 0)
  }

  test("configConsolidation + continueJob by id: params from the variable, resume without the spec") {
    val cat2 = twoCellCatalog("continue", poisonR2 = false)
    val gc2 = graft.api.Geocube(spark, cat2)
    // ConfigConsolidation persists params on the variable; upsert replaces
    gc2.configConsolidation("v1",
      ConsolidationParams(uint8Map, Resampling.Bilinear))
    gc2.configConsolidation("v1",
      ConsolidationParams(uint8Map, Resampling.Near, storageClass = "COLDLINE"))
    val cp = gc2.getConsolidationParams("v1").get
    assert(cp.resampling == Resampling.Near && cp.storageClass == "COLDLINE")
    assert(cp.mapping == uint8Map)
    assert(gc2.getConsolidationParams("v-none").isEmpty)
    assertThrows[IllegalArgumentException](gc2.configConsolidation("v-none",
      ConsolidationParams(uint8Map, Resampling.Near)))

    // the params-less consolidate resolves instance -> variable -> params
    // and pauses mid-flight; continueJob(id) alone drives it to DONE
    assert(gc2.consolidateFromRecords("jcj", "cont", "i1", Seq("r1", "r2"),
      layout) == "DONE")
    // a second paused job, continued purely by id (no spec re-presented)
    val spec2 = ConsolidationJob.specFromJournal(spark, cat2, "jcj")
    assert(spec2.isDefined)
    assert(spec2.get.params.storageClass == "COLDLINE")
    assert(spec2.get.layout == layout)
    assert(spec2.get.recordIds == Seq("r1", "r2"))

    val cat3 = twoCellCatalog("continue2", poisonR2 = false)
    val gc3 = graft.api.Geocube(spark, cat3)
    gc3.configConsolidation("v1", ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat3, ConsolidationJob.Spec(
      "jcj2", "cont2", "i1", Seq("r1", "r2"), layout,
      ConsolidationParams(uint8Map, Resampling.Near)),
      pauseAfter = Some("CONSOLIDATIONINPROGRESS")) == "CONSOLIDATIONINPROGRESS")
    assert(gc3.continueJob("jcj2") == "DONE")
    assert(gc3.continueJob("nope") == "NOTFOUND")
    // getJob returns the ordered journal
    val states = gc3.getJob("jcj2").select("state").collect()
      .map(_.getString(0)).toSeq
    assert(states.head == "NEW" && states.last == "DONE")
    // NaN nodata survives the spec JSON round-trip
    val nanMap = DataMapping(
      DataFormat(DType.Float32, Double.NaN, NumRange(0, 254)),
      NumRange(0, 254), 1.0)
    val js = ConsolidationJob.Spec("jn", "nan", "i1", Seq("r1"),
      layout, ConsolidationParams(nanMap, Resampling.Near))
    ConsolidationJob.run(spark, cat3, js, pauseAfter = Some("NEW"))
    val back = ConsolidationJob.specFromJournal(spark, cat3, "jn")
    assert(back.isDefined &&
      back.get.params.mapping.format.noData.isNaN)
  }

  test("retryJob by id: journaled spec drives the retry path") {
    val cat2 = twoCellCatalog("retrybyid", poisonR2 = true)
    val gc2 = graft.api.Geocube(spark, cat2)
    val spec = ConsolidationJob.Spec("jri", "retrybyid", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat2, spec) == "CONSOLIDATIONFAILED")
    // repair the poisoned tile, then retry purely BY ID
    val fixed = new Bitmap(4, 4, 1, DType.UInt8, Array.fill(16)(20.0)).toBytes
    val tiles = cat2.read(spark, "tiles").collect().map { r =>
      if (r.getString(0) == "mem://c2")
        Row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4), r.get(5),
          r.get(6), r.get(7), fixed)
      else r
    }.toSeq
    cat2.rewrite(spark.createDataFrame(
      spark.sparkContext.parallelize(tiles), Schemas.all("tiles")), "tiles")
    assert(gc2.retryJob("jri") == "DONE")
    assert(gc2.retryJob("nope") == "NOTFOUND")
    assert(gc2.retryJob("jri") == "UNHANDLED") // terminal
  }

  test("terminal FAILED: resume early-returns, no duplicate journal or rollback") {
    val cat2 = twoCellCatalog("failterm", poisonR2 = false)
    // collapse onto a nonexistent record throws AFTER CREATED -> rollback
    // -> terminal FAILED with the locks released
    val spec = ConsolidationJob.Spec("jft", "failterm", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near),
      collapseOnRecordId = Some("r-ghost"))
    assert(ConsolidationJob.run(spark, cat2, spec) == "FAILED")
    assert(Consolidation.readLockIds(spark, cat2, "jft").count() == 0)
    def nFailed = cat2.read(spark, "jobs")
      .filter(col("id") === "jft" && col("state") === "FAILED").count()
    val n1 = nFailed
    assert(n1 == 1)
    // a resume must NOT trip the empty-lock require and re-run the
    // rollback (which would append a second FAILED row)
    assert(ConsolidationJob.run(spark, cat2, spec) == "FAILED")
    assert(nFailed == n1)
  }

  test("C4 honors the dataset band subset (image.go:221-231)") {
    val root2 = java.nio.file.Files.createTempDirectory("graft-csld-bands").toString
    val cat2 = Catalog(root2)
    def write(table: String, rows: Seq[Row]): Unit =
      cat2.append(spark.createDataFrame(
        spark.sparkContext.parallelize(rows), Schemas.all(table)), table)
    val box = BBox(0, 0, 4, 4)
    write("aoi", Seq(Row("a1", "h1", wkbBox(box), bboxRow(box))))
    write("records", Seq(
      Row("r1", "s1", ts("2024-01-01 00:00:00"), Map.empty[String, String], "a1")))
    write("variable_definitions", Seq(
      Row("v1", "b", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "", "near")))
    write("variable_instances", Seq(Row("i1", "m", Map.empty[String, String], "v1")))
    write("containers", Seq(Row("mem://cb", false, "STANDARD")))
    // dataset selects band 2 of a 2-band tile (band1=11, band2=22)
    write("datasets", Seq(
      Row("d1", "r1", "i1", "mem://cb", "", Seq(2), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false,
        wkbBox(box), wkbBox(box), 4326, bboxRow(box))))
    val px = Array.fill(16)(11.0) ++ Array.fill(16)(22.0) // band-planar
    write("tiles", Seq(
      Row("mem://cb", "", 4, 4, 2, "uint8", "EPSG:4326",
        Seq(0.0, 1.0, 0.0, 4.0, 0.0, -1.0),
        new Bitmap(4, 4, 2, DType.UInt8, px).toBytes)))
    val spec = ConsolidationJob.Spec("jbs", "bands", "i1", Seq("r1"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat2, spec) == "DONE")
    // the consolidated record must carry BAND 2's pixels — merging the
    // full bitmap would serve band 1 (11) under this dataset's identity
    val out = cat2.read(spark, "tiles")
      .filter(col("container_uri").startsWith(s"${cat2.root}/containers/jbs/") &&
        !col("subdir").rlike("@ov\\d+$"))
      .collect().head
    val bm = Bitmap.fromBytes(out.getAs[Array[Byte]]("payload"),
      out.getAs[Int]("width"), out.getAs[Int]("height"),
      out.getAs[Int]("bands"), DType.fromName(out.getAs[String]("dtype")))
    assert(bm.bands == 1)
    assert(bm.pixels.forall(_ == 22.0))
  }

  test("deletion job: terminal FAILED/ROLLBACKFAILED refuse the forward path") {
    val cat2 = twoCellCatalog("delterm", poisonR2 = false)
    // journal a deletion job whose rollback already completed: NEW (with
    // spec payload) + mid-flight states + FAILED
    val spec = DeletionJob.Spec("jdt", "delterm", recordIds = Seq("r2"))
    assert(DeletionJob.run(spark, cat2, spec,
      pauseAfter = Some("CREATED")) == "CREATED")
    val t0 = ts("2024-01-01 00:00:00")
    cat2.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("jdt", "delterm", "DELETION", "DELETIONINPROGRESS", 0, 0, "", t0, t0),
      Row("jdt", "delterm", "DELETION", "FAILED", 0, 0, "", t0, t0))),
      Schemas.all("jobs")), "jobs")
    // forward re-drive would skip the (journaled) flip, remove nothing,
    // and journal DONE claiming success — it must refuse instead
    assert(DeletionJob.run(spark, cat2, spec) == "FAILED")
    assert(cat2.read(spark, "jobs")
      .filter(col("id") === "jdt" && col("state") === "DONE").count() == 0)
    assert(cat2.read(spark, "datasets")
      .filter(col("record_id") === "r2").count() == 1) // nothing deleted
    // terminal FAILED refuses retry too (reference UnhandledEvent)
    assert(DeletionJob.retry(spark, cat2, spec) == "UNHANDLED")
    // ...and refuses cancel: a second terminal ABORTED row would
    // contradict the already-journaled FAILED
    assert(DeletionJob.cancel(spark, cat2, "jdt", "delterm") == "UNHANDLED")
    assert(cat2.read(spark, "jobs")
      .filter(col("id") === "jdt" && col("state") === "ABORTED").count() == 0)
  }

  test("parked CONSOLIDATIONFAILED: plain resume refuses; retry still drives") {
    val cat2 = twoCellCatalog("parkguard", poisonR2 = true)
    val spec = ConsolidationJob.Spec("jpg", "parkguard", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat2, spec) == "CONSOLIDATIONFAILED")
    val nJournal = cat2.read(spark, "jobs").filter(col("id") === "jpg").count()
    def taskSnap = cat2.read(spark, "tasks").filter(col("job_id") === "jpg")
      .select("id", "state").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val snap0 = taskSnap
    // a plain resume (ContinueJob) must NOT silently redo the failed
    // tasks without the RETRYING journal entry: refuse, journal and task
    // rows untouched (the reference's ContinueJob only handles paused or
    // interrupted jobs — a parked-failed one awaits retry/cancel)
    assert(ConsolidationJob.run(spark, cat2, spec) == "CONSOLIDATIONFAILED")
    assert(cat2.read(spark, "jobs").filter(col("id") === "jpg").count() == nJournal)
    assert(taskSnap == snap0)
    // the explicit retry path still re-enters (journals RETRYING first)
    assert(ConsolidationJob.retry(spark, cat2, spec) == "CONSOLIDATIONFAILED")
    assert(cat2.read(spark, "jobs").filter(col("id") === "jpg" &&
      col("state") === "CONSOLIDATIONRETRYING").count() == 1)
  }

  test("terminal FAILED purges the job's dead outputs (rollback cascade)") {
    val cat2 = twoCellCatalog("failpurge", poisonR2 = false)
    val spec = ConsolidationJob.Spec("jfp2", "failpurge", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat2, spec,
      pauseAfter = Some("CONSOLIDATIONDONE")) == "CONSOLIDATIONDONE")
    val prefix = s"${cat2.root}/containers/jfp2/"
    assert(cat2.read(spark, "containers")
      .filter(col("uri").startsWith(prefix)).count() > 0)
    assert(cat2.read(spark, "tiles")
      .filter(col("container_uri").startsWith(prefix)).count() > 0)
    // a C5-style container_layouts row for one of the job's containers
    val jobUri = cat2.read(spark, "containers")
      .filter(col("uri").startsWith(prefix)).select("uri")
      .collect().head.getString(0)
    cat2.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(jobUri, "cells"))), Schemas.all("container_layouts")),
      "container_layouts")
    // poison the records table: the resume's C3 re-derivation throws
    // after CREATED → rollbackToFailed
    poisonLive(cat2, "records", _ => true)
    assert(ConsolidationJob.run(spark, cat2, spec) == "FAILED")
    // the never-authoritative outputs go with the rollback — nothing
    // dangles to block deleteLayout or confuse FindContainerLayouts
    assert(cat2.read(spark, "containers")
      .filter(col("uri").startsWith(prefix)).count() == 0)
    assert(cat2.read(spark, "tiles")
      .filter(col("container_uri").startsWith(prefix)).count() == 0)
    assert(cat2.read(spark, "container_layouts")
      .filter(col("container_uri").startsWith(prefix)).count() == 0)
    assert(cat2.read(spark, "tasks").filter(col("job_id") === "jfp2").count() == 0)
    // the original catalog rows survive untouched
    assert(cat2.read(spark, "datasets")
      .filter(col("status") === "ACTIVE").count() == 2)
    // terminal FAILED also refuses cancel — no contradictory ABORTED row
    assert(ConsolidationJob.cancel(spark, cat2, spec) == "UNHANDLED")
    assert(cat2.read(spark, "jobs")
      .filter(col("id") === "jfp2" && col("state") === "ABORTED").count() == 0)
  }

  test("TASKEVENT counter rows under the job id don't misroute by-id RPCs") {
    val cat2 = twoCellCatalog("taskevt", poisonR2 = false)
    val gc2 = graft.api.Geocube(spark, cat2)
    // a DELETION job paused mid-flight...
    assert(DeletionJob.run(spark, cat2,
      DeletionJob.Spec("jte", "te", recordIds = Seq("r2")),
      pauseAfter = Some("CREATED")) == "CREATED")
    // ...whose id also carries streaming TASKEVENT counter rows (the
    // journal form EventStream writes) — an unordered limit(1) over the
    // job's rows could pick one and route down the consolidation path
    val t0 = ts("2024-01-01 00:00:00")
    cat2.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("jte", "run-batch-0", "TASKEVENT", "COUNTERS", 1, 0, "", t0, t0))),
      Schemas.all("jobs")), "jobs")
    assert(gc2.continueJob("jte") == "DONE")
    assert(cat2.read(spark, "datasets").filter(col("record_id") === "r2")
      .count() == 0)
  }

  test("cancel of an id with only counter rows is NOTFOUND and journals nothing") {
    // streaming TASKEVENT counters are progress, not job state: an id
    // that has only them never ran, so there is nothing to cancel
    val t0 = ts("2024-01-01 00:00:00")
    cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("jcounters", "run-batch-0", "TASKEVENT", "COUNTERS", 1, 0, "", t0, t0))),
      Schemas.all("jobs")), "jobs")
    val spec = ConsolidationJob.Spec("jcounters", "counters", "i1", Seq("r1"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.cancel(spark, cat, spec) == "NOTFOUND")
    assert(cat.read(spark, "jobs").filter(col("id") === "jcounters")
      .select("state").collect().map(_.getString(0)).toSeq == Seq("COUNTERS"))
  }

  test("torn cancel: CANCELLING journaled, crash mid-purge — resume completes the cancel") {
    val cat2 = twoCellCatalog("torncancel", poisonR2 = false)
    val spec = ConsolidationJob.Spec("jtc", "torncancel", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat2, spec,
      pauseAfter = Some("CONSOLIDATIONINDEXED")) == "CONSOLIDATIONINDEXED")
    val prefix = s"${cat2.root}/containers/jtc/"
    // simulate a cancel that crashed right after its FIRST rewrite: the
    // CANCELLING journal row landed and the INACTIVE outputs are purged,
    // but tiles/containers/tasks were never touched and ABORTED was
    // never journaled
    JournaledJob(spark, cat2, ConsolidationJob.JobType, "jtc", "torncancel")
      .log("CONSOLIDATIONCANCELLING")
    cat2.rewrite(cat2.read(spark, "datasets")
      .filter(!(col("status") === "INACTIVE" &&
        col("container_uri").startsWith(prefix))), "datasets")
    // a plain resume (ContinueJob) must COMPLETE the cancel — forward
    // driving would swap-in nothing and then delete the originals
    assert(ConsolidationJob.run(spark, cat2, spec) == "ABORTED")
    val ds = cat2.read(spark, "datasets").collect()
    assert(ds.length == 2 && ds.forall(_.getAs[String]("status") == "ACTIVE"))
    assert(cat2.read(spark, "tiles")
      .filter(col("container_uri").startsWith(prefix)).count() == 0)
    assert(cat2.read(spark, "containers")
      .filter(col("uri").startsWith(prefix)).count() == 0)
    assert(cat2.read(spark, "tasks").filter(col("job_id") === "jtc").count() == 0)
    assert(cat2.read(spark, "jobs")
      .filter(col("id") === "jtc" && col("state") === "ABORTED").count() == 1)
    // terminal afterwards: retry refuses, rerun stays ABORTED
    assert(ConsolidationJob.retry(spark, cat2, spec) == "UNHANDLED")
    assert(ConsolidationJob.run(spark, cat2, spec) == "ABORTED")
  }

  test("torn rollback: job tiles purged under DONE task rows — C4 rebuilds, never indexes nothing") {
    val cat2 = twoCellCatalog("tornrb", poisonR2 = false)
    val spec = ConsolidationJob.Spec("jtr", "tornrb", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat2, spec,
      pauseAfter = Some("CONSOLIDATIONDONE")) == "CONSOLIDATIONDONE")
    val prefix = s"${cat2.root}/containers/jtr/"
    assert(cat2.read(spark, "tiles")
      .filter(col("container_uri").startsWith(prefix)).count() > 0)
    // simulate a failure rollback that crashed after its tiles purge but
    // BEFORE journaling FAILED: all job-prefix tiles gone, containers
    // rows and DONE task rows still in place, journal still says
    // CONSOLIDATIONDONE
    cat2.rewrite(cat2.read(spark, "tiles")
      .filter(!col("container_uri").startsWith(prefix)), "tiles")
    // the resume must DETECT the missing outputs behind the DONE task
    // rows and rebuild them — trusting the rows would have C5 index
    // nothing and the swap delete the originals with no replacement
    assert(ConsolidationJob.run(spark, cat2, spec) == "DONE")
    val ds = cat2.read(spark, "datasets").collect()
    assert(ds.length == 2 && ds.forall(_.getAs[String]("status") == "ACTIVE"))
    assert(ds.forall(_.getAs[String]("container_uri").startsWith(prefix)))
    val base = cat2.read(spark, "tiles")
      .filter(col("container_uri").startsWith(prefix) &&
        !col("subdir").contains("@ov")).collect()
    assert(base.length == 2)
    val pix = base.map { t =>
      Bitmap.fromBytes(t.getAs[Array[Byte]]("payload"), 8, 8, 1, DType.UInt8)
        .pixels.head
    }.toSet
    assert(pix == Set(10.0, 20.0))
  }

  test("torn rollback after INDEXED: outputs purged, journal still says INDEXED — resume rebuilds") {
    val cat2 = twoCellCatalog("tornidx", poisonR2 = false)
    val spec = ConsolidationJob.Spec("jti", "tornidx", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat2, spec,
      pauseAfter = Some("CONSOLIDATIONINDEXED")) == "CONSOLIDATIONINDEXED")
    val prefix = s"${cat2.root}/containers/jti/"
    // simulate a swap-step exception whose rollback purged the INACTIVE
    // datasets, tiles and containers but crashed before journaling
    // FAILED: the journal's last word is INDEXED, the outputs are gone
    cat2.rewrite(cat2.read(spark, "datasets")
      .filter(!(col("status") === "INACTIVE" &&
        col("container_uri").startsWith(prefix))), "datasets")
    cat2.rewrite(cat2.read(spark, "tiles")
      .filter(!col("container_uri").startsWith(prefix)), "tiles")
    cat2.rewrite(cat2.read(spark, "containers")
      .filter(!col("uri").startsWith(prefix)), "containers")
    // a resume trusting INDEXED would skip C3-C5, swap in nothing and
    // delete the originals at DONE — it must distrust it and rebuild
    assert(ConsolidationJob.run(spark, cat2, spec) == "DONE")
    val ds = cat2.read(spark, "datasets").collect()
    assert(ds.length == 2 && ds.forall(_.getAs[String]("status") == "ACTIVE"))
    assert(ds.forall(_.getAs[String]("container_uri").startsWith(prefix)))
    val base = cat2.read(spark, "tiles")
      .filter(col("container_uri").startsWith(prefix) &&
        !col("subdir").contains("@ov")).collect()
    assert(base.length == 2)
    val pix = base.map { t =>
      Bitmap.fromBytes(t.getAs[Array[Byte]]("payload"), 8, 8, 1, DType.UInt8)
        .pixels.head
    }.toSet
    assert(pix == Set(10.0, 20.0))
  }

  test("TidyDB spares a paused pre-INDEXED job's outputs (completed C4 work)") {
    val cat2 = twoCellCatalog("tidypause", poisonR2 = false)
    val spec = ConsolidationJob.Spec("jtp", "tidypause", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    // paused after C4: containers+tiles exist under the job prefix but
    // no dataset references them yet (C5 writes those)
    assert(ConsolidationJob.run(spark, cat2, spec,
      pauseAfter = Some("CONSOLIDATIONDONE")) == "CONSOLIDATIONDONE")
    val prefix = s"${cat2.root}/containers/jtp/"
    val nTiles = cat2.read(spark, "tiles")
      .filter(col("container_uri").startsWith(prefix)).count()
    assert(nTiles > 0)
    // an admin tidy must NOT collect the mid-job outputs — the task rows
    // name them (their ids ARE the output uris)
    graft.catalog.Admin.tidy(spark, cat2)
    assert(cat2.read(spark, "tiles")
      .filter(col("container_uri").startsWith(prefix)).count() == nTiles)
    assert(cat2.read(spark, "containers")
      .filter(col("uri").startsWith(prefix)).count() > 0)
    // the paused job resumes to DONE on the preserved outputs
    assert(ConsolidationJob.run(spark, cat2, spec) == "DONE")
    val ds = cat2.read(spark, "datasets").collect()
    assert(ds.length == 2 && ds.forall(_.getAs[String]("status") == "ACTIVE"))
    assert(ds.forall(_.getAs[String]("container_uri").startsWith(prefix)))
  }

  test("post-swap cleanup failure parks DONEBUTUNTIDY (job.go:459); retry finishes the tidy") {
    val cat2 = twoCellCatalog("untidy", poisonR2 = false)
    val spec = ConsolidationJob.Spec("jbu", "untidy", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat2, spec,
      pauseAfter = Some("CONSOLIDATIONEFFECTIVE")) == "CONSOLIDATIONEFFECTIVE")
    val prefix = s"${cat2.root}/containers/jbu/"
    // make the C7 old-dataset cleanup throw: garbage in the datasets
    // partition's live files fails the scan
    val repair = poisonLive(cat2, "datasets", _.contains("/instance_id=i1/"))
    // the swap is EFFECTIVE: the outputs serve reads — the failure must
    // park as DONEBUTUNTIDY, never roll back or journal a fake FAILED
    assert(ConsolidationJob.run(spark, cat2, spec) == "DONEBUTUNTIDY")
    repair()
    assert(cat2.read(spark, "datasets")
      .filter(col("container_uri").startsWith(prefix) &&
        col("status") === "ACTIVE").count() == 2)
    assert(cat2.read(spark, "datasets")
      .filter(col("status") === "TODELETE").count() == 2) // cleanup pending
    // retry re-attempts ONLY the cleanup (reference Retried → EFFECTIVE
    // → DeletionStarted → DONE)
    assert(ConsolidationJob.retry(spark, cat2, spec) == "DONE")
    assert(cat2.read(spark, "datasets")
      .filter(col("status") === "TODELETE").count() == 0)
    assert(cat2.read(spark, "datasets").count() == 2)
    // the lock snapshot is released with DONE (container task rows stay
    // as history until cleanJobs)
    assert(cat2.read(spark, "tasks")
      .filter(col("job_id") === "jbu" && col("state") === "LOCK").count() == 0)
  }

  test("deletion torn cancel: ABORTED journaled, crash before un-flip — resume finishes the rollback") {
    val cat2 = twoCellCatalog("deltorn", poisonR2 = false)
    val spec = DeletionJob.Spec("jdc", "deltorn", recordIds = Seq("r2"))
    assert(DeletionJob.run(spark, cat2, spec,
      pauseAfter = Some("DELETIONINPROGRESS")) == "DELETIONINPROGRESS")
    assert(cat2.read(spark, "datasets")
      .filter(col("id") === "d2").select("status")
      .collect().head.getString(0) == "TODELETE")
    // simulate cancel() crashing right after its ABORTED journal append:
    // the flip is still in place and the LOCK rows survive
    JournaledJob(spark, cat2, DeletionJob.JobType, "jdc", "deltorn")
      .log("ABORTED")
    // any later touch finishes the rollback instead of journaling a
    // bogus DONE over a skipped removal
    assert(DeletionJob.run(spark, cat2, spec) == "ABORTED")
    assert(cat2.read(spark, "datasets")
      .filter(col("id") === "d2").select("status")
      .collect().head.getString(0) == "ACTIVE")
    assert(cat2.read(spark, "tasks").filter(col("job_id") === "jdc").count() == 0)
    assert(cat2.read(spark, "jobs")
      .filter(col("id") === "jdc" && col("state").isin("DONE", "DONEBUTUNTIDY"))
      .count() == 0)
    // idempotent: a second touch is a no-op ABORTED
    assert(DeletionJob.run(spark, cat2, spec) == "ABORTED")
  }
}
