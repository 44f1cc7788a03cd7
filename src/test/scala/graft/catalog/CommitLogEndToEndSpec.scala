package graft.catalog

import graft.consolidation.{ConsolidationJob, ConsolidationParams}
import graft.core.{DataFormat, DataMapping, DType, NumRange}
import graft.geo.{Affine, BBox, GeomOps}
import graft.layout.Layout
import graft.raster.{Bitmap, Resampling}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The WHOLE engine on the commit-log store, on a filesystem whose
  * cross-directory rename THROWS — the drop-in proof at the system
  * level, one tier above the primitive-level contract specs: the
  * consolidation FSM drives to DONE (journal appends, task partition
  * rewrites, the C6 datasets swap, C7 bucket-scoped tile GC), the
  * consolidated catalog serves GetCube, and a deleteWhere GC pass stays
  * exact — all without one rename outside Spark's job-commit scratch.
  * This is the deployment the reference runs against GCS (N workers +
  * apiservers over object storage, interface/storage/gcs/strategy.go)
  * expressed store-first: same FSM code, same serving code, only the
  * [[TableStore]] constructor differs. */
class CommitLogEndToEndSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val local: String =
    java.nio.file.Files.createTempDirectory("graft-cle2e").toString
  private lazy val cat: TableStore = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.norename.impl", classOf[NoRenameFileSystem].getName)
    // the test scheme is not on the verified allowlist — attest it,
    // SCHEME-SCOPED so parallel suites' guard tests are untouched (its
    // exclusive create is genuinely atomic: the hard-link emulation)
    hc.setBoolean(
      s"${Catalog.AssumeAtomicCreateConf}.norename", true)
    Catalog(s"norename://$local")
  }

  override def afterAll(): Unit = CatalogTestIO.rm(new java.io.File(local))

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private def wkbBox(b: BBox) = GeomOps.writeWkb(GeomOps.polygonFromBBox(b))
  private def bboxRow(b: BBox) = Row(b.xmin, b.ymin, b.xmax, b.ymax)

  private val uint8Map = DataMapping(
    DataFormat(DType.UInt8, 255.0, NumRange(0, 254)), NumRange(0, 254), 1.0)

  override def beforeAll(): Unit = {
    val sc = spark
    def write(table: String, rows: Seq[Row]): Unit =
      cat.append(sc.createDataFrame(
        sc.sparkContext.parallelize(rows), Schemas.all(table)), table)
    val box = BBox(0, 0, 4, 4)
    write("aoi", Seq(Row("a1", "h1", wkbBox(box), bboxRow(box))))
    write("records", Seq(
      Row("r1", "s1", ts("2024-01-01 00:00:00"), Map.empty[String, String], "a1"),
      Row("r2", "s2", ts("2024-01-02 00:00:00"), Map.empty[String, String], "a1")))
    write("variable_definitions", Seq(
      Row("v1", "b", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "", "near")))
    write("variable_instances", Seq(Row("i1", "m", Map.empty[String, String], "v1")))
    write("containers", Seq(
      Row("mem://c1", false, "STANDARD"), Row("mem://c2", false, "STANDARD")))
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

  private val layout = Layout("cells", Seq("regular"),
    Map("crs" -> "EPSG:4326", "resolution" -> "0.5", "cell_size" -> "8"),
    maxRecords = 4, overviewsMinSize = 4)

  test("full consolidation FSM to DONE on the no-rename commit-log store") {
    val spec = ConsolidationJob.Spec("job1", "test", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(uint8Map, Resampling.Near))
    assert(ConsolidationJob.run(spark, cat, spec) == "DONE")

    val states = cat.read(spark, "jobs").filter(col("id") === "job1")
      .orderBy("created_at").select("state").collect().map(_.getString(0)).toSeq
    assert(states == ConsolidationJob.states)

    // swap applied: old datasets replaced by ACTIVE consolidated ones
    val ds = cat.read(spark, "datasets").collect()
    assert(ds.length == 2 && ds.forall(_.getAs[String]("status") == "ACTIVE"))
    assert(ds.forall(_.getAs[String]("container_uri")
      .startsWith(s"norename://$local/containers/job1/")))

    // C7 GC dropped the source tiles through deleteWhere; the
    // consolidated 8×8 bases + 4×4 overviews are what remains
    val tiles = cat.read(spark, "tiles").collect()
    assert(tiles.length == 4)
    assert(tiles.map(_.getAs[String]("subdir")).toSet ==
      Set("GTIFF_DIR:1", "GTIFF_DIR:2", "GTIFF_DIR:1@ov1", "GTIFF_DIR:2@ov1"))
  }

  test("deletion job FSM to DONE on the no-rename commit-log store") {
    import graft.consolidation.DeletionJob
    val sc = spark
    def write(table: String, rows: Seq[Row]): Unit =
      cat.append(sc.createDataFrame(
        sc.sparkContext.parallelize(rows), Schemas.all(table)), table)
    // a separate instance so the consolidation tests' state is untouched
    val box = BBox(0, 0, 4, 4)
    write("records", Seq(
      Row("r9", "s9", ts("2024-02-01 00:00:00"), Map.empty[String, String], "a1")))
    def dsRow(id: String, uri: String): Row =
      Row(id, "r9", "i9", uri, "", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false,
        wkbBox(box), wkbBox(box), 4326, bboxRow(box))
    write("datasets", Seq(dsRow("d9a", "mem://x9a"), dsRow("d9b", "mem://x9b")))
    write("containers", Seq(
      Row("mem://x9a", true, "STANDARD"), Row("mem://x9b", true, "STANDARD")))
    def tile(uri: String): Row =
      Row(uri, "", 4, 4, 1, "uint8", "EPSG:4326",
        Seq(0.0, 1.0, 0.0, 4.0, 0.0, -1.0),
        new Bitmap(4, 4, 1, DType.UInt8, Array.fill(16)(7.0)).toBytes)
    write("tiles", Seq(tile("mem://x9a"), tile("mem://x9b")))

    // lock → TODELETE flip → GC → physical deletes (catalog-virtual
    // mem:// containers) → DONE, every mutation riding the commit log:
    // journal appends, task-partition rewrites, datasets updates, and
    // the bucket-scoped tiles deleteWhere with its optimistic conflicts
    assert(DeletionJob.run(spark, cat,
      DeletionJob.Spec("del9", "del9", instanceIds = Seq("i9"))) == "DONE")

    import org.apache.spark.sql.functions.col
    assert(cat.read(spark, "datasets")
      .filter(col("instance_id") === "i9").count() == 0)
    assert(cat.read(spark, "tiles")
      .filter(col("container_uri").startsWith("mem://x9")).count() == 0)
    assert(cat.read(spark, "containers")
      .filter(col("uri").startsWith("mem://x9")).count() == 0)
    assert(cat.read(spark, "tasks")
      .filter(col("job_id") === "del9")
      .filter(col("state") =!= "SUCCESSFUL").count() == 0)
    val states = cat.read(spark, "jobs").filter(col("id") === "del9")
      .select("state").collect().map(_.getString(0))
    assert(states.contains("DONE"))
  }

  test("the consolidated commit-log catalog serves GetCube") {
    import graft.cube._
    val slices = GetCube.cube(spark, cat, CubeRequest(
      instanceIds = Seq("i1"), crs = "EPSG:4326",
      transform = Affine.northUp(0, 4, 1, -1), width = 4, height = 4)).collect()
    assert(slices.length == 2)
    val bm = Bitmap.fromBytes(slices(0).payload, 4, 4, 1, DType.UInt8)
    assert(bm.pixels.forall(_ == 10.0))
    val bm2 = Bitmap.fromBytes(slices(1).payload, 4, 4, 1, DType.UInt8)
    assert(bm2.pixels.forall(_ == 20.0))
  }
}
