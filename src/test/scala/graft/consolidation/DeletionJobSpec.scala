package graft.consolidation

import graft.catalog.{Catalog, Schemas}
import graft.core.DType
import graft.geo.{BBox, GeomOps}
import graft.raster.Bitmap
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The standalone deletion FSM (operations.go delInit→delDeleteContainers):
  * filter-selected lock, TODELETE flip, catalog removal + GC, physical
  * container deletion as journaled tasks, DONEBUTUNTIDY + retry. */
class DeletionJobSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root: String =
    java.nio.file.Files.createTempDirectory("graft-deljob").toString
  val cat: Catalog = Catalog(root)

  // physical container objects: a plain file (deletable), a non-empty
  // directory (File.delete fails → FAILED task), an unmanaged file (must
  // survive — the user's object)
  val objDir: java.io.File =
    java.nio.file.Files.createTempDirectory("graft-delobj").toFile
  val fileOk = new java.io.File(objDir, "c-file.tif")
  val dirBad = new java.io.File(objDir, "c-dir")
  val dirBadChild = new java.io.File(dirBad, "inner.bin")
  val fileUser = new java.io.File(objDir, "c-user.tif")

  def write(table: String, rows: Seq[Row]): Unit =
    cat.append(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Schemas.all(table)), table)

  override def beforeAll(): Unit = {
    java.nio.file.Files.write(fileOk.toPath, Array[Byte](1, 2, 3))
    dirBad.mkdirs()
    java.nio.file.Files.write(dirBadChild.toPath, Array[Byte](4))
    java.nio.file.Files.write(fileUser.toPath, Array[Byte](5))

    val box = BBox(0, 0, 1, 1)
    val wkb = GeomOps.writeWkb(GeomOps.polygonFromBBox(box))
    val bbox = Row(box.xmin, box.ymin, box.xmax, box.ymax)
    def ds(id: String, inst: String, uri: String): Row =
      Row(id, s"r-$id", inst, uri, "", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false, wkb, wkb, 4326, bbox)
    // mem://keep shared by i1+i2; the rest only referenced by i2
    write("datasets", Seq(
      ds("d1", "i1", "mem://keep"),
      ds("d3", "i2", "mem://keep"),
      ds("d4", "i2", "mem://gone"),
      ds("d5", "i2", s"file://$fileOk"),
      ds("d6", "i2", s"file://$dirBad"),
      ds("d7", "i2", s"file://$fileUser")))
    write("containers", Seq(
      Row("mem://keep", true, "STANDARD"),
      Row("mem://gone", true, "STANDARD"),
      Row(s"file://$fileOk", true, "STANDARD"),
      Row(s"file://$dirBad", true, "STANDARD"),
      Row(s"file://$fileUser", false, "STANDARD"))) // unmanaged: user's
    val tf = Seq(0.0, 0.25, 0.0, 1.0, 0.0, -0.25)
    write("tiles", Seq("mem://keep", "mem://gone").map { uri =>
      Row(uri, "", 4, 4, 1, "uint8", "EPSG:4326", tf,
        new Bitmap(4, 4, 1, DType.UInt8, Array.fill(16)(7.0)).toBytes)
    })
  }

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(root)); rm(objDir)
  }

  test("deletion job: lock by instance, flip, GC, physical deletes, retry") {
    val spec = DeletionJob.Spec("del1", "del1", instanceIds = Seq("i2"))

    // step-by-step: stop after the TODELETE flip and observe it
    assert(DeletionJob.run(spark, cat, spec,
      pauseAfter = Some("DELETIONINPROGRESS")) == "DELETIONINPROGRESS")
    val flipped = cat.read(spark, "datasets")
      .filter(col("status") === "TODELETE")
      .select("id").collect().map(_.getString(0)).toSet
    assert(flipped == Set("d3", "d4", "d5", "d6", "d7"))

    // resume to the end: the non-empty directory container fails its task
    assert(DeletionJob.run(spark, cat, spec) == "DONEBUTUNTIDY")

    // catalog state: i1's dataset and the shared container survive
    assert(cat.read(spark, "datasets").select("id")
      .collect().map(_.getString(0)).toSeq == Seq("d1"))
    assert(cat.read(spark, "containers").select("uri")
      .collect().map(_.getString(0)).toSeq == Seq("mem://keep"))
    assert(cat.read(spark, "tiles").select("container_uri")
      .collect().map(_.getString(0)).toSeq == Seq("mem://keep"))

    // physical state: managed file gone, user's unmanaged file intact,
    // the undeletable directory still there with its FAILED task
    assert(!fileOk.exists && fileUser.exists && dirBad.exists)
    val tasks = cat.read(spark, "tasks")
      .select("payload", "state").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tasks(s"file://$fileOk") == "SUCCESSFUL")
    assert(tasks("mem://gone") == "SUCCESSFUL") // catalog-virtual: trivial
    assert(tasks(s"file://$dirBad") == "FAILED")
    assert(!tasks.contains(s"file://$fileUser")) // unmanaged: no task

    // unblock the directory and resume: only the FAILED task retries
    dirBadChild.delete()
    assert(DeletionJob.run(spark, cat, spec) == "DONE")
    assert(!dirBad.exists)
    assert(cat.read(spark, "tasks").filter(col("state") =!= "SUCCESSFUL").count() == 0)
    val states = cat.read(spark, "jobs").filter(col("id") === "del1")
      .select("state").collect().map(_.getString(0)).toSet
    assert(states.contains("DONEBUTUNTIDY") && states.contains("DONE"))
  }

  test("deletion job: container-URI glob pattern selects the lock set") {
    val box = BBox(0, 0, 1, 1)
    val wkb = GeomOps.writeWkb(GeomOps.polygonFromBBox(box))
    val bbox = Row(box.xmin, box.ymin, box.xmax, box.ymax)
    def ds(id: String, uri: String): Row =
      Row(id, s"r-$id", "i9", uri, "", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false, wkb, wkb, 4326, bbox)
    write("datasets", Seq(ds("p1", "mem://pat/a"), ds("p2", "mem://pat/b"),
      ds("p3", "mem://other/c")))
    write("containers", Seq(Row("mem://pat/a", true, "STANDARD"),
      Row("mem://pat/b", true, "STANDARD"), Row("mem://other/c", true, "STANDARD")))
    val spec = DeletionJob.Spec("del2", "del2",
      containerUriPatterns = Seq("mem://pat/*"))
    assert(DeletionJob.run(spark, cat, spec) == "DONE")
    val ids = cat.read(spark, "datasets").select("id")
      .collect().map(_.getString(0)).toSet
    assert(!ids.contains("p1") && !ids.contains("p2") && ids.contains("p3"))
    assert(cat.read(spark, "containers").select("uri")
      .collect().map(_.getString(0)).toSet.contains("mem://other/c"))
  }

  test("first-run lock takes ACTIVE rows only: foreign TODELETE survives") {
    // a row another job flagged TODELETE (e.g. a consolidation awaiting
    // its GC) matches the filters but must be neither locked, removed,
    // nor resurrected by this job
    val box = BBox(0, 0, 1, 1)
    val wkb = GeomOps.writeWkb(GeomOps.polygonFromBBox(box))
    val bbox = Row(box.xmin, box.ymin, box.xmax, box.ymax)
    def ds(id: String, status: String, uri: String): Row =
      Row(id, s"r-$id", "iF", uri, "", Seq(1), status, null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false, wkb, wkb, 4326, bbox)
    write("datasets", Seq(ds("f1", "TODELETE", "mem://f1"),
      ds("f2", "ACTIVE", "mem://f2")))
    write("containers", Seq(Row("mem://f1", true, "STANDARD"),
      Row("mem://f2", true, "STANDARD")))
    assert(DeletionJob.run(spark, cat,
      DeletionJob.Spec("del4", "del4", instanceIds = Seq("iF"))) == "DONE")
    val statuses = cat.read(spark, "datasets")
      .filter(col("instance_id") === "iF")
      .select("id", "status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(statuses == Map("f1" -> "TODELETE")) // f2 deleted, f1 untouched
    // DONE released the lock rows
    assert(cat.read(spark, "tasks")
      .filter(col("job_id") === "del4" && col("state") === "LOCK").count() == 0)
  }

  test("unsupported container scheme fails its task, never fake-succeeds") {
    val box = BBox(0, 0, 1, 1)
    val wkb = GeomOps.writeWkb(GeomOps.polygonFromBBox(box))
    val bbox = Row(box.xmin, box.ymin, box.xmax, box.ymax)
    write("datasets", Seq(Row("s1", "r-s1", "iS", "s3://bucket/obj", "",
      Seq(1), "ACTIVE", null, "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0,
      false, wkb, wkb, 4326, bbox)))
    write("containers", Seq(Row("s3://bucket/obj", true, "STANDARD")))
    assert(DeletionJob.run(spark, cat,
      DeletionJob.Spec("del5", "del5", instanceIds = Seq("iS"))) == "DONEBUTUNTIDY")
    assert(cat.read(spark, "tasks").filter(col("job_id") === "del5" &&
      col("payload") === "s3://bucket/obj" && col("state") === "FAILED").count() == 1)
  }

  test("deletion cancel un-flips and releases locks; refused once removed") {
    val box = BBox(0, 0, 1, 1)
    val wkb = GeomOps.writeWkb(GeomOps.polygonFromBBox(box))
    val bbox = Row(box.xmin, box.ymin, box.xmax, box.ymax)
    def ds(id: String): Row =
      Row(id, s"r-$id", "iC", s"mem://$id", "", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false, wkb, wkb, 4326, bbox)
    write("datasets", Seq(ds("dc1"), ds("dc2")))
    write("containers", Seq(Row("mem://dc1", true, "STANDARD"),
      Row("mem://dc2", true, "STANDARD")))
    val spec = DeletionJob.Spec("del6", "del6", instanceIds = Seq("iC"))
    assert(DeletionJob.run(spark, cat, spec,
      pauseAfter = Some("DELETIONINPROGRESS")) == "DELETIONINPROGRESS")
    // cancel by id routes on the journaled DELETION type
    assert(ConsolidationJob.cancelById(spark, cat, "del6") == "ABORTED")
    val statuses = cat.read(spark, "datasets")
      .filter(col("instance_id") === "iC").select("status")
      .collect().map(_.getString(0)).toSet
    assert(statuses == Set("ACTIVE")) // un-flipped
    assert(cat.read(spark, "tasks")
      .filter(col("job_id") === "del6" && col("state") === "LOCK").count() == 0)
    // terminal: the cancelled job never resumes
    assert(DeletionJob.run(spark, cat, spec) == "ABORTED")
    assert(cat.read(spark, "datasets")
      .filter(col("instance_id") === "iC").count() == 2)
    // a finished deletion refuses cancellation
    val spec2 = DeletionJob.Spec("del7", "del7", instanceIds = Seq("iC"))
    assert(DeletionJob.run(spark, cat, spec2) == "DONE")
    assert(ConsolidationJob.cancelById(spark, cat, "del7") == "CANCELLATIONFAILED")
    assert(ConsolidationJob.cancelById(spark, cat, "no-such-job") == "NOTFOUND")
  }

  test("DONE is terminal: retry is UNHANDLED and a re-run writes nothing") {
    val box = BBox(0, 0, 1, 1)
    val wkb = GeomOps.writeWkb(GeomOps.polygonFromBBox(box))
    val bbox = Row(box.xmin, box.ymin, box.xmax, box.ymax)
    write("datasets", Seq(Row("dd1", "r-dd1", "iD", "mem://dd1", "", Seq(1),
      "ACTIVE", null, "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false,
      wkb, wkb, 4326, bbox)))
    write("containers", Seq(Row("mem://dd1", true, "STANDARD")))
    val spec = DeletionJob.Spec("del8", "del8", instanceIds = Seq("iD"))
    assert(DeletionJob.run(spark, cat, spec) == "DONE")
    val files = graft.catalog.CatalogTestIO.fileState(new java.io.File(root))
    // job.go has no Retried event out of DONE
    assert(DeletionJob.retry(spark, cat, spec) == "UNHANDLED")
    assert(DeletionJob.run(spark, cat, spec) == "DONE")
    assert(graft.catalog.CatalogTestIO.fileState(new java.io.File(root)) == files)
  }

  test("deletion job with no match journals INITIALISATIONFAILED, touches nothing") {
    // nothing was locked or flipped — the retryable init-failure state
    // (job.go DeletionNotReady), not the post-rollback terminal FAILED
    val before = cat.read(spark, "datasets").count()
    assert(DeletionJob.run(spark, cat,
      DeletionJob.Spec("del3", "del3", instanceIds = Seq("nope")))
      == "INITIALISATIONFAILED")
    assert(cat.read(spark, "datasets").count() == before)
    assert(cat.read(spark, "jobs").filter(col("id") === "del3" &&
      col("state") === "INITIALISATIONFAILED").count() == 1)
    // re-running the job id re-enters init (still failing here: same cause)
    assert(DeletionJob.run(spark, cat,
      DeletionJob.Spec("del3", "del3", instanceIds = Seq("nope")))
      == "INITIALISATIONFAILED")
  }
}
