package graft.consolidation

import graft.catalog.{Catalog, Schemas, TableStore}
import graft.core._
import graft.geo.{BBox, GeomOps}
import graft.layout.Layout
import graft.raster.{Bitmap, Resampling}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every crash window of both job FSMs, not a hand-picked few: the job
  * runs once uninterrupted on a [[CountingStore]] that counts its catalog
  * mutations (N). Then, for every k in 1..N, a fresh copy of the same
  * seed runs until its k-th mutation returns and the process "dies"
  * ([[Died]] is a ControlThrowable — no `case e: Exception`, `Try` or
  * `NonFatal` handler sees it, so no failure path runs), and the job
  * resumes on the plain catalog. The resumed run must end in the
  * uninterrupted run's terminal state with the same `datasets`,
  * `containers`, `tiles`, `container_layouts` and `tasks` rows (as
  * multisets) and, for deletion, the same physical container objects.
  *
  * All runs share one root path, restored from one seeded copy per k, so
  * the root-derived container uris and task ids of every run compare. */
class JobCrashSweepSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root: String =
    java.nio.file.Files.createTempDirectory("graft-crash-sweep").toString

  override def afterAll(): Unit =
    graft.catalog.CatalogTestIO.rm(new java.io.File(root))

  final class Died extends scala.util.control.ControlThrowable

  /** The catalog, dying after its `crashAfter`-th mutating call returns;
    * `calls` names every mutation made, in order. */
  final class CountingStore(inner: TableStore, crashAfter: Int = Int.MaxValue)
      extends TableStore {
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    private def mutated(call: String): Unit = {
      calls += call
      if (calls.size == crashAfter) throw new Died
    }
    def root: String = inner.root
    def read(spark: SparkSession, table: String): DataFrame = inner.read(spark, table)
    def append(df: DataFrame, table: String): Unit = {
      inner.append(df, table); mutated(s"append $table")
    }
    def rewrite(df: DataFrame, table: String): Unit = {
      inner.rewrite(df, table); mutated(s"rewrite $table")
    }
    def deleteWhere(spark: SparkSession, table: String, uris: DataFrame,
        uriCol: String): Unit = {
      inner.deleteWhere(spark, table, uris, uriCol); mutated(s"deleteWhere $table")
    }
    def updatePartitions(spark: SparkSession, table: String,
        partValues: Seq[String], transform: DataFrame => DataFrame): Unit = {
      inner.updatePartitions(spark, table, partValues, transform)
      mutated(s"updatePartitions $table")
    }
  }

  val compared: Seq[String] =
    Seq("datasets", "containers", "tiles", "container_layouts", "tasks")

  /** The state a run leaves: the compared tables as sorted rendered rows
    * (binary columns hex-encoded) and the files under `<root>/objs`. */
  def snapshot(cat: TableStore): (Map[String, Seq[String]], Set[String]) = {
    def render(v: Any): String = v match {
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s"${render(k)}=${render(x)}" }.sorted.mkString("{", ",", "}")
      case other => String.valueOf(other)
    }
    val tables = compared.map(t =>
      t -> cat.read(spark, t).collect().map(render).toSeq.sorted).toMap
    val objs = new java.io.File(root, "objs")
    val files = Option(objs.listFiles).map(_.map(_.getName).toSet).getOrElse(Set.empty)
    (tables, files)
  }

  def wipe(): Unit =
    Option(new java.io.File(root).listFiles).foreach(_.foreach(graft.catalog.CatalogTestIO.rm))

  def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    java.nio.file.Files.walk(from).forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    }

  /** Runs the job once uninterrupted, then crashes and resumes it at
    * every mutation index. `seed` fills the empty root once and every run
    * starts from a copy of that; `run` drives the job on the given store
    * and returns its final state. */
  def sweep(seed: Catalog => Unit)(run: TableStore => String): Unit = {
    wipe()
    seed(Catalog(root))
    val seeded = java.nio.file.Files.createTempDirectory("graft-crash-seed")
    copyTree(java.nio.file.Path.of(root), seeded)
    val counting = new CountingStore(Catalog(root))
    val terminal = run(counting)
    val expected = snapshot(counting)
    val calls = counting.calls.toSeq
    assert(calls.nonEmpty)
    for (k <- 1 to calls.size) {
      wipe()
      copyTree(seeded, java.nio.file.Path.of(root))
      val dying = new CountingStore(Catalog(root), crashAfter = k)
      intercept[Died](run(dying))
      val window = s"crash after mutation $k of ${calls.size} (${calls(k - 1)})"
      assert(dying.calls == calls.take(k), s"$window: the run diverged")
      val resumed = Catalog(root)
      assert(run(resumed) == terminal, window)
      val got = snapshot(resumed)
      compared.foreach(t =>
        assert(got._1(t) == expected._1(t), s"$window: table $t differs"))
      assert(got._2 == expected._2, s"$window: container objects differ")
    }
    graft.catalog.CatalogTestIO.rm(seeded.toFile)
    info(s"${calls.size} crash windows: ${calls.mkString(", ")}")
  }

  def write(cat: Catalog, table: String, rows: Seq[Row]): Unit =
    cat.append(spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.all(table)), table)

  def wkbBox(b: BBox): Array[Byte] = GeomOps.writeWkb(GeomOps.polygonFromBBox(b))
  def bboxRow(b: BBox): Row = Row(b.xmin, b.ymin, b.xmax, b.ymax)
  def dsRow(id: String, rid: String, inst: String, uri: String, b: BBox): Row =
    Row(id, rid, inst, uri, "", Seq(1), "ACTIVE", null,
      "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false,
      wkbBox(b), wkbBox(b), 4326, bboxRow(b))
  def tile(uri: String, x0: Double, y1: Double, v: Double): Row =
    Row(uri, "", 4, 4, 1, "uint8", "EPSG:4326", Seq(x0, 1.0, 0.0, y1, 0.0, -1.0),
      new Bitmap(4, 4, 1, DType.UInt8, Array.fill(16)(v)).toBytes)

  test("consolidation: crash after every catalog write, resume matches the uninterrupted run") {
    // two records in two cells: two output containers, two task rows
    val b1 = BBox(0, 0, 4, 4)
    val b2 = BBox(8, 8, 12, 12)
    def seed(cat: Catalog): Unit = {
      write(cat, "aoi", Seq(Row("a1", "h1", wkbBox(b1), bboxRow(b1)),
        Row("a2", "h2", wkbBox(b2), bboxRow(b2))))
      write(cat, "records", Seq(
        Row("r1", "s1", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
          Map.empty[String, String], "a1"),
        Row("r2", "s2", java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
          Map.empty[String, String], "a2")))
      write(cat, "variable_definitions", Seq(
        Row("v1", "b", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "", "near")))
      write(cat, "variable_instances", Seq(Row("i1", "m", Map.empty[String, String], "v1")))
      write(cat, "containers", Seq(Row("mem://c1", false, "STANDARD"),
        Row("mem://c2", false, "STANDARD")))
      write(cat, "datasets", Seq(dsRow("d1", "r1", "i1", "mem://c1", b1),
        dsRow("d2", "r2", "i1", "mem://c2", b2)))
      write(cat, "tiles", Seq(tile("mem://c1", 0, 4, 10.0), tile("mem://c2", 8, 12, 20.0)))
    }
    val layout = Layout("cells", Seq("regular"),
      Map("crs" -> "EPSG:4326", "resolution" -> "0.5", "cell_size" -> "8"),
      maxRecords = 4, overviewsMinSize = 4)
    val spec = ConsolidationJob.Spec("jsweep", "sweep", "i1", Seq("r1", "r2"),
      layout, ConsolidationParams(DataMapping(
        DataFormat(DType.UInt8, 255.0, NumRange(0, 254)), NumRange(0, 254), 1.0),
        Resampling.Near))
    sweep(seed)(cat => ConsolidationJob.run(spark, cat, spec))
  }

  test("deletion: crash after every catalog write, resume matches the uninterrupted run") {
    val b = BBox(0, 0, 1, 1)
    def seed(cat: Catalog): Unit = {
      val objs = new java.io.File(root, "objs")
      objs.mkdirs()
      Seq("managed.tif", "user.tif").foreach(n =>
        java.nio.file.Files.write(new java.io.File(objs, n).toPath, Array[Byte](1, 2)))
      val managed = s"file://$objs/managed.tif"
      val user = s"file://$objs/user.tif"
      // i2 goes: its managed file and virtual container are orphaned and
      // deleted, the user's unmanaged file stays, mem://keep is shared
      // with i1 and survives
      write(cat, "datasets", Seq(
        dsRow("d1", "r1", "i1", "mem://keep", b),
        dsRow("d2", "r2", "i2", "mem://keep", b),
        dsRow("d3", "r3", "i2", "mem://gone", b),
        dsRow("d4", "r4", "i2", managed, b),
        dsRow("d5", "r5", "i2", user, b)))
      write(cat, "containers", Seq(
        Row("mem://keep", true, "STANDARD"), Row("mem://gone", true, "STANDARD"),
        Row(managed, true, "STANDARD"), Row(user, false, "STANDARD")))
      write(cat, "tiles", Seq(tile("mem://keep", 0, 1, 7.0), tile("mem://gone", 0, 1, 8.0)))
    }
    val spec = DeletionJob.Spec("dsweep", "sweep", instanceIds = Seq("i2"))
    sweep(seed)(cat => DeletionJob.run(spark, cat, spec))
  }
}
