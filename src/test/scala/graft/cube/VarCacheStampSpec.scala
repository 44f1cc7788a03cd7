package graft.cube

import graft.catalog.{Catalog, Schemas}
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The serving path's snapshot-keyed read cache: [[Catalog.rows]]
  * answers without `payload` are cached on the commit-log snapshot
  * INSTANCE, which replay memoization hands back while the table's
  * `_log` listing is unchanged. On an HDFS-class root (here a `file:`
  * Hadoop URI — the same code path as any non-`java.io.File` root) the
  * cache must be OBSERVABLE (a warm read hands back the cached answer),
  * stable while the table is unchanged, and invalidated by an append or
  * a rewrite; a table directory without `_log` holds nothing the store
  * reads. */
class VarCacheStampSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = java.nio.file.Files.createTempDirectory("graft-stamp")
  // a Hadoop URI root, NOT a bare local path: java.io.File on this string
  // sees a nonexistent "./file:..." path and cannot observe it
  val root: String = "file://" + dir.toString

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(dir.toFile)
  }

  private def vrow(id: String): Row =
    Row(id, s"var-$id", "", "", Seq("b1"), "uint8", 255.0, 0.0, 254.0,
      "", "near")

  private val cols = Seq("id", "resampling_alg")
  private def ids(cat: Catalog): Set[String] =
    cat.rows(spark, "variable_definitions", cols).get.map(_.getString(0)).toSet

  test("file: URI root: stamp observable, stable when unchanged, moved by appends") {
    val cat = Catalog(root)
    cat.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(vrow("v1")), 1),
      Schemas.all("variable_definitions")), "variable_definitions")
    val r1 = cat.rows(spark, "variable_definitions", cols).get
    // stable while nothing changes: the warm read IS the cached answer
    assert(cat.rows(spark, "variable_definitions", cols).get eq r1,
      "warm read on a file: URI root missed the snapshot-keyed cache")
    // an append moves the snapshot → stale answers can never be served
    cat.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(vrow("v2")), 1),
      Schemas.all("variable_definitions")), "variable_definitions")
    val r2 = cat.rows(spark, "variable_definitions", cols).get
    assert(!(r2 eq r1), "append did not invalidate the cached rows")
    assert(ids(cat) == Set("v1", "v2"))
    // a rewrite moves it too
    cat.rewrite(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(vrow("v3")), 1),
      Schemas.all("variable_definitions")), "variable_definitions")
    assert(ids(cat) == Set("v3"))
    // a never-written table answers empty
    assert(cat.rows(spark, "variable_instances", Seq("id")).get.isEmpty)
  }

  test("commit-log root: stamp reads the _log listing (object-store honest)") {
    // a cache keyed on the table dir's direct children (the CONSTANT
    // `_log`/`data` entries) would be blind on flat object stores; the
    // snapshot is keyed by the versioned commit files, whose NAMES change
    // on every mutation — so the same answer object is served exactly
    // while no commit lands. A table dir WITHOUT `_log` has no committed
    // files: it reads as empty through both `rows` and `read`
    val clDir = java.nio.file.Files.createTempDirectory("graft-stamp-cl")
    val clRoot = "file://" + clDir.toString
    try {
      val cat = graft.catalog.Catalog(clRoot)
      cat.append(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(vrow("v1")), 1),
        Schemas.all("variable_definitions")), "variable_definitions")
      val r1 = cat.rows(spark, "variable_definitions", cols).get
      assert(cat.rows(spark, "variable_definitions", cols).get eq r1)
      cat.append(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(vrow("v2")), 1),
        Schemas.all("variable_definitions")), "variable_definitions")
      assert(!(cat.rows(spark, "variable_definitions", cols).get eq r1),
        "commit-log append did not move the serving cache")
      assert(ids(cat) == Set("v1", "v2"))
      val bare = new java.io.File(clDir.toFile, "variable_instances")
      assert(bare.mkdirs())
      java.nio.file.Files.write(new java.io.File(bare, "part-0.parquet").toPath,
        Array[Byte](1, 2, 3))
      assert(cat.rows(spark, "variable_instances", Seq("id")).get.isEmpty,
        "a table dir without _log must hold no rows")
      assert(cat.read(spark, "variable_instances").count() == 0)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete(): Unit
      }
      rm(clDir.toFile)
    }
  }

  private def tasksDf(rows: (String, String)*) =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, job) => Row(id, job, "NEW", null) }, 1), Schemas.all("tasks"))

  test("commits interleaved with partition reads keep one snapshot per table cached") {
    val d = java.nio.file.Files.createTempDirectory("graft-rowscache")
    try {
      val cat = Catalog(d.toString)
      val tablePath = s"${cat.root}/tasks"
      var snapshots = Set.empty[Int]
      for (i <- 1 to 6) {
        cat.append(tasksDf((s"t$i", s"j$i")), "tasks")
        assert(cat.rows(spark, "tasks", Seq("id"), Seq(s"j$i")).get.map(_.getString(0)) ==
          Seq(s"t$i"))
        cat.rows(spark, "tasks", Seq("id", "state"), Seq(s"j${i - 1}")).get
        val (snap, answers) = Catalog.rowsCacheState(tablePath).get
        // the older snapshots' answers are gone, not just unreachable
        assert(answers == 2, s"commit $i: $answers answers cached")
        assert(!snapshots(snap), s"commit $i: a cached snapshot was reused")
        snapshots += snap
      }
    } finally {
      def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
      rm(d.toFile)
    }
  }

  test("the rows budget counts the requested columns of the row groups it reads") {
    val d = java.nio.file.Files.createTempDirectory("graft-rowsbudget")
    try {
      val cat = Catalog(d.toString)
      // two containers of one bucket, each appended alone (a file each),
      // with 1 MiB of incompressible payload apiece
      val b0 = Catalog.tilesBucketOf("mem://c0")
      val uris = Iterator.from(0).map(i => s"mem://c$i")
        .filter(Catalog.tilesBucketOf(_) == b0).take(2).toSeq
      val rnd = new scala.util.Random(7)
      uris.foreach { u =>
        val payload = Array.fill[Byte](1 << 20)(rnd.nextInt().toByte)
        cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
          Row(u, "", 512, 512, 1, "uint32", "EPSG:4326",
            Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0), payload)), 1), Schemas.all("tiles")), "tiles")
      }
      val bucket = Seq(b0.toString)
      val cols = Seq("container_uri", "payload")
      assert(cat.rows(spark, "tiles", cols, bucket, budgetBytes = 3L << 20).get.size == 2)
      assert(cat.rows(spark, "tiles", cols, bucket, budgetBytes = 3L << 19).isEmpty)
      // one container's row groups fit where the bucket's do not
      assert(cat.rows(spark, "tiles", cols, bucket, Map("container_uri" -> Set(uris(1))),
        budgetBytes = 3L << 19).get.map(_.getString(0)) == Seq(uris(1)))
      // the bucket's payload-free metadata costs its own columns only
      assert(cat.rows(spark, "tiles", Seq("container_uri", "width"), bucket,
        budgetBytes = 1L << 16).get.size == 2)
    } finally {
      def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
      rm(d.toFile)
    }
  }

  test("metadata broadcast gate: exact-stat local frames hint, stat-less frames don't") {
    import spark.implicits._
    // a client request's materialized metadata: LocalRelation, exact size
    assert(GetCube.boundedForBroadcast(
      (0 until 100).map(i => (s"u$i", i)).toDF("container_uri", "n")))
    // an RDD-backed frame reports the default (≈unbounded) size — the
    // r11 advice case: bulk-export-scale metadata must NOT force a
    // driver broadcast
    val rddBacked = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row("u", 1)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("container_uri",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.IntegerType))))
    assert(!GetCube.boundedForBroadcast(rddBacked))
  }
}
