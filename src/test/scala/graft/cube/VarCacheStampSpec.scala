package graft.cube

import graft.SparkSuite
import graft.catalog.{Catalog, Schemas}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The serving path's snapshot-keyed read cache: [[Catalog.rows]]
  * answers without `payload` are cached on the commit-log snapshot
  * INSTANCE, which replay memoization hands back while the table's
  * `_log` listing is unchanged. On an HDFS-class root (here a `file:`
  * Hadoop URI — the same code path as any non-`java.io.File` root) the
  * cache must be OBSERVABLE (a warm read hands back the cached answer),
  * stable while the table is unchanged, and invalidated by an append or
  * a rewrite; a table directory without `_log` holds nothing the store
  * reads. A data file split's decoded rows are cached apart from any
  * snapshot, within a byte bound. */
class VarCacheStampSpec extends AnyFunSuite with SparkSuite {

  private val dir = tempDir("graft-stamp")
  // a Hadoop URI root, NOT a bare local path: java.io.File on this string
  // sees a nonexistent "./file:..." path and cannot observe it
  val root: String = "file://" + dir.toString

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
    val clDir = tempDir("graft-stamp-cl")
    val clRoot = "file://" + clDir.toString
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
  }

  private def tasksDf(rows: (String, String)*) =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, job) => Row(id, job, "NEW", null) }, 1), Schemas.all("tasks"))

  test("commits interleaved with partition reads keep one snapshot per table cached") {
    val d = tempDir("graft-rowscache")
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
  }

  test("the rows budget counts the requested columns of the row groups it reads") {
    val d = tempDir("graft-rowsbudget")
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
  }

  test("decoded splits outlive commits, are decoded once and stay within their byte bound") {
    val d = tempDir("graft-decoded")
    val cat = Catalog(d.toString)
    val b0 = Catalog.tilesBucketOf("mem://d0")
    val uris = Iterator.from(0).map(i => s"mem://d$i")
      .filter(Catalog.tilesBucketOf(_) == b0).take(2).toSeq
    val rnd = new scala.util.Random(11)
    def append(u: String): Unit =
      cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(u, "", 512, 512, 1, "uint32", "EPSG:4326", Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
          Array.fill[Byte](1 << 20)(rnd.nextInt().toByte))), 1), Schemas.all("tiles")), "tiles")
    val cols = Seq("container_uri", "payload")
    def read(in: Map[String, Set[String]] = Map.empty) =
      cat.rows(spark, "tiles", cols, Seq(b0.toString), in).get.map(_.getString(0)).toSet
    def state = {
      val s = Catalog.decodedSplitsState
      assert(s._2 <= Catalog.DecodedSplitsMaxBytes, s"$s over the bound")
      s
    }
    append(uris(0))
    assert(read() == Set(uris(0)))
    val first = state
    assert(first._2 >= (1L << 20), s"$first: the 1 MiB payload is not held")
    // warm, and for one container of the bucket: the same entry serves
    assert(read(Map("container_uri" -> Set(uris(0)))) == Set(uris(0)))
    assert(read() == Set(uris(0)))
    assert(state == first)
    // a commit keeps the first file's entry: only the new file is decoded
    append(uris(1))
    assert(read() == uris.toSet)
    val second = state
    assert(second._1 == first._1 + 1 || second._1 == 1, s"$first then $second")
    assert(read(Map("container_uri" -> Set(uris(1)))) == Set(uris(1)))
    assert(state == second)

    // the bound itself: a put that would pass it first empties the cache,
    // and a value larger than the bound is not kept
    val c = new Catalog.ByteBoundedCache[String, Int](100)
    c.put("a", 1, 60)
    c.put("a", 1, 60)
    assert(c.state == ((1, 60L)))
    c.put("b", 2, 50)
    assert(c.state == ((1, 50L)) && c.get("a").isEmpty && c.get("b").contains(2))
    c.put("c", 3, 101)
    assert(c.state == ((1, 50L)) && c.get("c").isEmpty)
    c.put("d", 4, 50)
    assert(c.state == ((2, 100L)) && c.get("b").contains(2) && c.get("d").contains(4))
  }
}
