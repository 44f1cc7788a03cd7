package graft.cube

import graft.catalog.{Catalog, Schemas}
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The serving-path variable cache's key ([[GetCube.dirStamp]]) resolved
  * through the Hadoop FileSystem: on an HDFS-class root (here a `file:`
  * Hadoop URI — same code path, non-`java.io.File`) the stamp must be
  * OBSERVABLE (cache hits possible at all — r11 verdict #3: the old
  * `java.io.File` stamp returned (-1,-1) for any URI root, silently
  * charging every request a variable-lookup Spark action), stable while
  * the table is unchanged, and different after an append or rewrite. */
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

  test("file: URI root: stamp observable, stable when unchanged, moved by appends") {
    val cat = Catalog(root)
    cat.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(vrow("v1")), 1),
      Schemas.all("variable_definitions")), "variable_definitions")
    val s1 = GetCube.dirStamp(spark, root, "variable_definitions")
    assert(s1 != ((-1L, -1L)), "stamp unobservable on a file: URI root — cache always bypassed")
    // stable while nothing changes → same cache key → cache hit
    assert(GetCube.dirStamp(spark, root, "variable_definitions") == s1)
    // an append moves it → stale entries can never be served
    cat.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(vrow("v2")), 1),
      Schemas.all("variable_definitions")), "variable_definitions")
    val s2 = GetCube.dirStamp(spark, root, "variable_definitions")
    assert(s2 != s1, "append did not invalidate the variable cache stamp")
    // a rewrite moves it too
    cat.rewrite(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(vrow("v3")), 1),
      Schemas.all("variable_definitions")), "variable_definitions")
    assert(GetCube.dirStamp(spark, root, "variable_definitions") != s2)
    // a missing table stays unobservable → bypass, never a phantom hit
    assert(GetCube.dirStamp(spark, root, "no_such_table") == ((-1L, -1L)))
  }

  test("commit-log root: stamp reads the _log listing (object-store honest)") {
    // the table dir's direct children are the CONSTANT `_log`/`data`
    // entries — a stamp of that listing would be blind on flat object
    // stores (synthetic directory mtimes); the stamp must instead track
    // the versioned commit files, whose NAMES change on every mutation.
    // A table dir WITHOUT `_log` has nothing to stamp: unobservable, so
    // the cache is bypassed rather than keyed on a listing no mutation
    // of this store moves
    val clDir = java.nio.file.Files.createTempDirectory("graft-stamp-cl")
    val clRoot = "file://" + clDir.toString
    try {
      val cat = graft.catalog.Catalog(clRoot)
      cat.append(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(vrow("v1")), 1),
        Schemas.all("variable_definitions")), "variable_definitions")
      val s1 = GetCube.dirStamp(spark, clRoot, "variable_definitions")
      assert(s1 != ((-1L, -1L)))
      assert(GetCube.dirStamp(spark, clRoot, "variable_definitions") == s1)
      cat.append(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(vrow("v2")), 1),
        Schemas.all("variable_definitions")), "variable_definitions")
      assert(GetCube.dirStamp(spark, clRoot, "variable_definitions") != s1,
        "commit-log append did not move the serving cache stamp")
      val bare = new java.io.File(clDir.toFile, "variable_instances")
      assert(bare.mkdirs())
      java.nio.file.Files.write(new java.io.File(bare, "part-0.parquet").toPath,
        Array[Byte](1, 2, 3))
      assert(GetCube.dirStamp(spark, clRoot, "variable_instances") == ((-1L, -1L)),
        "a table dir without _log must stamp unobservable")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete(): Unit
      }
      rm(clDir.toFile)
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
