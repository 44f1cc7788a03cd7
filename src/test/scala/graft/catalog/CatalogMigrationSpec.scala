package graft.catalog

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** On-disk layout versioning + journal clock for the parquet catalog. */
class CatalogMigrationSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root: String =
    java.nio.file.Files.createTempDirectory("graft-mig").toString

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(root))
  }

  test("legacy flat jobs directory migrates to the partitioned layout") {
    val cat = Catalog(root)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def jobRow(id: String, name: String, tpe: String): Row =
      Row(id, name, tpe, "NEW", 0, 0, "", t0, t0)
    // simulate a catalog written by the pre-partitioning build: flat
    // part files at the table root with `type` still a data column
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      jobRow("j1", "old", "CONSOLIDATION"), jobRow("j2", "old2", "DELETION"))),
      Schemas.all("jobs"))
      .write.mode("overwrite").parquet(s"$root/jobs")
    assert(new java.io.File(s"$root/jobs").listFiles
      .exists(f => f.isFile && f.getName.endsWith(".parquet")))
    // the new build's first append must not create the mixed flat +
    // type= layout Spark refuses to read — the legacy files are
    // migrated (atomic rewrite) before the partitioned append lands
    cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      jobRow("j3", "new", "CONSOLIDATION"))), Schemas.all("jobs")), "jobs")
    val rows = cat.read(spark, "jobs").select("id", "type").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("j1", "CONSOLIDATION"), ("j2", "DELETION"),
      ("j3", "CONSOLIDATION")))
    // no flat files remain at the table root
    assert(!new java.io.File(s"$root/jobs").listFiles
      .exists(f => f.isFile && f.getName.endsWith(".parquet")))
  }

  test("catalog roots resolve through the Hadoop FileSystem API") {
    // an explicit file:// URI root: append + atomic rewrite-swap + read
    // all work (the swap's renames go through FileSystem.rename, not
    // java.io.File — the API that is also atomic on HDFS)
    val local = java.nio.file.Files.createTempDirectory("graft-fsuri").toString
    val cat = Catalog(s"file://$local")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def rec(id: String): Row = Row(id, id, t0, Map.empty[String, String], "a1")
    cat.append(spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(rec("r1"), rec("r2"))), Schemas.all("records")), "records")
    cat.rewrite(cat.read(spark, "records")
      .filter(org.apache.spark.sql.functions.col("id") =!= "r1"), "records")
    assert(cat.read(spark, "records").collect().map(_.getString(0)).toSet
      == Set("r2"))
    // a scheme with no registered connector fails LOUDLY at first touch —
    // never the silent no-op renames java.io.File would give a gs:// path
    intercept[java.io.IOException] {
      Catalog("gs://no-such-connector/cat").read(spark, "records")
    }
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(local))
  }

  test("swap heal: a crash between the two renames never reads as an empty table") {
    val root2 = java.nio.file.Files.createTempDirectory("graft-heal").toString
    val cat2 = Catalog(root2)
    def names(): Set[String] = cat2.read(spark, "records")
      .select("id").collect().map(_.getString(0)).toSet
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def rec(id: String): Row = Row(id, id, t0, Map.empty[String, String], "a1")
    cat2.append(spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(rec("r1"), rec("r2"))), Schemas.all("records")), "records")
    // simulate rewrite() crashing between dest→old and tmp→dest: the
    // table dir is gone, the pre-image is staged at .old, the new
    // payload half-baked at .swap
    val dir = new java.io.File(s"$root2/records")
    assert(dir.renameTo(new java.io.File(s"$root2/records.old")))
    new java.io.File(s"$root2/records.swap").mkdirs()
    // the un-promoted swap never committed: reads restore and serve the
    // pre-image, not the silently-empty missing-dir fallback
    assert(names() == Set("r1", "r2"))
    assert(!new java.io.File(s"$root2/records.old").exists)
    // a committed swap's leftover .old is garbage — reclaimed, dest kept
    new java.io.File(s"$root2/records.old").mkdirs()
    assert(names() == Set("r1", "r2"))
    assert(!new java.io.File(s"$root2/records.old").exists)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(root2))
  }
}
