package graft.catalog

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Catalog roots are Hadoop FileSystem URIs. */
class CatalogMigrationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("catalog roots resolve through the Hadoop FileSystem API") {
    // an explicit file:// URI root: append + atomic rewrite + read all
    // work (every file and log access goes through the root's Hadoop
    // FileSystem, not java.io.File)
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
    // never the silent no-op java.io.File would give a gs:// path
    intercept[java.io.IOException] {
      Catalog("gs://no-such-connector/cat").read(spark, "records")
    }
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(local))
  }
}
