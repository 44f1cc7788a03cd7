package graft.catalog

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Partition-scoped updates of statically-partitioned catalog tables
  * ([[Catalog.updatePartitions]]) — the metadata-table sibling of the
  * bucket-scoped tiles delete: an FSM status flip for one instance must
  * cost that instance's partition I/O only, with every other partition's
  * files untouched. */
class CatalogUpdateSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root: String =
    java.nio.file.Files.createTempDirectory("graft-upd").toString

  override def afterAll(): Unit =
    CatalogTestIO.rm(new java.io.File(root))

  private val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private def jrow(id: String, name: String, tpe: String, state: String): Row =
    Row(id, name, tpe, state, 0, 0, "", t0, t0)

  test("updatePartitions touches only the named partitions; others stay byte-identical") {
    val r = s"$root/scoped"
    val cat = Catalog(r)
    cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      jrow("a1", "a", "CONSOLIDATION", "NEW"),
      jrow("a2", "a2", "CONSOLIDATION", "FAILED"),
      jrow("b1", "b", "DELETION", "NEW"),
      jrow("c1", "c", "TASKEVENT", "COUNTERS"))),
      Schemas.all("jobs")), "jobs")
    val untouched = Seq("type=DELETION", "type=TASKEVENT")
      .map(d => d -> CatalogTestIO.partitionState(r, "jobs", d)).toMap
    assert(untouched.values.forall(_.nonEmpty))
    cat.updatePartitions(spark, "jobs", Seq("CONSOLIDATION"),
      _.withColumn("state",
        when(col("state") === "FAILED", "RETRIED").otherwise(col("state"))))
    untouched.foreach { case (d, before) =>
      assert(CatalogTestIO.partitionState(r, "jobs", d) == before,
        s"partition $d was touched by an unrelated update")
    }
    val states = cat.read(spark, "jobs").select("id", "state").collect()
      .map(row => (row.getString(0), row.getString(1))).toSet
    assert(states == Set(("a1", "NEW"), ("a2", "RETRIED"),
      ("b1", "NEW"), ("c1", "COUNTERS")))
    assert(CatalogTestIO.stagingResidue(r, "jobs").isEmpty)
  }

  test("a partition whose rows are all dropped disappears; empty values = all partitions") {
    val r = s"$root/drop"
    val cat = Catalog(r)
    cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      jrow("a1", "a", "CONSOLIDATION", "DONE"),
      jrow("b1", "b", "DELETION", "DONE"),
      jrow("b2", "b2", "DELETION", "NEW"))),
      Schemas.all("jobs")), "jobs")
    // unscoped (empty values): the filter applies to every partition,
    // and the CONSOLIDATION partition — all DONE — is removed outright
    cat.updatePartitions(spark, "jobs", Nil, _.filter(col("state") =!= "DONE"))
    assert(!CatalogTestIO.livePartitions(spark, cat, "jobs")
      .contains("type=CONSOLIDATION"))
    assert(cat.read(spark, "jobs").select("id").collect()
      .map(_.getString(0)).toSet == Set("b2"))
  }

  test("a transform that moves rows across partitions is rejected before any swap") {
    val r = s"$root/escape"
    val cat = Catalog(r)
    cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      jrow("a1", "a", "CONSOLIDATION", "NEW"),
      jrow("b1", "b", "DELETION", "NEW"))),
      Schemas.all("jobs")), "jobs")
    val before = CatalogTestIO.fileState(new java.io.File(s"$r/jobs"))
    intercept[IllegalArgumentException] {
      cat.updatePartitions(spark, "jobs", Seq("CONSOLIDATION"),
        _.withColumn("type", lit("DELETION")))
    }
    // nothing swapped, nothing staged left behind
    assert(CatalogTestIO.fileState(new java.io.File(s"$r/jobs")) == before)
    assert(CatalogTestIO.stagingResidue(r, "jobs").isEmpty)
  }

  test("partition values with special characters match their escaped directories") {
    val r = s"$root/escapechars"
    val cat = Catalog(r)
    // Spark writes this partition as job_id=job%3A1%20x — the update must
    // find it from the raw value, not silently no-op on a missing path
    val odd = "job:1 x"
    cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("t1", odd, "NEW", ""), Row("t2", "plain", "NEW", ""))),
      Schemas.all("tasks")), "tasks")
    cat.updatePartitions(spark, "tasks", Seq(odd),
      _.withColumn("state", lit("DONE")))
    val states = cat.read(spark, "tasks").select("job_id", "state").collect()
      .map(row => (row.getString(0), row.getString(1))).toSet
    assert(states == Set((odd, "DONE"), ("plain", "NEW")))
    // unscoped listing round-trips the escaping too
    cat.updatePartitions(spark, "tasks", Nil,
      _.withColumn("state", lit("GONE")))
    assert(cat.read(spark, "tasks").select("state").collect()
      .map(_.getString(0)).toSet == Set("GONE"))
  }

  test("a transform failing at staging time leaves no residue and a usable table") {
    val r = s"$root/stagefail"
    val cat = Catalog(r)
    cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      jrow("a1", "a", "CONSOLIDATION", "NEW"))),
      Schemas.all("jobs")), "jobs")
    val before = CatalogTestIO.fileState(new java.io.File(s"$r/jobs"))
    // fails when the staging WRITE executes (runtime, not analysis): the
    // op never reaches its commit point, so the failed write must clear
    // its own op directory
    intercept[Exception] {
      cat.updatePartitions(spark, "jobs", Seq("CONSOLIDATION"),
        _.withColumn("payload",
          org.apache.spark.sql.functions.expr(
            "assert_true(state != 'NEW', 'induced staging failure')").cast("string")))
    }
    assert(CatalogTestIO.fileState(new java.io.File(s"$r/jobs")) == before)
    assert(CatalogTestIO.stagingResidue(r, "jobs").isEmpty,
      "failed staging left debris")
    // the next writer proceeds immediately
    cat.updatePartitions(spark, "jobs", Seq("CONSOLIDATION"),
      _.withColumn("state", lit("DONE")))
    assert(cat.read(spark, "jobs").select("state").collect()
      .map(_.getString(0)).toSet == Set("DONE"))
  }

  test("updatePartitions refuses unpartitioned and derived-partitioned tables") {
    val cat = Catalog(s"$root/refuse")
    intercept[IllegalArgumentException] {
      cat.updatePartitions(spark, "records", Nil, identity)
    }
    intercept[IllegalArgumentException] {
      cat.updatePartitions(spark, "tiles", Nil, identity)
    }
  }
}
