package graft.catalog

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Model-based randomized check of the partition-op machinery: random
  * sequences of appends, partition-scoped updates ([[Catalog
  * .updatePartitions]]) and bucket-scoped deletes ([[Catalog.deleteWhere]])
  * must keep the on-disk table equal to a trivial in-memory fold of the
  * same operations — across partition creation/removal, upsert-into-
  * absent-partition, repeated deletes, and interleavings the
  * deterministic specs don't enumerate. Seeded, so failures replay. */
class CatalogPartitionOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root: String =
    java.nio.file.Files.createTempDirectory("graft-ops").toString

  override def afterAll(): Unit =
    CatalogTestIO.rm(new java.io.File(root))

  // ---- tasks (static job_id partitions) -------------------------------

  private type Task = (String, String, String, String) // id, job, state, payload

  private def tasksDf(rows: Seq[Task]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(t => Row(t._1, t._2, t._3, t._4)), 2),
      Schemas.all("tasks"))

  private def readTasks(cat: Catalog): Set[Task] =
    cat.read(spark, "tasks").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet

  test("random append/update/delete sequences match the in-memory model (tasks)") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val cat = Catalog(s"$root/tasks-$seed")
      var model = Set.empty[Task]
      var nextId = 0
      val jobs = (0 until 5).map(j => s"job$j")
      for (step <- 0 until 8) {
        rnd.nextInt(4) match {
          case 0 => // append a batch across random jobs
            val batch = (0 until 1 + rnd.nextInt(6)).map { _ =>
              nextId += 1
              (s"t$nextId", jobs(rnd.nextInt(jobs.size)),
                if (rnd.nextBoolean()) "NEW" else "LOCK", s"p$nextId")
            }
            cat.append(tasksDf(batch), "tasks")
            model ++= batch
          case 1 => // partition-scoped state flip on a random job subset
            val scope = rnd.shuffle(jobs).take(1 + rnd.nextInt(2))
            cat.updatePartitions(spark, "tasks", scope,
              _.withColumn("state",
                when(col("state") === "NEW", "DONE").otherwise(col("state"))))
            model = model.map { t =>
              if (scope.contains(t._2) && t._3 == "NEW") t.copy(_3 = "DONE") else t
            }
          case 2 => // drop a whole job partition (may not exist yet)
            val job = jobs(rnd.nextInt(jobs.size))
            cat.updatePartitions(spark, "tasks", Seq(job), _.filter(lit(false)))
            model = model.filterNot(_._2 == job)
          case _ => // upsert: keep LOCK rows, replace the rest of one job
            val job = jobs(rnd.nextInt(jobs.size))
            val fresh = (0 until 1 + rnd.nextInt(3)).map { _ =>
              nextId += 1; (s"t$nextId", job, "DONE", s"u$nextId")
            }
            cat.updatePartitions(spark, "tasks", Seq(job),
              _.filter(col("state") === "LOCK").unionByName(tasksDf(fresh)))
            model = model.filterNot(t => t._2 == job && t._3 != "LOCK") ++ fresh
        }
        assert(readTasks(cat) == model, s"seed=$seed step=$step diverged")
      }
    }
  }

  // ---- tiles (derived CRC-32 bucket partitions) -----------------------

  private def tileRow(uri: String): Row =
    Row(uri, "", 2, 2, 1, "uint8", "EPSG:4326",
      Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0), Array.fill[Byte](4)(1))

  private def tilesDf(uris: Seq[String]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(uris.map(tileRow), 2), Schemas.all("tiles"))

  test("concurrent readers during deletes: transient-retry contract, exact final state") {
    import spark.implicits._
    // the r11 review's race: reads running DURING a writer's staging
    // and commit. Hammer reads from another thread across a series of
    // deleteWhere calls. The store-independent floor pinned here: a
    // reader may at worst fail TRANSIENTLY with Spark's stale-file error
    // (and retry), can never corrupt the store or destroy in-flight
    // staging, never hits a NON-transient error, and the final state is
    // exact. The catalog's snapshot reads are stronger still — zero
    // failures, pinned in CommitLogProtocolSpec.
    val cat = Catalog(s"$root/concurrent")
    val uris = (0 until 300).map(i => s"mem://cc$i")
    cat.append(tilesDf(uris), "tiles")
    @volatile var stop = false
    @volatile var readerFailure: Option[Throwable] = None
    def isTransient(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .exists(c => String.valueOf(c.getMessage).contains("FAILED_READ_FILE") ||
          // the listing-time shape of the same stale-snapshot window: the
          // reader's partition discovery saw a bucket dir that a
          // concurrent rewrite removed before the leaf listing reached it
          (String.valueOf(c.getMessage).contains("does not exist") &&
            String.valueOf(c.getMessage).contains("__bucket=")))
    val reader = new Thread(() => {
      while (!stop && readerFailure.isEmpty)
        try { cat.read(spark, "tiles").count(): Unit }
        catch {
          // transient stale listing mid-rewrite — the retry case
          case t: Throwable if isTransient(t) =>
          case t: Throwable => readerFailure = Some(t)
        }
    })
    reader.start()
    try {
      for (batch <- uris.take(120).grouped(30))
        cat.deleteWhere(spark, "tiles", batch.toDF("container_uri"))
    } finally { stop = true; reader.join(30000) }
    readerFailure.foreach(t => fail(s"concurrent reader hit a non-transient failure: $t", t))
    val left = cat.read(spark, "tiles").select("container_uri")
      .collect().map(_.getString(0)).toSet
    assert(left == uris.drop(120).toSet)
  }

  test("random append/delete sequences match the in-memory model (tiles)") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(100 + seed)
      val cat = Catalog(s"$root/tiles-$seed")
      var model = Set.empty[String]
      var nextId = 0
      for (step <- 0 until 6) {
        if (model.isEmpty || rnd.nextBoolean()) {
          val batch = (0 until 5 + rnd.nextInt(20)).map { _ =>
            nextId += 1; s"mem://c$nextId"
          }
          cat.append(tilesDf(batch), "tiles")
          model ++= batch
        } else {
          // delete a random subset, salted with already-deleted and
          // never-existing uris (idempotence + unknown-uri no-op)
          val victims = rnd.shuffle(model.toSeq).take(1 + rnd.nextInt(model.size))
          val noise = Seq(s"mem://ghost${rnd.nextInt(100)}")
          cat.deleteWhere(spark, "tiles", (victims ++ noise).toDF("container_uri"))
          model --= victims
        }
        val got = cat.read(spark, "tiles").select("container_uri")
          .collect().map(_.getString(0)).toSet
        assert(got == model, s"seed=$seed step=$step diverged")
      }
    }
  }
}
