package graft.catalog

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Multi-writer catalog contract (r12): the reference's deployment shape
  * is N apiservers and autoscaled job workers mutating ONE transactional
  * store, so the catalog must survive CONCURRENT writers — not just the
  * reader-vs-writer races r11 pinned. Per-operation op directories plus
  * optimistic commits make that hold:
  *
  *  - writers mutating DISJOINT partitions of one table compose exactly
  *    (no writer can delete another's in-flight staging);
  *  - concurrent APPENDS to one table compose (a direct SaveMode.Append
  *    would share Spark's `<dest>/_temporary/0` commit scratch and
  *    destroy each other's task output);
  *  - an appender racing a partition update of the SAME table (same or
  *    different partitions) loses nothing on either side;
  *  - overlapping bucket deletes yield the serial set difference;
  *  - no op leaves staging residue behind.
  */
class CatalogConcurrencySpec extends AnyFunSuite with BeforeAndAfterAll {

  // PRIVATE session: its conf (shuffle partitions) stays out of the
  // suites that run in parallel on the shared SparkSession
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .config("spark.ui.enabled", "false")
      .getOrCreate().newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  val root: String =
    java.nio.file.Files.createTempDirectory("graft-conc").toString

  override def afterAll(): Unit =
    CatalogTestIO.rm(new java.io.File(root))

  private type Task = (String, String, String, String) // id, job, state, payload

  private def tasksDf(rows: Seq[Task]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(t => Row(t._1, t._2, t._3, t._4)), 2),
      Schemas.all("tasks"))

  private def readTasks(cat: Catalog): Set[Task] =
    cat.read(spark, "tasks").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet

  /** Run `bodies` concurrently; rethrow the first failure. */
  private def concurrently(bodies: Seq[() => Unit]): Unit = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = bodies.map(b => new Thread(() =>
      try b() catch { case t: Throwable => failure.compareAndSet(null, t): Unit }))
    threads.foreach(_.start())
    // generous bound: a loaded box (full suite + parallel benches) can
    // stretch the ~100 small Spark jobs here past two minutes — a silent
    // timed-out join would fail the final assert with a misleading
    // "lost rows" instead of the real cause
    threads.foreach(_.join(600000))
    assert(threads.forall(!_.isAlive), "writer threads still running after 10 min")
    Option(failure.get()).foreach(t => throw t)
  }

  test("N writers on disjoint task partitions compose exactly") {
    val cat = Catalog(s"$root/disjoint")
    val writers = 4
    val models = Array.fill(writers)(Set.empty[Task])
    concurrently((0 until writers).map { w => () =>
      val rnd = new scala.util.Random(1000 + w)
      val jobs = (0 until 3).map(j => s"w$w-job$j")
      var model = Set.empty[Task]
      var nextId = 0
      for (_ <- 0 until 6) {
        rnd.nextInt(4) match {
          case 0 => // append a batch across this writer's OWN jobs
            val batch = (0 until 1 + rnd.nextInt(4)).map { _ =>
              nextId += 1
              (s"w$w-t$nextId", jobs(rnd.nextInt(jobs.size)),
                if (rnd.nextBoolean()) "NEW" else "LOCK", s"p$nextId")
            }
            cat.append(tasksDf(batch), "tasks")
            model ++= batch
          case 1 => // partition-scoped state flip
            val scope = rnd.shuffle(jobs).take(1 + rnd.nextInt(2))
            cat.updatePartitions(spark, "tasks", scope,
              _.withColumn("state",
                when(col("state") === "NEW", "DONE").otherwise(col("state"))))
            model = model.map { t =>
              if (scope.contains(t._2) && t._3 == "NEW") t.copy(_3 = "DONE") else t
            }
          case 2 => // drop one of this writer's partitions
            val job = jobs(rnd.nextInt(jobs.size))
            cat.updatePartitions(spark, "tasks", Seq(job), _.filter(lit(false)))
            model = model.filterNot(_._2 == job)
          case _ => // upsert: keep LOCK rows, replace the rest of one job
            val job = jobs(rnd.nextInt(jobs.size))
            val fresh = (0 until 1 + rnd.nextInt(3)).map { _ =>
              nextId += 1; (s"w$w-t$nextId", job, "DONE", s"u$nextId")
            }
            cat.updatePartitions(spark, "tasks", Seq(job),
              _.filter(col("state") === "LOCK").unionByName(tasksDf(fresh)))
            model = model.filterNot(t => t._2 == job && t._3 != "LOCK") ++ fresh
        }
      }
      models(w) = model
    })
    assert(readTasks(cat) == models.toSeq.reduce(_ ++ _))
    assert(CatalogTestIO.stagingResidue(s"$root/disjoint", "tasks").isEmpty)
  }

  test("concurrent appends to one table lose nothing") {
    val cat = Catalog(s"$root/appends")
    val writers = 4
    val perWriter = 3
    concurrently((0 until writers).map { w => () =>
      for (b <- 0 until perWriter)
        cat.append(tasksDf((0 until 20).map(i =>
          (s"a$w-$b-$i", s"job$w", "NEW", s"p$i"))), "tasks")
    })
    val all = readTasks(cat)
    assert(all.size == writers * perWriter * 20,
      s"lost ${writers * perWriter * 20 - all.size} appended rows")
    assert(CatalogTestIO.stagingResidue(s"$root/appends", "tasks").isEmpty)
  }

  test("an appender races partition swaps of the same table: both sides land") {
    val cat = Catalog(s"$root/appendswap")
    // seed the partitions the swapper will flip
    cat.append(tasksDf((0 until 40).map(i =>
      (s"s$i", s"swap-job${i % 2}", "NEW", s"p$i"))), "tasks")
    concurrently(Seq(
      () => for (b <- 0 until 6)
        cat.append(tasksDf((0 until 10).map(i =>
          (s"a$b-$i", "append-job", "NEW", s"q$i"))), "tasks"),
      () => for (_ <- 0 until 6)
        cat.updatePartitions(spark, "tasks", Seq("swap-job0", "swap-job1"),
          _.withColumn("state", lit("DONE")))))
    val all = readTasks(cat)
    assert(all.count(_._2 == "append-job") == 60, "appender lost rows")
    assert(all.count(_._2 != "append-job") == 40, "swapper lost rows")
    // the LAST swap ran after the last competing append of its own
    // partitions (they're disjoint from the appender's), so its flip is
    // fully applied
    assert(all.filter(_._2.startsWith("swap-job")).forall(_._3 == "DONE"))
    assert(CatalogTestIO.stagingResidue(s"$root/appendswap", "tasks").isEmpty)
  }

  test("SAME-partition appender vs updater: no lost update") {
    // The classic lost update: an append landing between an update's
    // staging read and its commit would be dropped by a blind replace.
    // The updater's commit sees the append's ADD in its target partition
    // as a conflict and restages, so the batch lands wholly before or
    // wholly after the update and every appended row survives (possibly
    // state-flipped, which is the serial semantics).
    val cat = Catalog(s"$root/samepart")
    cat.append(tasksDf(Seq(("seed", "hot", "NEW", ""))), "tasks")
    val rounds = 8
    concurrently(Seq(
      () => for (b <- 0 until rounds)
        cat.append(tasksDf((0 until 5).map(i =>
          (s"a$b-$i", "hot", "NEW", s"p$b-$i"))), "tasks"),
      () => for (_ <- 0 until rounds)
        cat.updatePartitions(spark, "tasks", Seq("hot"),
          _.withColumn("state", lit("DONE")))))
    val all = readTasks(cat)
    assert(all.size == 1 + rounds * 5,
      s"lost ${1 + rounds * 5 - all.size} rows to the append/update race")
    assert(all.map(_._1) ==
      (Set("seed") ++ (for (b <- 0 until rounds; i <- 0 until 5) yield s"a$b-$i")))
    assert(CatalogTestIO.stagingResidue(s"$root/samepart", "tasks").isEmpty)
    // a follow-up writer of the same partition proceeds immediately
    cat.updatePartitions(spark, "tasks", Seq("hot"), _.filter(lit(false)))
    assert(readTasks(cat).isEmpty)
  }

  private def tileRow(uri: String): Row =
    Row(uri, "", 2, 2, 1, "uint8", "EPSG:4326",
      Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0), Array.fill[Byte](4)(1))

  private def tilesDf(uris: Seq[String]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(uris.map(tileRow), 2), Schemas.all("tiles"))

  private def readUris(cat: Catalog): Set[String] =
    cat.read(spark, "tiles").select("container_uri").collect()
      .map(_.getString(0)).toSet

  test("concurrent deleteWhere with OVERLAPPING bucket sets: exact set difference") {
    // two GC passes whose uri sets hash into overlapping CRC-32 buckets:
    // both stage the shared bucket from the same snapshot, so a blind
    // commit would resurrect the loser's deletions; the conflict check
    // makes the loser restage, and the result is the serial set
    // difference, every time
    val cat = Catalog(s"$root/gcrace")
    val uris = (0 until 300).map(i => s"mem://gc$i")
    cat.append(tilesDf(uris), "tiles")
    import spark.implicits._
    concurrently(Seq(
      () => for (batch <- uris.slice(0, 100).grouped(25))
        cat.deleteWhere(spark, "tiles", batch.toDF("container_uri")),
      () => for (batch <- uris.slice(100, 200).grouped(25))
        cat.deleteWhere(spark, "tiles", batch.toDF("container_uri"))))
    assert(readUris(cat) == uris.drop(200).toSet)
    assert(CatalogTestIO.stagingResidue(s"$root/gcrace", "tiles").isEmpty)
  }

  test("concurrent salted tile appends land every row") {
    val cat = Catalog(s"$root/tileapp")
    concurrently((0 until 3).map { w => () =>
      for (b <- 0 until 2)
        cat.append(tilesDf((0 until 40).map(i => s"mem://w$w-b$b-$i")), "tiles")
    })
    assert(readUris(cat).size == 3 * 2 * 40)
    assert(CatalogTestIO.stagingResidue(s"$root/tileapp", "tiles").isEmpty)
  }
}
