package graft.catalog

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The [[TableStore]] contract, written against the TRAIT — the test a
  * Delta/Iceberg implementation must pass unchanged before it can
  * replace the [[Catalog]] (VERDICT r11 "What's missing" #1). Every
  * assertion uses only the five trait primitives plus row-level
  * observations, never parquet layout internals (those stay in
  * CatalogDeleteSpec/CatalogUpdateSpec, which pin the catalog's
  * byte-level behavior). */
abstract class TableStoreContract extends AnyFunSuite with BeforeAndAfterAll {

  /** A fresh, empty store per call. */
  def newStore(tag: String): TableStore

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tasksDf(rows: Seq[(String, String, String, String)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(t => Row(t._1, t._2, t._3, t._4)), 2),
      Schemas.all("tasks"))

  private def readTasks(s: TableStore): Set[(String, String, String, String)] =
    s.read(spark, "tasks").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet

  private def tileRow(uri: String): Row =
    Row(uri, "", 2, 2, 1, "uint8", "EPSG:4326",
      Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0), Array.fill[Byte](4)(1))

  private def tilesDf(uris: Seq[String]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(uris.map(tileRow), 2), Schemas.all("tiles"))

  private def readUris(s: TableStore): Set[String] =
    s.read(spark, "tiles").select("container_uri").collect()
      .map(_.getString(0)).toSet

  test("read of a never-written table is an empty frame in logical column order") {
    val s = newStore("empty")
    val df = s.read(spark, "tasks")
    assert(df.count() == 0)
    assert(df.schema.fieldNames.toSeq.startsWith(
      Schemas.all("tasks").fieldNames.toSeq))
  }

  test("append accumulates batches; rewrite replaces the whole table") {
    val s = newStore("appendrewrite")
    s.append(tasksDf(Seq(("t1", "j1", "NEW", "a"))), "tasks")
    s.append(tasksDf(Seq(("t2", "j2", "NEW", "b"))), "tasks")
    assert(readTasks(s) ==
      Set(("t1", "j1", "NEW", "a"), ("t2", "j2", "NEW", "b")))
    s.rewrite(tasksDf(Seq(("t3", "j1", "DONE", "c"))), "tasks")
    assert(readTasks(s) == Set(("t3", "j1", "DONE", "c")))
  }

  test("updatePartitions: scoped, unscoped, insert-into-absent, drop-to-empty") {
    val s = newStore("update")
    s.append(tasksDf(Seq(
      ("t1", "j1", "NEW", ""), ("t2", "j2", "NEW", ""))), "tasks")
    // scoped: only j1 flips
    s.updatePartitions(spark, "tasks", Seq("j1"),
      _.withColumn("state", lit("DONE")))
    assert(readTasks(s) == Set(("t1", "j1", "DONE", ""), ("t2", "j2", "NEW", "")))
    // insert into a named-but-absent partition (the upsert shape)
    s.updatePartitions(spark, "tasks", Seq("j3"),
      _.unionByName(tasksDf(Seq(("t3", "j3", "LOCK", "")))))
    assert(readTasks(s).exists(_._2 == "j3"))
    // unscoped: empty partValues applies to every partition
    s.updatePartitions(spark, "tasks", Nil,
      _.withColumn("payload", lit("x")))
    assert(readTasks(s).forall(_._4 == "x"))
    // drop one partition to empty
    s.updatePartitions(spark, "tasks", Seq("j2"), _.filter(lit(false)))
    assert(readTasks(s).map(_._2) == Set("j1", "j3"))
  }

  test("updatePartitions rejects a transform that moves rows across partitions") {
    val s = newStore("reject")
    s.append(tasksDf(Seq(("t1", "j1", "NEW", ""))), "tasks")
    intercept[IllegalArgumentException] {
      s.updatePartitions(spark, "tasks", Seq("j1"),
        _.withColumn("job_id", lit("j9")))
    }
    assert(readTasks(s) == Set(("t1", "j1", "NEW", "")))
  }

  test("deleteWhere removes exactly the matching rows; idempotent; nulls ignored") {
    import spark.implicits._
    val s = newStore("delete")
    val uris = (0 until 60).map(i => s"mem://ts$i")
    s.append(tilesDf(uris), "tiles")
    val doomed = uris.take(10)
    s.deleteWhere(spark, "tiles",
      (doomed.map(Option(_)) :+ Option.empty[String]).toDF("container_uri"))
    assert(readUris(s) == uris.drop(10).toSet)
    // idempotent: a retry deletes nothing new
    s.deleteWhere(spark, "tiles", doomed.toDF("container_uri"))
    assert(readUris(s) == uris.drop(10).toSet)
    // an empty delete set is a no-op, not an error
    s.deleteWhere(spark, "tiles",
      Seq.empty[String].toDF("container_uri"))
    assert(readUris(s).size == 50)
  }

  test("concurrent appends and disjoint-partition updates compose") {
    val s = newStore("concurrent")
    s.append(tasksDf(Seq(("seed1", "cj1", "NEW", ""), ("seed2", "cj2", "NEW", ""))), "tasks")
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = Seq(
      new Thread(() => try {
        for (b <- 0 until 3)
          s.append(tasksDf(Seq((s"a$b", "cj3", "NEW", ""))), "tasks")
      } catch { case t: Throwable => failure.compareAndSet(null, t): Unit }),
      new Thread(() => try {
        for (_ <- 0 until 3)
          s.updatePartitions(spark, "tasks", Seq("cj1"),
            _.withColumn("state", lit("DONE")))
      } catch { case t: Throwable => failure.compareAndSet(null, t): Unit }))
    threads.foreach(_.start()); threads.foreach(_.join(600000))
    Option(failure.get()).foreach(t => throw t)
    val all = readTasks(s)
    assert(all.count(_._2 == "cj3") == 3)
    assert(all(("seed1", "cj1", "DONE", "")) && all(("seed2", "cj2", "NEW", "")))
  }

  /** Each row as (value, runtime class) pairs, binary values as byte
    * sequences — a multiset key that also pins how values are typed. */
  private def multiset(rs: Seq[Row]): Map[Seq[(Any, String)], Int] =
    rs.map(_.toSeq.map {
      case b: Array[Byte] => (b.toSeq, "bytes")
      case null => (null, "null")
      case v => (v, v.getClass.getName)
    }).groupBy(identity).map { case (k, v) => k -> v.size }

  test("rows equals read + partition and value filters + select + collect as a multiset") {
    val s = newStore("rows")
    s.append(tasksDf(Seq(("t1", "j1", "NEW", "a"), ("t2", "j2", "DONE", null),
      ("t3", "j1", "NEW", "c"))), "tasks")
    s.append(tasksDf(Seq(("t1", "j1", "NEW", "a"))), "tasks") // a duplicate row
    s.append(tilesDf((0 until 12).map(i => s"mem://rows$i")), "tiles")
    s.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("r1", "n1", java.sql.Timestamp.valueOf("2024-01-01 00:00:00.123456"),
        Map("sat" -> "S2A"), "a1"),
      Row("r2", "n2", java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), null, null)), 1),
      Schemas.all("records")), "records")
    val bucket = Catalog.tilesBucketOf("mem://rows3").toString
    val none = Map.empty[String, Set[String]]
    val cases = Seq(
      ("tasks", Seq("id", "state", "payload"), Nil, none),
      ("tasks", Seq("payload", "job_id"), Seq("j1"), none),
      ("tasks", Seq("job_id"), Seq("j1", "j2", "j9"), none),
      ("tasks", Seq("id"), Seq("nope"), none),
      ("tasks", Seq("id", "payload"), Seq("j1", "j2"), Map("payload" -> Set("a", "zz"))),
      ("tasks", Seq("state", "id"), Nil, Map("id" -> Set("t1", "t2"), "state" -> Set("NEW"))),
      ("tiles", Seq("container_uri", "transform", "payload"), Seq(bucket), none),
      ("tiles", Seq("container_uri", "subdir", "payload"), Seq(bucket),
        Map("container_uri" -> Set("mem://rows3", "mem://elsewhere"), "subdir" -> Set(""))),
      ("tiles", Seq("subdir", "width", "crs"), Nil, none),
      ("tiles", Seq("container_uri"), Nil, Map("container_uri" -> Set("mem://rows7"))),
      ("records", Seq("tags", "datetime", "id", "aoi_id"), Nil, none),
      ("records", Seq("id", "tags"), Nil, Map("id" -> Set.empty[String])),
      ("palette", Seq("name", "points"), Nil, none)) // never written
    for ((table, cols, pv, in) <- cases) {
      val got = s.rows(spark, table, cols, pv, in)
      assert(got.isDefined, s"$table $cols $pv $in: no answer within the default budget")
      // the value filter checked by hand: a null is in no list
      val want = s.collectRows(spark, table, cols, pv).filter(r => in.forall {
        case (c, vs) => Option(r.getAs[String](c)).exists(vs) })
      assert(multiset(got.get) == multiset(want), s"$table $cols $pv $in")
    }
    assert(s.rows(spark, "tiles", Seq("container_uri"), Nil,
      Map("container_uri" -> Set("mem://rows7"))).get.size == 1)
    // the bucket read returns that bucket's rows only
    assert(s.rows(spark, "tiles", Seq("container_uri"), Seq(bucket)).get
      .map(_.getString(0)).forall(u => Catalog.tilesBucketOf(u).toString == bucket))
    assertThrows[Exception](s.rows(spark, "records", Seq("id"), Seq("x")))
    // a value filter names a requested string data column
    assertThrows[IllegalArgumentException](
      s.rows(spark, "records", Seq("id"), Nil, Map("aoi_id" -> Set("a1"))))
    assertThrows[IllegalArgumentException](
      s.rows(spark, "tiles", Seq("width"), Nil, Map("width" -> Set("2"))))
  }
}
