package graft.streaming

import graft.catalog.Catalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root: String = java.nio.file.Files.createTempDirectory("graft-stream").toString
  val cat: Catalog = Catalog(root)

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(new java.io.File(root))
  }

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  test("task events drive job counters via foreachBatch (idempotent dedup)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[TaskEvent]
    val q = EventStream.driveJobCounters(spark, cat, stream.toDS(), "job-counters")
    try {
      stream.addData(
        TaskEvent("j1", "t1", "SUCCEEDED", "", ts("2024-01-01 00:00:00")),
        TaskEvent("j1", "t2", "FAILED", "boom", ts("2024-01-01 00:00:01")),
        TaskEvent("j1", "t2", "FAILED", "boom", ts("2024-01-01 00:00:01")), // dup
        TaskEvent("j2", "t9", "SUCCEEDED", "", ts("2024-01-01 00:00:02")))
      q.processAllAvailable()
      val jobs = cat.read(spark, "jobs").filter(col("state") === "COUNTERS").collect()
      val j1 = jobs.filter(_.getAs[String]("id") == "j1")
      assert(j1.map(_.getAs[Int]("active_tasks")).sum == 2) // per-task ledger, dedup'd
      assert(j1.map(_.getAs[Int]("failed_tasks")).sum == 1)
      val j2 = jobs.filter(_.getAs[String]("id") == "j2")
      assert(j2.map(_.getAs[Int]("active_tasks")).sum == 1)
    } finally q.stop()
  }

  test("the counter FSM runs unchanged on the commit-log store (object-store deployment shape)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clRoot = java.nio.file.Files.createTempDirectory("graft-stream-cl").toString
    // same streaming code on a fresh root: every micro-batch's journal
    // append + dedup probe rides the optimistic commit log
    val cl = graft.catalog.Catalog(clRoot)
    val stream = MemoryStream[TaskEvent]
    val q = EventStream.driveJobCounters(spark, cl, stream.toDS(), "cl-counters")
    try {
      stream.addData(
        TaskEvent("jc1", "t1", "SUCCEEDED", "", ts("2024-01-01 00:00:00")),
        TaskEvent("jc1", "t2", "FAILED", "boom", ts("2024-01-01 00:00:01")),
        TaskEvent("jc1", "t2", "FAILED", "boom", ts("2024-01-01 00:00:01")), // dup
        TaskEvent("jc2", "t9", "SUCCEEDED", "", ts("2024-01-01 00:00:02")))
      q.processAllAvailable()
      // a second micro-batch appends on top of the first's commits
      stream.addData(
        TaskEvent("jc1", "t3", "SUCCEEDED", "", ts("2024-01-01 00:00:03")))
      q.processAllAvailable()
      val jobs = cl.read(spark, "jobs").filter(col("state") === "COUNTERS").collect()
      val j1 = jobs.filter(_.getAs[String]("id") == "jc1")
      assert(j1.map(_.getAs[Int]("active_tasks")).sum == 3)
      assert(j1.map(_.getAs[Int]("failed_tasks")).sum == 1)
      assert(jobs.filter(_.getAs[String]("id") == "jc2")
        .map(_.getAs[Int]("active_tasks")).sum == 1)
    } finally {
      q.stop()
      graft.catalog.CatalogTestIO.rm(new java.io.File(clRoot))
    }
  }

  test("replay and cross-batch redelivery journal each task exactly once") {
    import spark.implicits._
    val cat2 = Catalog(java.nio.file.Files.createTempDirectory("graft-replay").toString)
    val batch = Seq(
      TaskEvent("jr1", "t1", "SUCCEEDED", "", ts("2024-01-01 00:00:00")),
      TaskEvent("jr1", "t2", "FAILED", "boom", ts("2024-01-01 00:00:01"))).toDS()
    EventStream.journalTaskDeltas(spark, cat2, batch, batchId = 7, "runA")
    // foreachBatch is at-least-once: the SAME batch id replays after a
    // crash — the journal must not double-count its deltas
    EventStream.journalTaskDeltas(spark, cat2, batch, batchId = 7, "runA")
    def counters() = cat2.read(spark, "jobs")
      .filter(col("state") === "COUNTERS").collect()
    assert(counters().length == 2) // one ledger row per TASK
    assert(counters().map(_.getAs[Int]("active_tasks")).sum == 2)
    assert(counters().map(_.getAs[Int]("failed_tasks")).sum == 1)
    // the same events REDELIVERED in a later micro-batch (a re-dropped
    // queue file, broker redelivery past a lost checkpoint) must NOT
    // double-count — the ledger key is the task, not the batch
    EventStream.journalTaskDeltas(spark, cat2, batch, batchId = 8, "runA")
    assert(counters().map(_.getAs[Int]("active_tasks")).sum == 2)
    // genuinely NEW tasks still append
    EventStream.journalTaskDeltas(spark, cat2,
      Seq(TaskEvent("jr1", "t3", "SUCCEEDED", "",
        ts("2024-01-01 00:00:02"))).toDS(), batchId = 9, "runA")
    assert(counters().map(_.getAs[Int]("active_tasks")).sum == 3)
    // a fresh un-checkpointed incarnation gets its own key space
    // (documented at-least-once for throwaway streams)
    EventStream.journalTaskDeltas(spark, cat2, batch, batchId = 0, "runB")
    assert(counters().length == 5)
  }

  test("broker seam: Kafka wire-shape values drive the same counter FSM") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cat2 = Catalog(java.nio.file.Files.createTempDirectory("graft-broker").toString)
    // the wire: record VALUE bytes carrying encodeEvent JSON — exactly
    // what a Kafka producer publishes and kafkaEvents' from_json parses;
    // only the transport differs (MemoryStream instead of format("kafka"))
    val wire = MemoryStream[Array[Byte]]
    val events = EventStream.eventsFromBroker(wire.toDS().toDF("value"))
    val q = EventStream.driveJobCounters(spark, cat2, events, "broker-seam")
    try {
      def bytes(e: TaskEvent): Array[Byte] =
        EventStream.encodeEvent(e).getBytes("UTF-8")
      wire.addData(
        bytes(TaskEvent("jk1", "t1", "SUCCEEDED", "", ts("2024-01-01 00:00:00"))),
        bytes(TaskEvent("jk1", "t2", "FAILED", "tab\t\"quote\"",
          ts("2024-01-01 00:00:01"))),
        bytes(TaskEvent("jk1", "t2", "FAILED", "tab\t\"quote\"",
          ts("2024-01-01 00:00:01"))), // broker redelivery
        bytes(TaskEvent("jk2", "t9", "SUCCEEDED", "", ts("2024-01-01 00:00:02"))))
      q.processAllAvailable()
      val jobs = cat2.read(spark, "jobs").filter(col("state") === "COUNTERS").collect()
      val j1 = jobs.filter(_.getAs[String]("id") == "jk1")
      assert(j1.map(_.getAs[Int]("active_tasks")).sum == 2) // redelivery dedup'd
      assert(j1.map(_.getAs[Int]("failed_tasks")).sum == 1)
      assert(jobs.filter(_.getAs[String]("id") == "jk2")
        .map(_.getAs[Int]("active_tasks")).sum == 1)
    } finally q.stop()
  }

  test("torn ledger append: replay journals only the missing tasks' rows") {
    import spark.implicits._
    val cat2 = Catalog(java.nio.file.Files.createTempDirectory("graft-torn").toString)
    // simulate a crash mid-commit of batch 5: jA/t1's ledger row
    // persisted, jB/t2's never landed
    val t0 = ts("2024-01-01 00:00:00")
    cat2.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        "jA", "runT-task-t1", "TASKEVENT", "COUNTERS", 1, 0,
        """{"batch":5}""", t0, t0))),
      graft.catalog.Schemas.jobs), "jobs")
    val batch = Seq(
      TaskEvent("jA", "t1", "SUCCEEDED", "", t0),
      TaskEvent("jB", "t2", "FAILED", "boom", ts("2024-01-01 00:00:01"))).toDS()
    // the replayed batch must append jB/t2 and NOT double-count jA/t1
    EventStream.journalTaskDeltas(spark, cat2, batch, batchId = 5, "runT")
    val rows = cat2.read(spark, "jobs").filter(col("state") === "COUNTERS").collect()
    assert(rows.length == 2)
    assert(rows.count(_.getAs[String]("id") == "jA") == 1)
    val jb = rows.find(_.getAs[String]("id") == "jB").get
    assert(jb.getAs[Int]("active_tasks") == 1 && jb.getAs[Int]("failed_tasks") == 1)
    // a further replay of the now-complete batch is a no-op
    EventStream.journalTaskDeltas(spark, cat2, batch, batchId = 5, "runT")
    assert(cat2.read(spark, "jobs").filter(col("state") === "COUNTERS").count() == 2)
  }

  test("file-queue broker adapter: published files drive the same counter FSM") {
    // messaging.go Publisher/Consumer parity: an external (Spark-free)
    // producer drops JSON files in a queue dir; the SAME driveJobCounters
    // consumes them — the FSM never sees the transport
    val queue = java.nio.file.Files.createTempDirectory("graft-queue").toString
    val cat2 = Catalog(java.nio.file.Files.createTempDirectory("graft-qcat").toString)
    EventStream.publishToFileQueue(Seq(
      TaskEvent("jq1", "t1", "SUCCEEDED", "", ts("2024-01-01 00:00:00")),
      TaskEvent("jq1", "t2", "FAILED", "boom", ts("2024-01-01 00:00:01"))), queue)
    // second publish batch carries a DUPLICATE delivery of t2 (the
    // at-least-once contract) and another job's event
    EventStream.publishToFileQueue(Seq(
      TaskEvent("jq1", "t2", "FAILED", "boom", ts("2024-01-01 00:00:01")),
      TaskEvent("jq2", "t9", "SUCCEEDED", "", ts("2024-01-01 00:00:02"))), queue)
    val q = EventStream.driveJobCounters(spark, cat2,
      EventStream.fileQueueEvents(spark, queue), "file-queue-counters")
    try {
      q.processAllAvailable()
      val jobs = cat2.read(spark, "jobs").filter(col("state") === "COUNTERS").collect()
      val byJob = jobs.groupBy(_.getAs[String]("id"))
      // both files may land in one micro-batch (dedup inside the batch
      // aggregation) or two (second t2 journals a batch keyed append) —
      // either way jq1 records exactly 1 failed task and t1 once
      val j1 = byJob("jq1")
      assert(j1.map(_.getAs[Int]("active_tasks")).sum >= 2)
      assert(j1.map(_.getAs[Int]("failed_tasks")).max == 1)
      assert(byJob("jq2").map(_.getAs[Int]("active_tasks")).sum == 1)
      assert(byJob("jq2").head.getAs[Int]("failed_tasks") == 0)
      // the timestamp survived the broker roundtrip to the journal
      assert(jobs.map(_.getAs[java.sql.Timestamp]("created_at")).max ==
        ts("2024-01-01 00:00:02"))
    } finally q.stop()
  }

  test("windowed streaming aggregation with watermark (batch-equivalent check)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = EventStream.windowedCounts(
      stream.toDS().toDF("ts", "event_type", "value"), "1 hour", "10 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("winagg").start()
    try {
      stream.addData(
        (ts("2024-01-01 00:10:00"), "a", 1.0),
        (ts("2024-01-01 00:40:00"), "a", 2.0),
        (ts("2024-01-01 01:10:00"), "b", 5.0),
        (ts("2024-01-01 03:00:00"), "a", 9.0)) // advances watermark, closes earlier windows
      q.processAllAvailable()
      val out = spark.sql("SELECT window.start, event_type, n, sum_value FROM winagg").collect()
      val a0 = out.find(r => r.getAs[String]("event_type") == "a" &&
        r.getTimestamp(0) == ts("2024-01-01 00:00:00"))
      assert(a0.isDefined && a0.get.getAs[Long]("n") == 2 && a0.get.getAs[Double]("sum_value") == 3.0)
    } finally q.stop()
  }

  test("streaming exact-dedup: first arrival wins within the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val deduped = EventStream.dedupDocuments(
      stream.toDS().toDF("doc_id", "text", "ts"), "doc_id", "text", "ts", "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("streamdedup").start()
    try {
      stream.addData(
        (1L, "alpha beta gamma", ts("2024-01-01 00:00:00")),
        (2L, "beta alpha gamma", ts("2024-01-01 00:01:00")), // canonical dup of 1
        (3L, "delta epsilon", ts("2024-01-01 00:02:00")))
      q.processAllAvailable()
      stream.addData(
        (4L, "alpha beta gamma", ts("2024-01-01 00:03:00")), // dup again, same horizon
        (5L, "zeta", ts("2024-01-01 01:00:00"))) // advances watermark
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM streamdedup")
        .collect().map(_.getLong(0)).sorted.toSeq
      // 2 and 4 collapse onto 1's fingerprint; 1, 3, 5 survive
      assert(ids == Seq(1L, 3L, 5L), ids.toString)
    } finally q.stop()
  }

  test("file-source ingestion: readStream over a drop directory -> windowed agg") {
    import spark.implicits._
    val dropDir = java.nio.file.Files.createTempDirectory("graft-drop").toString
    // first batch of event files lands before the stream starts
    Seq((ts("2024-01-01 00:05:00"), "ingest", 2.0),
        (ts("2024-01-01 00:20:00"), "ingest", 3.0))
      .toDF("ts", "event_type", "value").write.parquet(s"$dropDir/b1")
    val schema = "ts timestamp, event_type string, value double"
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet").parquet(s"$dropDir/*")
    val agg = EventStream.windowedCounts(stream, "1 hour", "10 minutes")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("fileagg").start()
    try {
      q.processAllAvailable()
      // second drop: the running stream picks the new files up
      Seq((ts("2024-01-01 00:40:00"), "ingest", 5.0))
        .toDF("ts", "event_type", "value").write.parquet(s"$dropDir/b2")
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT n, sum_value FROM fileagg WHERE event_type = 'ingest'").collect()
      assert(rows.length == 1)
      assert(rows(0).getLong(0) == 3 && rows(0).getDouble(1) == 10.0)
    } finally q.stop()
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(new java.io.File(dropDir))
  }

  test("streaming near-dup candidates: cross-batch pairs, dedup guard, overflow cap") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val arrivals = EventStream.bandArrivals(
      stream.toDS().toDF("doc_id", "text"), "doc_id", "text")
    val pairs = EventStream.streamingCandidatePairs(arrivals, maxPerBucket = 3)
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("streampairs").start()
    try {
      // batch 1: two identical docs (share every band) + one distinct
      stream.addData(
        (1L, "alpha beta gamma delta"),
        (2L, "alpha beta gamma delta"),
        (3L, "omega psi chi phi"))
      q.processAllAvailable()
      val b1 = spark.sql("SELECT doc_a, doc_b FROM streampairs WHERE NOT overflowed")
        .collect().map(r => (r.getLong(0), r.getLong(1))).distinct.sorted.toSeq
      assert(b1 == Seq((1L, 2L)), b1.toString)
      // batch 2: a LATER near-dup still pairs with the docs from batch 1 —
      // the state store carries the bucket membership across batches; the
      // replayed id 2 emits nothing new (at-least-once guard)
      stream.addData((4L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      q.processAllAvailable()
      val b2 = spark.sql("SELECT doc_a, doc_b FROM streampairs WHERE NOT overflowed")
        .collect().map(r => (r.getLong(0), r.getLong(1))).distinct.sorted.toSeq
      assert(b2 == Seq((1L, 2L), (1L, 4L), (2L, 4L)), b2.toString)
      // batch 3: a fourth member overflows the 3-cap — flagged, no pair spray
      stream.addData((5L, "alpha beta gamma delta"))
      q.processAllAvailable()
      val b3 = spark.sql("SELECT doc_a, doc_b FROM streampairs WHERE NOT overflowed")
        .collect().map(r => (r.getLong(0), r.getLong(1))).distinct.sorted.toSeq
      assert(b3 == b2, s"capped bucket must not add pairs: $b3")
      val ov = spark.sql("SELECT count(*) FROM streampairs WHERE overflowed")
        .collect().head.getLong(0)
      assert(ov >= 1, "overflow notice expected")
    } finally q.stop()
  }

  test("streaming candidates == batch lshNearDupPairs candidates on a replayed corpus") {
    // determinism evidence for §2.12/streaming near-dup: the same corpus
    // pushed through streaming micro-batches emits EXACTLY the candidate
    // set the batch operator computes (threshold-0 LSH pairs, same
    // banding), modulo nothing — maxPerBucket is set above any bucket.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    def text(i: Long): String =
      (0 until 6).map(j => vocab(((i / 3 + j * (i % 3)) % 10).toInt)).mkString(" ")
    val docs = (1L to 30L).map(i => (i, text(i)))
    val batch = graft.operators.Dedup.lshNearDupPairs(
      docs.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.0)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.operators.OperatorCaches.unpersistAll()
    assert(batch.nonEmpty, "corpus must produce candidate pairs")
    val stream = MemoryStream[(Long, String)]
    val pairs = EventStream.streamingCandidatePairs(
      EventStream.bandArrivals(stream.toDS().toDF("doc_id", "text"), "doc_id", "text"),
      maxPerBucket = 1000)
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("replaypairs").start()
    try {
      docs.grouped(10).foreach { g => stream.addData(g: _*); q.processAllAvailable() }
      val streamed = spark.sql(
        "SELECT DISTINCT doc_a, doc_b FROM replaypairs WHERE NOT overflowed")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch,
        s"streamed=${streamed.size} batch=${batch.size} " +
          s"diff=${(streamed diff batch) ++ (batch diff streamed)}")
    } finally q.stop()
  }

  test("job FSM via flatMapGroupsWithState: stateful dedup + completion transition") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[TaskEvent]
    val fsm = EventStream.jobFsm(stream.toDS(), Map("j1" -> 3, "j2" -> 1))
    val q = fsm.writeStream.outputMode("append")
      .format("memory").queryName("jobfsm").start()
    try {
      stream.addData(
        TaskEvent("j1", "t1", "SUCCEEDED", "", ts("2024-01-01 00:00:00")),
        TaskEvent("j1", "t2", "FAILED", "boom", ts("2024-01-01 00:00:01")))
      q.processAllAvailable()
      val p1 = spark.sql("SELECT * FROM jobfsm WHERE job_id='j1'").as[JobProgress].collect().last
      assert(p1.state == "CONSOLIDATIONINPROGRESS" && p1.finished == 2 && p1.failed == 1)

      // duplicate t2 must NOT advance the counter (state-store guard);
      // t3 completes the job -> FAILED because t2 failed
      stream.addData(
        TaskEvent("j1", "t2", "FAILED", "boom", ts("2024-01-01 00:00:02")),
        TaskEvent("j1", "t3", "SUCCEEDED", "", ts("2024-01-01 00:00:03")),
        TaskEvent("j2", "t9", "SUCCEEDED", "", ts("2024-01-01 00:00:04")))
      q.processAllAvailable()
      val p2 = spark.sql("SELECT * FROM jobfsm WHERE job_id='j1'").as[JobProgress].collect().last
      assert(p2.state == "CONSOLIDATIONFAILED" && p2.finished == 3 && p2.failed == 1)
      val p3 = spark.sql("SELECT * FROM jobfsm WHERE job_id='j2'").as[JobProgress].collect().last
      assert(p3.state == "CONSOLIDATIONDONE" && p3.finished == 1 && p3.failed == 0)
    } finally q.stop()
  }
}

