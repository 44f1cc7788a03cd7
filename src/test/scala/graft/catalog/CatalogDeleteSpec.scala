package graft.catalog

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bucket-scoped deletes + salted appends on the derived-partitioned
  * tiles store — the 100-TB-honesty contracts of [[Catalog.deleteWhere]]
  * and the (bucket, salt) write repartition:
  *
  *  - a delete rewrites ONLY the buckets its uri set hashes to; every
  *    other bucket's files are byte-identical afterwards (not rewritten,
  *    not even re-listed into new file names);
  *  - a bucket whose rows are all deleted keeps no live file;
  *  - an append salted to k files/bucket keeps the bounded-file-count
  *    property (≤ k per bucket per batch) while writing each bucket from
  *    MORE than one task.
  */
class CatalogDeleteSpec extends AnyFunSuite with BeforeAndAfterAll {

  // PRIVATE session: this suite tunes the write-salt conf, and sbt runs
  // suites in PARALLEL on one shared SparkSession
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate().newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  val root: String =
    java.nio.file.Files.createTempDirectory("graft-del").toString

  override def afterAll(): Unit =
    CatalogTestIO.rm(new java.io.File(root))

  private def tileRow(uri: String): Row =
    Row(uri, "", 4, 4, 1, "uint8", "EPSG:4326",
      Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0), Array.fill[Byte](16)(7))

  private def tilesDf(uris: Seq[String]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(uris.map(tileRow), 4),
      Schemas.all("tiles"))

  private def bucketOf(uri: String): Int = {
    val crc = new java.util.zip.CRC32
    crc.update(uri.getBytes("UTF-8"))
    (crc.getValue % Catalog.TilesBuckets).toInt
  }

  test("deleteWhere rewrites only the affected buckets; others stay byte-identical") {
    val r = s"$root/scoped"
    val cat = Catalog(r)
    val uris = (0 until 200).map(i => s"file:///c/job-$i")
    cat.append(tilesDf(uris), "tiles")
    val doomed = uris.take(5)
    val doomedBuckets = doomed.map(bucketOf).toSet
    val untouched = (0 until Catalog.TilesBuckets).filterNot(doomedBuckets)
    // snapshot every untouched bucket's files before the delete
    def bucketState(b: Int) =
      CatalogTestIO.partitionState(r, "tiles", s"${Catalog.TilesBucketCol}=$b")
    val before = untouched.map(b => b -> bucketState(b)).toMap
    assert(before.values.exists(_.nonEmpty), "test needs populated untouched buckets")
    import spark.implicits._
    cat.deleteWhere(spark, "tiles", doomed.toDF("container_uri"))
    untouched.foreach { b =>
      assert(bucketState(b) == before(b), s"bucket $b was touched by an unrelated delete")
    }
    val left = cat.read(spark, "tiles").select("container_uri")
      .collect().map(_.getString(0)).toSet
    assert(left == uris.drop(5).toSet)
    // no staging residue
    assert(CatalogTestIO.stagingResidue(r, "tiles").isEmpty)
    // idempotent: re-deleting the same set is a no-op
    cat.deleteWhere(spark, "tiles", doomed.toDF("container_uri"))
    assert(cat.read(spark, "tiles").count() == 195)
  }

  test("a fully-deleted bucket keeps no live file") {
    val r = s"$root/allgone"
    val cat = Catalog(r)
    // find a uri set that all lands in one bucket
    val uris = (0 until 500).map(i => s"file:///solo/$i")
    val target = bucketOf(uris.head)
    val sameBucket = uris.filter(bucketOf(_) == target).take(3)
    val others = uris.filterNot(bucketOf(_) == target).take(10)
    cat.append(tilesDf(sameBucket ++ others), "tiles")
    val targetDir = s"${Catalog.TilesBucketCol}=$target"
    assert(CatalogTestIO.livePartitions(spark, cat, "tiles").contains(targetDir))
    import spark.implicits._
    cat.deleteWhere(spark, "tiles", sameBucket.toDF("container_uri"))
    assert(!CatalogTestIO.livePartitions(spark, cat, "tiles").contains(targetDir))
    assert(cat.read(spark, "tiles").count() == others.size)
  }

  test("salted append: bounded files per bucket, written by >1 task per bucket") {
    val r = s"$root/salt"
    val cat = Catalog(r)
    val salts = 4
    spark.conf.set(Catalog.FilesPerBucketConf, salts.toString)
    try {
      val uris = (0 until 2000).map(i => s"file:///s/$i")
      cat.append(tilesDf(uris), "tiles")
      val dirs = new java.io.File(s"$r/tiles/data").listFiles.flatMap(_.listFiles)
        .filter(f => f.isDirectory && f.getName.startsWith(Catalog.TilesBucketCol))
      val counts = dirs.map(_.listFiles.count(_.getName.endsWith(".parquet")))
      // file-count bound holds per bucket per append
      assert(counts.forall(_ <= salts), s"bucket exceeded $salts files: ${counts.max}")
      // ...and the salt actually fans a bucket out across >1 writer task
      // (keying on the bucket alone makes >1 file per bucket impossible)
      assert(counts.exists(_ > 1), "no bucket written by more than one task")
      assert(cat.read(spark, "tiles").count() == 2000)
    } finally spark.conf.unset(Catalog.FilesPerBucketConf)
  }

  test("filesPerBucket sizes salts from plan stats, clamped and default-safe") {
    import spark.implicits._
    // toy frame: stats are a few KB ⇒ minimum 1 salt
    assert(Catalog.filesPerBucket(Seq("a", "b").toDF("container_uri")) == 1)
    // conf override wins and is clamped to [1, buckets]
    spark.conf.set(Catalog.FilesPerBucketConf, "100000")
    try assert(Catalog.filesPerBucket(Seq("a").toDF("container_uri"))
      == Catalog.TilesBuckets)
    finally spark.conf.unset(Catalog.FilesPerBucketConf)
    // a stats-less RDD-backed frame (the consolidation worker's output
    // shape) falls back to planned parallelism: 256 partitions ⇒ 4 salts
    val wide = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row("x")), 256),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("container_uri",
          org.apache.spark.sql.types.StringType))))
    assert(Catalog.filesPerBucket(wide) == 4)
  }

  test("deleteWhere refuses tables without a derived bucket partition") {
    val cat = Catalog(s"$root/notbucketed")
    import spark.implicits._
    intercept[IllegalArgumentException] {
      cat.deleteWhere(spark, "records", Seq("x").toDF("container_uri"))
    }
  }
}
