package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // driver-side file listing up to 1024 dirs: the bucketed tiles
      // store always has 64 partition dirs, above Spark's default
      // 32-path threshold — without this every tiles read launches a
      // distributed LISTING job (~0.15 s) before the scan even plans.
      // At real scale the leaf-file listing inside each bucket still
      // parallelizes over the driver's listing pool.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .getOrCreate()
    // ERROR, not WARN: the per-pass localCheckpoint releases log a benign
    // lineage-truncation WARN per RDD, and any log line after the compact
    // metric line eats into the driver's 2000-char log tail
    spark.sparkContext.setLogLevel("ERROR")
    // JVM/codegen warmup (~10 s of JIT otherwise lands on the first timed
    // query): exercise codegen, shuffle, broadcast and higher-order-array
    // machinery once before timing.
    locally {
      import org.apache.spark.sql.functions._
      val w = spark.range(100000).selectExpr(
        "id",
        "substring(md5(string(id)), 1, 1) as b",
        "filter(split(md5(string(id)), 'a'), x -> x != '') as toks",
        """concat('{"k": ', string(id % 100), '}') as js""")
      // codegen + shuffle + broadcast join
      w.groupBy("b").agg(count(lit(1)).as("n"))
        .join(broadcast(spark.range(16).selectExpr("lower(hex(id)) as b2")),
          expr("b = b2"), "left_outer").count()
      // higher-order array ops through a self-join (LSH shape)
      val t = w.select(col("b"), col("toks")).limit(20000)
      t.as("a").join(t.as("b"), "b")
        .select(size(array_intersect(col("a.toks"), col("b.toks"))).as("i"))
        .agg(sum("i")).count()
      // JSON path + window + timestamp machinery
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("ts"))
      w.select(get_json_object(col("js"), "$.k").cast("long").as("k"),
          timestamp_micros(col("id")).as("ts"), col("id"))
        .withColumn("rn", row_number().over(win))
        .filter(col("rn") === 1).count()
    }
    // two passes, report per-query best: pass 1 absorbs residual C2-JIT
    // compilation of generated code paths the warmup can't reach; the
    // cache is cleared between passes so pass 2 still pays real data
    // reads (steady-state timing, not cached-result timing). Between
    // queries the LSH operators' registered signature caches are released
    // so one query's cached relations can't squat executor memory for the
    // rest of the run (the round-2 p3/a5 regression suspect).
    // Exclusion sets live on SparkEntry (shared with PlanShapeSpec so the
    // lists can't drift): fixture-evidence queries would time throwaway-
    // catalog construction as engine speed (c4_consolidate alone ~45 s/
    // pass); the f6 expression micro-queries are line-budget ballast.
    // The CORRECTNESS gate still runs both groups every round.
    val fixtureOnly = SparkEntry.fixtureOnly
    val exprMicro = SparkEntry.exprMicro
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // REGISTRATION order, identical every run and every round (the queries
    // map is a ListMap; .toSeq pins it regardless of map runtime type) —
    // hash-ordered execution reshuffled per-query timings across rounds
    // whenever an entry was added (run-order JIT/GC effects, round-7 p5).
    val ordered = SparkEntry.queries.toSeq
      .filterNot { case (name, _) =>
        fixtureOnly(name) || exprMicro(name) }
    def onePass(): Seq[(String, Double)] = ordered.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"BENCH FAILURE $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          failed += name; false
        }
      graft.operators.OperatorCaches.unpersistAll()
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN)
    }
    val pass1 = onePass()
    spark.catalog.clearCache()
    val pass2 = onePass().toMap
    // a query that failed in either pass reports -1, never an elapsed time
    // (a broken query must not read as a suspiciously fast green bar)
    val sqlResults = pass1.map { case (k, v) =>
      k -> (if (failed(k)) -1.0 else math.min(v, pass2(k)))
    }
    // kernel benchmark: the reference's only published perf claim is a
    // 100-slice 256×256 cube read < 1 s (docs/architecture/mucog.md:14-26) —
    // track the D3 warp/mosaic path round-over-round alongside the SQL surface
    val results = sqlResults :+ ("getcube_100x256" -> (
      try getCubeBench(spark)
      catch { case e: Throwable =>
        System.err.println(s"BENCH FAILURE getcube_100x256: ${e.getMessage}")
        failed += "getcube_100x256"; -1.0
      })) :+ ("getcube_commitlog" -> (
      // the SAME 100×256 cube whose tiles arrived in four separate
      // appends (four live op dirs) instead of one — tracks what a
      // multi-append tiles table costs the serving read as a
      // driver-recorded number (r12 verdict #4); done-bar ≤2× getcube
      try getCubeCommitLogBench(spark)
      catch { case e: Throwable =>
        System.err.println(s"BENCH FAILURE getcube_commitlog: ${e.getMessage}")
        failed += "getcube_commitlog"; -1.0
      })) :+ ("getcube_http" -> (
      // the same cube THROUGH THE HTTP EDGE over the commit-log root —
      // the exact deployment shape ServeMain ships (edge + object-store
      // catalog together); r13 verdict #4 asked for one number covering
      // HTTP + commit log at once. Done-bar: within noise of the
      // in-process commit-log path (framing + loopback HTTP only).
      try getCubeHttpBench(spark)
      catch { case e: Throwable =>
        System.err.println(s"BENCH FAILURE getcube_http: ${e.getMessage}")
        failed += "getcube_http"; -1.0
      })) :+ ("catalog_1m" -> (
      try catalog1mBench(spark)
      catch { case e: Throwable =>
        System.err.println(s"BENCH FAILURE catalog_1m: ${e.getMessage}")
        failed += "catalog_1m"; -1.0
      }))
    // COMPACT output: the driver records only the last 2000 characters of
    // the run log (BENCH_r06 lost the line's head and with it ~30 query
    // timings), so the whole line must fit that tail budget alongside
    // sbt's ~66-char epilogue and the "[info] " prefix — usable budget
    // ≈ 1925 chars. At 97 entries a uniform-2-dp line measured 1961 chars
    // (over); deciseconds at ≥ 0.1 s + centiseconds below (both well under
    // run-to-run noise) measured 1884. Values are min-of-two passes (see
    // above); -1 marks a failed query; "failed" is emitted only non-empty.
    def fmt(v: Double, dp: Int): String = {
      val s = String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))
      val t = s.reverse.dropWhile(_ == '0').reverse
      if (t.endsWith(".")) t.dropRight(1) else t
    }
    def fmtQ(v: Double): String =
      if (v < 0) "-1" else if (v < 0.1) fmt(v, 2) else fmt(v, 1)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmtQ(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val sfName = new java.io.File(sfDir).getName
    val failedJson =
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
    // metric line printed AFTER spark.stop(): nothing (not even an
    // ERROR-level teardown log) can land between it and EOF, so the
    // driver's tail capture always ends on the bare JSON line (the
    // build.sbt StdoutOutput strategy removes sbt's "[info] " prefix).
    spark.stop()
    println(s"""{"metric":"total","value":${fmt(total, 1)},"unit":"sec","queries":$qs,"sf":"$sfName"$failedJson}""")
  }

  /** BASELINE.md §c: FindDatasets on a 10⁶-row datasets table must stay
    * interactive (< ~1 s warm) — the PostGIS-GIST-query replacement.
    * Seeds 1M dataset rows ONCE per machine (reused across rounds via a
    * marker file; content fully deterministic): 40 instances → 40
    * `instance_id=` partitions (instance filter = partition pruning),
    * rows sorted by bbox.xmin within each partition (bbox filter =
    * parquet row-group min/max skipping), real WKB footprints for the
    * JTS refine stage, and a broadcast-sized records dim for the
    * time-filter join. Times the full S1 plan (status + instance + bbox
    * + JTS + time join + order + limit), min of two runs after a warmup. */
  private def catalog1mBench(spark: SparkSession): Double = {
    import graft.catalog.{Catalog, CatalogQueries, DatasetFilters}
    import graft.geo.{BBox, GeomOps}
    import spark.implicits._
    // the seed's version names its on-disk layout: v1 seeds were written
    // by the retired rename-swap store, which the commit-log catalog
    // reads as an empty table
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-cat1m-v2")
    val marker = new java.io.File(root, "_SEEDED")
    if (!marker.exists) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete(): Unit
      }
      if (root.exists) rm(root)
      val cat = Catalog(root.toString)
      val n = 1000000L
      val nInst = 40
      val t0 = 1704067200000L
      val rows = spark.range(n).mapPartitions { it =>
        it.map { i =>
          val inst = (i % nInst).toInt
          val c = i / nInst
          val x0 = (c * 53 % 3600) / 10.0 - 180
          val y0 = (c * 37 % 1600) / 10.0 - 80
          val box = BBox(x0, y0, x0 + 0.2, y0 + 0.2)
          val wkb = GeomOps.writeWkb(GeomOps.polygonFromBBox(box))
          (s"d$i", s"r${i % 20000}", s"i$inst", s"mem://c${i / 50}", "",
            Seq(1), if (i % 10 == 9) "INACTIVE" else "ACTIVE",
            null: String, "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false,
            wkb, wkb, 4326, (box.xmin, box.ymin, box.xmax, box.ymax))
        }
      }
        .toDF("id", "record_id", "instance_id", "container_uri", "subdir",
          "bands", "status", "locked_by_job_id", "dtype", "no_data",
          "min_value", "max_value", "real_min_value", "real_max_value",
          "exponent", "overviews", "geog_wkb", "shape_wkb", "shape_srid", "bb")
        .withColumn("bbox", org.apache.spark.sql.functions.struct(
          $"bb._1".as("xmin"), $"bb._2".as("ymin"),
          $"bb._3".as("xmax"), $"bb._4".as("ymax")))
        .drop("bb")
        .repartition($"instance_id")
        .sortWithinPartitions($"instance_id", $"bbox.xmin")
      cat.append(rows, "datasets")
      val recs = spark.range(20000).map { r =>
        (s"r$r", s"rec$r", new java.sql.Timestamp(t0 + r * 60000L),
          Map.empty[String, String], "a1")
      }.toDF("id", "name", "datetime", "tags", "aoi_id")
      cat.append(recs, "records")
      marker.createNewFile(): Unit
    }
    val cat = Catalog(root.toString)
    val f = DatasetFilters(
      status = Seq("ACTIVE"),
      instanceIds = Seq("i7"),
      geog = Some(GeomOps.polygonFromBBox(BBox(10, 0, 20, 30))),
      fromTime = Some(new java.sql.Timestamp(1704067200000L)),
      toTime = Some(new java.sql.Timestamp(1704067200000L + 1000000000L)),
      limit = 1000)
    def run(): Long = CatalogQueries.findDatasets(spark, cat, f).count()
    require(run() > 0, "catalog_1m: empty result")
    val times = (1 to 2).map { _ =>
      val t = System.nanoTime(); run(); (System.nanoTime() - t) / 1e9
    }
    times.min
  }

  /** Seed a 100-record catalog of 256×256 uint8 tiles on one grid and time
    * the full GetCube request (the driver resolver's catalog and tile
    * reads → merge kernel per record), min of two runs after a warmup.
    * Returns seconds. */
  private def getCubeBench(spark: SparkSession): Double =
    getCubeBenchOn(spark, root => graft.catalog.Catalog(root), tileAppends = 1)

  /** [[getCubeBench]] with the tiles written in FOUR separate appends so
    * the read spans several live op dirs (the shape the
    * one-relation-per-table read must keep cheap). */
  private def getCubeCommitLogBench(spark: SparkSession): Double =
    getCubeBenchOn(spark, root => graft.catalog.Catalog(root), tileAppends = 4)

  /** [[getCubeCommitLogBench]]'s cube fetched THROUGH the HTTP edge on a
    * loopback ephemeral port — raw passthrough compression so the number
    * is framing + transfer, not deflate CPU. */
  private def getCubeHttpBench(spark: SparkSession): Double =
    getCubeBenchOn(spark,
      root => graft.catalog.Catalog(root), tileAppends = 4,
      viaHttp = true)

  private def getCubeBenchOn(spark: SparkSession,
      store: String => graft.catalog.TableStore, tileAppends: Int,
      viaHttp: Boolean = false): Double = {
    import graft.catalog.Schemas
    import graft.core.DType
    import graft.geo.{Affine, BBox, GeomOps}
    import graft.raster.Bitmap
    import org.apache.spark.sql.Row
    val root = java.nio.file.Files.createTempDirectory("graft-bench-cube").toString
    val cat = store(root)
    def write(table: String, rows: Seq[Row]): Unit =
      cat.append(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 8), Schemas.all(table)), table)
    val box = BBox(0, 0, 2.56, 2.56)
    val wkb = GeomOps.writeWkb(GeomOps.polygonFromBBox(box))
    val bbox = Row(box.xmin, box.ymin, box.xmax, box.ymax)
    val t0 = 1704067200000L // 2024-01-01T00:00Z
    write("aoi", Seq(Row("a1", "h", wkb, bbox)))
    write("records", (1 to 100).map(i =>
      Row(s"r$i", s"rec$i", new java.sql.Timestamp(t0 + i * 3600000L),
        Map.empty[String, String], "a1")))
    write("variable_definitions", Seq(
      Row("v1", "b", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "", "near")))
    write("variable_instances", Seq(Row("i1", "m", Map.empty[String, String], "v1")))
    write("containers", (1 to 100).map(i => Row(s"mem://cube$i", false, "STANDARD")))
    write("datasets", (1 to 100).map(i =>
      Row(s"d$i", s"r$i", "i1", s"mem://cube$i", "", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false, wkb, wkb, 4326, bbox)))
    val tf = Seq(0.0, 0.01, 0.0, 2.56, 0.0, -0.01)
    for (g <- 0 until tileAppends)
      write("tiles", (1 to 100).filter(_ % tileAppends == g).map { i =>
        val px = Array.tabulate(256 * 256)(p => ((p + i) % 200).toDouble)
        Row(s"mem://cube$i", "", 256, 256, 1, "uint8", "EPSG:4326", tf,
          new Bitmap(256, 256, 1, DType.UInt8, px).toBytes)
      })
    val req = graft.cube.CubeRequest(instanceIds = Seq("i1"), crs = "EPSG:4326",
      transform = Affine.northUp(0, 2.56, 0.01, -0.01), width = 256, height = 256)
    val edge = if (viaHttp) Some(new graft.serving.HttpEdge(spark, cat)) else None
    val port = edge.map(_.start()).getOrElse(0)
    val client = java.net.http.HttpClient.newHttpClient()
    def run(): Long =
      if (!viaHttp) graft.cube.GetCube.cube(spark, cat, req).count()
      else {
        // drain the framed chunked stream and count SLICES: one global
        // header frame, then per slice one JSON header + one raw chunk
        // (256×256 uint8 = 64 KiB < the 512 KiB chunk size)
        val resp = client.send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"http://127.0.0.1:$port/v1/cube?instances=i1&crs=EPSG:4326" +
              "&transform=0,0.01,0,2.56,0,-0.01&width=256&height=256" +
              "&compression=-3")).build(),
          java.net.http.HttpResponse.BodyHandlers.ofByteArray())
        require(resp.statusCode() == 200, s"HTTP ${resp.statusCode()}")
        val body = resp.body()
        var i = 0L
        var frames = 0L
        while (i < body.length) {
          val n = ((body(i.toInt) & 0xff) << 24) |
            ((body(i.toInt + 1) & 0xff) << 16) |
            ((body(i.toInt + 2) & 0xff) << 8) | (body(i.toInt + 3) & 0xff)
          frames += 1
          i += 4 + n
        }
        (frames - 1) / 2 // drop the global header; header+chunk per slice
      }
    // the serving benchmark runs under the engine's recommended
    // latency-serving session configuration (GetCube.ServingSessionConfs
    // — AQE off for request-bounded plans); the ETL-style SQL corpus
    // above keeps the session's AQE-on defaults. Restored afterwards.
    val saved = graft.cube.GetCube.ServingSessionConfs.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    graft.cube.GetCube.ServingSessionConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    val times =
      try {
        require(run() == 100L, "getcube bench: expected 100 slices")
        (1 to 2).map { _ =>
          val t = System.nanoTime(); run(); (System.nanoTime() - t) / 1e9
        }
      } finally {
        saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
        edge.foreach(_.stop())
      }
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(new java.io.File(root))
    times.min
  }
}
