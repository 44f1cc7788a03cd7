package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guard over the WHOLE query surface: the scale
  * traps this engine has hit (or deliberately avoids) must never creep
  * back in silently.
  *
  *  - CartesianProduct: no query may ever plan one.
  *  - BroadcastNestedLoopJoin: the n²-candidate trap for the dedup/LSH
  *    family (an OR-of-bands join degenerates to one — 253 s vs ~2 s at
  *    sf0.1). Allowed only for the similarity queries that intentionally
  *    cross-join a broadcast SINGLE-ROW relation (query vector / probe
  *    list) and for range-bucket theta-joins against tiny literal dims.
  */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  // queries whose BNLJ is a deliberate 1-row-broadcast or tiny-dim design
  val bnljAllowed: Set[String] = Set(
    "sim_cosine_topk", "sim_ivf_topk", // broadcast query vector / probe ids
    "j5_range_join", "g1_grid_assign", // broadcast range-bucket literal dims
    // broadcast 1-row corpus/model totals
    "text_idf", "text_perplexity", "text_tfidf_cos", "text_boilerplate")

  // fixture-evidence queries run a whole consolidation/serving FSM inside
  // their builder (minutes of driver actions) and return a trivial
  // read-back plan — the plan-shape gate doesn't apply to them (shared
  // set on SparkEntry so Bench and this gate can't drift apart)
  val fixtureOnly: Set[String] = graft.SparkEntry.fixtureOnly

  test("no query plans a CartesianProduct; BNLJ only where designed") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.SparkEntry.queries
      .filterNot { case (name, _) => fixtureOnly(name) }
      .foreach { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name))
        offenders += s"$name: BroadcastNestedLoopJoin"
    }
    graft.operators.OperatorCaches.unpersistAll()
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("catalog S1 plan: instance partition pruning + status/bbox pushdown (BASELINE §c)") {
    import graft.catalog.{Catalog, CatalogQueries, DatasetFilters, Schemas}
    import graft.geo.{BBox, GeomOps}
    import org.apache.spark.sql.Row
    val root = java.nio.file.Files.createTempDirectory("graft-planshape-cat").toString
    val cat = Catalog(root)
    val rows = (0 until 400).map { i =>
      val x0 = (i * 53 % 360) - 180.0
      val box = BBox(x0, -10, x0 + 0.2, 10)
      val wkb = GeomOps.writeWkb(GeomOps.polygonFromBBox(box))
      Row(s"d$i", s"r$i", s"i${i % 4}", s"mem://c$i", "", Seq(1),
        "ACTIVE", null, "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false,
        wkb, wkb, 4326, Row(box.xmin, box.ymin, box.xmax, box.ymax))
    }
    cat.append(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Schemas.all("datasets")), "datasets")
    val exec = CatalogQueries.findDatasets(spark, cat, DatasetFilters(
        status = Seq("ACTIVE"), instanceIds = Seq("i2"),
        geog = Some(GeomOps.polygonFromBBox(BBox(10, -5, 20, 5))), order = false))
      .queryExecution.executedPlan
    // read the scan's metadata directly — plan.toString truncates it
    val scans = exec.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metadata
    }
    assert(scans.nonEmpty, "no parquet scan in the S1 plan")
    val pushed = scans.map(_.getOrElse("PushedFilters", "")).mkString(";")
    val part = scans.map(_.getOrElse("PartitionFilters", "")).mkString(";")
    // the instance filter must prune `instance_id=` directory partitions,
    // never scan-and-filter
    assert(part.contains("instance_id"), s"no instance partition pruning: $part")
    // status and the bbox struct companion must reach the parquet reader
    // (row-group min/max skipping — the GIST-index substitute)
    assert(pushed.contains("EqualTo(status,ACTIVE)"), s"status not pushed: $pushed")
    assert(pushed.contains("bbox.xmin") && pushed.contains("bbox.ymax"),
      s"bbox struct fields not pushed: $pushed")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(root))
  }

  test("streaming journal marker probe partition-prunes on jobs type") {
    import graft.catalog.{Catalog, Schemas}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-planshape-jobs").toString
    val cat = Catalog(root)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("j1", "runA-batch-1", "TASKEVENT", "COUNTERS", 1, 0, "", t0, t0),
      Row("j1", "csld", "CONSOLIDATION", "DONE", 0, 0, "", t0, t0),
      Row("j2", "del", "DELETION", "DONE", 0, 0, "", t0, t0))),
      Schemas.jobs), "jobs")
    // round-trip sanity: the partitioned layout serves the full schema
    assert(cat.read(spark, "jobs").count() == 3)
    // the per-micro-batch replay probe (EventStream.journalTaskDeltas)
    // must prune to the type=TASKEVENT directory — at 100× scale the FSM
    // state history dwarfs the journal and a full scan per batch is the
    // driver-path bottleneck VERDICT r9 flagged
    val probe = cat.read(spark, "jobs")
      .filter(col("type") === "TASKEVENT" && col("name") === "runA-batch-1")
    val scans = probe.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metadata
    }
    assert(scans.nonEmpty, "no parquet scan in the probe plan")
    val part = scans.map(_.getOrElse("PartitionFilters", "")).mkString(";")
    assert(part.contains("type"), s"no type partition pruning: $part")
    assert(probe.count() == 1)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(root))
  }

  test("serving-path tiles scan dynamic-partition-prunes on the container bucket") {
    import graft.catalog.{Catalog, Schemas}
    import graft.core.DType
    import graft.geo.{Affine, BBox, GeomOps}
    import graft.raster.Bitmap
    import org.apache.spark.sql.Row
    val root = java.nio.file.Files.createTempDirectory("graft-planshape-tiles").toString
    val cat = Catalog(root)
    def write(table: String, rows: Seq[Row]): Unit =
      cat.append(spark.createDataFrame(
        spark.sparkContext.parallelize(rows), Schemas.all(table)), table)
    val wkb = GeomOps.writeWkb(GeomOps.polygonFromBBox(BBox(0, 0, 2.56, 2.56)))
    val bbox = Row(0.0, 0.0, 2.56, 2.56)
    write("variable_definitions", Seq(
      Row("v1", "b", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "", "near")))
    write("variable_instances", Seq(Row("i1", "m", Map.empty[String, String], "v1")))
    val t0 = 1704067200000L
    write("aoi", Seq(Row("a1", "h", wkb, bbox)))
    write("records", (1 to 20).map(i =>
      Row(s"r$i", s"rec$i", new java.sql.Timestamp(t0 + i * 3600000L),
        Map.empty[String, String], "a1")))
    write("datasets", (1 to 20).map(i =>
      Row(s"d$i", s"r$i", "i1", s"mem://c$i", "", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false, wkb, wkb, 4326, bbox)))
    val tf = Seq(0.0, 0.01, 0.0, 2.56, 0.0, -0.01)
    write("tiles", (1 to 20).map { i =>
      val px = Array.tabulate(64 * 64)(p => ((p + i) % 200).toDouble)
      Row(s"mem://c$i", "", 64, 64, 1, "uint8", "EPSG:4326", tf,
        new Bitmap(64, 64, 1, DType.UInt8, px).toBytes)
    })
    // the store must be laid out in bucket directories (the 100-TB table's
    // partition scheme) …
    val dirs = new java.io.File(s"$root/tiles/data").listFiles
      .filter(_.isDirectory).flatMap(_.listFiles).filter(_.isDirectory)
      .map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith(s"${Catalog.TilesBucketCol}=")),
      s"tiles not bucket-partitioned: ${dirs.mkString(",")}")
    // … and a record-scoped cube request must reach the payload scan with
    // a dynamicpruning PartitionFilter on that bucket column — the store
    // is only LISTED/READ in the request's buckets, the pixel bytes of
    // every other bucket are never touched. The conjunct is cost-gated
    // on store size (toy stores skip the DPP subquery overhead), so
    // force the big-store path for the plan assertion
    val req = graft.cube.CubeRequest(instanceIds = Seq("i1"), crs = "EPSG:4326",
      transform = Affine.northUp(0, 2.56, 0.01, -0.01), width = 64, height = 64,
      recordIds = Seq("r1", "r2", "r3"))
    spark.conf.set(graft.cube.GetCube.BucketPruneMinBytesConf, "0")
    val cube =
      try graft.cube.GetCube.cube(spark, cat, req, 0L, 0L) // the Spark plan
      finally spark.conf.unset(graft.cube.GetCube.BucketPruneMinBytesConf)
    // descend through AQE wrappers and subqueries — the cube plan is
    // adaptive, so its file scans are not leaves of the outer plan
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other =>
        (other.children ++ other.subqueries).flatMap(scansOf)
    }
    val scans = scansOf(cube.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("Location", "").contains("/tiles"))
    assert(scans.nonEmpty, "no tiles parquet scan in the cube plan")
    val part = scans.map(_.partitionFilters.mkString(";")).mkString(";")
    assert(part.contains("dynamicpruning"),
      s"tiles scan has no dynamic partition pruning: $part")
    assert(cube.count() == 3, "pruned cube lost slices")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(root))
  }

  test("commit-log tiles read: ONE scan across op dirs, bucket DPP intact") {
    import graft.catalog.{Catalog, Schemas}
    import graft.core.DType
    import graft.geo.{Affine, BBox, GeomOps}
    import graft.raster.Bitmap
    import org.apache.spark.sql.Row
    val root = java.nio.file.Files.createTempDirectory("graft-planshape-cl").toString
    val cat = Catalog(root)
    def write(table: String, rows: Seq[Row]): Unit =
      cat.append(spark.createDataFrame(
        spark.sparkContext.parallelize(rows), Schemas.all(table)), table)
    val wkb = GeomOps.writeWkb(GeomOps.polygonFromBBox(BBox(0, 0, 2.56, 2.56)))
    val bbox = Row(0.0, 0.0, 2.56, 2.56)
    write("variable_definitions", Seq(
      Row("v1", "b", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "", "near")))
    write("variable_instances", Seq(Row("i1", "m", Map.empty[String, String], "v1")))
    val t0 = 1704067200000L
    write("aoi", Seq(Row("a1", "h", wkb, bbox)))
    write("records", (1 to 20).map(i =>
      Row(s"r$i", s"rec$i", new java.sql.Timestamp(t0 + i * 3600000L),
        Map.empty[String, String], "a1")))
    write("datasets", (1 to 20).map(i =>
      Row(s"d$i", s"r$i", "i1", s"mem://c$i", "", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false, wkb, wkb, 4326, bbox)))
    val tf = Seq(0.0, 0.01, 0.0, 2.56, 0.0, -0.01)
    // THREE separate appends → three live op dirs → the read must still
    // plan ONE file-index-backed relation (r13: plan width is independent
    // of append history), and the serving path's bucket prune must reach
    // that single scan
    for (g <- 0 until 3)
      write("tiles", (1 to 20).filter(_ % 3 == g).map { i =>
        val px = Array.tabulate(64 * 64)(p => ((p + i) % 200).toDouble)
        Row(s"mem://c$i", "", 64, 64, 1, "uint8", "EPSG:4326", tf,
          new Bitmap(64, 64, 1, DType.UInt8, px).toBytes)
      })
    val req = graft.cube.CubeRequest(instanceIds = Seq("i1"), crs = "EPSG:4326",
      transform = Affine.northUp(0, 2.56, 0.01, -0.01), width = 64, height = 64,
      recordIds = Seq("r1", "r2", "r3"))
    spark.conf.set(graft.cube.GetCube.BucketPruneMinBytesConf, "0")
    val cube =
      try graft.cube.GetCube.cube(spark, cat, req, 0L, 0L) // the Spark plan
      finally spark.conf.unset(graft.cube.GetCube.BucketPruneMinBytesConf)
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other =>
        (other.children ++ other.subqueries).flatMap(scansOf)
    }
    val scans = scansOf(cube.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("Location", "").contains("/tiles"))
    assert(scans.nonEmpty, "no tiles parquet scan in the cube plan")
    // the cube plan reads tiles TWICE by design (overview-selection probe
    // + payload scan); each read must stay ONE scan — with the r12
    // union shape these 3 op dirs planned 2×3 scans
    assert(scans.size <= 2,
      s"commit-log tiles reads planned ${scans.size} scans — the op-dir " +
        "history leaked back into plan width")
    val unpruned = scans.filterNot(_.partitionFilters.mkString.contains("dynamicpruning"))
    assert(unpruned.isEmpty,
      s"${unpruned.size}/${scans.size} tiles scans lost bucket DPP: " +
        unpruned.map(_.metadata.getOrElse("Location", "")).mkString(","))
    assert(cube.count() == 3, "pruned cube lost slices")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(root))
  }

  test("spatial expressions keep whole-stage codegen in the join stage (no CodegenFallback)") {
    // r15 rewrote the ten spatial expressions with real doGenCode — one
    // CodegenFallback expression anywhere in a join condition used to
    // drop the WHOLE stage to interpreted execution over every cell-join
    // candidate row. Pin it: with codegen fallback DISABLED a Janino
    // failure throws instead of silently degrading, and the executed
    // join stage must carry WholeStageCodegen spans.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      for (name <- Seq("p5_spatial_refine", "j4_bbox_join", "f7_area_checksum")) {
        val qe = graft.SparkEntry.queries(name)(spark, dir).queryExecution
        qe.executedPlan.execute().foreach(_ => ()) // finalize the adaptive plan
        val plan = qe.executedPlan.toString
        val joinLines = plan.linesIterator
          .filter(l => l.contains("HashJoin") || l.contains("SortMergeJoin")).toSeq
        assert(joinLines.nonEmpty, s"$name: no join in the executed plan")
        assert(joinLines.exists(_.contains("*(")),
          s"$name: no WholeStageCodegen span on the join stage —\n" +
            joinLines.mkString("\n"))
      }
    } finally spark.conf.unset("spark.sql.codegen.fallback")
    graft.operators.OperatorCaches.unpersistAll()
  }

  test("canonical-cell dedup emits exactly the distinct() pair set") {
    // the cover explode and the canonical-cell filter share ONE cell
    // definition (RelationalQueries.cellOf); this pins that a drift in
    // either direction (dropped or duplicated pairs) is caught — the
    // failure mode is silent wrong results, not an error
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("cx", explode(sequence(
        RelationalQueries.cellOf(col("xmin")), RelationalQueries.cellOf(col("xmax")))))
      .withColumn("cy", explode(sequence(
        RelationalQueries.cellOf(col("ymin")), RelationalQueries.cellOf(col("ymax")))))
    // deterministic LCG boxes spanning multiple cells (sizes 1..23 around
    // coordinates 0..99 over cell size 10)
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(s => (s * 1103515245L + 12345L) & 0x7fffffffL).drop(1)
    val boxes = lcg(7L).grouped(4).take(300).zipWithIndex.map { case (r, i) =>
      val x0 = (r(0) % 100).toDouble; val y0 = (r(1) % 100).toDouble
      (i.toLong, x0, y0, x0 + 1 + (r(2) % 23), y0 + 1 + (r(3) % 23))
    }.toSeq
    val a = cells(boxes.toDF("id", "xmin", "ymin", "xmax", "ymax"))
    val b = a.select(col("id").as("bid"), col("xmin").as("bxmin"),
      col("ymin").as("bymin"), col("xmax").as("bxmax"), col("ymax").as("bymax"),
      col("cx"), col("cy"))
    val joined = a.join(b, Seq("cx", "cy"))
      .filter(col("xmin") < col("bxmax") && col("xmax") > col("bxmin") &&
        col("ymin") < col("bymax") && col("ymax") > col("bymin") &&
        col("id") < col("bid"))
    val canonical = joined
      .filter(col("cx") === RelationalQueries.cellOf(greatest(col("xmin"), col("bxmin"))) &&
        col("cy") === RelationalQueries.cellOf(greatest(col("ymin"), col("bymin"))))
      .select("id", "bid")
    val reference = joined.select("id", "bid").distinct()
    val nCanon = canonical.count()
    assert(nCanon == reference.count(), "pair counts differ")
    assert(nCanon == canonical.distinct().count(), "canonical emits duplicates")
    assert(canonical.exceptAll(reference).isEmpty &&
      reference.exceptAll(canonical).isEmpty, "pair sets differ")
    assert(nCanon > 0, "degenerate fixture: no overlapping pairs")
  }

  test("the dedup/LSH family stays on keyed equi-joins end to end") {
    for (name <- Seq("dedup_lsh_pairs", "dedup_embed", "dedup_ngram",
        "sim_lsh_buckets", "mix_stratified")) {
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"$name:\n${plan.take(500)}")
    }
    graft.operators.OperatorCaches.unpersistAll()
  }
}
