package graft.queries

import graft.SparkSuite
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
class PlanShapeSpec extends AnyFunSuite with SparkSuite {

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

  /** The parquet scans of a physical plan, through AQE wrappers,
    * subqueries and cached relations. */
  def scansOf(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scansOf(a.executedPlan)
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      scansOf(m.relation.cachedPlan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other =>
      (other.children ++ other.subqueries).flatMap(scansOf)
  }

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
    val root = tempDir("graft-planshape-cat").toString
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
  }

  test("streaming journal marker probe partition-prunes on jobs type") {
    import graft.catalog.{Catalog, Schemas}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    val root = tempDir("graft-planshape-jobs").toString
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
  }

  /** A cube catalog of 20 single-tile records whose tiles land in THREE
    * appends (three live op dirs), and a request for three of them. */
  private lazy val overBudgetFixture: (graft.catalog.Catalog, graft.cube.CubeRequest) = {
    import graft.catalog.{Catalog, Schemas}
    import graft.core.DType
    import graft.geo.{Affine, BBox, GeomOps}
    import graft.raster.Bitmap
    import org.apache.spark.sql.Row
    val cat = Catalog(tempDir("graft-planshape-tiles").toString)
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
    for (g <- 0 until 3)
      write("tiles", (1 to 20).filter(_ % 3 == g).map { i =>
        val px = Array.tabulate(64 * 64)(p => ((p + i) % 200).toDouble)
        Row(s"mem://c$i", "", 64, 64, 1, "uint8", "EPSG:4326", tf,
          new Bitmap(64, 64, 1, DType.UInt8, px).toBytes)
      })
    (cat, graft.cube.CubeRequest(instanceIds = Seq("i1"), crs = "EPSG:4326",
      transform = Affine.northUp(0, 2.56, 0.01, -0.01), width = 64, height = 64,
      recordIds = Seq("r1", "r2", "r3")))
  }

  test("over-budget payload: ONE tiles scan, static chosen-bucket filter") {
    import graft.catalog.Catalog
    val (cat, req) = overBudgetFixture
    // the store is laid out in bucket directories (the 100-TB table's
    // partition scheme) …
    val dirs = new java.io.File(s"${cat.root}/tiles/data").listFiles
      .filter(_.isDirectory).flatMap(_.listFiles).filter(_.isDirectory)
      .map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith(s"${Catalog.TilesBucketCol}=")),
      s"tiles not bucket-partitioned: ${dirs.mkString(",")}")
    // … and an over-budget request's payload job reads it through ONE
    // scan across the three op dirs, listing and reading only the buckets
    // of the chosen containers: a static partition filter, known before
    // the job runs
    val cube = graft.cube.GetCube.cube(spark, cat, req, 0L, 0L)
    val scans = scansOf(cube.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("Location", "").contains("/tiles"))
    assert(scans.size == 1, s"${scans.size} tiles scans in the payload job")
    val part = scans.head.partitionFilters
    assert(part.nonEmpty && part.forall(f =>
      f.references.map(_.name).toSet == Set(Catalog.TilesBucketCol) &&
        !f.toString.contains("dynamicpruning")), s"tiles partition filters: $part")
    val listed = "IN \\(([^)]*)\\)".r.findFirstMatchIn(part.mkString(";"))
      .map(_.group(1).split(",").map(_.trim).toSet)
    val chosen = Seq("mem://c1", "mem://c2", "mem://c3")
      .map(u => Catalog.tilesBucketOf(u).toString).toSet
    assert(listed.contains(chosen), s"bucket filter $part lists $listed, want $chosen")
    assert(cube.count() == 3, "pruned cube lost slices")
  }

  test("over-budget request: no Window, no join over records") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val (cat, req) = overBudgetFixture
    // AQE off, so each executed plan is the tree that ran
    val s = isolatedSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        if (qe.analyzed.toString.contains("plan-marker")) marker.countDown()
        else plans.add(qe.executedPlan): Unit
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      // every catalog and payload read over budget: cold rows answers
      // would be cached and answered whatever the budget, so the store
      // answers none on the driver
      val store = graft.cube.DriverArmFixture.noRows(cat)
      assert(graft.cube.GetCube.cube(s, store, req, 0L, 0L).collect().length == 3)
      assert(graft.cube.GetCube.cube(s, store, req.copy(headersOnly = true), 0L, 0L)
        .collect().length == 3)
      s.sql("select 'plan-marker' as m").collect()
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally s.listenerManager.unregister(listener)
    def location(f: FileSourceScanExec) = f.metadata.getOrElse("Location", "")
    val all = plans.toArray(Array.empty[SparkPlan]).toSeq
    assert(all.flatMap(_.collectWithSubqueries { case f: FileSourceScanExec => location(f) })
      .exists(_.contains("/records")), "the forced request read no records through Spark")
    for (p <- all) {
      assert(p.collectWithSubqueries { case w: WindowExec => w }.isEmpty, s"a Window:\n$p")
      val joins = p.collectWithSubqueries { case j: BaseJoinExec => j }
      assert(!joins.exists(_.collectWithSubqueries { case f: FileSourceScanExec => location(f) }
        .exists(_.contains("/records"))), s"a join over records:\n$p")
    }
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

  /** One line per distinct `documents`/`embeddings` scan of each text,
    * dedup and similarity query: its read columns and pushed filters. */
  val familyScans: Seq[String] = Seq(
    "mix_stratified documents struct<doc_id:bigint,source:string> [IsNotNull(doc_id), IsNotNull(source)]",
    "mix_weighted documents struct<doc_id:bigint,text:string,source:string> []",
    "dedup_spans documents struct<doc_id:bigint,text:string> []",
    "dedup_spans documents struct<text:string> []",
    "text_tfidf_cos documents struct<> []",
    "text_tfidf_cos documents struct<doc_id:bigint,source:string> []",
    "text_tfidf_cos documents struct<doc_id:bigint,text:string> []",
    "dedup_ngram documents struct<doc_id:bigint,text:string,source:string> []",
    "text_tokens documents struct<doc_id:bigint,text:string> []",
    "text_quality documents struct<doc_id:bigint,text:string> []",
    "text_langid documents struct<text:string,lang:string> []",
    "text_fingerprint documents struct<doc_id:bigint,text:string> []",
    "dedup_canonical documents struct<doc_id:bigint,text:string> []",
    "dedup_minhash documents struct<doc_id:bigint,text:string> []",
    "dedup_lsh_pairs documents struct<doc_id:bigint,text:string,source:string> []",
    "dedup_simhash documents struct<doc_id:bigint,text:string> []",
    "text_idf documents struct<> []",
    "text_idf documents struct<text:string> []",
    "text_perplexity documents struct<doc_id:bigint,text:string> []",
    "text_perplexity documents struct<text:string> []",
    "text_decontaminate documents struct<doc_id:bigint,text:string,source:string> [IsNotNull(source), Not(EqualTo(source,src0))]",
    "text_decontaminate documents struct<text:string,source:string> [IsNotNull(source), EqualTo(source,src0)]",
    "text_boilerplate documents struct<doc_id:bigint,text:string> []",
    "text_repetition documents struct<doc_id:bigint,text:string> []",
    "text_redact documents struct<doc_id:bigint,text:string> []",
    "text_pack documents struct<doc_id:bigint,text:string,source:string> []",
    "sim_cosine_topk embeddings struct<vec_id:bigint,embedding:array<float>,label:int> [IsNotNull(vec_id), Not(EqualTo(vec_id,0))]",
    "sim_cosine_topk embeddings struct<vec_id:bigint,embedding:array<float>> [IsNotNull(vec_id), EqualTo(vec_id,0)]",
    "sim_ivfpq_topk embeddings struct<vec_id:bigint,embedding:array<float>,label:int> []",
    "sim_lsh_buckets embeddings struct<vec_id:bigint,embedding:array<float>,label:int> []",
    "sim_lsh_histogram embeddings struct<embedding:array<float>> []",
    "sim_label_stats embeddings struct<embedding:array<float>,label:int> []",
    "dedup_embed embeddings struct<vec_id:bigint,embedding:array<float>> []",
    "sem_dedup_keep embeddings struct<vec_id:bigint> [IsNotNull(vec_id)]",
    "sim_ivf_topk embeddings struct<vec_id:bigint,embedding:array<float>,label:int> [IsNotNull(vec_id), Not(EqualTo(vec_id,0))]",
    "sim_ivf_topk embeddings struct<vec_id:bigint,embedding:array<float>> [IsNotNull(vec_id), EqualTo(vec_id,0)]",
    "sim_ivf_topk embeddings struct<vec_id:bigint,embedding:array<float>> [IsNotNull(vec_id)]",
    "sim_ann_probe embeddings struct<vec_id:bigint,embedding:array<float>,label:int> []",
    "pq_adc_topk embeddings struct<vec_id:bigint,embedding:array<float>,label:int> []")

  test("text/dedup family: documents and embeddings scans read only the columns they use") {
    // a widened projection (a column the query never uses) or a lost
    // pushdown changes the scan's ReadSchema / PushedFilters line
    val got = (TextQueries.all ++ SimilarityQueries.all).toSeq.flatMap { case (name, fn) =>
      scansOf(fn(spark, dir).queryExecution.executedPlan).flatMap { f =>
        val loc = f.metadata.getOrElse("Location", "")
        Seq("documents", "embeddings").find(t => loc.contains(s"/$t.parquet")).map(t =>
          s"$name $t ${f.metadata.getOrElse("ReadSchema", "")} " +
            f.metadata.getOrElse("PushedFilters", "[]"))
      }.distinct.sorted
    }
    graft.operators.OperatorCaches.unpersistAll()
    if (got != familyScans)
      fail("scan lines differ; only in the plans:\n" + got.diff(familyScans).mkString("\n") +
        "\nonly in the pinned lines:\n" + familyScans.diff(got).mkString("\n"))
  }
}
