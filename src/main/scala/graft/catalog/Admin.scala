package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Admin / maintenance operations (SURVEY §2.11 C10): the reference's
  * `UpdateDatasets` data-format rewrite (pg_containers.go:433-473,
  * grpc/admin.go) and `TidyDB` garbage collection of unreferenced catalog
  * rows (api/v1/pb/admin.proto:58-62). Both are whole-table Catalyst plans
  * ending in the catalog's atomic rewrite — the parquet stand-in for
  * the reference's single SQL transaction.
  */
object Admin {

  /** Optional new values for the dataset data-format fields; None = keep. */
  final case class DFormatUpdate(
      dtype: Option[String] = None,
      noData: Option[Double] = None,
      minValue: Option[Double] = None,
      maxValue: Option[Double] = None,
      realMinValue: Option[Double] = None,
      realMaxValue: Option[Double] = None,
      exponent: Option[Double] = None)

  /** The impact summary the reference prints before a bulk update (A6,
    * pg_containers.go:436-459): GROUP BY the current dformat fields +
    * COUNT over the datasets the update would touch. */
  def updateImpact(spark: SparkSession, cat: TableStore,
      instanceIds: Seq[String], recordIds: Seq[String] = Nil): DataFrame = {
    // same scoping as updateDatasets — a record-scoped update's dry-run
    // must describe the update that will run, not the whole instance
    val hit0 = col("instance_id").isin(instanceIds: _*)
    val hit = if (recordIds.isEmpty) hit0
      else hit0 && col("record_id").isin(recordIds: _*)
    cat.read(spark, "datasets")
      .filter(hit)
      .groupBy("dtype", "no_data", "min_value", "max_value",
        "real_min_value", "real_max_value", "exponent")
      .agg(count(lit(1)).as("n_datasets"))
      .orderBy("dtype", "no_data")
  }

  /** Bulk data-format rewrite (pg_containers.go:460-473): every dataset of
    * the given instances gets the new dformat values, atomically. Returns
    * the number of rows touched. One scan + one rewrite — no per-row round
    * trips, so a 10⁹-row datasets table updates in one distributed pass. */
  def updateDatasets(spark: SparkSession, cat: TableStore,
      instanceIds: Seq[String], up: DFormatUpdate,
      recordIds: Seq[String] = Nil, simulate: Boolean = false): Long = {
    // validate BEFORE the atomic rewrite — a bad dtype name or an
    // inverted range would otherwise land in every hit row of the
    // central datasets table and poison the serving path (the read side
    // does DType.fromName and divides by the range interval). The
    // reference gets this from its enum/check constraints.
    up.dtype.foreach(graft.core.DType.fromName) // throws on unknown names
    for (mn <- up.minValue; mx <- up.maxValue)
      require(mn < mx, s"min_value $mn must be < max_value $mx")
    for (mn <- up.realMinValue; mx <- up.realMaxValue)
      require(mn < mx, s"real_min_value $mn must be < real_max_value $mx")
    up.exponent.foreach(e => require(e > 0, s"exponent $e must be positive"))
    val ds = cat.read(spark, "datasets")
    // record scoping (admin.go:15 RecordIds) narrows the hit set; both
    // lists are request arguments, bounded like the reference's
    val hit0 = col("instance_id").isin(instanceIds: _*)
    val hit = if (recordIds.isEmpty) hit0
      else hit0 && col("record_id").isin(recordIds: _*)
    val n = ds.filter(hit).count()
    val updates: Seq[(String, Option[Any])] = Seq(
      "dtype" -> up.dtype, "no_data" -> up.noData,
      "min_value" -> up.minValue, "max_value" -> up.maxValue,
      "real_min_value" -> up.realMinValue, "real_max_value" -> up.realMaxValue,
      "exponent" -> up.exponent)
    // an all-None update changes nothing — skip the full-table scan+rewrite
    // (the datasets table is the catalog's big relation)
    if (n > 0 && !simulate && updates.exists(_._2.isDefined)) {
      // instance-partition-scoped: the dformat rewrite touches only the
      // named instances' partitions — the rest of the catalog-scale
      // datasets relation is never read or rewritten
      cat.updatePartitions(spark, "datasets", instanceIds, ds =>
        updates.foldLeft(ds) {
          case (df, (field, Some(v))) =>
            df.withColumn(field, when(hit, lit(v)).otherwise(col(field)))
          case (df, _) => df
        })
    }
    n
  }

  /** TidyDB (admin.proto:58-62): drop catalog rows nothing references —
    * records without datasets, AOIs without records, instances without
    * datasets, variables without instances, containers without datasets —
    * each one left_anti plan + atomic rewrite, in dependency order (J6 shape:
    * the NOT EXISTS GC of pg_records.go:176-191 / pg_containers.go:100-109).
    * Returns per-table deleted counts. */
  def tidy(spark: SparkSession, cat: TableStore,
      aois: Boolean = true, records: Boolean = true,
      variables: Boolean = true, instances: Boolean = true,
      containers: Boolean = true, params: Boolean = true,
      simulate: Boolean = false): Map[String, Long] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val ds = cat.read(spark, "datasets")

    def gc(table: String, df: DataFrame, keep: DataFrame): Unit = {
      val total = df.count()
      val kept = keep.count()
      if (kept < total && !simulate) cat.rewrite(keep, table)
      out += table -> (total - kept)
    }
    def skip(table: String): Unit = out += table -> 0L

    if (records) {
      val rec = cat.read(spark, "records")
      gc("records", rec, rec.join(
        ds.select(col("record_id").as("__r")).distinct(),
        col("id") === col("__r"), "left_semi"))
    } else skip("records")

    if (aois) {
      // reads records POST-gc (dependency order); under simulate the
      // upstream deletion didn't apply, so counts are per-entity against
      // the current state — the reference's dry-run reports the same way
      val aoi = cat.read(spark, "aoi")
      gc("aoi", aoi, aoi.join(
        cat.read(spark, "records").select(col("aoi_id").as("__a")).distinct(),
        col("id") === col("__a"), "left_semi"))
    } else skip("aoi")

    if (instances) {
      val inst = cat.read(spark, "variable_instances")
      gc("variable_instances", inst, inst.join(
        ds.select(col("instance_id").as("__i")).distinct(),
        col("id") === col("__i"), "left_semi"))
    } else skip("variable_instances")

    if (variables) {
      val vars = cat.read(spark, "variable_definitions")
      gc("variable_definitions", vars, vars.join(
        cat.read(spark, "variable_instances")
          .select(col("definition_id").as("__d")).distinct(),
        col("id") === col("__d"), "left_semi"))
    } else skip("variable_definitions")

    if (params) {
      // consolidation_params of variables that no longer exist (the
      // `params` flag of TidyPending, admin.go:13)
      val cp = cat.read(spark, "consolidation_params")
      gc("consolidation_params", cp, cp.join(
        cat.read(spark, "variable_definitions").select(col("id").as("__v")),
        col("variable_id") === col("__v"), "left_semi"))
    } else skip("consolidation_params")

    if (containers) {
      val cont = cat.read(spark, "containers")
      // A container is live when a DATASET references it or a JOB TASK
      // ROW names it: consolidation task ids ARE the job's output uris,
      // and a paused pre-INDEXED or parked CONSOLIDATIONFAILED job's
      // outputs have no dataset rows yet (C5 writes those) — the GC
      // eating them would silently discard the job's completed C4 work
      // and force a full rebuild on resume. Deletion-task ids are md5
      // digests and match no uri, so they add nothing here. (In the
      // reference a mid-job container lives only in object storage, so
      // its TidyDB can't hit this; our materialized tiles/containers
      // rows can.)
      val taskUris = cat.read(spark, "tasks")
        .filter(col("state") =!= "LOCK").select(col("id").as("__c"))
      val liveUris = ds.select(col("container_uri").as("__c"))
        .unionByName(taskUris).distinct()
      gc("containers", cont,
        cont.join(liveUris, col("uri") === col("__c"), "left_semi"))
      if (!simulate) {
        // cascade: container_layouts rows of just-deleted containers (the
        // reference's DeleteContainerLayout fires with each container
        // delete) — a dangling row would block deleteLayout forever
        graft.consolidation.Consolidation.gcContainerLayouts(spark, cat)
        // ...and the containers' PIXELS: tiles rows whose container row is
        // gone are unreachable by any read path, and nothing else GCs
        // them for a catalog maintained by TidyDB alone — the dead pixel
        // storage would otherwise grow without bound. A tile is live
        // when its container row exists, a dataset still references its
        // uri (a torn import: tiles landed, the containers append
        // crashed, and IndexDatasets — which validates against tiles —
        // registered a SERVING dataset), or a job task row names it (the
        // paused/parked-job outputs above). The orphan set is a
        // column-pruned metadata anti-join; deleteWhere then rewrites
        // ONLY the buckets it hashes to — a clean store still costs one
        // uri-column scan but never touches a payload byte, and a dirty
        // one rewrites ~|orphans|/64 of the table, not all of it.
        val tiles = cat.read(spark, "tiles")
        val live = cat.read(spark, "containers")
          .select(col("uri").as("container_uri"))
          .unionByName(ds.select("container_uri"))
          .unionByName(taskUris.withColumnRenamed("__c", "container_uri"))
          .distinct()
        val orphan = tiles.select("container_uri")
          .join(live, Seq("container_uri"), "left_anti")
        cat.deleteWhere(spark, "tiles", orphan)
      }
    } else skip("containers")

    out.toMap
  }
}
