package graft.consolidation

import graft.catalog.{TableStore, CatalogQueries, DatasetFilters}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The standalone deletion job (reference internal/svc/operations.go:
  * delInit:176-213 → delSetToDelete:215-229 → delRemoveDatasets:231-252 →
  * delDeleteContainers:335-433, states job.go:40-47): user-selected
  * datasets (instances × records × container-URI patterns) are locked,
  * flipped ACTIVE→TODELETE, dropped with their orphaned containers/tiles,
  * and every orphaned MANAGED container becomes one deletion task whose
  * worker removes the physical object. Task rows journal in the `tasks`
  * table (create.sql:154-166) exactly like the reference's deletion FSM,
  * so a resumed job retries FAILED tasks only; a job that finishes with
  * failed tasks lands in DONEBUTUNTIDY (operations.go:148-149), never
  * silently DONE.
  *
  * Scale shape: the lock collects dataset IDS only (the reference locks
  * the same id list in Postgres); the catalog rewrites are full Catalyst
  * anti/semi-join plans; physical deletes fan out as one Spark stage over
  * the task list (the reference's 20-goroutine pool, distributed). */
object DeletionJob {

  final case class Spec(
      jobId: String,
      name: String,
      instanceIds: Seq[String] = Nil,
      recordIds: Seq[String] = Nil,
      containerUriPatterns: Seq[String] = Nil)

  val states: Seq[String] = Seq(
    "NEW", "CREATED", "DELETIONINPROGRESS", "DELETIONEFFECTIVE", "DONE")

  val JobType = "DELETION"

  private def journal(spark: SparkSession, cat: TableStore, jobId: String,
      name: String) = JournaledJob(spark, cat, JobType, jobId, name)

  /** The job spec serialized into the NEW journal row's payload — makes
    * the job resumable BY ID alone (ContinueJob; same convention as
    * [[ConsolidationJob.specJson]]). */
  private[consolidation] def specJson(spec: Spec): String = {
    import graft.core.JsonUtil.escape
    def arr(xs: Seq[String]) = xs.map(x => s""""${escape(x)}"""").mkString("[", ",", "]")
    s"""{"name":"${escape(spec.name)}","instance_ids":${arr(spec.instanceIds)},""" +
      s""""record_ids":${arr(spec.recordIds)},""" +
      s""""patterns":${arr(spec.containerUriPatterns)}}"""
  }

  /** Rehydrate the Spec from the NEW journal row. */
  def specFromJournal(spark: SparkSession, cat: TableStore,
      jobId: String): Option[Spec] =
    specOf(JournaledJob(spark, cat, JobType, jobId, name = ""))

  private[graft] def specOf(job: JournaledJob): Option[Spec] =
    job.spec.map(parseSpec(job.jobId, _))

  /** [[specJson]]'s inverse, parsed on the driver: a missing array is
    * Nil. */
  private[consolidation] def parseSpec(jobId: String, js: String): Spec = {
    import graft.core.JsonUtil.{parse, text, texts}
    val r = parse(js)
    Spec(jobId, text(r, "name"), texts(r, "instance_ids"), texts(r, "record_ids"),
      texts(r, "patterns"))
  }

  /** Physical removal of one container object — the opSubFncDeleteContainer
    * equivalent (operations.go:435-445). Catalog-virtual URIs (mem://,
    * whose pixels live in the tiles table only) have no object to remove
    * and succeed trivially; file-backed URIs must delete; any OTHER scheme
    * is an error — a SUCCESSFUL task must mean the object is gone, never
    * "scheme I don't support". */
  private[consolidation] def deleteContainerObject(uri: String): Either[String, Unit] = {
    val path =
      if (uri.startsWith("file://")) Some(uri.stripPrefix("file://"))
      else if (uri.startsWith("/")) Some(uri)
      else if (uri.startsWith("mem://") || uri.isEmpty) None
      else return Left(s"unsupported container scheme: $uri")
    path match {
      case None => Right(())
      case Some(p) =>
        val f = new java.io.File(p)
        if (!f.exists) Right(()) // already gone — idempotent retry
        else if (f.delete()) Right(())
        else Left(s"cannot delete $p")
    }
  }

  /** CancelledByUser for a deletion job: allowed while the flip is still
    * reversible — once rows have actually been REMOVED (detected from the
    * data: any locked id missing from the datasets table, covering the
    * crash window where the removal rewrite landed but
    * DELETIONEFFECTIVE was never journaled), cancellation refuses.
    * ABORTED journals FIRST, then the rollback un-flips the locked
    * TODELETE rows and releases the locks (the reference's ordering —
    * the rollback runs IN the aborted state, job.go:560-612); a crash
    * mid-rollback is finished by the next cancel()/run() touch, with the
    * surviving LOCK rows as the not-yet-complete witness. Terminal for
    * [[run]]. */
  def cancel(spark: SparkSession, cat: TableStore, jobId: String,
      name: String): String = cancel(spark, cat, journal(spark, cat, jobId, name))

  private[consolidation] def cancel(spark: SparkSession, cat: TableStore,
      job: JournaledJob): String = job.cancelPrelude.getOrElse {
    // the lock snapshot rides as a RELATION over the durable LOCK rows —
    // membership via joins, never a multi-literal isin (a deletion job
    // over a whole instance can lock 10⁶ datasets)
    val lockedDf = Consolidation.readLockIds(spark, cat, job.jobId)
    val nLocked = lockedDf.count()
    // the un-flip + lock release below span two tables: ABORTED is
    // journaled FIRST (the reference's ordering — CancelledByUser changes
    // state to ABORTED transactionally and the rollback then runs IN
    // aborted, job.go:560-612), so a crash mid-rollback leaves the
    // ABORTED row and this branch finishes the work on the next touch.
    // Surviving LOCK rows are the completion witness: the release is the
    // rollback's last write, so locks-gone ⇒ rollback done.
    if (!job.has("ABORTED") && (job.has("DELETIONEFFECTIVE") ||
        job.has("DONE") || job.has("DONEBUTUNTIDY") || nLocked > 0 &&
        cat.read(spark, "datasets").join(lockedDf, Seq("id"), "left_semi")
          .count() < nLocked)) {
      job.log("CANCELLATIONFAILED", """{"error":"datasets already removed"}""")
      "CANCELLATIONFAILED"
    } else {
      if (!job.has("ABORTED")) job.log("ABORTED")
      if (nLocked > 0) {
        // instance scope rehydrated from the journaled spec when present
        // (a legacy job un-flips unscoped — all partitions)
        val instScope = specOf(job).map(_.instanceIds).getOrElse(Nil)
        cat.updatePartitions(spark, "datasets", instScope, df =>
          Consolidation.withMembership(df, "id", lockedDf, "id", "__lk")
            .withColumn("status",
              when(col("__lk") && col("status") === "TODELETE",
                "ACTIVE").otherwise(col("status")))
            .drop("__lk"))
        cat.updatePartitions(spark, "tasks", Seq(job.jobId),
          _.filter(col("state") =!= "LOCK"))
      }
      "ABORTED"
    }
  }

  /** Drive the FSM; journals to `jobs`, resumes from the journal, stops
    * after `pauseAfter` if given. Returns the final state. */
  def run(spark: SparkSession, cat: TableStore, spec: Spec,
      pauseAfter: Option[String] = None): String =
    run(spark, cat, journal(spark, cat, spec.jobId, spec.name), spec, pauseAfter)

  // Cancelled is terminal — but the cancel's rollback may have been cut
  // short by a crash after its ABORTED journal append; cancel()'s ABORTED
  // branch finishes it (idempotent, witnessed by LOCK rows). FAILED is
  // terminal too: the rollback already un-flipped this job's TODELETE
  // rows back to ACTIVE — a forward re-drive would skip the flip (its
  // state is journaled), remove nothing, and journal DONE while every
  // targeted dataset still exists. ROLLBACKFAILED leaves the catalog
  // half-rolled-back; only an explicit retry may re-attempt the rollback.
  private[graft] def run(spark: SparkSession, cat: TableStore,
      job: JournaledJob, spec: Spec, pauseAfter: Option[String]): String =
    job.drive(specJson(spec), pauseAfter, Seq("ABORTED"), cancel(spark, cat, job))(
      forward(spark, cat, job, spec)) { e =>
      // delRollback (operations.go:156-160): un-flip THIS job's locked
      // TODELETE rows if the removal never became effective — other
      // jobs' TODELETE markers (e.g. a consolidation swap) stay put.
      // Guards: the journal as this run left it, not the pre-run one (a
      // run that journaled DELETIONEFFECTIVE ITSELF must not un-flip);
      // and the locks are RE-READ fresh — the entry-time lockedDf plan
      // pins a file listing that later task rewrites replaced (a store
      // without snapshot reads, or one past its vacuum horizon, throws
      // FileNotFoundException re-evaluating it), which would mask the
      // real error as a spurious ROLLBACKFAILED. A job
      // whose locks were already released reads an empty relation →
      // no-op.
      rollbackToFailed(spark, cat, job, e)
    }

  private def forward(spark: SparkSession, cat: TableStore, job: JournaledJob,
      spec: Spec): String = {
    import spark.implicits._
    // delInit: lock = snapshot the ids selected by the filters — ACTIVE
    // rows only, so another job's TODELETE markers (a consolidation past
    // its swap) can never enter this job's scope. The snapshot persists
    // as LOCK rows in the tasks table, written DISTRIBUTED (an
    // instance-wide deletion locks catalog-scale id sets — no driver
    // arrays, no isin literal lists anywhere downstream); every later
    // step reads the durable rows back as a relation.
    if (!job.has("CREATED")) {
      val sel = CatalogQueries.findDatasets(spark, cat, DatasetFilters(
        status = Seq("ACTIVE"),
        instanceIds = spec.instanceIds, recordIds = spec.recordIds,
        containerUriPatterns = spec.containerUriPatterns, order = false))
        .select("id")
      require(sel.limit(1).count() > 0,
        s"deletion job ${spec.jobId}: no dataset found for these records, " +
          "instances and/or pattern")
      Consolidation.writeLockSnapshot(spark, cat, spec.jobId, sel)
    }
    val lockedDf = Consolidation.readLockIds(spark, cat, spec.jobId)
    val nLocked = lockedDf.count()
    job.step("CREATED") { s"""{"locked":$nLocked}""" }
    def withLock(df: org.apache.spark.sql.DataFrame) =
      Consolidation.withMembership(df, "id", lockedDf, "id", "__lk")

    // delSetToDelete: locked ACTIVE → TODELETE. Instance-partition-
    // scoped when the job names instances; a pattern-only job flips
    // across all partitions (still one partition-scoped update).
    job.step("DELETIONINPROGRESS") {
      cat.updatePartitions(spark, "datasets", spec.instanceIds, df =>
        withLock(df)
          .withColumn("status",
            when(col("__lk") && col("status") === "ACTIVE",
              "TODELETE").otherwise(col("status")))
          .drop("__lk"))
      ""
    }

    // delRemoveDatasets: drop the locked TODELETE rows; GC containers
    // and tiles no surviving dataset references; every GC'd MANAGED
    // container becomes a deletion task (unmanaged objects are the
    // user's — the reference only deletes managed ones).
    job.step("DELETIONEFFECTIVE") {
      cat.updatePartitions(spark, "datasets", spec.instanceIds, df =>
        withLock(df)
          .filter(!(col("__lk") && col("status") === "TODELETE"))
          .drop("__lk"))
      val live = cat.read(spark, "datasets")
        .select(col("container_uri")).distinct()
      val containers = cat.read(spark, "containers")
      // the deletion tasks are minted BEFORE the containers GC below
      // removes the rows the orphan list derives from: in the other order
      // a crash between the GC and the task append left the resume with
      // no orphans, so the objects were never deleted. Idempotent append:
      // a crash after a previous attempt's append re-enters this block —
      // URIs that already have a task keep it (task id = md5 of the uri:
      // deterministic, so retries can never mint a second id for the
      // same object)
      val alreadyDf = cat.read(spark, "tasks")
        .filter(col("job_id") === spec.jobId && col("state") =!= "LOCK")
        .select(col("payload").as("uri"))
      cat.append(containers
        .join(live, containers("uri") === live("container_uri"), "left_anti")
        .filter(col("managed"))
        .select("uri").join(alreadyDf, Seq("uri"), "left_anti")
        .select(
          concat(lit(s"${spec.jobId}-t-"),
            md5(col("uri").cast("binary"))).as("id"),
          lit(spec.jobId).as("job_id"),
          lit("NEW").as("state"),
          col("uri").as("payload")), "tasks")
      cat.rewrite(containers.join(live,
        containers("uri") === live("container_uri"), "left_semi"), "containers")
      // bucket-scoped tiles GC: the doomed uri set (tiles no surviving
      // dataset references) is a metadata-only anti-join; deleteWhere
      // rewrites just its hash buckets, never the whole pixel store
      val tiles = cat.read(spark, "tiles")
      cat.deleteWhere(spark, "tiles", tiles.select("container_uri").distinct()
        .join(live.withColumnRenamed("container_uri", "__live"),
          col("container_uri") === col("__live"), "left_anti"))
      Consolidation.gcContainerLayouts(spark, cat)
      ""
    }

    // delDeleteContainers: one distributed pass over the pending tasks
    // (the reference's 20-worker pool as 20 partitions); per-task
    // failure is a VALUE (task → FAILED), never a job abort, and the
    // task outcomes flow back into the journal through a join — the
    // driver only ever sees the two counts.
    val resDf = cat.read(spark, "tasks")
      .filter(col("job_id") === spec.jobId &&
        col("state").isin("NEW", "PENDING", "FAILED"))
      .select("id", "payload").as[(String, String)]
      .repartition(20)
      .map { case (taskId, uri) =>
        (taskId, if (deleteContainerObject(uri).isRight) "SUCCESSFUL" else "FAILED")
      }
      .toDF("__tid", "__new_state")
    resDf.cache()
    job.onExit(resDf.unpersist())
    val nTasks = resDf.count()
    val nFailed = resDf.filter(col("__new_state") === "FAILED").count()
    if (nTasks > 0) {
      cat.updatePartitions(spark, "tasks", Seq(spec.jobId), tasksDf =>
        tasksDf
          .join(resDf, tasksDf("id") === col("__tid"), "left")
          .withColumn("state", coalesce(col("__new_state"), col("state")))
          .drop("__tid", "__new_state"))
    }
    val terminal = if (nFailed == 0) "DONE" else "DONEBUTUNTIDY"
    // ReleaseDatasets: drop the LOCK rows once fully done (a
    // DONEBUTUNTIDY job keeps them — its retry resumes on the snapshot)
    if (terminal == "DONE")
      cat.updatePartitions(spark, "tasks", Seq(spec.jobId),
        _.filter(col("state") =!= "LOCK"))
    job.step(terminal) { s"""{"tasks":$nTasks,"failed":$nFailed}""" }
    terminal
  }

  /** delRollback + terminal FAILED through the kernel's rollback wrapper:
    * un-flip THIS job's locked TODELETE rows unless the removal became
    * effective. [[retry]] re-attempts only the rollback out of
    * ROLLBACKFAILED (job.go:505-510); run() refuses both terminal
    * states. */
  private def rollbackToFailed(spark: SparkSession, cat: TableStore,
      job: JournaledJob, cause: Exception): String =
    job.rollback(cause) {
      val rbLocks = Consolidation.readLockIds(spark, cat, job.jobId)
      if (!job.has("DELETIONEFFECTIVE") && rbLocks.limit(1).count() > 0) {
        cat.rewrite(Consolidation.withMembership(
            cat.read(spark, "datasets"), "id", rbLocks, "id", "__lk")
          .withColumn("status",
            when(col("__lk") && col("status") === "TODELETE",
              "ACTIVE").otherwise(col("status")))
          .drop("__lk"), "datasets")
      }
    }

  /** Retried for a deletion job (job.go:419-421): a parked DONEBUTUNTIDY
    * or interrupted job resumes through [[run]] (the worker stage
    * re-processes NEW/PENDING/FAILED tasks — the resume IS the retry);
    * ROLLBACKFAILED re-attempts ONLY the rollback; terminal DONE, FAILED
    * and ABORTED refuse with UNHANDLED; unknown ids with NOTFOUND. */
  def retry(spark: SparkSession, cat: TableStore, spec: Spec): String =
    retry(spark, cat, journal(spark, cat, spec.jobId, spec.name), spec)

  private[graft] def retry(spark: SparkSession, cat: TableStore,
      job: JournaledJob, spec: Spec): String =
    job.retryPrelude(rollbackToFailed(spark, cat, job,
      new IllegalStateException("rollback retried by user")))
      .getOrElse(run(spark, cat, job, spec, None))
}
