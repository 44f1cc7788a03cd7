package graft.consolidation

import graft.catalog.{TableStore, CatalogQueries, DatasetFilters, Schemas}
import graft.layout.Layout
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Job FSM (C1, reference internal/geocube/job.go + consolidater.go
  * csldOnEnterNewState:21-106) in its Spark-native form: the reference
  * needs 20 states because work hops across processes through a message
  * queue with retries; here each state handler IS a Spark action, so the
  * happy path is a linear drive with the state journal persisted to the
  * `jobs` table after every transition (step-by-step replay/debugging —
  * the equivalent of the reference's pause levels). Failure rolls back the
  * not-yet-swapped INACTIVE datasets, mirroring job.go's rollback path. */
object ConsolidationJob {

  final case class Spec(
      jobId: String,
      name: String,
      instanceId: String,
      recordIds: Seq[String],
      layout: Layout,
      params: ConsolidationParams,
      collapseOnRecordId: Option[String] = None)

  val states: Seq[String] = Seq(
    "NEW", "CREATED", "CONSOLIDATIONINPROGRESS", "CONSOLIDATIONDONE",
    "CONSOLIDATIONINDEXED", "CONSOLIDATIONEFFECTIVE", "DONE")

  val JobType = "CONSOLIDATION"

  /** CancelJob by id (service.go:74 / grpc CancelJob): routes on the
    * journaled job type — consolidation jobs roll back via the csldRollback
    * chain below, deletion jobs via `DeletionJob.cancel`. NOTFOUND for ids
    * with no journal. */
  def cancelById(spark: SparkSession, cat: TableStore, jobId: String): String =
    JournaledJob.byId(spark, cat, jobId) { job =>
      if (job.jobType == DeletionJob.JobType) DeletionJob.cancel(spark, cat, job)
      else cancel(spark, cat, job)
    }

  private def journal(spark: SparkSession, cat: TableStore, spec: Spec) =
    JournaledJob(spark, cat, JobType, spec.jobId, spec.name)

  /** CancelledByUser — allowed until the swap is journaled (job.go
    * :550-580 marks the post-swap states critical): runs the csldRollback
    * chain (consolidater.go:826-870) — drop this job's INACTIVE datasets,
    * purge its not-yet-authoritative containers/tiles, release the locks
    * (our lock is the journal itself) — and journals ABORTED. A job at or
    * past CONSOLIDATIONEFFECTIVE refuses with CANCELLATIONFAILED: the old
    * datasets are already TODELETE-flagged and the new ones serve reads. */
  def cancel(spark: SparkSession, cat: TableStore, spec: Spec): String =
    cancel(spark, cat, journal(spark, cat, spec))

  private def cancel(spark: SparkSession, cat: TableStore,
      job: JournaledJob): String = job.cancelPrelude.getOrElse {
    val prefix = s"${cat.root}/containers/${job.jobId}/"
    if (job.has("ABORTED")) "ABORTED" // cancel is idempotent
    // the swap rewrite and its journal entry are two writes: a crash
    // between them leaves CONSOLIDATIONEFFECTIVE unjournaled while the
    // job's datasets already serve reads — detect the APPLIED swap from
    // the data (any ACTIVE dataset under the job prefix), not the journal
    else if (job.has("CONSOLIDATIONEFFECTIVE") || job.has("DONE") ||
        job.has("DONEBUTUNTIDY") || swapApplied(spark, cat, prefix)) {
      job.log("CANCELLATIONFAILED", """{"error":"job already effective"}""")
      "CANCELLATIONFAILED"
    } else {
      // Journal the rollback START before the first rewrite (job.go's
      // CONSOLIDATIONCANCELLING, job.go:40-81): the purges below span five
      // tables and are not atomic as a group, so a crash mid-cancel must
      // leave journal evidence — run()/retry() then COMPLETE the cancel
      // (every purge is an idempotent predicate) instead of forward-driving
      // over a half-rolled-back catalog, where a swap would activate
      // already-purged outputs and DONE would delete the originals.
      if (!job.has("CONSOLIDATIONCANCELLING")) job.log("CONSOLIDATIONCANCELLING")
      // from CONSOLIDATIONDONE/INDEXED: the job's INACTIVE datasets vanish;
      // from CONSOLIDATIONINPROGRESS: its containers/tiles are not
      // authoritative until INDEXED — purge them; the rolled-back job's
      // task rows are dead — drop them with the rollback (the reference
      // deletes a job's tasks alongside it)
      // instance scope rehydrated from the journaled spec when present —
      // a pre-spec-journal legacy job purges unscoped (all partitions)
      Consolidation.purgeInactiveOutputs(spark, cat, prefix,
        specOf(spark, job).map(_.instanceId).toSeq)
      Consolidation.purgeJobContainers(spark, cat, prefix)
      Consolidation.dropJobTasks(spark, cat, job.jobId)
      job.log("ABORTED")
      "ABORTED"
    }
  }

  /** Any ACTIVE dataset under the job prefix: the swap has been applied,
    * whatever the journal says. One limit(1) count, job-scoped. */
  private def swapApplied(spark: SparkSession, cat: TableStore,
      prefix: String): Boolean =
    cat.read(spark, "datasets")
      .filter(col("container_uri").startsWith(prefix) &&
        col("status") === "ACTIVE")
      .limit(1).count() > 0

  /** Retried / RetryForced (job.go:419-421 + 499-503, driven by
    * operations.go's Retry trigger): re-emit this job's FAILED tasks —
    * force additionally re-emits NEW/PENDING ones (csldConsolidationRetry
    * vs csldConsolidationForceRetry, consolidater.go:796-824, the
    * stuck-mid-flight case; in this engine that is a run that journaled
    * CONSOLIDATIONINPROGRESS and then crashed) — journal the
    * CONSOLIDATION(FORCE)RETRYING state, and drive the FSM again from the
    * journal; the C4 redo scope picks up exactly the reset rows. Terminal
    * or non-retryable journals refuse with UNHANDLED (the reference's
    * UnhandledEvent), NOTFOUND for unknown ids. */
  def retry(spark: SparkSession, cat: TableStore, spec: Spec,
      force: Boolean = false): String =
    retry(spark, cat, journal(spark, cat, spec), spec, force)

  private[graft] def retry(spark: SparkSession, cat: TableStore,
      job: JournaledJob, spec: Spec, force: Boolean): String =
    job.retryPrelude(rollbackToFailed(spark, cat, job, spec,
      new IllegalStateException("rollback retried by user"))).getOrElse {
      // an interrupted cancel re-attempts the cancellation (the reference
      // marks CONSOLIDATIONCANCELLING RetryForced, job.go:81)
      if (job.has("CONSOLIDATIONCANCELLING")) cancel(spark, cat, job)
      else if (!(job.has("CONSOLIDATIONFAILED") ||
          job.has("INITIALISATIONFAILED") || // job.go:493-499 → CREATED
          job.has("DONEBUTUNTIDY") || // job.go:468-472 → re-run the cleanup
          (force && job.has("CONSOLIDATIONINPROGRESS")))) "UNHANDLED"
      else {
        val resetFrom: Seq[String] =
          if (force) Seq("FAILED", "NEW", "PENDING") else Seq("FAILED")
        val isReset = col("job_id") === spec.jobId && col("state").isin(resetFrom: _*)
        val nReset = cat.read(spark, "tasks").filter(isReset).count()
        cat.updatePartitions(spark, "tasks", Seq(spec.jobId), df => df
          .withColumn("payload", when(isReset, "").otherwise(col("payload")))
          .withColumn("state", when(isReset, "NEW").otherwise(col("state"))))
        job.log(if (force) "CONSOLIDATIONFORCERETRYING" else "CONSOLIDATIONRETRYING",
          s"""{"reset_tasks":$nReset}""")
        run(spark, cat, job, spec, None, unparked = true)
      }
    }

  /** Drive the FSM (sync execution mode). `pauseAfter` is the step-by-step
    * execution level of the reference (operations.proto:24-30 + job.go
    * pause levels): the job journals its state and stops after the named
    * state; a later call with the same spec resumes from the journal
    * (idempotent state guards, like handleTaskEvt's "already done" path).
    * Returns the final state reached. */
  def run(spark: SparkSession, cat: TableStore, spec: Spec,
      pauseAfter: Option[String] = None,
      unparked: Boolean = false): String =
    run(spark, cat, journal(spark, cat, spec), spec, pauseAfter, unparked)

  private[graft] def run(spark: SparkSession, cat: TableStore,
      job: JournaledJob, spec: Spec, pauseAfter: Option[String],
      unparked: Boolean): String =
    // a journaled CANCELLING without ABORTED is a cancel that crashed
    // mid-rollback: finish the cancel (its purges are idempotent), never
    // drive forward — the catalog may already be half rolled back
    job.drive(specJson(spec), pauseAfter,
        Seq("ABORTED", "CONSOLIDATIONCANCELLING"), cancel(spark, cat, job)) {
      // CONSOLIDATIONFAILED parks the job for an explicit user decision
      // (retry/force-retry/cancel; the reference's ContinueJob resumes only
      // paused/interrupted jobs): a plain resume must not silently redo the
      // failed tasks without the RETRYING journal entry. retry() passes
      // `unparked` after journaling CONSOLIDATION(FORCE)RETRYING — an
      // explicit flag, NOT a latest-state comparison, because created_at
      // ordering is only monotonic within one JVM (a wall-clock step-back
      // across a driver restart would stamp the RETRYING row BEFORE the
      // parked FAILED row and brick every retry until the clock caught up).
      if (!unparked && job.latest.contains("CONSOLIDATIONFAILED"))
        "CONSOLIDATIONFAILED"
      else forward(spark, cat, job, spec)
    } { e =>
      if (job.has("CONSOLIDATIONEFFECTIVE") || scala.util.Try(swapApplied(
          spark, cat, s"${cat.root}/containers/${spec.jobId}/")).getOrElse(false)) {
        // StartDeletionFailed (job.go:459-461): the swap IS effective —
        // the outputs serve reads and must NOT be rolled back; only the
        // old-dataset cleanup (or the EFFECTIVE journal append itself,
        // covered by the data probe) failed. DONEBUTUNTIDY parks the
        // job with its lock snapshot intact; run()/retry() re-attempt
        // the cleanup (the reference's Retried → EFFECTIVE → DONE).
        // The old rollback here journaled a terminal FAILED on a job
        // whose outputs were actively serving — untrue and unfixable.
        job.log("DONEBUTUNTIDY", JournaledJob.errJson(e))
        "DONEBUTUNTIDY"
      } else rollbackToFailed(spark, cat, job, spec, e)
    }

  /** The forward path, C2 lock → C7 delete-old, one step per state. */
  private def forward(spark: SparkSession, cat: TableStore, job: JournaledJob,
      spec: Spec): String = {
    val prefix = s"${cat.root}/containers/${spec.jobId}/"
    // layout validation on entry (layout.go:120-129: bad interlacing
    // grammar or grid params fail the job before any work); the grid
    // resolves against the catalog first so CATALOG-DEFINED custom
    // grids consolidate like built-ins
    spec.layout.resolveGrid(spark, cat).validate()
    // C2 init: lock = DURABLE snapshot of the dataset ids to consolidate
    // (job.LockDatasets), written as LOCK task rows at CREATED exactly
    // like DeletionJob, then read back as an id-only RELATION (a
    // collapse job can lock 10⁶ datasets — neither a driver array nor an
    // isin literal list survives that). A resume MUST read the durable
    // snapshot, never re-derive it from the live ACTIVE set: after a
    // crash between the swap's datasets rewrite and the EFFECTIVE
    // journal append, the ACTIVE rows matching this filter ARE the
    // job's own freshly-activated outputs — re-locking them would have
    // the re-run swap flip them to TODELETE and the job journal DONE
    // with every output and original deleted.
    // localCheckpoint(eager) PINS the read: the lazy plan would
    // otherwise re-read the tasks table after later FSM rewrites.
    if (!job.has("CREATED")) {
      val sel = CatalogQueries.findDatasets(spark, cat, DatasetFilters(
        status = Seq("ACTIVE"), instanceIds = Seq(spec.instanceId),
        recordIds = spec.recordIds, order = false))
        .select("id")
      Consolidation.writeLockSnapshot(spark, cat, spec.jobId, sel)
    }
    val lockedIds = Consolidation.readLockIds(spark, cat, spec.jobId)
      .localCheckpoint(true)
    job.onExit(graft.operators.OperatorCaches.releaseLocalCheckpoint(lockedIds))
    val nLocked = lockedIds.count()
    // past the swap the locks may already be released (the DONE step
    // drops them before its journal append lands) and nothing left to
    // run needs them — only a pre-swap job with an empty lock is broken
    require(nLocked > 0 || job.has("CONSOLIDATIONEFFECTIVE"),
      s"job ${spec.jobId}: no datasets to consolidate")
    job.step("CREATED") { s"""{"locked":$nLocked}""" }

    // C3 prepare orders — scoped to the LOCK snapshot, so a resume packs
    // the exact container set the failed run packed even if the live
    // catalog gained new ACTIVE datasets for the same records meanwhile
    // (drifting packing would orphan the journaled task rows' outputs).
    // Skipped entirely once INDEXED is journaled: nothing after C5 reads
    // the orders, and a post-swap resume could not even rebuild them
    // (the locked datasets are TODELETE/deleted by then).
    //
    // INDEXED is only TRUSTED when the outputs it claims are actually
    // present: a failure rollback (e.g. after a swap-step exception)
    // purges the job's INACTIVE datasets and tiles, and a crash before
    // its FAILED journal append leaves INDEXED as the last state — a
    // resume trusting it would skip C3–C5, swap in nothing, and the
    // DONE step would delete the originals with no replacement.
    // Post-swap the outputs are ACTIVE under the prefix, so the probe
    // stays true for every healthy resume; pre-swap a healthy INDEXED
    // job has them INACTIVE there. One limit(1) count, job-scoped.
    val indexedTrusted = job.has("CONSOLIDATIONINDEXED") && (
      job.has("CONSOLIDATIONEFFECTIVE") ||
      cat.read(spark, "datasets")
        .filter(col("container_uri").startsWith(prefix)).limit(1).count() > 0)
    var tasks: org.apache.spark.sql.DataFrame = null
    var nTasks = 0L
    var allUris: Seq[String] = Nil
    var journaled: Map[String, String] = Map.empty
    if (!indexedTrusted) {
      tasks = Consolidation.prepareOrders(spark, cat, spec.jobId,
        spec.instanceId, spec.recordIds, spec.layout, spec.collapseOnRecordId,
        lockedIds = Some(lockedIds))
      tasks.cache()
      job.onExit(tasks.unpersist())
      nTasks = tasks.count()
      // Task rows journaled BEFORE the state (csldPrepareOrders creates
      // tasks, then CREATED→INPROGRESS fires): one row per output
      // container. The uri list is job-scoped metadata collected to the
      // driver — the same cardinality the reference holds in job.Tasks.
      allUris = tasks.select("container_uri").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      journaled = cat.read(spark, "tasks")
        .filter(col("job_id") === spec.jobId && col("state") =!= "LOCK")
        .select("id", "state")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      if (journaled.isEmpty)
        cat.append(spark.createDataFrame(
          spark.sparkContext.parallelize(
            allUris.map(u => Row(u, spec.jobId, "NEW", ""))),
          Schemas.tasks), "tasks")
    }
    job.step("CONSOLIDATIONINPROGRESS") { s"""{"tasks":$nTasks}""" }

    // C4 consolidate (one Spark task per container, + overview pyramid).
    // The redo scope is the NOT-DONE task rows: a resume or retry only
    // purges and recomputes containers whose task never completed — at
    // scale one flaky container re-warps alone, the thousands of DONE
    // ones keep their tiles. Partial outputs of non-done tasks are
    // purged before the redo (the reference's retry path deletes
    // partial uploads, handler_consolidation.go, rather than trusting
    // them); a crash between consolidate's appends and the task-row
    // update leaves the task non-DONE, so the rerun purges the orphan
    // rows — no journal-vs-effect window. Once INDEXED is journaled the
    // outputs are authoritative and C4 is skipped entirely.
    if (!indexedTrusted) {
      import spark.implicits._
      // A DONE task row is only trusted when its container's tiles
      // actually exist: a rollback/cancel that crashed after purging
      // the job-prefix tiles but BEFORE its terminal journal append
      // leaves DONE rows pointing at purged outputs — forward-driving
      // on the rows alone would have C5 index nothing and the swap
      // delete the originals with no replacement. One column-pruned
      // distinct over the job prefix, same job-scoped cardinality as
      // allUris itself.
      val withTiles: Set[String] = cat.read(spark, "tiles")
        .filter(col("container_uri").startsWith(prefix))
        .select("container_uri").distinct()
        .collect().map(_.getString(0)).toSet
      val pending = allUris.filter(u =>
        journaled.getOrElse(u, "NEW") != "DONE" || !withTiles.contains(u))
      // the pending set rides as a RELATION (anti/semi joins), not an
      // isin literal list — a big job has 10⁵+ containers and the
      // uris already carry the job prefix, so the exact-uri anti-join
      // is strictly job-scoped
      val pendingDf = pending.toDF("container_uri")
      // ALSO purge any job-prefix rows NOT in the current packing at
      // all (allUris) — with the lock-pinned prepareOrders the packing
      // is stable across resumes, but if locked datasets were
      // physically removed between incarnations a previous run's uris
      // can drop out, and rows never purged here would never be
      // indexed either: permanent catalog orphans. Existence-probed —
      // the no-drift path pays one limit(1) count, not a rewrite.
      // the purge itself is existence-probed too: a FRESH job has no
      // job-prefix rows at all, and rewriting the tiles table (the
      // pixel store — the catalog's largest relation) twice for a
      // guaranteed no-op would dominate the job's cost at scale
      val anyJobRows = cat.read(spark, "tiles")
        .filter(col("container_uri").startsWith(prefix))
        .limit(1).count() > 0 ||
        cat.read(spark, "containers")
          .filter(col("uri").startsWith(prefix))
          .limit(1).count() > 0
      if (anyJobRows) {
        val allUrisDf = allUris.toDF("container_uri")
        val staleTiles = cat.read(spark, "tiles")
          .filter(col("container_uri").startsWith(prefix))
          .join(allUrisDf, Seq("container_uri"), "left_anti")
        // checkpoint pins the union against the tiles mutation below
        // (deleteWhere re-checkpoints its own copy; this one also
        // feeds the containers rewrite after the tiles files move)
        val purgeTiles =
          if (staleTiles.limit(1).count() > 0)
            pendingDf.unionByName(
              staleTiles.select("container_uri").distinct())
              .localCheckpoint(true)
          else pendingDf
        try {
          // bucket-scoped: only the purge set's hash buckets rewrite —
          // a resume never pays a full pixel-store rewrite
          cat.deleteWhere(spark, "tiles", purgeTiles)
          cat.rewrite(cat.read(spark, "containers")
            .join(purgeTiles.withColumnRenamed("container_uri", "uri"),
              Seq("uri"), "left_anti"), "containers")
        } finally if (purgeTiles ne pendingDf)
          graft.operators.OperatorCaches.releaseLocalCheckpoint(purgeTiles)
      }
      val todo =
        if (pending.size == allUris.size) tasks
        else tasks.join(pendingDf, Seq("container_uri"), "left_semi")
      val failures: Map[String, String] = Consolidation.consolidate(
        spark, cat, spec.jobId, todo, spec.params,
        spec.layout.overviewsMinSize)
      // task-row upsert: this job's rows are rewritten whole from the
      // driver-held outcome map (idempotent; tolerates a torn NEW-row
      // append from a crashed first run). Set-membership, not
      // Seq.contains — a fresh big job has pending == allUris and the
      // quadratic scan would be 10¹⁰ comparisons at 10⁵ containers.
      val pendingSet = pending.toSet
      val outcome = allUris.map { u =>
        val st =
          if (failures.contains(u)) "FAILED"
          else if (pendingSet.contains(u)) "DONE"
          else journaled.getOrElse(u, "DONE")
        Row(u, spec.jobId, st, failures.getOrElse(u, ""))
      }
      // LOCK rows survive the outcome rewrite — they are the durable
      // lock snapshot, not task state
      cat.updatePartitions(spark, "tasks", Seq(spec.jobId), df => df
        .filter(col("state") === "LOCK")
        .unionByName(spark.createDataFrame(
          spark.sparkContext.parallelize(outcome), Schemas.tasks)))
      if (failures.nonEmpty) {
        // job.go ConsolidationFailed: journal and WAIT for a user
        // retry/cancel — no rollback, the locked datasets stay locked
        // and the DONE containers' outputs stay for the retry to reuse
        job.log("CONSOLIDATIONFAILED",
          s"""{"failed_tasks":${failures.size},"active_tasks":${allUris.size - failures.size}}""",
          activeTasks = allUris.size - failures.size,
          failedTasks = failures.size)
        return "CONSOLIDATIONFAILED"
      }
    }
    job.step("CONSOLIDATIONDONE") { "" }

    // C5 index (INACTIVE): dataset identity is re-derived from the
    // durable tiles table + the deterministic record order — NOT from
    // consolidate's return value — so a retry that only rebuilt the
    // failed containers still indexes the whole job, and the payload
    // column is pruned at the parquet scan (no pixel bytes move here)
    if (!indexedTrusted) {
      // the record-order relation is CHECKPOINTED before the purge
      // below: its lineage reads the datasets table (via the orders),
      // and a cache-lost recompute after the purge's rewrite-swap
      // would re-list deleted parquet files
      val order = Consolidation.recordOrder(tasks).localCheckpoint(true)
      try {
        // idempotence for the crash window between index() and the
        // INDEXED journal: the appended rows are exactly this job's
        // INACTIVE datasets (the swap has provably not run — it only
        // runs after INDEXED is journaled), so purge-then-append can
        // never double-index, where append-on-resume would. The purge
        // is an existence-probed no-op on the normal no-crash path —
        // orphans exist only after a crash in that window, and the
        // full-table rewrite shouldn't be paid every job.
        val orphaned = cat.read(spark, "datasets")
          .filter(col("instance_id") === spec.instanceId &&
            col("status") === "INACTIVE" &&
            col("container_uri").startsWith(prefix))
          .limit(1).count() > 0
        if (orphaned)
          Consolidation.purgeInactiveOutputs(spark, cat, prefix,
            Seq(spec.instanceId))
        val jobTiles = cat.read(spark, "tiles")
          .filter(col("container_uri").startsWith(prefix))
          .filter(!col("subdir").rlike("@ov\\d+$"))
          .join(order, Seq("container_uri", "subdir"))
        Consolidation.index(spark, cat, jobTiles, spec.instanceId, spec.params)
        // container_layouts: which layout each new container follows
        // (csldIndex's SaveContainerLayout, consolidater.go:625) —
        // purge-then-append under the job prefix for the same crash
        // window the dataset purge above covers
        val cl = cat.read(spark, "container_layouts")
        if (cl.filter(col("container_uri").startsWith(prefix))
            .limit(1).count() > 0)
          cat.rewrite(cl.filter(!col("container_uri").startsWith(prefix)),
            "container_layouts")
        cat.append(cat.read(spark, "containers")
          .filter(col("uri").startsWith(prefix))
          .select(col("uri").as("container_uri"),
            lit(spec.layout.name).as("layout_name")), "container_layouts")
      } finally graft.operators.OperatorCaches.releaseLocalCheckpoint(order)
    }
    job.step("CONSOLIDATIONINDEXED") { "" }

    // C6 swap (atomic; collapse keeps the originals ACTIVE; the flip is
    // scoped to this job's containers so a concurrent job's INACTIVE
    // outputs stay inactive)
    job.step("CONSOLIDATIONEFFECTIVE") {
      Consolidation.swap(spark, cat, spec.instanceId, lockedIds,
        keepOld = spec.collapseOnRecordId.isDefined,
        newPrefix = Some(prefix))
      ""
    }

    // C7 delete old + release the lock snapshot (the locked rows are
    // the just-deleted TODELETE datasets; a resume that lands here
    // again is guarded by the early DONE return / the relaxed require)
    job.step("DONE") {
      Consolidation.deleteDatasets(spark, cat, Seq(spec.instanceId))
      cat.updatePartitions(spark, "tasks", Seq(spec.jobId),
        _.filter(col("state") =!= "LOCK"))
      ""
    }
    "DONE"
  }

  /** The job.go rollback path: drop this job's INACTIVE datasets, then
    * FAILED (RollbackDone) through the kernel's rollback wrapper. */
  private def rollbackToFailed(spark: SparkSession, cat: TableStore,
      job: JournaledJob, spec: Spec, cause: Exception): String =
    job.rollback(cause) {
      val prefix = s"${cat.root}/containers/${spec.jobId}/"
      Consolidation.purgeInactiveOutputs(spark, cat, prefix,
        Seq(spec.instanceId))
      // FAILED is terminal: the job's not-yet-authoritative C4/C5 outputs
      // (containers/tiles/container_layouts under the job prefix) are
      // dead rows — purge them like cancel does, or they dangle forever
      // (deleteLayout would refuse on a container_layouts row no dataset
      // references). Guarded on the swap NOT being applied: after the
      // swap those rows serve the job's ACTIVE datasets and must stay.
      if (!swapApplied(spark, cat, prefix))
        Consolidation.purgeJobContainers(spark, cat, prefix)
    }

  /** The job spec serialized into the NEW journal row's payload — what
    * makes a job resumable BY ID alone (the reference journals
    * job.Payload the same way and ContinueJob/operations replay from it,
    * job.go + operations.go:38). */
  private[consolidation] def specJson(spec: Spec): String = {
    import graft.core.JsonUtil.escape
    def arr(xs: Seq[String]) = xs.map(x => s""""${escape(x)}"""").mkString("[", ",", "]")
    val l = spec.layout
    val m = spec.params.mapping
    val gp = l.gridParameters.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${escape(k)}":"${escape(v)}"""" }
      .mkString("{", ",", "}")
    s"""{"name":"${escape(spec.name)}","instance_id":"${escape(spec.instanceId)}",""" +
      s""""record_ids":${arr(spec.recordIds)},""" +
      s""""collapse":${spec.collapseOnRecordId.map(r => s""""${escape(r)}"""").getOrElse("null")},""" +
      s""""layout":{"name":"${escape(l.name)}","grid_flags":${arr(l.gridFlags)},""" +
      s""""grid_parameters":$gp,"block_x":${l.blockXSize},"block_y":${l.blockYSize},""" +
      s""""max_records":${l.maxRecords},"overviews_min_size":${l.overviewsMinSize},""" +
      s""""interlacing":"${escape(l.interlacingPattern)}"},""" +
      s""""params":{"dtype":"${m.format.dtype.name}","no_data":${jsNum(m.format.noData)},""" +
      s""""min":${jsNum(m.format.range.min)},"max":${jsNum(m.format.range.max)},""" +
      s""""real_min":${jsNum(m.rangeExt.min)},"real_max":${jsNum(m.rangeExt.max)},""" +
      s""""exponent":${jsNum(m.exponent)},""" +
      s""""resampling":"${spec.params.resampling.name}",""" +
      s""""storage_class":"${escape(spec.params.storageClass)}"}}"""
  }

  // JSON has no NaN/Infinity literals; a nodata of NaN is common
  private def jsNum(d: Double): String =
    if (d.isNaN) "\"NaN\""
    else if (d.isPosInfinity) "\"Infinity\""
    else if (d.isNegInfinity) "\"-Infinity\""
    else d.toString

  private def parseNum(s: String): Double = s match {
    case "NaN" => Double.NaN
    case "Infinity" => Double.PositiveInfinity
    case "-Infinity" => Double.NegativeInfinity
    case x => x.toDouble
  }

  /** Rehydrate the Spec from the NEW journal row (ContinueJob's enabler,
    * service.go:587-598). None when the job has no journal or predates
    * spec journaling. */
  def specFromJournal(spark: SparkSession, cat: TableStore,
      jobId: String): Option[Spec] =
    specOf(spark, JournaledJob(spark, cat, JobType, jobId, name = ""))

  private[graft] def specOf(spark: SparkSession, job: JournaledJob): Option[Spec] =
    job.spec.map(parseSpec(spark, job.jobId, _))

  private def parseSpec(spark: SparkSession, jobId: String, js: String): Spec = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("name", StringType),
      StructField("instance_id", StringType),
      StructField("record_ids", ArrayType(StringType)),
      StructField("collapse", StringType),
      StructField("layout", StructType(Seq(
        StructField("name", StringType),
        StructField("grid_flags", ArrayType(StringType)),
        StructField("grid_parameters", MapType(StringType, StringType)),
        StructField("block_x", IntegerType),
        StructField("block_y", IntegerType),
        StructField("max_records", IntegerType),
        StructField("overviews_min_size", IntegerType),
        StructField("interlacing", StringType)))),
      StructField("params", StructType(Seq(
        StructField("dtype", StringType),
        StructField("no_data", StringType),
        StructField("min", StringType),
        StructField("max", StringType),
        StructField("real_min", StringType),
        StructField("real_max", StringType),
        StructField("exponent", StringType),
        StructField("resampling", StringType),
        StructField("storage_class", StringType))))))
    import spark.implicits._
    val r = spark.read.schema(schema).json(Seq(js).toDS()).collect().head
    val lr = r.getAs[Row]("layout")
    val pr = r.getAs[Row]("params")
    import graft.core.{DataFormat, DataMapping, DType, NumRange}
    Spec(
      jobId = jobId,
      name = r.getAs[String]("name"),
      instanceId = r.getAs[String]("instance_id"),
      recordIds = r.getAs[scala.collection.Seq[String]]("record_ids").toSeq,
      layout = graft.layout.Layout(
        lr.getAs[String]("name"),
        lr.getAs[scala.collection.Seq[String]]("grid_flags").toSeq,
        Option(lr.getAs[scala.collection.Map[String, String]]("grid_parameters"))
          .map(_.toMap).getOrElse(Map.empty),
        lr.getAs[Int]("block_x"), lr.getAs[Int]("block_y"),
        lr.getAs[Int]("max_records"), lr.getAs[Int]("overviews_min_size"),
        lr.getAs[String]("interlacing")),
      params = ConsolidationParams(
        DataMapping(
          DataFormat(DType.fromName(pr.getAs[String]("dtype")),
            parseNum(pr.getAs[String]("no_data")),
            NumRange(parseNum(pr.getAs[String]("min")),
              parseNum(pr.getAs[String]("max")))),
          NumRange(parseNum(pr.getAs[String]("real_min")),
            parseNum(pr.getAs[String]("real_max"))),
          parseNum(pr.getAs[String]("exponent"))),
        graft.raster.Resampling.fromName(pr.getAs[String]("resampling")),
        pr.getAs[String]("storage_class")),
      collapseOnRecordId = Option(r.getAs[String]("collapse")))
  }
}
