package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.col

/** Parquet-backed catalog root: one directory per table under `root`.
  *
  * The reference keeps the catalog in PostGIS; ours is columnar files so
  * every catalog query is a Catalyst plan over parquet with pushdown +
  * bbox pruning. At production scale the `datasets` table is the only big
  * metadata one (SURVEY §7.4 risk 7) — written partitioned by
  * `instance_id` so instance filters become partition pruning; everything
  * else is broadcast-sized. The `tiles` pixel store is the single
  * 100-TB-class table and gets both a derived hash-bucket layout (reads
  * prune to a request's buckets) and a bucket-scoped delete
  * ([[deleteWhere]] — a GC pass rewrites only the buckets it touches).
  *
  * All filesystem mutation goes through the Hadoop [[FileSystem]] API,
  * resolved from the root's scheme: plain and `file:` roots use the local
  * FS, `hdfs:` roots get HDFS's atomic rename, and a scheme with no
  * registered connector (e.g. `gs:` without the GCS connector on the
  * classpath) fails LOUDLY at first touch instead of silently no-op'ing
  * renames the way `java.io.File` on a URI string would. On stores whose
  * rename is a copy (S3A), use [[CommitLogTableStore]] instead — the
  * same [[TableStore]] contract (pinned by TableStoreContractSpec) and
  * the same physical file layout ([[TableLayout]]), published through an
  * exclusive-create commit log rather than directory renames;
  * [[TableStore.at]] picks the right implementation from the root's
  * scheme (reference: the PostGIS transaction in pg_containers.go plus
  * interface/storage/gcs/strategy.go for the object side).
  *
  * Concurrency contract (r12): every mutation stages under a root named
  * by its own op id, so N writers can mutate one table concurrently —
  * appends compose with appends and with partition ops; partition ops on
  * DISJOINT partitions compose exactly; ops on the SAME partition
  * SERIALIZE behind advisory per-partition write leases
  * ([[withPartitionLeases]] — the Postgres-row-lock substitute), so a
  * racing append/update pair yields the serial outcome instead of a lost
  * update. Readers take no leases on the read path itself; a reader that
  * finds a COMMITTED-but-unfinished staging root acts as a healer and
  * takes that op's leases briefly (bounded ~250 ms), skipping the heal
  * when the op's live writer holds them ([[rollForward]] — one applier
  * per op at a time). CatalogConcurrencySpec hammers all of it.
  * Full-table [[rewrite]] remains an exclusive admin/migration
  * operation.
  *
  * Writes that must be atomic (the consolidation status swap, C6) go
  * through [[Catalog.rewrite]]: write-new-then-rename, the filesystem
  * stand-in for a Delta MERGE transaction.
  *
  * Reader contract: NOT snapshot isolation. A query racing a concurrent
  * swap can fail transiently in two shapes — Spark's stale-file error
  * (`FAILED_READ_FILE`, the listing predated the swap) or a
  * `FileNotFoundException` during partition discovery (a directory seen
  * at the top level vanished before the leaf listing reached it) — retry
  * the read in both cases (the same guidance Spark's error text gives).
  * The swap protocol guarantees the stronger properties that matter:
  * readers can never corrupt the store or destroy in-flight staging,
  * committed swaps always complete, and no state is silently lost
  * (CatalogPartitionOpsSpec pins this under a concurrent hammer).
  */
final case class Catalog(root: String) extends TableStore {
  private def path(table: String) = s"$root/$table"

  /** The root's filesystem. Unknown schemes throw here (loud guard):
    * "No FileSystem for scheme" — never a silent no-op rename. */
  private def fs(spark: SparkSession): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def read(spark: SparkSession, table: String): DataFrame = {
    val f = fs(spark)
    healSwap(f, spark, table)
    val schema = TableLayout.readSchema(table)
    if (f.exists(new Path(path(table)))) {
      migrateLegacyLayout(spark, table)
      // normalize to the logical column order: Spark appends partition
      // columns after the data columns, so a partitioned table would
      // otherwise change its positional layout (readers select by name,
      // but Row-positional consumers and encoders must see one order)
      spark.read.schema(schema).parquet(path(table))
        .select(schema.fieldNames.toIndexedSeq.map(col): _*)
    } else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Which tables are partitioned and by what: shared layout knowledge,
    * extracted to [[TableLayout]] (the commit-log store lays files out
    * identically). `datasets` by instance (instance filters prune),
    * `jobs` by type (the streaming journal probes `type = TASKEVENT`
    * once per micro-batch), `tasks` by job (every FSM read/rewrite is
    * job-scoped — a big consolidation holds 10⁵ task rows per job and
    * must not pay, or race, other jobs' I/O), `tiles` by the derived
    * CRC-32 bucket of the container URI (serving-path joins become
    * dynamic partition pruning instead of a full payload scan).
    *
    * Layout-version note: a table directory written BEFORE its
    * partitioning (flat part files with the key still a data column)
    * cannot be mixed with `col=` subdirectories — Spark refuses mixed
    * leaf depths ("Conflicting directory structures detected"). Every
    * read/append of a partitioned table therefore runs
    * [[migrateLegacyLayout]] first: a one-time atomic rewrite of any
    * flat legacy files into the partitioned form (memoized per JVM so
    * the steady-state cost is one set lookup). */
  private def partitionColumn(table: String): Option[String] =
    TableLayout.partitionColumn(table)

  private def derivedPartition(table: String): Option[TableLayout.Derived] =
    TableLayout.derivedPartition(table)

  /** Upgrade a pre-partitioning table directory in place: flat
    * `part-*.parquet` files (the partition key still a data column) are
    * read with the full schema, unioned with any already-partitioned
    * subdirectories (a half-migrated or mixed dir), and rewritten through
    * the atomic [[rewrite]] swap. No-op when the layout is already clean. */
  private def migrateLegacyLayout(spark: SparkSession, table: String): Unit =
    partitionColumn(table).foreach { _ =>
      val key = path(table)
      if (!Catalog.migrationChecked.contains(key)) {
        val f = fs(spark)
        val dir = new Path(path(table))
        val files =
          if (f.exists(dir)) f.listStatus(dir).toIndexedSeq
          else IndexedSeq.empty
        val flat = files.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        if (flat.nonEmpty) {
          val schema = Schemas.all(table)
          val legacy = spark.read.schema(schema)
            .parquet(flat.map(_.getPath.toString): _*)
          val parts = files.filter(s => s.isDirectory && s.getPath.getName.contains("="))
          // project both legs onto the LOGICAL schema: a derived partition
          // column (tiles' bucket) exists only on the partitioned leg and
          // is recomputed by the rewrite below anyway
          val logical = schema.fieldNames.toIndexedSeq.map(col)
          val whole =
            if (parts.isEmpty) legacy
            else legacy.select(logical: _*).unionByName(spark.read
              .option("basePath", dir.toString).schema(schema)
              .parquet(parts.map(_.getPath.toString): _*)
              .select(logical: _*))
          rewrite(whole, table)
        }
        Catalog.migrationChecked.add(key): Unit
      }
    }

  /** Recompute any derived partition column from its source data column —
    * authoritative at every write, so callers never supply (or can never
    * corrupt) the bucket. Idempotent on frames that already carry it.
    *
    * Derived-bucket writes also repartition before the partitioned write,
    * for the standard reason: an unrepartitioned partitionBy append from
    * a 1000-task consolidation batch would spray up to 64k tiny files
    * into the 100-TB store per batch — the small-file death spiral. But
    * keying on the bucket ALONE caps write parallelism at ≤64 tasks
    * (really ~40: hash collisions leave ~1/e of the 64 partitions empty),
    * which serializes a multi-TB append through a handful of writers. So
    * the shuffle key is (bucket, salt) with [[Catalog.filesPerBucket]]
    * salts sized from the batch's estimated bytes (targeting ~1 GiB
    * files): a small append keeps the ≤1-file-per-bucket property, a huge
    * one fans out to up to 64×64 writers while the per-append file count
    * stays bounded at buckets × salts (each task still writes ≤1 file per
    * bucket dir). */
  private def withDerived(df: DataFrame, table: String): DataFrame =
    TableLayout.withDerived(df, table)

  /** Staged atomic append: the batch is written to a private per-op
    * staging root (`<table>.bappend.<opId>`), COMMITTED by a marker
    * listing every data file, then the files are MOVED into the live
    * partition directories one rename each (part-file names embed
    * Spark's per-job UUID, so moves from concurrent appends can never
    * collide). Two properties a direct `SaveMode.Append` cannot give:
    *
    *  - **concurrent-writer safety** — Spark's file commit protocol
    *    stages every job under the SAME `<dest>/_temporary/0` dir, so two
    *    simultaneous appends to one table destroy each other's task
    *    output at job cleanup (the reference's N apiservers journal into
    *    one `jobs` table concurrently; pg.go gets this from Postgres).
    *    Per-op roots make appends to a table freely concurrent.
    *  - **torn-batch healing** — a crash mid-move leaves a committed
    *    marker; the next read/write rolls the remaining moves forward
    *    ([[healSwap]]) instead of leaving a silently partial batch.
    *
    * The move step is one driver-side rename per file — metadata-only on
    * HDFS-class stores, and the salted write keeps the file count
    * bounded (buckets × salts) at any batch size. The move phase holds
    * the touched partitions' write leases ([[withPartitionLeases]]), so
    * an append racing a same-partition [[updatePartitions]] /
    * [[deleteWhere]] lands wholly before the swap's staging read or
    * wholly after its promotion — the serial outcome, never a batch
    * parked into pre-image debris. */
  def append(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    val f = fs(spark)
    healSwap(f, spark, table)
    reclaimStaleRoots(f, spark, table)
    migrateLegacyLayout(spark, table)
    val dest = new Path(path(table))
    val stage = new Path(path(table) + ".bappend." + Catalog.newOpId())
    val writer = withDerived(df, table).write.mode(SaveMode.Overwrite)
    partitionColumn(table).fold(writer)(writer.partitionBy(_))
      .parquet(stage.toString)
    val files = listDataFiles(f, stage)
    if (files.isEmpty) { f.delete(stage, true); return }
    // lease the partition dirs this batch lands in for the (fast) move
    // phase: without them, files moved between a same-partition swap's
    // staging read and its promotion would be parked into debris and
    // silently lost — with them, the batch lands wholly before or wholly
    // after the swap. Unpartitioned tables skip this (no partition ops
    // exist to race; concurrent appends never collide on file names).
    val partDirs = files.flatMap(_.split('/').dropRight(1).headOption).distinct
    withPartitionLeases(f, spark, table, partDirs, stage.getName) {
      writeMarker(f, stage, files.map("A " + _))
      if (!f.exists(dest)) f.mkdirs(dest)
      val marker = new Path(stage, Catalog.CommitMarker)
      applyConcurrently(files)(rel =>
        applyAppendMove(f, dest, stage, rel, () => f.exists(marker)))
      f.delete(stage, true): Unit
    }
  }

  /** Data files under a staging root, relative to it — [[TableLayout]]. */
  private def listDataFiles(f: FileSystem, root: Path): Seq[String] =
    TableLayout.listDataFiles(f, root)

  /** Atomic full-table replace: write to a temp dir, swap directories.
    * Readers opened before the swap keep their snapshot (file handles);
    * new reads see the new version — the single-writer ACID contract the
    * consolidation FSM needs (csldSwapDatasets, consolidater.go:644-667). */
  def rewrite(df: DataFrame, table: String): Unit = {
    val f = fs(df.sparkSession)
    healSwap(f, df.sparkSession, table)
    reclaimStaleRoots(f, df.sparkSession, table)
    val dest = new Path(path(table))
    // per-op tmp: two concurrent rewriters can no longer delete or write
    // into each other's in-flight staging (the swap itself stays
    // last-writer-wins — full-table rewrites of one table are an
    // exclusive admin/migration operation by contract)
    val tmp = new Path(path(table) + ".swap." + Catalog.newOpId())
    val old = new Path(path(table) + ".old")
    val writer = withDerived(df, table).write.mode(SaveMode.Overwrite)
    partitionColumn(table).fold(writer)(writer.partitionBy(_))
      .parquet(tmp.toString)
    promoteTable(f, tmp, dest, old)
  }

  /** The full-table swap's promote step, isolated so its interloper
    * recovery is directly testable (`beforePromote` is a test seam
    * injecting the racing state between the two renames). */
  private[catalog] def promoteTable(f: FileSystem, tmp: Path, dest: Path,
      old: Path, beforePromote: () => Unit = () => ()): Unit = {
    if (f.exists(old)) f.delete(old, true)
    if (f.exists(dest) && !f.rename(dest, old))
      throw new java.io.IOException(s"swap: cannot stage $dest")
    beforePromote()
    // the occupied-dest guard must run BEFORE the rename: renaming onto
    // an existing directory does not fail — it SUCCEEDS by nesting the
    // source inside it (local FS and HDFS both), which would silently
    // corrupt the layout. A racing appender that re-created dest in the
    // beat between the two renames (its partition leases don't conflict
    // with this exclusive-by-contract op) loses its batch cleanly.
    var spin = 0
    var promoted = false
    while (!promoted) {
      if (f.exists(dest)) f.delete(dest, true): Unit
      promoted = tryRename(f, tmp, dest)
      if (!promoted) {
        spin += 1
        if (spin > 3) {
          // genuine promote failure: restore the pre-image, into an
          // empty slot only, for the same nesting reason
          if (!f.exists(dest)) tryRename(f, old, dest): Unit
          throw new java.io.IOException(s"swap: cannot promote $tmp")
        }
      }
    }
    f.delete(old, true): Unit
  }

  /** Bucket-scoped delete from the derived-partitioned pixel store: drop
    * every row whose `uriCol` appears in `uris`, rewriting ONLY the hash
    * buckets the delete set maps to and leaving every other bucket's
    * files untouched — byte-identical, never listed, never read. This is
    * the parquet stand-in for the reference's targeted row deletes
    * (DeleteDatasets / container GC, pg_containers.go:100-109; Delta
    * `DELETE` on a real lake): at 100 TB a kilobyte-scale GC pass costs
    * the affected ~|uris|/64 buckets' I/O, not a ~200 TB full rewrite.
    *
    * Steps: (1) checkpoint the delete set — its lineage may read the very
    * files the swap replaces, and it is consumed twice; (2) derive the
    * affected bucket set (≤64 ints, a driver-safe collect); (3) hand the
    * anti-join to [[rewritePartitionDirs]], whose commit-marker swap
    * stages survivors and replaces only those bucket directories. A
    * bucket whose rows are all deleted is removed outright; the operation
    * is idempotent — the FSM retry that re-runs it deletes nothing new. */
  def deleteWhere(spark: SparkSession, table: String, uris: DataFrame,
      uriCol: String): Unit = {
    val d = derivedPartition(table).getOrElse(throw new IllegalArgumentException(
      s"deleteWhere: table '$table' has no derived bucket partition"))
    // null uris can never match the anti-join but WOULD null the derived
    // bucket below (crc32(null) → null → getInt throws, failing the
    // whole GC pass) — drop them up front
    val del = uris.select(col(uriCol).as("__gc_uri"))
      .filter(col("__gc_uri").isNotNull).distinct()
      .localCheckpoint(true)
    try {
      val affected = del.select(d.derive(col("__gc_uri")).as("__b"))
        .distinct().collect().map(_.getInt(0)).sorted
      rewritePartitionDirs(spark, table, affected.map(_.toString),
        cur => cur.join(del, cur(d.srcCol) === del("__gc_uri"), "left_anti"))
    } finally graft.operators.OperatorCaches.releaseLocalCheckpoint(del)
  }

  /** Partition-scoped atomic update of a statically-partitioned table
    * (`datasets` by instance, `jobs` by type): read ONLY the named
    * partitions' directories, apply `transform` to their logical rows,
    * and atomically swap those directories — every other partition's
    * files are untouched, byte-identical, never listed. This is the
    * metadata-table sibling of [[deleteWhere]] and the parquet stand-in
    * for the reference's targeted SQL UPDATEs (ChangeDatasetsStatus /
    * DeleteDatasets, pg_containers.go:385-473): an FSM status flip for
    * one instance costs that instance's partition I/O, not a rewrite of
    * the whole catalog-scale datasets relation.
    *
    * `partValues` empty means ALL on-disk partitions (the unscoped form
    * — e.g. a pattern-only deletion job); `transform` must keep every
    * row in its partition (guarded: a staged directory outside the
    * target set fails the update before any swap) but may insert into an
    * absent one. Crash windows close through [[rewritePartitionDirs]]'s
    * commit-marker roll-forward. */
  def updatePartitions(spark: SparkSession, table: String,
      partValues: Seq[String], transform: DataFrame => DataFrame): Unit = {
    require(derivedPartition(table).isEmpty,
      s"updatePartitions: '$table' is derived-bucket-partitioned — use deleteWhere")
    val pc = partitionColumn(table).getOrElse(throw new IllegalArgumentException(
      s"updatePartitions: table '$table' is not partitioned"))
    val values =
      if (partValues.nonEmpty) partValues.distinct
      else { // unscoped: every on-disk partition, still via per-dir swaps
        val f = fs(spark)
        val dest = new Path(path(table))
        if (!f.exists(dest)) return
        f.listStatus(dest).toIndexedSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$pc="))
          .map(s => ExternalCatalogUtils
            .unescapePathName(s.getPath.getName.stripPrefix(s"$pc=")))
      }
    rewritePartitionDirs(spark, table, values, transform)
  }

  /** Shared core of [[deleteWhere]] / [[updatePartitions]]: stage the
    * transformed rows of the targeted partition directories under a
    * PRIVATE per-operation root (`<table>.bswap.<opId>`), COMMIT by
    * renaming a `_COMMIT` marker into that root (its lines record the
    * op id and each targeted directory — swap or pure delete), then swap
    * each directory in place. A partition whose rows all disappear is
    * removed; one the transform INSERTS rows into (a named-but-absent
    * partition — the task-outcome upsert shape) is created by its swap;
    * a transform that emits rows OUTSIDE the targeted partitions is
    * rejected before the commit (those rows would otherwise be silently
    * dropped).
    *
    * Crash/concurrency protocol: before the marker exists, the staging
    * root is invisible to [[healSwap]] — a concurrent reader can never
    * disturb (or be disturbed by) an in-flight staging job, whose window
    * is minutes-long at scale. From the marker on, the swap only ROLLS
    * FORWARD: writer and any concurrent healer drive the same idempotent
    * per-directory promotion ([[applySwap]]), so a crash at any rename
    * completes on the next read/write instead of restoring pre-images
    * (pre-images parked under `<table>.bold.<opId>` are debris, kept
    * only until cleanup).
    *
    * CONCURRENT WRITERS (r11 verdict #1 — the reference runs N
    * apiservers and autoscaled job workers against one Postgres, so
    * catalog mutation must not be single-writer): because every
    * operation stages, commits, and parks under roots named by its own
    * op id, two simultaneous mutations of one table can no longer
    * destroy each other's staging the way a shared `.bswap` root did
    * (writer B's pre-delete erased writer A's in-flight pass). Ops on
    * DISJOINT partitions compose exactly (each swaps only its own
    * directories — CatalogConcurrencySpec hammers this); ops touching
    * the SAME partition serialize behind that partition's write lease
    * ([[withPartitionLeases]], held across the whole read-modify-write),
    * so racing writers produce the serial outcome. A root that
    * never reaches its marker — a writer that died mid-staging — is
    * reclaimed by a later writer only after [[Catalog.StaleSwapReclaimMsConf]]
    * of inactivity, never by readers and never while fresh. */
  private def rewritePartitionDirs(spark: SparkSession, table: String,
      values: Seq[String], transform: DataFrame => DataFrame): Unit = {
    val pc = partitionColumn(table).get
    val f = fs(spark)
    healSwap(f, spark, table)
    reclaimStaleRoots(f, spark, table)
    migrateLegacyLayout(spark, table)
    val dest = new Path(path(table))
    if (values.isEmpty) return
    // a missing table dir is NOT a no-op: the transform may INSERT rows
    // (the task-outcome upsert on a job with no prior task rows)
    if (!f.exists(dest)) f.mkdirs(dest)
    // directory names use Spark's partition-value escaping (a job id
    // with ':' writes as job_id=a%3Ab) — building paths from the RAW
    // value would silently miss the partition and no-op the update
    val names =
      values.map(v => s"$pc=" + ExternalCatalogUtils.escapePathName(v)).distinct
    val opId = Catalog.newOpId()
    val swapRoot = new Path(path(table) + ".bswap." + opId)
    val oldRoot = new Path(path(table) + ".bold." + opId)
    // the leases span the WHOLE read-modify-write — the live listing,
    // the staging read's file index, the commit and every promotion —
    // so a same-partition competitor (appender or another update)
    // serializes before the listing or after the last rename, never
    // in between ([[withPartitionLeases]])
    withPartitionLeases(f, spark, table, names, opId) {
      try {
        val existing = names.map(n => new Path(dest, n)).filter(f.exists)
        // stage the transformed partitions; the write runs while the live
        // files still exist (renames come after), so lazy lineage is safe.
        // An all-absent target set still stages: the transform may insert.
        val cur =
          if (existing.nonEmpty)
            spark.read.option("basePath", dest.toString)
              .schema(TableLayout.readSchema(table))
              .parquet(existing.map(_.toString): _*)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], TableLayout.readSchema(table))
        val logical = Schemas.all(table).fieldNames.toIndexedSeq.map(col)
        val out = withDerived(transform(cur).select(logical: _*), table)
        out.write.mode(SaveMode.Overwrite).partitionBy(pc).parquet(swapRoot.toString)
        val stagedNames = f.listStatus(swapRoot).toIndexedSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$pc="))
          .map(_.getPath.getName).toSet
        val escapedOut = stagedNames.toSeq.filterNot(names.toSet)
        if (escapedOut.nonEmpty)
          throw new IllegalArgumentException(
            s"partition rewrite of '$table' moved rows outside the targeted " +
              s"partitions: ${escapedOut.mkString(", ")}")
        // ops per targeted dir: swap in staged content, or pure delete. A
        // name neither staged nor on disk is a no-op and is not recorded.
        val ops = names.flatMap { n =>
          if (stagedNames(n)) Some(s"S $n")
          else if (f.exists(new Path(dest, n))) Some(s"D $n")
          else None
        }
        if (ops.nonEmpty) {
          // COMMIT: marker written whole then renamed into place (atomic)
          // — from here the swap is committed and only rolls forward.
          // oldRoot is NOT pre-created: parks create it on demand
          // ([[freeParkSlot]]), and an upfront mkdirs races a concurrent
          // healer's terminal delete of it (local-FS mkdirs+chmod is not
          // atomic against a delete)
          writeMarker(f, swapRoot, ops)
          val marker = new Path(swapRoot, Catalog.CommitMarker)
          applyConcurrently(ops)(op =>
            applyOp(f, dest, swapRoot, oldRoot, op, () => f.exists(marker)))
        }
        f.delete(swapRoot, true): Unit
        f.delete(oldRoot, true): Unit
      } finally {
        // failure before the commit point: the op never happened — clear
        // this op's own staging rather than leave it for the stale TTL
        if (!f.exists(new Path(swapRoot, Catalog.CommitMarker)))
          f.delete(swapRoot, true): Unit
      }
    }
  }

  /** Run `body` holding advisory write leases on the named partition
    * directories of `table` — the engine's substitute for the
    * reference's Postgres row locks (pg.go unitOfWork `SELECT … FOR
    * UPDATE`): writers touching the SAME partition serialize instead of
    * last-writer-wins clobbering (the lost-update shape: an append whose
    * files land between a swap's staging read and its promotion would
    * vanish into parked debris). Writers touching disjoint partitions
    * share nothing and never wait.
    *
    * Two layers, both scoped per (root, table, partition dir):
    *  - an in-JVM striped lock (local-FS `create(overwrite=false)` is
    *    not atomic, so same-JVM threads — the common local deployment —
    *    serialize here);
    *  - a lease FILE under `<root>/_leases/<table>/`, created
    *    exclusively (atomic on HDFS-class stores), content = op id.
    *
    * Acquisition is in sorted order (no deadlocks) and bounded by
    * [[Catalog.LeaseTimeoutMsConf]]. Live holders HEARTBEAT: a scheduled
    * task touches every held lease file's mtime about five times per
    * [[Catalog.LeaseStaleMsConf]] for as long as `body` runs, so a lease
    * whose mtime is older than that bound can only belong to a DEAD
    * holder and is BROKEN — identity-checked (re-stat immediately before
    * the delete; a changed mtime means another breaker won and a new
    * writer re-created it, r12 advice) so a breaker can never destroy a
    * live successor's lease. The heartbeat is what lets the stale bound
    * be minutes instead of the hours-scale staging TTL: a crashed
    * writer's committed-but-unfinished op now heals within
    * ~[[Catalog.LeaseStaleMsConf]] (r12 advice — the torn-visibility
    * window of a crashed mid-move append is bounded by the same knob).
    * Committed work never waits on a dead holder's lease beyond that:
    * [[healSwap]] runs before acquisition, so a crashed writer's
    * marker-bearing roots are rolled forward first. Release deletes the
    * file only if it still carries this op's id (a broken and
    * re-acquired lease belongs to someone else). NOT reentrant: `body`
    * must not start another catalog mutation of the same partitions
    * (transforms are pure DataFrame functions by contract — a nested
    * mutation would self-block until the acquire timeout). */
  private def withPartitionLeases[T](f: FileSystem, spark: SparkSession,
      table: String, partDirs: Seq[String], opId: String,
      acquireTimeoutMs: Long = -1L)(body: => T): T = {
    val keys = partDirs.distinct.sorted
    if (keys.isEmpty) return body
    val ttl = Catalog.leaseStaleMs(spark)
    val timeoutMs =
      if (acquireTimeoutMs >= 0) acquireTimeoutMs
      else spark.conf.getOption(Catalog.LeaseTimeoutMsConf)
        .map(_.toLong).getOrElse(Catalog.DefaultLeaseTimeoutMs)
    val locks = keys.map(k => Catalog.jvmLocks
      .computeIfAbsent(s"$root|$table|$k", _ => new java.util.concurrent.locks.ReentrantLock))
    val leaseDir = new Path(s"$root/${Catalog.LeaseDirName}/$table")
    val held = scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.locks.ReentrantLock]
    val leased = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      locks.foreach { l =>
        if (!l.tryLock(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
          throw new Catalog.LeaseUnavailable(
            s"write lease: in-JVM lock timeout on $table (another writer holds a targeted partition)")
        held += l
      }
      f.mkdirs(leaseDir)
      keys.foreach { k =>
        val lp = new Path(leaseDir, k + ".lease")
        val deadline = System.currentTimeMillis() + timeoutMs
        var ok = false
        while (!ok) {
          try {
            val os = f.create(lp, false) // exclusive — atomic on HDFS
            try os.write(opId.getBytes("UTF-8")) finally os.close()
            leased += lp
            ok = true
          } catch {
            case _: java.io.IOException =>
              val st = try Some(f.getFileStatus(lp))
                catch { case _: java.io.FileNotFoundException => None }
              st match {
                case Some(s) if System.currentTimeMillis() - s.getModificationTime >= ttl =>
                  // dead holder — break it, identity-checked: between the
                  // stat above and this delete another breaker may have
                  // deleted the stale lease and a NEW writer re-created
                  // it fresh; re-stat and delete only while the observed
                  // stale mtime still stands (the new holder's create or
                  // first heartbeat moves it), narrowing the lost-update
                  // window to one FS beat
                  val still = try Some(f.getFileStatus(lp))
                    catch { case _: java.io.FileNotFoundException => None }
                  if (still.exists(_.getModificationTime == s.getModificationTime))
                    f.delete(lp, false): Unit
                case _ =>
                  if (System.currentTimeMillis() > deadline)
                    throw new Catalog.LeaseUnavailable(
                      s"write lease: timeout acquiring $lp after ${timeoutMs}ms")
                  Thread.sleep(50)
              }
          }
        }
      }
      // heartbeat for the whole body: live holders keep their lease
      // mtimes fresh so the break bound above can be minutes, not hours
      val paths = leased.toList
      val period = math.max(1000L, ttl / 5)
      val beat = Catalog.leaseHeartbeats.scheduleAtFixedRate(
        new Runnable {
          def run(): Unit = paths.foreach { lp =>
            try f.setTimes(lp, System.currentTimeMillis(), -1)
            catch { case _: java.io.IOException => } // released/broken: stop mattering
          }
        }, period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
      try body finally beat.cancel(false)
    } finally {
      leased.foreach { lp =>
        val mine = try {
          val in = f.open(lp)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString == opId
          finally in.close()
        } catch { case _: java.io.IOException => false }
        if (mine) f.delete(lp, false): Unit
      }
      held.foreach(_.unlock())
    }
  }

  /** Write the commit marker atomically: whole content to a tmp name,
    * then one rename. First line records the op id (diagnostics), the
    * rest one op per line. */
  private def writeMarker(f: FileSystem, stagingRoot: Path,
      ops: Seq[String]): Unit = {
    val markerTmp = new Path(stagingRoot, Catalog.CommitMarker + ".tmp")
    val os = f.create(markerTmp, true)
    try os.write((s"ID ${stagingRoot.getName}\n" + ops.mkString("\n") + "\n")
      .getBytes("UTF-8"))
    finally os.close()
    if (!f.rename(markerTmp, new Path(stagingRoot, Catalog.CommitMarker)))
      throw new java.io.IOException(s"partition swap: cannot commit $stagingRoot")
  }

  /** One committed op, idempotent and shared by the writer and
    * [[healSwap]]'s roll-forward: `"S <dir>"` promotes a staged
    * directory, `"D <dir>"` deletes a live directory, `"A <file>"` moves
    * a staged append file into place. Concurrent executions race only on
    * atomic renames; every loser re-checks for the completed state.
    * `markerAlive` re-probes this op's own commit marker and is
    * consulted immediately before every destructive or ambiguous step: a
    * STALE healer — one that loaded the marker, stalled past the op's
    * completion, and woke after a LATER op touched the same partitions —
    * observes its marker gone and abandons the replay instead of
    * deleting a re-created partition or failing loudly on a state the
    * later op owns (r11 advice). */
  private def applyOp(f: FileSystem, dest: Path, stagingRoot: Path,
      oldRoot: Path, op: String, markerAlive: () => Boolean): Unit = {
    val (kind, name) = (op.take(1), op.drop(2))
    kind match {
      case "S" => applySwap(f, dest, stagingRoot, oldRoot, name, markerAlive)
      case "A" => applyAppendMove(f, dest, stagingRoot, name, markerAlive)
      case _ =>
        val live = new Path(dest, name)
        // marker re-verified between the probe and the delete: shrinks a
        // stale replay's resurrection window to one FS beat and makes
        // the common stale case (marker long gone) a guaranteed no-op
        if (f.exists(live) && markerAlive()) f.delete(live, true): Unit
    }
  }

  /** Promote one staged partition directory over its live counterpart.
    * Pre-images are parked under `oldRoot` in a FREE slot only
    * (`<name>`, then `<name>.p1`, `.p2`, …): a rename onto an EXISTING
    * directory nests the source inside it on both the local FS and HDFS,
    * so the r11 protocol's unconditional park could merge the NEW live
    * content under a stale pre-image when a healer raced the writer past
    * its exists-probe — the double-park is now structurally impossible,
    * and each loop iteration re-reads the world before acting. */
  private def applySwap(f: FileSystem, dest: Path, stagingRoot: Path,
      oldRoot: Path, name: String, markerAlive: () => Boolean): Unit = {
    val staged = new Path(stagingRoot, name)
    val live = new Path(dest, name)
    var spin = 0
    while (true) {
      if (!f.exists(staged)) {
        // promoted by the writer or a concurrent healer…
        if (f.exists(live)) return
        // …or promoted and then parked away by a racer mid-beat: restore
        // the NEWEST parked image (unique slots — never a merged dir)
        val parked = parkedSlots(f, oldRoot, name)
        if (parked.nonEmpty && tryRename(f, parked.last, live)) return
        if (f.exists(live)) return
        if (!markerAlive()) return // op completed and cleaned up elsewhere
        spin += 1
        if (spin > 500)
          throw new java.io.IOException(s"partition swap: lost $name")
        Thread.sleep(10)
      } else {
        if (f.exists(live)) {
          // park the pre-image; a failed rename means a racer moved the
          // live dir first — the loop re-checks rather than assumes
          tryRename(f, live, freeParkSlot(f, oldRoot, name)): Unit
        }
        if (!f.exists(live) && tryRename(f, staged, live)) return
        spin += 1
        if (spin > 500)
          throw new java.io.IOException(s"partition swap: cannot promote $staged")
        Thread.sleep(10)
      }
    }
  }

  /** All parked pre-image slots for `name`, oldest→newest. */
  private def parkedSlots(f: FileSystem, oldRoot: Path, name: String): Seq[Path] = {
    val base = new Path(oldRoot, name)
    val extra = Option(f.globStatus(new Path(oldRoot, name + ".p*")))
      .getOrElse(Array.empty).toIndexedSeq.map(_.getPath)
      .sortBy(p => p.getName.stripPrefix(name + ".p").toIntOption.getOrElse(0))
    (if (f.exists(base)) Seq(base) else Seq.empty) ++ extra
  }

  /** Run independent per-path filesystem ops concurrently: a multi-TB
    * salted append stages up to buckets×salts (4096) files and an
    * unscoped metadata purge can touch 10⁵ partition dirs — at ~ms per
    * metadata call on HDFS-class stores a sequential driver loop turns
    * into minutes, while the calls are embarrassingly parallel (every op
    * touches its own path; the shared park root is created via the
    * delete-tolerant [[quietMkdirs]]). Failures propagate unwrapped. */
  private def applyConcurrently[A](items: Seq[A])(fn: A => Unit): Unit =
    Catalog.applyConcurrently(items)(fn)

  /** rename whose failure is a VALUE on every FS: the local FS throws
    * FileNotFoundException when the source vanished (a racer moved it
    * mid-beat) where HDFS returns false — the race-tolerant loops here
    * treat both as "not renamed, re-read the world". */
  private def tryRename(f: FileSystem, src: Path, dst: Path): Boolean =
    try f.rename(src, dst) catch { case _: java.io.IOException => false }

  /** mkdirs tolerant of a concurrent delete of the same path (local-FS
    * mkdirs chmods the dir it just made — a racer's delete in between
    * surfaces as a shell ExitCodeException, not a clean false). Callers
    * retry or re-check the world; they never need the dir to have
    * survived. */
  private def quietMkdirs(f: FileSystem, p: Path): Unit =
    try f.mkdirs(p): Unit catch { case _: java.io.IOException => }

  /** First unoccupied park slot for `name` under `oldRoot`. */
  private def freeParkSlot(f: FileSystem, oldRoot: Path, name: String): Path = {
    quietMkdirs(f, oldRoot)
    val base = new Path(oldRoot, name)
    if (!f.exists(base)) base
    else Iterator.from(1).map(i => new Path(oldRoot, s"$name.p$i"))
      .find(p => !f.exists(p)).get
  }

  /** Move one staged append file into its live partition directory —
    * idempotent (a vanished source means the move already happened) and
    * collision-free (part-file names embed the writing job's UUID). The
    * parent may vanish between mkdirs and rename when a concurrent swap
    * parks the partition dir — bounded retry, then defer to the marker. */
  private def applyAppendMove(f: FileSystem, dest: Path, stagingRoot: Path,
      rel: String, markerAlive: () => Boolean): Unit = {
    val src = new Path(stagingRoot, rel)
    val dst = new Path(dest, rel)
    var spin = 0
    while (f.exists(src)) {
      val parent = dst.getParent
      if (!f.exists(parent)) quietMkdirs(f, parent)
      if (tryRename(f, src, dst)) return
      if (!markerAlive()) return
      spin += 1
      if (spin > 500)
        throw new java.io.IOException(s"append: cannot place $dst")
      Thread.sleep(10)
    }
  }

  /** Reclaim staging debris that can ONLY belong to a dead writer: roots
    * that never reached their commit marker (`.bswap.*` / `.bappend.*`
    * without `_COMMIT`, plus full-rewrite `.swap.*` tmps and the
    * pre-r12 legacy `.bswap`) whose directory has been quiet for
    * [[Catalog.StaleSwapReclaimMsConf]]. Writer-only and age-gated on
    * purpose: a FRESH unmarked root is some live writer's minutes-long
    * staging pass, and readers never reclaim anything — the two rules
    * that keep N concurrent writers from eating each other's staging. */
  private def reclaimStaleRoots(f: FileSystem, spark: SparkSession,
      table: String): Unit = {
    val ttl = Catalog.staleReclaimMs(spark)
    val now = System.currentTimeMillis()
    // the TTL is hours — rescanning on every mutation buys nothing, so
    // one scan per table per minute per JVM (skipped when the TTL is
    // test-shortened below the rescan interval)
    if (ttl > Catalog.ReclaimRescanMs) {
      val key = path(table)
      val last = Catalog.reclaimLastScan.get(key)
      if (last != null && now - last < Catalog.ReclaimRescanMs) return
      Catalog.reclaimLastScan.put(key, now): Unit
    }
    val candidates =
      Seq(".bswap.*", ".bappend.*", ".swap.*").flatMap { g =>
        Option(f.globStatus(new Path(path(table) + g)))
          .getOrElse(Array.empty).toIndexedSeq
      } ++
        Seq(".bswap", ".swap").map(s => new Path(path(table) + s))
          .filter(f.exists).map(f.getFileStatus)
    candidates.foreach { s =>
      val marked = f.exists(new Path(s.getPath, Catalog.CommitMarker))
      if (!marked && now - s.getModificationTime >= ttl)
        f.delete(s.getPath, true): Unit
    }
  }

  /** Repair a [[rewrite]] swap cut short by a crash. The swap's commit
    * point is the tmp→dest rename: a MISSING table dir with a staged
    * `.old` beside it means the swap never committed — the pre-image is
    * authoritative and is restored (the `.swap` payload is recomputed by
    * whoever retries). With the dir present, a leftover `.old` is
    * already-committed garbage and is reclaimed. Without this, the
    * missing-dir branch of [[read]] would serve an EMPTY table for the
    * whole window — a silently wrong catalog (GC would collect
    * everything, FSM resumes would re-derive nonsense).
    *
    * Partition-scoped swaps ([[rewritePartitionDirs]]) heal by their
    * commit marker: a staging root WITHOUT `_COMMIT` is an in-flight or
    * crashed staging job and is left strictly alone — a reader touching
    * it could destroy a live writer's minutes-long staging pass (the
    * next write on the table reclaims it); one WITH the marker is a
    * committed swap cut short mid-loop, and the heal ROLLS IT FORWARD by
    * replaying the marker's idempotent ops. Pre-image debris under
    * `.bold` outlives its marker only between the two cleanup deletes —
    * reclaimed here. */
  private def healSwap(f: FileSystem, spark: SparkSession, table: String): Unit = {
    val dest = new Path(path(table))
    val old = new Path(path(table) + ".old")
    if (!f.exists(dest)) {
      // two healers can race this restore — the loser's rename fails (or
      // throws on the local FS); only an UNrestored table is an error
      if (f.exists(old) && !tryRename(f, old, dest) && !f.exists(dest))
        throw new java.io.IOException(s"swap heal: cannot restore $dest")
    } else if (f.exists(old)) f.delete(old, true)
    // partition-swap / staged-append heal: one listing finds every
    // sibling staging root of this table (`<t>.bswap.<op>`,
    // `<t>.bappend.<op>`, their `.bold.<op>` park roots, and the pre-r12
    // legacy shared names). Committed roots roll forward; unmarked ones
    // are some writer's in-flight staging and are left strictly alone
    // (reclaimed age-gated by writers, [[reclaimStaleRoots]]).
    val tableName = dest.getName
    val roots = Option(f.globStatus(new Path(path(table) + ".b*")))
      .getOrElse(Array.empty).toIndexedSeq.map(_.getPath)
    if (roots.isEmpty) return
    val parent = dest.getParent
    val staging = roots.filter { p =>
      val n = p.getName
      n.startsWith(s"$tableName.bswap") || n.startsWith(s"$tableName.bappend")
    }
    staging.foreach { stagingRoot =>
      val boldName = stagingRoot.getName
        .replaceFirst("\\.(bswap|bappend)", ".bold")
      rollForward(f, spark, table, dest, stagingRoot, new Path(parent, boldName))
    }
    // orphan park roots whose staging root is gone: the swap completed
    // and cleanup was cut short — parked pre-images are debris
    roots.filter(_.getName.startsWith(s"$tableName.bold")).foreach { bold =>
      val swapName = bold.getName.replaceFirst("\\.bold", ".bswap")
      if (!f.exists(new Path(parent, swapName))) f.delete(bold, true): Unit
    }
  }

  /** Roll one staging root forward iff its commit marker exists. The
    * marker can vanish between the exists probe and the open (the
    * writer's cleanup deleting the root) — that IS the completed state,
    * not an error. Marker lines: an `ID` header (diagnostics) then one
    * op per line ([[applyOp]]).
    *
    * ONE APPLIER AT A TIME: the heal takes the op's own partition leases
    * (the same keys its writer holds across apply AND cleanup) before
    * touching anything, with a short acquisition bound. A healer that
    * cannot get them skips the root — its owner is ALIVE and finishes
    * the op itself. Without this, a lagging healer whose staged-exists
    * probe predated the writer's promotion could park the NEWLY
    * PROMOTED live directory into the op's pre-image root, which the
    * writer's cleanup then deletes — the partition's rows silently lost
    * (caught by the reader-vs-delete hammer under parallel-suite load).
    * Concurrent-with-writer healing bought nothing anyway: every op is
    * idempotent and its writer completes it. The cost is that a CRASHED
    * writer's committed root waits for its leases to go stale (mtime ≥
    * [[Catalog.LeaseStaleMsConf]] — MINUTES, because live holders
    * heartbeat; r12 advice closed the old 6 h wait) before a heal
    * completes it — reads stay correct meanwhile (each partition is
    * atomically old or new), the same bound same-partition writers
    * already inherit from the lease layer. */
  private def rollForward(f: FileSystem, spark: SparkSession, table: String,
      dest: Path, stagingRoot: Path, oldRoot: Path): Unit = {
    val marker = new Path(stagingRoot, Catalog.CommitMarker)
    val ops =
      if (!f.exists(marker)) None
      else try {
        val in = f.open(marker)
        Some(try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).filterNot(_.startsWith("ID ")).toVector
        finally in.close())
      } catch { case _: java.io.FileNotFoundException => None }
    ops.foreach { lines =>
      // lease keys: S/D lines name partition dirs; A lines are staged
      // file paths whose first segment is the partition dir (none for an
      // unpartitioned table's flat files — those appends hold no leases
      // and their moves are idempotent + park-free)
      val dirs = lines.flatMap { l =>
        val n = l.drop(2)
        if (l.startsWith("A ")) n.split('/').dropRight(1).headOption else Some(n)
      }.distinct
      try withPartitionLeases(f, spark, table, dirs,
        "heal-" + stagingRoot.getName, acquireTimeoutMs = 250L) {
        if (f.exists(marker)) { // re-check under the lease: owner may have finished
          applyConcurrently(lines)(op =>
            applyOp(f, dest, stagingRoot, oldRoot, op, () => f.exists(marker)))
          f.delete(stagingRoot, true): Unit
          f.delete(oldRoot, true): Unit
        }
      } catch {
        case _: Catalog.LeaseUnavailable => // live owner — it finishes the op
      }
    }
  }
}

object Catalog {
  /** Table paths whose on-disk layout has been checked (and migrated if
    * legacy) this JVM — keeps [[Catalog.migrateLegacyLayout]] to one set
    * lookup on the hot read/append paths. */
  private val migrationChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The tiles store's derived partition column (bucket of the container
    * URI) and its bucket count. 64 buckets keeps directories manageable
    * while cutting a request-scoped payload scan ~64× via dynamic
    * partition pruning; at 100 TB that is ~1.5 TB of parquet per bucket —
    * row-group stats on `container_uri` prune further within a bucket. */
  val TilesBucketCol = "__bucket"
  val TilesBuckets = 64

  /** Target parquet file size for derived-bucket writes — the salt count
    * of a batch is sized so each writer task emits ~this many bytes. */
  private val TargetFileBytes = 1L << 30

  /** Conf key overriding the per-append salt count (mainly for tests and
    * for operators that know their batch size better than plan stats). */
  val FilesPerBucketConf = "graft.tiles.filesPerBucket"

  /** The partition-swap commit marker: a staging root holding this file
    * is a COMMITTED swap (heal rolls it forward); without it the staging
    * is in-flight/abandoned and heal leaves it strictly alone. */
  private[catalog] val CommitMarker = "_COMMIT"

  /** Conf key: milliseconds of inactivity after which a writer reclaims
    * an UNMARKED staging root (a writer that died before committing).
    * Must exceed the longest plausible staging pass — a root being
    * actively written updates its mtime as Spark creates/commits its
    * output structure. Readers never reclaim. Default 6 h. */
  val StaleSwapReclaimMsConf = "graft.catalog.staleSwapReclaimMs"
  private[catalog] val DefaultStaleSwapReclaimMs = 6L * 3600 * 1000

  /** The effective stale-staging TTL — shared by the catalog's unmarked
    * staging roots and the consolidation worker's `.c4scratch` dirs (one
    * knob for "how long can a writer be silent before its debris is
    * someone else's to reclaim"). */
  private[graft] def staleReclaimMs(spark: SparkSession): Long =
    spark.conf.getOption(StaleSwapReclaimMsConf).map(_.toLong)
      .getOrElse(DefaultStaleSwapReclaimMs)

  /** Directory under the catalog root holding per-partition write-lease
    * files (`_leases/<table>/<partitionDir>.lease`). */
  private[catalog] val LeaseDirName = "_leases"

  /** Conf key: how long a writer waits for a contended partition lease
    * before failing loudly. Same-partition contention is rare by design
    * (FSMs own their partitions); the default absorbs a competing
    * minutes-long staging pass. */
  val LeaseTimeoutMsConf = "graft.catalog.leaseTimeoutMs"
  private[catalog] val DefaultLeaseTimeoutMs = 3600L * 1000

  /** Conf key: mtime age past which a partition write lease is judged
    * DEAD and broken by a contending writer or the lease-gated heal.
    * Live holders heartbeat their lease files (~5 touches per this
    * bound), so the default can be minutes — it bounds how long a
    * crashed writer's committed-but-unfinished op stays unhealed, and
    * with it the torn-visibility window of a crashed mid-move append
    * (r12 advice; previously both rode the 6 h staging TTL). Defaults to
    * min(5 min, [[StaleSwapReclaimMsConf]]) so deployments and tests
    * that shorten the staging TTL keep their lease-break behavior.
    *
    * The effective value is FLOORED at [[LeaseStaleFloorMs]] — three
    * heartbeat-floor periods. Without the floor, a deployment that
    * shortens [[StaleSwapReclaimMsConf]] below a few seconds (the
    * aggressive-cleanup move the r13 retention split encourages) would
    * silently drop the break bound under the heartbeat period
    * (max(1 s, ttl/5)), letting a contender break a LIVE holder's lease
    * between beats — two writers then mutate the same partition (r14
    * advice). */
  val LeaseStaleMsConf = "graft.catalog.leaseStaleMs"
  private[catalog] val DefaultLeaseStaleMs = 5L * 60 * 1000
  private[catalog] val LeaseStaleFloorMs = 3000L
  private[catalog] def leaseStaleMs(spark: SparkSession): Long =
    math.max(LeaseStaleFloorMs,
      spark.conf.getOption(LeaseStaleMsConf).map(_.toLong)
        .getOrElse(math.min(DefaultLeaseStaleMs, staleReclaimMs(spark))))

  /** One shared scheduler drives every held lease's heartbeat touches —
    * a writer holds leases for at most one op at a time and a touch is
    * one cheap setTimes, so a single daemon thread serves the JVM. */
  private[catalog] val leaseHeartbeats = {
    val t = java.util.concurrent.Executors.newScheduledThreadPool(1,
      (r: Runnable) => {
        val th = new Thread(r, "graft-lease-heartbeat")
        th.setDaemon(true); th
      })
    t.asInstanceOf[java.util.concurrent.ScheduledThreadPoolExecutor]
      .setRemoveOnCancelPolicy(true)
    t
  }

  /** In-JVM stripe for write leases, keyed (root, table, partition). */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  /** Per-table floor between stale-root scans (see reclaimStaleRoots). */
  private val ReclaimRescanMs = 60L * 1000
  private val reclaimLastScan =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Unique id naming one mutation's staging/park roots — the property
    * that makes N concurrent writers unable to touch each other's
    * staging. 48 random bits: a collision needs two simultaneous ops on
    * one table drawing the same id (~2⁻⁴⁸ per pair). */
  private[catalog] def newOpId(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  /** A partition write lease could not be acquired within the caller's
    * bound — someone else owns the targeted partitions. Writers let this
    * propagate (their acquisition bound is the configured lease
    * timeout); the lease-gated heal treats it as "live owner present,
    * skip". */
  private[catalog] final class LeaseUnavailable(msg: String)
    extends java.io.IOException(msg)

  /** The shared 16-thread daemon pool behind [[applyConcurrently]] —
    * lazy and JVM-wide rather than per call (r12 verdict #7: building a
    * fresh pool per invocation). Tasks are pure per-path filesystem ops
    * that never re-enter this pool, so sharing cannot deadlock; N
    * concurrent writers simply share the fan-out budget. */
  private lazy val fsOpsPool = java.util.concurrent.Executors.newFixedThreadPool(16,
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-fsops-${n.incrementAndGet()}")
        t.setDaemon(true); t
      }
    })

  /** Run independent per-path filesystem ops on the shared 16-thread
    * pool (the class-level doc at the forwarder explains why); shared
    * with [[CommitLogTableStore]]'s migration copy. Failures propagate
    * unwrapped — and on the failure path the REMAINING work is cancelled
    * (r12 advice: the old per-call pool's shutdown() still ran every
    * queued rename/delete in background threads after the caller had
    * begun its failure handling, e.g. a partition rewrite's staging
    * cleanup racing its own leftover moves). */
  private[catalog] def applyConcurrently[A](items: Seq[A])(fn: A => Unit): Unit =
    if (items.size <= 4) items.foreach(fn)
    else {
      val futures = items.map(a =>
        fsOpsPool.submit(new Runnable {
          def run(): Unit = {
            // a cancel(true) on the PREVIOUS task of this pool thread can
            // leave its interrupt flag set (FutureTask deliberately does
            // not clear it) — clear before work so one caller's failure
            // cannot spuriously interrupt an unrelated writer's op
            Thread.interrupted(): Unit
            fn(a)
          }
        }))
      try futures.foreach { fut =>
        try fut.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      } catch {
        case t: Throwable =>
          futures.foreach(_.cancel(true): Unit)
          throw t
      }
    }

  /** Intra-bucket write salts for one batch: ⌈batchBytes / (1 GiB × 64
    * buckets)⌉, clamped to [1, 64] — a ≥4 TiB append gets the full
    * 4096-way fan-out, a toy append stays at the ≤1-file-per-bucket
    * minimum. Batch bytes come from the optimized plan's stats; an
    * estimate ≥1 PiB is a default, not a measurement (typed pipelines —
    * the consolidation worker's mapGroups output, RDD-backed frames —
    * report `defaultSizeInBytes`), and for those the salt count falls
    * back to the batch's PLANNED parallelism instead: writing with
    * roughly the task count the engine already chose to compute the
    * batch keeps a 4096-partition cluster consolidation at cluster-wide
    * write fan-out while a 32-partition local batch stays at 1. The conf
    * override remains the explicit escape hatch. */
  private[catalog] def filesPerBucket(df: DataFrame): Int =
    df.sparkSession.conf.getOption(FilesPerBucketConf)
      .map(_.toInt.max(1).min(TilesBuckets))
      .getOrElse {
        val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        if (bytes > 0 && bytes < BigInt(1L << 50)) {
          val unit = BigInt(TargetFileBytes) * TilesBuckets
          (((bytes + unit - 1) / unit).min(TilesBuckets)).toInt.max(1)
        } else {
          val parts = df.rdd.getNumPartitions
          math.min(TilesBuckets, math.max(1, (parts + TilesBuckets - 1) / TilesBuckets))
        }
      }

  /** The bucket derivation, usable on EITHER side of a pruned join: the
    * write path stamps rows with it, and query-side joins compare the
    * stored bucket against this same expression over the request's
    * container set — the equality Catalyst's DPP rule turns into a
    * partition filter. CRC-32 over UTF-8 bytes: frozen standard, stable
    * across Spark/JVM versions (a Spark-internal hash could silently
    * re-bucket on upgrade and mis-prune). */
  def tilesBucketOf(uri: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    pmod(crc32(encode(uri, "UTF-8")), lit(TilesBuckets.toLong)).cast("int")
  }
}
