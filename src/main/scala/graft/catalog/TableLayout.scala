package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Physical-layout knowledge for tables stored as partitioned parquet
  * files — which catalog tables are partitioned and by what, which carry
  * a DERIVED bucket column, and how a batch is repartitioned before a
  * bucketed write. The rename-swap layout [[Catalog.importTable]] reads
  * has the same shape under each table directory, so importing a table
  * from it is a file copy plus one log commit, not a rewrite. */
private[catalog] object TableLayout {

  /** Tables written with a STATIC partition column (the value is a data
    * column): `datasets` by instance (instance filters prune), `jobs` by
    * type (the streaming journal probes `type = TASKEVENT` once per
    * micro-batch), `tasks` by job (every FSM read/rewrite is job-scoped —
    * a big consolidation holds 10⁵ task rows per job and must not pay,
    * or race, other jobs' I/O). `tiles` is listed here too because its
    * derived bucket is its physical partition key (serving-path joins
    * become dynamic partition pruning instead of a full payload scan). */
  def partitionColumn(table: String): Option[String] = table match {
    case "datasets" => Some("instance_id")
    case "jobs" => Some("type")
    case "tasks" => Some("job_id")
    case "tiles" => Some(Catalog.TilesBucketCol)
    case _ => None
  }

  /** The timestamp column whose per-file min/max ride the commit-log ADD
    * lines for file-level data skipping (Delta per-file stats; the
    * reference's GIST datetime index, create.sql:39): a time-windowed
    * FindRecords/GetCube over a 100-TB store then opens only the files
    * whose range can match, instead of every live file's footer. */
  def statsColumn(table: String): Option[String] = table match {
    case "records" => Some("datetime")
    case _ => None
  }

  /** The bbox STRUCT column whose per-file ENVELOPE (min xmin, min ymin,
    * max xmax, max ymax) rides the commit-log ADD lines — the spatial
    * sibling of [[statsColumn]] (the reference backs FindDatasets with a
    * GIST geography index the same way, create.sql:39). A
    * FindDatasets bbox window then skips whole files: the coarse
    * intersects filter is four half-plane comparisons, each exactly
    * decidable from the one envelope side it constrains
    * ([[CommitLogFileIndex]] `mayMatchBbox`). */
  def bboxStatsColumn(table: String): Option[String] = table match {
    case "datasets" => Some("bbox")
    case _ => None
  }

  final case class Derived(name: String, srcCol: String, derive: Column => Column)

  /** DERIVED partition columns — computed from a data column at write
    * time, never supplied by callers (see [[Catalog]] for the CRC-32
    * rationale). */
  def derivedPartition(table: String): Option[Derived] = table match {
    case "tiles" =>
      Some(Derived(Catalog.TilesBucketCol, "container_uri", Catalog.tilesBucketOf))
    case _ => None
  }

  /** Read-side schema: the logical table schema plus any derived
    * partition column, in that order. */
  def readSchema(table: String): StructType = {
    val base = Schemas.all(table)
    derivedPartition(table).fold(base)(d =>
      StructType(base.fields :+ StructField(d.name, IntegerType)))
  }

  /** Stamp any derived partition column — authoritative at every write,
    * so callers never supply (or can never corrupt) the bucket — and
    * repartition bucketed batches before the partitioned write. An
    * unrepartitioned partitionBy append from a 1000-task consolidation
    * batch would spray up to 64k tiny files into the 100-TB store per
    * batch; keying on the bucket ALONE caps write parallelism at ≤64
    * tasks. So the shuffle key is (bucket, salt) with
    * [[Catalog.filesPerBucket]] salts sized from the batch's estimated
    * bytes: a small append keeps ≤1 file per bucket, a huge one fans out
    * to up to 64×64 writers while the per-append file count stays
    * bounded at buckets × salts. */
  def withDerived(df: DataFrame, table: String): DataFrame =
    derivedPartition(table).fold(df) { d =>
      val stamped = df.withColumn(d.name, d.derive(col(d.srcCol)))
      val salts = Catalog.filesPerBucket(df)
      if (salts <= 1)
        stamped.repartition(Catalog.TilesBuckets, col(d.name))
      else
        stamped.repartition(Catalog.TilesBuckets * salts, col(d.name),
          pmod(xxhash64(col(d.srcCol)), lit(salts.toLong)))
    }

  /** Data files under a staging root, as `/`-joined paths relative to it
    * (`job_id=X/part-….parquet`). Skips `_SUCCESS`/hidden entries and
    * Spark's `_temporary` commit scratch. */
  def listDataFiles(f: FileSystem, root: Path): Seq[String] = {
    val rootStr = f.makeQualified(root).toString
    def walk(dir: Path): Seq[String] =
      f.listStatus(dir).toIndexedSeq.flatMap { s =>
        val n = s.getPath.getName
        if (s.isDirectory)
          // recurse into partition dirs — including `_`-prefixed DERIVED
          // ones (`__bucket=…`); skip Spark's commit scratch
          if (n.startsWith(".") || n == "_temporary") Nil else walk(s.getPath)
        else if (n.startsWith("_") || n.startsWith(".")) Nil // _SUCCESS, crcs
        else Seq(f.makeQualified(s.getPath).toString.stripPrefix(rootStr + "/"))
      }
    val files = walk(root)
    require(files.forall(r => !new Path(r).isAbsolute),
      s"staging produced paths outside $rootStr")
    files
  }

  /** The partition-directory name (`col=value`, Spark-escaped) of a
    * staged file path relative to its op root — or `""` for a file of an
    * unpartitioned table (directly under the root). The unit of the
    * commit-log store's conflict detection. */
  def partitionDirOf(rel: String): String = {
    val seg = rel.split('/')
    if (seg.length >= 2 && seg(0).contains("=")) seg(0) else ""
  }
}
