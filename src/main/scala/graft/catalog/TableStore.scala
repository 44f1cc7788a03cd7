package graft.catalog

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** The five catalog mutation/read primitives, extracted behind a trait —
  * the transaction-boundary seam of the engine.
  *
  * The production implementation ([[Catalog]]) gives these operations
  * their semantics with immutable op directories published through an
  * ordered commit log, which asks the filesystem for one atomic
  * exclusive-create primitive and no rename on the publish path. The
  * SAME five primitives are exactly a lakehouse table format's native
  * surface — `read` / `append` / `overwrite` / `DELETE WHERE` /
  * `replaceWhere` — so a Delta or Iceberg implementation of this trait
  * is a drop-in that inherits every caller (FSMs, GC, serving)
  * unchanged; tests substitute through it too (an in-memory store, and
  * decorators that inject crashes). The reference draws this boundary at
  * the PostGIS transaction (interface/database/pg/pg.go unitOfWork) over
  * object payloads (interface/storage/gcs/strategy.go); we draw it at
  * the table store.
  *
  * Contract (pinned by the TableStoreContract suites, which any new impl
  * must pass):
  *  - `read` returns the logical schema in declared column order (plus
  *    any derived partition column), and an EMPTY frame — not an error —
  *    for a table that has never been written;
  *  - `append` is atomic per batch (a crashed append leaves nothing
  *    visible, never a partial batch) and safe to run concurrently with
  *    appends and with mutations of other partitions;
  *  - `rewrite` atomically replaces the whole table;
  *  - `deleteWhere` removes exactly the rows whose key column matches
  *    the delete set, touching only the storage the set maps to
  *    (idempotent; null keys ignored);
  *  - `updatePartitions` atomically replaces the named partitions of a
  *    statically-partitioned table (all partitions when `partValues` is
  *    empty), may insert into a named-but-absent partition, and REJECTS
  *    a transform that moves rows outside the targeted partitions;
  *    concurrent updates of DISJOINT partitions compose exactly;
  *  - `rows` equals `read` + partition filter + select + `collect` as a
  *    multiset whenever it answers.
  */
trait TableStore {
  /** The storage root the store serves — payload containers
    * (`<root>/containers/<jobId>/…`) and consolidation scratch
    * (`<root>/.c4scratch`) hang off it. A store that is not backed by a
    * filesystem returns an unresolvable root. */
  def root: String
  def read(spark: SparkSession, table: String): DataFrame
  def append(df: DataFrame, table: String): Unit
  def rewrite(df: DataFrame, table: String): Unit
  def deleteWhere(spark: SparkSession, table: String, uris: DataFrame,
      uriCol: String = "container_uri"): Unit
  def updatePartitions(spark: SparkSession, table: String,
      partValues: Seq[String], transform: DataFrame => DataFrame): Unit

  /** The rows of `table`'s `columns`, restricted to the partitions whose
    * value (as a string) is in `partitionValues` (all partitions when
    * empty; the tiles table's partition is its derived bucket) and to the
    * rows whose string column `c` holds a value in `valuesIn(c)`, for
    * every requested data column `c` it names — held on the driver, or
    * None when answering would decode more than `budgetBytes` of
    * compressed parquet, and the caller should plan a Spark read instead.
    * As a multiset the answer equals [[collectRows]], and each row is
    * typed exactly as `read(...).collect()` types it. This default IS
    * [[collectRows]] (one Spark job); [[Catalog]] answers from the
    * snapshot's parquet files on the driver with no job. */
  def rows(spark: SparkSession, table: String, columns: Seq[String],
      partitionValues: Seq[String] = Nil,
      valuesIn: Map[String, Set[String]] = Map.empty,
      budgetBytes: Long = TableStore.RowsBudgetBytes): Option[IndexedSeq[Row]] =
    Some(collectRows(spark, table, columns, partitionValues, valuesIn))

  /** [[rows]] through Spark: [[readWhere]] + select + `collect`. */
  final def collectRows(spark: SparkSession, table: String, columns: Seq[String],
      partitionValues: Seq[String] = Nil,
      valuesIn: Map[String, Set[String]] = Map.empty): IndexedSeq[Row] = {
    TableStore.checkRowsArgs(table, columns, partitionValues, valuesIn)
    readWhere(spark, table, partitionValues, valuesIn)
      .select(columns.map(col): _*).collect().toIndexedSeq
  }

  /** `read` restricted as [[rows]] restricts it: to the partitions in
    * `partitionValues` (all when empty), as a static filter on the
    * partition column, and to the rows whose column `c` holds a value in
    * `valuesIn(c)`. */
  final def readWhere(spark: SparkSession, table: String, partitionValues: Seq[String],
      valuesIn: Map[String, Set[String]]): DataFrame = {
    var df = read(spark, table)
    if (partitionValues.nonEmpty) {
      // a store whose read does not expose the derived bucket filters on
      // the bucket recomputed from its source column
      val pc = TableLayout.partitionColumn(table).get
      val key =
        if (df.columns.contains(pc)) col(pc)
        else TableLayout.derivedPartition(table).fold(col(pc))(d => d.derive(col(d.srcCol)))
      df = df.filter(key.cast("string").isin(partitionValues: _*))
    }
    valuesIn.foreach { case (c, vs) => df = df.filter(col(c).isin(vs.toSeq: _*)) }
    df
  }

  /** [[rows]], falling back to [[collectRows]] when over budget. */
  final def rowsOrCollect(spark: SparkSession, table: String, columns: Seq[String],
      partitionValues: Seq[String] = Nil): IndexedSeq[Row] =
    rows(spark, table, columns, partitionValues)
      .getOrElse(collectRows(spark, table, columns, partitionValues))
}

object TableStore {
  /** Compressed parquet bytes one [[TableStore.rows]] call may decode on
    * the driver: the requested columns of the row groups it reads. A
    * payload-free answer is cached until the next commit, so its read is
    * paid once and its limit is the heap it pins: on 4 cores a 31 MiB
    * records table (839k rows) read in 0.9-1.3 s and held 289 MiB of heap
    * with the XYZ path's id index, while a warm tile over it took 36-47
    * ms on the driver and 1.8-2.0 s through the Spark plan. */
  val RowsBudgetBytes: Long = 32L << 20

  /** The arguments every [[TableStore.rows]] answer requires: requested
    * columns of the table, partition values only on a partitioned table,
    * and `valuesIn` keys among the requested string data columns. */
  private[catalog] def checkRowsArgs(table: String, columns: Seq[String],
      partitionValues: Seq[String], valuesIn: Map[String, Set[String]]): Unit = {
    val schema = TableLayout.readSchema(table)
    val pcOpt = TableLayout.partitionColumn(table)
    require(partitionValues.isEmpty || pcOpt.isDefined,
      s"rows: table '$table' is not partitioned")
    columns.foreach(c => require(schema.fieldNames.contains(c),
      s"rows: table '$table' has no column '$c'"))
    valuesIn.keys.foreach(c => require(columns.contains(c) && !pcOpt.contains(c) &&
      schema(c).dataType == org.apache.spark.sql.types.StringType,
      s"rows: '$c' is not a requested string data column of '$table'"))
  }
}
