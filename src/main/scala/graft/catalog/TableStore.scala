package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  *    concurrent updates of DISJOINT partitions compose exactly.
  */
trait TableStore {
  /** The storage root the store serves — payload containers
    * (`<root>/containers/<jobId>/…`), consolidation scratch
    * (`<root>/.c4scratch`), and the serving path's change stamp
    * ([[graft.cube.GetCube]] `dirStamp`) all hang off it. The stamp
    * hashes the `<root>/<table>/_log` listing: every mutation creates a
    * VERSIONED file there, so the child names alone carry the change
    * even on flat object stores whose directory mtimes are synthetic. A
    * table with no `_log` — never written, or a store that does not keep
    * one (a non-filesystem store returns an unresolvable root) — stamps
    * as unobservable, and callers bypass their caches rather than serve
    * stale data. */
  def root: String
  def read(spark: SparkSession, table: String): DataFrame
  def append(df: DataFrame, table: String): Unit
  def rewrite(df: DataFrame, table: String): Unit
  def deleteWhere(spark: SparkSession, table: String, uris: DataFrame,
      uriCol: String = "container_uri"): Unit
  def updatePartitions(spark: SparkSession, table: String,
      partValues: Seq[String], transform: DataFrame => DataFrame): Unit
}
