package graft.catalog

/** Shared spec helpers for byte-level catalog layout assertions — one
  * definition of what "untouched" means (path + size + content hash), so
  * the delete/update specs can never silently diverge on it. */
object CatalogTestIO {

  /** (relative path → (size, contentHash)) for every file under a dir. */
  def fileState(dir: java.io.File): Map[String, (Long, Int)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    if (!dir.exists) Map.empty
    else walk(dir).map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      (f.getPath.stripPrefix(dir.getPath),
        (f.length(), java.util.Arrays.hashCode(bytes)))
    }.toMap
  }

  private def opDirs(root: String, table: String): Seq[java.io.File] =
    Option(new java.io.File(s"$root/$table/data").listFiles)
      .getOrElse(Array.empty).toSeq.filter(_.isDirectory)

  /** [[fileState]] of one partition directory (`col=value`) across every
    * op directory of a catalog table — keyed `<opId><file path>` — so a
    * partition no mutation touched compares equal byte for byte. */
  def partitionState(root: String, table: String,
      partDir: String): Map[String, (Long, Int)] =
    opDirs(root, table).flatMap { op =>
      fileState(new java.io.File(op, partDir)).map { case (k, v) =>
        (op.getName + k, v)
      }
    }.toMap

  /** The partition directories (`col=value`) holding at least one LIVE
    * file of a table — what a read of the current snapshot can see. */
  def livePartitions(spark: org.apache.spark.sql.SparkSession,
      store: TableStore, table: String): Set[String] =
    store.read(spark, table).inputFiles.toSeq
      .flatMap(_.split('/').find(_.contains("="))).toSet

  /** Staging residue of a catalog table: op directories no log file
    * references (a writer's abandoned staging) and local-publish
    * `.inflight` scratch — empty after every completed or failed op. */
  def stagingResidue(root: String, table: String): Seq[String] = {
    val log = Option(new java.io.File(s"$root/$table/_log").listFiles)
      .getOrElse(Array.empty).toSeq
    val referenced = log.flatMap { f =>
      Catalog.terminatedContent(java.nio.file.Files.readAllBytes(f.toPath))
        .getOrElse(Vector.empty)
    }.flatMap { l =>
      if (l.startsWith("OP ")) Some(l.drop(3))
      else if (l.startsWith("FILE "))
        Some(Catalog.parseEntry(l.drop(5))._1.takeWhile(_ != '/'))
      else if (l.startsWith("TOMB "))
        Some(l.drop(5).dropWhile(_ != ' ').drop(1).takeWhile(_ != '/'))
      else None
    }.toSet
    (opDirs(root, table).map(_.getName).filterNot(referenced) ++
      log.map(_.getName).filter(_.endsWith(".inflight"))).sorted
  }

  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(rm)
    f.delete(): Unit
  }
}
