package graft.catalog

import org.apache.spark.sql.SparkSession

/** Scale probe (not a test): cold/warm read cost over a synthetic
  * MILLION-entry v2 checkpoint — the 100-TB tiles table's cold-driver
  * number, measured rather than extrapolated. Run with
  * `sbt "Test/runMain graft.catalog.ReplayScaleMain"`; results recorded
  * in README "Bench conditions". The 100k variant lives as a bounded
  * spec in CommitLogCheckpointV2Spec; this one is manual because a
  * million FileStatuses (~0.5 GB peak) has no place in the CI loop. */
object ReplayScaleMain {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val spark = SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Files.createTempDirectory("graft-replay1m").toString
    val uuid = "0f3c9b2a-7d41-4e8b-9c55-aa10b2c3d4e5"
    val lines = (0 until n).map { i =>
      val op = s"op${i / 4096}"
      val b = i % 64
      f"FILE $op/__bucket=$b/part-${i % 4096}%05d-$uuid.c000.snappy.parquet ${100000000 + i}"
    }
    val ld = new java.io.File(s"$dir/tiles/_log")
    ld.mkdirs()
    val cp = new java.io.File(ld, "0" * 19 + "1.checkpoint")
    val bytes = Catalog.checkpointBytes(lines)
    java.nio.file.Files.write(cp.toPath, bytes)
    val v1Bytes = (lines :+ "END").mkString("\n").getBytes("UTF-8").length
    println(f"entries=$n v2_bytes=${bytes.length}%,d v1_bytes=$v1Bytes%,d " +
      f"ratio=${v1Bytes.toDouble / bytes.length}%.1f")
    val store = Catalog(dir)
    // JIT warmup on the same code paths at a smaller fingerprint
    for (i <- 1 to 3) {
      cp.setLastModified(System.currentTimeMillis() - i * 3600000L): Unit
      val t0 = System.nanoTime()
      val df = store.read(spark, "tiles")
      println(f"cold_replay_plan=${(System.nanoTime() - t0) / 1e9}%.2f s " +
        s"(files=${df.inputFiles.length})")
    }
    for (_ <- 1 to 3) {
      val t0 = System.nanoTime()
      store.read(spark, "tiles")
      println(f"warm_read=${(System.nanoTime() - t0) / 1e9}%.4f s")
    }
    // decompose the cold cost: replicate snapshotOnce's checkpoint fold
    // (parse + set/map builds + sort) standalone
    locally {
      val t0 = System.nanoTime()
      val inflated = new String(graft.cube.Compress.inflate(
        java.nio.file.Files.readAllBytes(cp.toPath).drop(5)), "UTF-8")
      val t1 = System.nanoTime()
      val ls = inflated.linesIterator.toVector
      val t2 = System.nanoTime()
      var live = Set.empty[String]
      var meta = Map.empty[String, Catalog.FileMeta]
      ls.foreach { l =>
        if (l.startsWith("FILE ")) {
          val (r, fm) = Catalog.parseEntry(l.drop(5))
          live += r
          fm.foreach(m => meta += r -> m)
        }
      }
      val t3 = System.nanoTime()
      val sorted = live.toVector.sorted
      val t4 = System.nanoTime()
      println(f"inflate=${(t1 - t0) / 1e9}%.2f lines=${(t2 - t1) / 1e9}%.2f " +
        f"parse_fold=${(t3 - t2) / 1e9}%.2f sort=${(t4 - t3) / 1e9}%.2f " +
        s"(n=${sorted.length})")
    }
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(dir))
    spark.stop()
  }
}
