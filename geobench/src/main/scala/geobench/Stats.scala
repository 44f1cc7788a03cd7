package geobench

/** Order statistics and the catalog-listing arithmetic the metrics use. */
object Stats {

  /** Linear-interpolated quantile, `p` in [0, 1] (NaN for no samples). */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.length - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Length of the union of half-open intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  /** One file of a catalog-root listing. */
  final case class Entry(path: String, bytes: Long, mtime: Long)

  /** Every regular file under `root`, paths relative to it. */
  def listing(root: java.io.File): Seq[Entry] = {
    val rootPath = root.toPath
    if (!root.exists) Nil
    else {
      val ws = java.nio.file.Files.walk(rootPath)
      try {
        val out = Seq.newBuilder[Entry]
        ws.forEach { p =>
          if (java.nio.file.Files.isRegularFile(p)) {
            val f = p.toFile
            out += Entry(rootPath.relativize(p).toString, f.length, f.lastModified)
          }
        }
        out.result()
      } finally ws.close()
    }
  }

  /** Files and bytes a call wrote: entries of `after` that are new or
    * changed against `before`; plus the files live afterwards. */
  final case class Writes(files: Long, bytes: Long, live: Long)

  def writes(before: Seq[Entry], after: Seq[Entry]): Writes = {
    val old = before.map(e => e.path -> e).toMap
    val changed = after.filter(e => !old.get(e.path).contains(e))
    Writes(changed.size.toLong, changed.map(_.bytes).sum, after.size.toLong)
  }

  /** Storage amplification: bytes on disk under the catalog root per raw
    * pixel byte held. */
  def spaceAmp(listing: Seq[Entry], rawPixelBytes: Long): Double = {
    require(rawPixelBytes > 0, "space amplification needs raw pixel bytes > 0")
    listing.map(_.bytes).sum.toDouble / rawPixelBytes
  }
}
