package graft.raster

import graft.core.DType
import graft.geo.{Affine, CRS}
import java.nio.{ByteBuffer, ByteOrder}

/** In-code GeoTIFF fixtures covering every layout the reader handles —
  * classic and BigTIFF, strips and tiles, deflate, sparse tiles,
  * overviews (record-major and zoom-grouped), a rotated
  * ModelTransformation, a multi-band file and one whose ModelTiepoint is
  * patched away — plus the byte-level patch helpers that build damaged
  * variants of them. */
object TiffFixtures {

  private def image(w: Int, h: Int, bands: Int, seed: Int,
      transform: Affine = Affine.northUp(0, 32, 1, -1)): GeoTiff.Image =
    GeoTiff.Image(new Bitmap(w, h, bands, DType.UInt8,
      Array.tabulate(w * h * bands)(i =>
        if ((i / 16) % 3 == 0) 255.0 else ((i * 31 + seed * 7) % 200).toDouble)),
      transform, CRS.WGS84)

  /** (name, file bytes) — small enough to decode in milliseconds. */
  lazy val all: Seq[(String, Array[Byte])] = {
    val a = image(32, 32, 1, 1)
    val b = image(32, 32, 1, 2)
    val withOverviews = GeoTiff.write(Seq(a), noData = 255, overviewsMinSize = 8,
      compress = true, tileSize = 16)
    Seq(
      "classic strips" -> GeoTiff.write(Seq(image(7, 5, 1, 3))),
      "classic tiles deflate" -> GeoTiff.write(Seq(a), compress = true, tileSize = 16),
      "bigtiff strips" -> GeoTiff.write(Seq(image(7, 5, 1, 4)), bigTiff = true),
      "bigtiff tiles deflate sparse overviews" -> GeoTiff.write(Seq(a, b),
        noData = 255, overviewsMinSize = 16, compress = true, tileSize = 16,
        sparseOk = true, bigTiff = true),
      "mucog zoom-grouped stack" -> GeoTiff.write(Seq(a, b), noData = 255,
        overviewsMinSize = 16, tileSize = 16, interlacing = "Z=0>T>R>B;Z=1:>R>T>B"),
      "sparse tiles" -> GeoTiff.write(Seq(a), noData = 255, tileSize = 16, sparseOk = true),
      "rotated ModelTransformation" -> GeoTiff.write(
        Seq(image(9, 6, 1, 5, Affine(100, 2.0, 0.5, 200, -0.25, -2.0)))),
      "multiband tiles" -> GeoTiff.write(Seq(image(20, 18, 3, 6)), tileSize = 16),
      "overviews" -> withOverviews,
      "overviews without ModelTiepoint" -> patchTag(withOverviews, 33922, 33923))
  }

  /** One IFD's position: offset, entry count, and the format. */
  final case class Ifd(offset: Long, entries: Int, big: Boolean) {
    def entryPos(k: Int): Int = (offset + (if (big) 8 else 2) + k * (if (big) 20 else 12)).toInt
    def nextPos: Int = entryPos(entries)
  }

  /** Walk the IFD chain of an undamaged file. */
  def ifds(bytes: Array[Byte]): Seq[Ifd] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val big = bb.getShort(2) == 43
    def offsetAt(p: Int): Long = if (big) bb.getLong(p) else bb.getInt(p) & 0xffffffffL
    val out = Seq.newBuilder[Ifd]
    var off = offsetAt(if (big) 8 else 4)
    while (off != 0) {
      val n = if (big) bb.getLong(off.toInt).toInt else bb.getShort(off.toInt) & 0xffff
      val ifd = Ifd(off, n, big)
      out += ifd
      off = offsetAt(ifd.nextPos)
    }
    out.result()
  }

  /** First byte of the data region: where the lowest block starts (the
    * IFDs and their values all sit before it). */
  def headEnd(bytes: Array[Byte]): Int = {
    val tiff = GeoTiff.open(bytes)
    tiff.headers.indices.flatMap(tiff.blockOffsets).filter(_ > 0).min.toInt
  }

  /** One integer element of an IFD entry: IFD index, tag, element
    * index, byte position and width. */
  final case class IntField(ifd: Int, tag: Int, k: Int, pos: Int, size: Int)

  /** Every integer-valued IFD field — each SHORT/LONG/LONG8 element of
    * every entry, inline or out of line: dimensions, tile sizes, block
    * offsets and byte counts. */
  def intFields(bytes: Array[Byte]): Seq[IntField] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    for {
      (ifd, i) <- ifds(bytes).zipWithIndex
      e <- (0 until ifd.entries).map(ifd.entryPos)
      size <- (bb.getShort(e + 2) & 0xffff) match {
        case 3 => Seq(2); case 4 => Seq(4); case 16 => Seq(8); case _ => Nil
      }
      count = if (ifd.big) bb.getLong(e + 4).toInt else bb.getInt(e + 4)
      valuePos = e + (if (ifd.big) 12 else 8)
      dataPos =
        if (count * size <= (if (ifd.big) 8 else 4)) valuePos
        else if (ifd.big) bb.getLong(valuePos).toInt else bb.getInt(valuePos)
      k <- 0 until count
    } yield IntField(i, bb.getShort(e) & 0xffff, k, dataPos + k * size, size)
  }

  /** Copy of `bytes` with `field` holding `value`. */
  def patchField(bytes: Array[Byte], field: IntField, value: Long): Array[Byte] = {
    val out = bytes.clone()
    val bb = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    field.size match {
      case 2 => bb.putShort(field.pos, value.toShort)
      case 4 => bb.putInt(field.pos, value.toInt)
      case _ => bb.putLong(field.pos, value)
    }
    out
  }

  /** The field holding element `k` of tag `tag` in IFD `i`. */
  def field(bytes: Array[Byte], i: Int, tag: Int, k: Int): IntField =
    intFields(bytes).find(f => f.ifd == i && f.tag == tag && f.k == k).get

  /** The field's current value. */
  def valueOf(bytes: Array[Byte], field: IntField): Long = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    field.size match {
      case 2 => bb.getShort(field.pos) & 0xffff
      case 4 => bb.getInt(field.pos) & 0xffffffffL
      case _ => bb.getLong(field.pos)
    }
  }

  /** Copy of `bytes` with every entry of tag `from` renamed to `to`. */
  def patchTag(bytes: Array[Byte], from: Int, to: Int): Array[Byte] = {
    val out = bytes.clone()
    val bb = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    for (ifd <- ifds(bytes); k <- 0 until ifd.entries)
      if ((bb.getShort(ifd.entryPos(k)) & 0xffff) == from)
        bb.putShort(ifd.entryPos(k), to.toShort)
    out
  }

  /** Copy of `bytes` whose IFD `i` points its next-IFD link at `target`. */
  def patchNextIfd(bytes: Array[Byte], i: Int, target: Long): Array[Byte] = {
    val out = bytes.clone()
    val bb = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    val ifd = ifds(bytes)(i)
    if (ifd.big) bb.putLong(ifd.nextPos, target) else bb.putInt(ifd.nextPos, target.toInt)
    out
  }
}
