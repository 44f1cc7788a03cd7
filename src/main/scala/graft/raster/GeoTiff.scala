package graft.raster

import graft.core.DType
import graft.geo.{Affine, CRS}
import java.nio.{ByteBuffer, ByteOrder}

/** Minimal GeoTIFF codec — the engine's real-file raster source/sink
  * (S8/S9). Little-endian classic TIFF 6.0 or BigTIFF (version 43,
  * 8-byte offsets — read auto-detected, write via `bigTiff=true`),
  * band-planar, strip- or
  * tile-based (tiled + deflate = the COG block layout, cog.go:34-53),
  * with the GeoTIFF georeferencing tags (ModelPixelScale + ModelTiepoint +
  * GeoKeyDirectory/EPSG) and multi-IFD stacks: image n of a stack is
  * addressed exactly like the reference's MuCOG subdirs (`GTIFF_DIR:n`,
  * 1-based — internal/image/image.go:32-34). Overview pyramids (A8) are
  * reduced-resolution IFDs (NewSubfileType=1) appended after each full
  * image, average-downsampled ×2 until ≤ minSize (cog.go:161-177
  * computeNbOverviews semantics).
  *
  * MuCOG (SURVEY §7.4 risk 5): all IFDs sit at the file head (one
  * metadata range-read) and [[Interlacing]] patterns order the physical
  * data blocks for timeseries locality; `GTIFF_DIR:n` addressing is
  * byte-compatible regardless of block order. Sparse all-nodata tiles are
  * elided (offset 0) and refilled on read from the GDAL_NODATA tag.
  */
object GeoTiff {

  final case class Image(bitmap: Bitmap, transform: Affine, crs: CRS)

  // ---- tag ids ----
  private val TNewSubfileType = 254
  private val TWidth = 256
  private val THeight = 257
  private val TBitsPerSample = 258
  private val TCompression = 259
  private val TPhotometric = 262
  private val TStripOffsets = 273
  private val TSamplesPerPixel = 277
  private val TRowsPerStrip = 278
  private val TStripByteCounts = 279
  private val TPlanarConfig = 284
  private val TTileWidth = 322
  private val TTileLength = 323
  private val TTileOffsets = 324
  private val TTileByteCounts = 325
  private val TSampleFormat = 339
  private val TModelPixelScale = 33550
  private val TModelTiepoint = 33922
  private val TModelTransformation = 34264 // 4×4 matrix for rotated grids
  private val TGeoKeyDirectory = 34735
  private val TGeoDoubleParams = 34736
  private val TGeoAsciiParams = 34737
  private val TGdalNoData = 42113 // ASCII nodata value (GDAL convention)
  private val KPCSCitation = 3073 // ASCII citation for user-defined PCS

  // GeoKey ids for user-defined transverse-Mercator projections
  private val KGeographicType = 2048
  private val KProjectedCSType = 3072
  // user-defined geographic CRS + datum-shift keys (GeoTIFF 1.0 §6.3.2)
  private val KGeogSemiMajor = 2057
  private val KGeogInvFlattening = 2059
  private val KGeogTowgs84 = 2062
  private val KProjection = 3074
  private val KProjCoordTrans = 3075 // 1 = TransverseMercator
  private val KProjNatOriginLong = 3080
  private val KProjNatOriginLat = 3081
  private val KProjFalseEasting = 3082
  private val KProjFalseNorthing = 3083
  private val KProjScaleAtNatOrigin = 3092
  private val UserDefined = 32767

  private def sampleFormat(dt: DType): Int = dt match {
    case DType.Float32 | DType.Float64 | DType.Complex64 => 3
    case DType.Int8 | DType.Int16 | DType.Int32 => 2
    case _ => 1
  }

  private def dtypeOf(bits: Int, fmt: Int): DType = (bits, fmt) match {
    case (8, 1) => DType.UInt8
    case (8, 2) => DType.Int8
    case (16, 1) => DType.UInt16
    case (16, 2) => DType.Int16
    case (32, 1) => DType.UInt32
    case (32, 2) => DType.Int32
    case (32, 3) => DType.Float32
    case (64, 3) => DType.Float64
    case _ => throw new MalformedTiff(s"unsupported sample: $bits bits fmt $fmt")
  }

  /** Geotransform from the georeferencing tags: a ModelTransformation
    * matrix wins (it alone can carry rotation), else PixelScale+Tiepoint,
    * else identity (non-georeferenced TIFF). */
  private def geoTransform(scale: Seq[Double], tie: Seq[Double],
      m: Seq[Double]): Affine =
    if (m.size >= 8) Affine(m(3), m(0), m(1), m(7), m(4), m(5))
    else if (scale.size >= 2 && tie.size >= 5)
      Affine.northUp(tie(3), tie(4), scale(0), -scale(1))
    else Affine.identity

  /** Number of ×2 overview levels until max(w,h) ≤ minSize (0 = none). */
  def nbOverviews(w: Int, h: Int, minSize: Int): Int = {
    if (minSize <= 0) return 0
    var n = 0
    var (cw, ch) = (w, h)
    while (math.max(cw, ch) > minSize) { cw = (cw + 1) / 2; ch = (ch + 1) / 2; n += 1 }
    n
  }

  /** Average-downsample ×2 (the overview builder — AVERAGE resampling as
    * the reference uses for smooth algs, handler_consolidation.go:489-500). */
  def downsample2(bm: Bitmap, noData: Double): Bitmap = {
    val w2 = (bm.width + 1) / 2
    val h2 = (bm.height + 1) / 2
    val out = Bitmap.filled(w2, h2, bm.bands, bm.dtype, noData)
    var b = 0
    while (b < bm.bands) {
      var y = 0
      while (y < h2) {
        var x = 0
        while (x < w2) {
          var sum = 0.0; var n = 0
          var dy = 0
          while (dy < 2) {
            var dx = 0
            while (dx < 2) {
              val sx = 2 * x + dx; val sy = 2 * y + dy
              if (sx < bm.width && sy < bm.height) {
                val v = bm.get(sx, sy, b)
                val valid = if (noData.isNaN) !v.isNaN else v != noData
                if (valid) { sum += v; n += 1 }
              }
              dx += 1
            }
            dy += 1
          }
          if (n > 0) out.set(x, y, b, graft.core.Cast.storeValue(sum / n, bm.dtype))
          x += 1
        }
        y += 1
      }
      b += 1
    }
    out
  }

  // ---------------------------------------------------------------- write

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val buf = new Array[Byte](64 * 1024)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Cut a band-planar pixel buffer into padded ts×ts tiles, TIFF order for
    * PlanarConfig=2: all tiles of band 0 row-major, then band 1, … Edge
    * tiles are zero-padded to full tile size (TIFF 6.0 requirement).
    * With `sparseOk`, all-nodata tiles become empty arrays — the writer
    * records them as offset/count 0 (the GDAL SPARSE_OK convention,
    * image.go:437) and they occupy no file bytes. */
  private def cutTiles(bm: Bitmap, ts: Int, noData: Double,
      sparseOk: Boolean): Seq[Array[Byte]] = {
    val px = bm.toBytes
    val sz = bm.dtype.sizeBytes
    val ta = (bm.width + ts - 1) / ts
    val td = (bm.height + ts - 1) / ts
    for {
      b <- 0 until bm.bands
      ty <- 0 until td
      tx <- 0 until ta
    } yield {
      val rows = math.min(ts, bm.height - ty * ts)
      val cols = math.min(ts, bm.width - tx * ts)
      def hasData: Boolean = {
        var y = 0
        while (y < rows) {
          var x = 0
          while (x < cols) {
            val v = bm.get(tx * ts + x, ty * ts + y, b)
            if (if (noData.isNaN) !v.isNaN else v != noData) return true
            x += 1
          }
          y += 1
        }
        false
      }
      if (sparseOk && !hasData) Array.empty[Byte]
      else {
        val tile = new Array[Byte](ts * ts * sz)
        var r = 0
        while (r < rows) {
          val src = ((b * bm.height + ty * ts + r) * bm.width + tx * ts) * sz
          System.arraycopy(px, src, tile, r * ts * sz, cols * sz)
          r += 1
        }
        tile
      }
    }
  }

  /** Serialize a stack of images (one IFD each, in order; `GTIFF_DIR:n`
    * addresses the n-th) with optional overview IFDs after each.
    * `compress=true` writes Compression=8 (zlib/Adobe deflate — the COG
    * default); `tileSize>0` writes tiled IFDs (TileWidth/TileLength/
    * TileOffsets/TileByteCounts — the cloud-optimized layout: a remote
    * reader range-reads exactly the 2-D blocks its window needs instead of
    * whole strips; cog.go:34-53). Overview IFDs inherit the tiling. */
  def write(images: Seq[Image], noData: Double = Double.NaN,
      overviewsMinSize: Int = 0, compress: Boolean = false,
      tileSize: Int = 0, interlacing: String = "",
      sparseOk: Boolean = false, bigTiff: Boolean = false,
      autoBigTiff: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val n = writeTo(images, out, noData, overviewsMinSize, compress, tileSize,
      interlacing, sparseOk, bigTiff, autoBigTiff)
    // a JVM byte array caps at 2 GiB regardless of format — callers past
    // that must stream (writeTo straight into a filesystem output stream)
    require(n <= Int.MaxValue,
      s"GeoTiff.write: file size $n exceeds the 2 GiB in-memory limit; use writeTo")
    out.toByteArray
  }

  /** [[write]] streaming into `os` (returns bytes written): blocks go out
    * as they are laid, so the only whole-file state is the block arrays
    * themselves — a BigTIFF container may exceed 2 GiB (up to heap), and a
    * classic one may use its full unsigned-32-bit 4 GiB address space. */
  def writeTo(images: Seq[Image], os: java.io.OutputStream,
      noData: Double = Double.NaN,
      overviewsMinSize: Int = 0, compress: Boolean = false,
      tileSize: Int = 0, interlacing: String = "",
      sparseOk: Boolean = false, bigTiff: Boolean = false,
      autoBigTiff: Boolean = false): Long = {
    require(images.nonEmpty, "GeoTiff.write: no images")
    require(tileSize >= 0 && tileSize % 16 == 0, "TIFF tile size must be a multiple of 16")
    require(interlacing.isEmpty || tileSize > 0, "interlacing requires a tiled layout")
    // BigTIFF (version 43): 8-byte offsets/counts, 20-byte IFD entries,
    // 8-byte inline values — the format GDAL writes for >4 GiB files.
    // Offsets and block-count tags switch from LONG (4) to LONG8 (16).
    // `autoBigTiff` mirrors the reference's consolidation writer
    // (mucog.go:82): switch when the container COULD exceed the classic
    // address space. The decision rides the pre-layout uncompressed bound
    // (PADDED pixel volume + the ≤1/3 overview tail) — tiled layouts
    // zero-pad every edge tile to tileSize², so the bound must use
    // ceil(w/ts)·ceil(h/ts)·ts², not w·h (a 129×129-tile container can
    // be ~4× its raw volume); compression and sparse elision only
    // shrink the file, so a classic verdict never needs revisiting after
    // the expensive block cut; an over-eager BigTIFF verdict costs a few
    // header bytes on a file every reader here auto-detects anyway.
    val big = bigTiff || (autoBigTiff && {
      def padded(n: Int): Long =
        if (tileSize > 0) ((n + tileSize - 1L) / tileSize) * tileSize else n.toLong
      val base = images.iterator.map(im =>
        padded(im.bitmap.width) * padded(im.bitmap.height) * im.bitmap.bands *
          im.bitmap.dtype.sizeBytes).sum
      val bound = if (overviewsMinSize > 0) base + base / 3 else base
      bound + (1L << 20) > 0xF0000000L // ~3.75 GiB guard band
    })
    val inlineCap = if (big) 8 else 4
    val headerSize = if (big) 16 else 8
    val header = ByteBuffer.allocate(headerSize).order(ByteOrder.LITTLE_ENDIAN)
    if (big) header.put('I'.toByte).put('I'.toByte).putShort(43)
      .putShort(8).putShort(0)
    else header.put('I'.toByte).put('I'.toByte).putShort(42)
    // (tag, type, count, value); offsets tag value patched at layout time
    final case class PendingIfd(entries: Seq[(Int, Int, Int, Array[Byte])],
      blocks: Seq[Array[Byte]], offsetsTag: Int,
      rIdx: Int, zIdx: Int, bands: Int, tilesPerBand: Int)

    def ifdFor(img: Image, subfile: Option[Int], rIdx: Int, zIdx: Int): PendingIfd = {
      val bm = img.bitmap
      val tiled = tileSize > 0
      val blocks0 = if (tiled) cutTiles(bm, tileSize, noData, sparseOk) else Seq(bm.toBytes)
      val blocks =
        if (compress) blocks0.map(b => if (b.isEmpty) b else deflate(b)) else blocks0
      def shortVal(v: Int) = {
        val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        b.putShort(v.toShort); b.array()
      }
      def longVal(v: Long) = {
        val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        b.putInt(v.toInt); b.array()
      }
      def shorts(vs: Seq[Int]) = {
        val b = ByteBuffer.allocate(vs.size * 2).order(ByteOrder.LITTLE_ENDIAN)
        vs.foreach(v => b.putShort(v.toShort)); b.array()
      }
      def longs(vs: Seq[Long]) = {
        val b = ByteBuffer.allocate(vs.size * 4).order(ByteOrder.LITTLE_ENDIAN)
        vs.foreach(v => b.putInt(v.toInt)); b.array()
      }
      def longs8(vs: Seq[Long]) = {
        val b = ByteBuffer.allocate(vs.size * 8).order(ByteOrder.LITTLE_ENDIAN)
        vs.foreach(b.putLong); b.array()
      }
      // block offsets/counts: LONG8 in BigTIFF, LONG in classic
      val offTyp = if (big) 16 else 4
      def offArr(vs: Seq[Long]) = if (big) longs8(vs) else longs(vs)
      // dimension tags (width/height/rows-per-strip): SHORT while the
      // value fits, LONG past 65535 (TIFF 6.0 allows either — a truncated
      // SHORT would silently disagree with the block geometry)
      def dimEntry(tag: Int, v: Int): (Int, Int, Int, Array[Byte]) =
        if (v > 0xFFFF) (tag, 4, 1, longVal(v.toLong))
        else (tag, 3, 1, shortVal(v))
      def doubles(vs: Seq[Double]) = {
        val b = ByteBuffer.allocate(vs.size * 8).order(ByteOrder.LITTLE_ENDIAN)
        vs.foreach(b.putDouble); b.array()
      }
      val bits = bm.dtype.sizeBytes * 8
      // (geokey directory, double params or empty) — custom tmerc writes
      // its projection parameters, non-WGS84 geographic its ellipsoid
      // (2057/2059), and a declared datum shift its towgs84 (2062,
      // GeogTOWGS84GeoKey) into GeoDoubleParams so the CRS round-trips
      val (geoKeys, geoDoubles, geoAscii) = {
        val (baseCrs, shift) = img.crs match {
          case CRS.DatumShifted(b, h) => (b, Some(h))
          case c => (c, None)
        }
        val wgs = CRS.Geographic() // WGS84 ellipsoid constants (a, f)
        val (keys0, dbl0, asc0): (Seq[(Int, Int, Int, Int)], Seq[Double], String) =
          baseCrs match {
            case crs if crs.srid != UserDefined =>
              // KNOWN EPSG code first — compact AND datum-exact: a
              // non-WGS84 national tmerc (27700, Airy 1830) must NOT
              // fall through to the param branch below, which writes a
              // WGS84 datum and silently shifts the grid ~100 m on
              // re-read
              val isGeo = crs.isGeographic
              (Seq(
                (1024, 0, 1, if (isGeo) 2 else 1), // GTModelType
                (1025, 0, 1, 1), // RasterPixelIsArea
                (if (isGeo) 2048 else 3072, 0, 1, crs.srid)), Nil, "")
            case tm: CRS.TransverseMercator if tm.a == wgs.a && tm.f == wgs.f =>
              (Seq(
                (1024, 0, 1, 1), // GTModelType = projected
                (1025, 0, 1, 1), // RasterPixelIsArea
                (KGeographicType, 0, 1, 4326), // datum: WGS84 (guarded above)
                (KProjectedCSType, 0, 1, UserDefined),
                (KProjection, 0, 1, UserDefined),
                (KProjCoordTrans, 0, 1, 1), // CT_TransverseMercator
                (KProjNatOriginLong, TGeoDoubleParams, 1, 0),
                (KProjNatOriginLat, TGeoDoubleParams, 1, 1),
                (KProjScaleAtNatOrigin, TGeoDoubleParams, 1, 2),
                (KProjFalseEasting, TGeoDoubleParams, 1, 3),
                (KProjFalseNorthing, TGeoDoubleParams, 1, 4)),
                Seq(tm.lon0Deg, tm.lat0Deg, tm.k0, tm.fe, tm.fnParam), "")
            case g: CRS.Geographic =>
              // user-defined geographic: ellipsoid via semi-major (2057) +
              // inverse flattening (2059; 0 = sphere, the GeoTIFF convention)
              (Seq(
                (1024, 0, 1, 2), // GTModelType = geographic
                (1025, 0, 1, 1),
                (KGeographicType, 0, 1, UserDefined),
                (KGeogSemiMajor, TGeoDoubleParams, 1, 0),
                (KGeogInvFlattening, TGeoDoubleParams, 1, 1)),
                Seq(g.a, if (g.f == 0) 0.0 else 1.0 / g.f), "")
            case other =>
              // user-defined projected beyond WGS84-tmerc (param-only
              // lcc/laea/aea/stere, non-WGS84 tmerc): the geokeys cannot
              // name it, and writing 3072 = 32767 made the file
              // UNREADABLE (fromSrid throws on UserDefined). Write the
              // engine's serialized form as a PCSCitation ASCII key —
              // the reader parses it back; '|' is the GeoTIFF ASCII
              // terminator convention.
              val s = CRS.serialize(other) + "|"
              (Seq(
                (1024, 0, 1, 1), // GTModelType = projected
                (1025, 0, 1, 1),
                (KProjectedCSType, 0, 1, UserDefined),
                (KPCSCitation, TGeoAsciiParams, s.length, 0)), Nil, s)
          }
        val keys = keys0 ++ shift.map(_ =>
          (KGeogTowgs84, TGeoDoubleParams, 7, dbl0.size)).toSeq
        val dbl = dbl0 ++ shift.toSeq.flatMap(h =>
          Seq(h.dx, h.dy, h.dz, h.rx, h.ry, h.rz, h.dsPpm))
        // GeoTIFF spec requires keys sorted by id (strict readers reject
        // out-of-order directories) — sort, mirroring the IFD-entry sort
        val sorted = keys.sortBy(_._1)
        (shorts(Seq(1, 1, 0, sorted.size) ++
          sorted.flatMap(k => Seq(k._1, k._2, k._3, k._4))), dbl, asc0)
      }
      val entries = Seq.newBuilder[(Int, Int, Int, Array[Byte])] // (tag, type, count, value)
      subfile.foreach(s => entries += ((TNewSubfileType, 4, 1, longVal(s.toLong))))
      entries += dimEntry(TWidth, bm.width)
      entries += dimEntry(THeight, bm.height)
      entries += ((TBitsPerSample, 3, bm.bands, shorts(Seq.fill(bm.bands)(bits))))
      entries += ((TCompression, 3, 1, shortVal(if (compress) 8 else 1)))
      entries += ((TPhotometric, 3, 1, shortVal(1)))
      entries += ((TSamplesPerPixel, 3, 1, shortVal(bm.bands)))
      if (tiled) {
        entries += ((TTileWidth, 3, 1, shortVal(tileSize)))
        entries += ((TTileLength, 3, 1, shortVal(tileSize)))
        entries += ((TTileOffsets, offTyp, blocks.size, offArr(Seq.fill(blocks.size)(0L)))) // patched
        entries += ((TTileByteCounts, offTyp, blocks.size, offArr(blocks.map(_.length.toLong))))
      } else {
        entries += ((TStripOffsets, offTyp, 1, offArr(Seq(0L)))) // patched
        entries += dimEntry(TRowsPerStrip, bm.height)
        entries += ((TStripByteCounts, offTyp, 1, offArr(Seq(blocks.head.length.toLong))))
      }
      entries += ((TPlanarConfig, 3, 1, shortVal(2))) // band-planar
      entries += ((TSampleFormat, 3, bm.bands, shorts(Seq.fill(bm.bands)(sampleFormat(bm.dtype)))))
      if (img.transform.c2 == 0 && img.transform.c4 == 0) {
        entries += ((TModelPixelScale, 12, 3, doubles(Seq(img.transform.rx, -img.transform.ry, 0))))
        entries += ((TModelTiepoint, 12, 6, doubles(Seq(0, 0, 0, img.transform.c0, img.transform.c3, 0))))
      } else {
        // rotated grid (world-file imports can carry shear terms):
        // PixelScale+Tiepoint cannot express it — write the full
        // ModelTransformation matrix instead of silently axis-aligning
        val t = img.transform
        entries += ((TModelTransformation, 12, 16, doubles(Seq(
          t.c1, t.c2, 0, t.c0,
          t.c4, t.c5, 0, t.c3,
          0, 0, 0, 0,
          0, 0, 0, 1))))
      }
      entries += ((TGeoKeyDirectory, 3, geoKeys.length / 2, geoKeys))
      if (geoDoubles.nonEmpty)
        entries += ((TGeoDoubleParams, 12, geoDoubles.size, doubles(geoDoubles)))
      if (geoAscii.nonEmpty)
        entries += ((TGeoAsciiParams, 2, geoAscii.length,
          geoAscii.getBytes("US-ASCII")))
      // GDAL nodata convention: ASCII, NUL-terminated ("nan" for NaN) —
      // lets readers fill sparse tiles and carry nodata across files
      val ndStr = (if (noData.isNaN) "nan" else noData.toString) + "\u0000"
      entries += ((TGdalNoData, 2, ndStr.length, ndStr.getBytes("US-ASCII")))
      val tpb = if (tiled)
        ((bm.width + tileSize - 1) / tileSize) * ((bm.height + tileSize - 1) / tileSize)
      else 1
      // TIFF 6.0 requires IFD entries in ascending tag order
      PendingIfd(entries.result().sortBy(_._1), blocks,
        if (tiled) TTileOffsets else TStripOffsets, rIdx, zIdx, bm.bands, tpb)
    }

    val pend0 = images.zipWithIndex.flatMap { case (img, rIdx) =>
      val base = ifdFor(img, None, rIdx, 0)
      val ovs =
        if (overviewsMinSize > 0) {
          var cur = img
          (0 until nbOverviews(img.bitmap.width, img.bitmap.height, overviewsMinSize)).map { z =>
            val down = downsample2(cur.bitmap, noData)
            val t = cur.transform.multiply(Affine.scale(2, 2))
            cur = Image(down, t, cur.crs)
            ifdFor(cur, Some(1), rIdx, z + 1)
          }
        } else Nil
      base +: ovs
    }
    // MuCOG per-zoom IFD grouping (mucog.go:30-48): a zoom-led interlacing
    // pattern (every chain's outermost level is Z — the timeseries default)
    // also groups the DIRECTORIES by zoom: all full-res IFDs first in
    // record order, then each overview level across records, so an
    // overview-heavy timeseries reads one zoom's metadata in one
    // contiguous range. Other patterns keep record-major IFDs (each
    // record's overviews directly after it). Data-block order is governed
    // by the interlacing pattern either way.
    val pend =
      if (interlacing.nonEmpty && Interlacing.zoomLed(Interlacing.parse(interlacing)))
        pend0.sortBy(p => (p.zIdx, p.rIdx))
      else pend0

    // ---- layout: header | ALL IFDs + their out-of-line values at the head
    // (COG: a reader fetches every directory in one small head range-read) |
    // data blocks, ordered by the interlacing pattern (MuCOG locality).
    val (countSize, entrySize, nextSize) = if (big) (8, 20, 8) else (2, 12, 4)
    val ifdSizes = pend.map(p => countSize + p.entries.size * entrySize + nextSize)
    val extrasSizes = pend.map(_.entries.collect {
      case (_, _, _, v) if v.length > inlineCap => v.length
    }.sum)
    val ifdStarts = pend.indices.map(i =>
      headerSize + (0 until i).map(j => ifdSizes(j) + extrasSizes(j)).sum)
    val dataStart = headerSize + pend.indices.map(i => ifdSizes(i) + extrasSizes(i)).sum

    // data-block emission order: (pendIdx, blockIdx)
    val order: Seq[(Int, Int)] =
      if (interlacing.isEmpty)
        pend.indices.flatMap(i => pend(i).blocks.indices.map((i, _)))
      else {
        val byRZ = pend.zipWithIndex.map { case (p, i) => (p.rIdx, p.zIdx) -> i }.toMap
        val nRec = pend.map(_.rIdx).max + 1
        // precomputed lookup arrays: enumerate probes these callbacks at
        // every candidate leaf of its r×z×b×t cross product — an O(|pend|)
        // pend.count per probe would make block ordering quadratic in the
        // record count before a byte is written
        val zooms = new Array[Int](nRec)
        pend.foreach(p => zooms(p.rIdx) += 1)
        Interlacing.enumerate(Interlacing.parse(interlacing), nRec,
          r => zooms(r),
          r => pend(byRZ((r, 0))).bands,
          (r, z) => pend(byRZ((r, z))).tilesPerBand)
          .map { case (r, z, b, t) =>
            val i = byRZ((r, z)); (i, b * pend(i).tilesPerBand + t)
          }
      }
    require(order.size == pend.map(_.blocks.size).sum, "interlacing must cover every block")
    val blockOff = new java.util.HashMap[Long, java.lang.Long]()
    var cur = dataStart.toLong
    order.foreach { case (i, k) =>
      val len = pend(i).blocks(k).length
      // sparse (elided) blocks: offset 0, no bytes in the file
      blockOff.put((i.toLong << 32) | k, if (len == 0) 0L else cur)
      cur += len
    }
    // format address-space caps: classic TIFF offsets are unsigned 32-bit
    // (4 GiB); BigTIFF is unbounded for any practical container
    if (!big) require(cur <= 0xFFFFFFFFL,
      s"GeoTiff.write: file size $cur exceeds the 4 GiB classic-TIFF limit; write with bigTiff=true")

    val rendered = pend.zipWithIndex.map { case (p, i) =>
      val extraOff = ifdStarts(i) + ifdSizes(i)
      val extras = new java.io.ByteArrayOutputStream()
      var offsetsExtraPos = -1 // position inside extras of the offsets array
      // assign out-of-line positions (entry order = extras order)
      val resolved = p.entries.map { case (tag, typ, count, value) =>
        if (value.length <= inlineCap) (tag, typ, count, value, -1)
        else {
          val o = extraOff + extras.size()
          if (tag == p.offsetsTag) offsetsExtraPos = extras.size()
          extras.write(value)
          (tag, typ, count, value, o)
        }
      }
      def off(k: Int): Long = blockOff.get((i.toLong << 32) | k)
      val extrasArr = extras.toByteArray
      if (offsetsExtraPos >= 0) {
        val bb = ByteBuffer.wrap(extrasArr).order(ByteOrder.LITTLE_ENDIAN)
        if (big) p.blocks.indices.foreach(k => bb.putLong(offsetsExtraPos + 8 * k, off(k)))
        else p.blocks.indices.foreach(k => bb.putInt(offsetsExtraPos + 4 * k, off(k).toInt))
      }
      val ifd = ByteBuffer.allocate(ifdSizes(i)).order(ByteOrder.LITTLE_ENDIAN)
      if (big) ifd.putLong(p.entries.size.toLong) else ifd.putShort(p.entries.size.toShort)
      for ((tag, typ, count, value, o) <- resolved) {
        ifd.putShort(tag.toShort).putShort(typ.toShort)
        if (big) ifd.putLong(count.toLong) else ifd.putInt(count)
        if (tag == p.offsetsTag && o < 0) { // single inline block
          if (big) ifd.putLong(off(0)) else ifd.putInt(off(0).toInt)
        } else if (o >= 0) {
          if (big) ifd.putLong(o.toLong) else ifd.putInt(o)
        } else {
          ifd.put(java.util.Arrays.copyOf(value, inlineCap))
        }
      }
      val next = if (i == pend.size - 1) 0 else ifdStarts(i + 1)
      if (big) ifd.putLong(next.toLong) else ifd.putInt(next)
      (ifd.array(), extrasArr)
    }
    if (big) header.putLong(ifdStarts.head.toLong) else header.putInt(ifdStarts.head)
    os.write(header.array())
    rendered.foreach { case (a, b) => os.write(a); os.write(b) }
    order.foreach { case (i, k) => os.write(pend(i).blocks(k)) }
    cur // == dataStart + Σ block lengths: the total bytes written
  }

  // ----------------------------------------------------------------- read

  /** A TIFF this codec cannot read: truncated, corrupt, or outside the
    * supported subset. An IllegalArgumentException, so callers that map
    * bad input to a client error (HttpEdge's 400) need no new case. */
  final class MalformedTiff(msg: String) extends IllegalArgumentException(msg)

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new MalformedTiff(msg)

  /** Positioned-read primitive: fill `buf[off, off + len)` from file
    * position `pos` — Hadoop `FSDataInputStream.readFully`, an HTTP range
    * GET, or [[bytesReadAt]] over an in-memory file. */
  type ReadAt = (Long, Array[Byte], Int, Int) => Unit

  /** [[ReadAt]] over an in-memory file, refusing any range past its end. */
  def bytesReadAt(data: Array[Byte]): ReadAt = (pos, buf, off, len) => {
    check(pos >= 0 && pos + len <= data.length,
      s"read of $len bytes at $pos beyond the ${data.length}-byte file")
    System.arraycopy(data, pos.toInt, buf, off, len)
  }

  /** Tags the reader interprets. Every other tag is skipped unread, so a
    * foreign file's far-away private tags (XMP, ICC) never grow the head. */
  private val KnownTags = Set(TNewSubfileType, TWidth, THeight, TBitsPerSample,
    TCompression, TStripOffsets, TSamplesPerPixel, TRowsPerStrip,
    TStripByteCounts, TTileWidth, TTileLength, TTileOffsets, TTileByteCounts,
    TSampleFormat, TModelPixelScale, TModelTiepoint, TModelTransformation,
    TGeoKeyDirectory, TGeoDoubleParams, TGeoAsciiParams, TGdalNoData)

  private def typeSize(typ: Int): Int = typ match {
    case 1 | 2 | 6 | 7 => 1 // BYTE/ASCII/SBYTE/UNDEFINED
    case 3 | 8 => 2 // SHORT/SSHORT
    case 4 | 9 | 11 | 13 => 4 // LONG/SLONG/FLOAT/IFD
    case _ => 8 // RATIONAL/SRATIONAL/DOUBLE/LONG8/SLONG8/IFD8
  }

  /** One IFD entry of a known tag. The scan has already proven its
    * `count` elements lie inside the buffered head, starting at
    * `dataPos` (the inline value field, or the out-of-line range), for
    * classic TIFF and BigTIFF alike. */
  private[raster] final class TagEntry(bb: ByteBuffer, val typ: Int,
      val count: Int, dataPos: Int) {
    def shortAt(k: Int): Int = bb.getShort(dataPos + 2 * k) & 0xffff
    def doubleAt(k: Int): Double = bb.getDouble(dataPos + 8 * k)
    def byteAt(k: Int): Byte = bb.get(dataPos + k)
    /** Element k widened to Long — SHORT, unsigned LONG, or LONG8. */
    def longAt(k: Int): Long = typ match {
      case 3 => shortAt(k).toLong
      // LONG values are UNSIGNED 32-bit: mask, don't sign-extend — a
      // classic TIFF may address up to 4 GiB
      case 4 => bb.getInt(dataPos + 4 * k).toLong & 0xffffffffL
      case 16 | 17 => bb.getLong(dataPos + 8 * k)
      case t => throw new MalformedTiff(s"integer tag stored as TIFF type $t")
    }
  }

  /** The buffered head ends before byte `end` of the file. */
  private final class ShortHead(val end: Long)
      extends RuntimeException(null, null, false, false)

  /** Walk every IFD of a little-endian classic TIFF (version 42) or
    * BigTIFF (version 43: 8-byte offsets/counts, 20-byte entries, the
    * format GDAL emits for >4 GiB files) inside the buffered head `buf`.
    * Each structure and each known tag's value is bounds-checked before
    * it is read: a read past `buf` throws [[ShortHead]] naming the byte it
    * needs, so no count is trusted before its bytes exist. A next-IFD
    * pointer back to a visited IFD is refused. */
  private def scanIfds(buf: Array[Byte]): IndexedSeq[Map[Int, TagEntry]] = {
    val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    def need(end: Long): Unit = if (end > buf.length) throw new ShortHead(end)
    need(8)
    check(buf(0) == 'I' && buf(1) == 'I', "only little-endian TIFF supported")
    val ver = bb.getShort(2)
    check(ver == 42 || ver == 43, "not a TIFF")
    val big = ver == 43
    if (big) {
      need(16)
      check(bb.getShort(4) == 8 && bb.getShort(6) == 0, "malformed BigTIFF header")
    }
    val (countSize, entrySize, inlineCap) = if (big) (8, 20, 8) else (2, 12, 4)
    def offsetAt(p: Long): Long = {
      need(p + inlineCap)
      if (big) bb.getLong(p.toInt) else bb.getInt(p.toInt).toLong & 0xffffffffL
    }
    val seen = scala.collection.mutable.HashSet.empty[Long]
    val out = IndexedSeq.newBuilder[Map[Int, TagEntry]]
    var ifdOff = offsetAt(if (big) 8 else 4)
    while (ifdOff != 0) {
      check(ifdOff > 0, s"IFD at negative offset $ifdOff")
      check(seen.add(ifdOff), s"IFD chain loops back to offset $ifdOff")
      need(ifdOff + countSize)
      val n =
        if (big) bb.getLong(ifdOff.toInt) else (bb.getShort(ifdOff.toInt) & 0xffff).toLong
      check(n >= 0 && n <= Int.MaxValue / entrySize, s"IFD entry count $n out of range")
      val base = ifdOff + countSize
      need(base + n * entrySize + inlineCap) // entries + next-IFD pointer
      var tags = Map.empty[Int, TagEntry]
      var i = 0
      while (i < n) {
        val e = (base + i.toLong * entrySize).toInt
        val tag = bb.getShort(e) & 0xffff
        if (KnownTags(tag)) {
          val typ = bb.getShort(e + 2) & 0xffff
          val count =
            if (big) bb.getLong(e + 4) else bb.getInt(e + 4).toLong & 0xffffffffL
          check(count >= 0 && count <= Int.MaxValue, s"tag $tag count $count out of range")
          val bytes = count * typeSize(typ)
          val valuePos = e + (if (big) 12 else 8)
          val dataPos = if (bytes <= inlineCap) valuePos.toLong else offsetAt(valuePos)
          check(dataPos >= 0, s"tag $tag value at negative offset $dataPos")
          need(dataPos + bytes)
          tags += tag -> new TagEntry(bb, typ, count.toInt, dataPos.toInt)
        }
        i += 1
      }
      out += tags
      ifdOff = offsetAt(base + n * entrySize)
    }
    val ifds = out.result()
    // a first-IFD offset of 0 is a header with no image: refuse it here,
    // never as a NoSuchElementException from a caller's headers.head
    check(ifds.nonEmpty, "TIFF has no IFDs (first IFD offset is 0)")
    ifds
  }

  /** Buffer the head of the file and scan it: start with `initial` bytes
    * and, whenever the scan needs a byte past the buffer, grow it (at
    * least ×2, reading only the new bytes) until the scan completes. COG
    * and MuCOG layouts put every IFD and its values at the head, so the
    * parse reads the head and never a data block. */
  private def scanHead(readAt: ReadAt, fileLen: Long,
      initial: Int): IndexedSeq[Map[Int, TagEntry]] = {
    var buf = new Array[Byte](math.min(math.max(initial, 16).toLong, fileLen).toInt)
    readAt(0L, buf, 0, buf.length)
    var ifds: IndexedSeq[Map[Int, TagEntry]] = null
    while (ifds == null) {
      try ifds = scanIfds(buf)
      catch {
        case s: ShortHead =>
          check(s.end <= fileLen,
            s"TIFF structure at byte ${s.end} past the end of the $fileLen-byte file")
          val grown = math.min(fileLen, math.max(s.end, buf.length * 2L))
          check(grown <= Int.MaxValue, "TIFF head beyond 2 GiB — not a head-first layout")
          val next = java.util.Arrays.copyOf(buf, grown.toInt)
          readAt(buf.length.toLong, next, buf.length, next.length - buf.length)
          buf = next
      }
    }
    ifds
  }

  private def tagScalar(tags: Map[Int, TagEntry], tag: Int): Option[Long] =
    tags.get(tag).filter(_.count > 0).map(_.longAt(0))
  private def tagVal(tags: Map[Int, TagEntry], tag: Int, default: Int): Int =
    tagScalar(tags, tag).map(_.toInt).getOrElse(default)
  /** A scalar that must be a positive Int (dimensions, tile sizes). */
  private def tagPositive(tags: Map[Int, TagEntry], tag: Int, name: String,
      default: Long = -1): Int = {
    val v = tagScalar(tags, tag).getOrElse(default)
    check(v > 0 && v <= Int.MaxValue, s"$name $v out of range")
    v.toInt
  }
  private def tagShorts(tags: Map[Int, TagEntry], tag: Int): Seq[Int] =
    tags.get(tag) match {
      case Some(e) if e.typ == 3 => Seq.tabulate(e.count)(e.shortAt)
      case _ => Nil
    }
  private def tagDoubles(tags: Map[Int, TagEntry], tag: Int): Seq[Double] =
    tags.get(tag) match {
      case Some(e) if e.typ == 12 => Seq.tabulate(e.count)(e.doubleAt)
      case _ => Nil
    }
  private def tagLongs(tags: Map[Int, TagEntry], tag: Int): IndexedSeq[Long] =
    tags.get(tag).map(e => IndexedSeq.tabulate(e.count)(e.longAt)).getOrElse(IndexedSeq.empty)
  private def tagAscii(tags: Map[Int, TagEntry], tag: Int): String =
    tags.get(tag) match {
      case Some(e) if e.typ == 2 =>
        new String(Array.tabulate(e.count)(e.byteAt), "US-ASCII")
      case _ => ""
    }

  /** One directory's metadata, read from its tags alone — no block read,
    * no inflate, no Bitmap. `transform.rx` is what the level chooser
    * keys on. */
  final case class Header(width: Int, height: Int, bands: Int, dtype: DType,
      transform: Affine, crs: CRS, isOverview: Boolean)

  private def header(tags: Map[Int, TagEntry]): Header = {
    val crs =
      try crsFromGeoKeys(tagShorts(tags, TGeoKeyDirectory),
        tagDoubles(tags, TGeoDoubleParams), tagAscii(tags, TGeoAsciiParams))
      catch {
        case e: MalformedTiff => throw e
        case scala.util.control.NonFatal(e) =>
          throw new MalformedTiff(s"unreadable GeoKey CRS: ${e.getMessage}")
      }
    Header(
      tagPositive(tags, TWidth, "ImageWidth"), tagPositive(tags, THeight, "ImageLength"),
      tagPositive(tags, TSamplesPerPixel, "SamplesPerPixel", default = 1),
      dtypeOf(tagShorts(tags, TBitsPerSample).headOption.getOrElse(8),
        tagShorts(tags, TSampleFormat).headOption.getOrElse(1)),
      geoTransform(tagDoubles(tags, TModelPixelScale),
        tagDoubles(tags, TModelTiepoint), tagDoubles(tags, TModelTransformation)),
      crs, tagVal(tags, TNewSubfileType, 0) == 1)
  }

  /** Open a TIFF through positioned reads: ONE head parse yields every
    * directory's [[Header]] and each record's overview chain; pixels are
    * fetched only by [[Tiff.decode]]. A 256×256 request against a
    * multi-GiB container reads the head plus a few blocks — container
    * size stops mattering, BigTIFF past the 2 GiB array cap included.
    * Anything unreadable throws [[MalformedTiff]]. */
  def open(readAt: ReadAt, fileLen: Long, initial: Int = 256 * 1024): Tiff = {
    val ifds = scanHead(readAt, fileLen, initial)
    val headers = ifds.map(header)
    new Tiff(headers, chainIndices(headers), ifds, readAt, fileLen)
  }

  /** [[open]] over an in-memory file. */
  def open(data: Array[Byte]): Tiff = open(bytesReadAt(data), data.length.toLong)

  /** An opened TIFF: `headers` lists every directory in file order
    * (overviews included); `chains(r)` holds record r's directory indices,
    * full resolution first, then its overviews fine→coarse. The [[ReadAt]]
    * it was opened with must stay readable until the last [[decode]]. */
  final class Tiff private[GeoTiff] (val headers: IndexedSeq[Header],
      val chains: IndexedSeq[IndexedSeq[Int]], ifds: IndexedSeq[Map[Int, TagEntry]],
      readAt: ReadAt, fileLen: Long) {

    /** Number of records (full-resolution images, `GTIFF_DIR:1..n`). */
    def records: Int = chains.size

    /** The overview-level chooser (`-ovr AUTO`, image.go:401): the
      * directory of record `record` (0-based) whose |transform.rx| is the
      * coarsest still finer-or-equal than `targetRes` (source-CRS units per
      * pixel) — 1/4ᴷ of the pixels for a coarse request. Full resolution
      * when `targetRes <= 0` or no level is fine enough. It keys on the
      * transform every [[Header]] reports, so header-only and pixel reads
      * of the same file always agree. */
    def level(record: Int, targetRes: Double = 0.0): Int = {
      require(record >= 0 && record < chains.size,
        s"subdir ${record + 1} out of range 1..${chains.size}")
      val chain = chains(record)
      if (targetRes > 0)
        chain.filter(i => math.abs(headers(i).transform.rx) <= targetRes + 1e-9)
          .lastOption.getOrElse(chain.head)
      else chain.head
    }

    /** Fetch and decode directory `i`'s blocks. */
    def decode(i: Int): Image = decodeDirectory(ifds(i), headers(i), readAt, fileLen)

    /** Block offsets of directory `i` (test hook: the physical
      * interlacing order without a second TIFF parser). */
    private[raster] def blockOffsets(i: Int): Seq[Long] =
      tagLongs(ifds(i), TStripOffsets) ++ tagLongs(ifds(i), TTileOffsets)
  }

  /** zlib cannot expand input more than ~1032×: a block declaring more
    * decoded bytes than that is corrupt, refused before allocation. */
  private val MaxInflateRatio = 1032L

  private def inflate(data: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(data)
    val out = new Array[Byte](expected)
    var off = 0
    try {
      while (off < expected && !inf.finished()) {
        val n = inf.inflate(out, off, expected - off)
        // a truncated stream stalls asking for input it will never get
        check(n > 0 || !(inf.needsInput() || inf.needsDictionary()),
          s"deflate block ends after $off of $expected bytes")
        off += n
      }
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new MalformedTiff(s"corrupt deflate block: ${e.getMessage}")
    } finally inf.end()
    check(off == expected, s"inflate: got $off of $expected bytes")
    out
  }

  /** Decode ONE directory: validate every declared block against the file
    * and the raster size against the 2 GiB array cap, then fetch and
    * decode exactly this directory's blocks. */
  private def decodeDirectory(tags: Map[Int, TagEntry], hd: Header,
      readAt: ReadAt, fileLen: Long): Image = {
    val (w, h, bands, dt) = (hd.width, hd.height, hd.bands, hd.dtype)
    val sz = dt.sizeBytes
    val total = w.toLong * h * bands * sz
    check(total <= Int.MaxValue,
      s"$w×$h×$bands raster of $total bytes exceeds the 2 GiB in-memory limit")
    val compression = tagVal(tags, TCompression, 1)
    check(compression == 1 || compression == 8, s"unsupported TIFF compression $compression")
    val tiled = tags.contains(TTileOffsets)
    val offs = tagLongs(tags, if (tiled) TTileOffsets else TStripOffsets)
    val counts = tagLongs(tags, if (tiled) TTileByteCounts else TStripByteCounts)
    check(offs.nonEmpty && counts.size == offs.size,
      s"${offs.size} block offsets vs ${counts.size} byte counts")
    offs.indices.foreach { k =>
      check(offs(k) >= 0 && counts(k) >= 0 && offs(k) + counts(k) <= fileLen,
        s"block $k at ${offs(k)}+${counts(k)} past the end of the $fileLen-byte file")
    }
    // block k decoded to exactly `expected` bytes
    def block(k: Int, expected: Int): Array[Byte] = {
      check(if (compression == 1) counts(k) >= expected
        else expected <= counts(k) * MaxInflateRatio,
        s"block $k of ${counts(k)} bytes cannot hold $expected decoded bytes")
      val raw = new Array[Byte](counts(k).toInt)
      readAt(offs(k), raw, 0, raw.length)
      if (compression == 8) inflate(raw, expected)
      else if (raw.length == expected) raw
      else java.util.Arrays.copyOf(raw, expected)
    }
    // GDAL_NODATA ascii tag (sparse-tile fill value; "nan" for NaN)
    val noData: Double = {
      val str = tagAscii(tags, TGdalNoData).takeWhile(_ != '\u0000').trim
      if (str.isEmpty || str.equalsIgnoreCase("nan")) Double.NaN
      else scala.util.Try(str.toDouble).getOrElse(Double.NaN)
    }
    val bm =
      if (tiled) {
        // tiled layout (COG): assemble padded band-planar tiles
        val ts = tagPositive(tags, TTileWidth, "TileWidth")
        val tl = tagPositive(tags, TTileLength, "TileLength")
        check(ts.toLong * tl * sz <= Int.MaxValue, s"tile $ts×$tl exceeds 2 GiB")
        val ta = ((w + ts - 1L) / ts).toInt
        val td = ((h + tl - 1L) / tl).toInt
        check(offs.size == bands.toLong * ta * td,
          s"tile count ${offs.size} != $bands*$ta*$td")
        val px = new Array[Byte](total.toInt)
        val sparse = scala.collection.mutable.ArrayBuffer.empty[Int]
        var t = 0
        while (t < offs.size) {
          if (counts(t) == 0 || offs(t) == 0) sparse += t // SPARSE_OK elided tile
          else {
            val tile = block(t, ts * tl * sz)
            val band = t / (ta * td)
            val rem = t % (ta * td)
            val ty = rem / ta; val tx = rem % ta
            val rows = math.min(tl, h - ty * tl)
            val cols = math.min(ts, w - tx * ts)
            var r = 0
            while (r < rows) {
              val dst = ((band * h + ty * tl + r) * w + tx * ts) * sz
              System.arraycopy(tile, r * ts * sz, px, dst, cols * sz)
              r += 1
            }
          }
          t += 1
        }
        val out = Bitmap.fromBytes(px, w, h, bands, dt)
        // fill elided tiles with the declared nodata (GDAL sparse read)
        if (!(noData == 0.0)) sparse.foreach { t =>
          val band = t / (ta * td)
          val rem = t % (ta * td)
          val ty = rem / ta; val tx = rem % ta
          var y = ty * tl
          while (y < math.min((ty + 1) * tl, h)) {
            var x = tx * ts
            while (x < math.min((tx + 1) * ts, w)) {
              out.set(x, y, band, noData)
              x += 1
            }
            y += 1
          }
        }
        out
      } else if (offs.size == 1)
        Bitmap.fromBytes(block(0, total.toInt), w, h, bands, dt)
      else {
        // multi-strip layout (foreign writers: GDAL defaults RowsPerStrip
        // to ~8 KiB of rows): strips partition the image rows top-down —
        // decode each and concatenate. Multi-band multi-strip files
        // interleave samples within a row (chunky), which this
        // band-planar reader does not reassemble; the single-band case
        // (the common GDAL export) is exact.
        check(bands == 1, s"multi-strip decode supports 1 band, got $bands")
        val rps = tagPositive(tags, TRowsPerStrip, "RowsPerStrip", default = h)
        check(offs.size == (h + rps - 1L) / rps, s"strip count ${offs.size} != ceil($h/$rps)")
        val px = new Array[Byte](total.toInt)
        var i = 0
        var off = 0
        while (i < offs.size) {
          val expect = math.min(rps, h - i * rps) * w * sz
          System.arraycopy(block(i, expect), 0, px, off, expect)
          off += expect
          i += 1
        }
        Bitmap.fromBytes(px, w, h, bands, dt)
      }
    Image(bm, hd.transform, hd.crs)
  }

  /** 0-based record index of a subdir string — the ONE parser of the
    * reference's `GTIFF_DIR:n` addressing ("" or "1" = first; bare
    * numbers are 1-based), so the convention cannot drift between readers. */
  private[graft] def subdirIndex(subdir: String): Int = subdir.trim match {
    case "" => 0
    case s if s.startsWith("GTIFF_DIR:") => s.stripPrefix("GTIFF_DIR:").toInt - 1
    case s => s.toInt - 1
  }

  /** Associate every overview IFD with its record: per record, the
    * indices of its full-res directory + overview chain fine→coarse.
    * Handles both physical orders the writer produces — record-major
    * (each record's overviews directly after it) and MuCOG per-zoom
    * grouping (all full-res IFDs first, then each zoom level across
    * records; mucog.go:30-48), detected by whether any overview precedes
    * the last full-res directory. */
  private def chainIndices(headers: IndexedSeq[Header]): IndexedSeq[IndexedSeq[Int]] = {
    val fullPositions = headers.indices.filterNot(headers(_).isOverview)
    val n = fullPositions.size
    check(n > 0, "no full-resolution directory")
    if (fullPositions != (0 until n)) {
      // record-major: overviews of full k sit between full k and full k+1
      fullPositions.zipWithIndex.map { case (start, k) =>
        val end = if (k + 1 < n) fullPositions(k + 1) else headers.size
        start until end
      }
    } else {
      // zoom-grouped (or no overviews): walk each zoom group in record
      // order, matching every overview to the record whose next expected
      // ×2-decimated dims it has
      val builders = Array.fill(n)(IndexedSeq.newBuilder[Int])
      val cur = Array.tabulate(n)(r => (headers(r).width, headers(r).height))
      var rem = (n until headers.size).toList
      while (rem.nonEmpty) {
        var assigned = false
        var r = 0
        while (r < n && rem.nonEmpty) {
          val exp = ((cur(r)._1 + 1) / 2, (cur(r)._2 + 1) / 2)
          val h = headers(rem.head)
          if ((h.width, h.height) == exp) {
            builders(r) += rem.head; cur(r) = exp; rem = rem.tail; assigned = true
          }
          r += 1
        }
        check(assigned, "cannot associate zoom-grouped overview IFDs")
      }
      (0 until n).map(r => r +: builders(r).result())
    }
  }

  /** CRS from the GeoKeyDirectory shorts (+ GeoDoubleParams for the
    * user-defined transverse-Mercator / geographic-ellipsoid / towgs84
    * forms, + the PCSCitation ASCII for every other user-defined
    * projection). Read once per directory by [[open]]. */
  private def crsFromGeoKeys(geo: Seq[Int], dbl: Seq[Double],
      ascii: String = ""): CRS = {
    // keys start at index 4, stride 4: (id, loc, count, value)
    val entries4 = geo.drop(4).grouped(4).collect {
      case Seq(id, loc, count, v) => id -> ((loc, count, v))
    }.toMap
    val keys = entries4.map { case (id, (_, _, v)) => id -> v }
    def p(key: Int, default: Double): Double = entries4.get(key) match {
      case Some((TGeoDoubleParams, _, idx)) if idx < dbl.size => dbl(idx)
      case _ => default
    }
    def citation: Option[String] = entries4.get(KPCSCitation) match {
      case Some((TGeoAsciiParams, count, idx)) if idx + count <= ascii.length =>
        Some(ascii.substring(idx, idx + count).takeWhile(_ != '|').trim)
          .filter(_.nonEmpty)
      case _ => None
    }
    val base: CRS =
      if (keys.get(KProjectedCSType).contains(UserDefined) &&
          keys.get(KProjCoordTrans).contains(1))
        CRS.TransverseMercator(
          lon0Deg = p(KProjNatOriginLong, 0), lat0Deg = p(KProjNatOriginLat, 0),
          k0 = p(KProjScaleAtNatOrigin, 1), fe = p(KProjFalseEasting, 0),
          fnParam = p(KProjFalseNorthing, 0))
      else if (keys.get(KGeographicType).contains(UserDefined) &&
          entries4.contains(KGeogSemiMajor)) {
        val invF = p(KGeogInvFlattening, 0)
        CRS.Geographic(p(KGeogSemiMajor, 6378137.0),
          if (invF == 0) 0.0 else 1.0 / invF)
      } else if (keys.get(KProjectedCSType).contains(UserDefined) ||
          keys.get(KGeographicType).contains(UserDefined))
        // user-defined beyond the key-encoded families: the writer put
        // the serialized CRS in the PCSCitation; a file with NEITHER
        // projection keys NOR a citation is unreadable — say so, never
        // default to WGS84 (silently wrong georeferencing)
        citation.map(CRS.parse).getOrElse(throw new MalformedTiff(
          "user-defined CRS without projection keys or PCSCitation"))
      else
        keys.get(2048).orElse(keys.get(3072)).map(CRS.fromSrid).getOrElse(CRS.WGS84)
    // GeogTOWGS84GeoKey (2062): 3 or 7 datum-shift parameters
    entries4.get(KGeogTowgs84) match {
      case Some((TGeoDoubleParams, count, idx))
          if (count == 3 || count == 7) && idx + count <= dbl.size =>
        val ps = dbl.slice(idx, idx + count)
        val h =
          if (count == 3) CRS.Helmert(ps(0), ps(1), ps(2))
          else CRS.Helmert(ps(0), ps(1), ps(2), ps(3), ps(4), ps(5), ps(6))
        if (h.isIdentity) base else CRS.DatumShifted(base, h)
      case _ => base
    }
  }

}
