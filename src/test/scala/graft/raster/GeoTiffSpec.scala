package graft.raster

import graft.core.DType
import graft.geo.{Affine, CRS}
import org.scalatest.funsuite.AnyFunSuite

class GeoTiffSpec extends AnyFunSuite {

  /** `body`'s outcome, failing the test if it runs past 10 s (a parse
    * that loops forever must not hang the suite). */
  def within10s[T](body: => T): scala.util.Try[T] =
    java.util.concurrent.CompletableFuture.supplyAsync(() => scala.util.Try(body))
      .get(10, java.util.concurrent.TimeUnit.SECONDS)

  /** Full-resolution image of the first record. */
  def first(bytes: Array[Byte]): GeoTiff.Image = GeoTiff.open(bytes).decode(0)

  def img(w: Int, h: Int, dt: DType, vals: Array[Double], res: Double = 1.0,
      crs: CRS = CRS.WGS84): GeoTiff.Image =
    GeoTiff.Image(new Bitmap(w, h, 1, dt, vals),
      Affine.northUp(10, 20, res, -res), crs)

  test("single image round trip: pixels, transform, crs, dtype") {
    for (dt <- Seq(DType.UInt8, DType.Int16, DType.UInt16, DType.Int32, DType.Float32, DType.Float64)) {
      val vals: Array[Double] = dt match {
        case DType.Float32 | DType.Float64 => Array(-1.5, 0.25, 3.75, 42.0, 0.0, -7.0)
        case DType.UInt8 | DType.UInt16 => Array(0, 1, 2, 3, 200, 254)
        case _ => Array(-100, 0, 100, 3, -2, 1)
      }
      val bytes = GeoTiff.write(Seq(img(3, 2, dt, vals, crs = CRS.WebMercator)))
      val tiff = GeoTiff.open(bytes)
      assert(tiff.headers.size == 1)
      val got = tiff.decode(0)
      assert(got.bitmap.pixels.toSeq == vals.toSeq, s"dtype $dt")
      assert(got.bitmap.dtype == dt)
      assert(got.transform.c0 == 10.0 && got.transform.c3 == 20.0)
      assert(got.transform.rx == 1.0 && got.transform.ry == -1.0)
      assert(got.crs == CRS.WebMercator)
    }
  }

  test("BigTIFF (version 43) round trips: strips, tiles+deflate, overviews, sparse") {
    // strip layout, every dtype
    for (dt <- Seq(DType.UInt8, DType.Int16, DType.Float64)) {
      val vals: Array[Double] =
        if (dt == DType.Float64) Array(-1.5, 0.25, 3.75, 42.0, 0.0, -7.0)
        else Array(0, 1, 2, 3, 100, 101)
      val bytes = GeoTiff.write(Seq(img(3, 2, dt, vals)), bigTiff = true)
      assert(bytes(2) == 43 && bytes(3) == 0) // version 43, LE
      assert(java.nio.ByteBuffer.wrap(bytes).order(
        java.nio.ByteOrder.LITTLE_ENDIAN).getShort(4) == 8)
      val tiff = GeoTiff.open(bytes)
      val got = tiff.decode(0)
      assert(tiff.headers.size == 1 && got.bitmap.pixels.toSeq == vals.toSeq)
      assert(got.bitmap.dtype == dt)
      assert(got.transform.c0 == 10.0)
      assert(got.crs == CRS.WGS84)
    }
    // tiled + deflate + overviews + sparse: the full MuCOG feature set
    val vals = Array.tabulate(32 * 32)(i => if (i < 512) (i % 250).toDouble else 7.0)
    val big = GeoTiff.write(Seq(img(32, 32, DType.UInt8, vals)), noData = 7.0,
      overviewsMinSize = 16, compress = true, tileSize = 16, sparseOk = true,
      bigTiff = true)
    val classic = GeoTiff.write(Seq(img(32, 32, DType.UInt8, vals)), noData = 7.0,
      overviewsMinSize = 16, compress = true, tileSize = 16, sparseOk = true)
    val tb = GeoTiff.open(big)
    val tc = GeoTiff.open(classic)
    // the header parse auto-detects the format
    assert(tb.headers.map(h => (h.width, h.height, h.isOverview)) ==
      tc.headers.map(h => (h.width, h.height, h.isOverview)))
    tb.headers.indices.foreach { i =>
      assert(tb.decode(i).bitmap.pixels.toSeq == tc.decode(i).bitmap.pixels.toSeq)
    }
    // multiband: 6-byte BitsPerSample sits inline in BigTIFF (8-byte value
    // field) but out-of-line in classic — both must parse identically
    val mb = GeoTiff.Image(new Bitmap(4, 4, 3, DType.UInt16,
      Array.tabulate(48)(i => (i * 37 % 1000).toDouble)),
      Affine.northUp(0, 4, 1, -1), CRS.WGS84)
    val mbBig = first(GeoTiff.write(Seq(mb), bigTiff = true))
    assert(mbBig.bitmap.bands == 3 && mbBig.bitmap.dtype == DType.UInt16)
    assert(mbBig.bitmap.pixels.toSeq == mb.bitmap.pixels.toSeq)

    // block-offset diagnostic reads the LONG8 arrays; sparse blocks stay 0
    val offs = tb.blockOffsets(0)
    assert(offs.size == 4 && offs.count(_ == 0) == 2) // 2 data, 2 elided tiles

    // the streaming writer is byte-identical to the in-memory one and
    // reports the exact size (the >2 GiB export path rides on it)
    val bos = new java.io.ByteArrayOutputStream()
    val n = GeoTiff.writeTo(Seq(img(32, 32, DType.UInt8, vals)), bos,
      noData = 7.0, overviewsMinSize = 16, compress = true, tileSize = 16,
      sparseOk = true, bigTiff = true)
    assert(n == big.length.toLong)
    assert(java.util.Arrays.equals(bos.toByteArray, big))
  }

  test("open parses the head from ranges only, growing on demand") {
    // pseudo-random pixels: deflate can't shrink them, so the data region
    // dwarfs the IFD head and the range-read assertion has real margin
    val imgs = (1 to 4).map(v => img(64, 64, DType.UInt8,
      Array.tabulate(64 * 64)(i => ((i * 2654435761L + v * 97) % 251).toDouble)))
    for (bigTiff <- Seq(false, true)) {
      val bytes = GeoTiff.write(imgs, overviewsMinSize = 32, compress = true,
        tileSize = 16, bigTiff = bigTiff)
      var maxPos = 0L
      var calls = 0
      def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
        calls += 1
        maxPos = math.max(maxPos, pos + len)
        System.arraycopy(bytes, pos.toInt, buf, off, len)
      }
      // tiny initial buffer forces geometric growth through the IFD region
      val hs = GeoTiff.open(readAt, bytes.length.toLong, initial = 64).headers
      assert(hs.count(!_.isOverview) == 4 && hs.exists(_.isOverview))
      assert(hs.forall(h => h.transform.c0 == 10.0 && h.crs == CRS.WGS84))
      // never read past the head region (IFDs + extras), far short of the file
      assert(maxPos < bytes.length, s"read $maxPos of ${bytes.length}")
      assert(calls >= 2) // growth actually happened from the 64-byte start
      // big-enough initial: one read, same headers
      calls = 0
      assert(GeoTiff.open(readAt, bytes.length.toLong).headers == hs)
      assert(calls == 1)
    }
  }

  test("decode reads the head plus the chosen level's blocks only") {
    val imgs = (1 to 4).map(v => img(64, 64, DType.UInt8,
      Array.tabulate(64 * 64)(i => ((i * 2654435761L + v * 97) % 251).toDouble)))
    for (bigTiff <- Seq(false, true)) {
      val bytes = GeoTiff.write(imgs, overviewsMinSize = 32, compress = true,
        tileSize = 16, bigTiff = bigTiff)
      var bytesRead = 0L
      def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
        bytesRead += len
        System.arraycopy(bytes, pos.toInt, buf, off, len)
      }
      val tiff = GeoTiff.open(readAt, bytes.length.toLong, initial = 4096)
      // full-res subdir 3 is the written image, bit for bit
      val full = tiff.decode(tiff.level(2))
      assert(full.bitmap.pixels.toSeq == imgs(2).bitmap.pixels.toSeq)
      assert(full.transform == imgs(2).transform && full.crs == imgs(2).crs)
      // coarse request decodes the overview level
      val coarse = tiff.decode(tiff.level(2, targetRes = 2.0))
      assert(coarse.bitmap.width == 32 && coarse.transform.rx == 2.0)
      // both decodes together touched far less than the file
      assert(bytesRead < bytes.length, s"read $bytesRead of ${bytes.length}")
    }
  }

  test("a TIFF whose first IFD offset is 0 fails with an explicit no-IFDs error") {
    // "II", version 42, first-IFD offset 0, padded past the 16-byte floor
    val bytes = Array[Byte]('I', 'I', 42, 0, 0, 0, 0, 0) ++ new Array[Byte](8)
    val e = intercept[GeoTiff.MalformedTiff](GeoTiff.open(bytes))
    assert(e.getMessage.contains("no IFDs"))
  }

  test("a next-IFD pointer back to an earlier IFD is refused, not followed forever") {
    val stack = GeoTiff.write(Seq(
      img(2, 2, DType.UInt8, Array(1, 2, 3, 4)), img(2, 2, DType.UInt8, Array(5, 6, 7, 8))))
    for (bytes <- Seq(stack, GeoTiff.write(Seq(img(2, 2, DType.UInt8, Array(1, 2, 3, 4))),
        bigTiff = true))) {
      val ifds = TiffFixtures.ifds(bytes)
      // the last IFD links back to the first: an endless chain at the parse
      val looped = TiffFixtures.patchNextIfd(bytes, ifds.size - 1, ifds.head.offset)
      val e = intercept[GeoTiff.MalformedTiff](within10s(GeoTiff.open(looped)).get)
      assert(e.getMessage.contains("loops back"), e.getMessage)
    }
  }

  test("a deflate block cut short fails typed instead of stalling the inflater") {
    val vals = Array.tabulate(32 * 32)(i => ((i * 2654435761L) % 251).toDouble)
    for (bigTiff <- Seq(false, true)) {
      val bytes = GeoTiff.write(Seq(img(32, 32, DType.UInt8, vals)), compress = true,
        tileSize = 16, bigTiff = bigTiff)
      // tile 0 declares only the first 8 bytes of its zlib stream
      val cut = TiffFixtures.patchField(bytes, TiffFixtures.field(bytes, 0, 325, 0), 8)
      val e = intercept[GeoTiff.MalformedTiff](within10s(GeoTiff.open(cut).decode(0)).get)
      assert(e.getMessage.contains("deflate block ends"), e.getMessage)
    }
  }

  test("multi-IFD stack addressed via GTIFF_DIR:n") {
    val a = img(2, 2, DType.UInt8, Array(1, 2, 3, 4))
    val b = img(2, 2, DType.UInt8, Array(9, 8, 7, 6))
    val tiff = GeoTiff.open(GeoTiff.write(Seq(a, b)))
    assert(tiff.headers.size == 2 && tiff.records == 2)
    def subdir(s: String) = tiff.decode(tiff.level(GeoTiff.subdirIndex(s))).bitmap.pixels.toSeq
    assert(subdir("GTIFF_DIR:1") == Seq(1.0, 2, 3, 4))
    assert(subdir("GTIFF_DIR:2") == Seq(9.0, 8, 7, 6))
    assert(subdir("") == Seq(1.0, 2, 3, 4))
    assertThrows[IllegalArgumentException](subdir("GTIFF_DIR:3"))
  }

  test("overview pyramid: count, averaging, subfile flag") {
    assert(GeoTiff.nbOverviews(1024, 1024, 256) == 2)
    assert(GeoTiff.nbOverviews(256, 256, 256) == 0)
    assert(GeoTiff.nbOverviews(1000, 200, 256) == 2)

    val base = img(4, 4, DType.Float32, Array.tabulate(16)(_.toDouble))
    val bytes = GeoTiff.write(Seq(base), noData = Double.NaN, overviewsMinSize = 2)
    val tiff = GeoTiff.open(bytes)
    assert(tiff.headers.map(_.isOverview) == Seq(false, true))
    val ov = tiff.decode(1)
    assert(ov.bitmap.width == 2 && ov.bitmap.height == 2)
    assert(ov.bitmap.get(0, 0, 0) === 2.5) // mean of {0,1,4,5}
    assert(ov.transform.rx === 2.0) // res doubled
    // full-res level ignores overviews
    assert(tiff.records == 1 && tiff.decode(tiff.level(0)).bitmap.width == 4)
  }

  test("overview-aware resolution selection (-ovr AUTO)") {
    val base = img(8, 8, DType.Float32, Array.tabulate(64)(_.toDouble))
    val tiff = GeoTiff.open(GeoTiff.write(Seq(base), overviewsMinSize = 2))
    // 3 levels: 8(res1) → 4(res2) → 2(res4)
    assert(tiff.decode(tiff.level(0, 1.0)).bitmap.width == 8)
    assert(tiff.decode(tiff.level(0, 2.5)).bitmap.width == 4)
    assert(tiff.decode(tiff.level(0, 100.0)).bitmap.width == 2)
    // finer than full resolution, or no target: full resolution
    assert(tiff.level(0, 0.5) == 0 && tiff.level(0) == 0)
  }

  test("downsample2 skips nodata in the average") {
    val bm = new Bitmap(2, 2, 1, DType.Float32, Array(10.0, Double.NaN, Double.NaN, 30.0))
    val down = GeoTiff.downsample2(bm, Double.NaN)
    assert(down.get(0, 0, 0) === 20.0)
    val allNo = GeoTiff.downsample2(
      new Bitmap(2, 2, 1, DType.Float32, Array.fill(4)(Double.NaN)), Double.NaN)
    assert(allNo.get(0, 0, 0).isNaN)
  }

  test("deflate compression (Compression=8) round trips and shrinks") {
    val vals = Array.tabulate(64 * 64)(i => (i % 7).toDouble) // compressible
    val base = img(64, 64, DType.UInt8, vals)
    val plain = GeoTiff.write(Seq(base))
    val packed = GeoTiff.write(Seq(base), compress = true)
    assert(packed.length < plain.length / 2)
    val got = first(packed)
    assert(got.bitmap.pixels.toSeq == vals.toSeq)
    // compressed + overviews together
    val withOv = GeoTiff.open(GeoTiff.write(Seq(base), overviewsMinSize = 32, compress = true))
    assert(withOv.headers.map(_.isOverview) == Seq(false, true))
    assert(withOv.decode(1).bitmap.width == 32)
  }

  test("serving-edge compress + chunk round trip (F11/D7)") {
    import graft.cube.Compress
    val data = Array.tabulate[Byte](2 * Compress.ChunkSize + 100)(i => (i % 250).toByte)
    val packed = Compress.deflate(data, 6)
    assert(packed.length < data.length)
    assert(Compress.inflate(packed).toSeq == data.toSeq)
    // negative levels disable compression (catalog.proto:105 semantics)
    assert(Compress.deflate(data, -3) eq data)
    assertThrows[IllegalArgumentException](Compress.deflate(data, 10))
    val parts = Compress.chunk(data)
    assert(parts.size == 3)
    assert(parts.forall(_._2.length <= Compress.ChunkSize))
    assert(Compress.assemble(scala.util.Random.shuffle(parts)).toSeq == data.toSeq)
  }

  test("tiled (COG) layout round trips: padding, multiband, compression") {
    // 40×35 with 16px tiles: 3×3 tile grid, right/bottom tiles padded
    val vals = Array.tabulate(40 * 35)(i => (i % 251).toDouble)
    val base = img(40, 35, DType.UInt8, vals)
    for (compress <- Seq(false, true)) {
      val bytes = GeoTiff.write(Seq(base), compress = compress, tileSize = 16)
      val got = first(bytes)
      assert(got.bitmap.width == 40 && got.bitmap.height == 35)
      assert(got.bitmap.pixels.toSeq == vals.toSeq, s"compress=$compress")
      assert(got.transform.c0 == 10.0 && got.crs == CRS.WGS84)
    }
    // multiband planar tiled
    val mb = GeoTiff.Image(
      new Bitmap(20, 18, 3, DType.Int16,
        Array.tabulate(20 * 18 * 3)(i => (i % 1000 - 500).toDouble)),
      Affine.northUp(0, 0, 1, -1), CRS.WebMercator)
    val got2 = first(GeoTiff.write(Seq(mb), tileSize = 16))
    assert(got2.bitmap.bands == 3)
    assert(got2.bitmap.pixels.toSeq == mb.bitmap.pixels.toSeq)
    // float dtype tiled + compressed
    val f = img(17, 17, DType.Float64, Array.tabulate(17 * 17)(i => i * 0.25 - 3))
    val got3 = first(GeoTiff.write(Seq(f), compress = true, tileSize = 16))
    assert(got3.bitmap.pixels.toSeq == f.bitmap.pixels.toSeq)
    // tile size must be a multiple of 16 (TIFF 6.0)
    assertThrows[IllegalArgumentException](GeoTiff.write(Seq(f), tileSize = 10))
  }

  test("tiled stack with overviews: -ovr AUTO + GTIFF_DIR addressing still work") {
    val a = img(64, 64, DType.UInt8, Array.tabulate(64 * 64)(i => (i % 200).toDouble))
    val b = img(64, 64, DType.UInt8, Array.tabulate(64 * 64)(i => ((i + 7) % 200).toDouble))
    val tiff = GeoTiff.open(
      GeoTiff.write(Seq(a, b), overviewsMinSize = 16, compress = true, tileSize = 16))
    assert(tiff.headers.map(_.isOverview) == Seq(false, true, true, false, true, true))
    assert(tiff.decode(tiff.level(1)).bitmap.pixels.toSeq == b.bitmap.pixels.toSeq)
    assert(tiff.decode(tiff.level(0, 1.0)).bitmap.width == 64)
    assert(tiff.decode(tiff.level(0, 2.0)).bitmap.width == 32)
    assert(tiff.decode(tiff.level(1, 4.0)).bitmap.width == 16)
  }

  test("interlacing pattern parse + enumerate semantics") {
    // MuCOG: full-res grouped per tile across records, overviews per-record
    val chains = Interlacing.parse("Z=0>T>R>B;Z=1:>R>T>B")
    assert(chains.size == 2)
    // 2 records, 2 zoom levels each, 1 band, 2 tiles at z0, 1 tile at z1
    val order = Interlacing.enumerate(chains, 2,
      _ => 2, _ => 1, (_, z) => if (z == 0) 2 else 1)
    assert(order == Seq(
      (0, 0, 0, 0), (1, 0, 0, 0), // z0 tile0: both records adjacent
      (0, 0, 0, 1), (1, 0, 0, 1), // z0 tile1
      (0, 1, 0, 0), (1, 1, 0, 0))) // overviews per record
    // selectors: bands split across chains; leftovers appended
    val sel = Interlacing.parse("B=0>R>Z>T")
    val o2 = Interlacing.enumerate(sel, 2, _ => 1, _ => 2, (_, _) => 1)
    assert(o2.take(2) == Seq((0, 0, 0, 0), (1, 0, 0, 0))) // band 0 first
    assert(o2.size == 4) // band 1 appended as leftover
    assertThrows[IllegalArgumentException](Interlacing.parse("R>B>Z")) // missing T
    assertThrows[IllegalArgumentException](Interlacing.parse("T=0>R>B>Z")) // T selector
    assertThrows[IllegalArgumentException](Interlacing.parse("X>R>B>Z"))
  }

  test("MuCOG physical layout: IFDs at head, timeseries-interlaced blocks") {
    val a = img(32, 32, DType.UInt8, Array.tabulate(32 * 32)(i => (i % 100).toDouble))
    val b = img(32, 32, DType.UInt8, Array.tabulate(32 * 32)(i => (i % 90).toDouble))
    val bytes = GeoTiff.write(Seq(a, b), overviewsMinSize = 16,
      tileSize = 16, interlacing = "Z=0>T>R>B;Z=1:>R>T>B")
    val tiff = GeoTiff.open(bytes)
    // content round-trips regardless of physical order
    assert(tiff.decode(tiff.level(0)).bitmap.pixels.toSeq == a.bitmap.pixels.toSeq)
    assert(tiff.decode(tiff.level(1)).bitmap.pixels.toSeq == b.bitmap.pixels.toSeq)
    // zoom-led pattern ⇒ per-zoom IFD grouping (mucog.go:30-48):
    // full-a, full-b, ov-a, ov-b; 4 tiles each full, 1 each ov
    val offA = tiff.blockOffsets(0)
    val offB = tiff.blockOffsets(1)
    val ovA = tiff.blockOffsets(2)
    val ovB = tiff.blockOffsets(3)
    val ts = 16 * 16 // uncompressed tile bytes
    // timeseries locality: record-b's tile k sits right after record-a's
    (0 until 4).foreach { k => assert(offB(k) == offA(k) + ts, s"tile $k") }
    // full-res pairs are contiguous: tile k+1 pair starts after both
    (0 until 3).foreach { k => assert(offA(k + 1) == offA(k) + 2 * ts) }
    // overviews after all full-res, per-record contiguous
    assert(ovA.head == offB(3) + ts && ovB.head == ovA.head + ts)
    // all metadata precedes all data (one head range-read gets every IFD)
    val allOffsets = offA ++ offB ++ ovA ++ ovB
    val totalData = allOffsets.size * ts
    assert(allOffsets.min == bytes.length - totalData)
    // overview association survives the grouped order: -ovr AUTO picks
    // each record's own 16×16 overview
    val ovAImg = tiff.decode(tiff.level(0, 2.5))
    val ovBImg = tiff.decode(tiff.level(1, 2.5))
    assert(ovAImg.bitmap.width == 16 && ovBImg.bitmap.width == 16)
    assert(ovAImg.bitmap.pixels.toSeq != ovBImg.bitmap.pixels.toSeq) // a's vs b's

    // a non-zoom-led pattern keeps record-major IFDs: full-a, ov-a, full-b, ov-b
    val rm = GeoTiff.write(Seq(a, b), overviewsMinSize = 16,
      tileSize = 16, interlacing = "R>Z>B>T")
    val rmTiff = GeoTiff.open(rm)
    assert(rmTiff.headers.map(_.isOverview) == Seq(false, true, false, true))
    assert(rmTiff.decode(rmTiff.level(1, 2.5)).bitmap.pixels.toSeq ==
      ovBImg.bitmap.pixels.toSeq)
  }

  test("sparse tiles (SPARSE_OK): elided all-nodata blocks + GDAL_NODATA fill") {
    // 48×48 uint8, nodata 255: right third entirely nodata
    val vals = Array.tabulate(48 * 48) { i =>
      val x = i % 48; if (x >= 32) 255.0 else (i % 200).toDouble
    }
    val base = img(48, 48, DType.UInt8, vals)
    val dense = GeoTiff.write(Seq(base), noData = 255, tileSize = 16)
    val sparse = GeoTiff.write(Seq(base), noData = 255, tileSize = 16, sparseOk = true)
    // 3 of 9 tiles elided → exactly 3×256 bytes saved
    assert(dense.length - sparse.length == 3 * 16 * 16)
    val got = first(sparse)
    assert(got.bitmap.pixels.toSeq == vals.toSeq) // nodata filled back in
    // offsets of elided tiles are 0
    val offs = GeoTiff.open(sparse).blockOffsets(0)
    assert(offs.count(_ == 0L) == 3)

    // NaN-nodata float path, compressed
    val fvals = Array.tabulate(32 * 32) { i =>
      val y = i / 32; if (y < 16) Double.NaN else i * 0.5
    }
    val f = img(32, 32, DType.Float32, fvals)
    val sf = GeoTiff.write(Seq(f), noData = Double.NaN, tileSize = 16,
      compress = true, sparseOk = true)
    val gotF = first(sf)
    assert(gotF.bitmap.pixels.zip(fvals).forall { case (a, b) =>
      (a.isNaN && b.isNaN) || a == b
    })
  }

  test("custom tmerc CRS round-trips through GeoDoubleParams keys") {
    val tm = CRS.TransverseMercator(lon0Deg = 9, lat0Deg = 50,
      k0 = 1.0, fe = 3500000, fnParam = 200000)
    val im = img(3, 2, DType.UInt8, Array(1, 2, 3, 4, 5, 6), crs = tm)
    val got = first(GeoTiff.write(Seq(im)))
    assert(got.crs == tm) // full parameter fidelity, not just srid 32767
    assert(got.bitmap.pixels.toSeq == Seq(1.0, 2, 3, 4, 5, 6))
    // standard EPSG paths unchanged
    val utm = first(GeoTiff.write(Seq(
      img(2, 1, DType.UInt8, Array(7, 8), crs = CRS.UTM(33, north = true)))))
    assert(utm.crs == CRS.UTM(33, north = true))
  }

  test("user-defined non-tmerc CRS round-trips via PCSCitation (key 3073)") {
    // param-only LCC: srid 32767 in geokey 3072 alone used to make the
    // file UNREADABLE (fromSrid throws on UserDefined)
    val lcc = CRS.parse("+proj=lcc +lat_1=33 +lat_2=45 +lat_0=39 +lon_0=-95")
    val lccTiff = GeoTiff.open(GeoTiff.write(Seq(
      img(3, 2, DType.UInt8, Array(1, 2, 3, 4, 5, 6), crs = lcc))))
    assert(lccTiff.decode(0).crs == lcc)
    assert(lccTiff.headers.head.crs == lcc)
    // NON-WGS84 tmerc (Bessel): the WGS84-datum param branch must not
    // claim it — citation carries the ellipsoid
    val bessel = CRS.TransverseMercator(lon0Deg = 9, k0 = 1.0,
      fe = 500000, fnParam = 0, a = 6377397.155, f = 1.0 / 299.1528128)
    val gb = first(GeoTiff.write(Seq(
      img(3, 2, DType.UInt8, Array(1, 2, 3, 4, 5, 6), crs = bessel))))
    // the serialized +rf can differ by 1 ulp on the flattening — compare
    // projected coordinates (µm agreement), not case-class equality
    val (gx, gy) = gb.crs.fromLonLat(10.0, 51.0)
    val (ex, ey) = bessel.fromLonLat(10.0, 51.0)
    assert(math.abs(gx - ex) < 1e-6 && math.abs(gy - ey) < 1e-6,
      s"($gx,$gy) vs ($ex,$ey)")
    // a KNOWN EPSG tmerc (OSGB 27700, Airy) writes its CODE, never the
    // WGS84-datum param form that silently shifted the grid ~100 m
    val osgb = CRS.fromSrid(27700)
    val go = first(GeoTiff.write(Seq(
      img(3, 2, DType.UInt8, Array(1, 2, 3, 4, 5, 6), crs = osgb))))
    assert(go.crs == osgb)
  }

  test("multiband planar round trip") {
    val two = GeoTiff.Image(
      new Bitmap(2, 1, 2, DType.UInt8, Array(1, 2, 11, 12)),
      Affine.northUp(0, 0, 1, -1), CRS.WGS84)
    val got = first(GeoTiff.write(Seq(two)))
    assert(got.bitmap.bands == 2)
    assert(got.bitmap.pixels.toSeq == Seq(1.0, 2, 11, 12))
  }

  test("auto-BigTIFF (mucog.go:82): format switches on the pixel-volume bound") {
    // 65 sparse directories × 4096² uint32: dense pixel volume 4.36 GiB —
    // past the classic address space — so the auto mode must choose
    // version 43 on its own even though sparse elision keeps the actual
    // file tiny; a small write with the same flag stays classic 42
    val (w, ts, n) = (4096, 512, 65)
    val px = new Array[Double](w * w) // 0 = nodata
    px((2 * ts) * w + 3 * ts) = 9 // one data pixel → one materialized tile
    val img0 = GeoTiff.Image(new Bitmap(w, w, 1, DType.UInt32, px),
      Affine.northUp(0, 0, 1, -1), CRS.WGS84)
    val bos = new java.io.ByteArrayOutputStream()
    GeoTiff.writeTo(Seq.fill(n)(img0), bos, noData = 0.0, tileSize = ts,
      sparseOk = true, autoBigTiff = true)
    val bytes = bos.toByteArray
    assert(bytes(2) == 43 && bytes(3) == 0, s"not BigTIFF: ${bytes(2)}")
    val headers = GeoTiff.open(bytes).headers
    assert(headers.size == n && headers.head.width == w)
    val small = GeoTiff.write(Seq(img(2, 1, DType.UInt8, Array(1, 2))),
      autoBigTiff = true)
    assert(small(2) == 42, "small file must stay classic TIFF")
  }

  test("towgs84 datum + ellipsoid round-trip through geokeys 2057/2059/2062") {
    val osgbShift = CRS.Helmert(446.448, -125.157, 542.06,
      0.1502, 0.247, 0.8421, -20.4894)
    // geographic on Airy 1830 with the OSGB36 shift: ellipsoid via
    // GeogSemiMajor/GeogInvFlattening, datum via GeogTOWGS84GeoKey
    val airy = CRS.Geographic(6377563.396, 1.0 / 299.3249646)
    val g = first(GeoTiff.write(Seq(img(3, 2, DType.UInt8,
      Array(1, 2, 3, 4, 5, 6), crs = CRS.DatumShifted(airy, osgbShift)))))
    assert(g.crs == CRS.DatumShifted(airy, osgbShift))
    // projected base (custom tmerc) keeps its parameters alongside 2062
    val tm = CRS.TransverseMercator(lon0Deg = -2, lat0Deg = 49,
      k0 = 0.9996012717, fe = 400000, fnParam = -100000)
    val p = first(GeoTiff.write(Seq(img(3, 2, DType.UInt8,
      Array(1, 2, 3, 4, 5, 6), crs = CRS.DatumShifted(tm, osgbShift)))))
    assert(p.crs == CRS.DatumShifted(tm, osgbShift))
    // translation-only shifts survive too (3-parameter form reads back)
    val ed50 = CRS.DatumShifted(CRS.Geographic(6378388.0, 1.0 / 297.0),
      CRS.Helmert(-87, -98, -121))
    val e = first(GeoTiff.write(Seq(img(3, 2, DType.UInt8,
      Array(1, 2, 3, 4, 5, 6), crs = ed50))))
    assert(e.crs == ed50)
  }

  test("rotated transform round-trips via ModelTransformation (tag 34264)") {
    val rot = Affine(100, 2.0, 0.5, 200, -0.25, -2.0)
    val im = GeoTiff.Image(
      new Bitmap(3, 2, 1, DType.UInt8, Array(1, 2, 3, 4, 5, 6)), rot, CRS.WGS84)
    val tiff = GeoTiff.open(GeoTiff.write(Seq(im)))
    // full decode and headers-only agree on the exact rotated matrix —
    // PixelScale+Tiepoint alone would have silently axis-aligned it
    assert(tiff.decode(0).transform == rot)
    assert(tiff.headers.head.transform == rot)
    // axis-aligned images keep the compact scale+tiepoint form
    val plain = GeoTiff.write(Seq(img(3, 2, DType.UInt8, Array(1, 2, 3, 4, 5, 6))))
    assert(GeoTiff.open(plain).headers.head.transform == Affine.northUp(10, 20, 1, -1))
  }

  test(">65535-px dimension writes LONG tags (no SHORT truncation)") {
    val w = 70000
    val vals = Array.tabulate(w)(i => (i % 251).toDouble)
    val im = GeoTiff.Image(new Bitmap(w, 1, 1, DType.UInt8, vals),
      Affine.northUp(0, 0, 1, -1), CRS.WGS84)
    val tiff = GeoTiff.open(GeoTiff.write(Seq(im), compress = true))
    val h = tiff.headers.head
    assert(h.width == w && h.height == 1) // 70000 & 0xffff would be 4464
    assert(tiff.decode(0).bitmap.pixels.toSeq == vals.toSeq)
  }

  test("foreign multi-strip single-band file decodes strip-by-strip") {
    // hand-built little-endian classic TIFF the way GDAL writes small
    // non-tiled files: 4×4 uint8, RowsPerStrip=2 → two strips of 8 bytes
    import java.nio.{ByteBuffer, ByteOrder}
    val px = Array.tabulate(16)(i => (i + 1).toByte)
    val buf = ByteBuffer.allocate(8 + 16 + 2 + 10 * 12 + 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(24) // IFD at 24
    buf.put(px, 0, 8).put(px, 8, 8) // strip 0 at 8, strip 1 at 16
    def entry(tag: Int, typ: Int, count: Int)(value: ByteBuffer => Unit): Unit = {
      buf.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      val mark = buf.position()
      value(buf)
      while (buf.position() < mark + 4) buf.put(0.toByte)
    }
    buf.putShort(10) // entry count
    entry(256, 3, 1)(_.putShort(4)) // width
    entry(257, 3, 1)(_.putShort(4)) // height
    entry(258, 3, 1)(_.putShort(8)) // bits
    entry(259, 3, 1)(_.putShort(1)) // no compression
    entry(262, 3, 1)(_.putShort(1)) // photometric
    entry(273, 3, 2)(b => { b.putShort(8); b.putShort(16) }) // strip offsets
    entry(277, 3, 1)(_.putShort(1)) // samples/pixel
    entry(278, 3, 1)(_.putShort(2)) // rows/strip
    entry(279, 3, 2)(b => { b.putShort(8); b.putShort(8) }) // byte counts
    entry(339, 3, 1)(_.putShort(1)) // unsigned
    buf.putInt(0) // no next IFD
    val got = first(buf.array())
    assert(got.bitmap.width == 4 && got.bitmap.height == 4)
    assert(got.bitmap.pixels.toSeq == px.map(_.toDouble).toSeq)
  }
}
