package graft.props

import graft.catalog.Patterns
import graft.core._
import graft.geo.{Affine, BBox, CRS, GeomOps}
import graft.layout.RegularGrid
import graft.raster.Bitmap
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Property tests (SURVEY §5 tier 2): cast-algebra closure, pattern
  * translation, grid-cover coverage, affine inversion, codec round-trips. */
object CastProps extends Properties("cast") {

  val genRange: Gen[NumRange] = for {
    min <- Gen.choose(-1000.0, 999.0)
    span <- Gen.choose(0.001, 2000.0)
  } yield NumRange(min, min + span)

  val genUint8Mapping: Gen[DataMapping] = for {
    rext <- genRange
    exp <- Gen.oneOf(1.0, 1.0, 2.0, 0.5) // exponent 1 twice: bias to closed forms
  } yield DataMapping(DataFormat(DType.UInt8, 255.0, NumRange(0, 254)), rext, exp)

  property("castParams agrees with castValueBF on closed forms") =
    forAll(genUint8Mapping, genUint8Mapping, Gen.choose(0.0, 1.0)) { (from, to, r) =>
      val vi = from.format.range.min + from.format.range.interval * r
      try {
        Cast.castParams(from, to) match {
          case None => Prop(from.equalsMapping(to))
          case Some(params) =>
            val got = Cast.storeValue(params(vi), to.format.dtype)
            val want = Cast.storeValue(Cast.castValueBF(vi, from, to), to.format.dtype)
            // ±1 lsb from the two rounding paths; NaN (out-of-domain pow on
            // both paths, e.g. sqrt of a negative ratio) must agree as NaN
            Prop((got.isNaN && want.isNaN) || math.abs(got - want) <= 1.0) :|
              s"got=$got want=$want"
        }
      } catch {
        case _: Cast.UnableToCast =>
          // only legal when no closed form exists: both exponents != 1 and
          // (different exponents or different ext minima)
          Prop(from.exponent != 1 && to.exponent != 1 &&
            (from.exponent != to.exponent || from.rangeExt.min != to.rangeExt.min))
      }
    }

  property("castValue is monotonic for positive exponent") =
    forAll(genRange, genRange, Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)) {
      (rin, rext, a, b) =>
        val va = rin.min + rin.interval * math.min(a, b)
        val vb = rin.min + rin.interval * math.max(a, b)
        Cast.castValue(va, rin, rext, 2.0) <= Cast.castValue(vb, rin, rext, 2.0) + 1e-9
    }

  property("storeValue clamps into dtype bounds") =
    forAll(Gen.choose(-1e12, 1e12), Gen.oneOf(DType.all.filterNot(_.isFloat))) { (v, dt) =>
      val s = Cast.storeValue(v, dt)
      s >= dt.minValue && s <= dt.maxValue && s == math.rint(s)
    }
}

object PatternProps extends Properties("patterns") {
  val genPlain: Gen[String] = Gen.chooseNum(1, 15)
    .flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))

  property("no wildcard → equality") = forAll(genPlain) { s =>
    Patterns.parseLike(s) == ((s, Patterns.Eq))
  }

  property("star becomes percent, question becomes underscore") = forAll(genPlain) { s =>
    val (t, op) = Patterns.parseLike(s + "*end?")
    op == Patterns.Like && t == s + "%end_"
  }

  property("(?i) suffix → ilike with translation") = forAll(genPlain) { s =>
    val (t, op) = Patterns.parseLike(s + "*(?i)")
    op == Patterns.ILike && t == s + "%"
  }

  property("literal underscore is escaped") = Prop {
    Patterns.parseLike("a_b*") == (("a\\_b%", Patterns.Like))
  }

  property("three-way split partitions the input") =
    forAll(Gen.listOfN(8, Gen.oneOf(genPlain, genPlain.map(_ + "*"), genPlain.map(_ + "*(?i)")))) { ps =>
      val (e, l, i) = Patterns.parseLikes(ps)
      e.size + l.size + i.size == ps.size
    }
}

object GridProps extends Properties("grid") {
  val genBox: Gen[BBox] = for {
    x <- Gen.choose(-170.0, 160.0)
    y <- Gen.choose(-80.0, 70.0)
    w <- Gen.choose(0.01, 8.0)
    h <- Gen.choose(0.01, 8.0)
  } yield BBox(x, y, x + w, y + h)

  val grid = RegularGrid(CRS.WGS84, 10, 10, 0.1) // 1°×1° cells

  property("every interior point of the AOI is covered by some cell") =
    forAll(genBox, Gen.choose(0.1, 0.9), Gen.choose(0.1, 0.9)) { (b, fx, fy) =>
      val aoi = GeomOps.polygonFromBBox(b)
      val cells = grid.covers(aoi).map(grid.cell).toSeq
      val px = b.xmin + b.width * fx
      val py = b.ymin + b.height * fy
      cells.exists { c =>
        val cb = BBox.fromExtent(c.pixToCrs, c.sizeX, c.sizeY)
        px >= cb.xmin && px <= cb.xmax && py >= cb.ymin && py <= cb.ymax
      } :| s"point ($px,$py) uncovered by ${cells.map(_.uri)}"
    }

  property("every returned cell interior-intersects the AOI") =
    forAll(genBox) { b =>
      val aoi = GeomOps.polygonFromBBox(b)
      grid.covers(aoi).map(grid.cell).forall(c =>
        GeomOps.interiorIntersects(c.nativeRing, aoi))
    }

  property("cell uris are unique") = forAll(genBox) { b =>
    val uris = grid.covers(GeomOps.polygonFromBBox(b)).toSeq
    uris.distinct.size == uris.size
  }
}

object AffineProps extends Properties("affine") {
  val genAffine: Gen[Affine] = for {
    x0 <- Gen.choose(-1e6, 1e6)
    y0 <- Gen.choose(-1e6, 1e6)
    rxMag <- Gen.choose(0.001, 1000.0)
    rxSign <- Gen.oneOf(1.0, -1.0)
    ryMag <- Gen.choose(0.001, 1000.0)
    rySign <- Gen.oneOf(1.0, -1.0)
  } yield Affine.northUp(x0, y0, rxMag * rxSign, ryMag * rySign)

  property("inverse round-trips points") =
    forAll(genAffine, Gen.choose(-1e4, 1e4), Gen.choose(-1e4, 1e4)) { (a, x, y) =>
      val (cx, cy) = a.transform(x, y)
      val (bx, by) = a.inverse.transform(cx, cy)
      math.abs(bx - x) < 1e-6 && math.abs(by - y) < 1e-6
    }

  property("multiply composes") =
    forAll(genAffine, genAffine, Gen.choose(-100.0, 100.0), Gen.choose(-100.0, 100.0)) {
      (a, b, x, y) =>
        val (ix, iy) = b.transform(x, y)
        val (dx, dy) = a.transform(ix, iy)
        val (mx, my) = a.multiply(b).transform(x, y)
        math.abs(mx - dx) < math.max(1e-6, math.abs(dx) * 1e-9) &&
          math.abs(my - dy) < math.max(1e-6, math.abs(dy) * 1e-9)
    }
}

object CodecProps extends Properties("bitmap-codec") {
  val genDtypeVals: Gen[(DType, Array[Double])] = for {
    dt <- Gen.oneOf(DType.UInt8, DType.Int16, DType.UInt16, DType.Int32, DType.Float32, DType.Float64)
    n <- Gen.choose(1, 64)
    vals <- Gen.listOfN(n, dt match {
      case DType.Float32 => Gen.choose(-1e6f, 1e6f).map(f => f.toDouble)
      case DType.Float64 => Gen.choose(-1e12, 1e12)
      case d => Gen.choose(d.minValue, d.maxValue).map(math.rint)
    })
  } yield (dt, vals.toArray)

  property("byte payload round-trips every dtype") = forAll(genDtypeVals) {
    case (dt, vals) =>
      val bm = new Bitmap(vals.length, 1, 1, dt, vals)
      val rt = Bitmap.fromBytes(bm.toBytes, vals.length, 1, 1, dt)
      val eq = rt.pixels.zip(vals).forall { case (a, b) =>
        a == b || (dt == DType.Float32 && math.abs(a - b) <= math.abs(b) * 1e-7)
      }
      eq :| s"dt=$dt ${rt.pixels.toSeq} != ${vals.toSeq}"
  }

  property("crs round trip") =
    forAll(Gen.choose(-179.0, 179.0), Gen.choose(-80.0, 80.0)) { (lon, lat) =>
      val (x, y) = CRS.WebMercator.fromLonLat(lon, lat)
      val (lon2, lat2) = CRS.WebMercator.toLonLat(x, y)
      math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9
    }
}

/** Round-2 additions: interlacing completeness, tmerc round-trips,
  * tiled-codec round-trips under arbitrary shapes. */
object InterlacingProps extends Properties("interlacing") {
  import graft.raster.Interlacing

  val genDims: Gen[(Int, Int, Int, Int)] = for {
    nR <- Gen.choose(1, 4)
    nZ <- Gen.choose(1, 3)
    nB <- Gen.choose(1, 3)
    nT <- Gen.choose(1, 6)
  } yield (nR, nZ, nB, nT)

  val genPattern: Gen[String] = for {
    perm <- Gen.oneOf(Seq("R", "B", "Z", "T").permutations.toSeq)
  } yield perm.mkString(">")

  property("any level permutation emits every block exactly once") =
    forAll(genDims, genPattern) { case ((nR, nZ, nB, nT), pat) =>
      val order = Interlacing.enumerate(Interlacing.parse(pat),
        nR, _ => nZ, _ => nB, (_, _) => nT)
      Prop(order.size == nR * nZ * nB * nT && order.distinct.size == order.size) :|
        s"pattern $pat dims ($nR,$nZ,$nB,$nT) -> ${order.size}"
    }

  property("selector chains still cover every block (leftovers appended)") =
    forAll(genDims) { case (nR, nZ, nB, nT) =>
      val order = Interlacing.enumerate(
        Interlacing.parse("Z=0>T>R>B;Z=1:>R>T>B"),
        nR, _ => nZ, _ => nB, (_, _) => nT)
      Prop(order.size == nR * nZ * nB * nT && order.distinct.size == order.size)
    }

  property("ragged per-record zoom counts stay exact") =
    forAll(Gen.choose(1, 4), Gen.listOfN(4, Gen.choose(1, 3))) { (nR, zs) =>
      val nZ = (r: Int) => zs(r % zs.size)
      val order = Interlacing.enumerate(Interlacing.parse("Z>T>R>B"),
        nR, nZ, _ => 1, (_, _) => 2)
      val want = (0 until nR).map(nZ(_) * 2).sum
      Prop(order.size == want && order.distinct.size == order.size)
    }
}

object TmercProps extends Properties("tmerc") {
  val genLonLat: Gen[(Double, Double)] = for {
    lon <- Gen.choose(-3.0, 3.0) // within ±3° of the central meridian
    lat <- Gen.choose(-80.0, 80.0)
  } yield (lon, lat)

  val genOrigin: Gen[(Double, Double, Double, Double, Double)] = for {
    lon0 <- Gen.choose(-177.0, 177.0)
    lat0 <- Gen.choose(-60.0, 60.0)
    k0 <- Gen.oneOf(0.9996, 1.0)
    fe <- Gen.oneOf(0.0, 500000.0)
    fn <- Gen.oneOf(0.0, 200000.0)
  } yield (lon0, lat0, k0, fe, fn)

  property("fromLonLat∘toLonLat = id near the central meridian") =
    forAll(genOrigin, genLonLat) { case ((lon0, lat0, k0, fe, fn), (dLon, lat)) =>
      val tm = CRS.TransverseMercator(lon0, lat0, k0, fe, fn)
      val (x, y) = tm.fromLonLat(lon0 + dLon, lat)
      val (lon2, lat2) = tm.toLonLat(x, y)
      Prop(math.abs(lon2 - (lon0 + dLon)) < 1e-7 && math.abs(lat2 - lat) < 1e-7) :|
        s"($lon0,$lat0) probe ($dLon,$lat) -> ($x,$y) -> ($lon2,$lat2)"
    }

  property("natural origin maps to (fe, fn)") =
    forAll(genOrigin) { case (lon0, lat0, k0, fe, fn) =>
      val tm = CRS.TransverseMercator(lon0, lat0, k0, fe, fn)
      val (x, y) = tm.fromLonLat(lon0, lat0)
      Prop(math.abs(x - fe) < 1e-6 && math.abs(y - fn) < 1e-6) :| s"origin -> ($x,$y)"
    }
}

object StereProps extends Properties("stere") {
  val genOrigin: Gen[(Double, Double, Double)] = for {
    lon0 <- Gen.choose(-177.0, 177.0)
    lat0 <- Gen.choose(-75.0, 75.0)
    k0 <- Gen.oneOf(0.994, 0.9996, 1.0)
  } yield (lon0, lat0, k0)

  // probe points within ~30° angular distance of the origin (the regime
  // an oblique stereographic CRS is ever used in)
  val genOffset: Gen[(Double, Double)] = for {
    dLon <- Gen.choose(-30.0, 30.0)
    dLat <- Gen.choose(-14.0, 14.0)
  } yield (dLon, dLat)

  property("fromLonLat∘toLonLat = id in the use regime") =
    forAll(genOrigin, genOffset) { case ((lon0, lat0, k0), (dLon, dLat)) =>
      val lat = math.max(-89.0, math.min(89.0, lat0 + dLat))
      val lon = ((lon0 + dLon + 540) % 360) - 180
      val st = CRS.StereographicProper(lon0, lat0, k0, 155000, 463000)
      val (x, y) = st.fromLonLat(lon, lat)
      val (lon2, lat2) = st.toLonLat(x, y)
      Prop(math.abs(lon2 - lon) < 1e-7 && math.abs(lat2 - lat) < 1e-7) :|
        s"($lon0,$lat0) probe ($lon,$lat) -> ($x,$y) -> ($lon2,$lat2)"
    }

  property("natural origin maps to (fe, fn); scale there ≈ k0") =
    forAll(genOrigin) { case (lon0, lat0, k0) =>
      val st = CRS.StereographicProper(lon0, lat0, k0, 155000, 463000)
      val (x, y) = st.fromLonLat(lon0, lat0)
      // conformal: a tiny eastward arc measures k0 × its ellipsoidal length
      val d = 1e-7
      val (x2, _) = st.fromLonLat(lon0 + d, lat0)
      val e2 = 0.00669437999014132
      val nu = 6378137.0 / math.sqrt(1 - e2 * math.pow(math.sin(lat0.toRadians), 2))
      val arc = d.toRadians * nu * math.cos(lat0.toRadians)
      val scale = (x2 - x) / arc
      Prop(math.abs(x - 155000) < 1e-6 && math.abs(y - 463000) < 1e-6 &&
        math.abs(scale - k0) < 1e-5) :| s"origin ($x,$y), scale $scale vs $k0"
    }

  property("serialize → parse round-trips the projection") =
    forAll(genOrigin) { case (lon0, lat0, k0) =>
      val st = CRS.StereographicProper(lon0, lat0, k0)
      val again = CRS.parse(CRS.serialize(st))
      val (x1, y1) = st.fromLonLat(lon0 + 2, lat0 + 1)
      val (x2, y2) = again.fromLonLat(lon0 + 2, lat0 + 1)
      Prop(math.abs(x1 - x2) < 1e-9 && math.abs(y1 - y2) < 1e-9)
    }
}

object TiledCodecProps extends Properties("tiled-codec") {
  import graft.raster.{Bitmap, GeoTiff}

  val genImage: Gen[(Int, Int, Int, Boolean, Boolean)] = for {
    w <- Gen.choose(1, 70)
    h <- Gen.choose(1, 70)
    bands <- Gen.choose(1, 3)
    compress <- Gen.oneOf(true, false)
    sparse <- Gen.oneOf(true, false)
  } yield (w, h, bands, compress, sparse)

  property("tiled write/read round-trips any shape (incl. sparse + deflate)") =
    forAll(genImage, Gen.choose(0L, 1000000L)) { case ((w, h, bands, compress, sparse), seed) =>
      val rnd = new scala.util.Random(seed)
      // ~half the 16x16 tile neighborhoods all-nodata to exercise elision
      val px = Array.tabulate(w * h * bands) { i =>
        if (rnd.nextInt(4) == 0) 255.0 else rnd.nextInt(200).toDouble
      }
      val img = GeoTiff.Image(new Bitmap(w, h, bands, DType.UInt8, px),
        Affine.northUp(0, h, 1, -1), CRS.WGS84)
      val bytes = GeoTiff.write(Seq(img), noData = 255.0, compress = compress,
        tileSize = 16, sparseOk = sparse)
      val got = GeoTiff.open(bytes).decode(0)
      Prop(got.bitmap.pixels.toSeq == px.toSeq) :|
        s"w=$w h=$h bands=$bands compress=$compress sparse=$sparse"
    }

  property("zoom-led interlacing groups IFDs per zoom; association survives") =
    forAll(Gen.choose(2, 5)) { nRec =>
      // uniform 32x32 records with distinct content, overviews to 16
      val imgs = (0 until nRec).map { r =>
        val px = Array.tabulate(32 * 32)(i => ((i * (r + 3)) % 200).toDouble)
        GeoTiff.Image(new Bitmap(32, 32, 1, DType.UInt8, px),
          Affine.northUp(0, 32, 1, -1), CRS.WGS84)
      }
      val bytes = GeoTiff.write(imgs, noData = 255.0, overviewsMinSize = 16,
        tileSize = 16, interlacing = "Z=0>T>R>B;Z=1:>R>T>B")
      val tiff = GeoTiff.open(bytes)
      // physical grouping: all full-res IFDs first, then the overview level
      val grouped = tiff.headers.map(_.isOverview) ==
        (Seq.fill(nRec)(false) ++ Seq.fill(nRec)(true))
      // association: record r's overview is the downsample of record r
      val assoc = (0 until nRec).forall { r =>
        val ov = tiff.decode(tiff.level(r, 2.5))
        ov.bitmap.width == 16 && ov.bitmap.pixels.toSeq ==
          GeoTiff.downsample2(imgs(r).bitmap, 255.0).pixels.toSeq
      }
      Prop(grouped && assoc) :| s"nRec=$nRec grouped=$grouped"
    }
}
