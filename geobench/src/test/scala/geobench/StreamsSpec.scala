package geobench

import org.scalatest.funsuite.AnyFunSuite

class StreamsSpec extends AnyFunSuite {

  private val m = Mosaic(42, cols = 3, rows = 3, dates = 2)

  test("the same seed gives an identical request stream") {
    assert(Streams.xyz(m, 42, 0, 500) == Streams.xyz(Mosaic(42, 3, 3, 2), 42, 0, 500))
    val cm = Mosaic(42, cols = 2, rows = 2, dates = 16)
    assert(Streams.cube(cm, 42, 1, 200) == Streams.cube(Mosaic(42, 2, 2, 16), 42, 1, 200))
    val in = new Ingest(42, new java.io.File("unused"))
    val again = new Ingest(42, new java.io.File("unused"))
    assert(in.files(3).map(f => (f.record, f.x0, f.y0, f.pixels.toSeq)) ==
      again.files(3).map(f => (f.record, f.x0, f.y0, f.pixels.toSeq)))
  }

  test("seeds and clients get different streams") {
    assert(Streams.xyz(m, 42, 0, 100) != Streams.xyz(m, 42, 1, 100))
    assert(Streams.xyz(m, 42, 0, 100) != Streams.xyz(Mosaic(43, 3, 3, 2), 43, 0, 100))
  }

  test("every seed serves the same zoom levels and popular ranks; positions differ") {
    val a = Streams.xyz(m, 1, 2, 400)
    val b = Streams.xyz(Mosaic(2, 3, 3, 2), 2, 2, 400)
    assert(a.map(_.z) == b.map(_.z))
    assert(a != b)
    val (ca, cb) = (Streams.cube(Mosaic(1, 2, 2, 16), 1, 0, 50), Streams.cube(Mosaic(2, 2, 2, 16), 2, 0, 50))
    assert(ca.map(r => (r.w, r.h, r.k)) == cb.map(r => (r.w, r.h, r.k)))
  }

  test("XYZ requests stay on z6-z10 tiles covering the mosaic, some repeated") {
    val s = Streams.xyz(m, 7, 0, 2000)
    assert(s.forall { t =>
      val (x0, x1, y0, y1) = Streams.tileRange(m, t.z)
      t.z >= Streams.MinZoom && t.z <= Streams.MaxZoom &&
        t.x >= x0 && t.x <= x1 && t.y >= y0 && t.y <= y1
    })
    val pop = Streams.popular(m, 7).toSet
    val share = s.count(pop).toDouble / s.size
    assert(share > Streams.PopularShare - 0.05, s"popular share $share")
  }

  test("cube windows lie inside their scene over 4-16 of its dates, all of about one size") {
    val cm = Mosaic(9, cols = 2, rows = 2, dates = 16)
    for (r <- Streams.cube(cm, 9, 0, 300)) {
      val b = cm.sceneBox(r.scene)
      val (mx0, my1) = Mosaic.lonLatToMercator(b.xmin, b.ymax)
      val (mx1, my0) = Mosaic.lonLatToMercator(b.xmax, b.ymin)
      assert(r.x0 > mx0 && r.x0 + r.w * r.px < mx1 && r.y0 < my1 && r.y0 - r.h * r.px > my0)
      assert(r.k >= 4 && r.k <= 16 && r.d0 >= 0 && r.d0 + r.k <= cm.dates)
      assert(math.abs(r.w * r.h * r.k.toDouble / Streams.CubePixels - 1) < 0.15, r)
    }
  }
}
