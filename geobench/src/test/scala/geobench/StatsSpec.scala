package geobench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats.Entry

  test("space_amp is on-disk bytes per raw pixel byte of a listing") {
    val l = Seq(Entry("tiles/b=1/part-0.parquet", 600, 1), Entry("records/part-0.parquet", 300, 1),
      Entry("_leases/x", 100, 1))
    assert(Stats.spaceAmp(l, 800) == 1.25)
    assert(Stats.spaceAmp(Nil, 800) == 0.0)
    intercept[IllegalArgumentException](Stats.spaceAmp(l, 0))
  }

  test("space_amp of a real directory listing") {
    val root = java.nio.file.Files.createTempDirectory("geobench-stats").toFile
    try {
      new java.io.File(root, "a/b").mkdirs()
      java.nio.file.Files.write(new java.io.File(root, "a/b/f1").toPath, new Array[Byte](300))
      java.nio.file.Files.write(new java.io.File(root, "a/f2").toPath, new Array[Byte](200))
      val l = Stats.listing(root)
      assert(l.map(_.path).toSet == Set("a/b/f1", "a/f2"))
      assert(Stats.spaceAmp(l, 1000) == 0.5)
    } finally Main.rm(root)
  }

  test("writes counts new and changed files, and the files live afterwards") {
    val before = Seq(Entry("a", 10, 1), Entry("b", 20, 1), Entry("gone", 5, 1))
    val after = Seq(Entry("a", 10, 1), Entry("b", 25, 2), Entry("c", 7, 3))
    assert(Stats.writes(before, after) == Stats.Writes(files = 2, bytes = 32, live = 3))
  }

  test("quantiles interpolate linearly") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
    assert(Stats.median(Nil).isNaN)
  }
}
