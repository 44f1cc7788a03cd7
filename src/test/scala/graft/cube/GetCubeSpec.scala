package graft.cube

import graft.catalog._
import graft.geo.{Affine, BBox, GeomOps}
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end GetCube over a seeded catalog — the §7.2 minimum slice:
  * scan + joins + tag/time/spatial filters + grouping + cast/mosaic kernel
  * + ordered slices. */
class GetCubeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root: String = java.nio.file.Files.createTempDirectory("graft-cat").toString
  val cat: Catalog = Catalog(root)

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  def wkbBox(b: BBox): Array[Byte] = GeomOps.writeWkb(GeomOps.polygonFromBBox(b))
  def bboxRow(b: BBox): Row = Row(b.xmin, b.ymin, b.xmax, b.ymax)

  override def beforeAll(): Unit = {
    val sc = spark
    def write(table: String, rows: Seq[Row]): Unit =
      cat.append(sc.createDataFrame(
        sc.sparkContext.parallelize(rows), Schemas.all(table)), table)

    val box04 = BBox(0, 0, 4, 4)
    val boxLeft = BBox(0, 0, 2, 4)
    write("aoi", Seq(Row("a1", "h1", wkbBox(box04), bboxRow(box04))))
    write("records", Seq(
      Row("r1", "scene-1", ts("2024-01-01 00:00:00"), Map("sat" -> "S2A"), "a1"),
      Row("r2", "scene-2", ts("2024-01-02 00:00:00"), Map("sat" -> "S2B"), "a1"),
      Row("r3", "other-3", ts("2024-03-01 00:00:00"), Map("sat" -> "L8"), "a1")))
    write("variable_definitions", Seq(
      Row("v1", "ndvi", "1", "d", Seq("b1"), "float32", Double.NaN, -1.0, 1.0, "", "near")))
    write("variable_instances", Seq(
      Row("i1", "master", Map.empty[String, String], "v1")))
    write("containers", Seq(
      Row("mem://c1", true, "STANDARD"), Row("mem://c2", true, "STANDARD")))

    // datasets: uint8 [0,254] ↦ ext [-1,1], nodata 255
    def dsRow(id: String, rid: String, uri: String, geom: BBox, srid: Int = 4326): Row =
      Row(id, rid, "i1", uri, "", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, -1.0, 1.0, 1.0, false,
        wkbBox(geom), wkbBox(geom), srid, bboxRow(geom))
    write("datasets", Seq(
      dsRow("d1", "r1", "mem://c1", box04),
      dsRow("d2", "r2", "mem://c2", boxLeft)))

    // tiles: c1 = 4×4 of 100 over [0,4]²; c2 = 2×4 of 200 over left half,
    // with a nodata hole at its pixel (0,0) (top-left, lon 0-1, lat 3-4)
    val t1 = Array.fill(16)(100.0)
    val t2 = Array.fill(8)(200.0); t2(0) = 255.0
    def tileRow(uri: String, w: Int, h: Int, px: Array[Double], x0: Double): Row =
      Row(uri, "", w, h, 1, "uint8", "EPSG:4326",
        Seq(x0, 1.0, 0.0, 4.0, 0.0, -1.0),
        new graft.raster.Bitmap(w, h, 1, graft.core.DType.UInt8, px).toBytes)
    write("tiles", Seq(
      tileRow("mem://c1", 4, 4, t1, 0.0),
      tileRow("mem://c2", 2, 4, t2, 0.0)))
  }

  override def afterAll(): Unit = {
    // keep spark session for other suites; clean the temp catalog
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    rm(new java.io.File(root))
  }

  val grid4: Affine = Affine.northUp(0, 4, 1, -1)
  def request(groups: Seq[Seq[String]] = Nil): CubeRequest = CubeRequest(
    instanceIds = Seq("i1"), crs = "EPSG:4326", transform = grid4,
    width = 4, height = 4, recordGroups = groups)

  val cast100: Double = (100.0 / 254.0) * 2 - 1 // uint8→ext[-1,1]
  val cast200: Double = (200.0 / 254.0) * 2 - 1

  test("ServingSessionConfs (AQE off) serve byte-identical slices") {
    // the recommended latency-serving session settings are a supported
    // execution mode, not just a bench trick: the same request must
    // produce byte-identical slices under them. Zero budgets keep the
    // request on the Spark plan, the arm the settings act on
    val base = GetCube.cube(spark, cat, request(), 0L, 0L).collect()
    val saved = GetCube.ServingSessionConfs.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    GetCube.ServingSessionConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    val served =
      try GetCube.cube(spark, cat, request(), 0L, 0L).collect()
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(served.length == base.length)
    base.zip(served).foreach { case (a, b) =>
      assert(a.group_key == b.group_key && a.min_datetime == b.min_datetime)
      assert(java.util.Arrays.equals(a.payload, b.payload),
        s"payload diverged for ${a.group_key}")
    }
  }

  test("per-record cube: one slice per record, time-ordered, casted pixels") {
    val slices = GetCube.cube(spark, cat, request()).collect()
    assert(slices.length == 2)
    assert(slices(0).record_ids == Seq("r1") && slices(1).record_ids == Seq("r2"))
    assert(slices(0).error.isEmpty && slices(1).error.isEmpty)
    val bm1 = graft.raster.Bitmap.fromBytes(
      slices(0).payload, 4, 4, 1, graft.core.DType.Float32)
    assert(bm1.pixels.forall(v => math.abs(v - cast100) < 1e-6))
    // r2 covers only the left half; right half stays NaN (float nodata)
    val bm2 = graft.raster.Bitmap.fromBytes(
      slices(1).payload, 4, 4, 1, graft.core.DType.Float32)
    assert(math.abs(bm2.get(0, 1, 0) - cast200) < 1e-6)
    assert(bm2.get(3, 0, 0).isNaN)
    // the tile's nodata hole at (0,0) stays NaN in the slice
    assert(bm2.get(0, 0, 0).isNaN)
    assert(slices(1).valid_pixels == 7L) // 2×4 minus hole
  }

  test("datum-shifted tile CRS flows through the serving warp (towgs84 end-to-end)") {
    // a tile DECLARED on a datum translated +133583 m along the pole axis:
    // near the equator that datum's latitudes sit ~1.2° south of WGS84, so
    // serving the same numeric grid in EPSG:4326 must sample source rows
    // one pixel down (1° pixels, shift ∈ (1,2) ⇒ exactly one row after
    // floor). The CRS string round-trips through the catalog's tiles.crs
    // column — this is the serving path applying the geocentric chain,
    // not ST_Transform.
    val shifted = graft.geo.CRS.serialize(graft.geo.CRS.DatumShifted(
      graft.geo.CRS.WGS84, graft.geo.CRS.Helmert(0, 0, 133583)))
    assert(shifted.contains("+towgs84="))
    val root2 = java.nio.file.Files.createTempDirectory("graft-cat-datum").toString
    val cat2 = Catalog(root2)
    def write2(table: String, rows: Seq[Row]): Unit =
      cat2.append(spark.createDataFrame(
        spark.sparkContext.parallelize(rows), Schemas.all(table)), table)
    val box04 = BBox(0, 0, 4, 4)
    write2("aoi", Seq(Row("a1", "h1", wkbBox(box04), bboxRow(box04))))
    write2("records", Seq(
      Row("r1", "scene-1", ts("2024-01-01 00:00:00"), Map.empty[String, String], "a1")))
    write2("variable_definitions", Seq(
      Row("v1", "dn", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "", "near")))
    write2("variable_instances", Seq(Row("i1", "m", Map.empty[String, String], "v1")))
    write2("containers", Seq(Row("mem://dt1", true, "STANDARD")))
    write2("datasets", Seq(
      Row("d1", "r1", "i1", "mem://dt1", "", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false,
        wkbBox(box04), wkbBox(box04), 4326, bboxRow(box04))))
    // source rows valued (row+1)·10 — row identity is the observable
    val px = Array.tabulate(16)(i => ((i / 4 + 1) * 10).toDouble)
    write2("tiles", Seq(
      Row("mem://dt1", "", 4, 4, 1, "uint8", shifted,
        Seq(0.0, 1.0, 0.0, 4.0, 0.0, -1.0),
        new graft.raster.Bitmap(4, 4, 1, graft.core.DType.UInt8, px).toBytes)))
    val slices = GetCube.cube(spark, cat2, CubeRequest(
      instanceIds = Seq("i1"), crs = "EPSG:4326", transform = grid4,
      width = 4, height = 4)).collect()
    assert(slices.length == 1 && slices(0).error.isEmpty)
    val bm = graft.raster.Bitmap.fromBytes(
      slices(0).payload, 4, 4, 1, graft.core.DType.UInt8)
    // target row ty shows source row ty+1; the bottom row falls off the
    // source footprint and stays nodata
    for (ty <- 0 until 3; tx <- 0 until 4)
      assert(bm.get(tx, ty, 0) == (ty + 2) * 10.0, s"($tx,$ty)=${bm.get(tx, ty, 0)}")
    for (tx <- 0 until 4) assert(bm.get(tx, 3, 0) == 255.0)
    assert(slices(0).valid_pixels == 12L)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(root2))
  }

  test("grouped mosaic: newest record paints over oldest, holes show through") {
    val slices = GetCube.cube(spark, cat, request(groups = Seq(Seq("r1", "r2")))).collect()
    assert(slices.length == 1)
    val bm = graft.raster.Bitmap.fromBytes(
      slices(0).payload, 4, 4, 1, graft.core.DType.Float32)
    // left half: r2 (newer) wins — except its nodata hole at (0,0)
    assert(math.abs(bm.get(0, 1, 0) - cast200) < 1e-6)
    assert(math.abs(bm.get(1, 3, 0) - cast200) < 1e-6)
    assert(math.abs(bm.get(0, 0, 0) - cast100) < 1e-6) // hole → r1 value
    // right half: only r1
    assert(math.abs(bm.get(3, 0, 0) - cast100) < 1e-6)
    assert(slices(0).record_ids == Seq("r1", "r2"))
  }

  test("plan shape: one data shuffle + ordered emission, filters reach parquet") {
    // the scale contract (README "Scale design"): tile payloads move through
    // exactly ONE hash shuffle (the group key the mosaic needs) plus the
    // final range partition for ordered slices — broadcasts don't count.
    // Zero budgets select the Spark plan: the driver arm plans no join
    val plan = GetCube.cube(spark, cat, request(), 0L, 0L)
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning\\(([a-z_]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq.sorted
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(plan).size
    // exactly two hash shuffles: the group key carrying tile payloads
    // ("value" = groupByKey key) and the payload-FREE overview-selection
    // window keyed by (container_uri, base_subdir) metadata
    assert(hashExchanges == Seq("container_uri", "value"), s"$hashExchanges:\n$plan")
    assert(rangeEx == 1, s"expected 1 range exchange, got $rangeEx")
    // the dataset scan gets its filters pushed into the parquet source
    val found = CatalogQueries.findDatasets(spark, cat, DatasetFilters(
      status = Seq("ACTIVE"), instanceIds = Seq("i1"), order = false))
    val scan = found.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("status"), scan)
  }

  test("downloadCube replays the kernel from client-supplied tiles (D-surface)") {
    import spark.implicits._
    // the client holds the tile bytes + dataset metadata itself
    val tile = new graft.raster.Bitmap(4, 4, 1, graft.core.DType.UInt8,
      Array.fill(16)(100.0)).toBytes
    val rows = Seq(DatasetTile(
      group_key = "g0", record_id = "r1", datetime = ts("2024-01-01 00:00:00"),
      dataset_id = "d1", bands = Seq(1),
      dtype = "uint8", no_data = 255.0, min_value = 0.0, max_value = 254.0,
      real_min_value = -1.0, real_max_value = 1.0, exponent = 1.0,
      t_width = 4, t_height = 4, t_bands = 1, t_dtype = "uint8",
      t_crs = "EPSG:4326", t_transform = Seq(0.0, 1.0, 0.0, 4.0, 0.0, -1.0),
      payload = tile))
    val out = GetCube.prepare(spark, cat, request())
    val slices = GetCube.downloadCube(spark, rows.toDS(), out).collect()
    assert(slices.length == 1 && slices(0).record_ids == Seq("r1"))
    val bm = graft.raster.Bitmap.fromBytes(
      slices(0).payload, 4, 4, 1, graft.core.DType.Float32)
    assert(bm.pixels.forall(v => math.abs(v - cast100) < 1e-6))
  }

  test("cubeMetadata -> cubeFromMetadata replays without the catalog tables") {
    import spark.implicits._
    // a fresh catalog copy so the tables can be dropped mid-test
    val root2 = java.nio.file.Files.createTempDirectory("graft-dl").toString
    def cp(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs(); src.listFiles.foreach(f => cp(f, new java.io.File(dst, f.getName)))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath)
    }
    new java.io.File(root).listFiles.foreach(f =>
      cp(f, new java.io.File(root2, f.getName)))
    val cat2 = Catalog(root2)
    val req = request()
    val expected = GetCube.cube(spark, cat2, req).collect()
    // client side: materialize the metadata, then DROP every catalog
    // table except the raw tile store — the replay must still work
    // (the reference's downloader has no database at all)
    val meta = GetCube.cubeMetadata(spark, cat2, req).collect().toSeq
    val out = GetCube.prepare(spark, cat2, req)
    for (t <- Seq("datasets", "records", "variable_definitions",
        "variable_instances", "aoi", "containers")) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete(): Unit
      }
      rm(new java.io.File(s"$root2/$t"))
    }
    val replayed = GetCube.cubeFromMetadata(spark, cat2, meta.toDS(), out).collect()
    assert(replayed.length == expected.length)
    for ((r, e) <- replayed.zip(expected)) {
      assert(r.group_key == e.group_key && r.record_ids == e.record_ids)
      assert(r.valid_pixels == e.valid_pixels)
      assert(java.util.Arrays.equals(r.payload, e.payload))
    }
    def rm2(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm2); f.delete(): Unit
    }
    rm2(new java.io.File(root2))
  }

  test("grouped mosaic order survives sub-millisecond datetime ties") {
    val root2 = java.nio.file.Files.createTempDirectory("graft-subms").toString
    val cat2 = Catalog(root2)
    val sc = spark
    def write(table: String, rows: Seq[Row]): Unit =
      cat2.append(sc.createDataFrame(
        sc.sparkContext.parallelize(rows), Schemas.all(table)), table)
    val box = BBox(0, 0, 4, 4)
    write("aoi", Seq(Row("a1", "h1", wkbBox(box), bboxRow(box))))
    // 300 µs apart: identical to the millisecond — getTime-based ordering
    // ties and could let the OLDER record paint last
    write("records", Seq(
      Row("rold", "s1", ts("2024-01-01 00:00:00.0001"), Map.empty[String, String], "a1"),
      Row("rnew", "s2", ts("2024-01-01 00:00:00.0004"), Map.empty[String, String], "a1")))
    write("variable_definitions", Seq(
      Row("v1", "b", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "", "near")))
    write("variable_instances", Seq(Row("i1", "m", Map.empty[String, String], "v1")))
    write("containers", Seq(Row("mem://o", false, "STANDARD"),
      Row("mem://n", false, "STANDARD")))
    def dsRow(id: String, rid: String, uri: String): Row =
      Row(id, rid, "i1", uri, "", Seq(1), "ACTIVE", null,
        "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false,
        wkbBox(box), wkbBox(box), 4326, bboxRow(box))
    // dataset ids chosen so a millisecond-tied sort's id tie-break puts
    // the NEWER one first (older would paint last → 10): only the full
    // microsecond compare yields the correct order
    write("datasets", Seq(dsRow("zz-old", "rold", "mem://o"),
      dsRow("aa-new", "rnew", "mem://n")))
    def tile(uri: String, v: Double): Row =
      Row(uri, "", 4, 4, 1, "uint8", "EPSG:4326",
        Seq(0.0, 1.0, 0.0, 4.0, 0.0, -1.0),
        new graft.raster.Bitmap(4, 4, 1, graft.core.DType.UInt8,
          Array.fill(16)(v)).toBytes)
    write("tiles", Seq(tile("mem://o", 10.0), tile("mem://n", 20.0)))
    // one grouped slice: the newer record must paint LAST
    val slices = GetCube.cube(spark, cat2, CubeRequest(
      instanceIds = Seq("i1"), crs = "EPSG:4326", transform = grid4,
      width = 4, height = 4,
      recordGroups = Seq(Seq("rold", "rnew")))).collect()
    assert(slices.length == 1)
    val bm = graft.raster.Bitmap.fromBytes(slices(0).payload, 4, 4, 1,
      graft.core.DType.UInt8)
    assert(bm.pixels.forall(_ == 20.0), "newer record must win the mosaic")
    // min_datetime keeps full microsecond precision
    assert(slices(0).min_datetime == ts("2024-01-01 00:00:00.0001"))
  }

  test("overview selection treats non-4326 geographic tile CRS as degrees") {
    val root2 = java.nio.file.Files.createTempDirectory("graft-ovcrs").toString
    val cat2 = Catalog(root2)
    val sc = spark
    def write(table: String, rows: Seq[Row]): Unit =
      cat2.append(sc.createDataFrame(
        sc.sparkContext.parallelize(rows), Schemas.all(table)), table)
    val box = BBox(0, 0, 4, 4)
    write("aoi", Seq(Row("a1", "h1", wkbBox(box), bboxRow(box))))
    write("records", Seq(Row("r1", "s1", ts("2024-01-01 00:00:00"),
      Map.empty[String, String], "a1")))
    write("variable_definitions", Seq(
      Row("v1", "b", "1", "d", Seq("b1"), "uint8", 255.0, 0.0, 254.0, "", "near")))
    write("variable_instances", Seq(Row("i1", "m", Map.empty[String, String], "v1")))
    write("containers", Seq(Row("mem://ovg", true, "STANDARD")))
    write("datasets", Seq(Row("d1", "r1", "i1", "mem://ovg", "", Seq(1),
      "ACTIVE", null, "uint8", 255.0, 0.0, 254.0, 0.0, 254.0, 1.0, false,
      wkbBox(box), wkbBox(box), 4326, bboxRow(box))))
    // a geographic CRS that does NOT serialize as "EPSG:4326" (GRS80
    // ellipsoid): its degree resolutions must not be divided by 111320 —
    // that made every pyramid level look eligible and served the
    // coarsest overview for every request
    val grs80 = graft.geo.CRS.serialize(
      graft.geo.CRS.Geographic(6378137.0, 1.0 / 298.257222101))
    assert(grs80.startsWith("+proj=longlat"))
    def tile(sub: String, w: Int, res: Double, v: Double): Row =
      Row("mem://ovg", sub, w, w, 1, "uint8", grs80,
        Seq(0.0, res, 0.0, 4.0, 0.0, -res),
        new graft.raster.Bitmap(w, w, 1, graft.core.DType.UInt8,
          Array.fill(w * w)(v)).toBytes)
    write("tiles", Seq(tile("", 4, 1.0, 10.0), tile("@ov1", 2, 2.0, 99.0)))
    // full-resolution request → the BASE level, not the coarsest
    val fine = GetCube.datasetTiles(spark, cat2, CubeRequest(
      instanceIds = Seq("i1"), crs = "EPSG:4326",
      transform = grid4, width = 4, height = 4)).collect()
    assert(fine.nonEmpty && fine.forall(_.t_width == 4))
    // coarse request → the overview is adequate and chosen
    val coarse = GetCube.datasetTiles(spark, cat2, CubeRequest(
      instanceIds = Seq("i1"), crs = "EPSG:4326",
      transform = Affine.northUp(0, 4, 2, -2), width = 2, height = 2)).collect()
    assert(coarse.nonEmpty && coarse.forall(_.t_width == 2))
  }

  test("headers-only short-circuits the kernel") {
    val slices = GetCube.cube(spark, cat, request().copy(headersOnly = true)).collect()
    assert(slices.length == 2)
    assert(slices.forall(_.payload.isEmpty))
    assert(slices.map(_.record_ids.head).toSeq == Seq("r1", "r2"))
  }

  test("spatial filter prunes datasets outside the request extent") {
    // request only the right half [2,4]×[0,4]: d2 (left-half) must not match
    val req = request().copy(transform = Affine.northUp(2, 4, 1, -1), width = 2)
    val slices = GetCube.cube(spark, cat, req).collect()
    assert(slices.length == 1)
    assert(slices(0).record_ids == Seq("r1"))
  }

  test("tag and time filters reach the records join") {
    val byTag = GetCube.cube(spark, cat, request().copy(tags = Map("sat" -> "S2B"))).collect()
    assert(byTag.map(_.record_ids.head).toSeq == Seq("r2"))
    val byTime = GetCube.cube(spark, cat,
      request().copy(toTime = Some(ts("2024-01-01 12:00:00")))).collect()
    assert(byTime.map(_.record_ids.head).toSeq == Seq("r1"))
    // pattern tag filter: S2* matches both S2A and S2B
    val byPat = GetCube.cube(spark, cat, request().copy(tags = Map("sat" -> "S2*"))).collect()
    assert(byPat.length == 2)
  }

  test("findRecords: name patterns, AOI intersection, order") {
    val byName = CatalogQueries.findRecords(spark, cat, namePatterns = Seq("scene-*"))
      .select("id").collect().map(_.getString(0)).toSeq
    assert(byName == Seq("r1", "r2"))
    val byNameCi = CatalogQueries.findRecords(spark, cat, namePatterns = Seq("SCENE-1(?i)"))
      .select("id").collect().map(_.getString(0)).toSeq
    assert(byNameCi == Seq("r1"))
    val byAoi = CatalogQueries.findRecords(spark, cat,
      aoi = Some(GeomOps.polygonFromBBox(BBox(1, 1, 2, 2))))
      .select("id").collect().map(_.getString(0)).toSeq
    assert(byAoi == Seq("r1", "r2", "r3")) // all share a1
  }

  test("readByIds preserves request order and dedupes") {
    val records = cat.read(spark, "records")
    val got = CatalogQueries.readByIds(spark, records, "id", Seq("r2", "r1", "r2"))
      .select("id").collect().map(_.getString(0)).toSeq
    assert(got == Seq("r2", "r1"))
  }

  test("pendingDeletion finds unreferenced records (GC anti-join)") {
    val got = CatalogQueries.pendingDeletion(spark, cat, "records")
      .select("id").collect().map(_.getString(0)).toSeq
    assert(got == Seq("r3")) // r3 has no datasets
  }

  test("prepare's variable cache invalidates when the variable tables change") {
    // warm the cache, then change the variable's resampling default via
    // the catalog's atomic rewrite — the next prepare must see the new
    // value (Catalog.rows answers are cached per commit-log snapshot)
    val before = GetCube.prepare(spark, cat, request())
    assert(before.resampling == graft.raster.Resampling.Near)
    assert(GetCube.prepare(spark, cat, request()).resampling == before.resampling)
    val vd = cat.read(spark, "variable_definitions").collect()
    cat.rewrite(spark.createDataFrame(
      spark.sparkContext.parallelize(vd.map { r =>
        Row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4), r.get(5),
          r.get(6), r.get(7), r.get(8), r.get(9), "bilinear")
      }.toSeq), Schemas.all("variable_definitions")), "variable_definitions")
    assert(GetCube.prepare(spark, cat, request()).resampling ==
      graft.raster.Resampling.Bilinear)
    // restore for any later suite ordering
    cat.rewrite(spark.createDataFrame(
      spark.sparkContext.parallelize(vd.toSeq), Schemas.all("variable_definitions")),
      "variable_definitions")
  }

  test("xyz tile path: webmercator mosaic to png") {
    // z=6, x=32, y=31 covers lon [0, 5.625], lat [0, ~5.6] — our data box
    val png = XYZTile.getTile(spark, cat, "i1", x = 32, y = 31, z = 6,
      minOverride = -1, maxOverride = 1,
      palette = Some(Palette("g", Seq(
        Palette.ColorPoint(0f, 0, 0, 0, 255), Palette.ColorPoint(1f, 255, 255, 255, 255)))))
    assert(png.isDefined)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png.get))
    assert(img.getWidth == 256 && img.getHeight == 256)
    // pixels over the data area are opaque; far corners (outside [0,4]²) transparent
    assert(((img.getRGB(2, 254) >>> 24) & 0xff) == 255) // lon~0.04, lat~0.04
    assert(((img.getRGB(255, 0) >>> 24) & 0xff) == 0) // lon~5.6, lat~5.6
    // empty tile → None
    assert(XYZTile.getTile(spark, cat, "i1", x = 0, y = 0, z = 6).isEmpty)
  }

  test("ingestion (C8): validate + derive footprint + append ACTIVE dataset") {
    import graft.ingest.IndexDatasets
    import graft.core.{DataFormat, DType, NumRange}
    IndexDatasets.run(spark, cat, Seq(IndexDatasets.NewDataset(
      recordId = "r3", instanceId = "i1", containerUri = "mem://c1",
      dformat = DataFormat(DType.UInt8, 255.0, NumRange(0, 254)),
      realMin = -1, realMax = 1)))
    val d = cat.read(spark, "datasets")
      .filter(org.apache.spark.sql.functions.col("record_id") === "r3").collect()
    assert(d.length == 1)
    assert(d(0).getAs[String]("status") == "ACTIVE")
    assert(d(0).getAs[Row]("bbox").getDouble(2) == 4.0) // xmax from tile grid
    // unreachable container → validation error
    assertThrows[IllegalArgumentException] {
      IndexDatasets.run(spark, cat, Seq(IndexDatasets.NewDataset(
        recordId = "rX", instanceId = "i1", containerUri = "mem://missing",
        dformat = DataFormat(DType.UInt8, 255.0, NumRange(0, 254)),
        realMin = 0, realMax = 1)))
    }
    // dtype mismatch → validation error
    assertThrows[IllegalArgumentException] {
      IndexDatasets.run(spark, cat, Seq(IndexDatasets.NewDataset(
        recordId = "rX", instanceId = "i1", containerUri = "mem://c1",
        dformat = DataFormat(DType.Int16, -1, NumRange(0, 100)),
        realMin = 0, realMax = 1)))
    }
  }

  test("catalog swap is atomic and versioned (C6 semantics)") {
    import org.apache.spark.sql.functions._
    val total = cat.read(spark, "datasets").count()
    val swapped = cat.read(spark, "datasets").withColumn("status",
      when(col("status") === "ACTIVE", "TODELETE").otherwise(col("status")))
    cat.rewrite(swapped, "datasets")
    val after = cat.read(spark, "datasets").select("status").distinct().collect()
    assert(after.map(_.getString(0)).toSet == Set("TODELETE"))
    // swap back for other tests
    cat.rewrite(cat.read(spark, "datasets").withColumn("status", lit("ACTIVE")), "datasets")
    assert(cat.read(spark, "datasets").filter(col("status") === "ACTIVE").count() == total)
  }
}
