package geobench

import graft.api.Geocube
import graft.catalog.TableStore
import graft.consolidation.ConsolidationParams
import graft.core.{DataFormat, DataMapping, DType, NumRange}
import graft.cube.{CubeRequest, GetCube}
import graft.geo.{Affine, BBox, CRS, GeomOps}
import graft.ingest.{GeoTiffIO, IndexDatasets}
import graft.layout.Layout
import graft.raster.{Bitmap, GeoTiff, Resampling}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The write path: batch cycles of compressed COGs imported, recorded,
  * indexed, consolidated onto a layout and read back, on a catalog that
  * grows through the run. Each cycle's files are a pure function of the
  * seed and the cycle number. */
final class Ingest(seed: Long, incoming: java.io.File) {
  import Ingest._

  /** Region the files land in: 2×2 layout cells, on the pixel grid. */
  private val origin = new java.util.SplittableRandom(seed ^ 0x696e67L)
  val regionX0: Double = (origin.nextInt(40) - 20) * CellDeg
  val regionY0: Double = (origin.nextInt(20) + 20) * CellDeg

  def files(cycle: Int): Seq[File] = {
    val r = new java.util.SplittableRandom(seed * 1000003L + cycle)
    (0 until FilesPerCycle).map { f =>
      val kx = r.nextInt(2 * CellPx - Size + 1)
      val ky = r.nextInt(2 * CellPx - Size + 1)
      val px = new Array[Byte](Size * Size)
      for (j <- 0 until Size; i <- 0 until Size)
        px(j * Size + i) = (((i >> 4) * 7 + (j >> 4) * 3 + f * 29 + cycle * 11 +
          (Mosaic.mix(seed, cycle, f, i, j) & 15)) % 255).toByte
      File(s"c${cycle}_f$f", regionX0 + kx * Res, regionY0 - ky * Res, px)
    }
  }

  /** Write a cycle's files as deflate-compressed tiled GeoTIFFs; returns
    * the directory holding them. */
  def generate(cycle: Int): java.io.File = {
    val dir = new java.io.File(incoming, s"c$cycle")
    dir.mkdirs()
    for (f <- files(cycle)) {
      val bm = new Bitmap(Size, Size, 1, DType.UInt8, f.pixels.map(b => (b & 0xff).toDouble))
      val bytes = GeoTiff.write(Seq(GeoTiff.Image(bm, Affine(f.x0, Res, 0, f.y0, 0, -Res),
        CRS.parse("EPSG:4326"))), noData = 255, compress = true, tileSize = 256)
      java.nio.file.Files.write(new java.io.File(dir, s"${f.record}.tif").toPath, bytes)
    }
    dir
  }

  /** Catalog set-up before the first cycle: the variable, its instance,
    * the AOI and the variable's consolidation parameters. */
  def setup(spark: SparkSession, cat: TableStore): Unit = {
    val gc = Geocube(spark, cat)
    gc.createVariable(gc.NewVariable(id = VariableId, name = "reflectance",
      dtype = "uint8", noData = 255, minValue = 0, maxValue = 254))
    gc.instantiateVariable(VariableId, InstanceId, "master")
    gc.createAoi(GeomOps.polygonFromBBox(regionBox))
    gc.configConsolidation(VariableId, Params)
  }

  def regionBox: BBox = BBox(regionX0, regionY0 - 2 * CellDeg, regionX0 + 2 * CellDeg, regionY0)

  /** The verifying read: every record of the cycle over the region,
    * nearest-neighbour at the files' own resolution. */
  def verifyRequest(records: Seq[String]): CubeRequest = CubeRequest(
    instanceIds = Seq(InstanceId), crs = "EPSG:4326",
    transform = Affine(regionX0, Res, 0, regionY0, 0, -Res),
    width = 2 * CellPx, height = 2 * CellPx,
    recordIds = records, resampling = Some("near"))

  /** What the verifying read must return: per record (time order) the
    * file's pixels at its offset in the region, nodata elsewhere. */
  def expected(cycle: Int): Seq[(Seq[String], Long)] = files(cycle).map { f =>
    val w = 2 * CellPx
    val out = Array.fill[Byte](w * w)(255.toByte)
    val ox = math.round((f.x0 - regionX0) / Res).toInt
    val oy = math.round((regionY0 - f.y0) / Res).toInt
    for (j <- 0 until Size) System.arraycopy(f.pixels, j * Size, out, (oy + j) * w + ox, Size)
    Seq(f.record) -> Serving.crc(out)
  }

  def read(spark: SparkSession, cat: TableStore, records: Seq[String]): Seq[(Seq[String], Long)] =
    GetCube.cube(spark, cat, verifyRequest(records)).collect().toSeq
      .map(s => s.record_ids -> Serving.crc(s.payload))

  def datetime(cycle: Int, f: Int): java.sql.Timestamp =
    new java.sql.Timestamp(Mosaic.T0 + cycle * 86400000L + f * 60000L)
}

object Ingest {
  /** One generated COG: its record id, top-left corner and pixels. */
  final case class File(record: String, x0: Double, y0: Double, pixels: Array[Byte])

  val Size = 256
  val Res = 0.01
  val CellPx = 256
  val CellDeg: Double = CellPx * Res
  val FilesPerCycle = 4
  val VariableId = "v1"
  val InstanceId = "i1"
  val Identity: DataMapping =
    DataMapping(DataFormat(DType.UInt8, 255.0, NumRange(0, 254)), NumRange(0, 254), 1.0)
  val Params: ConsolidationParams = ConsolidationParams(Identity, Resampling.Near)
  val CellLayout: Layout = Layout("geobench", Seq("regular"),
    Map("crs" -> "EPSG:4326", "resolution" -> Res.toString, "cell_size" -> CellPx.toString))

  /** The named steps of one cycle, in order, with the time each took. */
  final case class Cycle(cycle: Int, stepsMs: Seq[(String, Double)], state: String,
      ok: Boolean, error: String, pixels: Long) {
    def ms: Double = stepsMs.map(_._2).sum
  }

  /** Run one cycle: import → records → index → consolidate → verify.
    * `around` wraps every step (job groups, spans and listings when
    * traced); only the step itself is timed. */
  def cycle(spark: SparkSession, cat: TableStore, in: Ingest, c: Int,
      around: (String, () => Unit) => Unit): Cycle = {
    val gc = Geocube(spark, cat)
    val fs = in.files(c)
    val dir = in.generate(c)
    val steps = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def step(name: String)(body: => Unit): Unit = around(name, () => {
      val t0 = System.nanoTime()
      body
      steps += name -> (System.nanoTime() - t0) / 1e6
    })
    var state = ""
    var before: Seq[(Seq[String], Long)] = Nil
    var after: Seq[(Seq[String], Long)] = Nil
    val err =
      try {
        step("ingest.import")(GeoTiffIO.importFiles(spark, cat, s"${dir.getAbsolutePath}/*.tif"))
        step("ingest.records")(gc.createRecords(fs.zipWithIndex.map { case (f, i) =>
          gc.NewRecord(f.record, f.record, in.datetime(c, i), Map("cycle" -> c.toString),
            GeomOps.geometryHash(GeomOps.polygonFromBBox(in.regionBox)))
        }))
        step("ingest.index")(gc.indexExternalDatasets(fs.map { f =>
          IndexDatasets.NewDataset(recordId = f.record, instanceId = InstanceId,
            containerUri = new java.io.File(dir, s"${f.record}.tif").toURI.toString
              .replaceFirst("^file:/+", "file:/"),
            subdir = "GTIFF_DIR:1", dformat = Identity.format, realMin = 0, realMax = 254)
        }))
        before = in.read(spark, cat, fs.map(_.record)) // untimed reference read
        step("consolidation.job") {
          state = gc.consolidateFromRecords(s"job-c$c", s"geobench-c$c",
            InstanceId, fs.map(_.record), CellLayout)
        }
        step("consolidation.verify") { after = in.read(spark, cat, fs.map(_.record)) }
        val want = in.expected(c)
        if (state != "DONE") s"consolidation ended in $state"
        else if (before != want) s"pre-consolidation read differs from the files: $before vs $want"
        else if (after != before) s"post-consolidation read differs: $after vs $before"
        else ""
      } catch { case e: Exception => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    Cycle(c, steps.toSeq, state, err.isEmpty, err, FilesPerCycle.toLong * Size * Size)
  }

  /** Seconds between consecutive journal rows of a consolidation job,
    * keyed by the state each step reached. */
  def stepSeconds(spark: SparkSession, cat: TableStore, jobId: String): Seq[(String, Double)] = {
    val rows = cat.read(spark, "jobs")
      .filter(col("id") === jobId && col("type") === "CONSOLIDATION")
      .select("state", "created_at").collect()
      .map(r => r.getString(0) -> r.getTimestamp(1).getTime).sortBy(_._2)
    rows.toSeq.sliding(2).collect { case Seq((_, t0), (s, t1)) => s -> (t1 - t0) / 1000.0 }.toSeq
  }
}
