package graft.sources

import graft.catalog.Schemas
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector for MuCOG/COG containers: makes the file-backed
  * tile source a first-class Spark format —
  *
  * {{{
  *   spark.read.format("mucog")
  *     .option("targetRes", "2.0")       // -ovr AUTO overview selection
  *     .load(containersGlob)             // or CREATE TABLE … USING mucog
  * }}}
  *
  * Rows come back in the catalog `tiles` schema, so GetCube's merge
  * kernel consumes them unchanged.
  *
  * Scale shape: one input partition per file (the container is the
  * reference's unit of work too), read on executors through Hadoop
  * positioned reads: one head parse per container, then only the chosen
  * overview level's blocks (`targetRes` decodes 1/4ᴷ of the pixels for
  * coarse requests). Two pushdowns compose with Catalyst: `container_uri`
  * filters prune whole files at planning time, and pruning `payload` out
  * of the projection skips every block read — the header-only read. */
class MucogDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "mucog"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Schemas.tiles

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new MucogTable(new CaseInsensitiveStringMap(properties))
}

final class MucogTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"mucog(${options.get("path")})"
  override def schema(): StructType = Schemas.tiles
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new MucogScanBuilder(opts)
}

final class MucogScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with Scan with Batch
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  // `load(p)` arrives as option "path"; `load(p1, p2, …)` arrives as
  // option "paths" holding a JSON-encoded array — decode it, don't glob it
  private val paths: Seq[String] = {
    val single = Option(options.get("path")).toSeq
    val multi = Option(options.get("paths")).toSeq.flatMap { raw =>
      val t = raw.trim
      if (t.startsWith("[")) {
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        m.readValue(t, classOf[Array[String]]).toSeq
      } else Seq(raw)
    }
    val all = (single ++ multi).distinct
    require(all.nonEmpty, "mucog source requires a path")
    all
  }
  private val targetRes: Double =
    Option(options.get("targetres")).map(_.toDouble).getOrElse(0.0)
  private var required: StructType = Schemas.tiles

  // column pruning pushdown: when `payload` is pruned away, the reader
  // takes the header-only parse — no block reads, no inflate, no Bitmap
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // filter pushdown → PARTITION pruning: container_uri is the file path,
  // so equality/IN/prefix predicates on it drop whole files at planning
  // time — a catalog-shaped lookup over a 10⁶-container store opens only
  // the named containers instead of scanning the fleet. All filters are
  // also returned as residuals (Spark re-evaluates them), so pruning can
  // never change results.
  import org.apache.spark.sql.sources.{EqualTo, Filter => SFilter, In, StringStartsWith}
  private var uriFilters: Seq[SFilter] = Nil
  override def pushFilters(filters: Array[SFilter]): Array[SFilter] = {
    uriFilters = filters.filter {
      case EqualTo("container_uri", _) => true
      case In("container_uri", _) => true
      case StringStartsWith("container_uri", _) => true
      case _ => false
    }.toSeq
    filters // everything stays a residual
  }
  override def pushedFilters(): Array[SFilter] = uriFilters.toArray

  private def keepFile(path: String): Boolean = uriFilters.forall {
    case EqualTo(_, v) => path == v
    case In(_, vs) => vs.exists(_ == path)
    case StringStartsWith(_, p) => path.startsWith(p)
    case _ => true
  }

  override def build(): Scan = this
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    // driver-side listing only (names, no bytes): one partition per file
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val statuses = paths.flatMap { one =>
      val p = new org.apache.hadoop.fs.Path(one)
      val fs = p.getFileSystem(conf)
      fs.globStatus(p) match {
        case null => Seq.empty[org.apache.hadoop.fs.FileStatus]
        case gs => gs.toSeq.flatMap { st =>
          if (st.isDirectory) fs.listStatus(st.getPath).filterNot(_.isDirectory).toSeq
          else Seq(st)
        }
      }
    }
    statuses.filter(st => keepFile(st.getPath.toString))
      .map(st => MucogInputPartition(st.getPath.toString, targetRes,
        required.fieldNames.toSeq).asInstanceOf[InputPartition]).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // session Hadoop conf captured HERE (driver, planning time) so
    // spark.hadoop.* settings — object-store credentials, endpoints —
    // reach the executor-side fs.open; a bare `new Configuration()` on the
    // executor would silently drop them
    new MucogReaderFactory(new org.apache.spark.util.SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration))
}

final case class MucogInputPartition(file: String, targetRes: Double,
    fields: Seq[String]) extends InputPartition

final class MucogReaderFactory(
    hconf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new MucogPartitionReader(partition.asInstanceOf[MucogInputPartition], hconf)
}

/** Reads one container file on the executor: each full-res subdir at the
  * overview level [[graft.raster.GeoTiff.Tiff.level]] chooses for
  * `targetRes`. With `payload` in the projection that level's blocks are
  * decoded; without it (pruned) nothing past the IFD head is read — a
  * metadata query touches a few hundred bytes of directory data per
  * container. Both projections report the same chosen level's header. */
final class MucogPartitionReader(part: MucogInputPartition,
    hconf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  private def row(subdir: String, h: graft.raster.GeoTiff.Header,
      payload: => Array[Byte]): InternalRow =
    InternalRow.fromSeq(part.fields.map {
      case "container_uri" => UTF8String.fromString(part.file)
      case "subdir" => UTF8String.fromString(subdir)
      case "width" => h.width
      case "height" => h.height
      case "bands" => h.bands
      case "dtype" => UTF8String.fromString(h.dtype.name)
      case "crs" => UTF8String.fromString(graft.geo.CRS.serialize(h.crs))
      case "transform" =>
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(h.transform.toArray)
      case "payload" => payload
      case other => throw new IllegalArgumentException(s"unknown column $other")
    })

  private lazy val rows: Iterator[InternalRow] =
    graft.ingest.GeoTiffIO.withTiff(hconf.value, part.file) { tiff =>
      (0 until tiff.records).map { r =>
        val i = tiff.level(r, part.targetRes)
        row(s"GTIFF_DIR:${r + 1}", tiff.headers(i), tiff.decode(i).bitmap.toBytes)
      }
    }.iterator
  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
