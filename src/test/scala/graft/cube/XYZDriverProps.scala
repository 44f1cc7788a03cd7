package graft.cube

import graft.catalog.Catalog
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAllNoShrink

/** The XYZ driver arm's two pure stand-ins for Spark expressions: the
  * level rule [[GetCube.chooseLevel]] against the window
  * [[GetCube.levelWindow]] the Spark plan runs, and the driver bucket
  * [[Catalog.tilesBucketOf(String)]] against the column expression
  * tiles are written and pruned with. */
object XYZDriverProps extends Properties("xyz-driver") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(40)

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val genCrs = Gen.oneOf("EPSG:4326", "EPSG:3857", "EPSG:32631",
    "+proj=longlat +ellps=GRS80 +no_defs", "+proj=utm +zone=31 +datum=WGS84")

  /** One (container, base) group: a base level and up to four overviews,
    * resolutions from a coarse ladder in degrees or meters, so levels
    * sit on both sides of the 1.2× slack and sometimes tie exactly. */
  private val genGroup: Gen[Seq[(String, String, Double)]] = for {
    base <- Gen.oneOf("", "B04", "sub/x")
    n <- Gen.choose(1, 5)
    levels <- Gen.listOfN(n, for {
      crs <- genCrs
      step <- Gen.choose(0, 6)
      meters <- Gen.oneOf(true, false)
      sign <- Gen.oneOf(1.0, -1.0)
    } yield (crs, sign * (if (meters) 100.0 else 0.001) * math.pow(2, step)))
  } yield levels.zipWithIndex.map { case ((crs, rx), i) =>
    (if (i == 0) base else s"$base@ov$i", crs, rx)
  }

  private val levelSchema = StructType(Seq(
    StructField("container_uri", StringType), StructField("subdir", StringType),
    StructField("crs", StringType), StructField("transform", ArrayType(DoubleType))))

  property("the driver level rule picks what the Spark level window picks") =
    forAllNoShrink(Gen.choose(1, 6).flatMap(Gen.listOfN(_, genGroup)),
        Gen.oneOf(0.0005, 0.001, 0.0024, 0.005, 0.01, 0.03, 0.2)) { (groups, target) =>
      val rows = groups.zipWithIndex.flatMap { case (g, c) =>
        g.map { case (sub, crs, rx) =>
          Row(s"mem://c$c", if (sub.isEmpty && c % 2 == 1) null else sub, crs,
            Seq(0.0, rx, 0.0, 0.0, 0.0, -math.abs(rx)))
        }
      }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), levelSchema)
      val window = GetCube.levelWindow(df, target).collect()
        .map(r => (r.getString(0), r.getString(2)) -> r.getString(1)).toMap
      val results = groups.zipWithIndex.map { case (g, c) =>
        val uri = s"mem://c$c"
        val base = GetCube.baseSubdir(g.head._1)
        val (sub, crs, rx) = GetCube.chooseLevel(g, target)
        val res = GetCube.levelResDeg(crs, rx)
        val sparkSub = window.getOrElse((uri, base), "<none>")
        val sparkRes = g.find(_._1 == sparkSub).map(l => GetCube.levelResDeg(l._2, l._3))
        // levels of equal resolution are interchangeable: compare the
        // chosen resolution, and the subdir whenever that is unique
        val unique = g.count(l => GetCube.levelResDeg(l._2, l._3) == res) == 1
        Prop(sparkRes.contains(res) && (!unique || sparkSub == sub)) :|
          s"group $uri $g at $target: driver $sub ($res), window $sparkSub ($sparkRes)"
      }
      Prop.all(results: _*) && Prop(window.size == groups.size) :| s"window $window"
    }

  /** Valid UTF-16 text: ASCII, BMP outside the surrogates, astral planes. */
  private val genUri: Gen[String] = Gen.listOf(Gen.frequency(
      4 -> Gen.choose(0x20, 0x7e), 1 -> Gen.choose(0xa0, 0xd7ff),
      1 -> Gen.choose(0xe000, 0xfffd), 1 -> Gen.choose(0x10000, 0x10ffff)))
    .map(cps => cps.map(cp => new String(Character.toChars(cp))).mkString)

  property("the driver bucket equals tilesBucketOf on UTF-8 URIs") =
    forAllNoShrink(Gen.choose(1, 40).flatMap(Gen.listOfN(_, genUri))) { uris =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(uris.map(Row(_)), 1),
        StructType(Seq(StructField("u", StringType))))
      val sparkBuckets = df.select(col("u"), Catalog.tilesBucketOf(col("u")))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      Prop.all(uris.map(u =>
        Prop(sparkBuckets(u) == Catalog.tilesBucketOf(u)) :|
          s"'$u': spark ${sparkBuckets(u)}, driver ${Catalog.tilesBucketOf(u)}"): _*)
    }
}
