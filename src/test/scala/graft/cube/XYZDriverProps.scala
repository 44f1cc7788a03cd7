package graft.cube

import graft.catalog.Catalog
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAllNoShrink

/** The resolver's two pure stand-ins: the level rule
  * [[GetCube.chooseLevel]] against a sort of the levels by the same rule,
  * and the driver bucket [[Catalog.tilesBucketOf(String)]] against the
  * column expression tiles are written and pruned with. */
object XYZDriverProps extends Properties("xyz-driver") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(40)

  private lazy val spark = graft.SparkSuite.session()

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

  /** The level rule by sorting, in the order the Spark level window
    * sorted a group: levels within 1.2× of the target first, the coarsest
    * of them, else the finest; exact ties to the smaller subdir. Degrees
    * for the geographic CRS forms, else meters at the equatorial
    * 111320 m/°. */
  private def bySort(levels: Seq[(String, String, Double)], target: Double): String =
    levels.sortBy { case (sub, crs, rx) =>
      val res =
        if (crs == "EPSG:4326" || crs.startsWith("+proj=longlat")) math.abs(rx)
        else math.abs(rx) / 111320.0
      val eligible = res <= target * 1.2
      (!eligible, if (eligible) -res else res, sub)
    }(Ordering.Tuple3(Ordering.Boolean, Ordering.Double.TotalOrdering, Ordering.String))
      .head._1

  property("the driver level rule picks what a sort by the rule picks") =
    forAllNoShrink(Gen.choose(1, 6).flatMap(Gen.listOfN(_, genGroup)),
        Gen.oneOf(0.0005, 0.001, 0.0024, 0.005, 0.01, 0.03, 0.2)) { (groups, target) =>
      Prop.all(groups.map { g =>
        val (sub, _, _) = GetCube.chooseLevel(g, target)
        val want = bySort(g, target)
        Prop(sub == want) :| s"group $g at $target: chooseLevel $sub, sort $want"
      }: _*)
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
