package graft.consolidation

import graft.core.{DataFormat, DataMapping, DType, NumRange}
import graft.layout.Layout
import graft.raster.Resampling
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAllNoShrink

/** The journaled job specs survive their own JSON: `specJson` followed by
  * the driver-side `parseSpec` is the identity, for the consolidation and
  * the deletion spec, over strings with quotes, backslashes, control
  * characters and astral code points, empty and absent lists, and doubles
  * at NaN, the infinities, -0.0 and the extremes. */
object SpecJsonProps extends Properties("spec-json") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(200)

  private val genText: Gen[String] = Gen.listOf(Gen.frequency(
      6 -> Gen.choose(0x20, 0x7e), 1 -> Gen.oneOf(0x22, 0x5c, 0x2f),
      1 -> Gen.choose(0x00, 0x1f), 1 -> Gen.choose(0xa0, 0xd7ff),
      1 -> Gen.choose(0x10000, 0x10ffff)))
    .map(cps => cps.map(cp => new String(Character.toChars(cp))).mkString)

  private val genTexts: Gen[Seq[String]] = Gen.choose(0, 4).flatMap(Gen.listOfN(_, genText))

  private val genDouble: Gen[Double] = Gen.frequency(
    4 -> Gen.choose(-1e6, 1e6),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0,
      Double.MaxValue, -Double.MaxValue, Double.MinPositiveValue, 1e-300, 255.0))

  private val genConsolidation: Gen[ConsolidationJob.Spec] = for {
    name <- genText
    inst <- genText
    records <- genTexts
    collapse <- Gen.option(genText)
    layoutName <- genText
    flags <- genTexts
    params <- Gen.mapOf(Gen.zip(genText, genText))
    bx <- Gen.choose(Int.MinValue, Int.MaxValue)
    by <- Gen.choose(1, 4096)
    maxRecords <- Gen.choose(0, 100000)
    ovMin <- Gen.choose(0, 4096)
    interlacing <- genText
    dtype <- Gen.oneOf(DType.all)
    Seq(noData, min, max, realMin, realMax, exponent) <- Gen.listOfN(6, genDouble)
    resampling <- Gen.oneOf(Resampling.all)
    storage <- genText
  } yield ConsolidationJob.Spec("job-1", name, inst, records,
    Layout(layoutName, flags, params, bx, by, maxRecords, ovMin, interlacing),
    ConsolidationParams(DataMapping(DataFormat(dtype, noData, NumRange(min, max)),
      NumRange(realMin, realMax), exponent), resampling, storage),
    collapse)

  property("consolidation: parseSpec(specJson(spec)) is spec") =
    forAllNoShrink(genConsolidation) { spec =>
      val js = ConsolidationJob.specJson(spec)
      val back = ConsolidationJob.parseSpec(spec.jobId, js)
      // doubles compared through their exact text: NaN == NaN there
      (Prop(back.copy(params = spec.params) == spec) :| s"$back" &&
        Prop(ConsolidationJob.specJson(back) == js) :| s"${ConsolidationJob.specJson(back)}")
    }

  property("deletion: parseSpec(specJson(spec)) is spec") =
    forAllNoShrink(genText, genTexts, genTexts, genTexts) { (name, insts, records, patterns) =>
      val spec = DeletionJob.Spec("job-2", name, insts, records, patterns)
      val back = DeletionJob.parseSpec(spec.jobId, DeletionJob.specJson(spec))
      Prop(back == spec) :| s"$back"
    }

  property("a missing array parses as Nil") = Prop {
    DeletionJob.parseSpec("j", """{"name":"n"}""") == DeletionJob.Spec("j", "n") &&
      ConsolidationJob.parseSpec("j", """{"name":"n","instance_id":"i","layout":{},""" +
        """"params":{"dtype":"uint8","no_data":"NaN","min":0,"max":1,"real_min":0,""" +
        """"real_max":1,"exponent":1,"resampling":"near","storage_class":"S"}}""")
        .recordIds == Nil
  }
}
