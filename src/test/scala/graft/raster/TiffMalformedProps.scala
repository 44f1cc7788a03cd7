package graft.raster

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAllNoShrink

/** Malformed-input coverage for the one TIFF read path: `mucog`,
  * `importFiles` and the file-backed XYZ tile all read files from outside
  * the program through [[GeoTiff.open]] + [[GeoTiff.Tiff.decode]].
  * Truncations, byte flips and nudged IFD fields of every
  * [[TiffFixtures]] layout must each either parse and decode or fail with
  * the typed [[GeoTiff.MalformedTiff]] — never an escaping
  * IndexOutOfBounds/NegativeArraySize/OutOfMemory, never a hang (10 s
  * [[graft.props.CaseBound]] per case). No shrinking: a shrunk byte array is a different
  * file, and each hung step would cost 10 s. Both head-buffer regimes
  * run: a 64-byte start that grows through every truncation point, and
  * the default that buffers a small file whole. */
object TiffMalformedProps extends Properties("tiff-malformed") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(500)

  private val genFixture: Gen[(String, Array[Byte])] = Gen.oneOf(TiffFixtures.all)

  /** Truncate at a random length, flip 1–3 random bytes (biased toward
    * the head, where the IFDs and their values live), or nudge one
    * integer IFD field by a small amount — the off-by-some dimension,
    * offset or byte count a buggy writer leaves, which random flips
    * rarely produce. */
  private def genDamaged(bytes: Array[Byte]): Gen[Array[Byte]] = {
    val genPos = Gen.frequency(
      3 -> Gen.choose(0, TiffFixtures.headEnd(bytes) - 1),
      1 -> Gen.choose(0, bytes.length - 1))
    Gen.oneOf(
      Gen.choose(0, bytes.length - 1).map(n => bytes.take(n)),
      Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, for {
        i <- genPos; mask <- Gen.choose(1, 255)
      } yield (i, mask))).map { flips =>
        val out = bytes.clone()
        flips.foreach { case (i, mask) => out(i) = (out(i) ^ mask).toByte }
        out
      },
      for {
        field <- Gen.oneOf(TiffFixtures.intFields(bytes))
        delta <- Gen.oneOf(Gen.choose(-64, -1), Gen.choose(1, 64))
      } yield TiffFixtures.patchField(bytes, field,
        TiffFixtures.valueOf(bytes, field) + delta))
  }

  private val bound = new graft.props.CaseBound("tiffprops-decode")

  /** Open `bytes`, choose a level of every record and decode every
    * directory, within the case bound, and judge what it threw. */
  private def read(bytes: Array[Byte], initial: Int)(judge: Option[Throwable] => Prop): Prop =
    bound.check {
      val tiff = GeoTiff.open(GeoTiff.bytesReadAt(bytes), bytes.length.toLong, initial)
      (0 until tiff.records).foreach(r => tiff.level(r, 2.0))
      tiff.headers.indices.foreach(tiff.decode)
    }(judge)

  private val genInitial: Gen[Int] = Gen.oneOf(64, 256 * 1024)

  property("a truncated or byte-flipped TIFF parses or fails typed") =
    forAllNoShrink(genFixture.flatMap { case (name, b) => genDamaged(b).map(name -> _) },
        genInitial) { case ((name, damaged), initial) =>
      read(damaged, initial) {
        case None | Some(_: GeoTiff.MalformedTiff) => Prop.passed
        case Some(e) =>
          Prop.falsified :| s"$name (${damaged.length} B, initial $initial): " +
            s"escaped ${e.getClass.getName}: ${e.getMessage}"
      }
    }

  property("every undamaged fixture parses and decodes") =
    forAllNoShrink(genFixture, genInitial) { case ((name, bytes), initial) =>
      read(bytes, initial)(outcome => Prop(outcome.isEmpty) :| s"$name: $outcome")
    }
}
