package graft.catalog

import graft.catalog.Catalog.FileMeta
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, forAllNoShrink}

/** Property coverage for the r14 commit-log line format: the sized
  * `ADD <rel> <size>[ s<min>:<max>]` operand must round-trip through
  * `parseEntry` for EVERY rel path the stores can produce — including
  * partition values containing spaces, digits, `s1:2`-shaped tokens and
  * Spark's `%`-escapes (none of which are space-escaped on disk) — and a
  * bare operand (a REMOVE line's form) must parse to (rel, no meta)
  * unchanged; the ADD/FILE folds reject it. The one
  * structural invariant the right-to-left parse leans on is that a rel
  * path always ENDS in a Spark-generated data-file name, which is never
  * an all-digit or `s<digits>:<digits>` token.
  *
  * Malformed-log coverage: the commit log is the only catalog format, so
  * its replay decoder ([[Catalog.terminatedContent]] → `foldCommit` /
  * `foldCheckpoint`, the exact path a snapshot replay takes) sees every
  * byte a store holds. Truncations and byte flips of generated commit
  * files and v1/v2 checkpoints — and commits whose ADD operands are bare —
  * must each either replay or fail with a typed [[java.io.IOException]]
  * ([[Catalog.MalformedLogFile]] for a bare ADD) — never an escaping
  * NoSuchElementException/NumberFormatException, never a hang. */
object CommitLogLineProps extends Properties("commitlog-lines") {

  /** op dirs are 12 lowercase-hex chars — including the all-digit corner. */
  private val genOpId: Gen[String] =
    Gen.oneOf(
      Gen.listOfN(12, Gen.oneOf(('0' to '9') ++ ('a' to 'f'))).map(_.mkString),
      Gen.const("123456789012")) // all digits: must never confuse the parse

  /** A partition-dir segment, adversarial: spaces, digits, colon-tokens,
    * Hive escapes — everything escapePathName leaves or produces. */
  private val genPartDir: Gen[String] = for {
    col <- Gen.oneOf("job_id", "instance_id", "type")
    v <- Gen.oneOf(
      Gen.alphaNumStr.suchThat(_.nonEmpty),
      Gen.const("a b c"), Gen.const("42 7"), Gen.const("s1:2"),
      Gen.const("x%3Ay"), Gen.const("9999999999"),
      Gen.const("__HIVE_DEFAULT_PARTITION__"))
  } yield s"$col=$v"

  /** Spark part-file names: always carry letters (never all-digit). */
  private val genFile: Gen[String] = for {
    n <- Gen.choose(0, 99999)
    uuid <- Gen.listOfN(8, Gen.oneOf(('0' to '9') ++ ('a' to 'f'))).map(_.mkString)
  } yield f"part-$n%05d-$uuid.c000.snappy.parquet"

  private val genRel: Gen[String] = for {
    op <- genOpId
    part <- Gen.option(genPartDir)
    file <- genFile
  } yield (Seq(op) ++ part.toSeq :+ file).mkString("/")

  /** Envelope doubles, adversarial: negatives, -0.0, scientific
    * notation, extremes — everything Double.toString can emit (which is
    * exactly what entryLine writes; toString round-trips). */
  private val genDbl: Gen[Double] = Gen.oneOf(
    Gen.choose(-180.0, 180.0), Gen.const(-0.0), Gen.const(1.23e-12),
    Gen.const(-9.87e15), Gen.const(Double.MaxValue))

  private val genMeta: Gen[FileMeta] = for {
    size <- Gen.choose(0L, 999999999999999999L) // < 19 digits: real sizes
    stats <- Gen.option(for {
      mn <- Gen.choose(Long.MinValue / 2, Long.MaxValue / 2)
      span <- Gen.choose(0L, 1000000L)
    } yield (mn, mn + span))
    bbox <- Gen.option(for {
      x0 <- genDbl; y0 <- genDbl; x1 <- genDbl; y1 <- genDbl
    } yield (x0, y0, x1, y1))
  } yield FileMeta(size, stats, bbox)

  property("sized lines round-trip") = forAll(genRel, genMeta) { (rel, m) =>
    val line = Catalog.entryLine("ADD", rel, m)
    Prop(line.startsWith("ADD ") &&
      Catalog.parseEntry(line.drop(4)) == ((rel, Some(m))))
  }

  property("legacy bare operands parse unchanged") = forAll(genRel) { rel =>
    Prop(Catalog.parseEntry(rel) == ((rel, None)))
  }

  property("a REMOVE built by echoing a sized ADD operand still matches") =
    forAll(genRel, genMeta) { (rel, m) =>
      // the in-doubt spec (and any external tooling) constructs REMOVEs
      // by copying ADD operands verbatim — the parse must strip the
      // metadata tokens so the rel matches its live entry
      val echoed = Catalog.entryLine("ADD", rel, m).drop(4)
      Prop(Catalog.parseEntry(echoed)._1 == rel)
    }

  // ---- malformed log files ------------------------------------------

  private val genSizedEntry: Gen[String] = for {
    rel <- genRel
    m <- genMeta
  } yield Catalog.entryLine("ADD", rel, m).drop(4)

  /** An ADD operand, sized or bare: a bare one must fail the replay typed. */
  private val genEntry: Gen[String] = Gen.oneOf(genSizedEntry, genRel)

  /** A commit file as `tryCommit` writes it — header, PART targets,
    * ordered REMOVE/ADD operands, terminator — with `entry` operands on
    * its ADD lines. */
  private def genCommitBytes(entry: Gen[String]): Gen[Array[Byte]] = for {
    op <- genOpId
    kind <- Gen.oneOf("append", "update", "rewrite", "import")
    parts <- Gen.listOfN(2, genPartDir)
    adds <- Gen.choose(1, 6).flatMap(Gen.listOfN(_, entry))
    removes <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, genRel))
  } yield Catalog.logText(Seq(s"OP $op", s"KIND $kind") ++
    parts.map("PART " + _) ++ removes.map("REMOVE " + _) ++
    adds.map("ADD " + _))

  /** A checkpoint as maintenance writes it: FILE and TOMB lines, v1 text
    * or v2 deflate. */
  private val genCheckpoint: Gen[Array[Byte]] = for {
    files <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, for {
      rel <- genRel; m <- genMeta
    } yield Catalog.entryLine("FILE", rel, m)))
    tombs <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, for {
      rel <- genRel; t <- Gen.choose(0L, Long.MaxValue)
    } yield s"TOMB $t $rel"))
    v2 <- Gen.oneOf(true, false)
  } yield if (v2) Catalog.checkpointBytes(files ++ tombs) else Catalog.logText(files ++ tombs)

  /** Truncate at a random length, or flip 1–3 random bytes. */
  private def genDamaged(bytes: Array[Byte]): Gen[Array[Byte]] =
    Gen.oneOf(
      Gen.choose(0, bytes.length - 1).map(n => bytes.take(n)),
      Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, for {
        i <- Gen.choose(0, bytes.length - 1); mask <- Gen.choose(1, 255)
      } yield (i, mask))).map { flips =>
        val out = bytes.clone()
        flips.foreach { case (i, mask) => out(i) = (out(i) ^ mask).toByte }
        out
      })

  private val bound = new graft.props.CaseBound("clprops-decode")

  /** Feed one file through the replay decoder within the case bound and
    * judge what it threw (None when it replays or is judged
    * unterminated). */
  private def replay(bytes: Array[Byte], checkpoint: Boolean)(
      judge: Option[Throwable] => Prop): Prop =
    bound.check {
      Catalog.terminatedContent(bytes).foreach { lines =>
        val live = new scala.collection.mutable.HashSet[String]
        val tombs = new scala.collection.mutable.HashMap[String, Long]
        val meta = new scala.collection.mutable.HashMap[String, FileMeta]
        if (checkpoint) Catalog.foldCheckpoint("cp", lines, live, tombs, meta)
        else Catalog.foldCommit("c", lines, 0L, live, tombs, meta)
      }
    }(judge)

  private def replaysOrFailsTyped(bytes: Array[Byte], checkpoint: Boolean): Prop =
    replay(bytes, checkpoint) {
      case None | Some(_: java.io.IOException) => Prop.passed
      case Some(e) => Prop.falsified :| s"escaped ${e.getClass.getName}: ${e.getMessage}"
    }

  // no shrinking on the bounded properties: a shrunk file is a different
  // input, and shrinking re-ran a hung case over and over
  property("a truncated or byte-flipped commit replays or fails typed") =
    forAllNoShrink(genCommitBytes(genEntry).flatMap(genDamaged)) { damaged =>
      replaysOrFailsTyped(damaged, checkpoint = false)
    }

  property("a truncated or byte-flipped checkpoint replays or fails typed") =
    forAllNoShrink(genCheckpoint.flatMap(genDamaged)) { damaged =>
      replaysOrFailsTyped(damaged, checkpoint = true)
    }

  property("an undamaged commit or checkpoint replays") =
    forAllNoShrink(genCommitBytes(genSizedEntry), genCheckpoint) { (c, cp) =>
      Prop(Catalog.terminatedContent(c).isDefined &&
        Catalog.terminatedContent(cp).isDefined) &&
        replay(c, checkpoint = false)(o => Prop(o.isEmpty) :| s"commit: $o") &&
        replay(cp, checkpoint = true)(o => Prop(o.isEmpty) :| s"checkpoint: $o")
    }
}
