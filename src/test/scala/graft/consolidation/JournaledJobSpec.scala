package graft.consolidation

import graft.consolidation.JournaledJob.Entry
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.{forAll, propBoolean}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** The journaled-job kernel on its own: no Spark, no catalog. A fake job
  * is a transition table (CREATED, then generated states, then DONE) whose
  * effects write to an in-memory world; the journal is a buffer. A crash
  * is a [[Died]] throwable after the k-th write of either kind, which no
  * `case e: Exception` handler catches — the process dies, the kernel
  * never sees a failure. */
class JournaledJobSpec extends AnyFunSuite {

  final class Died extends scala.util.control.ControlThrowable

  sealed trait Event
  final case class Ran(state: String) extends Event
  final case class Returned(state: String) extends Event
  final case class Journaled(state: String) extends Event
  case object TasksDropped extends Event

  /** The durable side of the fake: the journal rows and the event log,
    * plus the write counter that decides when the process dies. */
  final class World(crashAfter: Int = Int.MaxValue) {
    val journal = ArrayBuffer.empty[Entry]
    val events = ArrayBuffer.empty[Event]
    var writes = 0
    def write(e: Event): Unit = {
      events += e
      writes += 1
      if (writes == crashAfter) throw new Died
    }
    def states: Seq[String] = journal.map(_.state).toSeq
  }

  /** One incarnation of the fake job: `failIn` names the state whose
    * effect throws (a handled failure), `rollbackThrows` makes the undo
    * throw too. */
  def drive(w: World, table: Seq[String], failIn: Option[String] = None,
      rollbackThrows: Boolean = false): String = {
    val job = new JournaledJob("FAKE", "j1", "fake", w.journal.toSeq,
      e => { w.journal += e; w.write(Journaled(e.state)) },
      () => w.write(TasksDropped))
    job.drive("{}", None, Seq("ABORTED"), "ABORTED") {
      table.foreach { s =>
        job.step(s) {
          w.write(Ran(s))
          if (failIn.contains(s)) throw new IllegalStateException(s"$s failed")
          w.events += Returned(s) // bookkeeping, not a write: never dies
          ""
        }
      }
      "DONE"
    } { e =>
      job.rollback(e) {
        if (rollbackThrows) throw new IllegalStateException("undo failed")
      }
    }
  }

  val genTable: Gen[Seq[String]] = Gen.choose(0, 6).map(n =>
    ("CREATED" +: (1 to n).map(i => s"S$i")) :+ "DONE")

  def check(p: Prop): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  /** Every Journaled(s) of a table state has its Returned(s) before it. */
  def journaledAfterReturn(events: Seq[Event], table: Seq[String]): Boolean =
    events.zipWithIndex.forall {
      case (Journaled(s), i) if table.contains(s) =>
        events.take(i).contains(Returned(s))
      case _ => true
    }

  test("journalNow: strictly increasing even within one millisecond") {
    val stamps = (1 to 2000).map(_ => JournaledJob.journalNow())
    assert(stamps.sliding(2).forall {
      case Seq(a, b) => b.after(a)
      case _ => true
    })
  }

  test("kernel property: crash after any write, resume re-runs exactly the un-journaled effects") {
    // an uninterrupted run writes NEW + one effect and one row per state
    val gen = for {
      table <- genTable
      k <- Gen.choose(1, 1 + 2 * table.size)
    } yield (table, k)
    check(forAll(gen) { case (table, k) =>
      val w = new World(crashAfter = k)
      val died = try { drive(w, table); false } catch { case _: Died => true }
      val crashed = w.events.toSeq
      val journaledAtCrash = w.states.toSet
      // resume on the same durable state, no crash this time
      val r = new World()
      r.journal ++= w.journal
      val end = drive(r, table)
      val reran = r.events.collect { case Ran(s) => s }.toSeq
      val again = new World()
      again.journal ++= r.journal
      val third = drive(again, table)
      (died :| "the k-th write must kill the run") &&
        (journaledAfterReturn(crashed, table) :| s"crashed run: $crashed") &&
        (journaledAfterReturn(r.events.toSeq, table) :| s"resume: ${r.events}") &&
        ((reran == table.filterNot(journaledAtCrash)) :|
          s"resume ran $reran, journal at crash $journaledAtCrash") &&
        ((end == "DONE") :| s"resume ended in $end") &&
        ((r.states == ("NEW" +: table)) :| s"journal ${r.states}") &&
        // DONE is terminal: a later drive runs nothing and journals nothing
        ((third == "DONE" && again.events.isEmpty) :| s"re-drive: ${again.events}")
    })
  }

  test("kernel property: terminal states never re-drive; a throwing rollback lands in ROLLBACKFAILED") {
    val gen = for {
      table <- genTable
      failIn <- Gen.oneOf(table)
      rollbackThrows <- Gen.oneOf(true, false)
    } yield (table, failIn, rollbackThrows)
    check(forAll(gen) { case (table, failIn, rollbackThrows) =>
      val w = new World()
      val end = drive(w, table, Some(failIn), rollbackThrows)
      val ends = w.states.last
      val expected =
        if (failIn == "CREATED") "INITIALISATIONFAILED" // nothing locked yet
        else if (rollbackThrows) "ROLLBACKFAILED"
        else "FAILED"
      val dropped = w.events.indexOf(TasksDropped)
      val terminalChecks =
        if (expected == "INITIALISATIONFAILED") Prop.passed
        else {
          // a terminal journal never re-drives, whatever the resume's table
          val again = new World()
          again.journal ++= w.journal
          val redrive = drive(again, table)
          (redrive == expected && again.events.isEmpty) :|
            s"re-drive of $expected gave $redrive, ${again.events}"
        }
      ((end == expected && ends == expected) :| s"$end / journal ends $ends") &&
        (!w.states.contains(failIn) :| "a failed effect's state was journaled") &&
        // FAILED is journaled BEFORE the task rows drop; ROLLBACKFAILED
        // never drops them
        ((expected match {
          case "FAILED" => dropped > w.events.indexOf(Journaled("FAILED"))
          case _ => dropped == -1
        }) :| s"events ${w.events}") &&
        terminalChecks
    })
  }
}
