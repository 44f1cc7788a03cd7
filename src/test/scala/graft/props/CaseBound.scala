package graft.props

import org.scalacheck.Prop

/** A wall-clock bound on the cases of malformed-input properties. Each
  * case runs on its own daemon thread; a case that is still running at
  * the bound fails the property with the stuck thread's stack in the
  * message, and the thread is stopped so a CPU-bound loop does not keep
  * a core busy for the rest of the test JVM (a `Future.get` timeout plus
  * `cancel(true)` only sets an interrupt flag such a loop never reads).
  * Once one case has overrun, every later case of the same bound fails
  * at once without running, so no further case can hang. Use with
  * `forAllNoShrink`: shrinking would re-run the hung input. */
final class CaseBound(name: String, limitMs: Long = 10000L) {
  @volatile private var overran: Option[String] = None

  /** Run `work` within the bound and judge what it threw (None when it
    * returned). */
  def check(work: => Unit)(judge: Option[Throwable] => Prop): Prop =
    overran match {
      case Some(report) => Prop.falsified :| s"not run: $report"
      case None =>
        @volatile var thrown: Option[Throwable] = None
        val t = new Thread(() =>
          try work catch { case e: Throwable => thrown = Some(e) }, s"$name-case")
        t.setDaemon(true)
        t.start()
        t.join(limitMs)
        if (!t.isAlive) judge(thrown)
        else {
          val report = s"$name: a case ran past ${limitMs / 1000.0} s; stuck at\n" +
            t.getStackTrace.map("  at " + _).mkString("\n")
          overran = Some(report)
          stop(t)
          Prop.falsified :| report
        }
    }

  /** Interrupt, then stop the thread outright where the JVM still
    * supports `Thread.stop` (through JDK 19). */
  private def stop(t: Thread): Unit = {
    t.interrupt()
    try classOf[Thread].getMethod("stop").invoke(t): Unit
    catch { case _: Exception => }
  }
}
