package graft.consolidation

import graft.catalog.{Schemas, TableStore}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

/** The journal protocol of the job FSMs (reference
  * internal/geocube/job.go), shared by [[ConsolidationJob]] and
  * [[DeletionJob]]. A job's state history is the append-only run of its
  * `jobs` rows; the streaming TASKEVENT counter rows that share the job
  * id are progress, never job state. One instance is one incarnation of
  * a job: its journal read ONCE at entry, then kept in step with every
  * row the incarnation appends. Each job keeps its spec, its effects and
  * the data probes that tell its crash windows apart.
  *
  * Storage is two functions, the journal append and the task-row drop:
  * the catalog binds them in production, a buffer in the kernel test. */
final class JournaledJob(val jobType: String, val jobId: String,
    val name: String, entries: Seq[JournaledJob.Entry],
    append: JournaledJob.Entry => Unit, dropTasks: () => Unit) {
  import JournaledJob._

  private val journal = scala.collection.mutable.ArrayBuffer.from(entries)
  private var pauseAfter: Option[String] = None
  private val releases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  def has(state: String): Boolean = journal.exists(_.state == state)

  /** The LAST journaled state — deterministic because journal stamps come
    * from the monotonic [[JournaledJob.journalNow]] clock. */
  def latest: Option[String] = journal.lastOption.map(_.state)

  /** The NEW row's payload: the spec that makes the job resumable BY ID
    * (job.Payload; ContinueJob replays from it, operations.go:38). */
  def spec: Option[String] =
    journal.find(_.state == "NEW").map(_.payload).filter(_.nonEmpty)

  def log(state: String, payload: String = "", activeTasks: Int = 0,
      failedTasks: Int = 0): Unit = {
    val e = Entry(jobType, name, state, payload, activeTasks, failedTasks)
    append(e)
    journal += e
  }

  /** One FSM transition: a state not yet journaled runs its effect (which
    * returns the state's payload) and is journaled only after the effect
    * returned — a crash in between re-runs the effect on resume, so every
    * effect is idempotent. Then the step-by-step execution level
    * (operations.proto:24-30): a drive paused after `state` returns it. */
  def step(state: String)(effect: => String): Unit = {
    if (!has(state)) log(state, effect)
    if (pauseAfter.contains(state)) throw new Paused(state)
  }

  /** Run `release` however the drive exits: executor storage is not a
    * journal. */
  def onExit(release: => Unit): Unit = releases += (() => release)

  /** Drive the FSM forward and return the state reached. A journal holding
    * one of `cancelStates` is a cancel cut short: `cancel` finishes it,
    * the forward path never runs over a half-rolled-back catalog. DONE
    * (locks released), FAILED (rollback ran) and ROLLBACKFAILED (only a
    * retry may re-attempt it) return as they are. Otherwise the NEW row
    * carries the spec and `body` runs; a failure before CREATED is
    * INITIALISATIONFAILED (nothing locked or written, retryable as is —
    * job.go:493-499), a later one goes to `onFailure`. */
  def drive(specJson: => String, pause: Option[String],
      cancelStates: Seq[String], cancel: => String)(body: => String)(
      onFailure: Exception => String): String =
    if (cancelStates.exists(has)) cancel
    else Seq("DONE", "FAILED", "ROLLBACKFAILED").find(has).getOrElse {
      pauseAfter = pause
      if (!has("NEW")) log("NEW", specJson)
      try body
      catch {
        case p: Paused => p.state
        case e: Exception =>
          if (has("CREATED")) onFailure(e)
          else {
            log("INITIALISATIONFAILED", errJson(e))
            "INITIALISATIONFAILED"
          }
      } finally {
        releases.foreach(_())
        releases.clear()
      }
    }

  /** The failure rollback (job.go's rollback path): `undo`, then FAILED
    * with the real cause BEFORE the task rows drop — the reverse order
    * could crash between the two and journal the resume's empty-lock
    * error as the cause; a crash after FAILED merely leaves dead task rows
    * for cleanJobs. A rollback that throws journals ROLLBACKFAILED
    * (job.go:505-510): retryable, never a clean-looking FAILED. */
  def rollback(cause: Exception)(undo: => Unit): String =
    try {
      undo
      log("FAILED", errJson(cause))
      dropTasks()
      "FAILED"
    } catch {
      case e: Exception =>
        try log("ROLLBACKFAILED", errJson(e))
        catch { case _: Exception => () } // the journal itself may be down
        "ROLLBACKFAILED"
    }

  /** Every cancel's prelude: NOTFOUND for an id with no journal (a typo —
    * ABORTED would make the id terminal); UNHANDLED out of FAILED, whose
    * rollback ran (job.go has no cancel event out of FAILED, :466-467);
    * out of ROLLBACKFAILED the user abandons the rollback-retry loop:
    * terminal FAILED (CancelledByUserForced, job.go:515-517). */
  def cancelPrelude: Option[String] =
    if (journal.isEmpty) Some("NOTFOUND")
    else if (has("FAILED")) Some("UNHANDLED")
    else if (has("ROLLBACKFAILED")) {
      log("FAILED", """{"error":"rollback abandoned by user"}""")
      Some("FAILED")
    } else None

  /** Every retry's prelude: NOTFOUND for an id with no journal; UNHANDLED
    * out of DONE, ABORTED and FAILED (job.go has no Retried event out of a
    * terminal state); out of ROLLBACKFAILED only the rollback re-runs
    * (job.go:505-510). */
  def retryPrelude(rollbackAgain: => String): Option[String] =
    if (journal.isEmpty) Some("NOTFOUND")
    else if (Seq("DONE", "ABORTED", "FAILED").exists(has)) Some("UNHANDLED")
    else if (has("ROLLBACKFAILED")) Some(rollbackAgain)
    else None
}

object JournaledJob {

  /** One journal row as the protocol sees it (the table adds id + stamps). */
  final case class Entry(jobType: String, name: String, state: String,
      payload: String = "", activeTasks: Int = 0, failedTasks: Int = 0)

  private final class Paused(val state: String)
    extends scala.util.control.ControlThrowable

  /** `jobId`'s journal in `created_at` order, counter rows excluded. */
  private def read(spark: SparkSession, cat: TableStore, jobId: String): Seq[Entry] =
    cat.read(spark, "jobs")
      .filter(col("id") === jobId && col("type") =!= "TASKEVENT")
      .select("type", "name", "state", "payload", "active_tasks",
        "failed_tasks", "created_at")
      .collect().sortWith(_.getTimestamp(6) before _.getTimestamp(6)).toSeq
      .map(r => Entry(r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getInt(4), r.getInt(5)))

  /** One incarnation of `jobId` on the catalog. */
  def apply(spark: SparkSession, cat: TableStore, jobType: String,
      jobId: String, name: String,
      journal: Option[Seq[Entry]] = None): JournaledJob =
    new JournaledJob(jobType, jobId, name,
      journal.getOrElse(read(spark, cat, jobId)),
      e => {
        val now = journalNow()
        cat.append(spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(Row(jobId, e.name, e.jobType,
            e.state, e.activeTasks, e.failedTasks, e.payload, now, now))),
          Schemas.jobs), "jobs")
      },
      () => Consolidation.dropJobTasks(spark, cat, jobId))

  /** By-id routing (CancelJob, RetryJob, ContinueJob): type and name come
    * off the NEW row — never an arbitrary row, the counter rows share the
    * id — and an id without one is NOTFOUND. */
  def byId(spark: SparkSession, cat: TableStore, jobId: String)(
      route: JournaledJob => String): String = {
    val journal = read(spark, cat, jobId)
    journal.find(_.state == "NEW").fold("NOTFOUND")(n =>
      route(JournaledJob(spark, cat, n.jobType, jobId, n.name, Some(journal))))
  }

  def errJson(e: Exception): String =
    s"""{"error":"${graft.core.JsonUtil.escape(
      Option(e.getMessage).getOrElse(e.getClass.getName))}"}"""

  /** Strictly-increasing microsecond wall clock for journal rows: two
    * FSM transitions in the same millisecond still get distinct,
    * correctly-ordered `created_at` stamps, so `ORDER BY created_at`
    * reconstructs one driver's journal deterministically (across driver
    * restarts the ≥1 s gap dwarfs the microsecond tie window). */
  private val lastMicros = new java.util.concurrent.atomic.AtomicLong(0L)
  def journalNow(): java.sql.Timestamp = {
    val micros = lastMicros.updateAndGet(prev =>
      math.max(prev + 1, System.currentTimeMillis() * 1000L))
    val ts = new java.sql.Timestamp((micros / 1000000L) * 1000L)
    ts.setNanos(((micros % 1000000L) * 1000L).toInt)
    ts
  }
}
