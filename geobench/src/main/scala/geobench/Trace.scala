package geobench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Spark counters of one request (one job group). */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskWallMs, runMs, cpuNs = 0L
  var shuffleReadB, shuffleWriteB, spillB, inputB = 0L
  var sqlExecutions, analysisMs, optimizationMs, planningMs = 0L
  /** (start, end) epoch milliseconds of every job. */
  val jobSpans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time covered by at least one job, ms. */
  def jobWallMs: Long = synchronized(Stats.covered(jobSpans.toSeq))
}

/** Attributes Spark's own counters to the job group each client thread
  * sets per request: jobs, stages and tasks from the scheduler events,
  * Catalyst phase times from the SQL executions the group ran. Safe
  * under concurrent clients because attribution keys on the group
  * property Spark copies into every job and SQL execution. */
final class Tracer extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()

  def counters(group: String): Counters = byGroup.computeIfAbsent(group, _ => new Counters)
  def groups: Seq[String] = byGroup.keySet.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.GroupProperty)))
      .foreach { g =>
        jobGroup.put(e.jobId, g)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(stageGroup.put(_, g))
        val c = counters(g)
        c.synchronized { c.jobs += 1 }
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { g =>
      val c = counters(g)
      val s = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      c.synchronized { c.jobSpans += ((s, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val c = counters(g)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = counters(g)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        c.taskWallMs += e.taskInfo.duration
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputB += m.inputMetrics.bytesRead
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => s.jobGroupId.foreach(execGroup.put(s.executionId, _))
    case s: SparkListenerSQLExecutionEnd =>
      Option(execGroup.remove(s.executionId)).foreach { g =>
        // the event carries its QueryExecution behind a package-private
        // accessor; its tracker holds the Catalyst phase times
        val qe = s.getClass.getMethod("qe").invoke(s).asInstanceOf[QueryExecution]
        if (qe != null) {
          val ph = qe.tracker.phases
          def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
          val c = counters(g)
          c.synchronized {
            c.sqlExecutions += 1
            c.analysisMs += ms("analysis")
            c.optimizationMs += ms("optimization")
            c.planningMs += ms("planning")
          }
        }
      }
    case _ =>
  }

  def attach(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(this)

  /** Deliver every queued event, then stop listening. */
  def detach(spark: SparkSession): Unit = {
    Tracer.drain(spark)
    spark.sparkContext.removeSparkListener(this)
  }
}

object Tracer {
  val GroupProperty = "spark.jobGroup.id"

  /** Wait until the listener bus has delivered every posted event (the
    * bus and its drain are package-private in Spark). */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Run `body` with every Spark job it starts on this thread tagged with
    * `group`. */
  def inGroup[A](spark: SparkSession, group: String)(body: => A): A = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
  }
}

/** One span of the spans file; times in epoch microseconds. */
final case class Span(id: Long, name: String, startUs: Long, endUs: Long,
    parent: Long, request: String) {
  def ms: Double = (endUs - startUs) / 1000.0
  def json: String =
    s"""{"id":$id,"name":"$name","start_us":$startUs,"end_us":$endUs,""" +
      s""""parent":$parent,"request":"$request"}"""
}

/** Collects spans from concurrent client threads. */
final class Spans {
  private val ids = new java.util.concurrent.atomic.AtomicLong
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val wall0Us = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  def nowUs: Long = wall0Us + (System.nanoTime() - nano0) / 1000

  /** Time `body` as span `name` under `parent` (0 = root); the span id is
    * passed to `body` so nested spans can name it as parent. */
  def span[A](name: String, request: String, parent: Long = 0)(body: Long => A): A = {
    val id = ids.incrementAndGet()
    val s = nowUs
    try body(id) finally all.add(Span(id, name, s, nowUs, parent, request))
  }

  /** Record an already-measured span (Spark jobs, derived remainders). */
  def add(name: String, request: String, startUs: Long, endUs: Long, parent: Long): Unit =
    all.add(Span(ids.incrementAndGet(), name, startUs, endUs, parent, request))

  def toSeq: Seq[Span] = all.asScala.toSeq.sortBy(_.startUs)

  def write(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try toSeq.foreach(s => w.println(s.json)) finally w.close()
  }
}

/** JVM-wide GC, JIT and heap counters over a measured phase. */
final class JvmPhase {
  import java.lang.management.ManagementFactory
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def jitMs = Option(ManagementFactory.getCompilationMXBean)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  heapPools.foreach(_.resetPeakUsage())
  private def classes = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
  private val gc0 = gcMs
  private val jit0 = jitMs
  private val classes0 = classes

  def gcS: Double = (gcMs - gc0) / 1000.0
  def jitMsDelta: Double = (jitMs - jit0).toDouble
  def classesLoaded: Long = classes - classes0
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
