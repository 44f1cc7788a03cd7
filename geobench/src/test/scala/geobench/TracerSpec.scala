package geobench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("ERROR")

  override def afterAll(): Unit = spark.stop()

  test("job-group attribution is exact under 4 concurrent clients") {
    val tracer = new Tracer
    tracer.attach(spark)
    // client i runs i+1 RDD jobs of i+2 tasks each and i+1 SQL actions,
    // all at once, repeatedly interleaved
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val done = (0 until 4).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = Tracer.inGroup(spark, s"client-$i") {
          for (_ <- 0 to i) {
            spark.sparkContext.parallelize(1 to 1000, i + 2).map(_ * 2).count()
            spark.range(100 * (i + 1)).selectExpr("id % 7 as k").distinct().count()
          }
        }
      })
    }
    done.foreach(_.get())
    pool.shutdown()
    // an unattributed job must not land in any client's counters
    spark.sparkContext.parallelize(1 to 10, 3).count()
    tracer.detach(spark)
    for (i <- 0 until 4) {
      val c = tracer.counters(s"client-$i")
      assert(c.jobSpans.size == c.jobs, s"client-$i: every started job ended")
      // RDD jobs are exact; each SQL action adds its own jobs on top
      val rddTasks = (i + 1) * (i + 2)
      assert(c.tasks >= rddTasks + (i + 1), s"client-$i tasks ${c.tasks}")
      assert(c.jobs >= 2 * (i + 1), s"client-$i jobs ${c.jobs}")
      assert(c.sqlExecutions == i + 1, s"client-$i SQL executions ${c.sqlExecutions}")
    }
    // the same work in one group repeated alone gives the same counts
    val solo = new Tracer
    solo.attach(spark)
    Tracer.inGroup(spark, "solo") {
      for (_ <- 0 to 3) {
        spark.sparkContext.parallelize(1 to 1000, 5).map(_ * 2).count()
        spark.range(400).selectExpr("id % 7 as k").distinct().count()
      }
    }
    solo.detach(spark)
    val c3 = tracer.counters("client-3"); val s = solo.counters("solo")
    assert((c3.jobs, c3.stages, c3.tasks, c3.sqlExecutions) == (s.jobs, s.stages, s.tasks, s.sqlExecutions))
    assert(tracer.groups.toSet == (0 until 4).map(i => s"client-$i").toSet)
  }

  test("job wall time is the union of overlapping job spans") {
    val c = new Counters
    c.jobSpans ++= Seq((20L, 25L), (0L, 10L), (5L, 12L), (21L, 22L))
    assert(c.jobWallMs == 17)
    assert(Stats.covered(Nil) == 0)
  }
}
