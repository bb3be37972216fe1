package graft

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener,
  SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

/** The profilers' counting listener, read after draining the listener
  * bus: counts must be exact without any sleep before the read.
  */
class ProfileSpec extends AnyFunSuite {

  test("after a bus drain the shared counters are exact, even behind a " +
    "slow listener") {
    val sc = SparkFixture.spark.sparkContext
    val counters = new Profile.Counters
    // a slow listener ahead of the counters on the same bus queue: the
    // counters then see each stage well after the job has returned
    val slow = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        Thread.sleep(100)
    }
    GraftBus.drain(sc)
    sc.addSparkListener(slow)
    sc.addSparkListener(counters)
    try (1 to 3).foreach { rep =>
      counters.reset()
      // one job: a 3-task map stage feeding a 2-task reduce stage
      sc.parallelize(1 to 100, 3).map(i => (i % 5, i))
        .reduceByKey(_ + _, 2).collect()
      GraftBus.drain(sc)
      val c = counters.counts
      assert((c.jobs, c.stages, c.tasks) == ((1, 2, 5)), s"rep $rep")
      assert(c.stageRows.map(_.tasks).sorted == Seq(2, 3), s"rep $rep")
      assert(c.shufWrite > 0 && c.shufRead > 0, s"rep $rep")
      assert(c.taskMs == c.stageRows.map(_.runMs).sum)
    } finally {
      sc.removeSparkListener(slow)
      sc.removeSparkListener(counters)
    }
  }
}
