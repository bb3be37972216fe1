package graft

import org.scalatest.funsuite.AnyFunSuite

/** The offline mains' one session shape. Checked as a conf map: a
  * second SparkContext cannot be built inside the test JVM.
  */
class LocalSparkSpec extends AnyFunSuite {

  test("the session settings are a pure function of cpus: Bench's shape") {
    assert(LocalSpark.conf(8) == Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true"))
    assert(LocalSpark.conf(32) == LocalSpark.conf(8) ++ Map(
      "spark.master" -> "local[32]",
      "spark.sql.shuffle.partitions" -> "32"))
  }
}
