package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session every offline main runs under (Bench,
  * Verify, Profile, Plans, Show, EngineSmoke, ScaleSmoke), so a number
  * or a plan read off any of them comes from the session shape Bench
  * measures. The deployment main (`LynxServerMain`) builds its own
  * session: its master, app name and extensions are deployment
  * settings.
  */
object LocalSpark {
  /** Local parallelism: `SPARK_GRAFT_CPUS`, default 32; low-core runs
    * set 8.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(32)

  /** Session settings, a pure function of the parallelism. */
  def conf(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // r15 (guide §2.2 "fewer, larger reduce partitions — let AQE
    // coalesce"): extend AQE's byte-sized partition coalescing to
    // plans materialized under .cache(), which otherwise pin
    // spark.sql.shuffle.partitions-wide layouts for the whole
    // session (the graph family's session-cached edge lists carried
    // 32 one-kilobyte partitions into every join of every round:
    // q_graph_communities burned 52 s CPU / 3.5 s wall at sf0.1).
    // Not a local[32] constant: at 100 TB the same setting yields
    // AQE-sized cached partitions. parallelismFirst deliberately
    // stays at Spark's default (true): a full A/B bench showed
    // advisory-only coalescing serializes compute-dense small-byte
    // stages (shingle/md5 pair joins: q_dedup_containment 1.2 →
    // 4.3 s) — the default's bytes/parallelism floor is the
    // scale-adaptive middle ground. Results are partitioning-
    // independent by the Parity discipline; the oracle gate proves
    // it per query.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  def session(cpus: Int = LocalSpark.cpus): SparkSession = {
    val spark = conf(cpus)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
