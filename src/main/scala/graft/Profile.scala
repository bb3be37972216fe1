package graft

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

import graft.engine.Sinks.jsonString

/** Per-query execution profiler (optimization-round instrumentation;
  * not part of the driver contract). For each named query — default:
  * every registered query — runs it once warm and reports jobs,
  * stages, tasks, shuffle read/write bytes, spill, task time, input
  * rows and wall seconds, plus one row per completed stage (id, tasks,
  * run/cpu/GC ms, shuffle bytes, name) that attributes the query's
  * task time to operators via the stage name/callsite — so "where is
  * the time" is a table instead of a guess (guide §1).
  *
  *   sbt "runMain graft.Profile [sfDir] [query ...] [k=v ...]"
  *
  * Arguments that name a registered query select it; `k=v` arguments
  * are session conf overrides applied before the warm-up (a key the
  * query itself sets, like q_cte_recursive's recursion limits, keeps
  * the query's value); any other argument is the scale-factor
  * directory (default SPARK_GRAFT_SF_DIR). Runs under
  * [[LocalSpark]]'s session. For min-of-N wall time use
  * `SPARK_GRAFT_BENCH_QS=q,… graft.Bench`.
  *
  * Output: a `{"cpus":…,"sf":…,"overrides":…}` header line, then one
  * `{"q":...,"jobs":N,...,"stage_rows":[…]}` JSON line per query, plus
  * a TSV summary sorted by wall time to /tmp/profile_out.tsv.
  */
object Profile {

  /** One completed stage's aggregated task metrics. */
  final case class StageRow(id: Int, tasks: Int, runMs: Long, cpuMs: Long,
      gcMs: Long, shufRead: Long, shufWrite: Long, spill: Long,
      inputRows: Long, name: String)

  /** What ran since the last reset; totals are sums over the stages. */
  final case class Counts(jobs: Int, stageRows: Seq[StageRow]) {
    def stages: Int = stageRows.size
    def tasks: Int = stageRows.map(_.tasks).sum
    def shufRead: Long = stageRows.map(_.shufRead).sum
    def shufWrite: Long = stageRows.map(_.shufWrite).sum
    def spill: Long = stageRows.map(_.spill).sum
    def taskMs: Long = stageRows.map(_.runMs).sum
    def inputRows: Long = stageRows.map(_.inputRows).sum
  }

  /** The counting listener. Events arrive on the listener-bus thread:
    * read [[counts]] only after [[GraftBus.drain]].
    */
  final class Counters extends SparkListener {
    private var jobs = 0
    private val rows = scala.collection.mutable.ArrayBuffer.empty[StageRow]

    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = s.stageInfo
        val m = si.taskMetrics
        rows += StageRow(si.stageId, si.numTasks, m.executorRunTime,
          m.executorCpuTime / 1000000L, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
          m.inputMetrics.recordsRead, si.name)
      }

    def reset(): Unit = synchronized { jobs = 0; rows.clear() }

    def counts: Counts = synchronized { Counts(jobs, rows.toVector) }
  }

  private def stageJson(r: StageRow): String =
    s"""{"id":${r.id},"tasks":${r.tasks},"run_ms":${r.runMs},""" +
      s""""cpu_ms":${r.cpuMs},"gc_ms":${r.gcMs},"sread":${r.shufRead},""" +
      s""""swrite":${r.shufWrite},"name":${jsonString(r.name.take(90))}}"""

  def main(args: Array[String]): Unit = {
    val (overrides, positional) = args.toSeq.partition(_.contains('='))
    val (names, dirs) = positional.partition(SparkEntry.queries.contains)
    require(dirs.size <= 1,
      s"expected at most one sfDir, got: ${dirs.mkString(" ")}")
    val sfDir = dirs.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = LocalSpark.cpus
    val spark = LocalSpark.session(cpus)
    val confs = overrides.map { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v); (k, v)
    }
    println(s"""{"cpus":$cpus,"sf":${jsonString(sfDir)},"overrides":""" +
      confs.map { case (k, v) => jsonString(k) + ":" + jsonString(v) }
        .mkString("{", ",", "}") + "}")

    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)

    // warm-up: session/codegen init outside the measured loop
    try SparkEntry.entry(spark).queryExecution.toRdd.count()
    catch { case _: Throwable => }

    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(String, Counts, Double)]
    // run in family order (shared family caches behave as in Bench)
    val ordered = SparkEntry.families.flatMap(_._2)
      .filter(d => names.isEmpty || names.contains(d.name))
    ordered.foreach { d =>
      // rep 1 warms family caches; rep 2 is the measured one (matches
      // the bench's min-of-N warm-cache read)
      try { d.run(spark, sfDir).queryExecution.toRdd.count() }
      catch { case e: Throwable =>
        System.err.println(s"[profile] ${d.name} warm rep failed: $e") }
      GraftBus.drain(spark.sparkContext)
      counters.reset()
      // record a failed measured rep instead of silently emitting a
      // near-zero timing row (r14 advice)
      var err: Option[String] = None
      val t0 = System.nanoTime()
      try { d.run(spark, sfDir).queryExecution.toRdd.count() }
      catch { case e: Throwable =>
        err = Some(e.toString.take(120)) }
      val wall = (System.nanoTime() - t0) / 1e9
      GraftBus.drain(spark.sparkContext)
      val c = counters.counts
      rows += ((d.name, c, wall))
      val errJson =
        err.map(m => s""","err":${jsonString(m)}""").getOrElse("")
      println(f"""{"q":"${d.name}","jobs":${c.jobs},"stages":${c.stages},""" +
        f""""tasks":${c.tasks},"shuf_read":${c.shufRead},""" +
        f""""shuf_write":${c.shufWrite},"spill":${c.spill},""" +
        f""""task_ms":${c.taskMs},"input_rows":${c.inputRows},""" +
        f""""wall":$wall%.3f$errJson,"stage_rows":""" +
        c.stageRows.map(stageJson).mkString("[", ",", "]") + "}")
    }
    val out = new StringBuilder
    out.append("q\tjobs\tstages\ttasks\tshuf_read\tshuf_write\tspill" +
      "\ttask_ms\tinput_rows\twall\n")
    rows.sortBy(-_._3).foreach { case (n, c, w) =>
      out.append(f"$n\t${c.jobs}\t${c.stages}\t${c.tasks}\t${c.shufRead}" +
        f"\t${c.shufWrite}\t${c.spill}\t${c.taskMs}\t${c.inputRows}\t$w%.3f\n")
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get("/tmp/profile_out.tsv"),
      out.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[profile] wrote /tmp/profile_out.tsv (${rows.size} queries)")
    spark.stop()
  }
}
