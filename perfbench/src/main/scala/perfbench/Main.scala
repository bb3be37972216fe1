package perfbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.buffer.MemBuffer
import graft.wal.Wal

/** The engine-path benchmark: one workload, one seed, one window.
  *
  * Usage: perfbench.Main --workload <ingest|dashboard|history> --seed N
  *   --seconds S --trace 0|1 --config perfbench/workloads.json --work DIR
  *
  * Prints a `{"report": ...}` line (environment, sample counts, answer
  * mismatches) and, last, `{"correct", "attempted", "failed",
  * "metrics"}` with every end-to-end metric (untraced) or every
  * per-layer metric (traced), as raw numbers.
  */
object Main {
  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        // the server's and Spark's non-daemon threads would keep a failed
        // run alive until the caller's timeout
        e.printStackTrace()
        System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val work = new File(a("work"))
    val cfg = Cfg.load(new File(a("config")), name)
    val nproc = Runtime.getRuntime.availableProcessors
    val load0 = loadavg()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val sparkStartS = (System.nanoTime() - t0) / 1e9
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val ctx = new Ctx(spark, cfg, seed, new Tracer(traced), counters, work)
    val wl: Workload = name match {
      case "ingest" => new Ingest(ctx)
      case "dashboard" => new Dashboard(ctx)
      case "history" => new History(ctx)
    }

    val reps = cfg.int("setup_reps")
    val setupS = (0 until reps).map { r =>
      val s = System.nanoTime()
      wl.setup(new File(work, s"rep$r"))
      val dt = (System.nanoTime() - s) / 1e9
      if (r < reps - 1) wl.teardown()
      dt
    }

    // warm-up: the same traffic, untimed, so the window measures a
    // JIT-compiled query path rather than how fast it warms up. Each
    // closed-loop client sends a fixed number of queries and the writer
    // a fixed number of rows, and the live heap is taken after it: the
    // engine keeps memory per query served, so a heap taken after the
    // timed window would grow with throughput
    val warmQ = cfg.int("warmup_queries")
    if (warmQ > 0) {
      wl.queriesPerClient = warmQ
      wl.window(System.nanoTime() + Workload.WarmupWriterMs * 1000000L)
      wl.queriesPerClient = 0
      wl.clearStats()
    }
    val heapMb = Jvm.heapLiveMb
    wl.measuring = true
    val sc = spark.sparkContext
    org.apache.spark.PerfbenchBus.drain(sc)
    counters.reset()
    val hits0 = wl.srv.client.cacheHits()
    val cpu0 = Jvm.cpuNs
    val httpCpu0 = Jvm.namedThreadsCpuNs(HttpClientThreads)
    val gc0 = Jvm.gcMs
    val steal0 = Jvm.hostTicks
    val w0 = System.nanoTime()
    wl.window(w0 + seconds * 1000000000L)
    val windowS = (System.nanoTime() - w0) / 1e9
    // the program's CPU: the process's, less what the benchmark's own
    // threads spent building requests, reading and checking answers
    val httpCpuNs = Jvm.namedThreadsCpuNs(HttpClientThreads)
      .map { case (id, ns) => ns - httpCpu0.getOrElse(id, 0L) }.sum
    val harnessMs = (wl.harnessCpuNs.get + httpCpuNs) / 1e6
    val cpuMs = (Jvm.cpuNs - cpu0) / 1e6 - harnessMs
    val gcMs = (Jvm.gcMs - gc0).toDouble
    val steal1 = Jvm.hostTicks
    org.apache.spark.PerfbenchBus.drain(sc)
    val hits = wl.srv.client.cacheHits() - hits0
    wl.postRecoveryTail()
    wl.srv.stop()
    val (replayRows, replayS) =
      if (!traced) (0L, 0.0)
      else {
        val b = new MemBuffer
        val s = System.nanoTime()
        Wal.replay(wl.srv.walDir, b)
        (b.rowCounts.values.map(_.toLong).sum, (System.nanoTime() - s) / 1e9)
      }
    wl.restart()
    val load1 = loadavg()

    val ops = math.max(1L, wl.tally.completed.get)
    val m = mutable.LinkedHashMap.empty[String, Double]
    def pct(s: Samples, key: String) = Stats.percentile(s.values, cfg.double(key))
    // query figures are taken per shape and combined, so that no shape
    // drops out at the edge between the groups a client's rotation makes
    val shapes = wl.shapeLat.asScala.toSeq.sortBy(_._1).map(_._2.values)
    val notMeasured = mutable.ArrayBuffer.empty[String]
    if (!traced) {
      m("setup_s") = Stats.median(setupS)
      def active(endNs: Long) = math.max(1L, endNs - w0) / 1e9
      // ingest only: the dashboard and history writers send at a fixed rate
      if (name == "ingest")
        m("write_rows_per_s") = wl.windowRows.get / active(wl.lastWriteEndNs.get)
      m("write_p50_ms") = Stats.median(wl.writeLat.values)
      m("write_tail_ms") = pct(wl.writeLat, "write_tail_pct")
      m("query_p50_ms") = Stats.perShape(shapes, 50)
      m("query_tail_ms") = Stats.perShape(shapes, cfg.double("query_tail_pct"))
      // per second a client spends waiting on the server, not checking
      m("queries_per_s") = wl.queriesDone.get / (active(wl.lastQueryEndNs.get) -
        wl.checkNs.get / 1e9 / Workload.Clients)
      m("cpu_ms_per_op") = cpuMs / ops
      m("heap_live_mb") = heapMb
      m("stored_bytes_per_row") = wl.storedBytes.toDouble / math.max(1L, wl.storedRows)
      m("recovery_s") = Stats.median(wl.recovery.values) / 1000.0
    } else layerMetrics(wl, m, notMeasured, shapes, ops, hits, cpuMs, gcMs, replayRows,
      replayS)

    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> nproc, "loadavg_start" -> load0, "loadavg_end" -> load1,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_start_s" -> sparkStartS, "setup_s_each" -> setupS,
      "window_s" -> windowS,
      "writes" -> wl.writeLat.size, "queries" -> wl.queryLat.size,
      "queries_by_shape" -> wl.shapeLat.asScala.map { case (k, v) => k -> v.size },
      "write_tail_pct" -> cfg.double("write_tail_pct"),
      "write_tail_pct_supported" -> Stats.tailPercentile(wl.writeLat.size),
      "query_tail_pct" -> cfg.double("query_tail_pct"),
      "query_tail_pct_supported" -> Stats.tailPercentile(shapes.map(_.size): _*),
      "harness_cpu_ms" -> harnessMs, "check_s" -> wl.checkNs.get / 1e9,
      "gc_ms" -> gcMs,
      "write_ms_at_pct" -> spread(wl.writeLat), "query_ms_at_pct" -> spread(wl.queryLat),
      "gen_behind" -> wl.genBehind, "gen_unsent" -> wl.genUnsent.get,
      "gen_late_tail_ms" -> pct(wl.lateness, "gen_tail_pct"),
      // share of the machine's CPU time the hypervisor gave to other
      // guests during the window: wall-clock figures of a run with a high
      // share are not comparable with those of a quiet run
      "cpu_steal_frac" -> (steal1._2 - steal0._2).toDouble /
        math.max(1L, steal1._1 - steal0._1),
      "failed_frac" -> wl.tally.failed.get.toDouble / math.max(1L, wl.tally.attempted.get),
      "result_cache_hits" -> hits,
      "mismatches" -> wl.tally.mismatches,
      // metrics this workload does not produce (printed as 0)
      "not_measured" -> notMeasured) ++ wl.notes
    if (traced) {
      report("self_ms_per_probe_by_layer") = selfByLayer(wl)
      ctx.tracer.write(new File(work, "spans.jsonl"))
    }
    println(JsonOut.obj(Map("report" -> report)))
    val correct = wl.tally.mismatches.isEmpty
    println(JsonOut.obj(mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> wl.tally.attempted.get,
      "failed" -> wl.tally.failed.get, "metrics" -> m)))
    System.out.flush()
    spark.stop()
    System.exit(0)
  }

  /** A sample distribution at fixed percentiles, for the report. */
  private def spread(s: Samples): Map[String, Double] = {
    val xs = s.values
    Seq(10, 25, 50, 66, 75, 90, 95, 98, 99).map(p =>
      s"p$p" -> Stats.percentile(xs, p)).toMap
  }

  /** Threads of the JDK's HTTP client, which the benchmark's requests use. */
  private val HttpClientThreads = "HttpClient-"

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case _: Exception => "" }

  /** Self time per layer per probed operation (ms). Sinks count as
    * part of the engine layer; probe roots are bookkeeping only.
    */
  def selfByLayer(wl: Workload): Map[String, Double] = {
    val probed = math.max(1L, wl.probes.queryProbes + wl.probes.writeProbes +
      wl.probes.sealProbes)
    wl.ctx.tracer.selfNsByName.toSeq
      .filterNot { case (n, _) => n.startsWith("probe.") || n.startsWith("http.") &&
        !n.startsWith("http.parse") }
      .groupBy { case (n, _) => if (n.startsWith("sinks.")) "engine" else n.takeWhile(_ != '.') }
      .map { case (l, xs) => l -> xs.map(_._2).sum / 1e6 / probed }
  }

  private def layerMetrics(wl: Workload, m: mutable.Map[String, Double],
      notMeasured: mutable.Buffer[String], shapes: Seq[Seq[Double]], ops: Long,
      hits: Long, cpuMs: Double, gcMs: Double, replayRows: Long, replayS: Double): Unit = {
    val p = wl.probes
    val spans = wl.ctx.tracer.all
    val byName = spans.groupBy(_.name)
    def sumMs(n: String) = byName.getOrElse(n, Nil).map(_.durNs).sum / 1e6
    def count(n: String) = byName.getOrElse(n, Nil).size.toLong
    /** `x / base`; a zero base means the workload never did this. */
    def put(name: String, x: Double, base: Double): Unit =
      if (base == 0) { m(name) = 0.0; notMeasured += name }
      else m(name) = x / base
    /** `x` as is, when the workload did this at all. */
    def known(name: String, x: => Double, did: Boolean): Unit =
      put(name, if (did) x else 0.0, if (did) 1 else 0)
    def mean(name: String, span: String, scale: Double = 1.0) =
      put(name, sumMs(span) * scale, count(span).toDouble)
    val qp = p.queryProbes.toDouble
    val wr = p.writeRows.toDouble
    put("http.parse_write_us_per_row", sumMs("http.parse_write") * 1000, wr)
    put("http.parse_query_us", sumMs("http.parse_query") * 1000, qp)
    put("wal.append_us_per_row", sumMs("wal.append") * 1000, wr)
    put("wal.bytes_per_row", p.walBytes.toDouble, wr)
    put("wal.flushes_per_row", p.walFlushes.toDouble, wr)
    put("wal.replay_rows_per_s", replayRows, replayS)
    known("engine.restart_s", Stats.median(wl.recovery.values) / 1000.0, wl.recovery.size > 0)
    put("buffer.insert_us_per_row", sumMs("buffer.insert") * 1000, wr)
    mean("buffer.snapshot_ms", "buffer.snapshot")
    mean("engine.gate_ms", "engine.gate")
    put("engine.to_df_ms", sumMs("engine.to_df"), qp)
    mean("engine.session_ms", "engine.session")
    mean("engine.plan_ms", "engine.plan")
    mean("engine.exec_ms", "engine.exec")
    // HTTP span minus the probe's replayed layers: lock wait, pin and
    // lease, cache lookup and the server's own handling
    val probeRoots = spans.filter(_.name == "probe.query")
    val kids = spans.groupBy(_.parent)
    val http = spans.filter(_.name == "http.query").map(s => s.op -> s.durNs).toMap
    val residuals = probeRoots.flatMap(r => http.get(r.op).map(h =>
      (h - kids.getOrElse(r.id, Nil).map(_.durNs).sum) / 1e6))
    // median: a result-cache hit answers faster than the replayed path,
    // which makes that operation's residual negative
    known("engine.query_residual_ms", Stats.median(residuals), residuals.nonEmpty)
    put("engine.result_cache_hit_ratio", hits.toDouble, wl.queriesDone.get)
    known("engine.result_cache_lookups", wl.queriesDone.get.toDouble, wl.queriesDone.get > 0)
    known("engine.checkpoint_s", Stats.median(wl.checkpointLat.values) / 1000,
      wl.checkpointLat.size > 0)
    mean("engine.seal_s", "engine.seal", 1e-3)
    put("engine.bloom_skip_ratio", p.filesSkipped.toDouble, p.filesListed)
    known("engine.bloom_files_listed", p.filesListed / qp, p.filesListed > 0)
    mean("sinks.json_ms", "sinks.json")
    mean("sinks.table_ms", "sinks.table")
    mean("tier.stage_s", "tier.stage", 1e-3)
    mean("tier.publish_ms", "tier.publish")
    known("tier.files_per_day", wl.filesPerDay, wl.tierDays > 0)
    val tiered = if (wl.srv.tier.isEmpty) 0.0 else qp
    put("tier.files_read_per_query", p.filesRead.toDouble, tiered)
    val probeIn = wl.ctx.counters.probes.map(_.inputBytes.get).sum
    put("tier.bytes_read_per_query", probeIn.toDouble, tiered)
    val s = wl.ctx.counters.served
    put("spark.jobs_per_op", s.jobs.get.toDouble, ops)
    put("spark.stages_per_op", s.stages.get.toDouble, ops)
    put("spark.tasks_per_op", s.tasks.get.toDouble, ops)
    put("spark.shuffle_bytes_per_op", s.shuffleBytes.get.toDouble, ops)
    put("spark.input_bytes_per_op", s.inputBytes.get.toDouble, ops)
    put("spark.task_ms_per_op", s.taskMs.get.toDouble, ops)
    put("jvm.gc_ms_per_op", gcMs, ops)
    known("gen.late_tail_ms", Stats.percentile(wl.lateness.values,
      wl.ctx.cfg.double("gen_tail_pct")), wl.lateness.size > 0)
    val self = selfByLayer(wl)
    Seq("http", "wal", "buffer", "engine", "tier").foreach(l =>
      known(s"self.${l}_ms_per_probe", self(l), self.contains(l)))
    // the same definitions as the untraced write_p50_ms and query_p50_ms
    known("trace.write_p50_ms", Stats.median(wl.writeLat.values), wl.writeLat.size > 0)
    known("trace.query_p50_ms", Stats.perShape(shapes, 50), shapes.nonEmpty)
    put("trace.cpu_ms_per_op", cpuMs, ops)
  }
}

/** Minimal JSON writer for the report and result lines. */
object JsonOut {
  def obj(m: collection.Map[String, Any]): String =
    m.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def str(s: String) = graft.engine.Sinks.jsonString(s)

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: collection.Map[_, _] =>
      obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
