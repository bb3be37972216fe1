package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.engine.LynxEngine
import graft.http.LynxServer
import graft.tier.ParquetTier

/** One workload's sizes, read from `workloads.json`: the values that
  * differ between workloads (shared ones are constants in `Workload`).
  */
final class Cfg(node: JsonNode) {
  private def get(k: String): JsonNode = {
    val n = node.get(k)
    require(n != null, s"workloads.json: missing key '$k'")
    n
  }
  def int(k: String): Int = get(k).asInt()
  def long(k: String): Long = get(k).asLong()
  def double(k: String): Double = get(k).asDouble()
}

object Cfg {
  val mapper = new ObjectMapper
  def load(file: File, workload: String): Cfg = {
    val ws = mapper.readTree(file).get("workloads")
    require(ws != null && ws.has(workload), s"unknown workload '$workload'")
    new Cfg(ws.get(workload).get("sizes"))
  }
}

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val cfg: Cfg, val seed: Long,
    val tracer: Tracer, val counters: SparkCounters, val work: File) {
  def traced: Boolean = tracer.enabled
  val probeEvery: Int = cfg.int("probe_every")
  private val ops = new AtomicLong
  /** A fresh operation id (shared by every span of one operation). */
  def nextOp(): Long = ops.incrementAndGet()
}

/** Thread-safe sample list (milliseconds). */
final class Samples {
  private val q = new ConcurrentLinkedQueue[java.lang.Double]
  def addNs(ns: Long): Unit = q.add(ns / 1e6)
  def values: Seq[Double] = q.asScala.map(_.doubleValue).toSeq
  def size: Int = q.size
  def clear(): Unit = q.clear()
}

/** Operation outcomes: attempted, failed (error status or refusal)
  * and wrong answers (which fail the whole run).
  */
final class Tally {
  val attempted, failed, completed = new AtomicLong
  private val wrong = new ConcurrentLinkedQueue[String]
  def mismatch(msg: String): Unit = if (wrong.size < 20) wrong.add(msg)
  def mismatches: Seq[String] = wrong.asScala.toSeq
  /** Forgets the counts; wrong answers are kept and still fail the run. */
  def clearCounts(): Unit = Seq(attempted, failed, completed).foreach(_.set(0))
}

/** Loopback HTTP client; at most one connection per concurrent caller. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  def post(path: String, body: Array[Byte]): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(java.time.Duration.ofSeconds(120))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
    (r.statusCode, r.body)
  }

  def get(path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(java.time.Duration.ofSeconds(120)).GET().build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
    (r.statusCode, r.body)
  }

  def queryBody(ns: String, sql: String, fmt: String): Array[Byte] =
    s"""{"namespace":${graft.engine.Sinks.jsonString(ns)},"query":${
      graft.engine.Sinks.jsonString(sql)},"format":"$fmt"}""".getBytes(UTF_8)

  /** Result-cache hits so far, from the server's `/metrics`. */
  def cacheHits(): Long =
    Cfg.mapper.readTree(get("/metrics")._2).get("result_cache_hits").asLong()
}

/** A `LynxEngine` behind a `LynxServer` on an ephemeral loopback port,
  * with its WAL (and optional parquet tier) under `dir`.
  */
final class Served(val spark: SparkSession, val dir: File, tiered: Boolean,
    autoCompactFiles: Int, bloomColumns: Seq[String]) {
  val walDir = new File(dir, "wal")
  val tierDir = new File(dir, "tier")
  val tier: Option[ParquetTier] =
    if (tiered) Some(new ParquetTier(tierDir)) else None
  val engine: LynxEngine = open(tier)
  val server = new LynxServer(engine, "127.0.0.1", 0)
  server.start()
  val client = new Client(server.boundPort)

  /** A fresh engine over the same WAL and tier directories. */
  def open(t: Option[ParquetTier]): LynxEngine =
    new LynxEngine(spark, walDir, tier = t,
      autoCompactFileThreshold = autoCompactFiles,
      autoBloomColumns = bloomColumns)

  /** Restart: a new engine (and tier handle) over the same dirs. */
  def reopen(): LynxEngine =
    open(if (tiered) Some(new ParquetTier(tierDir)) else None)

  def stop(): Unit = {
    server.stop()
    engine.wal.close()
  }

  /** Live stored bytes: WAL segments plus the tier's current data files. */
  def storedBytes(tables: Seq[(String, String)]): Long = {
    val wal = Option(walDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".wal")).map(_.length).sum
    val parquet = tier.map(t => tables.map { case (ns, tb) =>
      t.dataFiles(ns, tb).map(p => new File(p).length).sum
    }.sum).getOrElse(0L)
    wal + parquet
  }
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threadBean = ManagementFactory.getThreadMXBean
  def cpuNs: Long = os.getProcessCpuTime
  /** CPU time of the calling thread so far. */
  def threadCpuNs: Long = threadBean.getCurrentThreadCpuTime
  /** CPU time so far of each live thread whose name starts with `prefix`. */
  def namedThreadsCpuNs(prefix: String): Map[Long, Long] =
    threadBean.getThreadInfo(threadBean.getAllThreadIds)
      .filter(i => i != null && i.getThreadName.startsWith(prefix))
      .map(i => i.getThreadId -> math.max(0L, threadBean.getThreadCpuTime(i.getThreadId)))
      .toMap
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after a forced full collection, in MiB: the lowest of
    * three collections spaced apart, so state that background cleaners
    * (Spark's context cleaner) release only after a collection is gone.
    */
  def heapLiveMb: Double =
    (0 until 3).map { _ =>
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      Thread.sleep(400)
      used / 1048576.0
    }.min

  /** (all, steal) CPU ticks of the machine so far, from /proc/stat. */
  def hostTicks: (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val cpu = try f.getLines().next() finally f.close()
      val xs = cpu.split("\\s+").drop(1).map(_.toLong)
      (xs.sum, if (xs.length > 7) xs(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete()
  }

  /** Waits until `deadlineNs` without busy-spinning. */
  def sleepUntil(deadlineNs: Long): Unit = {
    var left = deadlineNs - System.nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = deadlineNs - System.nanoTime()
    }
  }
}

/** Client loops. A closed-loop client sends its next request when the
  * previous one returns; an open-loop generator sends on a fixed
  * schedule and times each request from when it was due.
  */
object Loops {
  /** Starts `n` daemon threads running `body`; each adds the CPU time it
    * used to `cpuNs`, so the benchmark can take its own work out of the
    * process's.
    */
  def threads(n: Int, name: String, cpuNs: AtomicLong)(body: Int => Unit): Seq[Thread] =
    (0 until n).map { i =>
      val t = new Thread(() => {
        val c0 = Jvm.threadCpuNs
        try body(i) finally cpuNs.addAndGet(Jvm.threadCpuNs - c0)
      }, s"$name-$i")
      t.setDaemon(true)
      t.start()
      t
    }

  /** Runs `send(i, dueNs)` for every i whose due time falls before
    * `deadlineNs`, on `sched`; records lateness. A generator still
    * behind at `stopNs` gives up: the requests it never sent are
    * returned (0 when it kept up), so a backlog cannot stretch a run.
    * Sets `behind` when the generator missed a slot by a whole period.
    */
  def openLoop(sched: Schedule, deadlineNs: Long, stopNs: Long,
      lateness: Samples, behind: () => Unit)(send: (Long, Long) => Unit): Long = {
    var i = 0L
    while (sched.due(i) < deadlineNs && System.nanoTime() < stopNs) {
      Jvm.sleepUntil(sched.due(i))
      val now = System.nanoTime()
      if (sched.behind(i, now)) behind()
      lateness.addNs(sched.latenessNs(i, now))
      send(i, sched.due(i))
      i += 1
    }
    var unsent = 0L
    while (sched.due(i + unsent) < deadlineNs) unsent += 1
    unsent
  }

  /** Parses the server's ASCII table sink into (header, rows). */
  def parseTable(s: String): (Seq[String], Seq[Seq[String]]) = {
    val lines = s.split("\n").toSeq.filter(_.startsWith("|"))
    val cells = lines.map(l =>
      l.substring(1, l.length - 1).split("\\|", -1).toSeq.map(_.trim))
    if (cells.isEmpty) (Nil, Nil) else (cells.head, cells.tail)
  }
}
