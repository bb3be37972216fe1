package perfbench

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}
import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.engine.LynxEngine

/** What a workload leaves for the report, besides its samples. */
abstract class Workload(val ctx: Ctx) {
  import Workload._
  val tally = new Tally
  val writeLat, queryLat, lateness, checkpointLat = new Samples
  /** Query latencies by shape (the same samples as `queryLat`). */
  val shapeLat = new ConcurrentHashMap[String, Samples]
  /** CPU time of the benchmark's own client, writer and probe threads. */
  val harnessCpuNs = new AtomicLong
  /** Time closed-loop clients spent checking answers, not waiting on
    * the server.
    */
  val checkNs = new AtomicLong
  val windowRows = new AtomicLong
  val queriesDone = new AtomicLong
  /** When the last write and the last query of the window completed. */
  val lastWriteEndNs, lastQueryEndNs = new AtomicLong
  @volatile var genBehind = false
  val recovery = new Samples
  /** Live stored bytes and the rows they hold, measured after the window. */
  var storedBytes, storedRows = 0L
  var srv: Served = _
  lazy val probes = new Probes(ctx, new File(ctx.work, "scratch"))
  /** Extra numbers for the report line (not metrics). */
  val notes = mutable.LinkedHashMap.empty[String, Any]
  /** (namespace, table) pairs the workload stores. */
  def tables: Seq[(String, String)] = Seq(Gen.Namespace -> Gen.Table)

  protected val cfg: Cfg = ctx.cfg
  protected val seed: Long = ctx.seed

  /** Builds fresh state in `dir`; the last repetition's state serves. */
  def setup(dir: File): Unit
  def window(deadlineNs: Long): Unit
  /** Checks the answers the restarted engine gives; None when right. */
  def checkRestarted(e: LynxEngine): Option[String]

  def teardown(): Unit = { srv.stop(); Jvm.deleteRecursively(srv.dir) }

  private def tierFiles: Seq[String] =
    srv.tier.map(_.dataFiles(Gen.Namespace, Gen.Table)).getOrElse(Nil)

  /** Distinct UTC days the main table's tier files cover. */
  def tierDays: Int = tierFiles
    .flatMap(p => """__lynx_day=([0-9-]+)/""".r.findFirstMatchIn(p).map(_.group(1)))
    .distinct.size

  /** Tier data files per day of the main table (0 without a tier). */
  def filesPerDay: Double =
    if (tierDays == 0) 0.0 else tierFiles.size.toDouble / tierDays

  /** False during the warm-up: nothing is probed. */
  @volatile var measuring = false

  protected def probeDue(op: Long): Boolean =
    measuring && ctx.traced && op % ctx.probeEvery == 0

  /** Drops everything the warm-up recorded (answers stay checked). */
  def clearStats(): Unit = {
    Seq(writeLat, queryLat, lateness, checkpointLat).foreach(_.clear())
    shapeLat.clear()
    Seq(windowRows, queriesDone, lastWriteEndNs, lastQueryEndNs, genUnsent,
      harnessCpuNs, checkNs).foreach(_.set(0))
    tally.clearCounts()
    genBehind = false
  }

  /** POSTs a write body; latency runs from `startNs` (the due time of
    * an open-loop request, or the send time of a closed-loop one).
    */
  def postWrite(body: Array[Byte], rows: Int, startNs: Long = -1L): Boolean = {
    val op = ctx.nextOp()
    tally.attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val code = try srv.client.post("/api/v1/write", body)._1
      catch { case _: Exception => -1 }
    val t1 = System.nanoTime()
    ctx.tracer.record(op, "http.write", t0, t1)
    val ok = code == 200
    if (ok) {
      tally.completed.incrementAndGet()
      writeLat.addNs(t1 - (if (startNs >= 0) startNs else t0))
      windowRows.addAndGet(rows)
      lastWriteEndNs.accumulateAndGet(t1, math.max)
    } else tally.failed.incrementAndGet()
    if (probeDue(op)) probes.write(op, body)
    ok
  }

  /** POSTs a query and checks its answer with `check` (None = right). */
  def postQuery(ns: String, shape: String, sql: String, fmt: String,
      startNs: Long = -1L)(check: String => Option[String]): Unit = {
    val op = ctx.nextOp()
    tally.attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val (code, body) =
      try srv.client.post("/api/v1/query", srv.client.queryBody(ns, sql, fmt))
      catch { case e: Exception => (-1, e.toString) }
    val t1 = System.nanoTime()
    ctx.tracer.record(op, "http.query", t0, t1)
    if (code == 200) {
      tally.completed.incrementAndGet()
      queriesDone.incrementAndGet()
      val ns = t1 - (if (startNs >= 0) startNs else t0)
      queryLat.addNs(ns)
      shapeLat.computeIfAbsent(shape, _ => new Samples).addNs(ns)
      lastQueryEndNs.accumulateAndGet(t1, math.max)
      val verdict = try check(body)
        catch { case e: Exception => Some(s"unreadable answer: $e") }
      verdict.foreach(m => tally.mismatch(s"$shape: $m [$sql]"))
      if (startNs < 0) checkNs.addAndGet(System.nanoTime() - t1)
    } else tally.failed.incrementAndGet()
    if (probeDue(op))
      probes.query(op, srv.engine, srv.tier, ns, sql, srv.client.queryBody(ns, sql, fmt))
  }

  // per-client operation counts, kept across the warm-up and the window
  // so the window never repeats a query the warm-up already sent
  private val clientOps = new AtomicLongArray(64)
  /** Rows the open-loop writer has generated so far (warm-up included). */
  protected val writerSeq = new AtomicLong

  /** Operations each closed-loop client runs before it stops; 0 runs
    * them until the deadline instead.
    */
  @volatile var queriesPerClient = 0L

  /** Runs `n` closed-loop clients until the deadline (or for
    * `queriesPerClient` operations each); client `c` runs its i-th
    * operation with `op(c, i)`.
    */
  protected def closedLoop(n: Int, deadlineNs: Long, name: String)(
      op: (Int, Long) => Unit): Seq[Thread] = {
    val quota = queriesPerClient
    Loops.threads(n, name, harnessCpuNs) { c =>
      var k = 0L
      while (if (quota > 0) k < quota else System.nanoTime() < deadlineNs) {
        op(c, clientOps.getAndIncrement(c))
        k += 1
      }
    }
  }

  /** Requests an open-loop generator never sent (it was still behind
    * `open_loop_grace_ms` after the window).
    */
  val genUnsent = new AtomicLong

  /** One open-loop generator thread at `perSecond` until the deadline. */
  protected def openLoop(perSecond: Double, deadlineNs: Long, name: String)(
      send: (Long, Long) => Unit): Thread = {
    val sched = new Schedule(System.nanoTime(), (1e9 / perSecond).toLong)
    val stopNs = deadlineNs + cfg.long("open_loop_grace_ms") * 1000000L
    Loops.threads(1, name, harnessCpuNs) { _ =>
      genUnsent.addAndGet(Loops.openLoop(sched, deadlineNs, stopNs, lateness,
        () => genBehind = true)(send))
    }.head
  }

  /** Writes a fixed WAL tail (into its own namespace) after the window,
    * so every restart replays a known amount of unsealed data.
    */
  def postRecoveryTail(): Unit =
    (0 until TailRows by 1000).foreach { k =>
      val body = Gen.arrayBody(TailNamespace,
        Iterator.range(k, math.min(TailRows, k + 1000)).map(i => Gen.fleetRow(
          seed, i, Gen.BaseMicros + 50L * Gen.DayMicros + i * 1000L)))
      require(srv.client.post("/api/v1/write", body)._1 == 200, "tail write refused")
    }

  /** Restarts the (stopped) engine `RestartReps` times over the same
    * dirs, timing each restart, and checks the last restarted engine's
    * answers (every restart replays the same directories).
    */
  def restart(): Unit = {
    (1 to RestartReps).foreach { r =>
      System.gc() // no collection debt from the window or the last restart
      val t0 = System.nanoTime()
      val e = srv.reopen()
      recovery.addNs(System.nanoTime() - t0)
      if (r == RestartReps) {
        checkRestarted(e).foreach(m => tally.mismatch(s"after restart: $m"))
        val tail = scalar(e, TailNamespace, "SELECT count(*) AS n FROM cpu")
        if (tail != Seq(TailRows.toLong))
          tally.mismatch(s"after restart: WAL tail rows $tail, want $TailRows")
      }
      e.wal.close()
    }
  }

  protected def scalar(e: LynxEngine, ns: String, sql: String): Seq[Long] =
    e.query(ns, sql) match {
      case Some(r) if r.rows.size == 1 =>
        r.rows.head.toSeq.map(v => if (v == null) 0L else v.toString.toLong)
      case other => Seq(-1L)
    }

  /** Compares a table-sink answer against expected rows of cells. */
  protected def expectTable(body: String, want: Seq[Seq[String]]): Option[String] = {
    val (_, rows) = Loops.parseTable(body)
    if (rows == want) None
    else Some(s"got ${rows.take(3)}... (${rows.size} rows), want ${
      want.take(3)}... (${want.size} rows)")
  }
}

/** Sizes every workload shares. */
object Workload {
  val TailNamespace = "bench_tail"
  /** Rows of the WAL tail every restart replays. */
  val TailRows = 100000
  /** Engine restarts after the window (their median is `engine.restart_s`). */
  val RestartReps = 7
  /** Closed-loop query clients of dashboard and history. */
  val Clients = 1
  /** Rate of the open-loop single-row writer of dashboard and history. */
  val WriterPerS = 50.0
  /** How long the writer runs in the warm-up (150 rows at `WriterPerS`). */
  val WarmupWriterMs = 3000L
}

/** Writes with reads beside them: closed-loop 100-row writers, a
  * checkpoint (seal + WAL truncation) every `checkpoint_rows`
  * acknowledged rows, and an open-loop recent-window probe.
  */
final class Ingest(c: Ctx) extends Workload(c) {
  private val writers = cfg.int("writers")
  private val batch = cfg.int("batch_rows")
  private val ckptRows = cfg.long("checkpoint_rows")
  private val gen = new IngestGen(seed, writers, batch, cfg.long("row_step_ms") * 1000L)
  private val setupBatches = cfg.int("setup_batches_per_writer")
  private val acked = new AtomicLongArray(writers)
  private val sent = new AtomicLongArray(writers)
  private val ackRows, ackSum = new AtomicLong
  private val sinceCkpt = new ConcurrentLinkedQueue[Array[Byte]]

  def setup(dir: File): Unit = {
    srv = new Served(ctx.spark, dir, tiered = true,
      cfg.int("auto_compact_files"), Seq("host"))
    (0 until writers).foreach { w => acked.set(w, 0); sent.set(w, 0) }
    ackRows.set(0); ackSum.set(0)
    for (b <- 0 until setupBatches; w <- 0 until writers) {
      require(srv.client.post("/api/v1/write", gen.body(w, b))._1 == 200,
        "setup write refused")
      record(w, b)
    }
    require(srv.client.post("/api/v1/admin/checkpoint", Array.empty)._1 == 200,
      "setup checkpoint refused")
  }

  /** Marks batch (w, b) acknowledged; returns the new acknowledged total. */
  private def record(w: Int, b: Long): Long = {
    acked.set(w, b + 1); sent.set(w, b + 1)
    ackSum.addAndGet(gen.valueSum(w, b))
    ackRows.addAndGet(batch)
  }

  /** Rows with index >= g0 among writer batches [0, n(w)). */
  private def rowsFrom(g0: Long, n: Int => Long): Long =
    (0 until writers).map { w =>
      var b = n(w) - 1
      var total = 0L
      var going = true
      while (b >= 0 && going) {
        val s = gen.firstRow(w, b)
        val e = s + batch
        if (e <= g0) going = false else total += e - math.max(s, g0)
        b -= 1
      }
      total
    }.sum

  def window(deadlineNs: Long): Unit = {
    val ws = closedLoop(writers, deadlineNs, "writer") { (w, _) =>
      val b = sent.get(w)
      val body = gen.body(w, b)
      if (postWrite(body, batch)) {
        val total = record(w, b)
        if (ctx.traced) sinceCkpt.add(body)
        if (total / ckptRows > (total - batch) / ckptRows) checkpoint()
      } else sent.set(w, b + 1) // refused rows are never retried
    }
    val windowRowsQ = cfg.long("probe_window_rows")
    val probe = openLoop(cfg.double("probe_per_s"), deadlineNs, "probe") { (_, due) =>
      val frontier = (0 until writers).map(w => gen.firstRow(w, acked.get(w))).min
      val g0 = math.max(0L, frontier - windowRowsQ)
      val lo = rowsFrom(g0, w => acked.get(w))
      val sql = s"SELECT count(*) AS n, sum(CAST(value AS BIGINT)) AS s FROM ${
        Gen.Table} WHERE timestamp >= ${Gen.tsLit(gen.ts(g0))}"
      postQuery(Gen.Namespace, "recent_window", sql, "table", due) { body =>
        val hi = rowsFrom(g0, w => sent.get(w) + 1)
        val n = Loops.parseTable(body)._2.head.head.toLong
        if (n >= lo && n <= hi) None else Some(s"count $n outside [$lo, $hi]")
      }
    }
    (ws :+ probe).foreach(_.join())
    // stored bytes at a comparable point: right after a final (untimed)
    // checkpoint, so the figure does not depend on where in a seal
    // cycle the window happened to end
    require(srv.client.post("/api/v1/admin/checkpoint", Array.empty)._1 == 200,
      "final checkpoint refused")
    storedBytes = srv.storedBytes(tables)
    storedRows = ackRows.get
    notes("acknowledged_rows") = ackRows.get
    notes("checkpoints") = checkpointLat.size
    notes("tier_files") = srv.tier.get.dataFiles(Gen.Namespace, Gen.Table).size
    notes("tier_days") = tierDays
  }


  private def checkpoint(): Unit = {
    val op = ctx.nextOp()
    tally.attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val code = try srv.client.post("/api/v1/admin/checkpoint", Array.empty)._1
      catch { case _: Exception => -1 }
    val t1 = System.nanoTime()
    ctx.tracer.record(op, "http.checkpoint", t0, t1)
    if (code == 200) {
      tally.completed.incrementAndGet()
      checkpointLat.addNs(t1 - t0)
    } else tally.failed.incrementAndGet()
    if (ctx.traced) {
      val bodies = Iterator.continually(sinceCkpt.poll()).takeWhile(_ != null).toSeq
      if (measuring) probes.seal(op, bodies)
    }
  }

  def checkRestarted(e: LynxEngine): Option[String] = {
    val got = scalar(e, Gen.Namespace,
      s"SELECT count(*) AS n, sum(CAST(value AS BIGINT)) AS s FROM ${Gen.Table}")
    val want = Seq(ackRows.get, ackSum.get)
    if (got == want) None else Some(s"durability: got $got, acknowledged $want")
  }
}

/** Reads with writes beside them on the RAM-only configuration: a
  * preloaded buffer, an open-loop single-row writer, and closed-loop
  * clients cycling through four dashboard shapes.
  */
final class Dashboard(c: Ctx) extends Workload(c) {
  private val p = cfg.int("preload_rows")
  private val step = cfg.long("preload_days") * Gen.DayMicros / p
  private val end = Gen.BaseMicros + p.toLong * step
  private val rows = Array.tabulate(p)(g => Gen.fleetRow(seed, g, Gen.BaseMicros + g * step))
  private val prefix = rows.scanLeft(0L)(_ + _.value)
  private val lastOfHost: Map[Int, Int] =
    rows.indices.groupBy(g => rows(g).hostIdx).map { case (h, gs) => h -> gs.max }
  private val writerAcked = new AtomicLong

  private def idx(micros: Long): Int =
    math.max(0L, math.min(p.toLong, Math.floorDiv(micros - Gen.BaseMicros + step - 1, step))).toInt

  def setup(dir: File): Unit = {
    srv = new Served(ctx.spark, dir, tiered = false, 0, Nil)
    writerAcked.set(0)
    val per = cfg.int("preload_body_rows")
    (0 until p by per).foreach { s =>
      val body = Gen.arrayBody(Gen.Namespace, rows.iterator.slice(s, s + per))
      require(srv.client.post("/api/v1/write", body)._1 == 200, "preload refused")
    }
  }

  def window(deadlineNs: Long): Unit = {
    val writer = openLoop(Workload.WriterPerS, deadlineNs, "writer") { (_, due) =>
      val i = writerSeq.getAndIncrement()
      val r = Gen.fleetRow(seed, p + i, end + i * 1000L)
      if (postWrite(Gen.singleBody(Gen.Namespace, r), 1, due)) writerAcked.incrementAndGet()
    }
    val cs = closedLoop(Workload.Clients, deadlineNs, "client") { (cl, i) =>
      val k = cl * 1000003L + i
      def d(salt: Int, n: Int) = Gen.draw(seed, k, salt, n)
      ((cl + i) % 4).toInt match { // each client cycles through the shapes
        case 0 =>
          val lo = end - (5 + 5 * d(21, 24)) * 60L * 1000000L
          val sql = s"SELECT count(*) AS n, sum(CAST(value AS BIGINT)) AS s FROM cpu " +
            s"WHERE timestamp >= ${Gen.tsLit(lo)} AND timestamp < ${Gen.tsLit(end)}"
          val g = idx(lo)
          postQuery(Gen.Namespace, "recent_window", sql, "table") { body =>
            expectTable(body, Seq(Seq((p - g).toString, (prefix(p) - prefix(g)).toString)))
          }
        case 1 =>
          val r = d(22, Gen.Regions)
          val lo = end - (1 + d(23, 24)) * 3600L * 1000000L
          val sql = s"SELECT host, count(*) AS n, sum(CAST(value AS BIGINT)) AS s FROM cpu " +
            s"WHERE region = 'r$r' AND timestamp >= ${Gen.tsLit(lo)} AND " +
            s"timestamp < ${Gen.tsLit(end)} GROUP BY host ORDER BY host"
          postQuery(Gen.Namespace, "by_host", sql, "table") { body =>
            val acc = mutable.TreeMap.empty[String, (Long, Long)]
            (idx(lo) until p).foreach { g =>
              val row = rows(g)
              if (row.hostIdx % Gen.Regions == r) {
                val (n, s) = acc.getOrElse(Gen.host(row.hostIdx), (0L, 0L))
                acc(Gen.host(row.hostIdx)) = (n + 1, s + row.value)
              }
            }
            expectTable(body, acc.toSeq.map { case (h, (n, s)) =>
              Seq(h, n.toString, s.toString) })
          }
        case 2 =>
          val h = d(24, Gen.Hosts)
          val sql = s"SELECT timestamp, value FROM cpu WHERE host = '${Gen.host(h)}' " +
            s"AND timestamp < ${Gen.tsLit(end)} ORDER BY timestamp DESC LIMIT 1"
          postQuery(Gen.Namespace, "last_value", sql, "table") { body =>
            val g = lastOfHost(h)
            expectTable(body, Seq(Seq(Gen.tsCell(rows(g).ts), rows(g).value.toString)))
          }
        case _ =>
          val k1 = p / 2 + d(25, p / 2)
          val sql = s"SELECT * FROM cpu WHERE timestamp < ${Gen.tsLit(rows(k1).ts)} " +
            "ORDER BY timestamp DESC LIMIT 1000"
          postQuery(Gen.Namespace, "raw_tail", sql, "json") { body =>
            val got = Cfg.mapper.readTree(body)
            val want = (k1 - 1 to math.max(0, k1 - 1000) by -1).map(rows(_))
            val bad = if (got.size != want.size) Some(s"${got.size} rows, want ${want.size}")
              else want.indices.find { j =>
                val o = got.get(j)
                val r = want(j)
                o.get("timestamp").asText != Gen.tsCell(r.ts) ||
                o.get("value").asText != r.value.toString ||
                o.get("host").asText != Gen.host(r.hostIdx) ||
                o.get("region").asText != Gen.region(r.hostIdx) ||
                o.get("core").asText != r.core.toString
              }.map(j => s"row $j: ${got.get(j)}")
            bad
          }
      }
    }
    (cs :+ writer).foreach(_.join())
    storedBytes = srv.storedBytes(tables)
    storedRows = p + writerAcked.get
    notes("writer_acknowledged") = writerAcked.get
  }

  def checkRestarted(e: LynxEngine): Option[String] = {
    val got = scalar(e, Gen.Namespace, "SELECT count(*) AS n FROM cpu")
    val want = Seq(p + writerAcked.get)
    if (got == want) None else Some(s"row count: got $got, want $want")
  }
}

/** A large sealed tier, an empty buffer: bulk-loaded, compacted
  * (clustered by host) and bloom-indexed on host, then queried by
  * closed-loop clients through five history shapes. An open-loop
  * single-row writer into a separate namespace keeps write latency
  * defined; the measured queries never read its rows.
  */
final class History(c: Ctx) extends Workload(c) {
  private val n = cfg.long("rows")
  private val days = cfg.int("days")
  private val perDay = n / days
  private val joinEvery = cfg.int("join_every")
  private val writerAcked = new AtomicLong
  override def tables: Seq[(String, String)] =
    Seq(Gen.Namespace -> Gen.Table, Gen.Namespace -> Gen.JoinTable)

  // expected answers, from the generator's own rows
  private val hours = days * 24
  private val hourHostN, hourHostS, joinN, joinS = Array.ofDim[Long](hours, Gen.Hosts)
  private val hostHist = Array.ofDim[Long](Gen.Hosts, 1000)
  private val regionHist = Array.ofDim[Long](Gen.Regions, 1000)
  locally {
    var g = 0L
    while (g < days * perDay) {
      val r = Gen.historyRow(seed, g, perDay)
      val hr = ((r.ts - Gen.BaseMicros) / 3600000000L).toInt
      hourHostN(hr)(r.hostIdx) += 1; hourHostS(hr)(r.hostIdx) += r.value
      hostHist(r.hostIdx)(r.value) += 1
      regionHist(r.hostIdx % Gen.Regions)(r.value) += 1
      if (g % joinEvery == 0) { joinN(hr)(r.hostIdx) += 1; joinS(hr)(r.hostIdx) += r.value }
      g += 1
    }
  }

  private def hourLit(h: Int) = Gen.tsLit(Gen.BaseMicros + h * 3600000000L)

  /** Per-host (host, n, s) rows over hours [h0, h0 + n) of `cn`/`cs`. */
  private def hostRows(cn: Array[Array[Long]], cs: Array[Array[Long]], h0: Int,
      n: Int): Seq[Seq[String]] =
    (0 until Gen.Hosts).map(h => (h, (h0 until h0 + n).map(cn(_)(h)).sum,
      (h0 until h0 + n).map(cs(_)(h)).sum))
      .filter(_._2 > 0).map { case (h, c, v) => Seq(Gen.host(h), c.toString, v.toString) }

  /** (n, sum) of the values >= v in a value histogram. */
  private def atLeast(hist: Array[Long], v: Int): (Long, Long) =
    ((v until 1000).map(hist(_)).sum, (v until 1000).map(x => x.toLong * hist(x)).sum)

  def setup(dir: File): Unit = {
    srv = new Served(ctx.spark, dir, tiered = true, 0, Nil)
    writerAcked.set(0)
    val spark = ctx.spark
    val (s, pd, je) = (seed, perDay, joinEvery)
    val schema = StructType(Seq(StructField("timestamp", TimestampType),
      StructField("value", StringType), StructField("host", StringType),
      StructField("region", StringType), StructField("core", StringType)))
    def frame(every: Int) = spark.createDataFrame(
      spark.sparkContext.range(0L, days * perDay,
        numSlices = spark.sparkContext.defaultParallelism)
        .filter(_ % every == 0).map { g =>
          val r = Gen.historyRow(s, g, pd)
          val ts = new java.sql.Timestamp(Math.floorDiv(r.ts, 1000L))
          ts.setNanos((Math.floorMod(r.ts, 1000000L) * 1000L).toInt)
          Row(ts, r.value.toString, Gen.host(r.hostIdx), Gen.region(r.hostIdx),
            r.core.toString)
        }, schema)
    srv.engine.ingestDataset(Gen.Namespace, Gen.Table, frame(1))
    srv.engine.ingestDataset(Gen.Namespace, Gen.JoinTable, frame(je))
    val cl = srv.client
    require(cl.post("/api/v1/admin/compact",
      s"""{"namespace":"${Gen.Namespace}","table":"${Gen.Table}","cluster_by":["host"]}"""
        .getBytes("UTF-8"))._1 == 200, "compact refused")
    require(cl.post("/api/v1/bloom",
      s"""{"namespace":"${Gen.Namespace}","table":"${Gen.Table}","column":"host"}"""
        .getBytes("UTF-8"))._1 == 200, "bloom index refused")
  }

  def window(deadlineNs: Long): Unit = {
    val writer = openLoop(Workload.WriterPerS, deadlineNs, "writer") { (_, due) =>
      val i = writerSeq.getAndIncrement()
      val r = Gen.fleetRow(seed, i, Gen.BaseMicros + 40L * Gen.DayMicros + i * 1000L)
      if (postWrite(Gen.singleBody(Gen.AuditNamespace, r), 1, due))
        writerAcked.incrementAndGet()
    }
    val cs = closedLoop(Workload.Clients, deadlineNs, "client") { (cl, i) =>
      val k = cl * 1000003L + i
      def d(salt: Int, m: Int) = Gen.draw(seed, k, salt, m)
      val agg = "count(*) AS n, sum(CAST(value AS BIGINT)) AS s"
      ((cl + i) % 5).toInt match { // each client cycles through the shapes
        case 0 =>
          val h0 = d(31, hours - 23)
          val sql = s"SELECT host, $agg FROM cpu WHERE timestamp >= ${hourLit(h0)} " +
            s"AND timestamp < ${hourLit(h0 + 24)} GROUP BY host ORDER BY host"
          postQuery(Gen.Namespace, "day_window", sql, "table") { body =>
            expectTable(body, hostRows(hourHostN, hourHostS, h0, 24))
          }
        case 1 =>
          val h = d(32, Gen.Hosts)
          val v = d(36, 100)
          val sql = s"SELECT $agg FROM cpu WHERE host = '${Gen.host(h)}' " +
            s"AND CAST(value AS BIGINT) >= $v"
          postQuery(Gen.Namespace, "host_eq", sql, "table") { body =>
            val (n, sum) = atLeast(hostHist(h), v)
            expectTable(body, Seq(Seq(n.toString, sum.toString)))
          }
        case 2 =>
          val h0 = d(33, hours - 71)
          val sql = "SELECT date_trunc('HOUR', timestamp) AS hr, count(*) AS n, " +
            "avg(CAST(value AS DOUBLE)) AS a FROM cpu WHERE timestamp >= " +
            s"${hourLit(h0)} AND timestamp < ${hourLit(h0 + 72)} GROUP BY 1 ORDER BY 1"
          postQuery(Gen.Namespace, "downsample", sql, "table") { body =>
            val got = Loops.parseTable(body)._2
            val want = (h0 until h0 + 72).filter(hourHostN(_).sum > 0)
            if (got.size != want.size) Some(s"${got.size} hours, want ${want.size}")
            else want.indices.find { j =>
              val hr = want(j)
              val a = hourHostS(hr).sum.toDouble / hourHostN(hr).sum
              got(j)(0) != Gen.tsCell(Gen.BaseMicros + hr * 3600000000L) ||
              got(j)(1) != hourHostN(hr).sum.toString ||
              math.abs(got(j)(2).toDouble - a) > 1e-9 * math.max(1.0, a)
            }.map(j => s"hour $j: ${got(j)}")
          }
        case 3 =>
          val h0 = d(34, hours - 23)
          val sql = "SELECT c.host, count(*) AS n, sum(CAST(c.value AS BIGINT)) AS s " +
            "FROM cpu c JOIN mem m ON c.host = m.host AND c.timestamp = m.timestamp " +
            s"WHERE c.timestamp >= ${hourLit(h0)} AND c.timestamp < ${hourLit(h0 + 24)} " +
            "GROUP BY c.host ORDER BY c.host"
          postQuery(Gen.Namespace, "join_day", sql, "table") { body =>
            expectTable(body, hostRows(joinN, joinS, h0, 24))
          }
        case _ =>
          val v = d(35, 1000)
          val sql = s"SELECT region, $agg FROM cpu WHERE CAST(value AS BIGINT) >= $v " +
            "GROUP BY region ORDER BY region"
          postQuery(Gen.Namespace, "full_agg", sql, "table") { body =>
            expectTable(body, (0 until Gen.Regions).map(r => (r, atLeast(regionHist(r), v)))
              .filter(_._2._1 > 0).map { case (r, (n, sum)) =>
                Seq(s"r$r", n.toString, sum.toString) })
          }
      }
    }
    (cs :+ writer).foreach(_.join())
    storedBytes = srv.storedBytes(tables)
    storedRows = days * perDay + days * perDay / joinEvery + writerAcked.get
    notes("tier_files") = srv.tier.get.dataFiles(Gen.Namespace, Gen.Table).size
    notes("writer_acknowledged") = writerAcked.get
  }

  def checkRestarted(e: LynxEngine): Option[String] = {
    val got = scalar(e, Gen.Namespace, "SELECT count(*) AS n FROM cpu") ++
      scalar(e, Gen.AuditNamespace, "SELECT count(*) AS n FROM cpu")
    val want = Seq(days * perDay, writerAcked.get)
    if (got == want) None else Some(s"row counts: got $got, want $want")
  }
}
