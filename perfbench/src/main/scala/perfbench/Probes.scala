package perfbench

import java.io.File
import scala.collection.immutable.TreeMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, date_format}

import graft.buffer.{MeasurementsView, MemBuffer}
import graft.engine.{LynxEngine, QueryResult, Sinks}
import graft.http.Json
import graft.tier.ParquetTier
import graft.wal.Wal

/** Per-layer probes of the traced run. A probe replays one operation's
  * inputs through each layer's public functions, in the order the
  * server calls them, each call in its own span. Writes go into
  * scratch WAL/buffer/tier instances and queries are read-only and
  * never touch the result cache, so the engine's state is untouched.
  */
final class Probes(ctx: Ctx, scratch: File) {
  private val t = ctx.tracer
  private val spark: SparkSession = ctx.spark
  private val scratchWal = new Wal(new File(scratch, "wal"), 1L, Long.MaxValue)
  private var scratchBuf = new MemBuffer
  private var scratchRows = 0L
  private lazy val scratchTier = new ParquetTier(new File(scratch, "tier"))

  // counts behind the per-layer ratios (guarded by `this`)
  var writeRows, walBytes, walFlushes, writeProbes = 0L
  var queryProbes, filesListed, filesSkipped, filesRead = 0L
  var sealProbes = 0L

  private def tagged[T](op: Long)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(SparkCounters.TagKey, s"probe-$op")
    try f finally sc.setLocalProperty(SparkCounters.TagKey, null)
  }

  /** Write chain: Json.parseWriteBatch, then the WAL append and the
    * buffer insert the server makes for that body's shape.
    */
  def write(op: Long, body: Array[Byte]): Unit = synchronized {
    t.span(op, "probe.write") {
      val ws = t.span(op, "http.parse_write") { Json.parseWriteBatch(body) }
      val before = scratchWal.activeSegmentSize
      ws match {
        case Seq(w) =>
          t.span(op, "wal.append") { scratchWal.write(w) }
          t.span(op, "buffer.insert") { scratchBuf.insert(w) }
        case _ =>
          t.span(op, "wal.append") { scratchWal.writeAll(ws) }
          t.span(op, "buffer.insert") { scratchBuf.insertAll(ws) }
      }
      // flush policy: one flush per append call (no group commit)
      walFlushes += 1
      walBytes += scratchWal.activeSegmentSize - before
      writeRows += ws.size
      writeProbes += 1
      scratchRows += ws.size
      if (scratchRows > 500000) { scratchBuf = new MemBuffer; scratchRows = 0 }
    }
  }

  /** Query chain: gate (parse, forbiddenCalls, referencedTables and the
    * predicate harvesters), buffer snapshot, session, buffer→DataFrame,
    * tier pin, bloom skipping and parquet read, view registration,
    * planning, execution and the sink.
    */
  def query(op: Long, engine: LynxEngine, tier: Option[ParquetTier],
      ns: String, sql: String, body: Array[Byte]): Unit = tagged(op) {
    t.span(op, "probe.query") {
      val fmt = t.span(op, "http.parse_query") { Json.parseQuery(body)._3 }
      val (tables, dayB, eqs, strs, longs, dbls) = t.span(op, "engine.gate") {
        val plan = LynxEngine.parse(spark, sql)
        require(LynxEngine.forbiddenCalls(plan).isEmpty)
        val tables = LynxEngine.referencedTables(plan)
        val dayB: Map[String, (String, String)] =
          if (tables.size == 1)
            LynxEngine.dayBounds(plan).map(b => Map(tables.head.toLowerCase -> b))
              .getOrElse(Map.empty)
          else LynxEngine.dayBoundsPerTable(plan)
        val blooms = tier.isDefined && engine.valueBlooms.exists(_.hasAnyIndex)
        val eqs = if (blooms) LynxEngine.eqLiteralsPerTable(plan) else Map.empty[String, Seq[(String, Seq[String])]]
        val strs = if (blooms) LynxEngine.strRangesPerTable(plan)
          else Map.empty[String, Seq[(String, Option[String], Option[String])]]
        val (longs, dbls) =
          if (blooms) LynxEngine.numRangesPerTable(plan)
          else (Map.empty[String, Seq[(String, Option[Long], Option[Long])]],
            Map.empty[String, Seq[(String, Option[Double], Option[Double])]])
        LynxEngine.cacheUnsafe(plan)
        (tables, dayB, eqs, strs, longs, dbls)
      }
      val mem = t.span(op, "buffer.snapshot") { engine.buffer.tables(ns) }
      val session = t.span(op, "engine.session") {
        val s = spark.newSession()
        s.conf.set("spark.sql.runSQLOnFiles", "false")
        graft.functions.GraftFunctions.register(s)
        s
      }
      val snaps = tier match {
        case Some(tr) => t.span(op, "tier.snapshot") {
          val present = tr.tables(ns)
          tables.filter(present).map(n => n -> tr.snapshot(ns, n)).toMap
        }
        case None => Map.empty[String, graft.tier.TierSnapshot]
      }
      try {
        tables.foreach { name =>
          val key = name.toLowerCase
          val memDf: Option[DataFrame] = mem.flatMap(_.get(name)).map(parts =>
            t.span(op, "engine.to_df") { LynxEngine.toDataFrame(session, parts) })
          val tierDf: Option[DataFrame] =
            snaps.get(name).filter(_.files.nonEmpty).map { snap =>
              val kept = engine.valueBlooms match {
                case Some(bs) => t.span(op, "engine.bloom") {
                  val a = eqs.getOrElse(key, Nil).foldLeft(snap.files) {
                    case (fs, (c, vs)) => bs.skipFilesAny(ns, name, c, vs, fs) }
                  val b = strs.getOrElse(key, Nil).foldLeft(a) {
                    case (fs, (c, lo, hi)) => bs.skipFilesRange(ns, name, c, lo, hi, fs) }
                  val l = longs.getOrElse(key, Nil).foldLeft(b) {
                    case (fs, (c, lo, hi)) => bs.skipFilesLongRange(ns, name, c, lo, hi, fs) }
                  dbls.getOrElse(key, Nil).foldLeft(l) {
                    case (fs, (c, lo, hi)) => bs.skipFilesDoubleRange(ns, name, c, lo, hi, fs) }
                }
                case None => snap.files
              }
              val toRead = if (kept.nonEmpty) kept else snap.files.take(1)
              synchronized {
                filesListed += snap.files.size
                filesSkipped += snap.files.size - kept.size
                filesRead += Probes.inDays(toRead, dayB.get(key))
              }
              t.span(op, "tier.read") {
                tier.get.readFiles(session, ns, name, toRead, dayB.get(key))
              }
            }
          t.span(op, "engine.views") {
            val df = (memDf, tierDf) match {
              case (Some(m), Some(s)) => m.unionByName(s, allowMissingColumns = true)
              case (Some(m), None) => m
              case (None, Some(s)) => s
              case (None, None) => throw new IllegalStateException(s"no table $name")
            }
            val ordered = Seq("timestamp", "value") ++
              df.columns.filterNot(Set("timestamp", "value")).sorted
            df.select(ordered.map(col): _*).createOrReplaceTempView(name)
          }
        }
        val df = t.span(op, "engine.plan") {
          val d = session.sql(sql)
          d.queryExecution.executedPlan
          d
        }
        val rows = t.span(op, "engine.exec") { df.collect().toSeq }
        val res = QueryResult(df.schema, rows)
        if (fmt == "json") t.span(op, "sinks.json") { Sinks.toJson(res) }
        else t.span(op, "sinks.table") { Sinks.toTable(res) }
        synchronized { queryProbes += 1 }
      } finally tier.foreach(tr => snaps.values.foreach(tr.release))
    }
  }

  /** Seal chain: the rows one checkpoint sealed, re-buffered into a
    * scratch buffer, drained, converted, staged and published into a
    * scratch tier.
    */
  def seal(op: Long, bodies: Seq[Array[Byte]]): Unit = tagged(op) {
    val b = new MemBuffer
    bodies.foreach(x => b.insertAll(Json.parseWriteBatch(x)))
    val parts: TreeMap[String, MeasurementsView] =
      b.drainTable(Gen.Namespace, Gen.Table).getOrElse(TreeMap.empty)
    if (parts.nonEmpty) t.span(op, "engine.seal") {
      val df = t.span(op, "engine.seal_df") {
        LynxEngine.toDataFrame(spark, parts).withColumn(ParquetTier.DayCol,
          date_format(col("timestamp"), "yyyy-MM-dd"))
      }
      val (id, files) = t.span(op, "tier.stage") {
        scratchTier.stage(spark, Gen.Namespace, Gen.Table, df)
      }
      t.span(op, "tier.publish") {
        scratchTier.publish(Gen.Namespace, Gen.Table, id, files)
      }
      synchronized { sealProbes += 1 }
    }
  }
}

object Probes {
  private val DayDir = """__lynx_day=(\d{4}-\d{2}-\d{2})/""".r

  /** Files of `files` inside the inclusive day bounds (as readFiles prunes). */
  def inDays(files: Seq[String], bounds: Option[(String, String)]): Int =
    bounds match {
      case None => files.size
      case Some((lo, hi)) => files.count(p => DayDir.findFirstMatchIn(p) match {
        case Some(m) => m.group(1) >= lo && m.group(1) <= hi
        case None => true
      })
    }
}
