package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** One timed interval: `op` is shared by every span of one operation,
  * `parent` is the id of the enclosing span on the same thread (0 at
  * the root).
  */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder; a disabled tracer records nothing and costs
  * one branch per call. Spans are written out once, at the end of a run.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](op: Long, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val s = System.nanoTime()
      try f
      finally {
        val e = System.nanoTime()
        stack.set(outer)
        spans.add(Span(id, outer.headOption.getOrElse(0), op, name, s, e))
      }
    }

  /** Records a span timed by the caller (an HTTP round trip). */
  def record(op: Long, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled)
      spans.add(Span(ids.incrementAndGet(), 0, op, name, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name, summed over all spans of that name. */
  def selfNsByName: Map[String, Long] = {
    val xs = all
    val kids = xs.groupBy(_.parent)
    xs.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => Stats.selfTime(s.startNs, s.endNs,
        kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))).sum
    }
  }

  def write(f: java.io.File): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${
        s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Spark scheduler counters observed from outside through a listener.
  * Jobs are attributed to the `TagKey` local property of the thread
  * that submitted them: probe replays are tagged, served traffic is
  * not, so the two never mix.
  */
final class SparkCounters extends SparkListener {
  final class C {
    val jobs, stages, tasks, taskMs, shuffleBytes, inputBytes = new AtomicLong
  }
  private val byTag = new ConcurrentHashMap[String, C]
  private val stageTag = new ConcurrentHashMap[Int, String]

  private def c(tag: String): C = byTag.computeIfAbsent(tag, _ => new C)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkCounters.TagKey))).getOrElse("")
    c(tag).jobs.incrementAndGet()
    e.stageIds.foreach(stageTag.put(_, tag))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c(stageTag.getOrDefault(e.stageInfo.stageId, "")).stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = c(stageTag.getOrDefault(e.stageId, ""))
    k.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      k.taskMs.addAndGet(m.executorRunTime)
      k.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      k.inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  /** Forget everything counted so far (call after draining the bus). */
  def reset(): Unit = { byTag.clear(); stageTag.clear() }

  /** Served traffic: jobs no probe submitted. */
  def served: C = c("")

  /** Counters of each probe replay (one entry per probed operation). */
  def probes: Seq[C] =
    byTag.asScala.collect { case (t, v) if t.nonEmpty => v }.toSeq
}

object SparkCounters {
  val TagKey = "perfbench.probe"
}
