package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One recorded interval: an op (phase/pass), a pipeline task or query
  * inside it, or a Spark job. Times are epoch microseconds; `parent` 0 is
  * the run itself. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
                      startUs: Long, endUs: Long)

/** What one op cost. Untraced, only `wallS` and `gcS` are measured;
  * the Spark figures come from the listener and read 0. */
final case class OpFigures(wallS: Double, gcS: Double, jobs: Int = 0, tasks: Int = 0,
                           runS: Double = 0, driverS: Double = 0, inputBytes: Long = 0,
                           shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
                           spillBytes: Long = 0)

/** Spans and Spark counters, recorded from the benchmark's own code around
  * its calls into graft. With `enabled = false`, or while paused through
  * [[activate]], no listener is registered on the session and an op costs
  * two clock reads.
  *
  * Jobs are tied to the op that ran them through a local property set on
  * the driver thread (exact), and to a task or query inside the op by
  * start time. Stage completions add their task metrics to their job. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var current = 0

  private final class JobRec(val span: Int, val startMs: Long, val stages: Seq[Int]) {
    @volatile var endMs: Long = startMs
  }
  private final class StageAgg(val tasks: Int, val runMs: Long, val input: Long,
                               val shRead: Long, val shWrite: Long, val spill: Long)
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
        .map(_.toInt).getOrElse(0)
      jobs.put(e.jobId, new JobRec(span, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null)
        stages.put(i.stageId, new StageAgg(i.numTasks, m.executorRunTime,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }
  private var on = false
  activate(true)

  /** Whether ops are traced now; a traced run pauses to time untraced ops. */
  def active: Boolean = on

  def activate(want: Boolean): Unit = if (enabled && want != on) {
    if (want) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    on = want
  }

  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def record(name: String, kind: String, parent: Int, startUs: Long, endUs: Long): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, name, kind, startUs, endUs)
    id
  }

  /** A span inside the open op, added once its interval is known (the
    * pipeline task bodies, which only the signal store sees). */
  def child(name: String, kind: String, startUs: Long, endUs: Long): Unit =
    if (on) record(name, kind, current, startUs, endUs)

  /** A span over the ops recorded in [startUs, endUs]: a query_mix pass. */
  def group(name: String, kind: String, startUs: Long, endUs: Long): Unit = if (on) {
    val id = record(name, kind, 0, startUs, endUs)
    for (i <- spans.indices) {
      val s = spans(i)
      if (s.parent == 0 && s.id != id && s.startUs >= startUs && s.endUs <= endUs)
        spans(i) = s.copy(parent = id)
    }
  }

  /** Time `body` as one op; with tracing on, also its span and counters. */
  def op[T](name: String, kind: String = "op")(body: => T): (T, OpFigures) = {
    val gc0 = Trace.gcMillis()
    if (!on) {
      val t0 = System.nanoTime()
      val out = body
      (out, OpFigures((System.nanoTime() - t0) / 1e9, (Trace.gcMillis() - gc0) / 1e3))
    } else {
      val id = record(name, kind, 0, 0L, 0L)
      val start = nowUs()
      current = id
      sc.setLocalProperty(Trace.SpanKey, id.toString)
      val out = try body finally {
        sc.setLocalProperty(Trace.SpanKey, null)
        current = 0
      }
      val end = nowUs()
      spans(spans.indexWhere(_.id == id)) = Span(id, 0, name, kind, start, end)
      ListenerDrain.drain(sc)
      (out, figures(id, start, end, (Trace.gcMillis() - gc0) / 1e3))
    }
  }

  private def figures(id: Int, startUs: Long, endUs: Long, gcS: Double): OpFigures = {
    val mine = jobs.values.asScala.filter(_.span == id).toSeq
    val aggs = mine.flatMap(_.stages.flatMap(s => Option(stages.get(s))))
    val wall = (endUs - startUs) / 1e6
    val busy = Trace.unionMs(mine.map(j => (j.startMs, j.endMs))) / 1e3
    OpFigures(wall, gcS, mine.size, aggs.map(_.tasks).sum, aggs.map(_.runMs).sum / 1e3,
      math.max(0.0, wall - busy), aggs.map(_.input).sum, aggs.map(_.shRead).sum,
      aggs.map(_.shWrite).sum, aggs.map(_.spill).sum)
  }

  /** Every span, jobs included, with its self time: its duration minus the
    * part its children cover. A job nests in the latest-starting task or
    * query span of its op that contains its start. */
  def allSpans(): Seq[(Span, Double)] = {
    ListenerDrain.drain(sc)
    val byParent = spans.groupBy(_.parent)
    val jobSpans = jobs.asScala.toSeq.sortBy(_._1).flatMap { case (jid, j) =>
      spans.find(_.id == j.span).map { op =>
        val inner = byParent.getOrElse(op.id, Nil)
          .filter(c => c.startUs <= j.startMs * 1000 && j.startMs * 1000 <= c.endUs)
          .sortBy(_.startUs).lastOption
        Span(-jid - 1, inner.getOrElse(op).id, s"job $jid", "job", j.startMs * 1000, j.endMs * 1000)
      }
    }
    val all = spans.toSeq ++ jobSpans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Trace.unionMs(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
      (s, math.max(0.0, (s.endUs - s.startUs - covered) / 1e6))
    }
  }

  def close(): Unit = activate(false)
}

object Trace {
  val SpanKey = "graftbench.span"

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Length of the union of [start, end] intervals (any unit). */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
}
