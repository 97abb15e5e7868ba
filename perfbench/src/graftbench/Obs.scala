package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.graft.Internals
import org.apache.spark.sql.util.QueryExecutionListener

import graft.prepared.{Params, PreparedStatement, ScanRebind}

/** Wall clock in epoch milliseconds with sub-millisecond digits: a
  * monotonic nanoTime anchored once to the epoch, so spans line up with
  * Spark's epoch-millisecond event timestamps.
  */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorEpochMs = System.currentTimeMillis().toDouble
  def nowNs: Long = System.nanoTime()
  def epochMs(ns: Long): Double = anchorEpochMs + (ns - anchorNs) / 1e6
}

/** One traced interval: `op` ties every span of one operation together,
  * `parent` is the id of the span that caused it (0 for a root).
  */
final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder around the harness's calls into each layer.
  * Disabled, `span` is a plain call. Spans are written once, at exit.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  /** Rows each operation returned, for the scan waste ratio. */
  val rowsOut = scala.collection.mutable.Map.empty[Long, Long]
  private var nextId = 0L
  private var nextOp = 0L
  private var current = 0L
  private var currentOp = 0L

  /** Runs `body` as the root span of a new operation; the operation id is
    * also set as a Spark local property so its jobs can be attributed.
    */
  def op[T](sc: SparkContext, name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextOp += 1
      currentOp = nextOp
      sc.setLocalProperty(Tracer.OpProperty, currentOp.toString)
      try span(name)(body)
      finally { sc.setLocalProperty(Tracer.OpProperty, null); currentOp = 0L }
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = current
      current = id
      val t0 = Clock.nowNs
      try body
      finally {
        spans += Span(id, parent, currentOp, name, t0, Clock.nowNs)
        current = parent
      }
    }

  def rows(n: Long): Unit = if (enabled && currentOp > 0) rowsOut(currentOp) = rowsOut.getOrElse(currentOp, 0L) + n

  def roots(name: String): Seq[Span] = spans.iterator.filter(s => s.parent == 0 && s.name == name).toSeq
  def children(of: Span, name: String): Seq[Span] =
    spans.iterator.filter(s => s.parent == of.id && s.name == name).toSeq
}

object Tracer { val OpProperty = "graftbench.op" }

/** The traced run's prepared execute: the library's own static-mode
  * `PreparedStatement.executeCollect`, that is `boundPlan` (bind, scan
  * rebind and the `bindTime` stamp) then `Internals.collectPhysical`, each
  * call in a span. An adaptive statement, which `executeCollect` re-plans
  * instead, fails.
  */
object TracedExecute {
  def apply(tr: Tracer, st: PreparedStatement, params: Map[String, Any]): Array[Row] = {
    require(!st.isAdaptive, "adaptive statement: the traced path covers static mode only")
    tr.op(st.spark.sparkContext, "execute") {
      val plan = tr.span("bound")(st.boundPlan(params))
      val rows = tr.span("collect")(Internals.collectPhysical(plan))
      tr.rows(rows.length)
      rows
    }
  }

  /** `boundPlan` is one call, so its split into `Params.bind` and
    * `ScanRebind.rebind` is timed as an operation of its own after the
    * execute, on the same statement and parameters. The plan the split
    * yields must print as `boundPlan`'s, up to the fresh ids every copied
    * exchange and subquery takes; if the library's sequence changes, this
    * throws and the execute counts as failed.
    */
  def split(tr: Tracer, st: PreparedStatement, params: Map[String, Any]): Unit = {
    val plan = tr.op(st.spark.sparkContext, "bind_split") {
      val bound = tr.span("bind")(Params.bind(st.physicalPlan, params))
      tr.span("rebind")(ScanRebind.rebind(bound))
    }
    def lines(p: SparkPlan) = p.treeString.replaceAll("""\[(plan_id=|id=#)\d+\]""", "").linesIterator.toSeq
    val (got, want) = (lines(plan), lines(st.boundPlan(params)))
    got.zipAll(want, "", "").find { case (a, b) => a != b }.foreach { case (a, b) =>
      throw new IllegalStateException(
        s"Params.bind + ScanRebind.rebind no longer give PreparedStatement.boundPlan: [$a] vs [$b]")
    }
  }

  /** Traced, runs [[split]] after an execute; false (a failed execute) if
    * it throws.
    */
  def splitOk(ctx: Ctx, tr: Tracer, st: PreparedStatement, params: Map[String, Any], what: String): Boolean =
    !tr.enabled || Timing.timed(ctx, s"bind split $what")(split(tr, st, params))._1.isDefined
}

final case class TaskRec(
    stageId: Int, launchMs: Long, runMs: Long, delayMs: Long, gcMs: Long,
    recordsRead: Long, bytesRead: Long, shuffleWriteBytes: Long)
final case class JobRec(jobId: Int, op: Long, startMs: Long, stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}
final case class PlanRec(durationsMs: Map[String, Double], startMs: Long)

/** Spark's own events for the traced run: jobs with their operation id,
  * tasks with metrics, and the planning phases of every SQL execution
  * (`QueryPlanningTracker`, via a `QueryExecutionListener`).
  */
final class EventLog extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val stages = ArrayBuffer.empty[Int]
  val plans = ArrayBuffer.empty[PlanRec]
  private val byJob = scala.collection.mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpProperty)))
      .map(_.toLong).getOrElse(0L)
    val j = JobRec(e.jobId, op, e.time, e.stageIds)
    jobs += j; byJob(e.jobId) = j
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byJob.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += e.stageInfo.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      // the UI's scheduler-delay formula (as in graft.Bench)
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult
      tasks += TaskRec(e.stageId, info.launchTime, m.executorRunTime,
        math.max(0L, delay), m.jvmGCTime, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases
    val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
    plans += PlanRec(ph.map { case (k, v) => k -> v.durationMs.toDouble }, start)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Waits until every posted event has been delivered (the listener bus
    * is asynchronous; `waitUntilEmpty` is public in bytecode only).
    */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val ms = bus.getClass.getMethods.filter(_.getName == "waitUntilEmpty")
      ms.find(_.getParameterCount == 0).map(_.invoke(bus))
        .orElse(ms.find(_.getParameterCount == 1).map(_.invoke(bus, java.lang.Long.valueOf(10000L))))
        .getOrElse(Thread.sleep(200))
    } catch { case scala.util.control.NonFatal(_) => Thread.sleep(200) }
}

/** Host witnesses that classify a run (from graft.Bench): hypervisor steal
  * and iowait jiffies from /proc/stat, and a fixed-work CPU canary.
  */
object Host {
  private def procStat(i: Int): Long =
    try {
      val p = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (p.length > i) p(i).toLong else -1L
    } catch { case scala.util.control.NonFatal(_) => -1L }

  final case class Mark(steal: Long, iowait: Long)
  def mark(): Mark = Mark(procStat(8), procStat(5))
  /** Milliseconds of steal and iowait between two marks (jiffy = 10 ms). */
  def since(m: Mark): (Double, Double) = {
    val now = mark()
    def d(a: Long, b: Long) = if (a < 0 || b < 0) -1.0 else (b - a) * 10.0
    (d(m.steal, now.steal), d(m.iowait, now.iowait))
  }

  @volatile private var sink = 0L
  def canaryUs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 8000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink = x
    (System.nanoTime() - t0) / 1e3
  }

  /** JVM heap in use after full collections, in MB. Spark frees
    * dropped broadcast and shuffle state asynchronously once a collection
    * has found it unreachable, so collect until the reading settles.
    */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used(): Double = {
      System.gc()
      Thread.sleep(250)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }
    var last = used()
    var best = last
    var i = 0
    while (i < 8) {
      val now = used()
      best = math.min(best, now)
      if (math.abs(now - last) < 1.0) i = 8 else { last = now; i += 1 }
    }
    best
  }
}
