package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.Row

/** End-to-end metric names and units; every untraced run reports all of
  * them, each measured on the workload's own operations.
  */
object EndToEnd {
  val all: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "exec_p50_ms" -> "ms", "exec_p99_ms" -> "ms", "ops_per_s" -> "1/s",
    "adhoc_p50_ms" -> "ms", "prepare_p50_ms" -> "ms", "suite_s" -> "s", "suite_geomean_ms" -> "ms",
    "heap_retained_mb" -> "MB")

  def complete(values: Map[String, Double]): Seq[(String, (Double, String))] = {
    val missing = all.map(_._1).filterNot(values.contains)
    require(missing.isEmpty, s"end-to-end metrics not measured: ${missing.mkString(", ")}")
    all.map { case (k, u) => k -> (values(k), u) }
  }
}

/** Timed calls and the bookkeeping shared by the workloads. */
object Timing {
  def sinceMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Runs `body`, returning its value (None when it threw) and its wall ms. */
  def timed[T](ctx: Ctx, what: => String)(body: => T): (Option[T], Double) = {
    val t0 = System.nanoTime()
    val v =
      try Some(body)
      catch { case NonFatal(e) => ctx.fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
    (v, sinceMs(t0))
  }

  /** Repeats a set-up `reps` times; each repetition returns its
    * (tables, warm-up) seconds. Reports the medians and their sum.
    */
  final case class Setup(sessionS: Double, tablesS: Double, warmupS: Double, reps: Seq[(Double, Double)]) {
    def totalS: Double = sessionS + Stats.median(reps.map { case (a, b) => a + b })
  }
  def setup(ctx: Ctx, reps: Int)(rep: Int => (Double, Double)): Setup = {
    val sessionS = ctx.sessionSeconds
    val rs = (1 to reps).map(rep)
    Setup(sessionS, Stats.median(rs.map(_._1)), Stats.median(rs.map(_._2)), rs)
  }

  /** Host witnesses around a timed window: steal and iowait during it, the
    * CPU canary (median of three) before it.
    */
  final class HostWindow {
    val canaryUs: Double = Stats.median(Seq.fill(3)(Host.canaryUs()))
    private val mark = Host.mark()
    private var closed: Option[(Double, Double)] = None
    def close(): Unit = if (closed.isEmpty) closed = Some(Host.since(mark))
    def stealMs: Double = { close(); closed.get._1 }
    def iowaitMs: Double = { close(); closed.get._2 }
    def detail: Seq[(String, Any)] =
      Seq("steal_ms" -> stealMs, "iowait_ms" -> iowaitMs, "canary_us" -> canaryUs)
  }

  /** Checks rows against the expected ones; a miss counts as a failure. */
  def check(ctx: Ctx, what: => String, got: Option[Array[Row]], want: Seq[Row]): Boolean = got match {
    case None => false // the call itself failed and was recorded
    case Some(rows) =>
      Stats.diff(rows.toSeq, want) match {
        case None => true
        case Some(d) => ctx.fail(s"$what: $d"); false
      }
  }

  def setupLayers(s: Setup): Map[String, Double] =
    Map("setup.session_s" -> s.sessionS, "setup.tables_s" -> s.tablesS, "setup.warmup_s" -> s.warmupS)

  def hostLayers(h: HostWindow): Map[String, Double] =
    Map("host.steal_ms" -> h.stealMs, "host.canary_us" -> h.canaryUs, "host.iowait_ms" -> h.iowaitMs)
}
