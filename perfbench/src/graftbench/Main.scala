package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of the outside-in benchmark harness:
  *
  * {{{
  * graftbench.Main --workload <lookup_cached|prepare_mix|pipeline_suite>
  *                 --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *                 --fixture <dir>
  * }}}
  *
  * One process, one `local[<cores>]` session, one client thread in a
  * closed loop. The last stdout line is the result object
  * (`correct`, `attempted`, `failed`, `metrics`); the line before it
  * carries the run's details (sample counts, percentiles, host
  * witnesses). `--trace 0` reports the end-to-end metrics; `--trace 1`
  * repeats the timed phase with spans and Spark listeners on and reports
  * the per-layer metrics. `--record` rewrites pipeline_suite's expected
  * results from the current tree.
  */
object Main {
  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean, work: String, fixture: String,
      expected: String, record: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", need("work"), need("fixture"), kv.getOrElse("expected", ""),
      kv.getOrElse("record", "0") == "1")
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val broken = SelfCheck.failures()
    if (broken.nonEmpty) {
      System.err.println("self-check failed: " + broken.mkString("; "))
      sys.exit(3)
    }
    val workload: Workload = opts.workload match {
      case LookupCached.name  => LookupCached
      case PrepareMix.name    => PrepareMix
      case PipelineSuite.name => PipelineSuite
      case other =>
        System.err.println(s"unknown workload $other")
        sys.exit(2)
    }
    val ctx = new Ctx(opts)
    val res =
      try workload.run(ctx)
      catch {
        // e.g. no sample left to take a median of: name the failed calls
        case scala.util.control.NonFatal(e) if ctx.failures.nonEmpty =>
          System.err.println("failed operations: " + ctx.failures.mkString("; "))
          throw e
      } finally ctx.stop()
    println(Json.obj(res.detail))
    println(Json.obj(Seq(
      "correct" -> (res.failed == 0 && res.attempted > 0),
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "metrics" -> res.metrics.map { case (k, (v, u)) => k -> Seq("value" -> v, "unit" -> u) })))
  }
}

final case class Result(
    attempted: Long, failed: Long, metrics: Seq[(String, (Double, String))], detail: Seq[(String, Any)])

trait Workload {
  def name: String
  def run(ctx: Ctx): Result
}

/** Session, paths and instruments shared by the workloads. */
final class Ctx(val opts: Main.Opts) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val work: File = new File(opts.work).getAbsoluteFile
  val events = new EventLog
  val failures = mutable.ArrayBuffer.empty[String]

  /** Session settings of graft.Bench, the library's measured deployment. */
  private var sessionSec = 0.0
  lazy val base: SparkSession = {
    val t0 = System.nanoTime()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.ui.retainedJobs", "300")
      .config("spark.ui.retainedStages", "300")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.files.minPartitionNum", "1")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.local.dir", new File(work, "tmp/spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "tmp/warehouse").toURI.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    sessionSec = (System.nanoTime() - t0) / 1e9
    s
  }
  def sessionSeconds: Double = { base; sessionSec }

  /** Directory of the fixture tables at scale factor `sf`. */
  def tables(sf: Double): String = new File(opts.fixture, s"sf$sf").getAbsolutePath

  def stop(): Unit = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())

  def fail(what: String): Unit = {
    if (failures.length < 20) failures += what
  }

  /** Runs `body` with Spark's listeners recording into [[events]]. */
  def withListeners[T](spark: SparkSession)(body: => T): T = {
    events.drain(base.sparkContext)
    base.sparkContext.addSparkListener(events)
    spark.listenerManager.register(events)
    try body
    finally {
      events.drain(base.sparkContext)
      base.sparkContext.removeSparkListener(events)
      spark.listenerManager.unregister(events)
    }
  }

  /** The traced run's timed phase: untraced, traced, traced, untraced
    * quarters, so warm-up drift falls equally on both sides of the overhead.
    */
  def alternate(spark: SparkSession, tr: Tracer)(phase: (Tracer, Double) => Unit): Unit = {
    val off = new Tracer(false)
    Seq(false, true, true, false).foreach { traced =>
      if (traced) withListeners(spark)(phase(tr, opts.seconds / 2))
      else phase(off, opts.seconds / 2)
    }
  }

  /** Writes the spans and the recorded events to `trace/`. */
  def writeTrace(t: Tracer): Unit = {
    val dir = new File(work, "trace"); dir.mkdirs()
    val f = new File(dir, s"${opts.workload}_seed${opts.seed}.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      t.spans.foreach { s =>
        w.println(Json.obj(Seq("kind" -> "span", "id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "name" -> s.name, "start_ms" -> Clock.epochMs(s.startNs), "end_ms" -> Clock.epochMs(s.endNs))))
      }
      events.jobs.foreach { j =>
        w.println(Json.obj(Seq("kind" -> "spark.job", "job" -> j.jobId, "op" -> j.op,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stageIds)))
      }
      events.plans.foreach { p =>
        w.println(Json.obj(Seq("kind" -> "catalyst", "start_ms" -> p.startMs,
          "phases_ms" -> p.durationsMs.toSeq.sortBy(_._1))))
      }
    } finally w.close()
  }
}

/** The library's test fixture, vendored under `perfbench/fixture/` and
  * checked against its SHA256SUMS before every run: the star-schema tables
  * of `graft.Tables.names`, one parquet file each per scale factor. The
  * keys of orders, customer and part run from 0 to the row count.
  */
object Fixture {
  final case class Rows(orders: Long, customer: Long, part: Long, lineitem: Long)
  def rows(sf: Double): Rows =
    Rows(math.round(1500000 * sf), math.round(150000 * sf), math.round(200000 * sf), math.round(6000000 * sf))
}

/** Minimal JSON writer for the result lines and the trace file. */
object Json {
  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long | _: Short) => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) && kv.forall(_.asInstanceOf[(_, _)]._1.isInstanceOf[String]) =>
      obj(kv.asInstanceOf[Seq[(String, Any)]])
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
