package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.Graft
import graft.prepared.{PreparedStatement, PreparedStatements}

/** The paper's own workload: one prepared point lookup over a cached
  * 1,000-row, 1-partition in-memory table, keyed by a seeded sequence in
  * which about one key in eleven is absent; the same keys then run as
  * literal SQL. Blocks of ten keys alternate between the two paths, so
  * both see the same session state.
  */
object LookupCached extends Workload {
  val name = "lookup_cached"
  private val TableRows = 1000L
  private val Base = "SELECT id, name, amount FROM bench_users WHERE id = "
  private val PassKeys = 50 // one pass = the reference bench's 50 lookups
  private val Block = 10
  private val SetupReps = 3
  private val WarmKeys = 30
  /** Re-prepares of the lookup after each pair of blocks, so that they
    * sample the same spells of a shared host as the executes; taken in a
    * row, they fall into one slow spell or none.
    */
  private val PreparesPerBlock = 5
  private val WarmPrepares = 10

  def expected(k: Long): Seq[Row] =
    if (k >= 0 && k < TableRows) Seq(Row(k, s"user_$k", (k % 100).toDouble)) else Nil

  private final class Phase {
    val prep = ArrayBuffer.empty[(Long, Option[Array[Row]], Double)]
    val adhoc = ArrayBuffer.empty[(Long, Option[Array[Row]], Double)]
    val preps = ArrayBuffer.empty[(Option[PreparedStatement], Double)]
    var prepWallS = 0.0
    def prepMs: Seq[Double] = prep.map(_._3).toSeq
    def adhocMs: Seq[Double] = adhoc.map(_._3).toSeq
  }

  def run(ctx: Ctx): Result = {
    val rng = new scala.util.Random(ctx.opts.seed)
    def draw(): Long = rng.nextInt((TableRows * 11 / 10).toInt).toLong
    val warm = Array.fill(WarmKeys)(draw())
    val keys = Array.fill(200000)(draw())
    val sc = ctx.base.sparkContext

    var spark: SparkSession = null
    var st: PreparedStatement = null
    val setup = Timing.setup(ctx, SetupReps) { _ =>
      if (spark != null) spark.catalog.clearCache()
      val t0 = System.nanoTime()
      spark = ctx.base.newSession()
      val users = spark.range(0, TableRows, 1, 1).select(
        col("id"), concat(lit("user_"), col("id")).as("name"), (col("id") % 100).cast("double").as("amount"))
      users.cache().count()
      users.createOrReplaceTempView("bench_users")
      Graft.install(spark)
      val t1 = System.nanoTime()
      (1 to WarmPrepares).foreach(_ => st = PreparedStatements.prepare(spark, Base + "$1"))
      warm.foreach { k => st.executeCollect(Map("$1" -> k)); spark.sql(Base + k).collect() }
      ((t1 - t0) / 1e9, Timing.sinceMs(t1) / 1e3)
    }

    def execute(tr: Tracer, k: Long): Array[Row] =
      if (!tr.enabled) st.executeCollect(Map("$1" -> k)) else TracedExecute(tr, st, Map("$1" -> k))

    var next = 0
    def phase(tr: Tracer, seconds: Double, ph: Phase): Unit = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      // at least one whole pass, however slow the host
      while (System.nanoTime() < end || ph.prep.length < PassKeys) {
        val block = (0 until Block).map(j => keys((next + j) % keys.length))
        next += Block
        val b0 = System.nanoTime()
        block.foreach { k =>
          val (rows, ms) = Timing.timed(ctx, s"execute $k")(execute(tr, k))
          ph.prep += ((k, rows.filter(_ => TracedExecute.splitOk(ctx, tr, st, Map("$1" -> k), k.toString)), ms))
        }
        ph.prepWallS += Timing.sinceMs(b0) / 1e3
        block.foreach { k =>
          val (rows, ms) = Timing.timed(ctx, s"adhoc $k")(tr.op(sc, "adhoc")(spark.sql(Base + k).collect()))
          ph.adhoc += ((k, rows, ms))
        }
        (1 to PreparesPerBlock).foreach { _ =>
          ph.preps += Timing.timed(ctx, "prepare")(tr.op(sc, "prepare")(PreparedStatements.prepare(spark, Base + "$1")))
        }
      }
    }

    // every execute and ad-hoc row is the one derived from its key; a
    // re-prepared statement must answer like the original
    def checked(ph: Phase): Long = {
      val bad = (ph.prep.map { case (k, r, _) => Timing.check(ctx, s"execute $k", r, expected(k)) } ++
        ph.adhoc.map { case (k, r, _) => Timing.check(ctx, s"adhoc $k", r, expected(k)) } ++
        ph.preps.zipWithIndex.map { case ((p, _), i) =>
          val k = keys(i)
          Timing.check(ctx, s"re-prepared $k", p.flatMap(s => scala.util.Try(s.executeCollect(Map("$1" -> k))).toOption),
            expected(k))
        }).count(!_)
      bad.toLong
    }

    val host = new Timing.HostWindow
    val plain = new Phase
    if (!ctx.opts.trace) {
      phase(new Tracer(false), ctx.opts.seconds, plain)
      val heapMb = Host.retainedHeapMb()
      host.close()
      val failed = checked(plain)
      val passes = plain.prepMs.grouped(PassKeys).filter(_.length == PassKeys).map(_.sum / 1e3).toSeq
      val (p99, pct) = Stats.tail(plain.prepMs)
      val metrics = EndToEnd.complete(Map(
        "setup_s" -> setup.totalS,
        "exec_p50_ms" -> Stats.median(plain.prepMs),
        "exec_p99_ms" -> p99,
        "ops_per_s" -> plain.prep.length / plain.prepWallS,
        "adhoc_p50_ms" -> Stats.median(plain.adhocMs),
        "prepare_p50_ms" -> Stats.median(plain.preps.map(_._2).toSeq),
        "suite_s" -> Stats.median(passes),
        "suite_geomean_ms" -> Stats.geomean(plain.prepMs),
        "heap_retained_mb" -> heapMb))
      Result(plain.prep.length + plain.adhoc.length + plain.preps.length, failed, metrics,
        detail(ctx, setup, host, plain) ++ Seq("tail_percentile" -> pct, "passes" -> passes.length))
    } else {
      val tr = new Tracer(true)
      val traced = new Phase
      ctx.alternate(spark, tr)((t, s) => phase(t, s, if (t.enabled) traced else plain))
      ctx.writeTrace(tr)
      host.close()
      val failed = checked(plain) + checked(traced)
      val layers = Layers.derive(ctx, tr, "execute", "adhoc") ++ Timing.setupLayers(setup) ++
        Timing.hostLayers(host) ++ Map(
          "prepared.amortization_x" -> Stats.median(plain.adhocMs) / Stats.median(plain.prepMs),
          "trace.overhead_ms" -> (Stats.median(traced.prepMs) - Stats.median(plain.prepMs)))
      Result(plain.prep.length + plain.adhoc.length + plain.preps.length + traced.prep.length + traced.adhoc.length +
        traced.preps.length,
        failed, Layers.complete(layers), detail(ctx, setup, host, traced) ++ Seq("spans" -> tr.spans.length))
    }
  }

  private def detail(ctx: Ctx, setup: Timing.Setup, host: Timing.HostWindow, ph: Phase): Seq[(String, Any)] =
    Seq("workload" -> name, "seed" -> ctx.opts.seed, "cores" -> ctx.cores, "table_rows" -> TableRows,
      "prepared_samples" -> ph.prep.length, "adhoc_samples" -> ph.adhoc.length,
      "absent_keys" -> ph.prep.count(_._1 >= TableRows),
      "exec_p50_by_quarter" -> Stats.quarters(ph.prepMs), "adhoc_p50_by_quarter" -> Stats.quarters(ph.adhocMs),
      "setup_reps" -> setup.reps.map { case (a, b) => Seq(a, b) }, "host" -> host.detail,
      "failures" -> ctx.failures.toSeq)
}
