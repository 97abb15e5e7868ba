package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Graft, Tables}
import graft.prepared.{PreparedStatement, PreparedStatements}
import graft.sources.KeyedMemTables

/** A seeded stream of distinct statements over the sf0.1 fixture tables and
  * one keyed in-memory source (the `part` table, keyed by `p_partkey`). Each text is prepared once and executed a
  * few times with fresh parameters; statements share nothing (each
  * projects its own constant, so not even generated code is shared).
  * Every execute is checked against the same text with its literals
  * inlined, run through `spark.sql`, whose latency is the ad-hoc figure.
  */
object PrepareMix extends Workload {
  val name = "prepare_mix"
  val Sf = 0.1
  private val ExecsPerStatement = 3
  private val SetupReps = 3

  final case class Stmt(shape: String, text: String, params: Seq[Map[String, Any]])

  /** The shapes: (name, template with `{c}` for the statement's own
    * constant, parameter generator).
    */
  private def shapes(sc: Fixture.Rows): Seq[(String, String, scala.util.Random => Map[String, Any])] = {
    def key(r: scala.util.Random, n: Long): Long = (r.nextDouble() * n).toLong
    Seq(
      ("point", "SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice * {c}, 2) AS adj " +
        "FROM orders WHERE o_orderkey = $1",
        r => Map("$1" -> key(r, sc.orders))),
      ("join", "SELECT c.c_custkey, c.c_name, o.o_orderkey, round(o.o_totalprice * {c}, 2) AS adj " +
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey WHERE c.c_custkey = $1",
        r => Map("$1" -> key(r, sc.customer))),
      ("range", "SELECT o_orderkey, round(o_totalprice * {c}, 2) AS adj FROM orders " +
        "WHERE o_totalprice >= $1 AND o_totalprice < $2",
        r => { val lo = 1000.0 + math.floor(r.nextDouble() * 497000.0); Map("$1" -> lo, "$2" -> (lo + 2000.0)) }),
      ("in_list", "SELECT l_orderkey, l_linenumber, round(l_quantity * {c}, 2) AS adj FROM lineitem " +
        "WHERE l_orderkey IN ($1, $2, $3)",
        r => Map("$1" -> key(r, sc.orders), "$2" -> key(r, sc.orders), "$3" -> key(r, sc.orders))),
      ("having", "SELECT o_orderpriority, count(*) AS cnt, round(sum(o_totalprice) * {c}, 2) AS adj " +
        "FROM orders WHERE o_custkey < $1 GROUP BY o_orderpriority HAVING count(*) > $2",
        r => Map("$1" -> (100L + key(r, sc.customer - 100)), "$2" -> key(r, 4000))),
      ("subquery", "SELECT o_orderkey, round(o_totalprice * {c}, 2) AS adj FROM orders " +
        "WHERE o_custkey = $1 AND o_totalprice > (SELECT avg(o_totalprice) FROM orders WHERE o_custkey = $2)",
        r => Map("$1" -> key(r, sc.customer), "$2" -> key(r, sc.customer))),
      ("keyed", "SELECT p_partkey, p_name, round(p_retailprice * {c}, 2) AS adj FROM kv_part " +
        "WHERE p_partkey = $1",
        r => Map("$1" -> key(r, sc.part))))
  }

  /** Statement `i` of a stream: every round of seven covers each shape
    * once, in a seeded order; the constant is unique to the statement.
    */
  def stream(seed: Long, salt: Long): Iterator[Stmt] = {
    val r = new scala.util.Random(seed * 1000003L + salt)
    val sh = shapes(Fixture.rows(Sf))
    Iterator.from(0).grouped(sh.length).flatMap { idx =>
      r.shuffle(sh).zip(idx).map { case ((shape, tpl, gen), i) =>
        val c = f"${1.0 + (i + 1) / 1e5 + r.nextInt(1000) / 1e9}%.9f"
        Stmt(shape, tpl.replace("{c}", c), Seq.fill(ExecsPerStatement)(gen(r)))
      }
    }
  }

  /** The statement with its parameters written in as SQL literals. */
  def inline(text: String, params: Map[String, Any]): String =
    params.toSeq.sortBy(-_._1.length).foldLeft(text) { case (t, (id, v)) =>
      t.replace(id, v match {
        case l: Long => s"${l}L"
        case d: Double => s"CAST(${java.lang.Double.toString(d)} AS DOUBLE)"
        case s: String => "'" + s.replace("'", "''") + "'"
        case o => o.toString
      })
    }

  private final case class Exec(shape: String, inlined: String, rows: Option[Array[Row]], ms: Double)
  private final class Phase {
    val prepares = ArrayBuffer.empty[Double]
    val execs = ArrayBuffer.empty[Exec]
    val rounds = ArrayBuffer.empty[Double]
    var wallS = 0.0
    def execMs: Seq[Double] = execs.filter(_.rows.isDefined).map(_.ms).toSeq
  }

  def run(ctx: Ctx): Result = {
    val dir = ctx.tables(Sf)
    val sc = ctx.base.sparkContext

    var spark: SparkSession = null
    val warmStream = stream(ctx.opts.seed, 1)
    val setup = Timing.setup(ctx, SetupReps) { _ =>
      val t0 = System.nanoTime()
      spark = ctx.base.newSession()
      Tables.register(spark, dir)
      Graft.install(spark)
      KeyedMemTables.register(spark, "kv_part",
        Tables.df(spark, dir, "part").select(col("p_partkey"), col("p_name"), col("p_retailprice")), "p_partkey")
      val t1 = System.nanoTime()
      Seq.fill(7)(warmStream.next()).foreach { s =>
        val st = PreparedStatements.prepare(spark, s.text)
        st.executeCollect(s.params.head)
        spark.sql(inline(s.text, s.params.head)).collect()
      }
      ((t1 - t0) / 1e9, Timing.sinceMs(t1) / 1e3)
    }

    def execute(tr: Tracer, st: PreparedStatement, params: Map[String, Any]): Array[Row] =
      if (!tr.enabled) st.executeCollect(params) else TracedExecute(tr, st, params)

    val timedStream = stream(ctx.opts.seed, 0)
    def phase(tr: Tracer, seconds: Double, ph: Phase): Unit = {
      val p0 = System.nanoTime()
      val end = p0 + (seconds * 1e9).toLong
      while (System.nanoTime() < end) {
        val r0 = System.nanoTime()
        Seq.fill(7)(timedStream.next()).foreach { s =>
          val (st, pms) = Timing.timed(ctx, s"prepare ${s.shape}")(tr.op(sc, "prepare")(PreparedStatements.prepare(spark, s.text)))
          ph.prepares += pms
          s.params.foreach { p =>
            val (rows, ms) = st match {
              case Some(stmt) =>
                val (rows, ms) = Timing.timed(ctx, s"execute ${s.shape}")(execute(tr, stmt, p))
                (rows.filter(_ => TracedExecute.splitOk(ctx, tr, stmt, p, s.shape)), ms)
              case None => (None, 0.0)
            }
            ph.execs += Exec(s.shape, inline(s.text, p), rows, ms)
          }
        }
        ph.rounds += Timing.sinceMs(r0) / 1e3
      }
      ph.wallS += Timing.sinceMs(p0) / 1e3
    }

    // the literal-inlined twin of every execute: its rows are the expected
    // ones and its latency is the ad-hoc figure
    def adhoc(tr: Tracer, ph: Phase): (Seq[Double], Long) = {
      val runs = ph.execs.toSeq.map { e =>
        val (want, ms) = Timing.timed(ctx, s"adhoc ${e.shape}")(tr.op(sc, "adhoc")(spark.sql(e.inlined).collect()))
        val ok = want.isDefined && Timing.check(ctx, s"execute ${e.shape} [${e.inlined}]", e.rows, want.get.toSeq)
        (ms, ok)
      }
      (runs.map(_._1), runs.count(!_._2).toLong)
    }

    val host = new Timing.HostWindow
    val plain = new Phase
    if (!ctx.opts.trace) {
      phase(new Tracer(false), ctx.opts.seconds, plain)
      val heapMb = Host.retainedHeapMb()
      val (adhocMs, failed) = adhoc(new Tracer(false), plain)
      host.close()
      val (p99, pct) = Stats.tail(plain.execMs)
      val attempted = plain.prepares.length + plain.execs.length
      val metrics = EndToEnd.complete(Map(
        "setup_s" -> setup.totalS,
        "exec_p50_ms" -> Stats.median(plain.execMs),
        "exec_p99_ms" -> p99,
        "ops_per_s" -> attempted / plain.wallS,
        "adhoc_p50_ms" -> Stats.median(adhocMs),
        "prepare_p50_ms" -> Stats.median(plain.prepares.toSeq),
        "suite_s" -> Stats.median(plain.rounds.toSeq),
        "suite_geomean_ms" -> Stats.geomean(plain.execMs),
        "heap_retained_mb" -> heapMb))
      Result(attempted, failed, metrics, detail(ctx, setup, host, plain) ++
        Seq("tail_percentile" -> pct, "adhoc_samples" -> adhocMs.length,
          "shapes" -> plain.execs.map(_.shape).distinct.sorted))
    } else {
      val tr = new Tracer(true)
      val traced = new Phase
      ctx.alternate(spark, tr)((t, s) => phase(t, s, if (t.enabled) traced else plain))
      val (adhocMs, plainFailed) = adhoc(new Tracer(false), plain)
      val (_, tracedFailed) = ctx.withListeners(spark)(adhoc(tr, traced))
      ctx.writeTrace(tr)
      host.close()
      val layers = Layers.derive(ctx, tr, "execute", "adhoc") ++ Timing.setupLayers(setup) ++
        Timing.hostLayers(host) ++ Map(
          "prepared.amortization_x" -> Stats.median(adhocMs) / Stats.median(plain.execMs),
          "trace.overhead_ms" -> (Stats.median(traced.execMs) - Stats.median(plain.execMs)))
      Result(plain.prepares.length + plain.execs.length + traced.prepares.length + traced.execs.length,
        plainFailed + tracedFailed, Layers.complete(layers),
        detail(ctx, setup, host, traced) ++ Seq("spans" -> tr.spans.length))
    }
  }

  private def detail(ctx: Ctx, setup: Timing.Setup, host: Timing.HostWindow, ph: Phase) = {
    val sc = Fixture.rows(Sf)
    Seq("workload" -> name, "seed" -> ctx.opts.seed, "cores" -> ctx.cores, "sf" -> Sf,
      "rows" -> Seq("orders" -> sc.orders, "lineitem" -> sc.lineitem, "customer" -> sc.customer, "part" -> sc.part),
      "statements" -> ph.prepares.length, "exec_samples" -> ph.execs.length,
      "exec_p50_by_quarter" -> Stats.quarters(ph.execMs),
      "setup_reps" -> setup.reps.map { case (a, b) => Seq(a, b) }, "host" -> host.detail,
      "failures" -> ctx.failures.toSeq)
  }
}
