package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Graft, SparkEntry, Tables}
import graft.pipeline.{Dedup, PipelineQueries}
import graft.prepared.PreparedStatements

/** The library's registered queries (`SparkEntry.queries`), each built and
  * fully collected, with caches cleared in between as graft.Bench does.
  * The operator fixtures (`PipelineQueries.warmup`,
  * `SparkEntry.warmupSources`, `Tables.bucketed`) are set-up.
  *
  * The tables are the sf0.001 fixture ([[Fixture]]), so every query's
  * output can be checked against the row count and content digest recorded from the
  * tree in `expected/pipeline_suite.tsv`. They run in name order, as in
  * graft.Bench: a seeded order moved which query paid each first-use cost
  * and with it the per-query figures. The run seed draws the probe keys.
  */
object PipelineSuite extends Workload {
  val name = "pipeline_suite"
  val Sf = 0.001
  /** Every `Stride`-th query in name order runs, so one pass fits a run. */
  val Stride = 7
  private val Probes = 20

  type Query = (SparkSession, String) => DataFrame

  def selected: Seq[(String, Query)] =
    SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.collect { case (q, i) if i % Stride == 0 => q }

  val families = Seq("q_text", "q_dedup", "q_join", "q_ann", "q_prep", "q_crawl", "q_sink")
  def family(q: String): String = families.find(f => q.startsWith(f + "_")).getOrElse("rest")

  /** Order-insensitive content digest of a query's rows: SHA-256 over the
    * sorted normalised rows ([[Stats.canon]]), first 16 hex digits.
    */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Stats.canon(rows.toSeq).foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Expected results: name → (rows, digest, mode); mode `exact` checks
    * both, `rows` only the count (output that legitimately varies).
    */
  def loadExpected(path: String): Map[String, (Long, String, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
      val Array(n, rows, hash, mode) = l.split('\t')
      n -> (rows.toLong, hash, mode)
    }.toMap
    finally src.close()
  }

  private def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Dedup.clearCaches()
    Dedup.clearCheckpoints()
  }

  private final class Pass {
    val walls = ArrayBuffer.empty[(String, Double)]
    def ms: Seq[Double] = walls.map(_._2).toSeq
  }

  def run(ctx: Ctx): Result = {
    val dir = ctx.tables(Sf)
    if (ctx.opts.record) return record(ctx, dir)
    val expected = loadExpected(ctx.opts.expected)
    val sc = ctx.base.sparkContext

    // one set-up: the operator fixtures alone take about 25 s
    var spark: SparkSession = null
    val setup = Timing.setup(ctx, 1) { _ =>
      val t0 = System.nanoTime()
      spark = ctx.base.newSession()
      Tables.register(spark, dir)
      Graft.install(spark)
      val t1 = System.nanoTime()
      PipelineQueries.warmup(spark, dir)
      SparkEntry.warmupSources(spark, dir)
      Tables.bucketed(spark, dir)
      ((t1 - t0) / 1e9, Timing.sinceMs(t1) / 1e3)
    }

    val queries = selected
    var failed = 0L
    def fail(what: String): Unit = { ctx.fail(what); failed += 1 }

    // each query built and fully collected; its rows are checked against
    // the recorded count and digest after the clock stops
    def runQuery(tr: Tracer, q: String, fn: Query, into: Pass): Unit = {
      val (rows, ms) = Timing.timed(ctx, q)(tr.op(sc, "query") {
        val df = tr.span("build")(fn(spark, dir))
        val rows = tr.span("exec")(df.collect())
        tr.rows(rows.length)
        rows
      })
      clearCaches(spark)
      rows match {
        case None => failed += 1
        case Some(rs) =>
          into.walls += ((q, ms))
          expected.get(q) match {
            case None => fail(s"$q: no expected result recorded")
            case Some((n, _, _)) if rs.length != n => fail(s"$q: ${rs.length} rows, want $n")
            case Some((_, h, "exact")) if digest(rs) != h => fail(s"$q: content digest ${digest(rs)}, want $h")
            case _ => ()
          }
      }
    }

    // ordinary SQL and prepare on the same session, after the pipeline's
    // set-up: literal point lookups on orders against their prepared twin
    def probes(tr: Tracer): (Seq[Double], Seq[Double]) = {
      val r = new scala.util.Random(ctx.opts.seed)
      val keys = Seq.fill(Probes)((r.nextDouble() * Fixture.rows(Sf).orders).toLong)
      val text = "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = "
      keys.map { k =>
        val (st, pms) = Timing.timed(ctx, "probe prepare")(tr.op(sc, "prepare")(PreparedStatements.prepare(spark, text + "$1")))
        val (rows, ams) = Timing.timed(ctx, s"probe adhoc $k")(tr.op(sc, "adhoc")(spark.sql(text + k).collect()))
        val viaPrepared = st.flatMap(s => scala.util.Try(s.executeCollect(Map("$1" -> k))).toOption)
        val ok = rows.exists(_.length == 1) && Timing.check(ctx, s"probe $k", viaPrepared, rows.get.toSeq)
        if (!ok) { rows.filter(_.length != 1).foreach(rs => ctx.fail(s"probe $k: ${rs.length} rows")); failed += 1 }
        (pms, ams)
      }.unzip
    }

    val host = new Timing.HostWindow
    val plain = new Pass
    val off = new Tracer(false)
    val base = Seq("workload" -> name, "seed" -> ctx.opts.seed, "cores" -> ctx.cores, "sf" -> Sf,
      "queries" -> queries.length, "registered" -> SparkEntry.queries.size,
      "rows_only" -> queries.map(_._1).filter(q => expected.get(q).exists(_._3 != "exact")),
      "setup_reps" -> setup.reps.map { case (a, b) => Seq(a, b) })
    if (!ctx.opts.trace) {
      queries.foreach { case (q, fn) => runQuery(off, q, fn, plain) }
      val heapMb = Host.retainedHeapMb()
      val (prepMs, adhocMs) = probes(off)
      host.close()
      val (p99, pct) = Stats.tail(plain.ms)
      val total = plain.ms.sum / 1e3
      val metrics = EndToEnd.complete(Map(
        "setup_s" -> setup.totalS,
        "exec_p50_ms" -> Stats.median(plain.ms),
        "exec_p99_ms" -> p99,
        "ops_per_s" -> plain.ms.length / total,
        "adhoc_p50_ms" -> Stats.median(adhocMs),
        "prepare_p50_ms" -> Stats.median(prepMs),
        "suite_s" -> total,
        "suite_geomean_ms" -> Stats.geomean(plain.ms),
        "heap_retained_mb" -> heapMb))
      Result(queries.length + Probes * 2, failed, metrics, base ++ Seq("tail_percentile" -> pct,
        "host" -> host.detail, "slowest" -> plain.walls.sortBy(-_._2).take(5), "failures" -> ctx.failures.toSeq))
    } else {
      // every query runs untraced and traced, in alternating order; the
      // overhead is the median of the per-query differences
      val tr = new Tracer(true)
      val traced = new Pass
      queries.zipWithIndex.foreach { case ((q, fn), i) =>
        def untraced(): Unit = runQuery(off, q, fn, plain)
        def withTrace(): Unit = ctx.withListeners(spark)(runQuery(tr, q, fn, traced))
        if (i % 2 == 0) { untraced(); withTrace() } else { withTrace(); untraced() }
      }
      ctx.withListeners(spark)(probes(tr))
      ctx.writeTrace(tr)
      host.close()
      val tracedMs = traced.walls.toMap
      val fam = plain.walls.groupBy(w => family(w._1)).map { case (f, ws) => s"pipeline.family.${f}_s" -> ws.map(_._2).sum / 1e3 }
      val layers = Layers.derive(ctx, tr, "query", "query") ++ Timing.setupLayers(setup) ++
        Timing.hostLayers(host) ++ fam ++ Map(
          "trace.overhead_ms" -> Stats.median(plain.walls.toSeq.flatMap { case (q, ms) => tracedMs.get(q).map(_ - ms) }))
      Result(queries.length * 2 + Probes * 2, failed, Layers.complete(layers),
        base ++ Seq("host" -> host.detail, "spans" -> tr.spans.length, "failures" -> ctx.failures.toSeq))
    }
  }

  /** Writes the expected results of every registered query: two check
    * passes; a query whose digest differs between them is checked by row
    * count only.
    */
  private def record(ctx: Ctx, dir: String): Result = {
    val spark = ctx.base.newSession()
    Tables.register(spark, dir)
    Graft.install(spark)
    PipelineQueries.warmup(spark, dir)
    SparkEntry.warmupSources(spark, dir)
    Tables.bucketed(spark, dir)
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    def once(): Map[String, Option[(Long, String)]] = all.map { case (q, fn) =>
      val rows = Timing.timed(ctx, q)(fn(spark, dir).collect())._1
      clearCaches(spark)
      q -> rows.map(rs => (rs.length.toLong, digest(rs)))
    }.toMap
    val (a, b) = (once(), once())
    val lines = all.map(_._1).map { q =>
      (a(q), b(q)) match {
        case (Some((n1, h1)), Some((n2, h2))) if n1 == n2 =>
          s"$q\t$n1\t$h1\t${if (h1 == h2) "exact" else "rows"}"
        case _ => s"# $q\tunstable or failing"
      }
    }
    val out = new File(ctx.opts.expected)
    java.nio.file.Files.writeString(out.toPath,
      s"# query\trows\tdigest\tmode — pipeline_suite tables: fixture sf$Sf\n" + lines.mkString("", "\n", "\n"))
    val bad = lines.count(_.startsWith("#"))
    Result(all.length, bad, Seq("recorded" -> (all.length.toDouble, "count")),
      Seq("workload" -> name, "expected" -> out.getPath, "failures" -> ctx.failures.toSeq))
  }
}
