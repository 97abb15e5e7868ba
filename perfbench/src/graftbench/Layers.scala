package graftbench

/** Per-layer metrics of a traced phase, derived from the harness's spans
  * and Spark's listener events. Every traced run reports every name in
  * [[Layers.all]]; a layer a workload never enters reads 0.
  *
  * Times that come from Spark events carry millisecond resolution, so they
  * are reported as means over many operations; span times carry
  * nanoseconds and are reported as medians.
  */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "prepared.bind_ms" -> "ms", "prepared.rebind_ms" -> "ms", "prepared.prepare_ms" -> "ms",
    "prepared.prepare_jobs" -> "count", "prepared.amortization_x" -> "x",
    "internals.instantiate_ms" -> "ms", "internals.collect_ms" -> "ms",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count", "spark.dispatch_ms" -> "ms",
    "spark.task_run_ms" -> "ms", "spark.sched_delay_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes",
    "catalyst.parse_ms" -> "ms", "catalyst.analyze_ms" -> "ms", "catalyst.optimize_ms" -> "ms",
    "catalyst.plan_ms" -> "ms",
    "sources.rows_read_per_row_out" -> "ratio", "sources.bytes_read" -> "bytes",
    "pipeline.build_ms" -> "ms", "pipeline.exec_ms" -> "ms", "pipeline.driver_ms" -> "ms",
    "pipeline.cpu_busy_frac" -> "frac",
    "pipeline.family.q_text_s" -> "s", "pipeline.family.q_dedup_s" -> "s",
    "pipeline.family.q_join_s" -> "s", "pipeline.family.q_ann_s" -> "s",
    "pipeline.family.q_prep_s" -> "s", "pipeline.family.q_crawl_s" -> "s",
    "pipeline.family.q_sink_s" -> "s", "pipeline.family.rest_s" -> "s",
    "setup.session_s" -> "s", "setup.tables_s" -> "s", "setup.warmup_s" -> "s",
    "host.steal_ms" -> "ms", "host.canary_us" -> "us", "host.iowait_ms" -> "ms",
    "trace.overhead_ms" -> "ms")

  /** Orders `values` as [[all]], filling layers the workload never entered
    * with 0.
    */
  def complete(values: Map[String, Double]): Seq[(String, (Double, String))] = {
    val unknown = values.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    all.map { case (k, u) => k -> (values.getOrElse(k, 0.0), u) }
  }

  /** Generic layers over the operations whose root span is `mainRoot`;
    * Catalyst phases over the roots named `planRoot`.
    */
  def derive(ctx: Ctx, tr: Tracer, mainRoot: String, planRoot: String): Map[String, Double] = {
    val ev = ctx.events
    val roots = tr.roots(mainRoot)
    val jobsByOp = ev.jobs.groupBy(_.op)
    val jobOfStage = ev.jobs.flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap
    val tasksByJob = ev.tasks.groupBy(t => jobOfStage.getOrElse(t.stageId, -1))
    def jobs(op: Long) = jobsByOp.getOrElse(op, Nil).toSeq
    def tasks(op: Long) = jobs(op).flatMap(j => tasksByJob.getOrElse(j.jobId, Nil))
    val mainJobs = roots.flatMap(r => jobs(r.op))
    val mainTasks = roots.flatMap(r => tasks(r.op))
    val mainStages = mainJobs.flatMap(_.stageIds).toSet
    def perOp(f: Span => Double) = Stats.mean(roots.map(f))

    // wall time of an op not covered by any of its jobs
    def driverMs(r: Span): Double = {
      val (lo, hi) = (Clock.epochMs(r.startNs), Clock.epochMs(r.endNs))
      val iv = jobs(r.op).filter(_.endMs >= 0).map(j => (math.max(lo, j.startMs.toDouble), math.min(hi, j.endMs.toDouble)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var end = lo
      iv.foreach { case (a, b) =>
        val s = math.max(a, end)
        if (b > s) { covered += b - s; end = b }
      }
      r.ms - covered
    }
    val dispatch = mainJobs.flatMap { j =>
      val ts = tasksByJob.getOrElse(j.jobId, Nil)
      if (ts.isEmpty) None else Some((ts.map(_.launchMs).min - j.startMs).toDouble)
    }
    val collects = roots.flatMap(r => tr.children(r, "collect").map(c => r -> c))
    val instantiate = collects.flatMap { case (r, c) =>
      val js = jobs(r.op)
      if (js.isEmpty) None else Some(js.map(_.startMs).min - Clock.epochMs(c.startNs))
    }
    val fetch = collects.flatMap { case (r, c) =>
      val js = jobs(r.op).filter(_.endMs >= 0)
      if (js.isEmpty) None else Some(Clock.epochMs(c.endNs) - js.map(_.endMs).max)
    }
    def childMedian(name: String, of: Seq[Span] = roots) = {
      val xs = of.flatMap(r => tr.children(r, name)).map(_.ms)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }

    // Catalyst phases of the SQL executions that ran inside each plan root
    val planRoots = tr.roots(planRoot)
    def phase(name: String): Double = Stats.mean(planRoots.flatMap { r =>
      val (lo, hi) = (Clock.epochMs(r.startNs) - 1, Clock.epochMs(r.endNs) + 1)
      val ps = ev.plans.filter(p => p.startMs >= lo && p.startMs <= hi)
      if (ps.isEmpty) None else Some(ps.map(_.durationsMs.getOrElse(name, 0.0)).sum)
    })

    val prepares = tr.roots("prepare")
    val splits = tr.roots("bind_split")
    val rowsOut = roots.map(r => tr.rowsOut.getOrElse(r.op, 0L)).sum
    val wall = roots.map(_.ms).sum
    Map(
      "prepared.bind_ms" -> childMedian("bind", splits),
      "prepared.rebind_ms" -> childMedian("rebind", splits),
      "prepared.prepare_ms" -> (if (prepares.isEmpty) 0.0 else Stats.median(prepares.map(_.ms))),
      "prepared.prepare_jobs" -> prepares.map(p => jobs(p.op).size).sum.toDouble,
      "internals.instantiate_ms" -> Stats.mean(instantiate),
      "internals.collect_ms" -> Stats.mean(fetch),
      "spark.jobs_per_op" -> (if (roots.isEmpty) 0.0 else Stats.median(roots.map(r => jobs(r.op).size.toDouble))),
      "spark.tasks_per_op" -> (if (roots.isEmpty) 0.0 else Stats.median(roots.map(r => tasks(r.op).size.toDouble))),
      "spark.dispatch_ms" -> Stats.mean(dispatch),
      "spark.task_run_ms" -> perOp(r => tasks(r.op).map(_.runMs).sum.toDouble),
      "spark.sched_delay_ms" -> perOp(r => tasks(r.op).map(_.delayMs).sum.toDouble),
      "spark.gc_ms" -> perOp(r => tasks(r.op).map(_.gcMs).sum.toDouble),
      "spark.jobs" -> mainJobs.size.toDouble,
      "spark.stages" -> ev.stages.count(mainStages.contains).toDouble,
      "spark.tasks" -> mainTasks.size.toDouble,
      "spark.shuffle_write_bytes" -> mainTasks.map(_.shuffleWriteBytes).sum.toDouble,
      "catalyst.parse_ms" -> phase("parsing"),
      "catalyst.analyze_ms" -> phase("analysis"),
      "catalyst.optimize_ms" -> phase("optimization"),
      "catalyst.plan_ms" -> phase("planning"),
      "sources.rows_read_per_row_out" -> mainTasks.map(_.recordsRead).sum.toDouble / math.max(1L, rowsOut),
      "sources.bytes_read" -> perOp(r => tasks(r.op).map(_.bytesRead).sum.toDouble),
      "pipeline.build_ms" -> childMedian("build"),
      "pipeline.exec_ms" -> childMedian("exec"),
      "pipeline.driver_ms" -> perOp(driverMs),
      "pipeline.cpu_busy_frac" -> (if (wall <= 0) 0.0 else mainTasks.map(_.runMs).sum / (wall * ctx.cores)))
  }
}
