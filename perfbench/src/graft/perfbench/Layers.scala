package graft.perfbench

/** Per-layer metrics of a traced run, named by graft module. Request
  * means are over the traced requests of the measured window; a metric
  * whose layer the workload never reaches reads 0. */
object Layers {
  private val MB = 1048576.0
  val bulkShapes = Seq("fast1d" -> "operators.fast1d_mrows_s",
    "decl1d" -> "operators.decl1d_mrows_s", "fast2d" -> "operators.fast2d_mrows_s",
    "decl2d" -> "operators.decl2d_mrows_s", "weighted" -> "operators.weighted_mrows_s",
    "dims" -> "operators.dims_mrows_s", "log" -> "axes.log_mrows_s",
    "median" -> "stats.median_mrows_s")
  val pipelineQueries = Seq("q41", "q52", "q104")

  def metrics(m: Measured, listener: LayerListener, buildLog: BuildLog,
      cores: Int): Seq[(String, Double, String)] = {
    val traced = m.samples.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val counts = traced.flatMap(s => listener.countsOf(s.req))
    def perReq(f: ExecCounts => Double): Double = counts.map(f).sum / n
    def mean(f: Sample => Double): Double = traced.map(f).sum / n

    // builds that finished inside a traced request, on that request's thread
    val builds = buildLog.snapshot().filter(b => traced.exists(s =>
      s.thread == b.thread && b.endNs >= s.startNs &&
        b.endNs <= s.startNs + (s.total * 1e9).toLong + 1000000L))
    def kind(k: String) = builds.filter(_.kind == k)

    def fnOf(q: String, phase: String) = {
      val xs = traced.filter(s => s.phase == phase && s.name.takeWhile(_ != '_') == q)
      if (xs.isEmpty) 0.0 else xs.map(_.plan).sum / xs.size
    }
    // plan seconds of one pass over the pipeline queries
    def fnSum(phase: String) = pipelineQueries.map(fnOf(_, phase)).sum
    // traced vs untraced passes over the same requests; the concurrent
    // workload compares request medians of its traced and untraced slices
    val untraced = m.samples.filter(s => !s.traced && s.ok).map(_.total)
    val tracedOk = traced.filter(_.ok).map(_.total)
    val overhead =
      if (m.tracedRounds.nonEmpty && m.untracedRounds.nonEmpty)
        (Stats.median(m.tracedRounds) / Stats.median(m.untracedRounds) - 1) * 100
      else if (untraced.nonEmpty && tracedOk.nonEmpty)
        (Stats.median(tracedOk) / Stats.median(untraced) - 1) * 100
      else 0.0
    val pinsMin = if (m.pins.isEmpty) Pins("none", 0, 0) else m.pins.minBy(_.tables)

    Seq(
      ("plan.fn_s", mean(_.plan), "s"),
      ("catalyst.s", mean(_.catalyst), "s"),
      ("exec.s", mean(_.exec), "s"),
      ("exec.jobs", perReq(_.jobs), "count"),
      ("exec.stages", perReq(_.stages), "count"),
      ("exec.tasks", perReq(_.tasks), "count"),
      ("exec.sched_wait_s", perReq(_.schedWaitMs / 1e3), "s"),
      ("exec.task_cpu_s", perReq(_.taskCpuNs / 1e9), "s"),
      ("exec.task_gc_s", perReq(_.taskGcMs / 1e3), "s"),
      ("exec.spill_mb", perReq(_.spillBytes / MB), "MB"),
      ("exec.shuffle_read_mb", perReq(_.shuffleReadBytes / MB), "MB"),
      ("exec.shuffle_write_mb", perReq(_.shuffleWriteBytes / MB), "MB"),
      ("exec.busy_ratio", if (m.tracedWindowS <= 0) 0.0
        else counts.map(_.taskRunMs / 1e3).sum / (m.tracedWindowS * cores), "ratio")) ++
    bulkShapes.map { case (shape, metric) =>
      val xs = traced.filter(s => s.ok && s.name == shape)
      val secs = xs.map(_.total).sum
      (metric, if (secs <= 0) 0.0 else xs.map(_.rows).sum / secs / 1e6, "Mrows/s")
    } ++ Seq(
      ("artifacts.builds", builds.size.toDouble, "count"),
      ("artifacts.build_s", builds.map(_.seconds).sum, "s"),
      ("artifacts.memo_builds", kind("memo").size.toDouble, "count"),
      ("artifacts.memo_build_s", kind("memo").map(_.seconds).sum, "s"),
      ("artifacts.persist_builds", kind("persist").size.toDouble, "count"),
      ("artifacts.persist_build_s", kind("persist").map(_.seconds).sum, "s"),
      ("artifacts.singleflight_builds", kind("singleflight").size.toDouble, "count"),
      ("artifacts.singleflight_build_s", kind("singleflight").map(_.seconds).sum, "s"),
      ("plan.cold_fn_s", fnSum("cold"), "s"),
      ("plan.warm_fn_s", fnSum("warm"), "s")) ++
    pipelineQueries.flatMap(q => Seq(
      (s"plan.${q}_cold_s", fnOf(q, "cold"), "s"),
      (s"plan.${q}_warm_s", fnOf(q, "warm"), "s"))) ++ Seq(
      ("sources.pinned_tables", pinsMin.tables.toDouble, "count"),
      ("sources.pinned_mb", pinsMin.mb, "MB"),
      ("jvm.gc_ms", m.gcMs.toDouble, "ms"),
      ("jvm.heap_max_mb", Runtime.getRuntime.maxMemory / MB, "MB"),
      ("trace.overhead_pct", overhead, "%"),
      ("check.error_rate", m.samples.count(!_.ok).toDouble / math.max(1, m.samples.size),
        "ratio"))
  }
}
