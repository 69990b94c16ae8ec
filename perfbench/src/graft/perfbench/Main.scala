package graft.perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point (started by perfbench/run.py).
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --generated-s <s> [--tiny] [--corrupt <query>]
  *
  * Prints `PERFBENCH_CONTEXT <json>`, one `PERFBENCH_DETAIL <json>` line
  * and, last, `PERFBENCH_RESULT <json>` with the end-to-end metrics
  * (`--trace 0`) or the per-layer metrics (`--trace 1`). The star-schema
  * inputs are already in `<work>/data/seed-<n>`; `--generated-s` is the
  * time gen.py took to write them. `--tiny` and `--corrupt` exist for the
  * smoke test only.
  */
object Main {
  private val startNs = System.nanoTime()
  /** hist_bulk table size. */
  val BulkRows = 4000000L

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }
      .toMap
    val workload = opts.getOrElse("--workload", sys.error("--workload required"))
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val trace = opts("--trace") == "1"
    val work = java.nio.file.Paths.get(opts("--work")).toAbsolutePath
    val bulkRows = if (args.contains("--tiny")) 200000L else BulkRows
    val corrupt = opts.get("--corrupt").toSet

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, work)
    val listener = if (trace) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val builds = if (trace) Some(new BuildLog) else None
    builds.foreach(_.attach())
    val runner = new Runner(listener, corrupt)
    val ctx = Ctx(spark, runner, seed, seconds, trace, work, bulkRows,
      opts.getOrElse("--generated-s", "0").toDouble)
    val contextS = (System.nanoTime() - startNs) / 1e9
    val gc0 = gcTotals()
    val (setupRest, m) = workload match {
      case "hist_interactive" => Workloads.histInteractive(ctx)
      case "hist_bulk" => Workloads.histBulk(ctx)
      case "pipeline_cold" => Workloads.pipelineCold(ctx)
      case "mixed_concurrent" => Workloads.mixedConcurrent(ctx)
    }
    Bus.drain(spark)
    val gc1 = gcTotals()
    val setupS = contextS + setupRest
    val heapUsed = retainedHeapMb()
    val storageMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

    val measured = m.samples
    val failed = measured.count(!_.ok)
    // a failed request keeps its measured time; failures show in `failed`
    val lat = measured.filter(s => m.latencyPhases(s.phase)).map(_.total)
    val (tailPct, tailS) = Stats.tail(lat)
    val okS = measured.filter(_.ok)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("latency_p50_s", Stats.median(lat), "s"),
      ("latency_tail_s", tailS, "s"),
      ("throughput_qps", okS.size / m.rateWindowS, "1/s"),
      ("throughput_mrows_s", okS.map(_.rows).sum / m.rateWindowS / 1e6, "Mrows/s"),
      ("cold_round_s", m.coldRoundS, "s"),
      ("warm_round_s", Stats.median(m.warmRounds), "s"),
      ("concurrency_efficiency", okS.map(s => m.solo.getOrElse(s.name, s.total)).sum / m.windowS,
        "ratio"),
      ("retained_heap_mb", heapUsed, "MB"),
      ("pinned_storage_mb", storageMb, "MB"))
    val layers =
      if (trace) Layers.metrics(m, listener.get, builds.get, cores) else Nil

    println("PERFBENCH_CONTEXT " + Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cpus" -> cores, "master" -> s"local[$cores]",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "driver_gc_ms" -> (gc1._1 - gc0._1), "driver_gc_count" -> (gc1._2 - gc0._2),
      "spark_version" -> spark.version, "jvm_version" -> System.getProperty("java.vm.version"),
      "jvm_name" -> System.getProperty("java.vm.name"),
      "add_opens" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(_.startsWith("--add-opens")).size,
      "input_rows" -> Json.obj(m.rowCounts.toSeq.sortBy(_._1): _*),
      "context_start_s" -> contextS,
      "setup_phases" -> ctx.phases.toSeq.map { case (n, t) => Json.obj(n -> t) },
      "latency_samples" -> lat.size, "tail_percentile" -> tailPct,
      "tail_samples_beyond" -> math.floor(lat.size * (1 - tailPct / 100)).toLong))
    println("PERFBENCH_DETAIL " + Json.obj(
      "per_query_median_s" -> Json.obj(okS.groupBy(s => s"${s.phase}:${s.name}").toSeq
        .sortBy(_._1).map { case (k, ss) => k -> Stats.median(ss.map(_.total)) }: _*),
      "errors" -> Json.obj(measured.filter(!_.ok).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (k, ss) => k -> ss.head.error.get }: _*),
      "warm_rounds_s" -> m.warmRounds,
      "pins" -> m.pins.map(p => Json.obj("at" -> p.label, "tables" -> p.tables, "mb" -> p.mb))))
    if (trace) {
      val spans = runner.spans.asScala ++ listener.get.spans.asScala ++
        builds.get.snapshot().map(b => Span(-1, s"${b.kind} build ${b.tag}",
          b.endNs - (b.seconds * 1e9).toLong, b.endNs, b.thread))
      SpanWriter.write(work.resolve(s"traces/$workload-seed$seed.jsonl"), spans)
    }
    // a traced run also reports the end-to-end figures; run.py keeps the
    // ones BENCHMARK.json lists for the mode
    val metrics = if (trace) layers ++ e2e else e2e
    println("PERFBENCH_RESULT " + Json.obj(
      "correct" -> (failed == 0), "attempted" -> measured.size, "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*)))
    spark.stop()
  }

  private def session(cores: Int, work: java.nio.file.Path): SparkSession = {
    // graft.Bench's session settings; only the scratch locations differ,
    // so that the benchmark writes nothing outside its work directory
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.autoBroadcastJoinThreshold", "134217728")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  /** Heap in use after full collections; the listener bus is drained
    * first, so queued events do not count. Spark's ContextCleaner drops
    * broadcast and shuffle blocks only after a collection has freed their
    * handles, so collections repeat until the reading holds still. */
  private def retainedHeapMb(): Double = {
    def used() = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (prev, cur, n) = (Double.MaxValue, used(), 1)
    while (n < 10 && math.abs(prev - cur) > 1.0) {
      prev = cur
      cur = used()
      n += 1
    }
    cur
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  final case class Raw(text: String) {
    override def toString: String = text
  }
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def value(v: Any): String = v match {
    case r: Raw => r.text
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
