package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import graft.axes.{LogT, Regular}
import graft.operators.{FastHist, HistOptions, Histogram}
import graft.stats.HistStats
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload needs from the run: the session, the runner, the seed,
  * the measuring time, where the generated inputs are, the bulk table
  * size, and how long gen.py took to write the inputs. */
final case class Ctx(spark: SparkSession, runner: Runner, seed: Long,
    seconds: Double, trace: Boolean, work: java.nio.file.Path, bulkRows: Long,
    generatedS: Double) {
  val rng = new scala.util.Random(seed)
  def dataDir: String = work.resolve(s"data/seed-$seed").toString
  /** Set-up phases and their seconds, reported in the capture context. */
  val phases = ArrayBuffer.empty[(String, Double)]
  def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases += name -> (System.nanoTime() - t0) / 1e9
  }
}

object Workloads {
  val names = Seq("hist_interactive", "hist_bulk", "pipeline_cold", "mixed_concurrent")

  // ---- request sets ----------------------------------------------------

  private val interactiveNames: Seq[String] =
    (1 to 33).map(i => f"q$i%02d") ++
      Seq("q55", "q56", "q60", "q62", "q67", "q68", "q69", "q70", "q71", "q77", "q78",
        "q79", "q80", "q81", "q59", "q140")
  private val pipelineNames = Seq("q41", "q52", "q104")
  private val execHeavyNames = Seq("q43", "q154", "q230", "q233")

  /** Input table each star-schema query reads (none for the two that only
    * render bin tables); the pipeline queries read documents or embeddings. */
  private def inputTable(name: String): Option[String] = name.takeWhile(_ != '_') match {
    case "q08" | "q24" | "q140" => Some("orders")
    case "q09" => Some("customer")
    case "q10" => Some("part")
    case "q14" | "q18" | "q19" | "q28" | "q55" | "q67" | "q79" => Some("events")
    case "q31" | "q70" => None
    case "q52" => Some("embeddings")
    case "q41" | "q43" | "q104" | "q154" | "q230" | "q233" => Some("documents")
    case _ => Some("lineitem")
  }

  private def entryQueries(ctx: Ctx, prefixes: Seq[String], rows: Map[String, Long]): Seq[Query] = {
    val all = SparkEntry.queries
    prefixes.map { p =>
      val (name, fn) = all.find(_._1.takeWhile(_ != '_') == p).getOrElse(
        throw new IllegalStateException(s"SparkEntry has no query $p"))
      val dir = ctx.dataDir
      Query(name, inputTable(name).map(rows).getOrElse(0L), s => fn(s, dir), verdict)
    }
  }

  /** A contract query answers with boolean verdicts; all must be true. */
  private def verdict(rows: Array[Row]): Option[String] = {
    val falses = rows.flatMap(r => r.schema.fields.indices.collect {
      case i if r.schema(i).dataType == org.apache.spark.sql.types.BooleanType &&
        r.schema(i).name.endsWith("_ok") && !r.getBoolean(i) => r.schema(i).name })
    if (falses.nonEmpty) Some(s"contract verdict false: ${falses.mkString(",")}") else None
  }

  // ---- shared steps ----------------------------------------------------

  /** Row counts of the tables gen.py wrote (its rows.json). */
  private def inputRows(ctx: Ctx): Map[String, Long] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ctx.dataDir, "rows.json")), "UTF-8")
    "\"(\\w+)\": (\\d+)".r.findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  /** Pins the inputs in `session` exactly as graft.Bench does. */
  private def pin(session: SparkSession, ctx: Ctx): Unit =
    SparkEntry.cacheTables(session, ctx.dataDir)

  /** Cached input tables visible to `session`, from the cache manager and
    * the block manager's storage report. */
  def pins(ctx: Ctx, session: SparkSession, label: String): Pins = {
    val storage = session.sparkContext.getRDDStorageInfo.map(i => i.id -> i).toMap
    val cached = Seq("lineitem", "orders", "customer", "part", "events", "documents",
      "embeddings").flatMap { n =>
      val plan = graft.sources.Tables.table(session, ctx.dataDir, n)
      session.sharedState.cacheManager.lookupCachedData(
        plan.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).flatMap { c =>
        val b = c.cachedRepresentation.cacheBuilder
        if (!b.isCachedColumnBuffersLoaded) None
        else storage.get(b.cachedColumnBuffers.id)
      }
    }
    Pins(label, cached.size, cached.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  /** Passes of one closed-loop client: all passes, then the traced and
    * untraced ones, and the window's seconds. */
  private final case class Passes(samples: Seq[Sample], all: Seq[Double],
      traced: Seq[Double], untraced: Seq[Double], windowS: Double)

  /** One closed-loop client: whole passes over `qs`, each in a fresh
    * seeded order, until `seconds` have elapsed. Every pass runs the same
    * requests, so the seed changes only their order and the inputs. In a
    * traced run every second pass is traced, and there are at least two. */
  private def closedLoop(ctx: Ctx, qs: Seq[Query]): Passes = {
    val samples = ArrayBuffer.empty[Sample]
    val traced, untraced = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    while (elapsed < ctx.seconds || (ctx.trace && pass < 2)) {
      pass += 1
      ctx.runner.tracing = ctx.trace && pass % 2 == 0
      val p0 = System.nanoTime()
      ctx.rng.shuffle(qs).foreach(q => samples += ctx.runner.call(ctx.spark, q, 0, "measure"))
      (if (ctx.runner.tracing) traced else untraced) += (System.nanoTime() - p0) / 1e9
    }
    ctx.runner.tracing = false
    Passes(samples.toSeq, (traced ++ untraced).toSeq, traced.toSeq, untraced.toSeq, elapsed)
  }

  /** Concurrent trace slicing: the window is cut into four slices, and
    * tracing is on in the second and fourth, so traced and untraced
    * requests see the same warm state. */
  private def slices(ctx: Ctx): Double => Boolean =
    if (!ctx.trace) _ => false
    else t => (t / (ctx.seconds / 4)).toInt % 2 == 1

  /** Solo latency per query: the median of its calls in `samples`. */
  private def soloOf(samples: Seq[Sample]): Map[String, Double] =
    samples.filter(_.ok).groupBy(_.name).map { case (n, ss) => n -> Stats.median(ss.map(_.total)) }

  /** Single-client workloads: every request already runs solo. */
  private val ownLatency = Map.empty[String, Double]

  /** One untimed pass, for the JIT and lazy set-up to settle. */
  private def warmPass(ctx: Ctx, session: SparkSession, qs: Seq[Query]): Unit =
    ctx.rng.shuffle(qs).foreach(q => ctx.runner.call(session, q, 0, "warmup"))

  private def referencePass(ctx: Ctx, session: SparkSession, qs: Seq[Query]): Double = {
    val t0 = System.nanoTime()
    qs.foreach(q => ctx.runner.call(session, q, 0, "reference", record = true))
    (System.nanoTime() - t0) / 1e9
  }

  // ---- hist_interactive --------------------------------------------------

  def histInteractive(ctx: Ctx): (Double, Measured) = {
    val rows = inputRows(ctx)
    val t0 = System.nanoTime()
    ctx.timed("pin")(pin(ctx.spark, ctx))
    val qs = entryQueries(ctx, interactiveNames, rows)
    // the first pass records the reference digests and is the cold round;
    // the second lets JIT and the quantile-edge memos settle
    val cold = ctx.timed("reference")(referencePass(ctx, ctx.spark, ctx.rng.shuffle(qs)))
    ctx.timed("warmup")(warmPass(ctx, ctx.spark, qs))
    val setup = ctx.generatedS + (System.nanoTime() - t0) / 1e9
    val pins0 = pins(ctx, ctx.spark, "before")
    val g0 = Stats.gcMs()
    val p = closedLoop(ctx, qs)
    (setup, Measured(p.samples, p.windowS, cold, p.all, ownLatency,
      Seq(pins0, pins(ctx, ctx.spark, "after")), rows, p.traced.sum, Stats.gcMs() - g0,
      untracedRounds = p.untraced, tracedRounds = p.traced))
  }

  // ---- hist_bulk ---------------------------------------------------------

  /** Times the bulk table is generated and pinned; set-up counts the
    * median. */
  private val BulkBuilds = 3
  /** Untimed passes after the reference pass: in a fresh JVM the pass
    * wall keeps falling for about two more. */
  private val BulkWarmPasses = 2

  def histBulk(ctx: Ctx): (Double, Measured) = {
    val n = ctx.bulkRows
    val t0 = System.nanoTime()
    // the same plan is cached once, so each build but the last is dropped
    val builds = (1 to BulkBuilds).map { i =>
      val b0 = System.nanoTime()
      val t = ctx.timed("generate") {
        val t = DataGen.bulkTable(ctx.spark, ctx.seed, n, 16)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
        require(t.count() == n)
        t
      }
      if (i < BulkBuilds) t.unpersist(blocking = true)
      (t, (System.nanoTime() - b0) / 1e9)
    }
    val table = builds.last._1
    val buildS = builds.map(_._2)
    // w is a multiple of 2^-10 below 1, so a double sum of up to 2^43
    // rows is exact in any order
    val wTotal = table.agg(sum(col("w"))).head().getDouble(0)
    val xAx = Regular("x", 100, 0.0, 1.0)
    val yAx = Regular("y", 100, -6.0, 6.0)
    val logAx = Regular("x", 100, 1e-3, 1.0, transform = LogT)
    val flow = HistOptions(flow = true)
    def sums(expected: Double, label: String)(rows: Array[Row]): Option[String] = {
      val got = rows.map(r => r.getAs[Double]("cnt")).sum
      if (math.abs(got - expected) <= 1e-6 * math.max(1.0, expected)) None
      else Some(s"$label bin counts sum to $got, expected $expected")
    }
    def medians(rows: Array[Row]): Option[String] =
      if (rows.length != 16) Some(s"median returned ${rows.length} groups, expected 16")
      else rows.map(_.getDouble(1)).find(m => math.abs(m) > 0.2)
        .map(m => s"median $m of a standard normal")
    val qs = Seq(
      Query("fast1d", n, _ => FastHist.histogram1d(table, col("x"), xAx), sums(n.toDouble, "fast1d")),
      Query("fast2d", n, _ => FastHist.histogram2d(table, col("x"), xAx, col("y"), yAx),
        sums(n.toDouble, "fast2d")),
      Query("decl1d", n, _ => Histogram.histogram(table, col("x"), xAx, opts = flow),
        sums(n.toDouble, "decl1d")),
      Query("decl2d", n, _ => Histogram.histogram2d(table, col("x"), xAx, col("y"), yAx,
        opts = flow), sums(n.toDouble, "decl2d")),
      Query("weighted", n, _ => Histogram.histogram(table, col("x"), xAx,
        opts = HistOptions(weight = Some(col("w")), flow = true)), sums(wTotal, "weighted")),
      Query("dims", n, _ => Histogram.histogram(table, col("x"), xAx, dims = Seq("g"),
        opts = flow), sums(n.toDouble, "dims")),
      Query("log", n, _ => Histogram.histogram(table, col("x"), logAx, opts = flow),
        sums(n.toDouble, "log")),
      Query("median", n, _ => HistStats.median(table, col("y"), yAx, Seq("g")), medians))
    val cold = ctx.timed("reference")(referencePass(ctx, ctx.spark, qs))
    (1 to BulkWarmPasses).foreach(_ => ctx.timed("warmup")(warmPass(ctx, ctx.spark, qs)))
    val setup = (System.nanoTime() - t0) / 1e9 - buildS.sum + Stats.median(buildS)
    val g0 = Stats.gcMs()
    val p = closedLoop(ctx, qs)
    val pinned = Pins("bulk", 1, ctx.spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0)
    (setup, Measured(p.samples, p.windowS, cold, p.all, ownLatency, Seq(pinned),
      Map("bulk" -> n), p.traced.sum, Stats.gcMs() - g0,
      untracedRounds = p.untraced, tracedRounds = p.traced,
      rateS = Some(p.all.size * Stats.median(p.all))))
  }

  // ---- pipeline_cold -----------------------------------------------------

  /** A fresh session over the same inputs: its memo keys embed the new
    * session's identity, and RelCache.clear() drops the plan-keyed pins,
    * so every artifact is built again. */
  private def freshSession(ctx: Ctx): SparkSession = {
    val s = ctx.spark.newSession()
    graft.util.RelCache.clear()
    pin(s, ctx)
    s
  }

  /** Warm passes of a round. Every round does the same work, so that the
    * cold and warm shares of the window, and with them throughput_qps, do
    * not depend on how fast the host ran the cold pass. */
  private val WarmPasses = 10
  /** Most timed rounds. Each opens a session, and SparkEntry's 32-entry
    * table LRU starts to evict the pinned inputs at the fifth; together
    * with the throwaway session this stays below it. */
  private val MaxRounds = 3
  /** Untimed warm passes in the throwaway session, for the JIT to settle
    * on the warm path too: in a fresh JVM the warm pass keeps getting
    * faster for about eight passes. */
  private val PipelineWarmPasses = 6

  def pipelineCold(ctx: Ctx): (Double, Measured) = {
    val rows = inputRows(ctx)
    val t0 = System.nanoTime()
    val qs = entryQueries(ctx, pipelineNames, rows)
    // a throwaway cold round warms the JIT, so that "cold" below means
    // cold artifacts; it also records the reference digests
    val first = ctx.timed("pin")(freshSession(ctx))
    ctx.timed("reference")(referencePass(ctx, first, qs))
    (1 to PipelineWarmPasses).foreach(_ => ctx.timed("warmup")(warmPass(ctx, first, qs)))
    val setup = ctx.generatedS + (System.nanoTime() - t0) / 1e9
    val samples = ArrayBuffer.empty[Sample]
    val cold, warm = ArrayBuffer.empty[Double]
    val pinLog = ArrayBuffer.empty[Pins]
    val (tracedR, untracedR) = (ArrayBuffer.empty[Double], ArrayBuffer.empty[Double])
    var tracedS = 0.0
    val g0 = Stats.gcMs()
    val w0 = System.nanoTime()
    // the pin checks are the benchmark's own work and do not count
    var checkNs = 0L
    def checkPins(s: SparkSession, label: String): Unit = {
      val t = System.nanoTime()
      pinLog += pins(ctx, s, label)
      checkNs += System.nanoTime() - t
    }
    def elapsed = (System.nanoTime() - w0 - checkNs) / 1e9
    var round = 0
    var lastRoundS = 0.0
    // whole rounds while at least half of one fits in the time left, so
    // that the window ends as close to the measuring time as whole rounds
    // allow; a traced run needs a traced and an untraced one
    while (round < MaxRounds &&
        (elapsed + lastRoundS / 2 < ctx.seconds || (ctx.trace && round < 2))) {
      round += 1
      // rounds alternate traced / untraced in a traced run
      ctx.runner.tracing = ctx.trace && round % 2 == 1
      val r0 = System.nanoTime()
      val s = freshSession(ctx)
      val pinS = (System.nanoTime() - r0) / 1e9
      checkPins(s, s"round $round before")
      val c0 = System.nanoTime()
      // the cold pass keeps the listed order: q41 and q104 share one
      // artifact, which the first of them builds, so a shuffled order
      // would move build time between them from seed to seed
      qs.foreach(q => samples += ctx.runner.call(s, q, 0, "cold"))
      val c1 = System.nanoTime()
      cold += (c1 - c0) / 1e9
      (1 to WarmPasses).foreach { _ =>
        val w = System.nanoTime()
        ctx.rng.shuffle(qs).foreach(q => samples += ctx.runner.call(s, q, 0, "warm"))
        warm += (System.nanoTime() - w) / 1e9
      }
      val roundS = pinS + (System.nanoTime() - c0) / 1e9
      checkPins(s, s"round $round after")
      lastRoundS = roundS
      if (ctx.runner.tracing) { tracedS += roundS; tracedR += roundS } else untracedR += roundS
    }
    ctx.runner.tracing = false
    val window = elapsed
    (setup, Measured(samples.toSeq, window, Stats.median(cold.toSeq), warm.toSeq,
      ownLatency, pinLog.toSeq, rows, tracedS, Stats.gcMs() - g0,
      Set("warm"), untracedR.toSeq, tracedR.toSeq))
  }

  // ---- mixed_concurrent --------------------------------------------------

  val clients: Int = Runtime.getRuntime.availableProcessors()

  /** `clients` closed-loop clients drawing from one seeded request
    * sequence until `seconds` have elapsed; returns samples and the wall
    * until the last request finished. */
  private def concurrent(ctx: Ctx, seq: IndexedSeq[Query], seconds: Double, phase: String,
      traceSlice: Double => Boolean, untilExhausted: Boolean): (Seq[Sample], Double) = {
    val next = new AtomicInteger()
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val threads = (0 until clients).map { c =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while ((if (untilExhausted) i < seq.size else elapsed < seconds)) {
          ctx.runner.tracing = traceSlice(elapsed)
          out.add(ctx.runner.call(ctx.spark, seq(i % seq.size), c, phase))
          i = next.getAndIncrement()
        }
      }, s"perfbench-client-$c")
      th.start()
      th
    }
    threads.foreach(_.join())
    ctx.runner.tracing = false
    import scala.jdk.CollectionConverters._
    (out.asScala.toSeq, elapsed)
  }

  def mixedConcurrent(ctx: Ctx): (Double, Measured) = {
    val rows = inputRows(ctx)
    val t0 = System.nanoTime()
    ctx.timed("pin")(pin(ctx.spark, ctx))
    val mix = entryQueries(ctx, interactiveNames ++ pipelineNames ++ execHeavyNames, rows)
    // builds every artifact
    ctx.timed("reference")(referencePass(ctx, ctx.spark, mix))
    // solo latencies of the warm queries: the base of concurrency_efficiency
    val solo = ctx.timed("solo")(soloOf(mix.map(q => ctx.runner.call(ctx.spark, q, 0, "solo"))))
    // concurrent warm-up passes until the pass wall stops drifting (<5 %)
    val walls = ArrayBuffer.empty[Double]
    while (walls.size < 2 || (walls.size < 5 &&
        math.abs(walls.last - walls(walls.size - 2)) > 0.05 * walls(walls.size - 2))) {
      walls += ctx.timed("warmup")(concurrent(ctx, ctx.rng.shuffle(mix).toIndexedSeq, 0,
        "warmup", _ => false, untilExhausted = true)._2)
    }
    val setup = ctx.generatedS + (System.nanoTime() - t0) / 1e9
    val pins0 = pins(ctx, ctx.spark, "before")
    val seq = (0 until 50).flatMap(_ => ctx.rng.shuffle(mix)).toIndexedSeq
    val g0 = Stats.gcMs()
    val (samples, window) = concurrent(ctx, seq, ctx.seconds, "measure", slices(ctx),
      untilExhausted = false)
    val okCount = samples.count(_.ok)
    val warmRound = if (okCount == 0) window else window * mix.size / okCount
    (setup, Measured(samples, window, walls.head, Seq(warmRound), solo,
      Seq(pins0, pins(ctx, ctx.spark, "after")), rows, if (ctx.trace) window / 2 else 0.0,
      Stats.gcMs() - g0))
  }
}
