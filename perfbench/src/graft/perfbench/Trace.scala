package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed span: `parent` links a child (plan, catalyst, exec, a Spark
  * job or stage, an artifact build) to its request span. */
final case class Span(req: Long, name: String, startNs: Long, endNs: Long,
    parent: String)

/** Per-request counters the listener fills from job, stage and task events. */
final class ExecCounts {
  var jobs, stages, tasks = 0
  var schedWaitMs, taskRunMs, taskGcMs = 0L
  var taskCpuNs, spillBytes, shuffleReadBytes, shuffleWriteBytes = 0L
}

/** SparkListener tying Spark jobs to benchmark requests through the
  * `perfbench.req` local property. Only requests registered with
  * [[track]] are recorded, so requests started while tracing is paused
  * cost one map lookup per event. Events arrive on Spark's listener bus
  * after the action returns; [[Bus.drain]] waits for them. */
final class LayerListener extends SparkListener {
  val Property = "perfbench.req"
  private val counts = new ConcurrentHashMap[Long, ExecCounts]()
  private final class Job(val req: Long, val submitMs: Long) { var firstTaskMs = Long.MaxValue }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageStart = new ConcurrentHashMap[Int, Long]()
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def track(req: Long): Unit = counts.put(req, new ExecCounts)
  def countsOf(req: Long): Option[ExecCounts] = Option(counts.get(req))

  private def reqOf(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(x => Option(x.getProperty(Property))).map(_.toLong)

  // listener-bus time is wall-clock ms; spans are converted once here
  private def ns(ms: Long): Long = Clock.fromWallMs(ms)

  override def onJobStart(e: SparkListenerJobStart): Unit = reqOf(e.properties).foreach { r =>
    if (counts.containsKey(r)) {
      jobs.put(e.jobId, new Job(r, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      counts.get(r).synchronized(counts.get(r).jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.remove(e.jobId)).foreach { j =>
      spans.add(Span(j.req, s"job ${e.jobId}", ns(j.submitMs), ns(e.time), "exec"))
      if (j.firstTaskMs != Long.MaxValue) {
        val c = counts.get(j.req)
        c.synchronized(c.schedWaitMs += j.firstTaskMs - j.submitMs)
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
      stageStart.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      Option(jobs.get(j)).foreach { job =>
        val c = counts.get(job.req)
        c.synchronized(c.stages += 1)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    for (j <- Option(stageJob.remove(id)); job <- Option(jobs.get(j));
         t0 <- Option(stageStart.remove(id)))
      spans.add(Span(job.req, s"stage $id", ns(t0),
        ns(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())), s"job $j"))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    for (j <- Option(stageJob.get(e.stageId)); job <- Option(jobs.get(j)))
      job.synchronized(job.firstTaskMs = math.min(job.firstTaskMs, e.taskInfo.launchTime))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- Option(stageJob.get(e.stageId)); job <- Option(jobs.get(j))) {
      val c = counts.get(job.req)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.taskGcMs += m.jvmGCTime
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
}

object Bus {
  private val drainSeq = new AtomicInteger()

  /** Blocks until every event posted before this call has been handled:
    * runs a one-task job and waits for its end event, which the shared
    * listener queue delivers after all earlier ones. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    val latch = new java.util.concurrent.CountDownLatch(1)
    val jobGroup = s"perfbench-drain-${drainSeq.incrementAndGet()}"
    sc.setJobGroup(jobGroup, "drain")
    val listener = new SparkListener {
      @volatile private var jobId = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == jobGroup))
          jobId = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == jobId) latch.countDown()
    }
    sc.addSparkListener(listener)
    try {
      spark.range(1).count()
      latch.await(30, java.util.concurrent.TimeUnit.SECONDS)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

/** Converts between System.nanoTime and wall-clock ms (Spark's event time). */
object Clock {
  private val wallMs0 = System.currentTimeMillis()
  /** The origin of span start times. */
  val ns0: Long = System.nanoTime()
  def fromWallMs(ms: Long): Long = ns0 + (ms - wallMs0) * 1000000L
}

/** An artifact build read from RelCache / SingleFlight's WARN lines. */
final case class Build(kind: String, tag: String, seconds: Double, thread: String,
    endNs: Long)

/** Log4j appender that turns the `memo build`, `persist build` and
  * `single-flight build` lines into [[Build]] records. */
final class BuildLog extends org.apache.logging.log4j.core.appender.AbstractAppender(
    "perfbench-builds", null, null, true,
    org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  val builds = new java.util.concurrent.ConcurrentLinkedQueue[Build]()
  // keys can render plans over several lines, hence (?s)
  private val Memo = """(?s)memo build: (\S+) \(key#\w+\) took ([0-9.]+) s""".r
  private val Persist = """(?s)persist build \(key#\w+\) took ([0-9.]+) s""".r
  private val Single = """(?s)single-flight build: key=\(?([^,\s)]+).* took ([0-9.]+) s""".r

  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
    val msg = e.getMessage.getFormattedMessage
    val th = e.getThreadName
    val now = System.nanoTime()
    msg match {
      case Memo(tag, s) => builds.add(Build("memo", tag, s.toDouble, th, now))
      case Persist(s) => builds.add(Build("persist", "persist", s.toDouble, th, now))
      case Single(tag, s) => builds.add(Build("singleflight", tag, s.toDouble, th, now))
      case _ => ()
    }
  }

  def attach(): Unit = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    start()
    val cfg = ctx.getConfiguration
    cfg.addAppender(this)
    Seq("graft.util.RelCache", "graft.util.SingleFlight").foreach { name =>
      val lc = new org.apache.logging.log4j.core.config.LoggerConfig(
        name, org.apache.logging.log4j.Level.WARN, true)
      lc.addAppender(this, org.apache.logging.log4j.Level.WARN, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
  }

  def snapshot(): Seq[Build] = builds.asScala.toSeq
}

object SpanWriter {
  def write(path: java.nio.file.Path, spans: Iterable[Span]): Unit = {
    val sb = new StringBuilder
    spans.toSeq.sortBy(s => (s.req, s.startNs)).foreach { s =>
      sb ++= "{\"req\":" ++= s.req.toString ++= ",\"name\":\"" ++= s.name ++=
        "\",\"parent\":\"" ++= s.parent ++= "\",\"start_s\":" ++=
        f"${(s.startNs - Clock.ns0) / 1e9}%.6f" ++= ",\"dur_s\":" ++=
        f"${(s.endNs - s.startNs) / 1e9}%.6f" ++= "}\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
