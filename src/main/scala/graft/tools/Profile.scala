package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.util.RelCache
import org.apache.spark.SparkEnv
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.BlockId

/** Layered profile of SparkEntry queries (dev tool):
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<sfDir> graft.tools.Profile [query...]
  * }}}
  *
  * pins the sf directory's tables once (`SparkEntry.cacheTables`), then
  * runs each named query — every query when none is named — twice:
  * `cold` after `RelCache.clear()` (every artifact store empty, input
  * pins kept) and `warm` right after. Each run prints one JSON line split
  * into perfbench's layers: `plan.fn_s` (the query function, including
  * the eager driver jobs memoization removes), `catalyst.s`
  * (`executedPlan`) and `exec.s` (`count()`, Bench's timed action), with
  * the jobs each layer started. The `exec.*` counters and the five
  * longest stages cover every job of the run; `storage.rdd_mb` and
  * `storage.broadcast_mb` are what the driver's block manager holds in
  * RDD and broadcast blocks once it ends. The first line holds the
  * capture's context. A failing query gets an `error` field and the
  * sweep goes on. */
object Profile {
  /** One completed stage of a run. */
  final case class Stage(id: Int, s: Double, tasks: Int, name: String) {
    private[Profile] def obj = Obj("id" -> id, "s" -> s, "tasks" -> tasks, "name" -> name)
  }

  /** One run of one query; walls in seconds. */
  final case class Run(query: String, run: String, rows: Long,
      fnS: Double, fnJobs: Int, catalystS: Double, catalystJobs: Int,
      execS: Double, execJobs: Int, stages: Int, tasks: Int,
      shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double,
      gcMs: Long, rddMb: Double, broadcastMb: Double, topStages: Seq[Stage],
      error: Option[String]) {
    def fields: Seq[(String, Any)] = Seq(
      "query" -> query, "run" -> run, "rows" -> rows,
      "plan.fn_s" -> fnS, "plan.fn_jobs" -> fnJobs,
      "catalyst.s" -> catalystS, "catalyst.jobs" -> catalystJobs,
      "exec.s" -> execS, "exec.jobs" -> execJobs,
      "exec.stages" -> stages, "exec.tasks" -> tasks,
      "exec.shuffle_read_mb" -> shuffleReadMb,
      "exec.shuffle_write_mb" -> shuffleWriteMb, "exec.spill_mb" -> spillMb,
      "jvm.gc_ms" -> gcMs, "storage.rdd_mb" -> rddMb,
      "storage.broadcast_mb" -> broadcastMb, "exec.top_stages" -> topStages.map(_.obj)) ++
      error.map("error" -> _)
    def json: String = Profile.json(Obj(fields: _*))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env("SPARK_GRAFT_SF_DIR")
    val spark = DevSession()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    println(json(Obj("context" -> Obj("cpus" -> DevSession.cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "sf_dir" -> sfDir, "spark_version" -> spark.version))))
    val t0 = System.nanoTime()
    SparkEntry.cacheTables(spark, sfDir)
    names.foreach(n => query(spark, sfDir, n).foreach(r => println(r.json)))
    System.err.println(f"[profile] ${names.size} queries, ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }

  /** The cold and the warm run of `name` on `spark`. */
  def query(spark: SparkSession, sfDir: String, name: String): Seq[Run] = {
    RelCache.clear()
    Seq("cold", "warm").map(measure(spark, sfDir, name, _))
  }

  // local property tagging every job with the layer that started it
  private val Layer = "graft.profile.layer"
  private val Drain = "drain"

  private def measure(spark: SparkSession, sfDir: String, name: String,
      run: String): Run = {
    val sc = spark.sparkContext
    val l = new Listener
    sc.addSparkListener(l)
    val walls = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def layer[T](id: String)(f: => T): T = {
      sc.setLocalProperty(Layer, id)
      val t0 = System.nanoTime()
      try f finally {
        walls(id) = (System.nanoTime() - t0) / 1e9
        sc.setLocalProperty(Layer, null)
      }
    }
    val gc0 = gcMs()
    var rows = 0L
    val error = try {
      val df = layer("fn")(SparkEntry.queries(name)(spark, sfDir))
      layer("catalyst")(df.queryExecution.executedPlan)
      rows = layer("exec")(df.count())
      None
    } catch { case NonFatal(e) => Some(e.toString.take(500)) }
    val gc = gcMs() - gc0
    // the listener bus delivers events in order: once the marker job's end
    // arrives, every event of the run has been counted
    sc.setLocalProperty(Layer, Drain)
    try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(Layer, null)
    try require(l.drained.await(60, TimeUnit.SECONDS), "listener bus did not drain in 60 s")
    finally sc.removeSparkListener(l)
    Run(name, run, rows, walls("fn"), l.jobs("fn"), walls("catalyst"),
      l.jobs("catalyst"), walls("exec"), l.jobs("exec"), l.stages, l.tasks,
      l.readBytes / MB, l.writeBytes / MB, l.spillBytes / MB, gc,
      storedMb(_.isRDD), storedMb(_.isBroadcast), l.done.sortBy(-_.s).take(5).toSeq, error)
  }

  private val MB = 1048576.0

  /** Memory plus disk the driver's block manager holds in the blocks
    * `select` picks: everything still retained after the run. */
  private def storedMb(select: BlockId => Boolean): Double = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds(select).flatMap(bm.getStatus)
      .map(s => s.memSize + s.diskSize).sum / MB
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Counts the jobs, stages and tasks of one run. The listener bus calls
    * it from one thread; [[drained]] publishes the counts to the caller. */
  private final class Listener extends SparkListener {
    val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)
    var stages, tasks = 0
    var readBytes, writeBytes, spillBytes = 0L
    val done = mutable.ArrayBuffer.empty[Stage]
    val drained = new CountDownLatch(1)
    private val tracked = mutable.Set.empty[Int]
    private var drainJob = -1

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Layer))).foreach {
        case Drain => drainJob = e.jobId
        case id => jobs(id) += 1; tracked ++= e.stageIds
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == drainJob) drained.countDown()

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (tracked(e.stageInfo.stageId)) stages += 1

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (tracked(i.stageId)) {
        val ms = (for (b <- i.submissionTime; a <- i.completionTime) yield a - b).getOrElse(0L)
        // AQE names every stage after one call site; the operators say more
        val ops = i.rddInfos.sortBy(-_.id).flatMap(_.scope.map(_.name)).distinct
        done += Stage(i.stageId, ms / 1e3, i.numTasks,
          if (ops.nonEmpty) ops.take(4).mkString(", ") else i.name.takeWhile(_ != '\n'))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (tracked(e.stageId)) {
        tasks += 1
        Option(e.taskMetrics).foreach { m =>
          readBytes += m.shuffleReadMetrics.totalBytesRead
          writeBytes += m.shuffleWriteMetrics.bytesWritten
          spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  private final case class Obj(kv: (String, Any)*)

  private def json(v: Any): String = v match {
    case Obj(kv @ _*) => kv.map { case (k, x) => json(k) + ":" + json(x) }.mkString("{", ",", "}")
    case s: String => s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
    case d: Double => "%.4f".formatLocal(java.util.Locale.ROOT, d)
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case x => x.toString
  }
}
