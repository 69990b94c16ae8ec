package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark request: a call into a graft entry point whose result is
  * collected and checked. `rows` is the number of input-table rows the
  * request reads (its share of `throughput_mrows_s`). `check` adds a
  * workload-specific correctness test on top of the digest comparison. */
final case class Query(name: String, rows: Long, run: SparkSession => DataFrame,
    check: Array[Row] => Option[String] = _ => None)

/** A finished request. Times are seconds; `plan` is the entry-point call,
  * `catalyst` forcing the executed plan, `exec` the collect. */
final case class Sample(name: String, req: Long, client: Int, phase: String,
    startNs: Long, plan: Double, catalyst: Double, exec: Double,
    error: Option[String], traced: Boolean, rows: Long, thread: String) {
  def total: Double = plan + catalyst + exec
  def ok: Boolean = error.isEmpty
}

/** Runs requests, compares their digests with the solo reference run and,
  * while `tracing` is on, records spans and Spark counters. */
final class Runner(listener: Option[LayerListener], corrupt: Set[String]) {
  private val reqSeq = new AtomicLong()
  private val reference = TrieMap.empty[String, Digest]
  @volatile var tracing = false
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  /** Runs `q` on `session`; with `record` the digest becomes the reference
    * every later call of the same query must match. */
  def call(session: SparkSession, q: Query, client: Int, phase: String,
      record: Boolean = false): Sample = {
    val id = reqSeq.incrementAndGet()
    val traced = tracing && listener.isDefined
    if (traced) listener.get.track(id)
    val sc = session.sparkContext
    sc.setLocalProperty("perfbench.req", id.toString)
    // one FAIR pool per query, as graft.Bench does
    sc.setLocalProperty("spark.scheduler.pool", q.name)
    val t0 = System.nanoTime()
    var t1, t2, t3 = t0
    val error = try {
      val df = q.run(session)
      t1 = System.nanoTime()
      df.queryExecution.executedPlan
      t2 = System.nanoTime()
      val rows = df.collect()
      t3 = System.nanoTime()
      q.check(rows).orElse(compare(q.name, Digest.of(rows), record))
    } catch {
      case e: Throwable =>
        val now = System.nanoTime()
        if (t1 == t0) t1 = now
        if (t2 == t0) t2 = now
        t3 = now
        System.err.println(s"[perfbench] ${q.name} failed: $e")
        Some(e.toString.take(300))
    } finally sc.setLocalProperty("perfbench.req", null)
    if (traced) {
      spans.add(Span(id, q.name, t0, t3, "request"))
      spans.add(Span(id, "plan", t0, t1, q.name))
      spans.add(Span(id, "catalyst", t1, t2, q.name))
      spans.add(Span(id, "exec", t2, t3, q.name))
    }
    Sample(q.name, id, client, phase, t0, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
      (t3 - t2) / 1e9, error, traced, q.rows, Thread.currentThread.getName)
  }

  private def compare(name: String, d: Digest, record: Boolean): Option[String] =
    if (record) {
      val prior = reference.putIfAbsent(name, d)
      prior.filter(_ != d).map(p => s"digest $d differs from earlier reference $p")
    } else reference.get(name) match {
      case None => Some("no reference digest")
      case Some(ref) =>
        val expected = if (corrupt(name)) ref.copy(hash = ref.hash + 1) else ref
        if (d == expected) None else Some(s"digest $d != reference $expected")
    }
}

/** Set-up and warm-up outcome plus the measured window of one workload. */
final case class Measured(
    samples: Seq[Sample],
    windowS: Double,
    coldRoundS: Double,
    warmRounds: Seq[Double],
    /** Solo latency per query, where requests run concurrently; a
      * request missing here ran solo and its own latency counts. */
    solo: Map[String, Double],
    pins: Seq[Pins],
    rowCounts: Map[String, Long],
    tracedWindowS: Double,
    gcMs: Long,
    latencyPhases: Set[String] = Set("measure"),
    untracedRounds: Seq[Double] = Nil,
    tracedRounds: Seq[Double] = Nil,
    /** Seconds the throughput rates divide by, where not the window:
      * whole passes at the median pass time, so that a slow stretch of
      * the host weighs as one pass and not by its length. */
    rateS: Option[Double] = None) {
  def rateWindowS: Double = rateS.getOrElse(windowS)
}

/** Input pins: the cached relations of the generated input tables. */
final case class Pins(label: String, tables: Int, mb: Double)

object Stats {
  /** Driver JVM collection time so far, over all collectors. */
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .toArray(Array.empty[java.lang.management.GarbageCollectorMXBean])
    .map(_.getCollectionTime).sum

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The highest whole percentile with at least ten samples above it;
    * below twenty samples that would not be above the median, and the
    * tail is the maximum (reported as percentile 100). */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size < 20) (100.0, if (xs.isEmpty) 0.0 else xs.max)
    else {
      val p = math.floor(100.0 * (1 - 10.0 / xs.size))
      (p, quantile(xs, p / 100))
    }
}
