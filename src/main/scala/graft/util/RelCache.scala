package graft.util

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{classic, DataFrame, GraftShim}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.storage.StorageLevel

/** The artifact store. Every memoized artifact — pinned relations
  * ([[persist]]), keyed relations ([[memo]]) and the driver-side values
  * the operators train or decide once per input (centroids, codebooks,
  * quantile edges, skew-guard caps…) — lives in one [[Store]]: an
  * access-ordered LRU behind one single-flight loop, keyed by one rule.
  * [[clear]] empties every store; after rewriting an input in place,
  * call it (README, "Artifact caching").
  */
object RelCache {
  private val logger = org.slf4j.LoggerFactory.getLogger("graft.util.RelCache")
  // value-store builds keep their established logger name and line
  // format: build-log readers (perfbench's trace) select on both
  private val valueLogger = org.slf4j.LoggerFactory.getLogger("graft.util.SingleFlight")
  // 320, up from 96 (r13): the full 352-query bench surface now pins
  // MORE than 96 distinct derived relations per pass (31 persist call
  // sites × per-corpus inputs), so at 96 the LRU churned CYCLICALLY —
  // nothing survived from one bench pass to the next and the min-over-
  // passes q349 stayed at its cold cost (20.5 s) instead of its
  // memoized one. The cap counts entries, not bytes. An entry costs its
  // stored blocks (MEMORY_AND_DISK; the 200k scale-gate relations reach
  // ~60 MB): a pin destroys its build's broadcasts, which otherwise keep
  // their deserialized relations on the driver heap (34.3 MB behind
  // 1.12 MB of pinned blocks at the end of a perfbench pipeline_cold run
  // on 4 cpus). Big-sf sweeps are protected by the Verify heap valve
  // (clear + GC above 60% used heap), not this cap.
  private[graft] val MaxEntries = 320

  private val stores = new java.util.concurrent.CopyOnWriteArrayList[Store[_]]()

  /** An LRU of at most `cap` artifacts; `release` runs on every entry
    * that leaves it (eviction or [[clear]]).
    *
    * Key rule: the tag, then each input's (SparkSession, canonicalized
    * analyzed plan), then the params. Plan OBJECTS, not strings or
    * hashes: plan equality is structural and includes literal data
    * (LocalRelation rows), where toString truncates and 32-bit hashes
    * collide.
    *
    * Single flight: a build runs outside every lock (it launches Spark
    * jobs), and concurrent callers of the same key wait for the one
    * builder instead of building twice. A failed build is never cached:
    * its caller sees the exception and its waiters retry the build.
    * Different keys build fully concurrently. */
  final class Store[V <: AnyRef](cap: Int, release: V => Unit = (_: V) => (),
      log: (String, Any, Double) => Unit = logValueBuild) {
    private val entries = new java.util.LinkedHashMap[Any, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Any, V]): Boolean = {
        val evict = size() > cap
        if (evict) release(e.getValue)
        evict
      }
    }
    private val inflight = new ConcurrentHashMap[Any, CompletableFuture[V]]()
    stores.add(this)

    def apply(tag: String, inputs: DataFrame*)(params: Any*)(build: => V): V = {
      val key = (tag, inputs.map(i =>
        (i.sparkSession, i.queryExecution.analyzed.canonicalized)), params)
      while (true) {
        val hit = synchronized(entries.get(key))
        if (hit != null) return hit
        val fut = new CompletableFuture[V]()
        val prior = inflight.putIfAbsent(key, fut)
        if (prior != null) {
          try return prior.join()
          catch { case _: CompletionException => () }
          // builder failed — loop: re-check the store, then race to build
        } else {
          try {
            val t0 = System.nanoTime()
            val built = build
            log(tag, key, (System.nanoTime() - t0) / 1e9)
            synchronized(entries.put(key, built))
            fut.complete(built)
            return built
          } catch {
            case e: Throwable => fut.completeExceptionally(e); throw e
          } finally inflight.remove(key, fut)
        }
      }
      throw new IllegalStateException("unreachable")
    }

    def clear(): Unit = synchronized {
      entries.values.forEach(v => release(v))
      entries.clear()
    }
  }

  // keys embed plan objects: log the tag and the key's hash, never the
  // key (a LocalRelation plan would print the whole corpus)
  private def logValueBuild(tag: String, key: Any, wall: Double): Unit =
    valueLogger.warn(f"single-flight build: key=($tag,key#${key.hashCode()}%08x) " +
      f"took $wall%.3f s")

  /** Pinned relations, materialized (counted) by exactly one caller
    * before they are published. Lazily-pinned relations were the r15
    * cold-wall finding: a plan holding several exchanges over one
    * UNCACHED pin materializes them concurrently under AQE, and every
    * task convoys on the cache's per-partition loading locks (200k
    * knnGraph init: 21.6 s lazy vs 9.2 s pre-materialized, solo). */
  private[graft] val pins = new Store[DataFrame](MaxEntries, _.unpersist(),
    (_, key, wall) =>
      // only slow builds: ~300 pins per session would drown the log
      if (wall > 0.25)
        logger.warn(f"persist build (key#${key.hashCode()}%08x) took $wall%.3f s"))

  /** Pins `df` like a [[memo]] relation: the pin owns its bytes and its
    * build is spent. A new pin's column buffers lose their lineage before
    * the job that fills them (task binaries serialize that lineage,
    * broadcasts and all), then every broadcast the build completed is
    * destroyed. The CacheManager entry stays: columnar storage and
    * plan-keyed reuse work as for any cached plan. Once the pin is
    * released (eviction or [[clear]]), a plan derived from it recomputes
    * from its logical plan, but one that had already executed throws on
    * a rerun: its physical plan reads the released blocks (README,
    * "Artifact caching"). */
  def persist(df: DataFrame): DataFrame = pins("persist", df)() {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val cache = ds.sparkSession.sharedState.cacheManager
    // an entry cached before this call (an input pin, another session's
    // pin) is not this build's to cut or release
    val fresh = cache.lookupCachedData(ds).isEmpty
    try {
      val pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
      val builder = cache.lookupCachedData(ds).get.cachedRepresentation.cacheBuilder
      val buffers = builder.cachedColumnBuffers
      if (fresh) buffers.localCheckpoint()
      pinned.count()
      if (fresh && buffers.isCheckpointed)
        builder.synchronized(broadcasts(builder.cachedPlan).foreach(GraftShim.destroy))
      pinned
    } catch {
      case e: Throwable =>
        // never publish a half-materialized pin
        try df.unpersist() catch { case _: Throwable => () }
        throw e
    }
  }

  /** The broadcasts a run of `plan` completed: its exchanges, those of its
    * materialized adaptive stages, and those of its subqueries. Cached
    * scans (InMemoryTableScanExec) are leaves: their broadcasts belong to
    * other cache entries. */
  private def broadcasts(plan: SparkPlan): Seq[Broadcast[Any]] = plan.collectWithSubqueries {
    case a: AdaptiveSparkPlanExec => broadcasts(a.executedPlan)
    case s: BroadcastQueryStageExec if !s.isMaterialized => Nil
    case s: QueryStageExec => broadcasts(s.plan)
    case b: BroadcastExchangeLike => Seq(b.relationFuture.get())
  }.flatten.distinct

  /** Storage blocks behind a localCheckpoint'd relation: its plan's
    * LogicalRDD leaves. Released EXPLICITLY when the entry leaves the
    * store — GC + the ContextCleaner reap unreferenced blocks
    * eventually, but a long-lived driver building >MaxEntries distinct
    * graphs can exhaust executor storage before a full GC runs.
    *
    * DOCUMENTED TRADEOFF: a released relation is NOT recomputable
    * (checkpointing truncated its lineage), so a caller that retained a
    * memoized DataFrame across its eviction or a [[clear]] fails loudly
    * (missing RDD blocks) on later use. A caller needing an artifact to
    * outlive the store must own its lifecycle (write it to a table /
    * re-memo it); reference-counting handed-out relations would trade
    * this rare loud failure for unbounded storage growth. */
  private def releaseBlocks(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(false)
      case _ => ()
    }

  /** Keyed relations: results whose OUTPUT plan hides their input
    * (localCheckpoint'd iterative builds like knnGraph, zipWithIndex
    * ranks — the result scans an RDD, so plan-keyed [[persist]] can
    * never dedupe two builds). Every build is logged: the first query
    * to arrive carries the whole build, and the line makes a tripled
    * solo time attributable to cold-build ordering without re-runs. */
  val memo = new Store[DataFrame](MaxEntries, releaseBlocks,
    (tag, key, wall) =>
      logger.warn(f"memo build: $tag (key#${key.hashCode()}%08x) took $wall%.3f s"))

  /** Empties every store: pins are unpersisted, keyed relations release
    * their checkpoint blocks, values are dropped. Inputs pinned by
    * SparkEntry.cacheTables are not artifacts and stay pinned. */
  def clear(): Unit = stores.forEach(_.clear())
}
