package graft.tools

import graft.axes.Regular
import graft.operators.{HistOptions, Histogram}
import org.apache.spark.sql.functions._

/** Dev tool: isolate the unweighted 1-D count path vs the weighted decimal
  * path on the stress events table, with formatted plans — the two should
  * be count-cheaper-than-sum, not the reverse. */
object ProfileHist1d {
  def main(args: Array[String]): Unit = {
    val path = if (args.nonEmpty) args(0) else "/tmp/sfbig_events.parquet"
    val spark = DevSession()
    val ev = spark.read.parquet(path).repartition(64)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val n = ev.count()
    val ax = Regular("value", 16, 0.0, 512.0)
    def time(name: String)(f: => Long): Unit = {
      val best = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[p] $name: $best%.3f s (${n / best / 1e6}%.1f Mrows/s)")
    }
    val unw = Histogram.histogram(ev, col("value"), ax)
    val wtd = Histogram.histogram(ev, col("value"), ax,
      opts = HistOptions(weight = Some(col("value"))))
    time("count_path")(unw.count())
    time("weighted_dec_path")(wtd.count())
    // raw aggregation floor: no binning, just count by a cheap int key
    time("raw_group_count")(
      ev.groupBy((col("value") > 256.0).cast("int").as("k")).count().count())
    // binning only, no aggregation
    time("index_project_only")(
      ev.select(ax.index(col("value")).as("i")).filter(col("i") >= 0).count())
    // uncached: vectorized parquet scan straight into codegen'd agg, small
    // splits for parallelism — is the deserialized cache scan the bottleneck?
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    val evRaw = spark.read.parquet(path)
    time("count_path_parquet")(
      Histogram.histogram(evRaw, col("value"), ax).count())
    // FastHist columnar kernel straight off the vectorized parquet batches
    // (the flagship flat-count path; engages iff the plan is a bare scan)
    time("fast_count_parquet")(
      graft.operators.FastHist.histogram1d(evRaw, col("value"), ax).count())
    // value-only columnar cache: the full-table cache pays for decompressing
    // five unused columns (incl. strings) on every scan
    val evVal = evRaw.select("value")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    evVal.count()
    time("count_path_valcache")(
      Histogram.histogram(evVal, col("value"), ax).count())
    time("fast_count_valcache")(
      graft.operators.FastHist.histogram1d(evVal, col("value"), ax).count())
    time("weighted_dec_valcache")(
      Histogram.histogram(evVal, col("value"), ax,
        opts = HistOptions(weight = Some(col("value")))).count())
    time("fast_count_fullcache")(
      graft.operators.FastHist.histogram1d(ev, col("value"), ax).count())
    // uncompressed value-only cache: the reference benchmarks boost over
    // raw in-memory numpy arrays, so the comparable layout is cached
    // columnar batches WITHOUT the per-scan decompression tax
    spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "false")
    val evValU = evRaw.select(col("value").as("value"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    evValU.count()
    time("count_path_valcache_uncomp")(
      Histogram.histogram(evValU, col("value"), ax).count())
    time("fast_count_valcache_uncomp")(
      graft.operators.FastHist.histogram1d(evValU, col("value"), ax).count())
    println(unw.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    spark.stop()
  }
}
