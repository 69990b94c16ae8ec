package graft.tools

import graft.axes.Regular
import graft.operators.{HistOptions, Histogram}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: the kernel figure. Times `Histogram` calls on the MakeBig
  * events table, counted and weighted, and prints each one's Mrows/s (best
  * of three collected calls): once straight off the vectorized parquet
  * scan, once off an uncompressed value-only cache (the layout of the
  * reference's in-memory arrays). */
object ProfileHist1d {
  def main(args: Array[String]): Unit = {
    val path = if (args.nonEmpty) args(0) else "/tmp/sfbig_events.parquet"
    val spark = DevSession()
    val parquet = spark.read.parquet(path)
    val n = parquet.count()
    spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "false")
    val cached = parquet.select(col("value"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    cached.count()
    val ax = Regular("value", 16, 0.0, 512.0)
    def time(name: String)(h: => DataFrame): Unit = {
      val best = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); h.collect(); (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[p] $name: $best%.3f s (${n / best / 1e6}%.1f Mrows/s, $n rows)")
    }
    for ((layout, df) <- Seq("parquet" -> parquet, "cache" -> cached)) {
      time(s"counted_$layout")(Histogram.histogram(df, col("value"), ax))
      time(s"weighted_$layout")(Histogram.histogram(df, col("value"), ax,
        opts = HistOptions(weight = Some(col("value")))))
    }
    spark.stop()
  }
}
