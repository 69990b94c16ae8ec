package graft.tools

import graft.axes.Regular
import graft.operators.{HistOptions, Histogram}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: the kernel figure. Times `Histogram` calls on the MakeBig
  * events table, counted and weighted, and prints each one's Mrows/s (best
  * of three collected calls): once straight off the vectorized parquet
  * scan, once off an uncompressed cache of the value and a 16-group key
  * (the layout of the reference's in-memory arrays). Beside each
  * dims-free figure it prints the same call with dims over the 16 groups
  * (`_dims16`). */
object ProfileHist1d {
  def main(args: Array[String]): Unit = {
    val path = if (args.nonEmpty) args(0) else "/tmp/sfbig_events.parquet"
    val spark = DevSession()
    val parquet = spark.read.parquet(path).withColumn("g", pmod(col("user_id"), lit(16L)))
    val n = parquet.count()
    spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "false")
    val cached = parquet.select(col("value"), col("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    cached.count()
    val ax = Regular("value", 16, 0.0, 512.0)
    def time(name: String)(h: => DataFrame): Unit = {
      val best = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); h.collect(); (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[p] $name: $best%.3f s (${n / best / 1e6}%.1f Mrows/s, $n rows)")
    }
    for ((layout, df) <- Seq("parquet" -> parquet, "cache" -> cached);
         (kind, opts) <- Seq("counted" -> HistOptions(),
           "weighted" -> HistOptions(weight = Some(col("value"))));
         (suffix, dims) <- Seq("" -> Nil, "_dims16" -> Seq("g")))
      time(s"${kind}_$layout$suffix")(Histogram.histogram(df, col("value"), ax, dims, opts))
    spark.stop()
  }
}
