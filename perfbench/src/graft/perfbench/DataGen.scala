package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The hist_bulk table (the star-schema inputs are written by
  * perfbench/gen.py before the JVM starts). */
object DataGen {
  /** Built in executor memory from the seed: x uniform on [0, 1), y
    * standard normal clipped to [-6, 6), w uniform on [0, 1) in steps of
    * 2^-10 (exact in binary, so weighted sums check exactly), g uniform
    * over 16 groups. `parts` is fixed, so the rows do not depend on the
    * core count. */
  def bulkTable(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame =
    spark.range(0, rows, 1, parts).select(
      rand(seed * 7919 + 40).as("x"),
      greatest(least(randn(seed * 7919 + 41), lit(5.999999)), lit(-6.0)).as("y"),
      (floor(rand(seed * 7919 + 42) * 1024) / 1024.0).as("w"),
      floor(rand(seed * 7919 + 43) * 16).cast("int").as("g"))
}
