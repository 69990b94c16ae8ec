package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: synthesize the 1e8-row events table the flagship
  * throughput capture (ProfileHist1d) consumes — recorded
  * as code so every round regenerates the identical input instead of
  * relying on a /tmp file surviving between rounds.
  *
  * Schema mirrors the driver's events table (event_id, ts nanos-long,
  * user_id, event_type, value, props) so the full-table cache pays the
  * same unused-column decompression tax as a real events scan; `value`
  * spreads deterministically over [0, 520) — 16 in-range bins on the
  * Regular(16, 0, 512) flagship axis plus a populated overflow tail. */
object MakeBig {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/sfbig_events.parquet"
    val n = if (args.length > 1) args(1).toLong else 100000000L
    val spark = DevSession()
    spark.range(0, n, 1, 64).select(
      col("id").as("event_id"),
      (lit(1700000000000000000L) + col("id") * 1000L).as("ts"),
      pmod(col("id") * 2654435761L, lit(1000000L)).as("user_id"),
      concat(lit("t"), pmod(col("id"), lit(7L))).as("event_type"),
      (pmod(col("id") * 48271L, lit(52000L)).cast("double") / 100.0).as("value"),
      concat(lit("{\"k\":"), pmod(col("id"), lit(100L)), lit("}")).as("props")
    ).write.mode("overwrite").parquet(out)
    println(s"[makebig] $n rows -> $out")
    spark.stop()
  }
}
