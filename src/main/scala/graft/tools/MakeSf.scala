package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: synthesize a larger scale factor from an existing testdata
  * directory by key-shifted replication (for the closing sf1 sweep —
  * correctness at 10x the largest driver-shipped sf).
  *
  * Each replica r in [0, factor) shifts every entity key by r * STRIDE,
  * preserving referential integrity (orders->customer,
  * lineitem->orders/part/supplier, embeddings/documents ids) while the
  * tiny dimension tables (region, nation) keep a single copy, exactly
  * like TPC-H's fixed-size dims. Replica 0 is byte-identical to the
  * source, so fixed query sets (doc_id < 20 benchmarks, vec_id < 10 ANN
  * queries) stay FIXED while the corpus grows 10x — the realistic
  * scaling for query-vs-corpus operators.
  *
  * Degeneracy mutations (generation-time only; both engines read the
  * same emitted parquet, so nothing here needs cross-engine
  * re-derivation):
  *  - documents.text gets a per-replica suffix tag (distinct md5 /
  *    minhash per replica; replicas remain NEAR-duplicates — 10-clone
  *    clusters are exactly the load a dedup sweep should carry);
  *    n_chars is updated to match.
  *  - events.ts shifts by r microseconds (avoids 10-deep exact-ts ties).
  *  - embeddings perturb by a tiny deterministic per-replica offset
  *    (exact-duplicate vectors would make every ANN top-k a tie).
  */
object MakeSf {
  val STRIDE = 100000000L // > any entity key at any plausible local sf

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/root/repo/testdata_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = DevSession()

    def rep(t: DataFrame): DataFrame =
      t.withColumn("__r", explode(sequence(lit(0L), lit(factor - 1L))))
    def shift(c: String) = (col(c) + col("__r") * STRIDE).as(c)

    // flat single-file layout, matching the driver's testdata dirs (so the
    // DuckDB checker's read_parquet('<dir>/<name>.parquet') glob works);
    // single files stay splittable for Spark via parquet row groups
    def write(name: String, df: DataFrame): Unit = {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val tmp = s"$out/__tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.createDirectories(Paths.get(out))
      Files.move(part, Paths.get(s"$out/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      println(s"[makesf] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    val rd = (n: String) => spark.read.parquet(s"$src/$n.parquet")

    write("region", rd("region"))
    write("nation", rd("nation"))
    write("customer", rep(rd("customer")).select(
      shift("c_custkey"), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment")))
    write("supplier", rep(rd("supplier")).select(
      shift("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal")))
    write("part", rep(rd("part")).select(
      shift("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
      col("p_size"), col("p_retailprice")))
    write("orders", rep(rd("orders")).select(
      shift("o_orderkey"), shift("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")))
    write("lineitem", rep(rd("lineitem")).select(
      shift("l_orderkey"), shift("l_partkey"), shift("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")))

    // events.ts may arrive as TIMESTAMP(us) or nanos-long depending on the
    // driver's generation; shift r ticks in whichever unit it carries.
    val ev = rep(rd("events"))
    val tsShifted = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => (col("ts") + col("__r")).as("ts")
      case org.apache.spark.sql.types.TimestampNTZType =>
        // session tz is UTC, so the ntz<->instant casts are lossless
        timestamp_micros(unix_micros(col("ts").cast("timestamp")) + col("__r"))
          .cast("timestamp_ntz").as("ts")
      case _ => timestamp_micros(unix_micros(col("ts")) + col("__r")).as("ts")
    }
    write("events", ev.select(
      shift("event_id"), tsShifted, shift("user_id"), col("event_type"),
      col("value"), col("props")))

    write("documents", rep(rd("documents")).select(
      shift("doc_id"),
      when(col("__r") === 0, col("text"))
        .otherwise(concat(col("text"), lit(" repl"), col("__r"))).as("text"),
      col("lang"), col("source"),
      when(col("__r") === 0, col("n_chars"))
        .otherwise(col("n_chars") + length(concat(lit(" repl"), col("__r"))))
        .as("n_chars")))

    write("embeddings", rep(rd("embeddings")).select(
      shift("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x + col("__r").cast("float") * lit(0.0005f) *
          (pmod(i + col("__r"), lit(5)).cast("float") - lit(2.0f))).cast("float"))
        .as("embedding"),
      col("label")))

    spark.stop()
  }
}
