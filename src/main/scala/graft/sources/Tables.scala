package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source helpers for the star schema + events stream used throughout the
  * library (TESTDATA.md layout), with explicit schemas for the streaming
  * reader (Structured Streaming requires a user-supplied schema).
  */
object Tables extends org.apache.spark.internal.Logging {

  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  // path -> (read key, inferred schema). Inference is a Spark job per
  // read; a later read under the same key passes the schema instead. The
  // key is the path's file fingerprint plus the session's parquet reader
  // settings, so a rewrite or another reader setting infers afresh. One
  // entry per path: SparkEntry forgets it with the path's last table alias.
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, (Any, StructType)]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = (fingerprint(spark, path), spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") })
    val df = schemas.get(path) match {
      case (`key`, schema) => spark.read.schema(schema).parquet(path)
      case _ =>
        val read = spark.read.parquet(path)
        schemas.put(path, (key, read.schema))
        read
    }
    if (name == "events") normalizeEventsTs(df) else df
  }

  private[graft] def forget(path: String): Unit = schemas.remove(path)

  /** The files behind a parquet path: (path, length, mtime) of every
    * non-hidden file, from a `listStatus` walk of its directories; empty
    * when the path does not exist (the read then raises Spark's own
    * error). A recursive `listFiles` would also build each file's
    * located status and load its permissions. */
  private[graft] def fingerprint(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long, Long)] =
      fs.listStatus(p).toSeq.flatMap { f =>
        val name = f.getPath.getName
        if (f.isDirectory) walk(f.getPath)
        else if (name.startsWith("_") || name.startsWith(".")) Nil
        else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    try walk(root).sorted catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Normalize events.ts to epoch-nanos long regardless of how the
    * parquet stored it: TESTDATA generations have shipped both
    * TIMESTAMP(NANOS) (read as long under nanosAsLong) and TIMESTAMP(us)
    * (read as TIMESTAMP_NTZ). Every operator downstream sees ONE type.
    * The NTZ-minus-epoch diff is timezone-free, so the value does not
    * depend on the session timezone. */
  def normalizeEventsTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df
    case _: TimestampNTZType =>
      df.withColumn("ts", expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"))
    case _: TimestampType =>
      df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
    case other =>
      throw new IllegalArgumentException(s"unsupported events.ts type: $other")
  }

  def all(spark: SparkSession, dir: String): Map[String, DataFrame] =
    tableNames.map(n => n -> table(spark, dir, n)).toMap

  /** Register every table as a temp view for spark.sql access. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    all(spark, dir).foreach { case (n, df) => df.createOrReplaceTempView(n) }

  /** events schema for the streaming reader (Structured Streaming
    * requires an explicit schema): the non-ts columns are fixed; ts takes
    * whatever type `tsType` the actual files carry — hard-pinning one
    * encoding here would break the stream on exactly the
    * TIMESTAMP(NANOS)-as-long / TIMESTAMP(us) flips the batch loader's
    * [[normalizeEventsTs]] was built to survive. */
  def eventsSchema(tsType: DataType = TimestampNTZType): StructType =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  /** Streaming reader over an events parquet directory: the ts encoding
    * is PROBED from the directory with one batch footer read (so the
    * stream schema always matches the files — see [[eventsSchema]]),
    * then `ts` is normalized to epoch-nanos long (the batch loader
    * convention) plus a real timestamp column `event_time` for
    * watermarks and windows. `maxFilesPerTrigger` bounds per-batch
    * work.
    *
    * Probe failure semantics: only the EXPECTED probe failures — the
    * directory is missing or holds no parquet yet (the normal start
    * state of a stream whose producer hasn't written) — fall back to the
    * default TIMESTAMP_NTZ encoding, with a logged warning. A stream
    * started over a dir that fills LATER therefore inherits that
    * default; if the late-arriving files carry TIMESTAMP(NANOS)-as-long
    * instead, the stream fails on schema mismatch at first batch —
    * restart it once files exist so the probe can see them. Genuine read
    * errors (permissions, corrupt footers) PROPAGATE instead of being
    * silently swallowed into a default. */
  def eventsStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val tsType =
      try spark.read.parquet(dir).schema("ts").dataType
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          // PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA: empty-or-absent dir
          logWarning(s"eventsStream: cannot probe ts encoding from $dir " +
            s"(${e.getCondition}); defaulting to TIMESTAMP_NTZ — restart " +
            "the stream after files arrive if they carry a different encoding")
          TimestampNTZType
      }
    normalizeEventsTs(spark.readStream
        .schema(eventsSchema(tsType))
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(dir))
      .withColumn("event_time",
        timestamp_micros((col("ts") / lit(1000L)).cast("long")))
  }
}
