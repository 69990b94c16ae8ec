package graft.tools

import org.apache.spark.sql.SparkSession

/** The one session definition every dev tool runs on: `Graft.builder()`
  * plus graft.Bench's remaining settings, so a tool measures what the
  * bench runs. `SPARK_GRAFT_CPUS` sets the local parallelism (default:
  * every available processor, as in Bench). */
object DevSession {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(): SparkSession = {
    val spark = graft.Graft.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.autoBroadcastJoinThreshold", "134217728")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
