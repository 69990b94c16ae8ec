package graft

import graft.axes.{LogT, Regular}
import graft.operators.{DenseHistogramExec, FastHist, HistOptions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The dense kernel's two fills (columnar scan consumer and row iterator)
  * behind the `FastHist` entry points must both agree exactly with the
  * pre-kernel declarative dense path, and the columnar fill must actually
  * ENGAGE on a vectorized parquet scan — otherwise the flagship throughput
  * claim silently regresses to the row fill. */
class FastHistSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val ax = Regular("x", 8, 0.0, 4.0)

  // values exercising every index branch: interior, exact lo (bin 0),
  // exact hi (overflow, dropped), below lo, NaN (dropped), null (dropped),
  // last-bin interior, negative zero
  private def edgeValues: Seq[java.lang.Double] = Seq[java.lang.Double](
    0.5, 1.5, 1.7, 0.2, 5.0, -3.0, 0.0, 4.0, 3.999999, Double.NaN, null,
    -0.0, 3.0, 2.999999999, 1.0e300, -1.0e300)

  private def edgeDf: DataFrame = edgeValues.map(Option(_).map(_.doubleValue())).toDF("x")

  private def parquet(df: DataFrame, name: String): DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("fasthist").resolve(name).toString
    df.repartition(3).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Collects `h` and returns its rows with the rows its kernel read from
    * columnar batches. */
  private def run(h: DataFrame): (Map[Seq[Any], Double], Long) = {
    val rows = h.collect().map(r => r.toSeq.init -> r.getDouble(r.length - 1)).toMap
    val execs = collect(h.queryExecution.executedPlan) { case e: DenseHistogramExec => e }
    assert(execs.size == 1, "the kernel must be planned")
    (rows, execs.head.metrics("columnarRows").value)
  }

  private def reference(df: DataFrame, specs: Seq[(org.apache.spark.sql.Column, graft.axes.BinAxis)]) =
    DeclarativeHistogram.histogramdd(df, specs, opts = HistOptions(dense = true))
      .collect().map(r => r.toSeq.init -> r.getDouble(r.length - 1)).toMap

  test("columnar kernel engages on a vectorized parquet scan and matches") {
    val df = parquet(edgeDf, "vals.parquet")
    val (fast, columnar) = run(FastHist.histogram1d(df, col("x"), ax))
    assert(columnar == edgeValues.size, "columnar fill must engage on a bare parquet double scan")
    val (rowFill, none) = run(FastHist.histogram1d(edgeDf, col("x"), ax))
    assert(none == 0L)
    assert(fast == rowFill)
    assert(fast == reference(df, Seq(col("x") -> ax)))
  }

  test("columnar kernel does NOT engage when the value is a computed expression") {
    val df = parquet(edgeDf, "vals.parquet")
    // x+1 needs the codegen'd Project: using raw scan values would be wrong
    val (fast, columnar) = run(FastHist.histogram1d(df, col("x") + lit(1.0), ax))
    assert(columnar == 0L)
    assert(fast == reference(df, Seq((col("x") + lit(1.0)) -> ax)))
  }

  test("non-IdT transforms take the row path (codegen'd index) and match") {
    val df = parquet(Seq(1.5, 2.0, 10.0, 100.0, 999.0, 1000.0, 0.5).toDF("x"), "log.parquet")
    val axLog = Regular("x", 6, 1.0, 1000.0, transform = LogT)
    val (fast, columnar) = run(FastHist.histogram1d(df, col("x"), axLog))
    assert(columnar == 0L)
    assert(fast == reference(df, Seq(col("x") -> axLog)))
  }

  test("2-D columnar kernel engages and matches the declarative dense grid") {
    // second column deliberately listed FIRST in the file: the resolver
    // must map selected columns to scan positions, not assume order
    val rnd = new scala.util.Random(3)
    val pairs = ((0 until 500).map(_ => (rnd.between(-0.5, 4.5), rnd.between(-1.0, 3.0))) ++
      Seq((Double.NaN, 1.0), (1.0, Double.NaN), (0.0, 0.0), (3.9999, 1.9999))).toDF("y", "x")
    val df = parquet(pairs, "pairs.parquet")
    val ax2 = Regular("y", 3, 0.0, 3.0)
    val (fast, columnar) = run(FastHist.histogram2d(df, col("x"), ax, col("y"), ax2))
    assert(columnar == 504L, "2-D columnar fill must engage on a parquet double scan")
    val (rowFill, none) = run(FastHist.histogram2d(pairs, col("x"), ax, col("y"), ax2))
    assert(none == 0L)
    assert(fast == rowFill)
    assert(fast == reference(df, Seq(col("x") -> ax, col("y") -> ax2)))
    assert(fast.size == ax.nBins * ax2.nBins) // full dense grid
  }

  test("2-D kernel with expressions falls back to the row path and matches") {
    val df = parquet(Seq((0.5, 0.5), (1.5, 2.5), (3.0, 1.0)).toDF("x", "y"), "xy.parquet")
    val ax2 = Regular("y", 3, 0.0, 3.0)
    val (fast, columnar) = run(FastHist.histogram2d(df, col("x") * 2, ax, col("y"), ax2))
    assert(columnar == 0L)
    assert(fast == reference(df, Seq((col("x") * 2) -> ax, col("y") -> ax2)))
  }

  test("treeAggregate merge is correct across a high partition count") {
    // 64 partitions on local[4]: many partial arrays, merged on the driver
    // (HistKernelSpec covers the executor tree merge past the bound)
    val df = spark.range(0, 20000).select((col("id") % 40 / lit(10.0)).as("x"))
      .repartition(64)
    val (fast, _) = run(FastHist.histogram1d(df, col("x"), ax))
    assert(fast == reference(df, Seq(col("x") -> ax)))
    assert(fast.values.sum == 20000.0)
  }
}
