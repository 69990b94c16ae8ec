package graft.operators

import graft.axes.Variable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Equal-frequency (quantile) binning: a Variable axis whose edges are the
  * exact rank-based quantiles of the data — the Spark re-expression of the
  * common `bins=np.quantile(x, ...)` pattern over the reference's Variable
  * axis (bh.axis.Variable).
  *
  * Edge j (j = 1..nBins-1) is the value at 1-based rank
  * max(1, ceil(j/nBins * n)) in ascending order; the axis spans [min, max)
  * with x == max falling into overflow, exactly like the reference's
  * auto-range (core.py:499-506). Rank-based edges are actual data values:
  * no interpolation arithmetic, so any engine that sorts agrees bit-for-bit
  * (ties collapse via distinct — identical in both engines).
  *
  * The exact path computes global ranks with a distributed range-partition
  * sort + zipWithIndex (no single-partition window). At 100 TB swap in
  * `sketchAxis` (Greenwald-Khanna approxQuantile): one aggregation pass,
  * no sort, approximate edges — same downstream plan.
  */
object QuantileBins extends org.apache.spark.internal.Logging {

  /** autoAxis result: the axis plus WHICH path produced its edges — exact
    * rank edges are reproducibility-grade, sketch edges are approximate by
    * construction, and the switch happens on input size, so callers must
    * be able to tell the two apart (edges change discontinuously at the
    * threshold otherwise with no signal). */
  final case class QuantileAxis(axis: Variable, exact: Boolean)

  // quantile-edge memo: BOTH exact and auto paths run eager jobs at
  // axis-construction time (a stats pass, then a range-partitioned sort +
  // zipWithIndex + collect on the exact branch). Axis `name` is applied
  // after lookup.
  private val axisMemo = new graft.util.RelCache.Store[QuantileAxis](64)

  /** Default public path: exact rank edges below `exactThreshold` rows,
    * Greenwald-Khanna sketch edges above it. The exact path's global sort
    * is the right trade only while the column fits a quick distributed
    * sort; at 100 TB the GK sketch replaces it with ONE aggregation pass
    * whose per-edge rank error is bounded by relativeError * n (so each
    * sketch edge sits within +-relativeError of the requested quantile
    * fraction). The exact path stays available (and oracle-gated, q59)
    * for reproducibility-critical use. Logs and reports (via the returned
    * flag) which path was taken. */
  def autoAxisTagged(df: DataFrame, x: Column, name: String, nBins: Int,
      exactThreshold: Long = 10000000L, relativeError: Double = 1e-4): QuantileAxis = {
    val vals = df.select(x.cast("double").as("v")).filter(col("v").isNotNull)
    val built = axisMemo("autoAxis", vals)(nBins, exactThreshold, relativeError) {
      // one stats pass decides the path AND feeds the exact branch (its
      // count/min/max are exactly what quantileAxis needs) — no
      // decide-then-recompute double scan
      val stats = vals.agg(count(lit(1)), min(col("v")), max(col("v"))).head()
      val n = stats.getLong(0)
      if (n <= exactThreshold) {
        logInfo(s"quantile axis '$name': exact rank edges over $n rows")
        QuantileAxis(exactAxis(vals, stats, name, nBins), exact = true)
      } else {
        logWarning(s"quantile axis '$name': $n rows > exactThreshold=" +
          s"$exactThreshold, switching to Greenwald-Khanna SKETCH edges " +
          s"(rank error <= ${relativeError} * n; not oracle-exact)")
        QuantileAxis(sketchAxis(vals, "v", name, nBins, relativeError),
          exact = false)
      }
    }
    QuantileAxis(Variable(name, built.axis.allEdges), built.exact)
  }

  /** Axis-only convenience over [[autoAxisTagged]]. */
  def autoAxis(df: DataFrame, x: Column, name: String, nBins: Int,
      exactThreshold: Long = 10000000L, relativeError: Double = 1e-4): Variable =
    autoAxisTagged(df, x, name, nBins, exactThreshold, relativeError).axis

  /** Exact rank-based quantile edges; one stats pass + one sort + one tiny
    * collect. */
  def quantileAxis(df: DataFrame, x: Column, name: String, nBins: Int): Variable = {
    val vals = df.select(x.cast("double").as("v")).filter(col("v").isNotNull)
    val built = axisMemo("quantileAxis", vals)(nBins) {
      val stats = vals.agg(count(lit(1)), min(col("v")), max(col("v"))).head()
      QuantileAxis(exactAxis(vals, stats, name, nBins), exact = true)
    }
    Variable(name, built.axis.allEdges)
  }

  private def exactAxis(vals: DataFrame, stats: org.apache.spark.sql.Row,
      name: String, nBins: Int): Variable = {
    val n = stats.getLong(0)
    require(n > 0, "quantile axis needs data")
    // 0-based target indexes of the interior edges
    val targets = (1 until nBins)
      .map(j => math.max(1L, math.ceil(j.toDouble / nBins.toDouble * n.toDouble).toLong) - 1L)
      .toSet
    val interior = vals.orderBy("v").rdd.map(_.getDouble(0)).zipWithIndex()
      .filter { case (_, i) => targets.contains(i) }
      .map(_._1).collect()
    val allEdges = (Array(stats.getDouble(1)) ++ interior :+ stats.getDouble(2))
      .distinct.sorted
    require(allEdges.length >= 2, "degenerate distribution: all values equal")
    Variable(name, allEdges)
  }

  // sketchAxis edge memo: the GK pass is an EAGER driver collect per
  // axis, re-run on every invocation of a sketch-binned query (q313 pays
  // two per call). `name` is applied after lookup.
  private val sketchEdgeMemo = new graft.util.RelCache.Store[Array[Double]](64)

  /** Sketch-based edges for the 100 TB path (no global sort; not
    * oracle-exact by construction). */
  def sketchAxis(df: DataFrame, xCol: String, name: String, nBins: Int,
      relativeError: Double = 1e-4): Variable = {
    val qs = sketchEdgeMemo("sketchAxis", df)(xCol, nBins, relativeError) {
      val probs = (0 to nBins).map(_.toDouble / nBins).toArray
      df.stat.approxQuantile(xCol, probs, relativeError).distinct.sorted
    }
    Variable(name, qs)
  }

  /** Exact interpolated per-group quantiles (the p50/p95/p99 dashboard
    * primitive): for each group and fraction q, with the group's values
    * in ascending order, h = (n-1)·q, l = floor(h), result =
    * x_(l) + (h - l)·(x_(l+1) - x_(l)) (the upper neighbor collapses to
    * x_(l) at the top rank). The interpolation is spelled as ONE fixed
    * IEEE sequence mirrored verbatim in the oracle — deliberately NOT
    * the engines' built-in percentile / quantile_cont, whose
    * interpolation EXPRESSIONS differ ((1-f)·a + f·b vs a + f·(b-a)) and
    * can split in the last ulp. Ties among equal values make the
    * row_number choice immaterial.
    *
    * Scale note: the exact form ranks each group through one reducer
    * (a row_number sort window) — right for dashboard-cardinality groups
    * (event types, sources); for corpus-sized groups use per-group
    * percentile_approx (map-combinable GK sketch), the same exact/sketch
    * trade autoAxis makes. */
  /** The corpus-scale form of [[groupQuantiles]] (the documented 100 TB
    * path, now a gated operator — q162): per-group percentile_approx,
    * whose GK summary is map-combinable — ONE aggregation pass, no
    * per-group rank window, bounded state per group regardless of group
    * size. Gated in the provably-exact regime (accuracy >> 2·n per group
    * retains every sample, so quantile q is EXACTLY the value at 1-based
    * rank ceil(q·n) ascending — the q142/q152 rule); at real accuracy
    * the q157/q159 rank-bound contracts apply. NOTE the exact regime's
    * rank rule differs from [[groupQuantiles]]'s interpolated
    * convention: the sketch returns SAMPLES, never interpolates. */
  def groupQuantilesSketch(df: DataFrame, value: Column,
      groupCols: Seq[String], qs: Seq[Double],
      accuracy: Int = 1 << 20): DataFrame = {
    require(groupCols.nonEmpty && qs.nonEmpty && accuracy > 0)
    require(qs.forall(q => q > 0.0 && q <= 1.0))
    val g = groupCols.map(col)
    df.filter(value.isNotNull)
      .select(g :+ value.cast("double").as("__v"): _*)
      .groupBy(g: _*)
      .agg(percentile_approx(col("__v"), array(qs.map(lit): _*),
        lit(accuracy)).as("__t"))
      .select(g :+ posexplode(col("__t")).as(Seq("__i", "quantile")): _*)
      .select(g ++ Seq(
        element_at(array(qs.map(lit): _*), col("__i") + 1).as("q"),
        col("quantile")): _*)
  }

  def groupQuantiles(df: DataFrame, value: Column, groupCols: Seq[String],
      qs: Seq[Double]): DataFrame = {
    require(groupCols.nonEmpty && qs.nonEmpty)
    require(qs.forall(q => q >= 0.0 && q <= 1.0))
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val base = df.filter(value.isNotNull)
      .select(g :+ value.cast("double").as("__v"): _*)
    val ranked = base.withColumn("__rn",
      row_number().over(Window.partitionBy(g: _*).orderBy(col("__v"))) - 1)
    val targets = base.groupBy(g: _*).agg(count(lit(1)).as("__n"))
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .withColumn("__h", (col("__n") - 1).cast("double") * col("q"))
      .withColumn("__l", floor(col("__h")).cast("long"))
    val lo = ranked.select(groupCols.map(n => col(n).as(s"__lo_$n")) ++
      Seq(col("__rn").as("__rl"), col("__v").as("__xl")): _*)
    val hi = ranked.select(groupCols.map(n => col(n).as(s"__hi_$n")) ++
      Seq(col("__rn").as("__ru"), col("__v").as("__xu")): _*)
    targets
      .join(lo, groupCols.map(n => col(n) <=> col(s"__lo_$n")).reduce(_ && _) &&
        col("__rl") === col("__l"))
      .join(hi, groupCols.map(n => col(n) <=> col(s"__hi_$n")).reduce(_ && _) &&
        col("__ru") === col("__l") + 1, "left")
      .withColumn("__xu2", coalesce(col("__xu"), col("__xl")))
      .select(groupCols.map(col) ++ Seq(col("q"),
        (col("__xl") + (col("__h") - col("__l").cast("double")) *
          (col("__xu2") - col("__xl"))).as("quantile")): _*)
  }
}
