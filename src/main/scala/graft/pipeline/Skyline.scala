package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact 2-D skyline (Pareto frontier) — the classic multi-criteria
  * selection operator (Börzsönyi et al. 2001, "The Skyline Operator"):
  * keep every row not DOMINATED by another (dominated = some other row
  * is ≥ on both criteria and > on at least one). The curation use:
  * "docs that are not beaten on BOTH quality and length by any other
  * doc" — the frontier a weighted blend can only approximate.
  */
object Skyline {

  /** Skyline maximizing (xCol, yCol). Emits the input columns of every
    * frontier row (ties kept: two rows equal on BOTH criteria dominate
    * neither).
    *
    * Plan — built to stay distributed where the naive forms are not
    * (a NOT-EXISTS anti-join is O(n²); a global staircase window is
    * one partition of corpus-scale rows, the q190/q199 failure shape):
    *  1. the corpus collapses map-combinably to the per-distinct-x
    *     frontier candidate (x, maxY) — dominance within equal x keeps
    *     only the max y (y-ties survive the join-back);
    *  2. the staircase over the distinct-x relation runs as a
    *     DISTRIBUTED descending range-partitioned sort + one
    *     per-partition scan with driver-combined per-partition prefix
    *     maxima (#partitions values — the partition-offset pattern);
    *     a candidate survives iff its maxY strictly exceeds every
    *     maxY at strictly greater x;
    *  3. one broadcast-able equi-join back on (x, y = maxY) recovers
    *     the surviving rows.
    * No float arithmetic anywhere — comparisons only, so cross-engine
    * exactness is structural. NULL on either criterion drops (an
    * unknown criterion cannot sit on a frontier).
    *
    * Scale note: the frontier of randomly-ordered data is
    * O(log²) — tiny; the worst case (perfectly anti-correlated data)
    * is the full distinct-x relation, which this plan still handles
    * range-parallel (only the #partitions prefix maxima visit the
    * driver). */
  def skyline2d(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val dx = base.groupBy(col(xCol).cast("double").as("__x"))
      .agg(max(col(yCol).cast("double")).as("__my"))
      .orderBy(col("__x").desc)
    // Keyed memo: the staircase runs a range-partitioned sort plus an
    // eager per-partition maxima collect at CONSTRUCTION time, and its
    // output is a LogicalRDD — every invocation re-ran both passes.
    val survivors = graft.util.RelCache.memo("skyline2d", dx)() {
      val pairs = dx.select(col("__x"), col("__my")).as[(Double, Double)].rdd
      // pass 1: per-partition running-max summaries (#partitions rows)
      val partMax = pairs
        .mapPartitionsWithIndex { (i, it) =>
          var m = Double.NegativeInfinity
          it.foreach { case (_, my) => if (my > m) m = my }
          Iterator((i, m))
        }.collect().sortBy(_._1).map(_._2)
      // driver prefix combine: max of all partitions strictly before i
      val prefix = partMax.scanLeft(Double.NegativeInfinity)(math.max).init
      // pass 2: the staircase scan, seeded with the partition prefix
      graft.util.RelCache.persist(pairs.mapPartitionsWithIndex { (i, it) =>
        var m = prefix(i)
        it.flatMap { case (x, my) =>
          val keep = my > m
          if (my > m) m = my
          if (keep) Some((x, my)) else None
        }
      }.toDF("__sx", "__smy"))
    }
    base.join(survivors,
      base(xCol).cast("double") === col("__sx") &&
        base(yCol).cast("double") === col("__smy"))
      .drop("__sx", "__smy")
  }
}
