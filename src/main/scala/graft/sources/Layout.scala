package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-ORDER (Morton) clustering — the
  * storage-side answer to "my scans filter on TWO columns": a
  * range-partitioned, sorted write on a bit-interleaved key gives every
  * file/row-group a min/max zkey interval that maps to a BOUNDED
  * rectangle in value space, so parquet min/max pruning skips on both
  * filter columns at once (a single-column sort gives perfect pruning on
  * one column and none on the other). The same key the Delta/Iceberg
  * OPTIMIZE ZORDER implementations use, built from plain codegen
  * expressions.
  *
  * Pipeline fit: after curation the training corpus is re-laid-out once
  * (quality score × token length, or lang × source) so downstream
  * mixture sampling ("quality ≥ q AND length ∈ [a, b)") reads a small
  * fraction of files instead of the corpus.
  *
  * Cross-engine determinism: the cell quantizer is a fixed IEEE sequence
  * ((v − lo) / (hi − lo) · 2^bits, floor, clamp) and the interleave is
  * pure integer bit math — both expressible identically in SQL. */
object Layout {

  /** Quantized cell index in [0, 2^bits): clamp(floor((v − lo) /
    * (hi − lo) · 2^bits)). Out-of-range values clamp to the edge cells
    * (layout keys must never drop rows): the clamp happens in DOUBLE,
    * BEFORE the long cast — a value past the long range (or ±Infinity)
    * would otherwise cast to NULL and Spark's null-ignoring
    * greatest/least would silently re-clamp it to cell 0, landing a
    * huge POSITIVE outlier in the LOW edge cell. NULL stays NULL, and
    * NaN maps to NULL too (NaN sorts above every double in Spark, so a
    * clamp would silently file it as the top cell of every axis). */
  def cell(v: Column, lo: Double, hi: Double, bits: Int): Column = {
    require(bits > 0 && bits <= 20, s"bits out of (0,20]: $bits")
    require(hi > lo, s"need hi > lo: ($lo, $hi)")
    val scale = (1L << bits).toDouble
    val vd = v.cast("double")
    val raw = floor((vd - lit(lo)) / lit(hi - lo) * lit(scale))
    val clamped = least(lit(((1L << bits) - 1L).toDouble),
      greatest(lit(0.0), raw))
    // explicit NULL/NaN guard: greatest/least IGNORE nulls (a NULL raw
    // would clamp to cell 0) and treat NaN as the LARGEST double (it
    // would clamp to the top cell)
    when(v.isNull || isnan(vd), lit(null).cast("long"))
      .otherwise(clamped.cast("long"))
  }

  /** Morton interleave of `cells` (each already in [0, 2^bits)): bit j
    * of dimension i lands at position j·n + i, so the key's high bits
    * cut value space into quadrants recursively. Pure shift/and/or —
    * one codegen expression, no UDF. Total key width bits·n must fit a
    * long. */
  def interleave(cells: Seq[Column], bits: Int): Column = {
    require(cells.nonEmpty && bits * cells.size <= 63,
      s"zorder key too wide: $bits bits x ${cells.size} dims")
    val n = cells.size
    val terms = for {
      (c, i) <- cells.zipWithIndex
      j <- 0 until bits
    } yield shiftleft(shiftright(c, j).bitwiseAND(lit(1L)), j * n + i)
    terms.reduce(_ bitwiseOR _)
  }

  /** BALANCED Z-order cell report: equal-frequency cells from the
    * exact/sketch quantile-edge size switch (QuantileBins.autoAxisTagged
    * — the q59/q140 regime per axis) Morton-interleaved into the q321
    * key. Every z-cell holds ~n/nBins² rows by construction, so a
    * range-partitioned layout on this key gets BALANCED files even on
    * heavily skewed marginals (fixed-range cells would pile the mass
    * into a few cells and starve the rest). Rows outside the half-open
    * edge span drop (the q170 Variable-index convention). Output:
    * (cell_q, cell_p, zkey, cnt). */
  def zorderQCells(df: DataFrame, xCol: String, yCol: String,
      nBins: Int): DataFrame = {
    require(nBins > 1 && (nBins & (nBins - 1)) == 0,
      s"nBins must be a power of two: $nBins")
    val bits = java.lang.Integer.numberOfTrailingZeros(nBins)
    val ax = graft.operators.QuantileBins.autoAxisTagged(
      df, col(xCol), xCol, nBins).axis
    val ay = graft.operators.QuantileBins.autoAxisTagged(
      df, col(yCol), yCol, nBins).axis
    graft.operators.Histogram.binCounts(df, Seq(col(xCol) -> ax, col(yCol) -> ay), Nil,
        graft.operators.HistOptions(intStorage = true))
      .select(col("__i0").as("cell_q"), col("__i1").as("cell_p"),
        interleave(Seq(col("__i0"), col("__i1")), bits).as("zkey"), col("cnt"))
  }

  /** Z-ordered parquet write: range-partition by the zorder key (so
    * files own disjoint key intervals = disjoint value-space
    * rectangles), sort within partitions (so row groups inside a file
    * are tight too), write. `nFiles` sizes the output files — at 100 TB
    * pick corpus_bytes / target_file_bytes. */
  def writeZOrdered(df: DataFrame, path: String, zkey: Column,
      nFiles: Int): Unit = {
    require(nFiles > 0, s"nFiles must be positive: $nFiles")
    df.withColumn("__zkey", zkey)
      .repartitionByRange(nFiles, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
  }
}
