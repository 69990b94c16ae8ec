package graft.operators

import graft.axes.BinAxis
import org.apache.spark.sql.{Column, DataFrame}

/** The former dense-array count kernels' entry points, now aliases of
  * [[Histogram]]'s dense form: without dims, `Histogram` runs the same
  * dense kernel ([[DenseHistogram]]) these calls used to run. Output is
  * the dense bin grid without flow bins, `(binsCol…, cnt)`. */
object FastHist {

  /** Dense 1-D histogram: `Histogram.histogram(..., dense = true)`. */
  def histogram1d(df: DataFrame, x: Column, ax: BinAxis): DataFrame =
    Histogram.histogram(df, x, ax, opts = HistOptions(dense = true))

  /** Dense 2-D histogram: `Histogram.histogram2d(..., dense = true)`. */
  def histogram2d(df: DataFrame, x1: Column, ax1: BinAxis,
      x2: Column, ax2: BinAxis): DataFrame =
    Histogram.histogram2d(df, x1, ax1, x2, ax2, opts = HistOptions(dense = true))
}
