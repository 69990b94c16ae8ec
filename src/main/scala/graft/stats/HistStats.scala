package graft.stats

import graft.axes.BinAxis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distribution statistics over histograms — the Spark re-expression of the
  * reference's accessor (xarray-histogram accessor.py): mean, var, std,
  * median, ppf, cdf, moment, interval, normalize, remove_flow, scale.
  *
  * The reference delegates to scipy.stats.rv_histogram — a continuous
  * distribution with stepwise pdf over the bin edges (accessor.py:397-441).
  * Here the same distribution is evaluated ANALYTICALLY with DataFrame
  * algebra, grouped by arbitrary dims (the accessor's vectorized loop over
  * non-bin dimensions):
  *
  *  - mean        = Σ cnt·c_i / T                    (c_i = bin center)
  *  - E[X²]       = Σ cnt·(c_i² + w_i²/12) / T       (exact for stepwise pdf)
  *  - cdf(x)      = Σ cnt·clamp((x-l_i)/w_i, 0, 1) / T
  *  - ppf(q)      = l_i + (q·T - cum_excl_i)/cnt_i · w_i   (piecewise-linear
  *                  inverse cdf; bin i = first with cum_incl ≥ q·T)
  *  - moment(k)   = Σ cnt·(r_i^{k+1} - l_i^{k+1})/((k+1)·w_i) / T
  *
  * All Σ go through DECIMAL(38,14) for order-independent, cross-engine
  * bit-identical results. Everything is groupBy/window algebra — a single
  * shuffle on top of the histogram's own; no collect, no UDF.
  *
  * Flow bins are excluded before computing, matching accessor.py:415-417.
  */
object HistStats {

  private def decSum(e: Column): Column = graft.util.Dec.sumDec(e)

  /** Indexed no-flow histogram + left edge `l` and width `w` columns:
    * Histogram's own aggregation step (the dense kernel without dims). */
  def base(df: DataFrame, x: Column, ax: BinAxis, dims: Seq[String],
      weight: Option[Column] = None): DataFrame =
    graft.operators.Histogram.binCounts(df, Seq(x -> ax), dims,
        graft.operators.HistOptions(weight = weight))
      .withColumn("l", ax.label(col("__i0")))
      .withColumn("w", ax.width(col("__i0")))

  private def grouped(b: DataFrame, dims: Seq[String])(aggs: Column*): DataFrame =
    if (dims.isEmpty) b.agg(aggs.head, aggs.tail: _*)
    else b.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)

  def mean(df: DataFrame, x: Column, ax: BinAxis, dims: Seq[String],
      weight: Option[Column] = None): DataFrame = {
    val c = col("l") + col("w") / lit(2.0)
    grouped(base(df, x, ax, dims, weight), dims)(
      (decSum(col("cnt") * c) / decSum(col("cnt"))).as(s"${ax.name}_mean"))
  }

  /** mean and variance in one pass; returns dims..., mean, var. */
  private def meanVar(df: DataFrame, x: Column, ax: BinAxis, dims: Seq[String],
      weight: Option[Column] = None): DataFrame = {
    val c = col("l") + col("w") / lit(2.0)
    grouped(base(df, x, ax, dims, weight), dims)(
      decSum(col("cnt") * c).as("__sp"),
      decSum(col("cnt") * (c * c + col("w") * col("w") / lit(12.0))).as("__ss"),
      decSum(col("cnt")).as("__t"))
      .withColumn("__m", col("__sp") / col("__t"))
      .withColumn("__v", col("__ss") / col("__t") - col("__m") * col("__m"))
  }

  def variance(df: DataFrame, x: Column, ax: BinAxis, dims: Seq[String],
      weight: Option[Column] = None): DataFrame =
    meanVar(df, x, ax, dims, weight)
      .select(dims.map(col) :+ col("__v").as(s"${ax.name}_var"): _*)

  def std(df: DataFrame, x: Column, ax: BinAxis, dims: Seq[String],
      weight: Option[Column] = None): DataFrame =
    meanVar(df, x, ax, dims, weight)
      .select(dims.map(col) :+ sqrt(col("__v")).as(s"${ax.name}_std"): _*)

  def cdf(df: DataFrame, x: Column, ax: BinAxis, dims: Seq[String], at: Double,
      weight: Option[Column] = None): DataFrame = {
    val contrib = col("cnt") *
      least(greatest((lit(at) - col("l")) / col("w"), lit(0.0)), lit(1.0))
    grouped(base(df, x, ax, dims, weight), dims)(
      (decSum(contrib) / decSum(col("cnt"))).as(s"${ax.name}_cdf"))
  }

  /** Histogram rows + running decimal-exact cumulative columns:
    * __cumi (inclusive), __cume (exclusive), __tot (group total). */
  private def withCums(b: DataFrame, dims: Seq[String]): DataFrame = {
    val wAll = if (dims.isEmpty) Window.partitionBy() else Window.partitionBy(dims.map(col): _*)
    val wOrd = wAll.orderBy(col("__i0"))
    val cumi = graft.util.Dec.exactDouble(sum(graft.util.Dec.toDec(col("cnt")))
      .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val cume = graft.util.Dec.exactDouble(coalesce(
      sum(graft.util.Dec.toDec(col("cnt")))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)),
      lit(0).cast(DecimalType(38, 14))))
    val tot = graft.util.Dec.exactDouble(sum(graft.util.Dec.toDec(col("cnt"))).over(wAll))
    b.withColumn("__cumi", cumi).withColumn("__cume", cume).withColumn("__tot", tot)
  }

  /** Pick the ppf bin (first with cum_incl >= q*total) as an aggregation:
    * min_by over rows satisfying the threshold — no row_number window pass.
    * Always non-null: cum_incl of the last bin equals total >= q*total. */
  private def ppfAgg(q: Double): Column =
    min_by(
      struct(col("l").as("l"), col("w").as("w"), col("cnt").as("cnt"),
        col("__cume").as("cume"), col("__tot").as("tot")),
      when(col("__cumi") >= lit(q) * col("__tot"), col("__i0")))

  private def ppfValue(s: Column, q: Double): Column =
    s.getField("l") +
      (lit(q) * s.getField("tot") - s.getField("cume")) / s.getField("cnt") * s.getField("w")

  /** ppf(q) per group; out column name defaults to <name>_ppf. */
  def ppf(df: DataFrame, x: Column, ax: BinAxis, dims: Seq[String], q: Double,
      outName: String = "", weight: Option[Column] = None): DataFrame = {
    require(q > 0 && q < 1)
    val name = if (outName.isEmpty) s"${ax.name}_ppf" else outName
    val sel = withCums(base(df, x, ax, dims, weight), dims)
    grouped(sel, dims)(ppfAgg(q).as("__s"))
      .select(dims.map(col) :+ ppfValue(col("__s"), q).as(name): _*)
  }

  def median(df: DataFrame, x: Column, ax: BinAxis, dims: Seq[String],
      weight: Option[Column] = None): DataFrame =
    ppf(df, x, ax, dims, 0.5, s"${ax.name}_median", weight)

  /** Raw moment of given order (k >= 1), analytic for the stepwise pdf. */
  def moment(df: DataFrame, x: Column, ax: BinAxis, dims: Seq[String], order: Int,
      weight: Option[Column] = None): DataFrame = {
    require(order >= 1 && order <= 6)
    def powK1(c: Column): Column = // x^(order+1) as an explicit product chain
      (1 until order + 1).foldLeft(c)((acc, _) => acc * c)
    val r = col("l") + col("w")
    val term = col("cnt") * ((powK1(r) - powK1(col("l"))) / (col("w") * lit((order + 1).toDouble)))
    grouped(base(df, x, ax, dims, weight), dims)(
      (decSum(term) / decSum(col("cnt"))).as(s"${ax.name}_moment"))
  }

  /** Equal-tail confidence interval: [ppf(p), ppf(1-p)], p = (1-conf)/2
    * (accessor.py:542-573). Both quantiles are picked in ONE aggregation
    * over one histogram pass — not two scans joined. */
  def interval(df: DataFrame, x: Column, ax: BinAxis, dims: Seq[String],
      confidence: Double, weight: Option[Column] = None): DataFrame = {
    require(confidence > 0 && confidence < 1)
    val p = (1 - confidence) / 2
    val sel = withCums(base(df, x, ax, dims, weight), dims)
    grouped(sel, dims)(ppfAgg(p).as("__lo"), ppfAgg(1 - p).as("__hi"))
      .select(dims.map(col) ++ Seq(
        ppfValue(col("__lo"), p).as("confidence_low"),
        ppfValue(col("__hi"), 1 - p).as("confidence_high")): _*)
  }

  /** Flow-bin predicate dispatched on the axis's actual label domain
    * (reference core.py:524-587): float axes label flow bins +/-inf,
    * Circular overflow +inf, Integer axes Long.Min/MaxValue, IntCategory
    * Long.MaxValue, StrCategory "_flow_bin". Inferring flow from a +/-inf
    * double comparison regardless of axis type breaks categorical axes:
    * the string->double coercion yields NULL predicates (dropping every
    * row), and integer flow labels are never recognized. */
  def isFlowLabel(ax: BinAxis): Column = {
    val b = col(ax.binsCol)
    ax match {
      case _: graft.axes.Regular | _: graft.axes.Variable =>
        b === lit(Double.NegativeInfinity) || b === lit(Double.PositiveInfinity)
      case _: graft.axes.Circular => b === lit(Double.PositiveInfinity)
      case _: graft.axes.IntegerAxis =>
        b === lit(Long.MinValue) || b === lit(Long.MaxValue)
      case _: graft.axes.IntCategory => b === lit(Long.MaxValue)
      case _: graft.axes.StrCategory => b === lit("_flow_bin")
    }
  }

  /** Loud hand-off validation for histogram-input entry points
    * (reference accessor.py:73-130 `_check_name`/`_check_bins`): every
    * histogram this library produces carries [[graft.axes.AxisMetadata]]
    * on its bins column, so when that metadata is present it must
    * describe the SAME axis the caller passed — catching a mismatched
    * (hist, axis) pair at the API boundary instead of letting it run as
    * silently-wrong bin arithmetic. Comparison is metadata-to-metadata
    * after a normalize round-trip (array-edged axes compare by value;
    * legacy persisted keys normalize away). DataFrames without attached
    * metadata (hand-built inputs, foreign sources) pass unchecked; a
    * histogram whose bins column is named differently than the passed
    * axis's fails downstream with the usual column-resolution error. */
  private def requireAxisMatch(hist: DataFrame, ax: BinAxis): Unit =
    hist.schema.find(_.name == ax.binsCol).foreach { f =>
      if (f.metadata.contains("bin_type")) {
        val attached = graft.axes.AxisMetadata.toMetadata(
          graft.axes.AxisMetadata.fromMetadata(f.metadata))
        val passed = graft.axes.AxisMetadata.toMetadata(ax)
        require(attached == passed,
          s"histogram/axis hand-off mismatch on column '${ax.binsCol}': " +
            s"the DataFrame's attached axis is $attached but the caller " +
            s"passed $passed — reconstruct the axis with " +
            "AxisMetadata.axisOf(df, binsCol) or pass the axis the " +
            "histogram was built with")
      }
    }

  /** Normalize a sparse labelled histogram (dims, bins, cnt) into a pdf —
    * the accessor's `normalize` over an already-computed histogram. */
  def normalize(hist: DataFrame, ax: BinAxis, dims: Seq[String]): DataFrame = {
    requireAxisMatch(hist, ax)
    val isFlow = isFlowLabel(ax)
    val w = Window.partitionBy(dims.map(col): _*)
    val total = graft.util.Dec.exactDouble(
      sum(graft.util.Dec.toDec(
        when(isFlow, lit(0.0)).otherwise(col("cnt")))).over(w))
    val outCols = hist.columns.filterNot(_ == "cnt").map(col) :+ col("pdf")
    withLabelWidth(hist, ax, "__bw")
      .withColumn("pdf",
        col("cnt") / when(isFlow, lit(1.0)).otherwise(col("__bw")) / total)
      .select(outCols: _*)
  }

  /** Normalize an N-D histogram along a SUBSET of its variables
    * (accessor.normalize(variables=...) -> core.py:649-663): pdf = cnt /
    * area(over bins) / total, where total sums the no-flow histogram along
    * the normalized variables ONLY — the other bin axes remain loop
    * dimensions — and area is the product of the chosen axes' widths
    * (flow bins count as area 1, matching get_area). */
  def normalizeOver(hist: DataFrame, axes: Seq[BinAxis], over: Seq[BinAxis],
      dims: Seq[String]): DataFrame = {
    require(over.nonEmpty && over.forall(axes.contains), "normalize variables must be axes")
    axes.foreach(requireAxisMatch(hist, _))
    val loopAxes = axes.filterNot(over.contains)
    val loopBins = loopAxes.map(_.binsCol)
    // Rows whose LOOP-axis coordinate is a flow bin form partitions whose
    // no-flow total is 0 (pdf would be Infinity); the reference's xarray
    // alignment drops those coordinates entirely, so drop them here too.
    // Flow bins along the NORMALIZED axes are kept (area 1, excluded from
    // the total) — the q77 density+flow contract.
    val noLoopFlow = loopAxes.map(isFlowLabel).reduceOption(_ || _)
      .fold(hist)(p => hist.filter(!p))
    val w = Window.partitionBy((dims ++ loopBins).map(col): _*)
    val anyFlow = axes.map(isFlowLabel).reduce(_ || _)
    val total = graft.util.Dec.exactDouble(
      sum(graft.util.Dec.toDec(when(anyFlow, lit(0.0)).otherwise(col("cnt")))).over(w))
    val withWidths = over.zipWithIndex.foldLeft(noLoopFlow) { case (df, (ax, k)) =>
      withLabelWidth(df, ax, s"__bw$k")
    }
    val area = over.zipWithIndex.map { case (ax, k) =>
      when(isFlowLabel(ax), lit(1.0)).otherwise(col(s"__bw$k"))
    }.reduce(_ * _)
    val outCols = hist.columns.filterNot(_ == "cnt").map(col) :+ col("pdf")
    withWidths.withColumn("pdf", col("cnt") / area / total).select(outCols: _*)
  }

  /** Width column looked up by broadcast-joining the axis's bins table on
    * the label (exact literal match — labels were generated from the same
    * edge literals). A join, not an O(nBins) CASE chain: a 10k-bin
    * Variable axis would otherwise build a 10k-deep when() expression and
    * fall out of whole-stage codegen. Labels with no matching regular bin
    * (flow bins, categorical/integer axes) get width 1. */
  private def withLabelWidth(hist: DataFrame, ax: BinAxis, out: String): DataFrame =
    if (axisEdges(ax).isEmpty) hist.withColumn(out, lit(1.0))
    else {
      val bt = broadcast(binsTable(hist.sparkSession, ax)
        .select(col("left_edge").as(ax.binsCol), col("width").as(out)))
      hist.join(bt, Seq(ax.binsCol), "left")
        .withColumn(out, coalesce(col(out), lit(1.0)))
    }

  private def axisEdges(ax: BinAxis): Array[Double] = ax match {
    case a: graft.axes.Regular => a.edges
    case a: graft.axes.Variable => a.edges
    case a: graft.axes.Circular => a.edges
    case _ => Array.empty // categorical / integer axes: unit-width bins
  }

  /** Remove flow bins from a labelled histogram (accessor.py:278-305). */
  def removeFlow(hist: DataFrame, ax: BinAxis): DataFrame = {
    requireAxisMatch(hist, ax)
    hist.filter(!isFlowLabel(ax))
  }

  /** Remove flow bins across a LIST of variables — the reference's
    * `remove_flow(variables=[...])` N-D form (accessor.py:278-305): a row
    * survives only if NONE of the listed axes' coordinates is a flow bin.
    * One conjunctive filter, not a filter chain — a single codegen'd
    * predicate pass. */
  def removeFlow(hist: DataFrame, axes: Seq[BinAxis]): DataFrame = {
    require(axes.nonEmpty, "removeFlow needs at least one axis")
    axes.foreach(requireAxisMatch(hist, _))
    hist.filter(!axes.map(isFlowLabel).reduce(_ || _))
  }

  /** Scale the bins coordinate (accessor.scale, accessor.py:382-395). */
  def scaleBins(hist: DataFrame, ax: BinAxis, factor: Double): DataFrame = {
    requireAxisMatch(hist, ax)
    hist.withColumn(ax.binsCol, col(ax.binsCol) * lit(factor))
  }

  /** Static per-axis bins metadata table: idx, left edge, center, width
    * (accessor edges/centers/widths, accessor.py:148-230). Pure metadata —
    * never scans data. With `flow = true` the axis's flow bins are included
    * as idx -1 / nBins rows: their coordinate is the flow label (-inf/+inf,
    * Long.Min/Max, "_flow_bin"), their center equals that label ("the
    * centers of flow bins are the same as their position"), and their
    * width is 1 — the accessor's flow=True coordinate contract. */
  def binsTable(spark: SparkSession, ax: BinAxis, flow: Boolean = false): DataFrame = {
    val lo = if (flow && ax.underflow) -1L else 0L
    val hi = if (flow && ax.overflow) ax.nBins + 1L else ax.nBins.toLong
    val isFlowIdx = col("id") === lit(-1L) || col("id") === lit(ax.nBins.toLong)
    spark.range(lo, hi).select(
      col("id").as("idx"),
      ax.label(col("id")).as("left_edge"),
      when(isFlowIdx, ax.label(col("id")))
        .otherwise(ax.label(col("id")) + ax.width(col("id")) / lit(2.0)).as("center"),
      ax.width(col("id")).as("width"))
  }

  /** Histogram CONVOLUTION — the distribution of X + Y from the two
    * marginals under independence, without touching row-level data
    * (the algebra move behind synthetic-total modeling: latency =
    * queue + service, spend = base + surcharge): for equal-width
    * Regular axes, c[k] = Σ_{i+j=k} a[i]·b[j] on the sum axis
    * [lo_a+lo_b, hi_a+hi_b) with n_a+n_b−1 bins; the output carries
    * PAIR mass (Σc = |A|·|B| — normalize downstream for a pdf).
    *
    * Cross-engine: integer-valued counts cast to DECIMAL(19,0) BEFORE
    * the pair multiply (a double product rounds past 2^53 — e.g. two
    * ~1e8-count bins; 19,0 x 19,0 is exact in both engines and the
    * product always fits 38 digits), summed per output bin through
    * DECIMAL(38,14) (pair products >= 1e24 would null-skip — far
    * beyond any physical count). Fractional weighted counts are NOT
    * supported: the decimal cast rounds them (the count-histogram
    * contract, as before, just now enforced at full precision); the bin
    * label is lo_a+lo_b + k·w with the literals computed once in Scala
    * and injected identically. Off-grid labels raise (the drift-family
    * require). Scale shape: the join is bins_a×bins_b — metadata-sized
    * regardless of corpus size; histogram relations are touched
    * once each. */
  def convolve(a: DataFrame, b: DataFrame, axA: graft.axes.Regular,
      axB: graft.axes.Regular): DataFrame = {
    val wA = (axA.hi - axA.lo) / axA.nBins
    val wB = (axB.hi - axB.lo) / axB.nBins
    require(wA == wB,
      s"convolve needs equal bin widths: $wA vs $wB")
    def checked(h: DataFrame, ax: BinAxis, side: String): DataFrame = {
      val bins = binsTable(h.sparkSession, ax)
        .select(col("left_edge").as(ax.binsCol))
      val offGrid = h.select(col(ax.binsCol)).distinct()
        .join(broadcast(bins), Seq(ax.binsCol), "left_anti").count()
      require(offGrid == 0L,
        s"convolve requires flow-free histograms on the axis grid " +
          s"($side: $offGrid off-grid label(s))")
      h
    }
    // recover bin indices by EXACT label equality against the bins
    // table (running the value->index formula on an edge label risks a
    // one-ulp misbin; labels come from the same formula, so they match)
    def indexed(h: DataFrame, ax: BinAxis, out: String,
        cntOut: String): DataFrame =
      h.join(broadcast(binsTable(h.sparkSession, ax)
          .select(col("left_edge").as(ax.binsCol), col("idx").as(out))),
          Seq(ax.binsCol))
        .select(col(out), col("cnt").as(cntOut))
    val ia = indexed(checked(a, axA, "left"), axA, "__i", "__ca")
    val ib = indexed(checked(b, axB, "right"), axB, "__j", "__cb")
    val loSum = axA.lo + axB.lo
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    ia.crossJoin(broadcast(ib))
      .select((col("__i") + col("__j")).as("__k"),
        (col("__ca").cast(d19) * col("__cb").cast(d19)).as("__m"))
      .groupBy(col("__k"))
      .agg(graft.util.Dec.sumDec(col("__m")).as("cnt"))
      .select((lit(loSum) + col("__k").cast("double") * lit(wA))
        .as(s"${axA.name}_${axB.name}_sum_bins"), col("cnt"))
  }

  /** Flux-conserving REGRID of a histogram onto arbitrary new edges —
    * the interpolating completion of the rebin algebra (q110's rebin
    * merges whole integer groups of bins; scale/apply_func move the
    * coordinate without touching counts; regrid redistributes counts
    * onto a DIFFERENT grid, the astronomy/spectroscopy convention for
    * comparing histograms binned by different tools): each source
    * bin's count splits across the new bins proportionally to overlap
    * length, so total mass is conserved wherever the new grid covers
    * the old (counts become fractional doubles — the density
    * convention). New bins with zero overlap are absent.
    *
    * Cross-engine: overlap fractions are single IEEE sequences on
    * exact edge literals ((min(r)−max(l))/srcWidth), each term one
    * multiply, per-new-bin terms folded in SOURCE-bin order (sorted
    * array + HOF fold vs SUM ORDER BY). Scale shape: the overlap join
    * is bins×newBins — metadata-sized, broadcast; the histogram
    * relation is touched once, keyed by its bin label. */
  def regrid(h: DataFrame, ax: BinAxis, newEdges: Seq[Double],
      dims: Seq[String] = Nil): DataFrame = {
    require(newEdges.size >= 2 && newEdges.sliding(2).forall(p => p(0) < p(1)),
      "newEdges must be at least two strictly increasing edges")
    val spark = h.sparkSession
    val src = binsTable(spark, ax)
      .select(col("idx").as("__si"), col("left_edge").as(ax.binsCol),
        col("width").as("__w"))
    val dst = newEdges.init.zip(newEdges.tail).zipWithIndex.map {
      case ((l, r), i) => (i.toLong, l, r)
    }
    import spark.implicits._
    val dstDf = dst.toDF("__di", "__dl", "__dr")
    val ov = src.crossJoin(dstDf)
      .withColumn("__lo", greatest(col(ax.binsCol), col("__dl")))
      .withColumn("__hi", least(col(ax.binsCol) + col("__w"), col("__dr")))
      .filter(col("__hi") > col("__lo"))
      .select(col("__si"), col(ax.binsCol), col("__di"), col("__dl"),
        ((col("__hi") - col("__lo")) / col("__w")).as("__frac"))
    val joined = h.select(dims.map(col) ++
        Seq(col(ax.binsCol), col("cnt")): _*)
      .join(broadcast(ov), Seq(ax.binsCol))
    binTerms(joined, dims :+ "__dl", col("__si"), "t" -> col("cnt") * col("__frac"))
      .select(dims.map(col) ++ Seq(
        col("__dl").as(s"${ax.name}_regrid_bins"),
        foldTerms().as("cnt")): _*)
  }

  /** Bin areas over multiple axes: the cross product of the axes' bin
    * tables with area = product of widths (accessor.areas,
    * accessor.py:231-250). Metadata-only; broadcastable. */
  def areasTable(spark: SparkSession, axes: Seq[BinAxis]): DataFrame = {
    require(axes.nonEmpty)
    val tables = axes.map { ax =>
      binsTable(spark, ax).select(
        col("left_edge").as(ax.binsCol), col("width").as(s"__w_${ax.name}"))
    }
    val grid = tables.reduce(_.crossJoin(_))
    grid.withColumn("area", axes.map(ax => col(s"__w_${ax.name}")).reduce(_ * _))
      .select(axes.map(ax => col(ax.binsCol)) :+ col("area"): _*)
  }

  /** Transform the bins coordinate of a computed histogram with an
    * arbitrary Column function (accessor.apply_func, accessor.py:355-380).
    * `scaleBins` is the special case f = _ * factor. */
  def applyToBins(hist: DataFrame, ax: BinAxis, f: Column => Column): DataFrame =
    hist.withColumn(ax.binsCol, f(col(ax.binsCol)))

  /** Whether a histogram DataFrame is normalized (pdf column present) —
    * accessor.is_normalized, accessor.py:132. */
  def isNormalized(hist: DataFrame): Boolean = hist.columns.contains("pdf")

  /** Two count histograms over ONE axis, aligned bin by bin: the one
    * comparison step under the drift family ([[drift]], [[psi]],
    * [[pull]], [[emd]], [[cvm]], [[ks]], [[hellinger]], [[jsDivergence]]
    * and the `*From` forms). `rows` carries dims, the bin label
    * (`ax.binsCol`) and the side counts `__ca`/`__cb`, 0 where a side
    * lacks the bin. The contracts every member shares:
    *
    *  - pointwise metrics align on the FULL-OUTER join of the occupied
    *    bins ([[outerAligned]]); CDF/grid metrics align on the DENSE
    *    axis grid ([[gridAligned]], bin width in `__bw`): a sparse
    *    histogram omits empty bins, but an empty bin between occupied
    *    ones still carries a CDF gap;
    *  - the dense grid exists only on the finite axis: a label it does
    *    not know (a flow row, other edges) would vanish from both terms
    *    and totals, so it raises eagerly instead ([[requireOnGrid]]);
    *  - totals `ta`/`tb` and running cumulatives `cca`/`ccb` are
    *    DECIMAL(38,14)-exact before ONE double cast each;
    *  - a side with zero total mass (empty input, or a dims key present
    *    in only one snapshot) has no distribution: [[perBin]] makes its
    *    terms NULL, so the metric is NULL for exactly that group, never
    *    0/0;
    *  - per-bin terms sum by the bin-order fold ([[binTerms]]).
    *
    * Scale shape: both inputs are ALREADY aggregated (≤ nBins rows per
    * group), so the join, the per-group windows and the fold all run on
    * histogram-sized relations — the raw corpora are never touched. */
  private final case class Aligned(rows: DataFrame, ax: BinAxis, dims: Seq[String]) {
    private val group = Window.partitionBy(dims.map(col): _*)
    private val upTo = group.orderBy(col(ax.binsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    private def exact(c: String, w: WindowSpec): Column =
      graft.util.Dec.exactDouble(sum(graft.util.Dec.toDec(col(c))).over(w))
    val ta: Column = exact("__ca", group)
    val tb: Column = exact("__cb", group)
    val cca: Column = exact("__ca", upTo)
    val ccb: Column = exact("__cb", upTo)

    /** `t`, or NULL where either side's total is zero. The guard sits ON
      * the term: ANSI double-divide throws on /0, and a Project computes
      * unguarded columns eagerly even when a later CASE would mask them. */
    def perBin(t: Column): Column =
      when(ta === lit(0.0) || tb === lit(0.0), lit(null).cast("double")).otherwise(t)
    def withColumns(cs: (String, Column)*): Aligned = copy(rows = rows.withColumns(cs.toMap))
    def fold(terms: (String, Column)*): DataFrame =
      binTerms(rows, dims, col(ax.binsCol), terms: _*)
  }

  private def side(h: DataFrame, ax: BinAxis, dims: Seq[String], cnt: String): DataFrame =
    h.select(dims.map(col) ++ Seq(col(ax.binsCol), col("cnt").as(cnt)): _*)

  /** [[Aligned]] on the full-outer join of the two sides' occupied bins. */
  private def outerAligned(a: DataFrame, b: DataFrame, ax: BinAxis,
      dims: Seq[String]): Aligned =
    Aligned(side(a, ax, dims, "__ca")
      .join(side(b, ax, dims, "__cb"), dims :+ ax.binsCol, "full_outer")
      .na.fill(0.0, Seq("__ca", "__cb")), ax, dims)

  /** [[Aligned]] on the dense axis grid: every group seen on either side
    * × every bin. `metric` names the caller in the off-grid error. */
  private def gridAligned(metric: String, a: DataFrame, b: DataFrame, ax: BinAxis,
      dims: Seq[String]): Aligned = {
    val (aa, bb) = (side(a, ax, dims, "__ca"), side(b, ax, dims, "__cb"))
    requireOnGrid(aa.select(col(ax.binsCol)).union(bb.select(col(ax.binsCol))), ax, metric)
    val bins = binsTable(a.sparkSession, ax)
      .select(col("left_edge").as(ax.binsCol), col("width").as("__bw"))
    val grid = if (dims.isEmpty) bins
      else aa.select(dims.map(col): _*).union(bb.select(dims.map(col): _*)).distinct()
        .crossJoin(broadcast(bins))
    Aligned(grid.join(aa, dims :+ ax.binsCol, "left")
      .join(bb, dims :+ ax.binsCol, "left")
      .na.fill(0.0, Seq("__ca", "__cb")), ax, dims)
  }

  /** Raise unless every distinct label of the one-column `labels` is a
    * finite bin of `ax`: an eager broadcast-join count, cheap on the
    * histogram-sized inputs it guards. */
  private def requireOnGrid(labels: DataFrame, ax: BinAxis, what: String): Unit = {
    val bins = binsTable(labels.sparkSession, ax).select(col("left_edge").as(ax.binsCol))
    val offGrid = labels.distinct().join(broadcast(bins), Seq(ax.binsCol), "left_anti").count()
    require(offGrid == 0L,
      s"$what requires flow-free histograms binned on the axis grid: " +
        s"$offGrid bin label(s) outside the ${ax.nBins}-bin ${ax.binsCol} axis")
  }

  /** Per `keys` group, the named per-bin `terms` collected as
    * `__terms`, an array of structs sorted by the bin order `k`;
    * [[foldTerms]] sums one field of it left to right.
    *
    * The per-bin terms are full-precision ratios, where the
    * DECIMAL(38,14) route is NOT cross-engine-safe: quantizing to 14
    * decimals goes through the double's decimal string, and Java 17's
    * Double.toString emits non-shortest digit strings for some doubles,
    * so the half-up rounding at digit 14 can differ from DuckDB's by one
    * quantum per term. The explicit left-to-right fold in bin order is
    * the sequential-sum contract the oracles pin with SUM(x ORDER BY k);
    * the interpreted HOF fold is fine on an already-aggregated
    * histogram-sized array. */
  private def binTerms(rows: DataFrame, keys: Seq[String], k: Column,
      terms: (String, Column)*): DataFrame = {
    val withTerms = rows.withColumns(terms.map { case (n, t) => s"__t_$n" -> t }.toMap)
    grouped(withTerms, keys)(sort_array(collect_list(struct(
      k.as("k") +: terms.map { case (n, _) => col(s"__t_$n").as(n) }: _*))).as("__terms"))
  }

  private def foldTerms(field: String = "t"): Column =
    aggregate(col("__terms"), lit(0.0), (acc, x) => acc + x.getField(field))

  /** ln quantized to the 1e-9 floor: ln is the one libm call engines
    * disagree on, so every ln in the family goes through this. */
  private[graft] def qln(x: Column): Column = floor(log(x) * lit(1.0e9)) / lit(1.0e9)

  /** The dims-free reference histogram `ref` replicated across every
    * group of `a`: the broadcast reference grid the `*From` forms and
    * the batch live monitors score against. */
  private[graft] def refGrid(a: DataFrame, ref: DataFrame, ax: BinAxis,
      dims: Seq[String]): DataFrame =
    a.select(dims.map(col): _*).distinct()
      .crossJoin(broadcast(ref.select(col(ax.binsCol), col("cnt"))))

  /** `metric` per group of `a` against the reference grid of `ref`. */
  private def fromRef(metric: String, a: DataFrame, ref: DataFrame, ax: BinAxis,
      dims: Seq[String])(score: DataFrame => DataFrame): DataFrame = {
    require(dims.nonEmpty, s"${metric}From scores per group; use $metric for the global form")
    score(refGrid(a, ref, ax, dims))
  }

  /** Distribution drift between two histograms over the SAME axis (the
    * monitoring primitive behind data-quality dashboards: reference
    * window vs current window): per dims group, total-variation distance
    * 0.5·Σ|p_i − q_i| and the chi-square-style symmetric divergence
    * Σ (p_i − q_i)²/(p_i + q_i) (= 2·χ²_sym; bins absent from one side
    * count as 0). Both metrics are log-free — every step is either a
    * DECIMAL(38,14)-exact sum or a fixed sequence of correctly-rounded
    * IEEE ops, so results are bit-identical cross-engine (a KL/JS variant
    * would hinge on ln(), which carries no cross-engine bit guarantee).
    * Inputs are count histograms; drift from an empty distribution is
    * undefined, so a group whose total is zero on either side scores
    * NULL. [[Aligned]] holds the shared contracts. */
  def drift(a: DataFrame, b: DataFrame, ax: BinAxis,
      dims: Seq[String] = Nil): DataFrame = {
    val al = outerAligned(a, b, ax, dims)
    val d = col("__p") - col("__q")
    val s = col("__p") + col("__q")
    al.withColumns("__p" -> al.perBin(col("__ca") / al.ta), "__q" -> al.perBin(col("__cb") / al.tb))
      .fold("t1" -> abs(d), "t2" -> al.perBin(when(s > lit(0.0), d * d / s).otherwise(lit(0.0))))
      .select(dims.map(col) ++ Seq(
        (foldTerms("t1") * lit(0.5)).as("tvd"),
        foldTerms("t2").as("chisq")): _*)
  }

  /** Population Stability Index between two count histograms over the
    * SAME axis — the industry-standard drift score model monitoring
    * alarms on (PSI < 0.1 stable, > 0.25 shifted):
    * Σ_bins (p̂_i − q̂_i)·ln(p̂_i/q̂_i) with both mass ratios clamped to
    * ≥ `eps` (the standard zero-bin smoothing, making every term
    * well-defined and the score finite). Complements [[drift]]'s
    * log-free TVD/χ²: PSI's ln() weighting is what monitoring
    * thresholds are published against.
    *
    * Cross-engine exactness: ln() runs once per BIN on identical
    * clamped ratios and is [[qln]]-quantized; every other op is a
    * correctly-rounded IEEE step in pinned order. A side with zero total
    * makes its ratios NULL ([[Aligned.perBin]]): NULL term -> the
    * in-order fold propagates -> NULL psi for exactly the affected
    * group, and an empty comparison is NULL too. Pinned identically in
    * Oracle.psi / Oracle.psiGrouped. */
  def psi(a: DataFrame, b: DataFrame, ax: BinAxis, eps: Double = 1e-6,
      dims: Seq[String] = Nil): DataFrame = {
    require(eps > 0.0, s"eps must be positive: $eps")
    val al = outerAligned(a, b, ax, dims)
    val ph = greatest(col("__p"), lit(eps))
    val qh = greatest(col("__q"), lit(eps))
    val term = when(col("__p").isNull || col("__q").isNull,
        lit(null).cast("double"))
      .otherwise((ph - qh) * qln(ph / qh))
    al.withColumns("__p" -> al.perBin(col("__ca") / al.ta),
        "__q" -> al.perBin(col("__cb") / al.tb))
      .fold("t" -> term)
      .select(dims.map(col) :+
        when(size(col("__terms")) === 0, lit(null).cast("double"))
          .otherwise(foldTerms()).as("psi"): _*)
  }

  /** 1-D Earth Mover's Distance (Wasserstein-1) between two binned
    * distributions, in the units of the axis: EMD = Σᵢ
    * |CDFa(i) − CDFb(i)| · widthᵢ — how far, on average, probability
    * mass must move to turn one distribution into the other. The
    * drift metric with UNITS ("scores shifted ~12 points"), joining
    * [[drift]]'s TVD/χ² and [[psi]]'s ln-weighted score: TVD counts
    * mismatched mass, EMD also weighs the distance it moved, so a
    * one-bin nudge and a cross-range jump with equal TVD separate.
    * Requires an ORDERED axis (flow-free histograms: mass at infinity
    * has no finite transport cost). Dense grid, off-grid raise,
    * zero total → NULL and the bin-order fold are [[Aligned]]'s; the
    * per-bin |·|·width term is a fixed IEEE sequence. Pinned in
    * Oracle.emd. */
  def emd(a: DataFrame, b: DataFrame, ax: BinAxis,
      dims: Seq[String] = Nil): DataFrame = {
    val al = gridAligned("emd", a, b, ax, dims)
    al.fold("t" -> al.perBin(abs(al.cca / al.ta - al.ccb / al.tb) * col("__bw")))
      .select(dims.map(col) :+ foldTerms().as("emd"): _*)
  }

  /** Binned two-sample Cramér–von Mises criterion between two count
    * histograms: Σᵢ (CDFa(i) − CDFb(i))² over the DENSE axis grid — the
    * drift quartet's integrated-gap head ([[psi]] = ln-weighted score,
    * [[emd]] = units-carrying transport cost, [[ks]] = the single
    * largest gap, CvM = the WHOLE CDF discrepancy: sensitive to many
    * moderate gaps that never trip KS's max). Unnormalized binned form
    * — comparable across windows/groups on the same axis. Contracts are
    * [[Aligned]]'s; each term is g·g after one subtraction. */
  def cvm(a: DataFrame, b: DataFrame, ax: BinAxis,
      dims: Seq[String] = Nil): DataFrame = {
    val al = gridAligned("cvm", a, b, ax, dims)
    val gap = al.cca / al.ta - al.ccb / al.tb
    al.fold("t" -> al.perBin(gap * gap))
      .select(dims.map(col) :+ foldTerms().as("cvm"): _*)
  }

  /** Bhattacharyya coefficient + HELLINGER distance between two count
    * histograms — the drift family's bounded symmetric metric
    * (BC = Σ√(pᵢ·qᵢ) ∈ [0,1], H = √(1−BC) ∈ [0,1]: a truly metric
    * distance, unlike PSI's unbounded score, with no epsilon floor —
    * a bin empty on one side contributes exactly 0, not a clamped ln):
    * term √(p·q) (sqrt is correctly rounded — no quantization needed
    * anywhere) and H = √(max(0, 1−BC)) (the clamp absorbs the last-ulp
    * BC > 1 of an identical pair). Contracts are [[Aligned]]'s. */
  def hellinger(a: DataFrame, b: DataFrame, ax: BinAxis,
      dims: Seq[String] = Nil): DataFrame = {
    val al = gridAligned("hellinger", a, b, ax, dims)
    val bc = foldTerms()
    al.fold("t" -> al.perBin(sqrt((col("__ca") / al.ta) * (col("__cb") / al.tb))))
      .select(dims.map(col) ++ Seq(bc.as("bc"),
        // greatest() SKIPS NULLs in both engines — guard the lifecycle
        // NULL explicitly or a dead side would read hellinger = 0
        when(bc.isNull, lit(null).cast("double"))
          .otherwise(sqrt(greatest(lit(0.0), lit(1.0) - bc))).as("hellinger")): _*)
  }

  /** Jensen–Shannon DIVERGENCE between two count histograms — the
    * drift family's information-theoretic head (PSI needs an epsilon
    * floor to survive empty bins and is unbounded; JS is finite by
    * construction — a bin empty on one side contributes q·ln2, not a
    * clamp — symmetric, and bounded by ln 2, so thresholds transfer
    * across metrics): JS = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m) with
    * m = (p+q)/2 and 0·ln(0/m) ≡ 0. Each ln is [[qln]]-quantized;
    * contracts are [[Aligned]]'s. */
  def jsDivergence(a: DataFrame, b: DataFrame, ax: BinAxis,
      dims: Seq[String] = Nil): DataFrame = {
    val al = gridAligned("jsDivergence", a, b, ax, dims)
    val p = col("__ca") / al.ta
    val q = col("__cb") / al.tb
    val m = (p + q) / lit(2.0)
    val term =
      when(col("__ca") > lit(0.0), p * qln(p / m)).otherwise(lit(0.0)) +
      when(col("__cb") > lit(0.0), q * qln(q / m)).otherwise(lit(0.0))
    al.fold("t" -> al.perBin(term))
      .select(dims.map(col) :+ (foldTerms() / lit(2.0)).as("js"): _*)
  }

  /** Binned two-sample Kolmogorov–Smirnov statistic between two count
    * histograms: D = maxᵢ |CDFa(i) − CDFb(i)| over the DENSE axis grid —
    * the scale-free companion of [[emd]] (EMD carries axis units and
    * weighs how FAR mass moved; KS is the largest single CDF gap, the
    * classic 0..1 drift alarm with published critical values). The
    * binned form is what a histogram supports — it lower-bounds the
    * raw-value [[ksTest]] (coarsening can only shrink CDF gaps) and is
    * the one a streaming monitor can compute from bounded state.
    * Contracts are [[Aligned]]'s, except that MAX is order-free — no
    * fold at all: a dead side makes every gap NULL, and MAX over
    * all-NULL is NULL for exactly that group (max skips NULLs, and NULL
    * gaps only occur group-wide). Pinned in Oracle.ksFromByDim. */
  def ks(a: DataFrame, b: DataFrame, ax: BinAxis,
      dims: Seq[String] = Nil): DataFrame = {
    val al = gridAligned("ks", a, b, ax, dims)
    grouped(al.withColumns("__g" -> al.perBin(abs(al.cca / al.ta - al.ccb / al.tb))).rows,
      dims)(max(col("__g")).as("ks"))
  }

  /** Per-bin PULL between two count histograms (the ROOT-style residual
    * plot: which bins disagree, and by how many sigmas under Poisson
    * errors): pull_i = (a_i − b_i) / √(a_i + b_i), with the per-bin
    * counts carried through. The per-bin companion to [[drift]]'s
    * scalar metrics — drift says THAT distributions diverged, pull says
    * WHERE. Full-outer alignment ([[Aligned]]), absent bins count 0; the
    * tail is subtraction of exactly-representable counts, one √, one
    * division — a fixed IEEE sequence, bit-identical cross-engine. A
    * bin with zero counts on both sides (dense-histogram zero rows)
    * yields NULL. */
  def pull(a: DataFrame, b: DataFrame, ax: BinAxis,
      dims: Seq[String] = Nil): DataFrame =
    outerAligned(a, b, ax, dims).rows
      .select(dims.map(col) ++ Seq(col(ax.binsCol),
        col("__ca").as("cnt_a"), col("__cb").as("cnt_b"),
        when(col("__ca") + col("__cb") > lit(0.0),
          (col("__ca") - col("__cb")) / sqrt(col("__ca") + col("__cb")))
          .otherwise(lit(null).cast("double")).as("pull")): _*)

  /** Per-group drift against ONE shared reference histogram (the
    * monitoring form: every window/day/source scored against the same
    * baseline distribution). The reference (histogram-sized, no dims) is
    * broadcast-replicated across the groups present in `a` ([[refGrid]]),
    * then scored with the exact [[drift]] algebra — each group's
    * full-outer bin join sees the complete reference support, so a group
    * missing a reference bin still pays its TVD/chi-square share. */
  def driftFrom(a: DataFrame, ref: DataFrame, ax: BinAxis,
      dims: Seq[String]): DataFrame =
    fromRef("drift", a, ref, ax, dims)(drift(a, _, ax, dims))

  /** Per-group PSI against one shared reference histogram — the rolling
    * drift monitor in its published form ("PSI of each day's score
    * distribution vs the training snapshot; alarm past 0.25"): the
    * [[psi]] metric on [[driftFrom]]'s broadcast reference grid. */
  def psiFrom(a: DataFrame, ref: DataFrame, ax: BinAxis,
      dims: Seq[String], eps: Double = 1e-6): DataFrame =
    fromRef("psi", a, ref, ax, dims)(psi(a, _, ax, eps, dims))

  /** Per-group EMD against one shared reference histogram — [[emd]]'s
    * units-carrying drift score in [[psiFrom]]'s rolling-monitor shape
    * ("how many axis units did each day's distribution move from the
    * training snapshot?"). */
  def emdFrom(a: DataFrame, ref: DataFrame, ax: BinAxis,
      dims: Seq[String]): DataFrame =
    fromRef("emd", a, ref, ax, dims)(emd(a, _, ax, dims))

  /** Per-group binned KS against one shared reference histogram —
    * [[ks]] in [[psiFrom]]'s rolling-monitor shape. */
  def ksFrom(a: DataFrame, ref: DataFrame, ax: BinAxis,
      dims: Seq[String]): DataFrame =
    fromRef("ks", a, ref, ax, dims)(ks(a, _, ax, dims))

  /** Per-group binned CvM against one shared reference histogram —
    * [[cvm]] in [[psiFrom]]'s rolling-monitor shape. */
  def cvmFrom(a: DataFrame, ref: DataFrame, ax: BinAxis,
      dims: Seq[String]): DataFrame =
    fromRef("cvm", a, ref, ax, dims)(cvm(a, _, ax, dims))

  /** Per-group PULL against one shared reference histogram — [[pull]]'s
    * per-bin residuals in [[psiFrom]]'s rolling-monitor shape (the
    * drill-down beside the scalar drift scores: WHICH bins moved, by
    * how many Poisson sigmas). */
  def pullFrom(a: DataFrame, ref: DataFrame, ax: BinAxis,
      dims: Seq[String]): DataFrame =
    fromRef("pull", a, ref, ax, dims)(pull(a, _, ax, dims))

  /** Two-sample WELCH t-test between two value populations — the drift
    * family's mean-level significance head (PSI/EMD/KS/CvM say the
    * DISTRIBUTION moved; this says whether the MEAN moved more than
    * sampling noise explains, without assuming equal variances):
    * t = (x̄₁−x̄₂)/√(s₁²/n₁+s₂²/n₂) with the Welch–Satterthwaite
    * degrees of freedom. Emits one row: n/mean per side, t_stat, df —
    * both NULL when either side has < 2 observations or both sample
    * variances are exactly 0 (no noise model to test against).
    *
    * Cross-engine: Σx and Σx² take the DECIMAL(38,14) string route
    * (the profile discipline — exact, order-free), sample variances
    * use the n−1 form clamped at 0, and the t/df tails are fixed IEEE
    * sequences on those exact-derived doubles, mirrored verbatim in
    * the oracle. Scale shape: ONE pass over the union with two
    * conditional map-combinable aggregates; a single output row. */
  def welchT(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    def sums(df: DataFrame, p: String): DataFrame = {
      val v = col(valueCol).cast("double")
      val s = graft.util.Dec.exactDouble(sum(graft.util.Dec.toDec(v)))
      val ss = graft.util.Dec.exactDouble(sum(graft.util.Dec.toDec(v * v)))
      df.filter(v.isNotNull)
        .agg(count(lit(1)).as(s"n_$p"), s.as(s"__s_$p"), ss.as(s"__ss_$p"))
    }
    val j = sums(a, "a").crossJoin(sums(b, "b"))
    def m(p: String): Column = col(s"__s_$p") / col(s"n_$p").cast("double")
    // sample variance, n−1 denominator, clamped at 0
    def v(p: String): Column = greatest(lit(0.0),
      (col(s"__ss_$p") - col(s"__s_$p") * m(p)) /
        (col(s"n_$p") - 1L).cast("double"))
    val se2 = v("a") / col("n_a").cast("double") + v("b") / col("n_b").cast("double")
    val dfNum = se2 * se2
    val dfDen =
      (v("a") / col("n_a").cast("double")) * (v("a") / col("n_a").cast("double")) /
        (col("n_a") - 1L).cast("double") +
      (v("b") / col("n_b").cast("double")) * (v("b") / col("n_b").cast("double")) /
        (col("n_b") - 1L).cast("double")
    val degenerate = col("n_a") < 2L || col("n_b") < 2L || se2 === lit(0.0)
    j.select(col("n_a"), col("n_b"), m("a").as("mean_a"), m("b").as("mean_b"),
      when(degenerate, lit(null).cast("double"))
        .otherwise((m("a") - m("b")) / sqrt(se2)).as("t_stat"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(dfNum / dfDen).as("df"))
  }

  /** Mean-shift SCAN — [[welchT]] run per key between the observation
    * span's two time halves ("which event types' value level shifted
    * significantly mid-period?"): the corpus midpoint is
    * (min+max) div 2 over event times (exact integer microseconds,
    * broadcast), side A = at-or-before, side B = after, and each key
    * gets the full Welch t + df with the same degenerate-NULL rule. A
    * key alive in only one half is degenerate by construction (its
    * other side has n = 0) — it reports its means and NULL t, exactly
    * the drift-family lifecycle convention.
    *
    * Scale shape: one single-row min/max aggregate broadcast, then ONE
    * key-keyed pass of conditional map-combinable aggregates — no
    * second scan, no join of two filtered corpora, no windows. */
  def meanShiftScan(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String): DataFrame = {
    val us = unix_micros(col(tsCol))
    val v = col(valueCol).cast("double")
    val base = events
      .filter(col(tsCol).isNotNull && col(keyCol).isNotNull && v.isNotNull)
      .select(col(keyCol), us.as("__us"), v.as("__v"))
    val span = base.agg(min(col("__us")).as("__mn"), max(col("__us")).as("__mx"))
      .select(expr("(__mn + __mx) div 2").as("__mid"))
    def decSum(c: Column): Column =
      graft.util.Dec.exactDouble(sum(graft.util.Dec.toDec(c)))
    val inA = col("__us") <= col("__mid")
    val agg = base.crossJoin(broadcast(span))
      .groupBy(col(keyCol))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("n_a"),
        sum(when(!inA, 1L).otherwise(0L)).as("n_b"),
        decSum(when(inA, col("__v"))).as("__s_a"),
        decSum(when(inA, col("__v") * col("__v"))).as("__ss_a"),
        decSum(when(!inA, col("__v"))).as("__s_b"),
        decSum(when(!inA, col("__v") * col("__v"))).as("__ss_b"))
    def m(p: String): Column = col(s"__s_$p") / col(s"n_$p").cast("double")
    def sv(p: String): Column = greatest(lit(0.0),
      (col(s"__ss_$p") - col(s"__s_$p") * m(p)) /
        (col(s"n_$p") - 1L).cast("double"))
    val se2 = sv("a") / col("n_a").cast("double") + sv("b") / col("n_b").cast("double")
    val dfDen =
      (sv("a") / col("n_a").cast("double")) * (sv("a") / col("n_a").cast("double")) /
        (col("n_a") - 1L).cast("double") +
      (sv("b") / col("n_b").cast("double")) * (sv("b") / col("n_b").cast("double")) /
        (col("n_b") - 1L).cast("double")
    val degenerate = col("n_a") < 2L || col("n_b") < 2L || se2 === lit(0.0)
    agg.select(col(keyCol), col("n_a"), col("n_b"),
      m("a").as("mean_a"), m("b").as("mean_b"),
      when(degenerate, lit(null).cast("double"))
        .otherwise((m("a") - m("b")) / sqrt(se2)).as("t_stat"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(se2 * se2 / dfDen).as("df"))
  }

  /** THEIL–SEN robust trend of the daily mean — the drift family's
    * SLOPE head ([[welchT]]/[[meanShiftScan]] ask "did the level
    * shift?"; this asks "what is the trend?", robustly: the median of
    * all pairwise day-mean slopes has a 29% breakdown point, so one
    * corrupted day cannot fake or mask a trend the way it drags OLS):
    * trend = median over day pairs i < j of (m_j − m_i)/(d_j − d_i),
    * with per-day means from 1e-6-floor-quantized exact long sums (the
    * q319/q329 moment convention — no double→string round-trip) and
    * the median interpolated by the q116 rule over the sorted slope
    * array. One row: (n_days, n_pairs, trend_per_day); NULL trend
    * below two days.
    *
    * Scale shape: ONE day-keyed map-combinable aggregate collapses the
    * corpus to ≤ calendar-days rows; the pairwise-slope join runs on
    * that bounded relation ONLY (a decade ≈ 3.7k days → 6.7M pairs —
    * tiny; the corpus never self-joins); the median folds in-row. */
  def theilSen(events: DataFrame, tsCol: String,
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val q6 = floor(v * lit(1.0e6)).cast("long")
    val daily = events.filter(col(tsCol).isNotNull && v.isNotNull)
      .select(unix_micros(col(tsCol)).as("__us"), q6.as("__q"))
      .select(expr("__us div 86400000000").as("__d"), col("__q"))
      .groupBy(col("__d"))
      .agg(sum(col("__q").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as("__s"), count(lit(1)).as("__n"))
      .select(col("__d"), (col("__s").cast("double") / lit(1.0e6) /
        col("__n").cast("double")).as("__m"))
    val nd = daily.agg(count(lit(1)).as("n_days"))
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.__d") < col("b.__d"))
      .select(((col("b.__m") - col("a.__m")) /
        (col("b.__d") - col("a.__d")).cast("double")).as("__slope"))
    val agg = pairs.agg(sort_array(collect_list(col("__slope"))).as("__a"),
      count(lit(1)).as("n_pairs"))
    val h = (col("n_pairs") - 1L).cast("double") * lit(0.5)
    val l = floor(h).cast("long")
    val xl = element_at(col("__a"), (l + 1L).cast("int"))
    val xu = coalesce(element_at(col("__a"), (l + 2L).cast("int")), xl)
    nd.crossJoin(agg)
      .select(col("n_days"), col("n_pairs"),
        when(col("n_pairs") === 0L, lit(null).cast("double"))
          .otherwise(xl + (h - l.cast("double")) * (xu - xl))
          .as("trend_per_day"))
  }

  /** Lag-1 AUTOCORRELATION of the daily mean — the drift family's
    * persistence head ([[theilSen]] asks "what is the trend?"; this
    * asks "do deviations PERSIST?" — r₁ near +1 = drifting/sticky
    * regime where yesterday's anomaly predicts today's, near 0 =
    * independent noise, negative = oscillation/mean-reversion, e.g. a
    * retry storm alternating with its backoff): the sample ACF
    * r₁ = Σ_consecutive (m_t − m̄)(m_{t+1} − m̄) / Σ_all (m_t − m̄)²,
    * with only CALENDAR-consecutive day pairs contributing to the
    * numerator (gap days break the chain, not bridge it) while the
    * mean and denominator run over all observed days. One row:
    * (n_days, n_pairs, acf1); NULL when the denominator is zero
    * (constant series) or no consecutive pair exists.
    *
    * Cross-engine: daily means from the quantized-long moment
    * convention (q333); m̄, the denominator and the numerator all fold
    * in day order (Spark: in-row HOF folds over the sorted array; SQL:
    * SUM(… ORDER BY d) — same left association, non-consecutive rows
    * contribute an exact 0.0). Scale shape: the corpus collapses to
    * ≤ calendar-days rows; everything after is in-row. */
  def dailyAcf1(events: DataFrame, tsCol: String,
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val q6 = floor(v * lit(1.0e6)).cast("long")
    val daily = events.filter(col(tsCol).isNotNull && v.isNotNull)
      .select(unix_micros(col(tsCol)).as("__us"), q6.as("__q"))
      .select(expr("__us div 86400000000").as("__d"), col("__q"))
      .groupBy(col("__d"))
      .agg(sum(col("__q").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as("__s"), count(lit(1)).as("__n"))
      .select(col("__d"), (col("__s").cast("double") / lit(1.0e6) /
        col("__n").cast("double")).as("__m"))
    daily.agg(sort_array(collect_list(struct(col("__d"), col("__m"))))
        .as("__a"))
      .withColumn("n_days", size(col("__a")).cast("long"))
      .withColumn("__mb", expr(
        "aggregate(__a, 0.0D, (a, x) -> a + x.__m) / CAST(n_days AS DOUBLE)"))
      .withColumn("__den", expr(
        "aggregate(__a, 0.0D, (a, x) -> a + (x.__m - __mb) * (x.__m - __mb))"))
      .withColumn("__idx", expr(
        "CASE WHEN size(__a) < 2 THEN CAST(array() AS ARRAY<INT>) " +
          "ELSE sequence(1, size(__a) - 1) END"))
      .withColumn("n_pairs", expr(
        "CAST(size(filter(__idx, i -> __a[i].__d = __a[i - 1].__d + 1)) AS BIGINT)"))
      .withColumn("__num", expr(
        "aggregate(__idx, 0.0D, (a, i) -> a + " +
          "CASE WHEN __a[i].__d = __a[i - 1].__d + 1 " +
          "THEN (__a[i - 1].__m - __mb) * (__a[i].__m - __mb) " +
          "ELSE 0.0D END)"))
      .select(col("n_days"), col("n_pairs"),
        when(col("n_pairs") === 0L || col("__den") === lit(0.0),
            lit(null).cast("double"))
          .otherwise(col("__num") / col("__den")).as("acf1"))
  }

  /** [[theilSen]] per key — the "WHICH metric is trending?" dashboard
    * ([[meanShiftScan]]'s keyed analog for slopes): every key gets the
    * robust median-of-pairwise-slopes trend of its own daily mean, with
    * the identical quantized-moment and q116-median arithmetic. A key
    * alive on a single day reports NULL trend (no pairs). Output:
    * (key, n_days, n_pairs, trend_per_day).
    *
    * Scale shape: ONE (key, day)-keyed map-combinable aggregate
    * collapses the corpus to ≤ keys·days rows; the pair join is
    * key-equi + day-range on that bounded relation; medians fold
    * in-row per key. */
  def theilSenByKey(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val q6 = floor(v * lit(1.0e6)).cast("long")
    val daily = graft.util.RelCache.persist(
      events.filter(col(tsCol).isNotNull && col(keyCol).isNotNull &&
          v.isNotNull)
        .select(col(keyCol).as("__k"), unix_micros(col(tsCol)).as("__us"),
          q6.as("__q"))
        .select(col("__k"), expr("__us div 86400000000").as("__d"), col("__q"))
        .groupBy(col("__k"), col("__d"))
        .agg(sum(col("__q").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("__s"), count(lit(1)).as("__n"))
        .select(col("__k"), col("__d"), (col("__s").cast("double") / lit(1.0e6) /
          col("__n").cast("double")).as("__m")))
    val nd = daily.groupBy(col("__k")).agg(count(lit(1)).as("n_days"))
    val slopes = daily.as("a").join(daily.as("b"),
        col("a.__k") === col("b.__k") && col("a.__d") < col("b.__d"))
      .select(col("a.__k").as("__k"),
        ((col("b.__m") - col("a.__m")) /
          (col("b.__d") - col("a.__d")).cast("double")).as("__slope"))
    val agg = slopes.groupBy(col("__k"))
      .agg(sort_array(collect_list(col("__slope"))).as("__a"),
        count(lit(1)).as("n_pairs"))
    val h = (col("n_pairs") - 1L).cast("double") * lit(0.5)
    val l = floor(h).cast("long")
    val xl = element_at(col("__a"), (l + 1L).cast("int"))
    val xu = coalesce(element_at(col("__a"), (l + 2L).cast("int")), xl)
    nd.join(agg, Seq("__k"), "left")
      .select(col("__k").as(keyCol), col("n_days"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        when(coalesce(col("n_pairs"), lit(0L)) === 0L,
            lit(null).cast("double"))
          .otherwise(xl + (h - l.cast("double")) * (xu - xl))
          .as("trend_per_day"))
  }

  /** Grouped Pearson correlation over raw columns (the feature-QA
    * companion to Histogram.profile): one map-combinable aggregate pass
    * collecting n, Σx, Σy, Σxy, Σx², Σy² through DECIMAL(38,14) (exact,
    * order-independent; per-row products are plain double mults, identical
    * cross-engine), then the textbook
    * (n·Σxy − Σx·Σy) / (√(n·Σx² − Σx²) · √(n·Σy² − Σy²)) tail as one
    * fixed IEEE sequence. A zero-variance side yields NULL (not NaN) in
    * both engines. Pairs with a NULL on either side are excluded. */
  def pearson(df: DataFrame, x: Column, y: Column,
      dims: Seq[String] = Nil): DataFrame = {
    val xd = x.cast("double")
    val yd = y.cast("double")
    val b = df.filter(xd.isNotNull && yd.isNotNull)
      .select(dims.map(col) ++ Seq(xd.as("__x"), yd.as("__y")): _*)
    val agg = grouped(b, dims)(
      count(lit(1)).cast("double").as("__n"),
      decSum(col("__x")).as("__sx"),
      decSum(col("__y")).as("__sy"),
      decSum(col("__x") * col("__y")).as("__sxy"),
      decSum(col("__x") * col("__x")).as("__sxx"),
      decSum(col("__y") * col("__y")).as("__syy"))
    val cov = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    // clamp at 0 before sqrt: for (near-)constant columns the variance
    // terms can round to a tiny negative — Spark's sqrt would yield
    // NaN (harmlessly -> NULL) but DuckDB's SQRT hard-errors on negative
    // input, so BOTH engines clamp identically (same convention as
    // Histogram.profile's std)
    val vx = greatest(lit(0.0), col("__n") * col("__sxx") - col("__sx") * col("__sx"))
    val vy = greatest(lit(0.0), col("__n") * col("__syy") - col("__sy") * col("__sy"))
    val den = sqrt(vx) * sqrt(vy)
    agg.select(dims.map(col) ++ Seq(col("__n").cast("long").as("n"),
      when(den > lit(0.0), cov / den).otherwise(lit(null).cast("double"))
        .as("corr")): _*)
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic per group: the
    * largest ECDF gap D = sup_v |F_A(v) − F_B(v)| between the rows
    * matching `inA` and the rest, computed as the integer cross product
    * max |cumA·nB − cumB·nA| so the statistic is exact and
    * engine-identical (one double division at the very end; a group with
    * an empty side yields NULL — sup over nothing is undefined).
    *
    * Scale shape: the raw relation is touched by ONE map-combinable
    * aggregate keyed by (group, value) — the ECDF only changes at
    * distinct values, so the running-window stage runs on the
    * distinct-value relation, not the corpus; its range frame (ties
    * collapse by construction) is evaluated incrementally by WindowExec.
    * Worst case (all values distinct, one group) degrades to a per-group
    * sort — for continuous measurements at full corpus scale, bin first
    * and use [[drift]]'s TVD (the histogram-resolution analogue) or
    * round values to fixed precision; the exact form is for
    * dashboard-cardinality groups. cum·n stays in DECIMAL, so counts up
    * to 1e19 per group cannot overflow the cross products. */
  def ksTest(df: DataFrame, value: Column, inA: Column,
      dims: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.{Window, WindowSpec}
    val vd = value.cast("double")
    val base = df.filter(vd.isNotNull)
      .select(dims.map(col) ++ Seq(vd.as("__v"),
        when(inA, 1L).otherwise(0L).as("__a")): _*)
    val perValue = (if (dims.isEmpty) base.groupBy(col("__v"))
      else base.groupBy((dims.map(col) :+ col("__v")): _*))
      .agg(sum(col("__a")).as("__da"),
        (count(lit(1)) - sum(col("__a"))).as("__db"))
    val wCum = Window.partitionBy(dims.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(dims.map(col): _*)
    def dec(c: Column): Column = c.cast("decimal(19,0)")
    val scored = perValue
      .withColumn("__ca", sum(col("__da")).over(wCum))
      .withColumn("__cb", sum(col("__db")).over(wCum))
      .withColumn("__na", sum(col("__da")).over(wAll))
      .withColumn("__nb", sum(col("__db")).over(wAll))
      .withColumn("__d",
        abs(dec(col("__ca")) * dec(col("__nb")) - dec(col("__cb")) * dec(col("__na"))))
    grouped(scored, dims)(
      max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
      max(col("__d")).as("ks_num"))
      .select(dims.map(col) ++ Seq(col("n_a"), col("n_b"),
        // Output boundary: ks_num <= n_a*n_b, int64-safe to n ~ 3e9 per
        // group; the DECIMAL stays internal to the cross products.
        col("ks_num").cast("long").as("ks_num"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("ks_num").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")))
          .otherwise(lit(null).cast("double")).as("ks")): _*)
  }

  /** Coarse version of an axis: every k adjacent bins merged — supported
    * where the merge stays in the same axis family: Regular/Circular
    * (n/k bins, same lo/hi/transform — transformed-space spacing is
    * uniform, so merged edges are exactly the coarse axis's edges) and
    * Variable (every k-th edge). k must divide nBins (boost rejects
    * remainder rebins the same way). */
  def coarsened(ax: BinAxis, k: Int): BinAxis = {
    require(k > 0 && ax.nBins % k == 0,
      s"rebin factor $k must divide nBins=${ax.nBins}")
    ax match {
      case r: graft.axes.Regular => r.copy(n = r.n / k)
      case c: graft.axes.Circular => c.copy(n = c.n / k)
      case v: graft.axes.Variable => v.copy(allEdges =
        v.allEdges.zipWithIndex.collect { case (e, i) if i % k == 0 => e })
      case other => throw new IllegalArgumentException(
        s"rebin is not defined for ${other.getClass.getSimpleName}")
    }
  }

  /** Merge k adjacent bins of a computed histogram (boost's UHI
    * `h[::rebin(k)]`): coarse bin j is the decimal-exact sum of fine bins
    * [j*k, (j+1)*k); flow rows pass through unchanged. The fine bin INDEX
    * is recovered via a broadcast equality join against the axis's own
    * label table — both sides generate labels with the identical
    * arithmetic, so the join is exact and no floating-point inverse is
    * ever computed. The result is bit-identical to histogramming on
    * [[coarsened]] directly: integer counts sum exactly, weighted values
    * are associative DECIMAL(38,14) sums either way. */
  def rebin(hist: DataFrame, ax: BinAxis, k: Int,
      dims: Seq[String] = Nil): DataFrame = {
    val coarse = coarsened(ax, k)
    val idxTable = hist.sparkSession.range(0, ax.nBins).select(
      ax.label(col("id")).as("__fine_label"),
      coarse.label(expr(s"id div ${k}L")).as("__coarse"))
    hist
      .join(broadcast(idxTable), col(ax.binsCol) === col("__fine_label"), "left")
      .withColumn(ax.binsCol,
        when(isFlowLabel(ax), col(ax.binsCol)).otherwise(col("__coarse")))
      .groupBy((dims :+ ax.binsCol).map(col): _*)
      .agg(graft.util.Dec.sumDec(col("cnt")).as("cnt"))
      .select(dims.map(col) ++ Seq(
        col(ax.binsCol).as(ax.binsCol, graft.axes.AxisMetadata.toMetadata(coarse)),
        col("cnt")): _*)
  }

  /** Integer-kernel histogram SMOOTHING — the binned KDE a noisy
    * histogram gets before peak-finding or plotting (UHI's smoothing
    * convention): each dense-grid bin is replaced by the triangular
    * convolution Σ_{|d|≤w} (w+1−|d|)·cnt_{i+d}, emitted as the exact
    * INTEGER numerator plus the kernel mass actually applied (edge
    * bins see a truncated kernel — dividing by the full mass would
    * dent the boundary; the caller divides numerator/mass for the
    * smoothed value). Flow-free dense-grid contract (off-grid labels
    * raise — the emd/ks require).
    *
    * Everything is exact long arithmetic — no float op at all, so
    * cross-engine equality is structural. Scale shape: the offset
    * explode is a ×(2w+1) fan-out of the HISTOGRAM-sized relation,
    * then one map-combinable bin-keyed aggregate. */
  def smooth(hist: DataFrame, ax: BinAxis, w: Int,
      dims: Seq[String] = Nil): DataFrame = {
    require(w >= 1, s"smoothing half-width must be positive: $w")
    requireOnGrid(hist.select(col(ax.binsCol)), ax, "smooth")
    // index each contributing row, explode its (target bin, weight)
    // pairs, aggregate; the dense grid left-join fills silent bins
    val idxTable = hist.sparkSession.range(0, ax.nBins)
      .select(col("id").as("__i"), ax.label(col("__i")).as("__lbl"))
    val contrib = hist
      .join(broadcast(idxTable), col(ax.binsCol) === col("__lbl"))
      .select(dims.map(col) ++ Seq(col("__i"), col("cnt")): _*)
      .select(dims.map(col) ++ Seq(explode(array((-w to w).map(d =>
          struct(lit(d).as("d"), lit(w + 1 - math.abs(d)).as("wt"))): _*))
          .as("__k"), col("__i"), col("cnt")): _*)
      .select(dims.map(col) ++ Seq((col("__i") + col("__k.d")).as("__j"),
        (col("cnt").cast("long") * col("__k.wt")).as("__num"),
        col("__k.wt").cast("long").as("__wt")): _*)
      .filter(col("__j") >= 0L && col("__j") <= lit(ax.nBins - 1L))
      .groupBy((dims :+ "__j").map(col): _*)
      .agg(sum(col("__num")).as("smoothed_num"))
    // the kernel mass applied at bin j depends only on j (edge
    // truncation), not on the data — derive it from the grid
    val mass = hist.sparkSession.range(0, ax.nBins).select(col("id").as("__j"))
      .select(col("__j"), explode(array((-w to w).map(d =>
        struct(lit(d).as("d"), lit(w + 1 - math.abs(d)).as("wt"))): _*)).as("__k"))
      .filter(col("__j") + col("__k.d") >= 0L &&
        col("__j") + col("__k.d") <= lit(ax.nBins - 1L))
      .groupBy(col("__j")).agg(sum(col("__k.wt").cast("long")).as("kernel_mass"))
    val grid = if (dims.isEmpty)
        hist.sparkSession.range(0, ax.nBins).select(col("id").as("__j"))
      else hist.select(dims.map(col): _*).distinct()
        .crossJoin(hist.sparkSession.range(0, ax.nBins).select(col("id").as("__j")))
    grid.join(contrib, (dims :+ "__j"), "left")
      .join(broadcast(mass), "__j")
      .select(dims.map(col) ++ Seq(
        ax.label(col("__j")).as(ax.binsCol, graft.axes.AxisMetadata.toMetadata(ax)),
        coalesce(col("smoothed_num"), lit(0L)).as("smoothed_num"),
        col("kernel_mass")): _*)
  }

  /** Local-maxima PEAKS of a histogram — "is this distribution
    * bimodal?" as a query: over the DENSE grid (silent bins are 0), a
    * bin is a peak iff its count strictly exceeds the bin to its left
    * and is at least the bin to its right (the left-biased plateau
    * rule: a flat-topped peak reports its leftmost bin exactly once;
    * grid edges see a virtual −1 outside). Pure integer comparisons —
    * no float anywhere. Emits (bins, cnt, is_peak) for every grid bin.
    * Scale shape: the dense grid is histogram-sized; one lag/lead
    * window partitioned by dims (bins-bounded partitions). */
  def peaks(hist: DataFrame, ax: BinAxis,
      dims: Seq[String] = Nil): DataFrame = {
    requireOnGrid(hist.select(col(ax.binsCol)), ax, "peaks")
    val bins = binsTable(hist.sparkSession, ax)
      .select(col("left_edge").as(ax.binsCol))
    val grid = if (dims.isEmpty) bins
      else hist.select(dims.map(col): _*).distinct().crossJoin(broadcast(bins))
    val j = grid.join(hist, dims :+ ax.binsCol, "left")
      .na.fill(0.0, Seq("cnt"))
      .withColumn("__c", col("cnt").cast("long"))
    val w = (if (dims.isEmpty) Window.partitionBy()
      else Window.partitionBy(dims.map(col): _*)).orderBy(col(ax.binsCol))
    j.select(dims.map(col) ++ Seq(col(ax.binsCol), col("__c").as("cnt"),
        (col("__c") > coalesce(lag(col("__c"), 1).over(w), lit(-1L)) &&
          col("__c") >= coalesce(lead(col("__c"), 1).over(w), lit(-1L)))
          .as("is_peak")): _*)
  }

  /** Marginalize an N-D histogram onto a subset of its axes (boost
    * `h.project(...)`): sum counts over the dropped bin coordinates.
    * Decimal-exact so the result is bit-identical to histogramming the
    * kept axes directly. */
  def marginalize(hist: DataFrame, keep: Seq[BinAxis], dims: Seq[String]): DataFrame = {
    val keys = dims ++ keep.map(_.binsCol)
    hist.groupBy(keys.map(col): _*)
      .agg(graft.util.Dec.sumDec(col("cnt")).as("cnt"))
  }

  /** Sum of two histograms over the same axis/dims (boost `h1 + h2`):
    * union + re-aggregate; exact for counts, deterministic-decimal for
    * weighted values. */
  def add(a: DataFrame, b: DataFrame, ax: BinAxis, dims: Seq[String]): DataFrame = {
    val keys = dims :+ ax.binsCol
    a.unionByName(b)
      .groupBy(keys.map(col): _*)
      .agg(graft.util.Dec.sumDec(col("cnt")).as("cnt"))
  }

  /** Histogram SUBTRACTION — boost `h1 -= h2` (the UHI algebra's other
    * half beside [[add]]): per (dims, bin), cnt_a − cnt_b over the
    * union of occupied bins, absent sides contributing 0 — so negative
    * counts are REPRESENTABLE (the UHI convention; a snapshot DELTA is
    * the use: today's histogram minus yesterday's, negative = mass
    * left the bin). DECIMAL-exact per-term negation and sum; bins
    * occupied by neither side are absent (0 − 0 is not a row). Same
    * single union + one map-combinable aggregate as [[add]]. */
  def subtract(a: DataFrame, b: DataFrame, ax: BinAxis,
      dims: Seq[String]): DataFrame = {
    val keys = dims :+ ax.binsCol
    a.unionByName(
        b.withColumn("cnt", -col("cnt")))
      .groupBy(keys.map(col): _*)
      .agg(graft.util.Dec.sumDec(col("cnt")).as("cnt"))
  }

  /** Cumulative histogram: running total of counts along the bins axis,
    * per group (ECDF numerator). */
  def cumulative(hist: DataFrame, ax: BinAxis, dims: Seq[String]): DataFrame = {
    val w = (if (dims.isEmpty) Window.partitionBy() else Window.partitionBy(dims.map(col): _*))
      .orderBy(col(ax.binsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum_cnt",
      graft.util.Dec.exactDouble(sum(graft.util.Dec.toDec(col("cnt"))).over(w)))
  }
}
