package graft.operators

import graft.axes.BinAxis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Histogram computation options.
  *
  * @param weight      per-row weight column (reference core.py:74 `weights`);
  *                    bin value becomes the sum of weights.
  * @param density     normalize to a pdf: cnt / bin_area / total
  *                    (reference core.py:315,649-663).
  * @param flow        include under/overflow bins in the output
  *                    (reference core.py:86 `flow`).
  * @param dense       materialize empty bins with 0 (the reference returns
  *                    dense arrays; SQL-sparse output is the default here).
  * @param intStorage  keep counts as longs (bh.storage.Int64, core.py:29).
  */
final case class HistOptions(
    weight: Option[Column] = None,
    density: Boolean = false,
    flow: Boolean = false,
    dense: Boolean = false,
    intStorage: Boolean = false)

/** N-dimensional histogram over a DataFrame, re-expressing the reference's
  * `histogram` / `histogram2d` / `histogramdd` (core.py:46,110,182).
  *
  * Data model: one row per array element; the reference's "loop dims" (the
  * dimensions NOT flattened into the histogram, core.py:271-276) become
  * GROUP BY columns (`dims`).
  *
  * One aggregation step ([[binCounts]], shared with `HistStats`) feeds
  * every call:
  *  - With at most `DenseHistogram.MaxSlots` (64k) slots in the grid
  *    Π(nBins + flow slots), on a non-streaming input, with or without
  *    dims, the plan holds one [[DenseHistogram]] node, planned by
  *    [[DenseHistogramStrategy]] as one dense exec. Each partition fills a
  *    flat slot array per dims key (straight from the columnar scan for
  *    IdT `Regular` axes, else from the codegen'd `BinAxis.index`
  *    projection), and the exec emits the sparse or the dense layout
  *    itself: no hash aggregate, no densify join. Without dims the
  *    partial arrays merge on the driver, without a shuffle: the
  *    reference's per-chunk fill + tree-reduce (core.py:411-464). With
  *    dims (the reference's loop dims, core.py:271-276, filled by the same
  *    loop) each task flushes its sparse partials, past a slot budget
  *    too, into one keyed shuffle inside the exec, hash-partitioned by
  *    the dims as Spark partitions them, so the windows and aggregates
  *    over the dims above it plan no exchange. The strategy is installed
  *    on the DataFrame's session by the first call, so sessions built
  *    without `GraftExtensions` run it too.
  *  - A larger grid, a streaming input, or a dims key Spark does not group
  *    by its bytes (a collated string) takes a declarative
  *    `groupBy(dims ++ binIdx).agg(...)`: partial (map-side) aggregate,
  *    one shuffle keyed by (dims, bins), final aggregate. Shuffle volume is
  *    bounded by #groups x #bins x #map-partitions, never by input row
  *    count.
  *
  * Summation determinism: weighted sums are exact sums of each weight's
  * DECIMAL(38,14) image (`sum(Dec.toDec(w))` on the declarative path,
  * [[ExactSum]] in the kernel, bit-identical to it), and density totals
  * are accumulated in DECIMAL(38,14); both are cast back to double only
  * at the end, so
  * results do not depend on partitioning / aggregation order — required
  * both for the DuckDB oracle hash-compare and for run-to-run
  * reproducibility on a cluster.
  */
object Histogram {

  def histogram(df: DataFrame, x: Column, axis: BinAxis,
      dims: Seq[String] = Nil, opts: HistOptions = HistOptions()): DataFrame =
    histogramdd(df, Seq(x -> axis), dims, opts)

  /** Regular axis with range taken from the data (the reference's
    * `bins=n` without an explicit range, core.py:499-506): one min/max
    * aggregation pass, then the same literal edges drive the plan. */
  def autoRegular(df: DataFrame, x: Column, name: String, n: Int): graft.axes.Regular = {
    val row = df.agg(min(x).cast("double"), max(x).cast("double")).head()
    require(!row.isNullAt(0), "auto-range needs at least one non-null value")
    graft.axes.Regular(name, n, row.getDouble(0), row.getDouble(1))
  }

  /** Multi-level histogram ROLLUP in ONE pass — the OLAP cube over the
    * group dims: every subset of `dims` gets its own histogram (the
    * drill-down ladder "per (flag, status) → per flag → per status →
    * overall" a dashboard wants), computed through Spark's native
    * grouping sets (one Expand + one hash aggregate with map-side
    * partials — NOT 2^d separate scans; the row multiplication is
    * 2^d ×, the documented cost). `gid` is the grouping bitmask (first
    * dim = most significant bit; 0 = the fully-grouped leaf), the
    * standard disambiguator between a cube NULL (aggregated-away dim)
    * and a data NULL. Flow rows are excluded (the q05 dims
    * convention). */
  def histogramCube(df: DataFrame, x: Column, axis: BinAxis,
      dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty && dims.size <= 8, s"cube dims out of range: $dims")
    val kept = axis.keepPred(x, includeUnder = false, includeOver = false)
    val base = df.filter(kept)
      .select(dims.map(col) :+ axis.index(x).as("__i"): _*)
    val subsets = (0 until (1 << dims.size)).map { m =>
      dims.zipWithIndex.collect { case (d, j) if (m & (1 << j)) != 0 => col(d) }
    }
    val sets: Seq[Seq[Column]] = subsets.map(_ :+ col("__i"))
    val gid = dims.zipWithIndex.map { case (d, j) =>
      grouping(col(d)).cast("long") * lit(1L << (dims.size - 1 - j))
    }.reduce(_ + _)
    base.groupingSets(sets, dims.map(col) :+ col("__i"): _*)
      .agg(gid.as("gid"), count(lit(1)).cast("double").as("cnt"))
      .select(dims.map(col) ++ Seq(col("gid"),
        axis.label(col("__i")).as(axis.binsCol), col("cnt")): _*)
  }

  /** 2-D convenience form (reference core.py:110 `histogram2d`). */
  def histogram2d(df: DataFrame, x: Column, xAxis: BinAxis,
      y: Column, yAxis: BinAxis,
      dims: Seq[String] = Nil, opts: HistOptions = HistOptions()): DataFrame =
    histogramdd(df, Seq(x -> xAxis, y -> yAxis), dims, opts)

  def histogramdd(df: DataFrame, specs: Seq[(Column, BinAxis)],
      dims: Seq[String] = Nil, opts: HistOptions = HistOptions()): DataFrame = {
    require(specs.nonEmpty)
    val idxNames = specs.indices.map(k => s"__i$k")
    val dimCols = dims.map(col)
    val grouped = binCounts(df, specs, dims, opts)

    val valued =
      if (opts.density) {
        val anyFlow = specs.zipWithIndex.map { case ((_, ax), k) =>
          col(idxNames(k)) === -1 || col(idxNames(k)) === ax.nBins
        }.reduce(_ || _)
        val area = when(anyFlow, lit(1.0)).otherwise(
          specs.zipWithIndex.map { case ((_, ax), k) => ax.width(col(idxNames(k))) }
            .reduce(_ * _))
        val w = Window.partitionBy(dimCols: _*)
        val total = graft.util.Dec.exactDouble(
          sum(graft.util.Dec.toDec(
            when(anyFlow, lit(0.0)).otherwise(col("cnt")))).over(w))
        grouped.withColumn("pdf", col("cnt") / area / total).drop("cnt")
      } else grouped

    val valueName = if (opts.density) "pdf" else "cnt"
    valued.select(
      dimCols ++
        specs.zipWithIndex.map { case ((_, ax), k) =>
          // axis attrs ride on the bins column (parquet-preserved), like the
          // reference's coordinate attrs (core.py:524-587)
          ax.label(col(idxNames(k)))
            .as(ax.binsCol, graft.axes.AxisMetadata.toMetadata(ax))
        } :+ col(valueName): _*)
  }

  /** The one aggregation step behind [[histogramdd]] and the
    * `HistStats` accessors: (dims…, `__i0`…, `cnt`), sparse or dense —
    * the dense kernel, or where it does not apply the declarative
    * aggregate, whose rows are filtered on the raw value (keepPred: one or
    * two comparisons) before the bin index is projected once per kept row,
    * and which a join densifies. */
  private[graft] def binCounts(df: DataFrame, specs: Seq[(Column, BinAxis)],
      dims: Seq[String], opts: HistOptions): DataFrame = {
    val idxNames = specs.indices.map(k => s"__i$k")
    DenseHistogram.counts(df, specs, dims, opts.flow, opts.weight, opts.dense) match {
      case Some(h) =>
        val cnt =
          if (opts.weight.isDefined) {
            val c = graft.util.Dec.exactDouble(col("__s"))
            if (opts.dense) coalesce(c, lit(0.0)) else c
          } else if (opts.intStorage) col("__n")
          else col("__n").cast("double")
        h.select(dims.map(col) ++ idxNames.map(col) :+ cnt.as("cnt"): _*)
      case None =>
        // Sparse-output equivalence of boost flow semantics: an axis
        // without the underflow trait discards x < lo entirely; with the
        // trait but flow=false the bin exists but is not returned —
        // identical to dropping the rows.
        val keep = specs.map { case (c, ax) =>
          ax.keepPred(c, opts.flow && ax.underflow, opts.flow && ax.overflow)
        }.reduce(_ && _)
        val projected = df.filter(keep).select(
          dims.map(col) ++
            specs.zipWithIndex.map { case ((c, ax), k) => ax.index(c).as(idxNames(k)) } ++
            opts.weight.map(w => graft.util.Dec.toDec(w).as("__w")).toSeq: _*)
        val cntExpr = opts.weight match {
          case Some(_) => graft.util.Dec.exactDouble(sum(col("__w")))
          case None if opts.intStorage => count(lit(1))
          case None => count(lit(1)).cast("double")
        }
        val sparse = projected
          .groupBy((dims ++ idxNames).map(col): _*)
          .agg(cntExpr.as("cnt"))
        // densify keys come from the PRE-filter relation (df, not
        // projected): a group whose values all fall outside the axis
        // still exists with an all-zero histogram (the reference keeps
        // every loop-dim coordinate)
        if (opts.dense) densify(sparse, df, specs, idxNames, dims, opts) else sparse
    }
  }

  /** Profile histogram (the ROOT-TProfile shape boost-histogram expresses
    * as a Mean-storage histogram — the accumulator storage family the
    * reference's xarray layer rejects for plain counts, core.py:87-90):
    * per-x-bin entry count, mean and population std of a second variable
    * y. Rows with NULL y are not entries. Same single
    * partial-agg + one-shuffle plan as histogramdd — three
    * map-combinable aggregates instead of one — and the same
    * DECIMAL(38,14) sum discipline: Σy and Σy² are exact and
    * order-independent, the mean/std arithmetic after them is a fixed
    * sequence of correctly-rounded IEEE ops, so results are bit-identical
    * across partitionings and engines. Variance is clamped at 0 before
    * the sqrt (an exact-arithmetic one-value bin yields exactly 0). */
  def profile(df: DataFrame, x: Column, ax: BinAxis, y: Column,
      dims: Seq[String] = Nil): DataFrame =
    profileNd(df, Seq(x -> ax), y, "y", dims)

  /** 2-D profile histogram — [[profile]] with TWO binned coordinates
    * (boost-histogram's Mean storage on a 2-axis histogram; ROOT's
    * TProfile2D): per (x-bin, y-bin) entry count, mean and population
    * std of a third variable z. The heat-map whose CELL VALUE is a
    * response mean, not a count — "average spend by (quantity, tax)
    * cell". Rows with NULL z are not entries; out-of-range rows on
    * EITHER axis drop (flow excluded, the [[profile]] rule).
    *
    * Same single partial-agg one-shuffle plan keyed by
    * (dims, i, j); the DECIMAL(38,14) Σz/Σz² discipline and the fixed
    * IEEE mean/std tail are [[profile]]'s verbatim. */
  def profile2d(df: DataFrame, x: Column, ax: BinAxis, y: Column,
      ay: BinAxis, z: Column, dims: Seq[String] = Nil): DataFrame =
    profileNd(df, Seq(x -> ax, y -> ay), z, "z", dims)

  /** The step behind [[profile]] and [[profile2d]]: per in-range cell of
    * `specs`, the entry count, `mean_<name>` and `std_<name>` of `v`. */
  private def profileNd(df: DataFrame, specs: Seq[(Column, BinAxis)], v: Column,
      name: String, dims: Seq[String]): DataFrame = {
    val idxNames = specs.indices.map(k => s"__i$k")
    val vd = v.cast("double")
    val keep = specs.map { case (c, ax) =>
      ax.keepPred(c, includeUnder = false, includeOver = false)
    }.reduce(_ && _)
    val proj = df.filter(keep && vd.isNotNull)
      .select(dims.map(col) ++
        specs.zipWithIndex.map { case ((c, ax), k) => ax.index(c).as(idxNames(k)) } :+
        vd.as("__v"): _*)
    val sv = graft.util.Dec.exactDouble(sum(graft.util.Dec.toDec(col("__v"))))
    val svv = graft.util.Dec.exactDouble(
      sum(graft.util.Dec.toDec(col("__v") * col("__v"))))
    val (mean, std) = (s"mean_$name", s"std_$name")
    proj.groupBy((dims ++ idxNames).map(col): _*)
      .agg(count(lit(1)).as("cnt"), sv.as("__sv"), svv.as("__svv"))
      .withColumn(mean, col("__sv") / col("cnt").cast("double"))
      .withColumn(std, sqrt(greatest(lit(0.0),
        col("__svv") / col("cnt").cast("double") - col(mean) * col(mean))))
      .select(dims.map(col) ++
        specs.zipWithIndex.map { case ((_, ax), k) =>
          ax.label(col(idxNames(k))).as(ax.binsCol, graft.axes.AxisMetadata.toMetadata(ax))
        } ++ Seq(col("cnt"), col(mean), col(std)): _*)
  }

  /** Weighted profile histogram (boost-histogram's WeightedMean storage —
    * the weighted companion of [[profile]]'s Mean storage; the reference
    * imports bh storages generally at core.py:29, and a user doing
    * profile plots WITH weights lands exactly here): per x-bin entry
    * count, Σw and Σw² (the WeightedMean accumulator's carried state),
    * the w-weighted mean of y, and boost's WeightedMean variance
    * Σw·(y−ȳ_w)² / (Σw − Σw²/Σw) — the frequency-weights unbiased
    * variance whose denominator is the effective-count correction
    * (reduces to the n−1 form for unit weights). Rows with NULL y or
    * NULL w are not entries.
    *
    * Same ONE-pass plan as [[profile]]: five map-combinable aggregates
    * in a single shuffle keyed by (dims, bin). Cross-engine exactness:
    * Σw (a raw data column) takes the DECIMAL(38,14) string route; the
    * PRODUCT moments w², wy, wy² are full-precision doubles whose
    * decimal reps routinely exceed the string route's 14-digit
    * round-trip window (the Dec scope note; found live by the sf0.001
    * gate diverging one ulp), so they take the q123/q189 convention
    * instead — floor-quantized on identical doubles to identical
    * INTEGERS (wy, wy² at 1e-6 resolution; w² at 1.0), accumulated in
    * DECIMAL(38,0) (exact, order-free), ONE final int-exact double cast
    * + division. The quantization is the documented resolution, not
    * engine noise. Int64/2^53 boundary (the clusterStats discipline):
    * per row |w·y|·1e6 and |w·y²|·1e6 < 9.2e18; per (dims, bin) the
    * quantized sums < 2^53 — size bins so a bin's Σ|wy|·1e6 stays
    * under 9e15 (≈1e9 rows of unit-scale products per bin).
    * The mean/variance tail is a fixed IEEE sequence mirrored verbatim
    * in Oracle.weightedProfile. Degenerate denominators (Σw = 0, or
    * all mass on one row: Σw − Σw²/Σw ≤ 0) yield NULL mean/variance —
    * never a NaN row, and never an ANSI divide-by-zero (the guard sits
    * ON each division). */
  def weightedProfile(df: DataFrame, x: Column, ax: BinAxis, y: Column,
      w: Column, dims: Seq[String] = Nil): DataFrame = {
    val yd = y.cast("double")
    val wd = w.cast("double")
    val proj = df
      .filter(ax.keepPred(x, includeUnder = false, includeOver = false) &&
        yd.isNotNull && wd.isNotNull)
      .select(dims.map(col) ++
        Seq(ax.index(x).as("__i0"), yd.as("__y"), wd.as("__w")): _*)
    def dsum(c: Column): Column =
      graft.util.Dec.exactDouble(sum(graft.util.Dec.toDec(c)))
    // exact integer accumulation of a quantized product moment; the
    // final cast is exact while the sum stays below 2^53
    def qsum(c: Column, q: Double): Column =
      sum(floor(c * lit(q)).cast("decimal(38,0)")).cast("double") / lit(q)
    val nullD = lit(null).cast("double")
    val agg = proj.groupBy((dims :+ "__i0").map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        dsum(col("__w")).as("sum_w"),
        qsum(col("__w") * col("__w"), 1.0).as("sum_w2"),
        qsum(col("__w") * col("__y"), 1.0e6).as("__swy"),
        qsum(col("__w") * col("__y") * col("__y"), 1.0e6).as("__swyy"))
    val neff = when(col("sum_w") === lit(0.0), nullD)
      .otherwise(col("sum_w") - col("sum_w2") / col("sum_w"))
    val m2 = col("__swyy") - col("__swy") * col("wmean_y")
    agg
      .withColumn("wmean_y", when(col("sum_w") === lit(0.0), nullD)
        .otherwise(col("__swy") / col("sum_w")))
      .withColumn("wvar_y", when(neff > lit(0.0),
        greatest(lit(0.0), m2) / neff).otherwise(nullD))
      .select(dims.map(col) ++ Seq(
        ax.label(col("__i0")).as(ax.binsCol, graft.axes.AxisMetadata.toMetadata(ax)),
        col("cnt"), col("sum_w"), col("sum_w2"),
        col("wmean_y"), col("wvar_y")): _*)
  }

  /** Efficiency histogram (the pass/total ratio plot, ROOT TEfficiency):
    * per x-bin, the total count n, passing count k (rows satisfying
    * `passPred`), the efficiency k/n and its Wilson score interval at
    * z (default 1.96 ≈ 95%). Computed in ONE aggregate pass — k is a
    * conditional count beside n, so there is no second scan and no
    * join of two histograms. The Wilson arithmetic is a fixed sequence
    * of +,−,×,÷,√ on integer-valued doubles — bit-identical
    * cross-engine (no log, no erf). Bins with no rows are absent
    * (sparse, like histogramdd). */
  def efficiency(df: DataFrame, x: Column, ax: BinAxis, passPred: Column,
      dims: Seq[String] = Nil, z: Double = 1.96): DataFrame = {
    val proj = df
      .filter(ax.keepPred(x, includeUnder = false, includeOver = false))
      .select(dims.map(col) ++
        Seq(ax.index(x).as("__i0"), passPred.cast("boolean").as("__pass")): _*)
    val zz = lit(z * z)
    val agg = proj.groupBy((dims :+ "__i0").map(col): _*)
      .agg(count(lit(1)).as("n"),
        count(when(col("__pass"), lit(1))).as("k"))
    val nD = col("n").cast("double")
    val kD = col("k").cast("double")
    val phat = kD / nD
    val denom = lit(1.0) + zz / nD
    val center = (phat + zz / (lit(2.0) * nD)) / denom
    val half = lit(z) * sqrt(phat * (lit(1.0) - phat) / nD +
      zz / (lit(4.0) * nD * nD)) / denom
    agg.select(dims.map(col) ++ Seq(
      ax.label(col("__i0")).as(ax.binsCol, graft.axes.AxisMetadata.toMetadata(ax)),
      col("n"), col("k"), phat.as("eff"),
      (center - half).as("eff_lo"), (center + half).as("eff_hi")): _*)
  }

  /** Materialize empty bins: full index grid (per-axis ranges incl. flow,
    * tiny → broadcast) x distinct group keys (from the PRE-filter input),
    * left-joined with the sparse counts. The grid never touches the input
    * relation. */
  private def densify(sparse: DataFrame, preFilter: DataFrame,
      specs: Seq[(Column, BinAxis)],
      idxNames: Seq[String], dims: Seq[String], opts: HistOptions): DataFrame = {
    val spark = sparse.sparkSession
    val grid = specs.zipWithIndex.map { case ((_, ax), k) =>
      val lo = if (opts.flow && ax.underflow) -1L else 0L
      val hi = if (opts.flow && ax.overflow) ax.nBins.toLong else ax.nBins - 1L
      spark.range(lo, hi + 1).select(col("id").as(idxNames(k)))
    }.reduce(_.crossJoin(_))
    val keys =
      if (dims.isEmpty) grid
      else preFilter.select(dims.map(col): _*).distinct().crossJoin(grid)
    val zero = if (opts.intStorage) lit(0L) else lit(0.0)
    // Both sides are post-aggregation (bins x groups). No broadcast hint:
    // AQE sees the REAL post-agg sizes at runtime and broadcasts when the
    // sparse side is small — a forced hint would OOM at extreme group
    // cardinality, where sort-merge is the correct plan. The join is
    // null-safe: a NULL dims key is a group too.
    val on = (dims ++ idxNames).map(c => keys(c) <=> sparse(c)).reduce(_ && _)
    keys.join(sparse, on, "left")
      .select(keys.columns.map(keys(_)) :+ coalesce(sparse("cnt"), zero).as("cnt"): _*)
  }
}
