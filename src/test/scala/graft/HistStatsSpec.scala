package graft

import graft.axes._
import graft.operators.Histogram
import graft.stats.HistStats
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the analytic rv_histogram semantics (reference accessor.py):
  * stepwise-pdf distribution statistics, checked against hand-computed
  * values for a tiny histogram. */
class HistStatsSpec extends SparkSpec {
  import spark.implicits._

  // 4 values: bins [0,1):1, [1,2):2, [2,3):1  (on Regular(3, 0, 3))
  private val ax = Regular("x", 3, 0.0, 3.0)
  private def df = Seq(0.5, 1.2, 1.8, 2.5).toDF("x")

  test("mean = sum(cnt*center)/total") {
    val m = HistStats.mean(df, col("x"), ax, Nil).head().getDouble(0)
    assert(math.abs(m - (0.5 + 2 * 1.5 + 2.5) / 4.0) < 1e-12) // 1.5
  }

  test("variance: E[X^2] includes the w^2/12 intra-bin term") {
    val v = HistStats.variance(df, col("x"), ax, Nil).head().getDouble(0)
    val e2 = (0.5 * 0.5 + 2 * 1.5 * 1.5 + 2.5 * 2.5 + 4.0 / 12.0) / 4.0
    assert(math.abs(v - (e2 - 1.5 * 1.5)) < 1e-12)
  }

  test("std = sqrt(var)") {
    val s = HistStats.std(df, col("x"), ax, Nil).head().getDouble(0)
    val v = HistStats.variance(df, col("x"), ax, Nil).head().getDouble(0)
    assert(math.abs(s - math.sqrt(v)) < 1e-12)
  }

  test("median: piecewise-linear inverse cdf") {
    // cum: 1, 3, 4; target 2 -> bin [1,2): 1 + (2-1)/2*1 = 1.5
    val m = HistStats.median(df, col("x"), ax, Nil).head().getDouble(0)
    assert(math.abs(m - 1.5) < 1e-12)
  }

  test("ppf(0.25) at an exact bin boundary") {
    // target 1.0 -> first bin with cum>=1 is [0,1): 0 + (1-0)/1*1 = 1.0
    val p = HistStats.ppf(df, col("x"), ax, Nil, 0.25).head().getDouble(0)
    assert(math.abs(p - 1.0) < 1e-12)
  }

  test("cdf interpolates within the bin") {
    // cdf(1.5) = (1 + 2*0.5)/4 = 0.5
    val c = HistStats.cdf(df, col("x"), ax, Nil, 1.5).head().getDouble(0)
    assert(math.abs(c - 0.5) < 1e-12)
  }

  test("moment(2) equals analytic integral of x^2 over stepwise pdf") {
    val m2 = HistStats.moment(df, col("x"), ax, Nil, 2).head().getDouble(0)
    // per bin: (r^3-l^3)/(3w): [0,1): 1/3; [1,2): 7/3; [2,3): 19/3
    val expected = (1.0 / 3 + 2 * 7.0 / 3 + 19.0 / 3) / 4.0
    assert(math.abs(m2 - expected) < 1e-12)
  }

  test("interval is [ppf(p), ppf(1-p)] around the median") {
    val r = HistStats.interval(df, col("x"), ax, Nil, 0.5).head()
    val lo = r.getAs[Double]("confidence_low")
    val hi = r.getAs[Double]("confidence_high")
    assert(lo < 1.5 && hi > 1.5 && lo == HistStats.ppf(df, col("x"), ax, Nil, 0.25)
      .head().getDouble(0))
  }

  test("stats group by dims") {
    val d2 = Seq(("a", 0.5), ("a", 1.5), ("b", 2.5)).toDF("g", "x")
    val m = HistStats.mean(d2, col("x"), ax, Seq("g")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m == Map("a" -> 1.0, "b" -> 2.5))
  }

  test("normalize: pdf = cnt/width/total on a labelled histogram") {
    val h = Histogram.histogram(df, col("x"), ax)
    val p = HistStats.normalize(h, ax, Nil).collect()
      .map(r => r.getDouble(0) -> r.getAs[Double]("pdf")).toMap
    assert(math.abs(p(1.0) - 2.0 / 1.0 / 4.0) < 1e-12)
  }

  test("removeFlow/normalize dispatch on the axis's label domain") {
    import graft.operators.HistOptions
    // StrCategory: flow label is "_flow_bin" — a +/-inf double compare
    // would NULL out and drop every row
    val sAx = StrCategory("s", Seq("a", "b"))
    val sHist = Histogram.histogram(Seq("a", "a", "b", "zz").toDF("s"),
      col("s"), sAx, opts = HistOptions(flow = true))
    val sKept = HistStats.removeFlow(sHist, sAx).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sKept == Map("a" -> 2.0, "b" -> 1.0))
    // IntegerAxis: flow labels are Long.Min/MaxValue
    val iAx = IntegerAxis("i", 0L, 3L)
    val iHist = Histogram.histogram(Seq(-5L, 0L, 1L, 99L).toDF("i"),
      col("i"), iAx, opts = HistOptions(flow = true))
    val iKept = HistStats.removeFlow(iHist, iAx).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(iKept == Map(0L -> 1.0, 1L -> 1.0))
    // IntCategory normalize: overflow (Long.MaxValue) excluded from total
    val cAx = IntCategory("c", Seq(1L, 2L))
    val cHist = Histogram.histogram(Seq(1L, 1L, 2L, 7L).toDF("c"),
      col("c"), cAx, opts = HistOptions(flow = true))
    val cPdf = HistStats.normalize(cHist, cAx, Nil).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("pdf")).toMap
    assert(math.abs(cPdf(1L) - 2.0 / 3.0) < 1e-12) // total excludes overflow
    assert(math.abs(cPdf(Long.MaxValue) - 1.0 / 3.0) < 1e-12)
  }

  test("distribution invariants on random data: ppf/cdf/median/moment coherence") {
    val rnd = new scala.util.Random(23)
    (1 to 5).foreach { _ =>
      val n = 50 + rnd.nextInt(400)
      val xs = Seq.fill(n)(rnd.nextDouble() * 10.0)
      val d = xs.toDF("x")
      val ax = Regular("x", 2 + rnd.nextInt(20), 0.0, 10.0)
      // median == ppf(0.5)
      val med = HistStats.median(d, col("x"), ax, Nil).head().getDouble(0)
      val p50 = HistStats.ppf(d, col("x"), ax, Nil, 0.5).head().getDouble(0)
      assert(med == p50)
      // cdf(ppf(q)) == q on the continuous part of the distribution
      Seq(0.25, 0.5, 0.9).foreach { q =>
        val xq = HistStats.ppf(d, col("x"), ax, Nil, q).head().getDouble(0)
        val c = HistStats.cdf(d, col("x"), ax, Nil, xq).head().getDouble(0)
        assert(math.abs(c - q) < 1e-9, s"cdf(ppf($q)) = $c")
      }
      // moment(1) == mean; interval bounds bracket the median
      val m1 = HistStats.moment(d, col("x"), ax, Nil, 1).head().getDouble(0)
      val mean = HistStats.mean(d, col("x"), ax, Nil).head().getDouble(0)
      assert(math.abs(m1 - mean) < 1e-9)
      val iv = HistStats.interval(d, col("x"), ax, Nil, 0.8).head()
      assert(iv.getDouble(0) <= med && med <= iv.getDouble(1))
    }
  }

  test("areasTable: cross-product of widths over multiple axes") {
    val a1 = Regular("x", 2, 0.0, 4.0)   // widths 2
    val a2 = Variable("y", Array(0.0, 1.0, 4.0)) // widths 1, 3
    val rows = HistStats.areasTable(spark, Seq(a1, a2)).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(rows == Map((0.0, 0.0) -> 2.0, (0.0, 1.0) -> 6.0,
      (2.0, 0.0) -> 2.0, (2.0, 1.0) -> 6.0))
  }

  test("applyToBins: arbitrary bin-coordinate transform") {
    val h = Histogram.histogram(df, col("x"), ax)
    val shifted = HistStats.applyToBins(h, ax, c => c + lit(10.0)).collect()
      .map(_.getDouble(0)).toSet
    assert(shifted == Set(10.0, 11.0, 12.0))
    assert(!HistStats.isNormalized(h))
    assert(HistStats.isNormalized(HistStats.normalize(h, ax, Nil)))
  }

  test("histogram addition and cumulative totals") {
    val h1 = Histogram.histogram(df, col("x"), ax)
    val h2 = Histogram.histogram(Seq(0.5, 2.5).toDF("x"), col("x"), ax)
    val sum2 = HistStats.add(h1, h2, ax, Nil).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(sum2 == Map(0.0 -> 2.0, 1.0 -> 2.0, 2.0 -> 2.0))
    val cum = HistStats.cumulative(h1, ax, Nil).collect()
      .map(r => r.getDouble(0) -> r.getAs[Double]("cum_cnt")).toMap
    assert(cum == Map(0.0 -> 1.0, 1.0 -> 3.0, 2.0 -> 4.0))
  }

  test("binsTable: metadata only, no data scan") {
    val bt = HistStats.binsTable(spark, Variable("v", Array(0.0, 1.0, 3.0)))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(bt.toSeq == Seq((0L, 0.0, 0.5, 1.0), (1L, 1.0, 2.0, 2.0)))
  }

  test("binsTable flow=true: flow rows carry the label as coordinate and center") {
    val bt = HistStats.binsTable(spark, Variable("v", Array(0.0, 1.0, 3.0)), flow = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(bt.toSeq == Seq(
      (-1L, Double.NegativeInfinity, Double.NegativeInfinity, 1.0),
      (0L, 0.0, 0.5, 1.0), (1L, 1.0, 2.0, 2.0),
      (2L, Double.PositiveInfinity, Double.PositiveInfinity, 1.0)))
  }

  test("normalizeOver: subset normalization leaves the other axes as loop dims") {
    // 2-D histogram over (x, g-as-axis): normalize along x only; for each
    // y-bin the pdf integrates to 1 over x
    val d2 = Seq((0.5, 0.5), (1.5, 0.5), (1.5, 0.5), (0.5, 2.5), (2.5, 2.5))
      .toDF("x", "y")
    val ay = Variable("y", Array(0.0, 2.0, 4.0))
    val h2 = graft.operators.Histogram.histogramdd(d2,
      Seq(col("x") -> ax, col("y") -> ay))
    val p = HistStats.normalizeOver(h2, Seq(ax, ay), Seq(ax), Nil).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getAs[Double]("pdf")).toMap
    // y-bin [0,2): 3 rows; x widths are 1 -> pdf sums to 1 over x
    assert(math.abs(p((0.0, 0.0)) - 1.0 / 3.0) < 1e-12)
    assert(math.abs(p((1.0, 0.0)) - 2.0 / 3.0) < 1e-12)
    // y-bin [2,4): 2 rows
    assert(math.abs(p((0.0, 2.0)) - 1.0 / 2.0) < 1e-12)
    assert(math.abs(p((2.0, 2.0)) - 1.0 / 2.0) < 1e-12)
  }

  test("normalizeOver drops loop-axis flow rows (no pdf=Infinity partitions)") {
    // y = 5.0 overflows the loop axis: its (loop-coordinate) partition has
    // a no-flow total of 0, so keeping it would emit pdf = Infinity; the
    // reference's alignment drops the coordinate. x = -1.0 underflows the
    // NORMALIZED axis: kept, area 1, excluded from the total (q77 contract).
    val d2 = Seq((0.5, 0.5), (1.5, 0.5), (-1.0, 0.5), (0.5, 5.0)).toDF("x", "y")
    val ay = Variable("y", Array(0.0, 2.0, 4.0))
    val h2 = graft.operators.Histogram.histogramdd(d2,
      Seq(col("x") -> ax, col("y") -> ay),
      opts = graft.operators.HistOptions(flow = true))
    val p = HistStats.normalizeOver(h2, Seq(ax, ay), Seq(ax), Nil).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getAs[Double]("pdf")).toMap
    assert(p.values.forall(java.lang.Double.isFinite), s"non-finite pdf in $p")
    // loop-axis flow coordinate (y = +inf label) dropped entirely
    assert(!p.keys.exists(_._2.isInfinite))
    // normalized-axis flow row kept: pdf = cnt / 1 / total(no-flow = 2)
    assert(math.abs(p((Double.NegativeInfinity, 0.0)) - 0.5) < 1e-12)
    assert(math.abs(p((0.0, 0.0)) - 0.5) < 1e-12)
    assert(math.abs(p((1.0, 0.0)) - 0.5) < 1e-12)
  }

  test("rebin merges k adjacent bins; flow passes through; variable/weighted exact") {
    import graft.operators.HistOptions
    val ax = Regular("x", 6, 0.0, 6.0)
    val d = Seq(-1.0, 0.5, 1.5, 2.5, 3.5, 4.5, 5.5, 9.0).toDF("x")
    val h = Histogram.histogram(d, col("x"), ax, opts = HistOptions(flow = true))
    val r = HistStats.rebin(h, ax, 3)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(r == Map(Double.NegativeInfinity -> 1.0, 0.0 -> 3.0, 3.0 -> 3.0,
      Double.PositiveInfinity -> 1.0))
    // coarsened variable axis keeps every k-th edge
    val v = Variable("x", Array(0.0, 1.0, 2.0, 5.0, 10.0))
    val cv = HistStats.coarsened(v, 2).asInstanceOf[Variable]
    assert(cv.allEdges.toSeq == Seq(0.0, 2.0, 10.0))
    // weighted rebin == direct coarse weighted histogram, bit-identical
    val wd = Seq((0.5, 1.1), (1.5, 2.2), (2.5, 3.3), (3.5, 4.4)).toDF("x", "w")
    val fine = Histogram.histogram(wd, col("x"), Regular("x", 4, 0.0, 4.0),
      opts = HistOptions(weight = Some(col("w"))))
    val reb = HistStats.rebin(fine, Regular("x", 4, 0.0, 4.0), 2)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val direct = Histogram.histogram(wd, col("x"), Regular("x", 2, 0.0, 4.0),
        opts = HistOptions(weight = Some(col("w"))))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(reb == direct)
    // unsupported family fails loudly
    intercept[IllegalArgumentException] {
      HistStats.coarsened(StrCategory("s", Seq("a", "b")), 1)
    }
  }

  test("drift: tvd/chisq on known distributions, zero for identical ones") {
    val ax = Regular("x", 4, 0.0, 4.0)
    val da = Seq(0.5, 0.5, 1.5, 1.5).toDF("x")   // p = (.5, .5, 0, 0)
    val db = Seq(0.5, 2.5, 2.5, 3.5).toDF("x")   // q = (.25, 0, .5, .25)
    val ha = Histogram.histogram(da, col("x"), ax)
    val hb = Histogram.histogram(db, col("x"), ax)
    val r = HistStats.drift(ha, hb, ax).collect().head
    // tvd = .5*(|.25|+|.5|+|.5|+|.25|) = 0.75
    assert(math.abs(r.getDouble(0) - 0.75) < 1e-12)
    // chisq = .0625/.75 + .25/.5 + .25/.5 + .0625/.25
    val expect = 0.0625 / 0.75 + 0.5 + 0.5 + 0.25
    assert(math.abs(r.getDouble(1) - expect) < 1e-12)
    // identical inputs -> exactly zero drift
    val z = HistStats.drift(ha, ha, ax).collect().head
    assert(z.getDouble(0) == 0.0 && z.getDouble(1) == 0.0)
  }

  test("drift: a side with zero total scores NULL for that group, as psi and emd") {
    val ax = Regular("x", 4, 0.0, 4.0)
    val a = Histogram.histogram(Seq(0.5, 1.5).toDF("x"), col("x"), ax)
    val empty = Histogram.histogram(Seq.empty[Double].toDF("x"), col("x"), ax)
    val r = HistStats.drift(a, empty, ax).collect()
    assert(r.length == 1 && r.head.isNullAt(0) && r.head.isNullAt(1))
    // d2 is absent from b: NULL; d1 keeps its score,
    // p = (.5, 0, .5, 0), q = (.5, .5, 0, 0)
    val g = Seq("g")
    val ha = Histogram.histogram(Seq(("d1", 0.5), ("d1", 2.5), ("d2", 1.5)).toDF("g", "x"),
      col("x"), ax, g)
    val hb = Histogram.histogram(Seq(("d1", 0.5), ("d1", 1.5)).toDF("g", "x"), col("x"), ax, g)
    def scores(df: DataFrame): Map[String, Option[Double]] = df.collect()
      .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    val d = HistStats.drift(ha, hb, ax, g).collect()
      .map(r => r.getString(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(d == Map("d1" -> ((Some(0.5), Some(1.0))), "d2" -> ((None, None))))
    assert(scores(HistStats.psi(ha, hb, ax, dims = g))("d2").isEmpty)
    assert(scores(HistStats.emd(ha, hb, ax, g))("d2").isEmpty)
  }

  test("psi: positive for shifted distributions, exactly zero for identical") {
    val ax = Regular("x", 4, 0.0, 4.0)
    val da = Seq(0.5, 0.5, 1.5, 1.5).toDF("x")
    val db = Seq(0.5, 2.5, 2.5, 3.5).toDF("x")
    val ha = Histogram.histogram(da, col("x"), ax)
    val hb = Histogram.histogram(db, col("x"), ax)
    val r = HistStats.psi(ha, hb, ax).collect().head.getDouble(0)
    // every term (p̂−q̂)·ln(p̂/q̂) is non-negative (same sign factors);
    // these distributions diverge far past the 0.25 alarm threshold
    assert(r > 0.25)
    // eps-clamped hand computation: p=(.5,.5,e,e), q=(.25,e,.5,.25)
    def qln(x: Double) = math.floor(math.log(x) * 1.0e9) / 1.0e9
    val e = 1e-6
    val expect = (0.5 - 0.25) * qln(0.5 / 0.25) + (0.5 - e) * qln(0.5 / e) +
      (e - 0.5) * qln(e / 0.5) + (e - 0.25) * qln(e / 0.25)
    assert(r == expect)
    // identical inputs: p̂ == q̂ in every bin -> exactly zero
    assert(HistStats.psi(ha, ha, ax).collect().head.getDouble(0) == 0.0)
  }

  test("emd: exact mass-times-distance; zero for identical; TVD-blind shift separation") {
    val ax = Regular("x", 4, 0.0, 8.0) // width 2
    def h(xs: Double*) = Histogram.histogram(xs.toDF("x"), col("x"), ax)
    // all mass bin0 vs all mass bin3: |CDF diff| = 1,1,1,0 -> 3 bins * width 2
    assert(HistStats.emd(h(1, 1, 1, 1), h(7, 7, 7, 7), ax)
      .collect().head.getDouble(0) == 6.0)
    // identical: exactly zero
    assert(HistStats.emd(h(1, 3, 5), h(1, 3, 5), ax)
      .collect().head.getDouble(0) == 0.0)
    // one-bin nudge vs cross-range jump: equal TVD, EMD separates
    val near = HistStats.emd(h(1, 1), h(3, 3), ax).collect().head.getDouble(0)
    val far = HistStats.emd(h(1, 1), h(7, 7), ax).collect().head.getDouble(0)
    assert(near == 2.0 && far == 6.0)
  }

  test("smooth: triangular integer convolution; edge mass truncated") {
    val ax = Regular("x", 4, 0.0, 8.0)
    // counts per bin: 4, 0, 2, 0; w=1 kernel (1,2,1), full mass 4
    val h = Histogram.histogram(
      Seq(1.0, 1.0, 1.0, 1.0, 5.0, 5.0).toDF("x"), col("x"), ax)
    val out = graft.stats.HistStats.smooth(h, ax, w = 1).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // bin0: 2*4 + 1*0 = 8, mass 3 (left truncated); bin1: 4+0+2=6, mass 4
    assert(out(0.0) == ((8L, 3L)))
    assert(out(2.0) == ((6L, 4L)))
    assert(out(4.0) == ((4L, 4L)))
    assert(out(6.0) == ((2L, 3L)))
    // off-grid labels raise
    val bad = h.select((col(ax.binsCol) + lit(100.0)).as(ax.binsCol), col("cnt"))
    intercept[IllegalArgumentException] {
      graft.stats.HistStats.smooth(bad, ax, w = 1).collect()
    }
  }

  test("peaks: strict-left / at-least-right rule; plateaus report leftmost") {
    val ax = Regular("x", 5, 0.0, 10.0)
    // counts: 1, 3, 3, 0, 2 -> peaks at bin1 (plateau leftmost) and bin4
    val xs = Seq(1.0) ++ Seq.fill(3)(3.0) ++ Seq.fill(3)(5.0) ++ Seq.fill(2)(9.0)
    val h = Histogram.histogram(xs.toDF("x"), col("x"), ax)
    val out = graft.stats.HistStats.peaks(h, ax).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(0.0) == ((1L, false)))
    assert(out(2.0) == ((3L, true)))   // plateau leftmost
    assert(out(4.0) == ((3L, false)))  // plateau continuation
    assert(out(6.0) == ((0L, false)))
    assert(out(8.0) == ((2L, true)))   // right edge peak
  }

  test("subtract: per-bin delta with negatives; neither-side bins absent") {
    val ax = Regular("x", 4, 0.0, 8.0)
    def h(xs: Double*) = Histogram.histogram(xs.toDF("x"), col("x"), ax)
    val out = HistStats.subtract(h(1, 1, 3), h(1, 3, 3, 5), ax, Nil)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    // bin0: 2-1=1; bin1: 1-2=-1 (negative representable); bin2: 0-1=-1;
    // bin3 occupied by neither: absent
    assert(out == Map(0.0 -> 1.0, 2.0 -> -1.0, 4.0 -> -1.0))
    // h - h == all-zero rows on occupied bins (a delta of nothing)
    val zero = HistStats.subtract(h(1, 3), h(1, 3), ax, Nil)
      .collect().map(r => r.getDouble(1))
    assert(zero.forall(_ == 0.0) && zero.length == 2)
  }

  test("hellinger: identical -> 0; disjoint -> 1; dead group NULL, not 0") {
    val ax = Regular("x", 4, 0.0, 8.0)
    def h(xs: Double*) = Histogram.histogram(xs.toDF("x"), col("x"), ax)
    val same = HistStats.hellinger(h(1, 3, 5), h(1, 3, 5), ax).collect().head
    assert(same.getDouble(1) == 0.0 && math.abs(same.getDouble(0) - 1.0) < 1e-12)
    val disj = HistStats.hellinger(h(1, 1), h(7, 7), ax).collect().head
    assert(disj.getDouble(0) == 0.0 && disj.getDouble(1) == 1.0)
    // hand case: (2,2)/4 vs (1,3)/4 over bins 0,1:
    // BC = sqrt(0.5*0.25) + sqrt(0.5*0.75)
    val half = HistStats.hellinger(h(1, 1, 3, 3), h(1, 3, 3, 3), ax)
      .collect().head
    val bcExp = math.sqrt(0.5 * 0.25) + math.sqrt(0.5 * 0.75)
    assert(math.abs(half.getDouble(0) - bcExp) < 1e-12)
    // dead group: NULL bc AND NULL hellinger (greatest() would skip the
    // NULL and silently report distance 0 — the guarded edge)
    val byG = Histogram.histogram(
      Seq(("a", 1.0), ("b", 5.0)).toDF("g", "x"), col("x"), ax, dims = Seq("g"))
    val dead = HistStats.hellinger(byG,
      byG.filter(col("g") === "a"), ax, dims = Seq("g"))
      .collect().map(r => r.getString(0) ->
        ((r.isNullAt(1), r.isNullAt(2)))).toMap
    assert(dead("b") == ((true, true)))
  }

  test("regrid: mass conserved on covering grids; proportional split; identity grid exact") {
    val ax = Regular("x", 4, 0.0, 8.0)
    val h = Histogram.histogram(
      Seq(1.0, 1.0, 3.0, 5.0, 7.0).toDF("x"), col("x"), ax)
    // identity edges: every source bin maps 1:1 (frac = 1)
    val id = HistStats.regrid(h, ax, Seq(0.0, 2.0, 4.0, 6.0, 8.0))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(id == Map(0.0 -> 2.0, 2.0 -> 1.0, 4.0 -> 1.0, 6.0 -> 1.0))
    // a splitting edge at 3.0 cuts bin [2,4) in half: 0.5 each side
    val cut = HistStats.regrid(h, ax, Seq(0.0, 3.0, 8.0))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(cut(0.0) == 2.0 + 0.5 && cut(3.0) == 0.5 + 1.0 + 1.0)
    // mass conservation on any covering grid
    assert(cut.values.sum == 5.0)
    // a grid covering only part of the axis keeps only overlapped mass
    val part = HistStats.regrid(h, ax, Seq(0.0, 2.0))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(part == Map(0.0 -> 2.0))
    // degenerate edges raise
    intercept[IllegalArgumentException] {
      HistStats.regrid(h, ax, Seq(1.0))
    }
  }

  test("convolve: hand sum-distribution; total mass |A|x|B|; width mismatch raises") {
    val ax = Regular("x", 4, 0.0, 8.0)
    // A: bins {0:2, 1:1}; B: bins {0:1, 2:1}
    val ha = Histogram.histogram(Seq(1.0, 1.0, 3.0).toDF("x"), col("x"), ax)
    val hb = Histogram.histogram(Seq(0.5, 4.5).toDF("x"), col("x"), ax)
    val out = HistStats.convolve(ha, hb, ax, ax)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    // k = i+j: (0,0)->2, (1,0)->1, (0,2)->2, (1,2)->1; label = 0 + k*2
    assert(out == Map(0.0 -> 2.0, 2.0 -> 1.0, 4.0 -> 2.0, 6.0 -> 1.0))
    assert(out.values.sum == 3.0 * 2.0)
    intercept[IllegalArgumentException] {
      HistStats.convolve(ha, hb, ax, Regular("x", 8, 0.0, 8.0))
    }
    // off-grid labels raise
    val flow = ha.withColumn(ax.binsCol, col(ax.binsCol) + lit(100.0))
    intercept[IllegalArgumentException] {
      HistStats.convolve(flow, hb, ax, ax)
    }
  }

  test("convolve: pair mass exact past 2^53 (DECIMAL products, one final rounding)") {
    // counts chosen so each k=1 pair product exceeds 2^53: a double
    // product per pair rounds before the sum and lands one ulp off;
    // the DECIMAL(19,0) path sums exactly and rounds ONCE at the end
    val ax = Regular("x", 2, 0.0, 2.0)
    val ha = Seq((0.0, 164714297.0), (1.0, 128870700.0))
      .toDF(ax.binsCol, "cnt")
    val hb = Seq((0.0, 146255890.0), (1.0, 107874421.0))
      .toDF(ax.binsCol, "cnt")
    val out = HistStats.convolve(ha, hb, ax, ax)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    def exact(ps: Seq[(Long, Long)]): Double =
      ps.map { case (a, b) => BigInt(a) * BigInt(b) }.sum.toLong.toDouble
    assert(out(0.0) == exact(Seq((164714297L, 146255890L))))
    assert(out(1.0) == exact(Seq((164714297L, 107874421L),
      (128870700L, 146255890L))))   // 3.661655834272004e16, not ...03e16
    assert(out(2.0) == exact(Seq((128870700L, 107874421L))))
  }

  test("jsDivergence: identical -> 0; disjoint -> ln2; symmetric; dead group NULL") {
    val ax = Regular("x", 4, 0.0, 8.0)
    def h(xs: Double*) = Histogram.histogram(xs.toDF("x"), col("x"), ax)
    val same = HistStats.jsDivergence(h(1, 3, 5), h(1, 3, 5), ax)
      .collect().head.getDouble(0)
    assert(same == 0.0)
    // disjoint supports: JS = ln 2 (the bound), up to ln quantization
    val disj = HistStats.jsDivergence(h(1, 1), h(7, 7), ax)
      .collect().head.getDouble(0)
    assert(math.abs(disj - math.log(2.0)) < 1e-8)
    // symmetric: JS(a,b) == JS(b,a), and bounded in [0, ln 2]
    val ab = HistStats.jsDivergence(h(1, 1, 3, 3), h(1, 3, 3, 3), ax)
      .collect().head.getDouble(0)
    val ba = HistStats.jsDivergence(h(1, 3, 3, 3), h(1, 1, 3, 3), ax)
      .collect().head.getDouble(0)
    assert(ab == ba && ab > 0.0 && ab < math.log(2.0))
    // dead group: NULL js, never a clamped finite score
    val byG = Histogram.histogram(
      Seq(("a", 1.0), ("b", 5.0)).toDF("g", "x"), col("x"), ax, dims = Seq("g"))
    val dead = HistStats.jsDivergence(byG,
      byG.filter(col("g") === "a"), ax, dims = Seq("g"))
      .collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(dead("b"))
    // off-grid labels raise (the windowedPsi require)
    val flow = h(1, 3).withColumn(ax.binsCol, col(ax.binsCol) + lit(100.0))
    intercept[IllegalArgumentException] {
      HistStats.jsDivergence(flow, h(1, 3), ax).collect()
    }
  }

  test("welchT: hand-computed t and Welch df; degenerate sides NULL") {
    val a = Seq(1.0, 2.0, 3.0).toDF("value")          // mean 2, var 1
    val b = Seq(4.0, 6.0).toDF("value")               // mean 5, var 2
    val r = graft.stats.HistStats.welchT(a, b, "value").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 2.0 && r.getDouble(3) == 5.0)
    val se2 = 1.0 / 3.0 + 2.0 / 2.0
    assert(math.abs(r.getDouble(4) - (2.0 - 5.0) / math.sqrt(se2)) < 1e-12)
    val dfExp = se2 * se2 /
      ((1.0 / 3.0) * (1.0 / 3.0) / 2.0 + 1.0 * 1.0 / 1.0)
    assert(math.abs(r.getDouble(5) - dfExp) < 1e-12)
    // single observation on one side: NULL t/df, means still emitted
    val one = graft.stats.HistStats.welchT(a, Seq(7.0).toDF("value"), "value")
      .collect().head
    assert(one.getDouble(3) == 7.0 && one.isNullAt(4) && one.isNullAt(5))
    // identical constants on both sides: zero variance -> NULL
    val const = graft.stats.HistStats.welchT(
      Seq(5.0, 5.0).toDF("value"), Seq(5.0, 5.0).toDF("value"), "value")
      .collect().head
    assert(const.isNullAt(4) && const.isNullAt(5))
  }

  test("meanShiftScan: per-key halves split at the span midpoint; one-half keys NULL") {
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    // span [0, 100] -> mid 50. Type x: A=(1,2,3)@<=50, B=(4,6)@>50 —
    // the welchT fixture per key. Type y lives only in half A.
    val ev = Seq(
      ("x", 1.0, ts(0)), ("x", 2.0, ts(10)), ("x", 3.0, ts(20)),
      ("x", 4.0, ts(60)), ("x", 6.0, ts(100)),
      ("y", 9.0, ts(5)), ("y", 9.0, ts(6))
    ).toDF("event_type", "value", "event_time")
    val out = graft.stats.HistStats.meanShiftScan(
        ev, "event_time", "event_type", "value")
      .collect().map(r => r.getString(0) -> r).toMap
    val x = out("x")
    assert(x.getLong(1) == 3L && x.getLong(2) == 2L)
    val se2 = 1.0 / 3.0 + 2.0 / 2.0
    assert(math.abs(x.getDouble(5) - (2.0 - 5.0) / math.sqrt(se2)) < 1e-12)
    val y = out("y")
    assert(y.getLong(1) == 2L && y.getLong(2) == 0L &&
      y.getDouble(3) == 9.0 && y.isNullAt(4) && y.isNullAt(5) && y.isNullAt(6))
  }

  test("cvm: summed squared CDF gaps; zero for identical; dead group is NULL") {
    val ax = Regular("x", 4, 0.0, 8.0)
    def h(xs: Double*) = Histogram.histogram(xs.toDF("x"), col("x"), ax)
    // all mass bin0 vs bin3: gaps 1,1,1,0 -> Σg² = 3 (KS only sees 1)
    assert(HistStats.cvm(h(1, 1), h(7, 7), ax).collect().head.getDouble(0) == 3.0)
    assert(HistStats.cvm(h(1, 3, 5), h(1, 3, 5), ax)
      .collect().head.getDouble(0) == 0.0)
    // one-bin nudge: gaps 1,0,0,0 -> 1; many moderate gaps beat KS:
    // (3,1)/(1,3): gaps 0.5,0,0,0... CDFs (3/4,1,1,1) vs (1/4,1,1,1) -> 0.25
    assert(HistStats.cvm(h(1, 1, 1, 3), h(1, 3, 3, 3), ax)
      .collect().head.getDouble(0) == 0.25)
    // group lifecycle: a dims key on only one side -> NULL, not a crash
    val byG = Histogram.histogram(
      Seq(("a", 1.0), ("a", 3.0), ("b", 5.0)).toDF("g", "x"),
      col("x"), ax, dims = Seq("g"))
    val dead = HistStats.cvm(byG,
      byG.filter(col("g") === "a"), ax, dims = Seq("g"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(dead("a") == Some(0.0) && dead("b").isEmpty)
    // cvmFrom: per-group vs a broadcast reference
    val ref = Histogram.histogram(Seq(1.0, 3.0).toDF("x"), col("x"), ax)
    val out = HistStats.cvmFrom(byG, ref, ax, dims = Seq("g"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("a") == 0.0 && out("b") > 0.0)
    // off-grid bin labels raise (the flow-free contract)
    val bad = h(1.0).select(
      (col(ax.binsCol) + lit(100.0)).as(ax.binsCol), col("cnt"))
    intercept[IllegalArgumentException] {
      HistStats.cvm(bad, h(1.0), ax).collect()
    }
  }

  test("ks: exact largest CDF gap; zero for identical; dead group is NULL") {
    val ax = Regular("x", 4, 0.0, 8.0)
    def h(xs: Double*) = Histogram.histogram(xs.toDF("x"), col("x"), ax)
    // all mass bin0 vs all mass bin3: gaps 1,1,1,0 -> D = 1
    assert(HistStats.ks(h(1, 1), h(7, 7), ax).collect().head.getDouble(0) == 1.0)
    // identical: exactly zero
    assert(HistStats.ks(h(1, 3, 5), h(1, 3, 5), ax)
      .collect().head.getDouble(0) == 0.0)
    // (3,1)/(1,3) split across bins 0,1: CDFs (3/4, 1) vs (1/4, 1) -> 0.5
    assert(HistStats.ks(h(1, 1, 1, 3), h(1, 3, 3, 3), ax)
      .collect().head.getDouble(0) == 0.5)
    // binned D lower-bounds EMD/width relation sanity: ks in [0,1]
    val d = HistStats.ks(h(1, 1, 3), h(3, 5, 7), ax).collect().head.getDouble(0)
    assert(d >= 0.0 && d <= 1.0)
    // group lifecycle: a dims key on only one side -> NULL, not a crash
    val byG = Histogram.histogram(
      Seq(("a", 1.0), ("a", 3.0), ("b", 5.0)).toDF("g", "x"),
      col("x"), ax, dims = Seq("g"))
    val ref = Histogram.histogram(Seq(1.0, 3.0).toDF("x"), col("x"), ax)
    val out = HistStats.ksFrom(byG, ref, ax, dims = Seq("g"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out("a") == Some(0.0) && out("b").exists(_ > 0.0))
    val dead = HistStats.ks(byG,
      byG.filter(col("g") === "a"), ax, dims = Seq("g"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(dead("a") == Some(0.0) && dead("b").isEmpty)
    // off-grid bin labels raise (the flow-free contract)
    val bad = h(1.0).select(
      (col(ax.binsCol) + lit(100.0)).as(ax.binsCol), col("cnt"))
    intercept[IllegalArgumentException] {
      HistStats.ks(bad, h(1.0), ax).collect()
    }
  }

  test("psiFrom: each group scored against the shared reference") {
    val ax = Regular("x", 4, 0.0, 4.0)
    val d = Seq(("g1", 0.5), ("g1", 1.5), ("g1", 2.5), ("g1", 3.5),
      ("g2", 0.5), ("g2", 0.5), ("g2", 0.5), ("g2", 1.5))
      .toDF("g", "x")
    val byG = Histogram.histogram(d, col("x"), ax, dims = Seq("g"))
    val ref = Histogram.histogram(d.select(col("x")), col("x"), ax)
    val out = HistStats.psiFrom(byG, ref, ax, dims = Seq("g"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // reference p = (.5, .25, .125, .125); g1 is uniform, g2 is skewed:
    // both diverge, the skewed group more; every PSI is non-negative
    assert(out.keySet == Set("g1", "g2"))
    assert(out.values.forall(_ > 0.0))
    assert(out("g2") > out("g1"))
  }

  test("pearson: known correlations, NULL on zero variance, null pairs excluded") {
    val df = Seq(
      ("a", Some(1.0), Some(2.0)), ("a", Some(2.0), Some(4.0)),
      ("a", Some(3.0), Some(6.0)),                    // perfect positive
      ("b", Some(1.0), Some(3.0)), ("b", Some(2.0), Some(1.0)),  // negative
      ("b", Some(3.0), None),                         // excluded pair
      ("c", Some(5.0), Some(1.0)), ("c", Some(5.0), Some(2.0))   // zero x-var
    ).toDF("g", "x", "y")
    val out = HistStats.pearson(df, col("x"), col("y"), Seq("g"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(out("a")._1 == 3L && math.abs(out("a")._2.get - 1.0) < 1e-12)
    assert(out("b")._1 == 2L && math.abs(out("b")._2.get + 1.0) < 1e-12)
    assert(out("c")._2.isEmpty)
  }

  test("groupQuantiles: exact interpolated per-group quantiles") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("b", 10.0)).toDF("g", "v")
    val out = graft.operators.QuantileBins.groupQuantiles(
        df, col("v"), Seq("g"), Seq(0.0, 0.5, 1.0))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    // group a (n=4): q=.5 -> h=1.5 -> 2 + .5*(3-2) = 2.5; q=1 -> x[3]=4
    assert(out(("a", 0.0)) == 1.0 && out(("a", 0.5)) == 2.5 && out(("a", 1.0)) == 4.0)
    // single-element group: every quantile is that element
    assert(out(("b", 0.0)) == 10.0 && out(("b", 0.5)) == 10.0 && out(("b", 1.0)) == 10.0)
    // matches Spark's own exact percentile on a fractional case
    val spark95 = df.filter(col("g") === "a")
      .agg(expr("percentile(v, 0.95)")).head().getDouble(0)
    val ours95 = graft.operators.QuantileBins.groupQuantiles(
        df.filter(col("g") === "a"), col("v"), Seq("g"), Seq(0.95))
      .collect().head.getDouble(2)
    assert(math.abs(ours95 - spark95) < 1e-12)
  }

  test("driftFrom scores each group against the shared reference") {
    val ax = Regular("x", 2, 0.0, 2.0)
    val df = Seq(
      ("g1", 0.5), ("g1", 1.5),            // g1: (.5, .5)
      ("g2", 0.5), ("g2", 0.5)             // g2: (1, 0)
    ).toDF("g", "x")
    val a = Histogram.histogram(df, col("x"), ax, dims = Seq("g"))
    // reference = the pooled corpus: (.75, .25)
    val ref = Histogram.histogram(df, col("x"), ax)
    val out = HistStats.driftFrom(a, ref, ax, Seq("g"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // g1 vs ref: tvd = .5*(.25+.25) = .25; g2 vs ref: tvd = .5*(.25+.25) = .25
    assert(math.abs(out("g1")._1 - 0.25) < 1e-12)
    assert(math.abs(out("g2")._1 - 0.25) < 1e-12)
    // chisq g2: (.25)^2/1.75 + (.25)^2/.25 = .0357142857 + .25
    assert(math.abs(out("g2")._2 - (0.0625 / 1.75 + 0.25)) < 1e-12)
    // a group identical to the reference scores exactly zero
    val same = HistStats.driftFrom(
      Histogram.histogram(df.withColumn("g", lit("all")), col("x"), ax, dims = Seq("g")),
      ref, ax, Seq("g")).collect().head
    assert(same.getDouble(1) == 0.0 && same.getDouble(2) == 0.0)
  }

  test("normalize stays exact on a 10k-bin variable axis (join, not CASE chain)") {
    val edges = Array.tabulate(10001)(_ * 0.001)
    val big = Variable("x", edges)
    val d = Seq(0.0005, 0.0005, 5.0005).toDF("x")
    val h = Histogram.histogram(d, col("x"), big)
    val p = HistStats.normalize(h, big, Nil).collect()
      .map(r => r.getDouble(0) -> r.getAs[Double]("pdf")).toMap
    assert(math.abs(p(0.0) - 2.0 / 0.001 / 3.0) < 1e-6)
    assert(math.abs(p(5.0) - 1.0 / 0.001 / 3.0) < 1e-6)
  }

  test("pull: hand-computed residuals, one-sided bins, both-zero NULL") {
    import spark.implicits._
    val ax = Regular("x", 4, 0.0, 4.0)
    val a = Seq(0.5, 0.5, 1.5, 2.5).toDF("x")   // bins: 2, 1, 1, 0
    val b = Seq(0.5, 3.5, 3.5).toDF("x")        // bins: 1, 0, 0, 2
    val out = HistStats.pull(
      Histogram.histogram(a, col("x"), ax),
      Histogram.histogram(b, col("x"), ax), ax).collect()
      .map(r => r.getDouble(0) -> ((r.getDouble(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out(0.0) == ((2.0, 1.0, Some((2.0 - 1.0) / math.sqrt(3.0)))))
    assert(out(1.0) == ((1.0, 0.0, Some(1.0))))      // a-only bin
    assert(out(2.0) == ((1.0, 0.0, Some(1.0))))
    assert(out(3.0) == ((0.0, 2.0, Some(-2.0 / math.sqrt(2.0))))) // b-only
    // identical histograms pull exactly zero everywhere
    val z = HistStats.pull(Histogram.histogram(a, col("x"), ax),
      Histogram.histogram(a, col("x"), ax), ax).collect()
    assert(z.forall(_.getDouble(3) == 0.0))
  }

  test("ksTest: hand-computed D, tie collapsing, empty side NULL") {
    import spark.implicits._
    // g1: A = {1, 2, 3}, B = {2, 3, 4}  (a tie at 2 and 3)
    //   at v=1: |1*3 - 0*3| = 3;  v=2: |2*3 - 1*3| = 3
    //   v=3: |3*3 - 2*3| = 3;    v=4: |3*3 - 3*3| = 0  → D = 3/9 = 1/3
    // g2: identical samples → D = 0;  g3: only A rows → NULL ks
    val df = (Seq((1.0, true), (2.0, true), (3.0, true),
        (2.0, false), (3.0, false), (4.0, false)).map { case (v, a) => ("g1", v, a) } ++
      Seq(("g2", 1.0, true), ("g2", 1.0, false)) ++
      Seq(("g3", 1.0, true))).toDF("g", "v", "a")
    val out = HistStats.ksTest(df, col("v"), col("a"), Seq("g")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(4)) None else Some(r.getDouble(4)))))
      .toMap
    assert(out("g1") == ((3L, 3L, Some(1.0 / 3.0))))
    assert(out("g2") == ((1L, 1L, Some(0.0))))
    assert(out("g3") == ((1L, 0L, None)))
    // ungrouped form and null values excluded
    val g = HistStats.ksTest(
      df.filter(col("g") === "g1").union(Seq(("g1", null.asInstanceOf[java.lang.Double], true))
        .toDF("g", "v", "a").select(col("g"), col("v").cast("double"), col("a"))),
      col("v"), col("a")).collect().head
    assert(g.getLong(0) == 3L && math.abs(g.getDouble(3) - 1.0 / 3.0) < 1e-15)
  }

  test("hand-off validation: mismatched (hist, axis) pairs fail loudly") {
    val ax = Regular("v", 4, 0.0, 8.0)
    val other = Regular("v", 4, 0.0, 16.0) // same bins column, different axis
    val df = Seq(1.0, 3.0, 5.0, 7.0).toDF("v")
    val h = Histogram.histogram(df, col("v"), ax)
    // the right axis (or the one reconstructed from metadata) passes
    assert(HistStats.normalize(h, ax, Nil).count() > 0)
    assert(HistStats.normalize(h,
      graft.axes.AxisMetadata.axisOf(h, "v_bins"), Nil).count() > 0)
    // a mismatched axis is rejected at the API boundary, before any job
    val e = intercept[IllegalArgumentException] {
      HistStats.normalize(h, other, Nil)
    }
    assert(e.getMessage.contains("hand-off mismatch"))
    intercept[IllegalArgumentException] { HistStats.removeFlow(h, other) }
    intercept[IllegalArgumentException] { HistStats.scaleBins(h, other, 2.0) }
    // hand-built histograms without attached metadata stay unchecked
    val bare = Seq((0.0, 1.0), (2.0, 3.0)).toDF("v_bins", "cnt")
    assert(HistStats.normalize(bare, ax, Nil).count() == 2)
  }
}
