package graft

import graft.util.{Dec, DecRoutes}
import org.apache.spark.sql.functions._

/** The Dec-boundary property sweep (r11 verdict #7): four operators hit
  * the DECIMAL(38,14) 14-fractional-digit boundary in round 11, each
  * caught by an sf0.3 gate hash instead of `sbt test`. This spec makes
  * the boundary a unit-level contract:
  *
  *  - every registered route (DecRoutes) is driven with the boundary
  *    inputs that broke round 11 — sub-unit squares, >2^53 products,
  *    >2^53 quantized sums — and must reproduce BigDecimal/BigInt truth
  *    exactly; the dec38-14 inputs also run through the histogram
  *    kernel's accumulator (ExactSum), which must match the string route;
  *  - each case also asserts its SEEDED REGRESSION (the naive double or
  *    dec14-string form) actually diverges on the same input — a gate
  *    that cannot go red gates nothing;
  *  - the registry is self-enforcing: a src/main file using a route's
  *    marker without being registered fails the scan, so the NEXT
  *    boundary consumer turns this spec red until it registers.
  */
class DecBoundarySpec extends SparkSpec {
  import spark.implicits._

  /** `vals` through the histogram kernel's accumulator, one slot. */
  private def exactSum(vals: Seq[Double]): graft.operators.ExactSum = {
    val acc = new graft.operators.ExactSum(1)
    val memo = new graft.operators.ExactSum.Memo
    vals.foreach(acc.addDouble(0, _, memo))
    acc
  }

  /** The bin value of a one-bin histogram weighted by `vals`. */
  private def weightedOneBin(vals: Seq[Double]): Double =
    graft.operators.Histogram.histogram(vals.toDF("v"), lit(0.5),
      graft.axes.Regular("b", 1, 0.0, 1.0),
      opts = graft.operators.HistOptions(weight = Some(col("v"))))
      .collect()(0).getDouble(1)

  test("registry scan: every route consumer in src/main is registered") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"run tests from the repo root (cwd=${System.getProperty("user.dir")})")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      } finally s.close()
    }
    for (route <- DecRoutes.routes) {
      val hits = files.filter { p =>
        // graft/util holds the routes' own definitions + this registry;
        // graft/tools are ungated dev diagnostics (nothing cross-engine
        // rides their arithmetic)
        val rel = root.relativize(p).toString
        !rel.startsWith("graft/util/") && !rel.startsWith("graft/tools/") && {
          val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          route.marker.findFirstIn(txt).isDefined
        }
      }.map(p => root.relativize(p).toString).toSet
      val unregistered = hits -- route.files
      assert(unregistered.isEmpty,
        s"route '${route.name}' used by UNREGISTERED files $unregistered " +
          s"— register them in DecRoutes (scope: ${route.scope}) and, if " +
          "the use is a new boundary shape, add its property case here")
    }
  }

  test("dec38-14 string route: exact on 14-digit-determined sums past 2^53") {
    // 200 values, each ~9.00719925474e13 with a 1e-2 grid fraction —
    // determined by far fewer than 14 fractional digits, total ~1.8e16
    // (> 2^53 ≈ 9.007e15): the decimal sum must be EXACT where a naive
    // double sum already rounds
    val vals = (1 to 200).map(i => 9.0071992547e13 + i * 0.25)
    val truth = vals.map(v => BigDecimal(v)).sum.toDouble
    val got = vals.toDF("v").agg(Dec.sumDec(col("v"))).collect()(0).getDouble(0)
    assert(got == truth, s"sumDec $got != exact $truth")
    // the histogram kernel's accumulator: exact images, exact total, and
    // the same double through a weighted one-bin histogram
    assert(BigDecimal(exactSum(vals).total(0)) == vals.map(v => BigDecimal(v)).sum)
    assert(weightedOneBin(vals) == got)
    // seeded regression: the naive double sum diverges on this input
    val naive = vals.toDF("v").agg(sum(col("v"))).collect()(0).getDouble(0)
    assert(naive != truth, "double sum did NOT diverge — boundary case lost its power")
  }

  test("dec38-14 string route: sub-unit squares past 14 digits are OUT of scope (documented divergence)") {
    // Δ on the 1e-9 grid -> Δ² needs 18 fractional digits; the string
    // route rounds at digit 14 and MUST diverge from exact truth — this
    // pins the documented scope so a silent widening claim fails here
    val deltas = Seq(1.23e-7, 9.87e-7, 5.55e-7)
    val squares = deltas.map(d => d * d)
    val truth = squares.map(BigDecimal(_)).sum.toDouble
    val viaDec = squares.toDF("v").agg(Dec.sumDec(col("v")))
      .collect()(0).getDouble(0)
    assert(viaDec != truth,
      "dec14 reproduced sub-unit squares exactly — scope doc is stale, " +
        "re-derive the boundary")
    // the kernel's accumulator rounds each square at digit 14 exactly
    // like the string route: same (out-of-scope) sum, not truth
    assert(weightedOneBin(squares) == viaDec)
    assert(BigDecimal(exactSum(squares).total(0)) ==
      squares.map(v => BigDecimal(v).setScale(14, BigDecimal.RoundingMode.HALF_UP)).sum)
    // and the IN-scope route for the same computation: quantize the
    // DELTAS to exact 1e-9-grid longs, square as integers (<= 2^63),
    // sum in decimal(38,0), divide once — exact (the q335 fix shape)
    val viaGrid = deltas.map(d => math.rint(d * 1e9).toLong)
      .toDF("q")
      .agg((sum((col("q") * col("q")).cast("decimal(38,0)"))
        .cast("double") / lit(1.0e18)).as("s"))
      .collect()(0).getDouble(0)
    assert(viaGrid == truth, s"quantized square route $viaGrid != $truth")
  }

  test("decimal(38,0) quantized-long sums: exact past 2^53, double diverges") {
    val longs = (1 to 3000).map(i => 9007199254740993L - i) // each near 2^53
    val truth = longs.map(BigInt(_)).sum
    val got = longs.toDF("q")
      .agg(sum(col("q").cast("decimal(38,0)")).as("s"))
      .collect()(0).getDecimal(0)
    assert(BigInt(got.toBigInteger) == truth, s"dec38 sum $got != $truth")
    val naive = longs.toDF("q")
      .agg(sum(col("q").cast("double"))).collect()(0).getDouble(0)
    assert(BigDecimal(naive) != BigDecimal(truth),
      "double sum did NOT diverge — boundary case lost its power")
  }

  test("decimal(19,0) products: exact past 2^53 where the double product rounds") {
    // the q307 convolve shape: pair products of two counts
    val a = 2000000011L
    val b = 3000000019L
    val truth = BigInt(a) * BigInt(b) // ~6e18 > 2^53, < 1e19 (fits 19,0)
    val got = Seq((a, b)).toDF("a", "b")
      .select((col("a").cast("decimal(19,0)") * col("b").cast("decimal(19,0)"))
        .as("p"))
      .collect()(0).getDecimal(0)
    assert(BigInt(got.toBigInteger) == truth, s"dec19 product $got != $truth")
    val naive = Seq((a, b)).toDF("a", "b")
      .select((col("a").cast("double") * col("b").cast("double")).as("p"))
      .collect()(0).getDouble(0)
    assert(BigDecimal(naive) != BigDecimal(truth),
      "double product did NOT diverge — boundary case lost its power")
  }

  test("exactDouble: pins the spelled-out conversion SEQUENCE (cross-engine contract)") {
    // The contract is NOT "correctly rounded as one conversion" — it's
    // that BOTH engines run the identical pinned sequence
    //   toDouble(floor(s)) + toDouble((s - floor(s)) * 1e14) / 1.0e14
    // (each cast exact or IEEE-correctly-rounded once). Reproduce the
    // sequence in plain JVM arithmetic and assert bit-equality — a
    // "simplification" to the engine's native decimal->double cast
    // (double-rounded in DuckDB) would break this past 2^53.
    val v = BigDecimal("9007199254740993.00000000000007")
    val hand = 9007199254740993L.toDouble + 7L.toDouble / 1.0e14
    val got = Seq(1).toDF("x")
      .select(Dec.exactDouble(lit(v.bigDecimal).cast(Dec.D)).as("d"))
      .collect()(0).getDouble(0)
    assert(got == hand, s"exactDouble $got != pinned sequence $hand")
    // and the sequence genuinely differs from the single correctly
    // rounded conversion here (2^53 + 1 + eps rounds UP as one step) —
    // the documented reason the sequence is pinned at all
    assert(v.doubleValue != hand,
      "one-step conversion agreed — boundary case lost its power")
    // fractions that need all 14 digits: the sequence's fraction step
    // must not round early. Expected doubles are Oracle.exactDbl's in
    // DuckDB; each must equal the sequence run on BigDecimal.
    def formula(d: BigDecimal): Double = {
      val fl = d.setScale(0, BigDecimal.RoundingMode.FLOOR)
      fl.toLongExact.toDouble + (d - fl).bigDecimal.movePointRight(14).longValueExact().toDouble / 1.0e14
    }
    val fractions = Seq("0.99999999999999" -> 0.99999999999999,
      "0.12345678901234" -> 0.12345678901234, "0.00000000000003" -> 3e-14,
      "-0.12345678901234" -> -0.12345678901234003,
      "-3.00000000000001" -> -3.0000000000000098)
    val dec = fractions.map { case (t, _) => lit(BigDecimal(t).bigDecimal).cast(Dec.D) }
    val row = Seq(1).toDF("x").select(dec.map(Dec.exactDouble): _*).collect()(0)
    fractions.zipWithIndex.foreach { case ((t, want), i) =>
      assert(formula(BigDecimal(t)) == want, t)
      assert(row.getDouble(i) == want, s"exactDouble($t) = ${row.getDouble(i)}, not $want")
      // the driver twin (the quantizer trainers' means) runs the same sequence
      val twin = Dec.exactDouble(new java.math.BigDecimal(t).setScale(14))
      assert(twin == row.getDouble(i), s"driver exactDouble($t) = $twin, not ${row.getDouble(i)}")
    }
    assert(Dec.exactDouble(v.bigDecimal) == hand, "driver exactDouble past 2^53")
    // seeded regression: `s - floor(s)` types as DECIMAL(38,12) in Spark
    // and rounds the fraction at digit 12
    val s = dec.head
    val digit12 = Seq(1).toDF("x").select(floor(s).cast("long").cast("double") +
        ((s - floor(s)) * lit(100000000000000L)).cast("long").cast("double") / lit(1.0e14))
      .collect()(0).getDouble(0)
    assert(digit12 != fractions.head._2, "s - floor(s) kept 14 digits — regression case lost its power")
  }
}
