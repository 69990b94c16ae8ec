package graft

import graft.axes.Regular
import graft.operators.{HistOptions, Histogram, HistVectorAgg}
import org.apache.spark.sql.functions._

/** Dense vector aggregation path must agree exactly with the sparse
  * groupBy path (same semantics, different shuffle layout). */
class HistVectorAggSpec extends SparkSpec {
  import spark.implicits._

  test("dense vector path matches sparse dense-grid path exactly") {
    val df = Seq(("a", 0.5), ("a", 1.5), ("a", 1.7), ("b", 0.2), ("b", 5.0), ("b", -3.0))
      .toDF("g", "x").repartition(3) // multiple partitions -> merge path runs
    val ax = Regular("x", 4, 0.0, 4.0)
    val dense = HistVectorAgg.histogram(df, col("x"), ax, Seq("g"))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val sparse = Histogram.histogram(df, col("x"), ax, Seq("g"),
        HistOptions(dense = true))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(dense == sparse)
    assert(dense(("a", 1.0)) == 2.0 && dense(("b", 0.0)) == 1.0)
    assert(dense(("a", 3.0)) == 0.0) // dense zero bin present
  }

  test("weighted dense vector aggregation") {
    val df = Seq((0.5, 2.0), (0.5, 3.0), (1.5, 10.0)).toDF("x", "w")
    val ax = Regular("x", 2, 0.0, 2.0)
    val h = HistVectorAgg.histogram(df, col("x"), ax, Nil, Some(col("w")))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(h == Map(0.0 -> 5.0, 1.0 -> 10.0))
  }

  test("weighted vector path is order-independent and matches sparse path bitwise") {
    // Weights chosen so plain-double accumulation differs with order
    // (mixing 1e16-scale and 1e-7-scale addends); the decimal aggregate
    // must produce the identical double for every partitioning, equal to
    // the sparse path's Dec.exactDouble(sum(Dec.toDec(w))).
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      val w = if (i % 29 == 0) 1.0e16 else rnd.nextDouble() * 1e-7 + 0.1
      (rnd.nextDouble() * 4.0, w)
    }
    val ax = Regular("x", 4, 0.0, 4.0)
    def denseBits(parts: Int): Seq[(Double, Long)] = {
      val df = rows.toDF("x", "w").repartition(parts)
      HistVectorAgg.histogram(df, col("x"), ax, Nil, Some(col("w")))
        .collect()
        .map(r => r.getDouble(0) -> java.lang.Double.doubleToLongBits(r.getDouble(1)))
        .sortBy(_._1).toSeq
    }
    val sparseBits = Histogram.histogram(rows.toDF("x", "w").repartition(5),
        col("x"), ax, Nil, HistOptions(weight = Some(col("w")), dense = true))
      .collect()
      .map(r => r.getDouble(0) -> java.lang.Double.doubleToLongBits(r.getDouble(1)))
      .sortBy(_._1).toSeq
    assert(denseBits(1) == sparseBits)
    assert(denseBits(7) == sparseBits)
    assert(denseBits(32) == sparseBits)
  }

  test("fast dense-array kernel matches the declarative dense path exactly") {
    val df = Seq("a" -> 0.5, "a" -> 1.5, "b" -> 0.2, "b" -> 5.0, "b" -> -3.0)
      .toDF("g", "x").repartition(3)
    val ax = Regular("x", 4, 0.0, 4.0)
    val fast = graft.operators.FastHist.histogram1d(df, col("x"), ax)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val decl = Histogram.histogram(df, col("x"), ax, Nil, HistOptions(dense = true))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(fast == decl)
    assert(fast(3.0) == 0.0) // dense zero bin present
  }

  test("14-digit bin sums: vector decimal path equals the weighted paths") {
    // each group's bin sums to a value whose fraction needs all 14
    // digits (0.99999999999999, -3.00000000000001): the vector aggregate
    // (q67's hist_vector_dec) converts with the exact BigDecimal formula,
    // and the dims path's sumDec and the dims-free kernel must agree
    val df = Seq(("a", 0.5, 0.5), ("a", 0.5, 0.49999999999999),
        ("b", 0.5, -3.0), ("b", 0.5, -1.0e-14)).toDF("g", "x", "w")
    val ax = Regular("x", 1, 0.0, 1.0)
    val want = Map("a" -> 0.99999999999999, "b" -> -3.0000000000000098)
    val vector = HistVectorAgg.histogram(df, col("x"), ax, Seq("g"), Some(col("w")))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val sparse = Histogram.histogram(df, col("x"), ax, Seq("g"),
        HistOptions(weight = Some(col("w"))))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(vector == want && sparse == want)
    for ((g, v) <- want) {
      val kernel = Histogram.histogram(df.filter(col("g") === g), col("x"), ax,
          opts = HistOptions(weight = Some(col("w"))))
        .collect()(0).getDouble(1)
      assert(kernel == v, g)
    }
  }

  test("non-finite / overflowing weights are skipped like the sparse cast") {
    // The sparse path's double->DECIMAL(38,14) cast yields NULL (row
    // skipped) for NaN/Infinity and precision-38 overflow; the dense
    // decimal aggregate must not crash and must keep matching bit-for-bit.
    val df = Seq((0.5, 2.0), (0.5, Double.NaN), (0.5, Double.PositiveInfinity),
      (1.5, Double.NegativeInfinity), (1.5, 1.0e30), (1.5, 4.0))
      .toDF("x", "w").repartition(3)
    val ax = Regular("x", 2, 0.0, 2.0)
    val dense = HistVectorAgg.histogram(df, col("x"), ax, Nil, Some(col("w")))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val sparse = Histogram.histogram(df, col("x"), ax, Nil,
        HistOptions(weight = Some(col("w")), dense = true))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(dense == sparse)
    assert(dense == Map(0.0 -> 2.0, 1.0 -> 4.0))
  }
}
