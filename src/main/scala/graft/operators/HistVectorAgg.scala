package graft.operators

import graft.axes.BinAxis
import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dense histogram aggregation buffer: counts per bin as one
  * Array[Double].
  *
  * The sparse groupBy path shuffles one row per (group, bin, map-partition);
  * this aggregate shuffles ONE dense vector per (group, map-partition) —
  * the winning layout when bins are many and groups comparatively few
  * (e.g. 10k-bin histograms on a 1000-executor cluster: 10k-row shuffle
  * blocks collapse into a single 80KB vector). This is the direct analog of
  * the reference's per-chunk boost histogram + tree-reduce
  * (xarray-histogram core.py:411-464): partial vectors add elementwise.
  *
  * Input: precomputed bin index (null/-out-of-range ignored) + weight.
  * Buffer layout: [0..n) regular bins, slot n = underflow, n+1 = overflow.
  */
case class HistVectorAgg(
    idx: Expression,
    weight: Expression,
    nBins: Int,
    flow: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  override def children: Seq[Expression] = Seq(idx, weight)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): Array[Double] = new Array[Double](nBins + 2)

  // Unweighted histograms pass weight = lit(1.0); incrementing directly
  // skips a boxed eval per row in the (imperative, non-codegen) update loop.
  @transient private lazy val unitWeight = weight match {
    case org.apache.spark.sql.catalyst.expressions.Literal(1.0, DoubleType) => true
    case _ => false
  }

  override def update(buf: Array[Double], row: InternalRow): Array[Double] = {
    val iv = idx.eval(row)
    if (iv != null) {
      val i = iv.asInstanceOf[Long]
      val w =
        if (unitWeight) 1.0
        else weight.eval(row) match {
          case null => 0.0
          case d: Double => d
          case other => other.toString.toDouble
        }
      if (i >= 0 && i < nBins) buf(i.toInt) += w
      else if (i == -1) buf(nBins) += w
      else if (i == nBins) buf(nBins + 1) += w
      // out-of-protocol indices ignored
    }
    buf
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Double]): Any =
    new GenericArrayData(if (flow) buf else buf.take(nBins))

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asDoubleBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asDoubleBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): HistVectorAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HistVectorAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HistVectorAgg =
    copy(idx = c(0), weight = c(1))
}

/** Dense WEIGHTED histogram buffer: per-bin sums as DECIMAL(38,14)
  * unscaled integers (BigInteger). Plain-double accumulation of weights is
  * order-dependent (merge order varies with partitioning), violating the
  * cross-engine / run-to-run determinism contract; integer accumulation of
  * each weight's shortest-string decimal image (exactly Spark's
  * double->DECIMAL(38,14) cast, see graft.util.Dec) is associative and
  * exact, so eval() is bit-identical to the sparse path's
  * Dec.exactDouble(sum(Dec.toDec(w))).
  */
case class HistVectorDecAgg(
    idx: Expression,
    weight: Expression,
    nBins: Int,
    flow: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[java.math.BigInteger]] {
  import java.math.{BigDecimal => JBD, BigInteger => JBI, RoundingMode}

  override def children: Seq[Expression] = Seq(idx, weight)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): Array[JBI] =
    Array.fill(nBins + 2)(JBI.ZERO)

  override def update(buf: Array[JBI], row: InternalRow): Array[JBI] = {
    val iv = idx.eval(row)
    if (iv != null) {
      val i = iv.asInstanceOf[Long]
      val slot =
        if (i >= 0 && i < nBins) i.toInt
        else if (i == -1) nBins
        else if (i == nBins) nBins + 1
        else -1 // out-of-protocol indices ignored
      if (slot >= 0) {
        val w = weight.eval(row) match {
          case null => 0.0
          case d: Double => d
          case other => other.toString.toDouble
        }
        // Mirror of Spark's double->DECIMAL(38,14) cast: shortest string
        // representation, then HALF_UP to scale 14 (graft.util.Dec.toDec).
        // The cast yields NULL — row skipped — for non-finite weights and
        // for values that overflow precision 38; diverging here (throwing)
        // would break the documented bit-parity with the sparse path.
        if (java.lang.Double.isFinite(w)) {
          val d = new JBD(java.lang.Double.toString(w))
            .setScale(14, RoundingMode.HALF_UP)
          if (d.precision() <= 38) buf(slot) = buf(slot).add(d.unscaledValue())
        }
      }
    }
    buf
  }

  override def merge(a: Array[JBI], b: Array[JBI]): Array[JBI] = {
    var i = 0
    while (i < a.length) { a(i) = a(i).add(b(i)); i += 1 }
    a
  }

  /** Exact decimal -> double, bit-identical to Dec.exactDouble /
    * Oracle.exactDbl: toDouble(floor(s)) + toDouble((s-floor(s))*1e14)/1e14. */
  override def eval(buf: Array[JBI]): Any = {
    val out = new Array[Double]((if (flow) buf.length else nBins))
    var i = 0
    while (i < out.length) {
      val s = new JBD(buf(i), 14)
      val fl = s.setScale(0, RoundingMode.FLOOR)
      out(i) = fl.longValueExact().toDouble +
        s.subtract(fl).movePointRight(14).longValueExact().toDouble / 1.0e14
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[JBI]): Array[Byte] = {
    val parts = buf.map(_.toByteArray)
    val bb = java.nio.ByteBuffer.allocate(parts.map(_.length + 4).sum)
    parts.foreach { p => bb.putInt(p.length); bb.put(p) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[JBI] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[JBI](nBins + 2)
    var i = 0
    while (i < out.length) {
      val p = new Array[Byte](bb.getInt); bb.get(p)
      out(i) = new JBI(p); i += 1
    }
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): HistVectorDecAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HistVectorDecAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HistVectorDecAgg =
    copy(idx = c(0), weight = c(1))
}

object HistVectorAgg {

  /** Column API: dense count vector for a bin-index column (unweighted
    * counts: double accumulation of integer increments is exact). */
  def histVector(idx: Column, weight: Column, nBins: Int, flow: Boolean = false): Column =
    GraftShim.column(
      HistVectorAgg(GraftShim.expression(idx), GraftShim.expression(weight), nBins, flow)
        .toAggregateExpression())

  /** Column API: dense weighted-sum vector, DECIMAL(38,14)-exact. */
  def histVectorDec(idx: Column, weight: Column, nBins: Int, flow: Boolean = false): Column =
    GraftShim.column(
      HistVectorDecAgg(GraftShim.expression(idx), GraftShim.expression(weight), nBins, flow)
        .toAggregateExpression())

  private val VectorMinBins = 256
  /** Physical-strategy chooser for dense 1-D histograms: many bins favor
    * the vector aggregate (one array per group per map task through the
    * shuffle); few bins favor the plain groupBy (per-bin rows compress to
    * nothing and stay fully codegen'd). Threshold ([[VectorMinBins]]) from
    * local benchmarks; both paths return identical dense output — unweighted
    * counts are exact in double, weighted sums go through the decimal vector
    * aggregate. */
  def autoDense(df: DataFrame, x: Column, ax: BinAxis, dims: Seq[String],
      weight: Option[Column] = None): DataFrame =
    if (ax.nBins >= VectorMinBins) histogram(df, x, ax, dims, weight)
    else Histogram.histogram(df, x, ax, dims,
      HistOptions(weight = weight, dense = true))

  /** Dense-path histogram: groupBy(dims).agg(vector) then posexplode back to
    * the same sparse row layout as Histogram.histogramdd(dense = true).
    * Shuffle volume: one (nBins+2)-element array per group per map task.
    * Weighted inputs use the order-independent decimal aggregate so output
    * matches the sparse path bit-for-bit regardless of partitioning.
    *
    * The bin index (a when/floor chain) is computed in a PROJECT below the
    * aggregate — whole-stage-codegen'd — so the imperative update loop only
    * evaluates a bound reference per row, not an interpreted expression
    * tree. */
  def histogram(df: DataFrame, x: Column, ax: BinAxis, dims: Seq[String],
      weight: Option[Column] = None): DataFrame = {
    val pre = df.select(dims.map(col) ++ Seq(ax.index(x).as("__hvi")) ++
      weight.map(_.cast("double").as("__hvw")).toSeq: _*)
    val vec = weight match {
      case Some(_) => histVectorDec(col("__hvi"), col("__hvw"), ax.nBins)
      case None => histVector(col("__hvi"), lit(1.0), ax.nBins)
    }
    val g =
      if (dims.isEmpty) pre.agg(vec.as("__v"))
      else pre.groupBy(dims.map(col): _*).agg(vec.as("__v"))
    g.select(dims.map(col) :+ posexplode(col("__v")).as(Seq("__i0", "cnt")): _*)
      .select(dims.map(col) ++
        Seq(ax.label(col("__i0").cast("long"))
          .as(ax.binsCol, graft.axes.AxisMetadata.toMetadata(ax)), col("cnt")): _*)
  }
}
