package graft.operators

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Dense covariance-moment buffer: the 100 TB layout for
  * [[graft.pipeline.Similarity.embedCovariance]]'s exact d×d second
  * moments.
  *
  * The declarative path generates d(d+1)/2 pair rows PER VECTOR (an
  * in-row explode — 2080× row fan-out at d = 64) and hash-aggregates
  * them; this aggregate keeps ONE Array[Long] of quantized moments per
  * (task) and merges buffers — the corpus is read once with zero row
  * fan-out, and the shuffle carries one ~34 KB buffer per map task.
  * Same trade as the dense histogram kernel vs the sparse groupBy.
  *
  * Quantization is [[graft.pipeline.Similarity.embedCovariance]]'s
  * verbatim: qᵢ = floor(xᵢ·1e4) exact longs, so the emitted sums are
  * the SAME exact integers and the downstream covariance arithmetic is
  * bit-identical. Long headroom: Σ|qᵢ·qⱼ| < 2^63 up to ~9e10 rows of
  * unit-scale coordinates (the final double cast needs < 2^53 — the
  * embedCovariance bound, documented there).
  *
  * Buffer layout: [n, marginal(d), upperTriangle(d(d+1)/2)].
  * Vectors of length ≠ d fail loudly (the VecDot rule). */
case class CovVectorAgg(
    vec: Expression,
    d: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val tri = d * (d + 1) / 2

  override def children: Seq[Expression] = Seq(vec)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](1 + d + tri)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val v = vec.eval(row)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      if (arr.numElements() != d)
        throw new IllegalArgumentException(
          s"cov_vector_agg: embedding length mismatch (${arr.numElements()} vs $d)")
      val q = new Array[Long](d)
      var i = 0
      while (i < d) {
        q(i) = math.floor(arr.getFloat(i).toDouble * 1.0e4).toLong
        i += 1
      }
      buf(0) += 1L
      i = 0
      var p = 1 + d
      while (i < d) {
        buf(1 + i) += q(i)
        var j = i
        while (j < d) {
          buf(p) += q(i) * q(j)
          p += 1
          j += 1
        }
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): CovVectorAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CovVectorAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CovVectorAgg =
    copy(vec = c(0))
}

object CovVectorAgg {
  def cov_moments(vec: Column, d: Int): Column =
    GraftShim.column(CovVectorAgg(GraftShim.expression(vec), d)
      .toAggregateExpression())
}
