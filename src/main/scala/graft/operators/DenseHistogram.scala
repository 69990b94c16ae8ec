package graft.operators

import graft.axes.{BinAxis, IdT, Regular}
import graft.util.Dec
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, ExprId, GenericInternalRow, NamedExpression, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, ProjectExec, SparkPlan, SparkStrategy, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** The dense histogram kernel: every row of a partition lands in one flat
  * slot array, the per-partition arrays merge (on the driver, or in a tree
  * on the executors when there are many), and the driver emits the sparse
  * or the dense layout. This is the reference's
  * per-chunk fill plus tree-reduce (core.py:411-464) without a per-row
  * hash lookup and without a shuffle.
  *
  * Each axis has its `nBins` regular slots, plus one underflow and one
  * overflow slot when the call keeps flow bins and the axis has them. A
  * row whose index falls outside the kept slots is dropped, which is
  * `keepPred`'s rule. Two fills share that slot rule:
  *
  *  - columnar: when the child is a bare columnar scan of the value (and
  *    weight) columns as double vectors, and every axis is an IdT
  *    `Regular`, the kernel reads the scan's batches. Its index arithmetic
  *    is the IEEE expression the codegen'd `Regular.index` evaluates.
  *  - row: otherwise the child's codegen'd projection computes
  *    `BinAxis.index`, and the kernel reads those indices.
  *
  * Weights are summed by [[ExactSum]], so each slot's sum equals
  * `sum(Dec.toDec(w))` bit for bit. Results are DECIMAL(38,14); the caller
  * turns them into doubles with `Dec.exactDouble`.
  */
final class DenseKernel(axes: Seq[BinAxis], flow: Boolean, val dense: Boolean,
    weight: Option[DataType], val ansi: Boolean) extends Serializable {
  val nAxes: Int = axes.length
  val weighted: Boolean = weight.isDefined
  private val doubleWeight = weight.contains(DoubleType)
  private val n = axes.map(_.nBins).toArray
  private val under = axes.map(a => flow && a.underflow).toArray
  private val over = axes.map(a => flow && a.overflow).toArray
  private val off = under.map(u => if (u) 1 else 0)
  private val sizes = Array.tabulate(nAxes)(j => n(j) + off(j) + (if (over(j)) 1 else 0))
  val slots: Long = sizes.map(_.toLong).product

  // the columnar fill: IdT Regular axes, and a double weight if any
  val columnar: Boolean = (!weighted || doubleWeight) && axes.forall {
    case r: Regular => r.transform == IdT
    case _ => false
  }
  private val regular = axes.collect { case r: Regular => r }.toArray
  private val lo = regular.map(_.lo)
  private val hi = regular.map(_.hi)
  private val span = regular.map(r => r.hi - r.lo)
  private val last = n.map(_ - 1L)

  def describe: String =
    axes.map(a => s"${a.name}:${a.nBins}").mkString("[", ", ", "]") +
      s" slots=$slots flow=$flow dense=$dense weighted=$weighted"

  def empty(): DenseKernel.Bins =
    new DenseKernel.Bins(new Array[Long](slots.toInt), if (weighted) new ExactSum(slots.toInt) else null)

  /** The slot of index `i` on axis `j`, or -1 when the row is dropped. */
  private def indexSlot(j: Int, i: Long): Int =
    if (i >= 0 && i < n(j)) off(j) + i.toInt
    else if (i == -1) (if (under(j)) 0 else -1)
    else if (i == n(j)) (if (over(j)) sizes(j) - 1 else -1)
    else -1

  /** `Regular.index` on a raw value: NaN fails `x < hi` and lands in
    * overflow, as in Spark, which orders NaN above every double. */
  private def valueSlot(j: Int, x: Double): Int =
    if (x < lo(j)) (if (under(j)) 0 else -1)
    else if (!(x < hi(j))) (if (over(j)) sizes(j) - 1 else -1)
    else {
      val b = ((x - lo(j)) / span(j) * n(j).toDouble).toLong
      off(j) + math.max(0L, math.min(b, last(j))).toInt
    }

  /** The bin index of every axis of `slot` (-1 underflow, nBins overflow). */
  def indices(slot: Int): Array[Long] = {
    val out = new Array[Long](nAxes)
    var s = slot
    var j = nAxes - 1
    while (j >= 0) { out(j) = (s % sizes(j) - off(j)).toLong; s /= sizes(j); j -= 1 }
    out
  }

  /** Row fill: `pos` holds the child positions of the index columns, then
    * of the weight. */
  def fillRows(it: Iterator[InternalRow], pos: Array[Int]): DenseKernel.Bins = {
    val b = empty()
    val memo = if (weighted && doubleWeight) new ExactSum.Memo else null
    while (it.hasNext) {
      val r = it.next()
      var s = 0
      var j = 0
      while (j < nAxes && s >= 0) {
        val a = if (r.isNullAt(pos(j))) -1 else indexSlot(j, r.getLong(pos(j)))
        s = if (a < 0) -1 else s * sizes(j) + a
        j += 1
      }
      if (s >= 0) {
        b.counts(s) += 1
        if (weighted && !r.isNullAt(pos(nAxes))) {
          if (doubleWeight) b.sums.addDouble(s, r.getDouble(pos(nAxes)), memo)
          else b.sums.addDecimal(s, r.getDecimal(pos(nAxes), Dec.D.precision, Dec.D.scale))
        }
      }
    }
    b
  }

  /** Columnar fill: `pos` holds the batch positions of the value columns,
    * then of the weight. */
  def fillBatches(it: Iterator[ColumnarBatch], pos: Array[Int], read: SQLMetric): DenseKernel.Bins = {
    val b = empty()
    val memo = if (weighted) new ExactSum.Memo else null
    val vs = new Array[ColumnVector](pos.length)
    val xs = new Array[Array[Double]](pos.length)
    while (it.hasNext) {
      val batch = it.next()
      val m = batch.numRows()
      var anyNull = false
      var c = 0
      while (c < pos.length) {
        vs(c) = batch.column(pos(c))
        xs(c) = DenseKernel.doubles(vs(c), m)
        anyNull ||= vs(c).hasNull
        c += 1
      }
      var i = 0
      while (i < m) {
        var s = 0
        var j = 0
        while (j < nAxes && s >= 0) {
          val a = if (anyNull && vs(j).isNullAt(i)) -1 else valueSlot(j, xs(j)(i))
          s = if (a < 0) -1 else s * sizes(j) + a
          j += 1
        }
        if (s >= 0) {
          b.counts(s) += 1
          if (weighted && !(anyNull && vs(nAxes).isNullAt(i)))
            b.sums.addDouble(s, xs(nAxes)(i), memo)
        }
        i += 1
      }
      read += m
    }
    b
  }
}

object DenseKernel {
  /** One partition's (or a merge's) slot counts and weight sums. */
  final class Bins(val counts: Array[Long], val sums: ExactSum) extends Serializable {
    def merge(o: Bins): Bins = {
      var i = 0
      while (i < counts.length) { counts(i) += o.counts(i); i += 1 }
      if (sums != null) sums.merge(o.sums)
      this
    }
  }

  /** A batch column as doubles: one bulk copy when the vector allows it. */
  private def doubles(v: ColumnVector, m: Int): Array[Double] = v match {
    case w: WritableColumnVector if !w.hasDictionary => w.getDoubles(0, m)
    case _ => Array.tabulate(m)(i => if (v.isNullAt(i)) 0.0 else v.getDouble(i))
  }
}

/** Logical node of the kernel. `child` outputs `inputs`: the raw value of
  * every axis, then its bin index, then the weight (a double, or a
  * DECIMAL(38,14)). The node outputs one row per emitted slot: the bin
  * index of every axis, the row count `n`, and for a weighted call the
  * exact sum `__s`. */
case class DenseHistogram(kernel: DenseKernel, inputs: Seq[Attribute],
    output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def simpleString(maxFields: Int): String = s"DenseHistogram ${kernel.describe}"
  override protected def withNewChildInternal(c: LogicalPlan): DenseHistogram = copy(child = c)
}

/** The kernel's exec. It runs the fill as one job when its result is
  * needed and evaluates `projectList` (the projection right above the
  * logical node, usually the bin labels) over the `slots` rows on the
  * driver, so a collected histogram costs one job. */
case class DenseHistogramExec(kernel: DenseKernel, inputs: Seq[Attribute],
    slots: Seq[Attribute], projectList: Seq[NamedExpression], child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition
  override lazy val metrics: Map[String, SQLMetric] = Map("columnarRows" ->
    SQLMetrics.createMetric(sparkContext, "rows read from columnar batches"))
  override def simpleString(maxFields: Int): String = s"DenseHistogramExec ${kernel.describe}"
  override protected def withNewChildInternal(c: SparkPlan): DenseHistogramExec = copy(child = c)

  override def executeCollect(): Array[InternalRow] = run()
  override protected def doExecute(): RDD[InternalRow] = sparkContext.parallelize(run().toSeq, 1)

  private def run(): Array[InternalRow] = {
    val k = kernel
    val parts: RDD[DenseKernel.Bins] = columnarInput match {
      case Some((scan, pos)) =>
        val read = longMetric("columnarRows")
        scan.executeColumnar().mapPartitions(it => Iterator(k.fillBatches(it, pos, read)))
      case None =>
        val pos = inputs.drop(k.nAxes).map(a => child.output.indexWhere(_.exprId == a.exprId)).toArray
        child.execute().mapPartitions(it => Iterator(k.fillRows(it, pos)))
    }
    // the driver merges the partials itself while they total at most 8M
    // slots (64 MB of counts); beyond that they tree-merge on executors
    val np = parts.partitions.length
    val bins = if (np == 0) k.empty()
      else parts.treeReduce(_ merge _, depth = if (np * k.slots <= (1L << 23)) 1 else 2)
    val toUnsafe = UnsafeProjection.create(projectList, slots)
    (0 until k.slots.toInt).filter(s => k.dense || bins.counts(s) > 0).map { s =>
      val row = k.indices(s) ++ Seq(bins.counts(s)) ++
        (if (k.weighted) Seq(bins.sums.result(s, k.ansi)) else Nil)
      toUnsafe(new GenericInternalRow(row.toArray[Any])).copy(): InternalRow
    }.toArray
  }

  /** The columnar scan below the child and the positions of the value and
    * weight columns in its batches, when the child only renames them and
    * they are double vectors. */
  private def columnarInput: Option[(SparkPlan, Array[Int])] = {
    def walk(p: SparkPlan, ids: Seq[ExprId]): Option[(SparkPlan, Array[Int])] = p match {
      case w: WholeStageCodegenExec => walk(w.child, ids)
      case i: InputAdapter => walk(i.child, ids)
      case c: ColumnarToRowExec => walk(c.child, ids)
      case pr: ProjectExec =>
        val renamed = ids.map(id => pr.projectList.find(_.exprId == id).collect {
          case a: AttributeReference => a.exprId
          case Alias(a: AttributeReference, _) => a.exprId
        })
        if (renamed.forall(_.isDefined)) walk(pr.child, renamed.flatten) else None
      case s if s.supportsColumnar =>
        val pos = ids.map(id => s.output.indexWhere(_.exprId == id))
        if (pos.forall(i => i >= 0 && s.output(i).dataType == DoubleType)) Some((s, pos.toArray))
        else None
      case _ => None
    }
    val ids = inputs.take(kernel.nAxes) ++ inputs.drop(2 * kernel.nAxes)
    if (kernel.columnar) walk(child, ids.map(_.exprId)) else None
  }
}

object DenseHistogramStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(list, h: DenseHistogram) if list.forall(_.deterministic) &&
        !list.exists(SubqueryExpression.hasSubquery) => exec(h, list) :: Nil
    case h: DenseHistogram => exec(h, h.output) :: Nil
    case _ => Nil
  }

  private def exec(h: DenseHistogram, list: Seq[NamedExpression]): SparkPlan =
    DenseHistogramExec(h.kernel, h.inputs, h.output, list, planLater(h.child))

  /** Installs the strategy on `session` once. `Histogram` calls this on
    * every DataFrame's session, so sessions built without
    * [[graft.GraftExtensions]] plan the kernel too. */
  def setup(session: SparkSession): Unit = session.experimental.synchronized {
    if (!session.experimental.extraStrategies.contains(this))
      session.experimental.extraStrategies = this +: session.experimental.extraStrategies
  }
}

object DenseHistogram {
  /** Largest slot grid the kernel runs: 64k slots keep each task's arrays
    * at 512 KB. Larger grids take the declarative aggregate. */
  val MaxSlots: Long = 1L << 16

  /** (`__i0`.., `n`, [`__s`]) of `df` over the slot grid of `specs`, or
    * None when the grid has more than [[MaxSlots]] slots, or `df` is a
    * stream (whose histogram is a stateful aggregate across batches). */
  def counts(df: DataFrame, specs: Seq[(Column, BinAxis)], flow: Boolean,
      weight: Option[Column], dense: Boolean): Option[DataFrame] =
    if (df.isStreaming ||
        new DenseKernel(specs.map(_._2), flow, dense, None, false).slots > MaxSlots) None
    else {
      val k = specs.size
      val child = ExactSum.weightInput(df.select(
        specs.zipWithIndex.map { case ((c, _), j) => c.as(s"__x$j") } ++
          specs.zipWithIndex.map { case ((c, ax), j) => ax.index(c).as(s"__i$j") } ++
          weight.map(_.as("__w")).toSeq: _*), "__w").queryExecution.analyzed
      val w = child.output.drop(2 * k).headOption
      val session = df.sparkSession
      val kernel = new DenseKernel(specs.map(_._2), flow, dense, w.map(_.dataType),
        session.sessionState.conf.ansiEnabled)
      val out = (0 until k).map(j => AttributeReference(s"__i$j", LongType, nullable = false)()) ++
        Seq(AttributeReference("n", LongType, nullable = false)()) ++
        w.map(_ => AttributeReference("__s", Dec.D)()).toSeq
      DenseHistogramStrategy.setup(session)
      Some(GraftShim.ofRows(session, DenseHistogram(kernel, child.output, out, child)))
    }
}
