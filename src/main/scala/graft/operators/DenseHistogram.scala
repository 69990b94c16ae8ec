package graft.operators

import graft.axes.{BinAxis, IdT, Regular}
import graft.util.Dec
import java.math.{BigInteger => JBI}
import org.apache.spark.{Partition, SparkEnv, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, BoundReference, ExprId, Expression, GenericInternalRow, JoinedRow, NamedExpression, RowOrdering, SortOrder, SortPrefix, Ascending, SubqueryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, ProjectExec, ShuffledRowRDD, SortPrefixUtils, SparkPlan, SparkStrategy, UnaryExecNode, UnsafeExternalRowSorter, UnsafeRowSerializer, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics, SQLShuffleReadMetricsReporter, SQLShuffleWriteMetricsReporter}
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** The dense histogram kernel: every row of a partition lands in a flat
  * slot array, one per group key (the reference's loop dims), the
  * per-partition arrays merge, and the kernel emits the sparse or the
  * dense layout. This is the reference's per-chunk fill plus tree-reduce
  * (core.py:411-464) without a per-row hash lookup of the bin.
  *
  * Each axis has its `nBins` regular slots, plus one underflow and one
  * overflow slot when the call keeps flow bins and the axis has them. A
  * row whose index falls outside the kept slots is dropped, which is
  * `keepPred`'s rule. Two fills share that slot rule:
  *
  *  - columnar: when the child is a bare columnar scan of the key, value
  *    (and weight) columns, the values as double vectors, and every axis
  *    is an IdT `Regular`, the kernel reads the scan's batches. Its index
  *    arithmetic is the IEEE expression the codegen'd `Regular.index`
  *    evaluates.
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

  /** The bin indices, count and (weighted) exact sum of `slot` of `b`:
    * the part of an output row after the group key. */
  def binRow(b: DenseKernel.Bins, slot: Int): InternalRow = new GenericInternalRow(
    (indices(slot) ++ Seq(b.counts(slot)) ++ (if (weighted) Seq(b.sums.result(slot, ansi)) else Nil))
      .toArray[Any])

  /** Row fill into `fill` until the rows end or the fill is full: `pos`
    * holds the child positions of the index columns, then of the weight. */
  def fillRows(it: Iterator[InternalRow], pos: Array[Int], fill: DenseKernel.Fill): Unit =
    while (it.hasNext && !fill.full) {
      val r = it.next()
      var s = 0
      var j = 0
      while (j < nAxes && s >= 0) {
        val a = if (r.isNullAt(pos(j))) -1 else indexSlot(j, r.getLong(pos(j)))
        s = if (a < 0) -1 else s * sizes(j) + a
        j += 1
      }
      if (s >= 0 || fill.allKeys) {
        val b = if (fill.keyed) fill.of(r) else fill.single
        if (s >= 0) {
          b.counts(s) += 1
          if (weighted && !r.isNullAt(pos(nAxes))) {
            if (doubleWeight) b.sums.addDouble(s, r.getDouble(pos(nAxes)), fill.memo)
            else b.sums.addDecimal(s, r.getDecimal(pos(nAxes), Dec.D.precision, Dec.D.scale))
          }
        }
      }
    }

  /** Columnar fill into `fill` until the batches end or the fill is full. */
  def fillBatches(in: DenseKernel.Batches, fill: DenseKernel.Fill): Unit =
    while (!fill.full && in.load()) {
      val vs = in.vs
      val xs = in.xs
      val anyNull = in.anyNull
      val m = in.m
      var i = in.i
      while (i < m && !fill.full) {
        var s = 0
        var j = 0
        while (j < nAxes && s >= 0) {
          val a = if (anyNull && vs(j).isNullAt(i)) -1 else valueSlot(j, xs(j)(i))
          s = if (a < 0) -1 else s * sizes(j) + a
          j += 1
        }
        if (s >= 0 || fill.allKeys) {
          val b = if (fill.keyed) fill.of(in.batch.getRow(i)) else fill.single
          if (s >= 0) {
            b.counts(s) += 1
            if (weighted && !(anyNull && vs(nAxes).isNullAt(i)))
              b.sums.addDouble(s, xs(nAxes)(i), fill.memo)
          }
        }
        i += 1
      }
      in.i = i
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

    def clear(slot: Int): Unit = {
      counts(slot) = 0L
      if (sums != null) sums.clear(slot)
    }
  }

  /** Slot-array budget of one task's fill, in slots, where each key also
    * costs [[KeyCost]]: past it the fill flushes its partials downstream. */
  val Budget: Long = 2 * DenseHistogram.MaxSlots
  private val KeyCost = 32

  private final class Group(val key: UnsafeRow, val bins: Bins)

  /** One task's fill target: the slot array of every group key seen since
    * the last flush, or the one array of a call without keys. `keys` are
    * the key expressions bound to the fill's input rows. */
  final class Fill(k: DenseKernel, keys: Seq[Expression]) {
    val keyed: Boolean = keys.nonEmpty
    /** Whether a row outside the grid still enters its key: the dense
      * layout gives every key of the input its zero grid. */
    val allKeys: Boolean = keyed && k.dense
    val single: Bins = if (keyed) null else k.empty()
    lazy val memo = new ExactSum.Memo
    private val keyOf = if (keyed) UnsafeProjection.create(keys) else null
    private val groups = new java.util.HashMap[UnsafeRow, Group]
    private var last: Group = null
    private var used = 0L

    def full: Boolean = used > Budget

    /** The slot array of `r`'s key. */
    def of(r: InternalRow): Bins = {
      val key = keyOf(r)
      if (last == null || !last.key.equals(key)) {
        last = groups.get(key)
        if (last == null) {
          last = new Group(key.copy(), k.empty())
          groups.put(last.key, last)
          used += k.slots + KeyCost
        }
      }
      last.bins
    }

    /** The partials filled since the last flush as sparse records (key…,
      * slot, count[, sum's long part, sum's spilled part]): every occupied
      * slot of every key, and a slot -1 record for a key that has none
      * when the layout is dense. The fill is empty once they are read. */
    def flush(): Iterator[InternalRow] = {
      val entries: Iterator[(InternalRow, Bins)] =
        if (keyed) groups.values.iterator.asScala.map(g => (g.key, g.bins))
        else Iterator((EmptyKey, single))
      val out = entries.flatMap { case (key, b) =>
        var n = 0
        var s = 0
        while (s < b.counts.length) {
          if (b.counts(s) > 0) { occupied(n) = s; n += 1 }
          s += 1
        }
        if (n == 0 && allKeys) Iterator(record(key, b, -1))
        else occupied.iterator.take(n).map(record(key, b, _))
      }
      new Iterator[InternalRow] {
        def hasNext: Boolean = out.hasNext || { reset(); false }
        def next(): InternalRow = out.next()
      }
    }

    private lazy val occupied = new Array[Int](k.slots.toInt)
    private lazy val toRecord = UnsafeProjection.create(
      (keys.map(_.dataType) ++ recordTail(k.weighted).map(_.dataType)).toArray)
    private lazy val tail = new GenericInternalRow(if (k.weighted) 4 else 2)
    private val joined = new JoinedRow

    private def record(key: InternalRow, b: Bins, s: Int): InternalRow = {
      tail.update(0, s)
      tail.update(1, if (s < 0) 0L else b.counts(s))
      if (k.weighted) {
        val set = s >= 0 && b.sums.isSet(s)
        tail.update(2, if (set) b.sums.longPart(s) else null)
        tail.update(3, if (set) b.sums.bigPart(s) else null)
      }
      toRecord(joined(key, tail))
    }

    private def reset(): Unit = {
      groups.clear()
      last = null
      used = 0L
    }
  }

  private val EmptyKey: InternalRow = new GenericInternalRow(0)


  /** The fields of a shuffled record after the key. */
  def recordTail(weighted: Boolean): Seq[AttributeReference] =
    Seq(AttributeReference("slot", IntegerType, nullable = false)(),
      AttributeReference("n", LongType, nullable = false)()) ++
      (if (weighted) Seq(AttributeReference("sl", LongType)(), AttributeReference("sb", BinaryType)())
       else Nil)

  /** A partition's columnar batches, read row by row across fills: `pos`
    * holds the batch positions of the value columns, then of the weight. */
  final class Batches(it: Iterator[ColumnarBatch], pos: Array[Int], read: SQLMetric) {
    var batch: ColumnarBatch = _
    val vs = new Array[ColumnVector](pos.length)
    val xs = new Array[Array[Double]](pos.length)
    var anyNull = false
    var m = 0
    var i = 0

    /** Whether a row is left, loading the next non-empty batch if needed. */
    def load(): Boolean = {
      while (i >= m && it.hasNext) {
        batch = it.next()
        m = batch.numRows()
        i = 0
        anyNull = false
        var c = 0
        while (c < pos.length) {
          vs(c) = batch.column(pos(c))
          xs(c) = doubles(vs(c), m)
          anyNull ||= vs(c).hasNull
          c += 1
        }
        read += m
      }
      i < m
    }
  }

  /** A batch column as doubles: one bulk copy when the vector allows it. */
  private def doubles(v: ColumnVector, m: Int): Array[Double] = v match {
    case w: WritableColumnVector if !w.hasDictionary => w.getDoubles(0, m)
    case _ => Array.tabulate(m)(i => if (v.isNullAt(i)) 0.0 else v.getDouble(i))
  }
}

/** The partials of one reduce partition, merged per key into output rows.
  * With keys, the records are first sorted by key (a spilling sort, so
  * the task holds one key's slot array at a time) and each run of equal
  * keys folds into one array; without keys every record folds into the
  * one array, which is emitted even when no record arrives. `out`
  * projects (key…, bin indices…, count[, sum]) to the output row. */
private final class KeyedMerge(k: DenseKernel, keyTypes: Seq[DataType],
    out: Seq[NamedExpression], slots: Seq[Attribute])
  extends ((TaskContext, Iterator[InternalRow]) => Iterator[InternalRow]) with Serializable {

  def apply(ctx: TaskContext, records: Iterator[InternalRow]): Iterator[InternalRow] = {
    val nk = keyTypes.size
    val recordTypes = keyTypes ++ DenseKernel.recordTail(k.weighted).map(_.dataType)
    val in: Iterator[InternalRow] = if (nk == 0) records else {
      // SortExec's sorter: the first key's sort prefix, then whole keys
      val first = SortOrder(BoundReference(0, keyTypes.head, nullable = true), Ascending)
      val prefixOf = SortPrefix(first)
      val toPrefix = UnsafeProjection.create(Seq(prefixOf))
      val prefix = new UnsafeExternalRowSorter.PrefixComputer {
        private val p = new UnsafeExternalRowSorter.PrefixComputer.Prefix
        override def computePrefix(r: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
          val v = toPrefix(r)
          p.isNull = v.isNullAt(0)
          p.value = if (p.isNull) prefixOf.nullValue else v.getLong(0)
          p
        }
      }
      val sorter = UnsafeExternalRowSorter.create(
        StructType(recordTypes.zipWithIndex.map { case (t, j) => StructField(s"_$j", t) }),
        RowOrdering.createNaturalAscendingOrdering(keyTypes), SortPrefixUtils.getPrefixComparator(first),
        prefix, SparkEnv.get.memoryManager.pageSizeBytes,
        nk == 1 && SortPrefixUtils.canSortFullyWithPrefix(first))
      sorter.sort(records.asInstanceOf[Iterator[UnsafeRow]])
    }
    val keyOf = UnsafeProjection.create(
      keyTypes.zipWithIndex.map { case (t, j) => BoundReference(j, t, nullable = true) })
    val toOut = UnsafeProjection.create(out, slots)
    val joined = new JoinedRow
    val bins = k.empty()
    // the occupied slots of the current key, to emit (sparse) and clear
    val occupied = new Array[Int](k.slots.toInt)
    var nOccupied = 0
    var held: InternalRow = if (in.hasNext) in.next() else null
    var single = nk == 0

    def add(r: InternalRow): Unit = {
      val s = r.getInt(nk)
      if (s >= 0) {
        if (bins.counts(s) == 0) { occupied(nOccupied) = s; nOccupied += 1 }
        bins.counts(s) += r.getLong(nk + 1)
        if (k.weighted && !r.isNullAt(nk + 2))
          bins.sums.addPartial(s, r.getLong(nk + 2),
            if (r.isNullAt(nk + 3)) null else new JBI(r.getBinary(nk + 3)))
      }
    }

    /** Clears the slots the last key occupied (no rows). */
    def cleared(): Iterator[InternalRow] = {
      (0 until nOccupied).foreach(j => bins.clear(occupied(j)))
      nOccupied = 0
      Iterator.empty
    }

    /** The rows of the next key, or None at the end. */
    def nextKey(): Option[Iterator[InternalRow]] =
      if (held == null && !single) None
      else {
        single = false
        val key = if (held == null) keyOf(EmptyRow).copy() else keyOf(held).copy()
        while (held != null && (nk == 0 || keyOf(held) == key)) {
          add(held)
          held = if (in.hasNext) in.next() else null
        }
        val emitted = if (k.dense) (0 until k.slots.toInt).iterator
          else occupied.iterator.take(nOccupied)
        // `++` evaluates `cleared()` once the key's rows are read
        Some(emitted.map(s => toOut(joined(key, k.binRow(bins, s)))) ++ cleared())
      }

    Iterator.continually(nextKey()).takeWhile(_.isDefined).flatMap(_.get)
  }

  private val EmptyRow: InternalRow = new GenericInternalRow(0)
}

/** `prev` with `f` applied to each partition: `mapPartitions` without the
  * closure cleaning it pays on every call. */
private final class PartitionsRDD[T: ClassTag, U: ClassTag](prev: RDD[T],
    f: (TaskContext, Iterator[T]) => Iterator[U]) extends RDD[U](prev) {
  override protected def getPartitions: Array[Partition] = firstParent[T].partitions
  override def compute(split: Partition, ctx: TaskContext): Iterator[U] =
    f(ctx, firstParent[T].iterator(split, ctx))
}

/** One task's fill over the child's rows or the scan's batches: `pos`
  * holds the input positions of the keys, then of the index (rows) or
  * value (batches) columns, then of the weight. */
private abstract class FillTask[U](k: DenseKernel, keyTypes: Seq[DataType], columnar: Boolean,
    pos: Array[Int], read: SQLMetric)
  extends ((TaskContext, Iterator[Any]) => U) with Serializable {

  /** A fill over `in`, and the step that runs it until it is full or `in`
    * ends. */
  protected def start(in: Iterator[Any]): (DenseKernel.Fill, () => Unit) = {
    val fill = new DenseKernel.Fill(k,
      keyTypes.zip(pos).map { case (t, p) => BoundReference(p, t, nullable = true) })
    val rest = pos.drop(keyTypes.size)
    if (columnar) {
      val batches = new DenseKernel.Batches(in.asInstanceOf[Iterator[ColumnarBatch]], rest, read)
      (fill, () => k.fillBatches(batches, fill))
    } else {
      val rows = in.asInstanceOf[Iterator[InternalRow]]
      (fill, () => k.fillRows(rows, rest, fill))
    }
  }
}

/** A dims-free partition into one slot array, merged on the driver. */
private final class FillPartition(k: DenseKernel, columnar: Boolean, pos: Array[Int],
    read: SQLMetric) extends FillTask[DenseKernel.Bins](k, Nil, columnar, pos, read) {
  def apply(ctx: TaskContext, in: Iterator[Any]): DenseKernel.Bins = {
    val (fill, run) = start(in)
    run()
    fill.single
  }
}

/** A partition as the sparse records of its flushed fills, for the
  * shuffle to the merge. `flushes` counts the fills the budget cut short. */
private final class FillRecords(k: DenseKernel, keyTypes: Seq[DataType], columnar: Boolean,
    pos: Array[Int], read: SQLMetric, flushes: SQLMetric)
  extends FillTask[Iterator[InternalRow]](k, keyTypes, columnar, pos, read) {
  def apply(ctx: TaskContext, in: Iterator[Any]): Iterator[InternalRow] = {
    val (fill, run) = start(in)
    var done = false
    Iterator.continually(()).takeWhile(_ => !done).flatMap { _ =>
      run()
      if (fill.full) flushes += 1 else done = true
      fill.flush()
    }
  }
}

/** A partition's rows as one byte array: each row's size, then its bytes. */
private final class CollectRows
  extends ((TaskContext, Iterator[InternalRow]) => Array[Byte]) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bytes)
    val buffer = new Array[Byte](4096)
    rows.foreach { r =>
      val u = r.asInstanceOf[UnsafeRow]
      out.writeInt(u.getSizeInBytes)
      u.writeToStream(out, buffer)
    }
    out.flush()
    bytes.toByteArray
  }
}

private object CollectRows {
  /** The rows of `bytes` ([[CollectRows]]' layout) with `fields` fields. */
  def rows(bytes: Array[Byte], fields: Int): Iterator[InternalRow] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    Iterator.continually(in.available() > 0).takeWhile(identity).map { _ =>
      val row = new Array[Byte](in.readInt())
      in.readFully(row)
      val u = new UnsafeRow(fields)
      u.pointTo(row, row.length)
      u
    }
  }
}

/** Logical node of the kernel. `child` outputs `inputs`: the `keys` group
  * keys, then the raw value of every axis, then its bin index, then the
  * weight (a double, or a DECIMAL(38,14)). The node outputs one row per
  * emitted (key, slot): the keys, the bin index of every axis, the row
  * count `__n`, and for a weighted call the exact sum `__s`. */
case class DenseHistogram(kernel: DenseKernel, keys: Int, inputs: Seq[Attribute],
    output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def simpleString(maxFields: Int): String =
    s"DenseHistogram keys=${output.take(keys).mkString("[", ", ", "]")} ${kernel.describe}"
  override protected def withNewChildInternal(c: LogicalPlan): DenseHistogram = copy(child = c)
}

/** The kernel's exec. It evaluates `projectList` (the projection right
  * above the logical node, usually the bin labels) over the `slots` rows
  * itself. Its partials merge one of two ways:
  *
  *  - without keys, while partitions × slots stays within 8M (64 MB of
  *    counts), on the driver: one job of named fill functions whose
  *    result handler merges each partition's array, so a collected
  *    histogram costs one job, with no closure to clean, and the exec
  *    reports `SinglePartition`;
  *  - otherwise in one keyed shuffle inside the exec: each task flushes
  *    its sparse partials, each key lands in the partition of Spark's
  *    `HashPartitioning(keys, partitions)` (without keys, in one
  *    partition), and a merge task folds each key's records into one
  *    array and emits its rows. The exec reports that partitioning, so
  *    windows and aggregates over the keys plan no exchange. Collected,
  *    it is one job of named functions too.
  */
case class DenseHistogramExec(kernel: DenseKernel, keys: Int, inputs: Seq[Attribute],
    slots: Seq[Attribute], projectList: Seq[NamedExpression], partitions: Int, child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)

  override def outputPartitioning: Partitioning =
    if (keys == 0) SinglePartition
    else {
      val out = slots.take(keys).map(k => projectList.collectFirst {
        case a: Attribute if a.exprId == k.exprId => a
        case al @ Alias(a: Attribute, _) if a.exprId == k.exprId => al.toAttribute
      })
      if (out.forall(_.isDefined)) HashPartitioning(out.flatten, partitions)
      else UnknownPartitioning(partitions)
    }

  private lazy val writeMetrics = SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sparkContext)
  private lazy val readMetrics = SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sparkContext)
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "columnarRows" -> SQLMetrics.createMetric(sparkContext, "rows read from columnar batches"),
    "flushes" -> SQLMetrics.createMetric(sparkContext, "fills flushed at the slot budget")) ++
    readMetrics ++ writeMetrics

  override def simpleString(maxFields: Int): String =
    s"DenseHistogramExec keys=${slots.take(keys).mkString("[", ", ", "]")} ${kernel.describe}"
  override protected def withNewChildInternal(c: SparkPlan): DenseHistogramExec = copy(child = c)

  override def executeCollect(): Array[InternalRow] =
    if (onDriver) mergeOnDriver()
    else {
      val parts = new Array[Array[Byte]](merged.partitions.length)
      sparkContext.runJob(merged, new CollectRows, parts.indices,
        (i: Int, rows: Array[Byte]) => parts(i) = rows)
      parts.iterator.flatMap(CollectRows.rows(_, output.size)).toArray
    }
  override protected def doExecute(): RDD[InternalRow] =
    if (onDriver) sparkContext.parallelize(mergeOnDriver().toSeq, 1) else merged

  /** The fill's input, whether it is the columnar scan's batches, and the
    * input positions of the keys, index or value columns, and weight. */
  private lazy val (input, columnar, pos): (RDD[Any], Boolean, Array[Int]) = columnarInput match {
    case Some((scan, p)) => (scan.executeColumnar().asInstanceOf[RDD[Any]], true, p)
    case None =>
      val ids = inputs.take(keys) ++ inputs.drop(keys + kernel.nAxes)
      (child.execute().asInstanceOf[RDD[Any]], false,
        ids.map(a => child.output.indexWhere(_.exprId == a.exprId)).toArray)
  }
  private def keyTypes: Seq[DataType] = inputs.take(keys).map(_.dataType)

  private def onDriver: Boolean =
    keys == 0 && input.partitions.length * kernel.slots <= (1L << 23)

  private def mergeOnDriver(): Array[InternalRow] = {
    val bins = kernel.empty()
    sparkContext.runJob(input, new FillPartition(kernel, columnar, pos, longMetric("columnarRows")),
      input.partitions.indices, (_: Int, b: DenseKernel.Bins) => bins.merge(b))
    val toUnsafe = UnsafeProjection.create(projectList, slots)
    (0 until kernel.slots.toInt).filter(s => kernel.dense || bins.counts(s) > 0)
      .map(s => toUnsafe(kernel.binRow(bins, s)).copy(): InternalRow).toArray
  }

  /** Fill, one keyed shuffle of the sparse partials, merge. */
  private lazy val merged: RDD[InternalRow] = {
    val records = slots.take(keys) ++ DenseKernel.recordTail(kernel.weighted)
    val filled = new PartitionsRDD(input, new FillRecords(kernel, keyTypes, columnar, pos,
      longMetric("columnarRows"), longMetric("flushes")))
    val dep = ShuffleExchangeExec.prepareShuffleDependency(filled, records,
      if (keys == 0) SinglePartition else HashPartitioning(records.take(keys), partitions),
      new UnsafeRowSerializer(records.size, null), writeMetrics)
    new PartitionsRDD(new ShuffledRowRDD(dep, readMetrics),
      new KeyedMerge(kernel, keyTypes, projectList, slots))
  }

  /** The columnar scan below the child and the positions of the key,
    * value and weight columns in its batches, when the child only renames
    * them and the values and weight are double vectors. */
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
        if (pos.forall(_ >= 0) && pos.drop(keys).forall(s.output(_).dataType == DoubleType))
          Some((s, pos.toArray))
        else None
      case _ => None
    }
    val ids = inputs.take(keys + kernel.nAxes) ++ inputs.drop(keys + 2 * kernel.nAxes)
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
    DenseHistogramExec(h.kernel, h.keys, h.inputs, h.output, list,
      SQLConf.get.numShufflePartitions, planLater(h.child))

  /** Installs the strategy on `session` once. `Histogram` calls this on
    * every DataFrame's session, so sessions built without
    * [[graft.GraftExtensions]] plan the kernel too. It also enters the
    * strategy in the session's extensions, which `newSession()` hands
    * on, so a new session plans a kernel node it reads from a global
    * temp view before any `Histogram` call of its own. */
  def setup(session: SparkSession): Unit = session.experimental.synchronized {
    if (!session.experimental.extraStrategies.contains(this)) {
      session.experimental.extraStrategies = this +: session.experimental.extraStrategies
      GraftShim.injectStrategy(session, this)
    }
  }
}

object DenseHistogram {
  /** Largest slot grid the kernel runs: 64k slots keep each task's arrays
    * at 512 KB. Larger grids take the declarative aggregate. */
  val MaxSlots: Long = 1L << 16

  /** (`dims`…, `__i0`.., `__n`, [`__s`]) of `df` over the slot grid of
    * `specs`, or None when the grid has more than [[MaxSlots]] slots, `df`
    * is a stream (whose histogram is a stateful aggregate across
    * batches), or a dims column is not a key Spark groups by its bytes
    * (a collated string) or cannot order. Float and double keys are
    * normalized as Spark's grouping normalizes them: -0.0 is 0.0 and
    * every NaN is one NaN. */
  def counts(df: DataFrame, specs: Seq[(Column, BinAxis)], dims: Seq[String], flow: Boolean,
      weight: Option[Column], dense: Boolean): Option[DataFrame] =
    if (df.isStreaming ||
        new DenseKernel(specs.map(_._2), flow, dense, None, false).slots > MaxSlots) None
    else {
      val k = specs.size
      val keys = dims.distinct
      val plan = ExactSum.weightInput(df.select(keys.map(col) ++
        specs.zipWithIndex.map { case ((c, _), j) => c.as(s"__x$j") } ++
          specs.zipWithIndex.map { case ((c, ax), j) => ax.index(c).as(s"__i$j") } ++
          weight.map(_.as("__w")).toSeq: _*), "__w").queryExecution.analyzed
      val keyAttrs = plan.output.take(keys.size)
      if (!keyAttrs.forall(a => UnsafeRowUtils.isBinaryStable(a.dataType) &&
          RowOrdering.isOrderable(a.dataType))) None
      else {
        val normalized = plan.output.take(keys.size).map { a =>
          val e = GraftShim.normalizeKey(a)
          if (e eq a) a else Alias(e, a.name)()
        }
        val child = if (normalized == keyAttrs) plan
          else Project(normalized ++ plan.output.drop(keys.size), plan)
        val w = child.output.drop(keys.size + 2 * k).headOption
        val session = df.sparkSession
        val kernel = new DenseKernel(specs.map(_._2), flow, dense, w.map(_.dataType),
          session.sessionState.conf.ansiEnabled)
        val out = keyAttrs.map(a => AttributeReference(a.name, a.dataType, a.nullable)()) ++
          (0 until k).map(j => AttributeReference(s"__i$j", LongType, nullable = false)()) ++
          Seq(AttributeReference("__n", LongType, nullable = false)()) ++
          w.map(_ => AttributeReference("__s", Dec.D)()).toSeq
        DenseHistogramStrategy.setup(session)
        // every output is aliased above the node: a histogram joined with
        // itself gets new ids for a Project's aliases, but the analyzer
        // cannot renew the node's own attributes
        Some(GraftShim.ofRows(session, Project(out.map(a => Alias(a, a.name)()),
          DenseHistogram(kernel, keys.size, child.output, out, child))))
      }
    }
}
