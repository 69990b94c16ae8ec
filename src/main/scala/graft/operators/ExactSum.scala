package graft.operators

import graft.util.Dec
import java.math.{BigDecimal => JBD, BigInteger => JBI, RoundingMode}
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{Decimal, DoubleType}

/** Exact per-slot weight sums, equal to Spark's `sum(Dec.toDec(w))` in
  * every slot.
  *
  * Each weight enters as its DECIMAL(38,14) image: the double's shortest
  * decimal string, HALF_UP at digit 14. This is the rule of
  * `Dec.toDec`'s try_cast, so NaN, ±Inf and values past precision 38 have
  * no image and are skipped, like the NULLs `SUM` skips. Images are summed
  * as unscaled longs. A slot whose long would overflow spills into an exact
  * `BigInteger`, so the sum does not depend on the order of the rows.
  * Turning a double into its image costs a string round trip, so
  * [[ExactSum.Memo]] keeps the images of recent distinct doubles.
  */
final class ExactSum(val slots: Int) extends Serializable {
  private val sums = new Array[Long](slots)
  private val nonNull = new Array[Boolean](slots)
  private var spill: Array[JBI] = null

  /** Adds the image of `w`, looked up in (or entered into) `memo`. */
  def addDouble(slot: Int, w: Double, memo: ExactSum.Memo): Unit =
    if (!w.isNaN && !w.isInfinite) {
      val h = memo.find(w)
      val big = memo.bigs(h)
      if (big == null) addLong(slot, memo.vals(h))
      else if (big ne ExactSum.NoImage) addBig(slot, big)
    }

  /** Adds a value that already is a DECIMAL(38,14). */
  def addDecimal(slot: Int, d: Decimal): Unit =
    addUnscaled(slot, d.toJavaBigDecimal.setScale(Dec.D.scale).unscaledValue())

  private def addUnscaled(slot: Int, u: JBI): Unit =
    if (u.bitLength() < 64) addLong(slot, u.longValue()) else addBig(slot, u)

  private def addLong(slot: Int, v: Long): Unit = {
    val a = sums(slot)
    val r = a + v
    if (((a ^ r) & (v ^ r)) < 0) {
      sums(slot) = 0L
      addBig(slot, JBI.valueOf(a).add(JBI.valueOf(v)))
    } else sums(slot) = r
    nonNull(slot) = true
  }

  private def addBig(slot: Int, v: JBI): Unit = {
    if (spill == null) spill = new Array[JBI](slots)
    spill(slot) = if (spill(slot) == null) v else spill(slot).add(v)
    nonNull(slot) = true
  }

  def merge(o: ExactSum): ExactSum = {
    for (i <- 0 until slots if o.nonNull(i)) {
      addLong(i, o.sums(i))
      if (o.spill != null && o.spill(i) != null) addBig(i, o.spill(i))
    }
    this
  }

  /** Whether a weight of `slot` had an image. */
  def isSet(slot: Int): Boolean = nonNull(slot)

  /** `slot`'s partial as its two parts, the unscaled long and the spilled
    * `BigInteger`'s bytes (or null), for a merge in another task. */
  def longPart(slot: Int): Long = sums(slot)
  def bigPart(slot: Int): Array[Byte] =
    if (spill == null || spill(slot) == null) null else spill(slot).toByteArray

  /** Adds a partial given by its parts (`big` null when it did not spill). */
  def addPartial(slot: Int, long: Long, big: JBI): Unit = {
    addLong(slot, long)
    if (big != null) addBig(slot, big)
  }

  def clear(slot: Int): Unit = {
    sums(slot) = 0L
    nonNull(slot) = false
    if (spill != null) spill(slot) = null
  }

  /** The exact sum of `slot`, or null when no weight there had an image. */
  def total(slot: Int): JBD =
    if (!nonNull(slot)) null
    else if (spill == null || spill(slot) == null) JBD.valueOf(sums(slot), Dec.D.scale)
    else new JBD(spill(slot).add(JBI.valueOf(sums(slot))), Dec.D.scale)

  /** `slot`'s sum as Spark's grouped decimal `SUM` returns it: NULL without
    * a non-null input; past precision 38, an error under ANSI, else NULL. */
  def result(slot: Int, ansi: Boolean): Decimal = {
    val t = total(slot)
    if (t == null) null else GraftShim.sumResult(Decimal(t), Dec.D.precision, Dec.D.scale, ansi)
  }
}

object ExactSum {
  private final val Bits = 16
  private final val Probes = 4
  // no NaN is ever entered, so a NaN pattern marks a free entry
  private final val Free = java.lang.Double.doubleToRawLongBits(Double.NaN)
  private val NoImage = JBI.valueOf(-1)

  /** The images of up to 65,536 recent distinct doubles, one table per task:
    * open addressing over at most 4 entries, evicting the first when all
    * are taken. An image that fits a long sits in `vals`; `bigs` holds the
    * larger ones, and [[NoImage]] for a double past precision 38. */
  final class Memo {
    private val keys = Array.fill(1 << Bits)(Free)
    private[ExactSum] val vals = new Array[Long](1 << Bits)
    private[ExactSum] val bigs = new Array[JBI](1 << Bits)

    /** The entry holding `w`'s image (w is not NaN). */
    def find(w: Double): Int = {
      val bits = java.lang.Double.doubleToRawLongBits(w)
      val h0 = ((bits * 0x9E3779B97F4A7C15L) >>> (64 - Bits)).toInt
      var h = h0
      var p = 0
      while (p < Probes) {
        if (keys(h) == bits) return h
        if (keys(h) == Free) return enter(h, bits, w)
        h = (h + 1) & ((1 << Bits) - 1)
        p += 1
      }
      enter(h0, bits, w)
    }

    private def enter(h: Int, bits: Long, w: Double): Int = {
      keys(h) = bits
      val d = new JBD(java.lang.Double.toString(w)).setScale(Dec.D.scale, RoundingMode.HALF_UP)
      val u = d.unscaledValue()
      bigs(h) = if (d.precision() > Dec.D.precision) NoImage else if (u.bitLength() < 64) null else u
      vals(h) = u.longValue()
      h
    }
  }

  /** `df` with its weight column `name` as the accumulators read it: a
    * double stays raw, any other type becomes `Dec.toDec`'s DECIMAL(38,14). */
  def weightInput(df: DataFrame, name: String): DataFrame =
    df.schema.find(_.name == name) match {
      case Some(f) if f.dataType != DoubleType => df.withColumn(name, Dec.toDec(col(name)))
      case _ => df
    }
}
