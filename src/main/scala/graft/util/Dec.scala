package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine deterministic floating-point summation.
  *
  * Doubles are summed via DECIMAL(38,14) — exact and associative, so the
  * result is independent of partitioning/aggregation order. The final
  * decimal -> double conversion is NOT left to the engine: DuckDB
  * double-rounds it (int128 -> double, then /10^scale) while the JVM's
  * BigDecimal is correctly rounded once, so the two can differ in the last
  * ulp. Instead the conversion is spelled out identically in both engines:
  *
  *   d = toDouble(floor(s))  +  toDouble((s - floor(s)) * 10^14) / 1.0e14
  *
  * Both casts are exact (integer part: int64 -> double correctly rounded
  * per IEEE; fraction: < 10^14 < 2^53), and the remaining ops are single
  * correctly-rounded IEEE ops — bit-identical across engines.
  * The SQL mirror lives in graft.oracle.Oracle.exactDbl. Spark computes
  * the fraction as `pmod(s, 1)` (DECIMAL(15,14)): its `s - floor(s)`
  * types as DECIMAL(38,12) under the precision-loss rule and would round
  * the fraction at digit 12 (0.99999999999999 -> 1.0).
  *
  * SCOPE: the per-row double -> decimal conversion is engine-identical
  * only when the double's value is determined by its first 14 fractional
  * digits (counts, prices, their products/sums — everything the operators
  * feed it). Full-precision ratios (e.g. p_i = cnt/total) need MORE than
  * 14 digits, and there the rounding at digit 14 goes through the
  * engine's decimal string of the double — Java 17's Double.toString
  * emits non-shortest strings for some doubles, so the half-up tie can
  * land differently than DuckDB's by one quantum per row (measured in
  * HistStats.drift's first draft: ~1e-13 over 16 bins). For such sums use
  * an explicit sequential fold in a pinned order instead (Spark: sorted
  * array + HOF fold; SQL: SUM(x ORDER BY k)) — exact-order IEEE addition
  * is bit-identical by construction. */
object Dec {
  val D: DecimalType = DecimalType(38, 14)

  /** Double -> decimal via Spark's native cast, which goes through the
    * double's SHORTEST decimal representation (Decimal(d.toString)). This is
    * the one per-row conversion BOTH engines can express: the oracle mirrors
    * it as TRY_CAST(CAST(x AS VARCHAR) AS DECIMAL(38,14)) — DuckDB's direct
    * double->decimal cast is approximate (multiplies by 10^scale in double),
    * and DuckDB cannot express the exact-binary expansion at all.
    *
    * try_cast, not cast: NaN/Infinity and precision-38 overflow become NULL
    * (row skipped by SUM) in BOTH engines and under ANSI mode — the same
    * skip semantics the histogram kernel's ExactSum implements — instead of an
    * ANSI-dependent crash. */
  def toDec(c: Column): Column = c.try_cast(D)

  /** Exact decimal -> double, bit-identical to Oracle.exactDbl. */
  def exactDouble(s: Column): Column =
    floor(s).cast("long").cast("double") +
      (pmod(s, lit(1)) * lit(100000000000000L)).cast("long").cast("double") / lit(1.0e14)

  /** [[exactDouble]] on the driver, for an exact sum of scale ≤ 14: the
    * same floor + fraction split, bit-identical to the Column form. */
  def exactDouble(s: java.math.BigDecimal): Double = {
    val fl = s.setScale(0, java.math.RoundingMode.FLOOR)
    fl.longValueExact().toDouble +
      s.subtract(fl).setScale(D.scale).unscaledValue().longValueExact().toDouble / 1.0e14
  }

  /** Order-independent, cross-engine-deterministic sum of a double column. */
  def sumDec(c: Column): Column = exactDouble(sum(toDec(c)))
}
