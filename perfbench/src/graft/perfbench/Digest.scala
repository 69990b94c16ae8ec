package graft.perfbench

import org.apache.spark.sql.Row

/** Order-independent digest of a result: row count plus the wrapping sum
  * of per-row hashes. Values are rendered canonically first: doubles to
  * ten significant digits (so last-ulp jitter from a different
  * aggregation order does not count as a wrong answer, while any real
  * change does), -0.0 as 0.0, and map entries sorted by key. */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = f"$rows%d/$hash%016x"
}

object Digest {
  def of(rows: Array[Row]): Digest = {
    var h = 0L
    rows.foreach { r =>
      val s = render(r)
      h += (scala.util.hashing.MurmurHash3.stringHash(s).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995) & 0xffffffffL)
    }
    Digest(rows.length.toLong, h)
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case bytes: Array[Byte] => bytes.map(b => f"$b%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) -> render(x) }.sorted
        .map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d == 0.0) "0" else if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(10))
      .stripTrailingZeros.toString
}
