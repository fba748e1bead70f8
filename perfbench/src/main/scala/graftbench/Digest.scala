package graftbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-insensitive result digest: a row count plus the wrapping sum of
  * one 64-bit hash per row. Floats are rounded to 6 decimals (half-even on
  * the exact binary value, as Python's `round(v, 6)` in `tools/check.py`)
  * so summation order, which follows the partitioning, does not change the
  * digest. Columns are taken in name order, as `tools/check.py` sorts them.
  */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
  override def toString: String = f"$rows%d:$sum%016x"
}

object Digest {
  val empty: Digest = Digest(0L, 0L)

  def parse(s: String): Digest = {
    val Array(n, h) = s.split(":")
    Digest(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  def of(rows: Iterable[Seq[Any]]): Digest =
    rows.foldLeft(empty)((d, r) => d + Digest(1L, rowHash(r)))

  /** Digest of collected rows with columns re-ordered by name. */
  def ofRows(fieldNames: Seq[String], rows: Iterable[Row]): Digest = {
    val order = fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    of(rows.map(r => order.map(i => r.get(i))))
  }

  def rowHash(values: Seq[Any]): Long = {
    val s = values.map(canon).mkString("\u0001")
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x0b0e).toLong & 0xffffffffL)
  }

  def round6(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val r = new java.math.BigDecimal(d)
        .setScale(6, java.math.RoundingMode.HALF_EVEN)
      if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
    }

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => round6(d)
    case f: Float => round6(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => s"ts${t.getTime}.${t.getNanos}"
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
