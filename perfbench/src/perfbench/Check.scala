package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-independent content hash of a result: the sum (mod 2^64) of a
  * 64-bit hash of each row's canonical text. Floating-point values are
  * rounded to 9 significant digits, because a parallel sum may legally
  * differ in its last bits between runs; everything else is exact. */
object Check {
  /** Expected-hash marker for an op whose content legitimately varies
    * between runs: only its row count is checked. */
  val RowsOnly = "rows-only"

  final case class Digest(rows: Long, hash: Long) {
    def hex: String = f"$hash%016x"
  }

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) d.toString
      else if (d == 0.0) "0" else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", "\u0001", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case other => other.toString
  }

  def rowHash(text: String): Long = {
    val hi = MurmurHash3.stringHash(text, 0x3c6ef372)
    val lo = MurmurHash3.stringHash(text, 0x7a3b1f55)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  def digest(rows: Iterator[String]): Digest = {
    var n = 0L; var h = 0L
    rows.foreach { r => n += 1; h += rowHash(r) }
    Digest(n, h)
  }

  def ofRows(rows: Array[Row]): Digest = digest(rows.iterator.map(canon))
}
