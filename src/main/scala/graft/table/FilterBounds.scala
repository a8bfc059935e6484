package graft.table

import scala.collection.mutable

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Maps DataSource-pushed `Filter`s to per-column [lo, hi] bounds in the
  * manifest's stats string space (the same rendering FooterStats uses:
  * numerics via plain decimal strings, timestamps as fixed-width UTC
  * `yyyy-MM-dd HH:mm:ss.SSSSSS`, dates as ISO, strings verbatim).
  *
  * Only conjunctive equality/range predicates produce bounds; Or/Not/
  * string-pattern filters are ignored (no pruning — Spark re-applies all
  * filters after the scan, so skipping is always safe, never wrong).
  */
private[graft] object FilterBounds {

  final case class Bound(lo: Option[String], hi: Option[String])

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    .withZone(java.time.ZoneOffset.UTC)

  /** The one order of two stats-space strings every planner uses:
    * numerics as BigDecimal, everything else in UNSIGNED UTF-8 BYTE
    * order. Parquet footer min/max for strings are ordered by unsigned
    * UTF-8 bytes, while Java String.compareTo orders UTF-16 code units —
    * the two disagree on supplementary (non-BMP) characters, and pruning
    * under the wrong order can skip a file that contains matches. The
    * fixed-width ISO date and UTC timestamp renderings are ASCII, where
    * byte order is time order. */
  def compare(numeric: Boolean, a: String, b: String): Int =
    if (numeric) BigDecimal(a).compare(BigDecimal(b))
    else java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Literal → stats-space string; None for types we don't model. */
  def render(v: Any): Option[String] = v match {
    case null => None
    case s: String => Some(s)
    case i: java.lang.Integer => Some(i.toString)
    case l: java.lang.Long => Some(l.toString)
    case s: java.lang.Short => Some(s.toString)
    case b: java.lang.Byte => Some(b.toString)
    case f: java.lang.Float if f.isNaN || f.isInfinite => None
    case f: java.lang.Float => Some(BigDecimal(f.toDouble).toString)
    case d: java.lang.Double if d.isNaN || d.isInfinite => None
    case d: java.lang.Double => Some(BigDecimal(d.doubleValue()).toString)
    case d: java.math.BigDecimal => Some(BigDecimal(d).toString)
    case d: BigDecimal => Some(d.toString)
    case t: java.sql.Timestamp => Some(tsFmt.format(t.toInstant))
    case t: java.time.Instant => Some(tsFmt.format(t))
    case d: java.sql.Date => Some(d.toLocalDate.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case _ => None
  }

  /** One (column, bound) per conjunctive range/equality predicate, in
    * filter order. A file may match the conjunction only if it may match
    * every conjunct, so a pruner checks each bound on its own — no
    * intersection, which would need the column's order. Bounds from
    * strict comparisons are widened to inclusive — pruning only needs
    * CAN-this-file-match. */
  def collect(filters: Seq[Filter]): Seq[(String, Bound)] = {
    def on(c: String, v: Any)(b: String => Bound): Seq[(String, Bound)] =
      render(v).toSeq.map(s => c -> b(s))
    def walk(f: Filter): Seq[(String, Bound)] = f match {
      case And(l, r)                => walk(l) ++ walk(r)
      case EqualTo(c, v)            => on(c, v)(s => Bound(Some(s), Some(s)))
      case EqualNullSafe(c, v)      => on(c, v)(s => Bound(Some(s), Some(s)))
      case GreaterThan(c, v)        => on(c, v)(s => Bound(Some(s), None))
      case GreaterThanOrEqual(c, v) => on(c, v)(s => Bound(Some(s), None))
      case LessThan(c, v)           => on(c, v)(s => Bound(None, Some(s)))
      case LessThanOrEqual(c, v)    => on(c, v)(s => Bound(None, Some(s)))
      // In is deliberately NOT pruned: min/max over the value set needs
      // type-aware ordering (string min of {"9","10"} is wrong for
      // numerics) — not worth the risk for a filter Spark re-applies.
      case _ => Nil // Or / Not / In / IsNull / string patterns: no pruning
    }
    filters.flatMap(walk)
  }

  /** Conjunctive IS NULL / IS NOT NULL predicates per column
    * (true = must-be-null). A column claimed both ways is dropped —
    * the conjunction is unsatisfiable but proving that is the engine's
    * job, not the pruner's. */
  def collectNullness(filters: Seq[Filter]): Map[String, Boolean] = {
    val acc = mutable.Map.empty[String, Boolean]
    val conflicted = mutable.Set.empty[String]
    def walk(f: Filter): Unit = f match {
      case And(l, r)     => walk(l); walk(r)
      case IsNull(c)     =>
        if (acc.getOrElse(c, true) != true) conflicted += c else acc(c) = true
      case IsNotNull(c)  =>
        if (acc.getOrElse(c, false) != false) conflicted += c else acc(c) = false
      case _             => ()
    }
    filters.foreach(walk)
    (acc -- conflicted).toMap
  }

  /** Does `f` hold for EVERY row of a file, provably from its manifest
    * stats? The metadata-only DELETE test (Iceberg's delete-by-metadata):
    * true only for a conjunction (`And` recurses) of `=`, `<`, `<=`, `>`,
    * `>=` and `IsNotNull` on columns `stats` answers for. `stats(c)` must
    * return the column's type and [min, max] ONLY when the file records a
    * null count of 0 for it — a NULL row satisfies no comparison — and
    * only for types compared exactly here: integral, decimal, date and
    * timestamp. Strings are out (parquet may truncate binary min/max) and
    * so are floats (a NaN row is absent from min/max yet fails every
    * `<`). Strict comparisons stay strict, unlike `collect`'s inclusive
    * widening: `max < v` proves `c < v`, `max = v` does not. */
  def provesAll(f: Filter, stats: String => Option[(DataType, ColRange)]): Boolean = {
    def cmp(c: String, v: Any)(ok: (Int, Int) => Boolean): Boolean =
      stats(c).exists { case (dt, r) =>
        val numeric = dt.isInstanceOf[NumericType]
        // date/time order is byte order only at fixed width: a year past
        // 9999 renders with a leading '+', and then nothing is proven
        def fixed(lit: String) = numeric ||
          (r.min.length == lit.length && r.max.length == lit.length)
        literalFits(dt, v) && render(v).exists(lit => fixed(lit) &&
          ok(compare(numeric, r.min, lit), compare(numeric, r.max, lit)))
      }
    f match {
      case And(l, r)                => provesAll(l, stats) && provesAll(r, stats)
      case IsNotNull(c)             => stats(c).isDefined
      case EqualTo(c, v)            => cmp(c, v)((lo, hi) => lo == 0 && hi == 0)
      case LessThan(c, v)           => cmp(c, v)((_, hi) => hi < 0)
      case LessThanOrEqual(c, v)    => cmp(c, v)((_, hi) => hi <= 0)
      case GreaterThan(c, v)        => cmp(c, v)((lo, _) => lo > 0)
      case GreaterThanOrEqual(c, v) => cmp(c, v)((lo, _) => lo >= 0)
      case _                        => false
    }
  }

  /** Types `provesAll` compares exactly in the stats string space. */
  def provable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Is `v`'s runtime class the one Spark pushes for a column of type
    * `dt`? A timestamp with sub-microsecond digits is refused: the stats
    * rendering would truncate it, and truncation breaks `>=`. */
  private def literalFits(dt: DataType, v: Any): Boolean = (dt, v) match {
    case (ByteType | ShortType | IntegerType | LongType | _: DecimalType,
        _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer | _: java.lang.Long |
        _: java.math.BigDecimal | _: BigDecimal) => true
    case (DateType, _: java.sql.Date | _: java.time.LocalDate) => true
    case (TimestampType, t: java.sql.Timestamp) => t.getNanos % 1000 == 0
    case (TimestampType, t: java.time.Instant) => t.getNano % 1000 == 0
    case _ => false
  }

  /** Raw typed literals of conjunctive equality filters. Bucket pruning
    * hashes the VALUE with the write side's expression — the stringified
    * bound would hash differently, so it needs the literal itself. */
  def collectEquals(filters: Seq[Filter]): Map[String, Any] = {
    val acc = mutable.Map.empty[String, Any]
    def walk(f: Filter): Unit = f match {
      case And(l, r)                          => walk(l); walk(r)
      case EqualTo(c, v) if v != null         => acc(c) = v
      case EqualNullSafe(c, v) if v != null   => acc(c) = v
      case _                                  => ()
    }
    filters.foreach(walk)
    acc.toMap
  }
}
