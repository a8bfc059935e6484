package graft.table

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.types._

/** Footer-based statistics harvesting: row counts and per-column
  * [min, max] straight from parquet metadata — O(1) IO per file, no data
  * re-read. Values are rendered into the same sortable string space the
  * planner compares in (`GraftTable.planFilters`): numerics via BigDecimal,
  * timestamps as fixed-width UTC `yyyy-MM-dd HH:mm:ss.SSSSSS`, strings
  * verbatim. Columns whose physical encoding has no usable stats (e.g.
  * INT96 timestamps) are simply omitted — pruning stays conservative.
  */
object FooterStats {

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    .withZone(java.time.ZoneOffset.UTC)

  /** One footer's harvest: row count, per-column [min,max], per-column
    * null counts (only columns where EVERY row group reports numNulls —
    * a partial count would under-report and make IS NULL pruning
    * unsound), and the top-level column names the footer schema holds —
    * the per-file presence check add_files needs (Spark's
    * directory-level inference reads ONE footer, so a drifting file
    * hides from it). */
  final case class Footer(
      rows: Long,
      stats: Map[String, ColRange],
      nulls: Map[String, Long],
      columns: Set[String])

  /** Harvest one listed file's footer: a single open, no extra status
    * call, read options over the shared Hadoop conf (GraftIO) — the
    * one-argument `open` would build a fresh `Configuration` per footer,
    * re-parsing core-default.xml each time. */
  def readWithNulls(file: FileStatus, schema: Seq[ColumnDef]): Footer = {
    val byName = schema.map(c => c.name -> c.sparkType).toMap
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, GraftIO.conf),
      HadoopReadOptions.builder(GraftIO.conf).build())
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // per column: fold min/max across row groups
      val acc = scala.collection.mutable.Map.empty[String, (Comparable[Any], Comparable[Any], DataType)]
      val nullAcc = scala.collection.mutable.Map.empty[String, Long]
      val nullBad = scala.collection.mutable.Set.empty[String]
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        byName.get(name).foreach { dt =>
          val st = c.getStatistics
          if (st != null && st.isNumNullsSet)
            nullAcc(name) = nullAcc.getOrElse(name, 0L) + st.getNumNulls
          else nullBad += name
          if (st != null && st.hasNonNullValue && !st.isEmpty) {
            val mn = st.genericGetMin.asInstanceOf[Comparable[Any]]
            val mx = st.genericGetMax.asInstanceOf[Comparable[Any]]
            acc.get(name) match {
              case Some((lo, hi, _)) =>
                acc(name) = (
                  if (mn.compareTo(lo) < 0) mn else lo,
                  if (mx.compareTo(hi) > 0) mx else hi, dt)
              case None => acc(name) = (mn, mx, dt)
            }
          }
        }
      }
      val stats = acc.flatMap { case (name, (lo, hi, dt)) =>
        for (l <- render(lo, dt); h <- render(hi, dt)) yield name -> ColRange(l, h)
      }.toMap
      Footer(rows, stats, (nullAcc -- nullBad).toMap,
        footer.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSet)
    } finally reader.close()
  }

  /** Parquet physical value → sortable string in the planner's compare
    * space; None for combinations we don't model (skip = no pruning). */
  private def render(v: Any, dt: DataType): Option[String] = (v, dt) match {
    case (b: Binary, StringType) => Some(b.toStringUsingUTF8)
    case (i: java.lang.Integer, IntegerType) => Some(i.toString)
    case (l: java.lang.Long, LongType) => Some(l.toString)
    // non-finite min/max (±Inf, NaN) can't enter the BigDecimal compare
    // space — skip stats for the column rather than fail the whole commit
    case (f: java.lang.Float, FloatType) if f.isInfinite || f.isNaN => None
    case (f: java.lang.Float, FloatType) => Some(BigDecimal(f.toDouble).toString)
    case (d: java.lang.Double, DoubleType) if d.isInfinite || d.isNaN => None
    case (d: java.lang.Double, DoubleType) => Some(BigDecimal(d.doubleValue()).toString)
    case (l: java.lang.Long, t: DecimalType) =>
      Some(BigDecimal(BigInt(l.longValue()), t.scale).toString)
    case (i: java.lang.Integer, t: DecimalType) =>
      Some(BigDecimal(BigInt(i.intValue()), t.scale).toString)
    case (b: Binary, t: DecimalType) =>
      Some(BigDecimal(BigInt(b.getBytes), t.scale).toString)
    case (l: java.lang.Long, TimestampType) => // TIMESTAMP_MICROS
      Some(tsFmt.format(java.time.Instant.EPOCH.plus(
        l.longValue(), java.time.temporal.ChronoUnit.MICROS)))
    case (i: java.lang.Integer, DateType) =>
      Some(java.time.LocalDate.ofEpochDay(i.longValue()).toString)
    case _ => None
  }
}
