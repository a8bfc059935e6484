package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.GraftSparkBridge
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

import graft.table.GraftIO

/** Readers for the driver-generated test tables (TESTDATA.md) and for
  * the parquet artifacts query code writes itself (Scratch).
  *
  * Every `SparkEntry.queries` entry reads parquet through `parquet`, so
  * the scan path is uniform: plain parquet, letting Catalyst push filters
  * and prune columns into the vectorized reader. At cluster scale the
  * same call works unchanged against an object-store URI.
  */
object Tables {

  /** `spark.read.parquet(path)` without its schema-inference job. Spark
    * infers a parquet schema through `mergeSchemasInParallel`, which runs
    * a one-task `parallelize(...).collect()` job on every read, even
    * though without `mergeSchema` it reads one footer: the summary file
    * or the first data file in path order. This reads that same footer
    * on the driver, converts it with Spark's own `readSchema` and passes
    * the result as the read's schema, so building the DataFrame starts
    * no job. A path with no footer to read (missing, empty) goes to
    * Spark unchanged, to fail with Spark's own error. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerFile(new Path(path))
      .flatMap(f => GraftSqlBridge.parquetSchema(spark, footer(f)))
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** The footer Spark's non-merging inference reads: the file itself, or
    * under a directory `_common_metadata`, else `_metadata`, else the
    * first data file by path, over the leaves Spark's file index lists. */
  private def footerFile(p: Path): Option[FileStatus] = {
    val fs = GraftIO.fs(p)
    def leaves(d: Path): Seq[FileStatus] =
      fs.listStatus(d).toSeq
        .filterNot(st => GraftSparkBridge.hiddenFromListing(st.getPath.getName))
        .flatMap(st => if (st.isDirectory) leaves(st.getPath) else Seq(st))
    try {
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) Some(st)
      else {
        val files = leaves(p).sortBy(_.getPath.toString)
        val summaries = Seq("_common_metadata", "_metadata")
        summaries.iterator.flatMap(n => files.find(_.getPath.getName == n)).nextOption()
          .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      }
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** One footer without its row groups, opened like `FooterStats`: read
    * options over the shared Hadoop conf. */
  private def footer(file: FileStatus): Footer = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, GraftIO.conf),
      HadoopReadOptions.builder(GraftIO.conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    try new Footer(file.getPath, reader.getFooter)
    finally reader.close()
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** events.ts has shipped as both parquet timestamp[ns] and timestamp[us]
    * across test-data generations, so branch on the dtype the scan actually
    * loads instead of assuming either:
    *
    *  - timestamp[ns]: Spark's vectorized reader rejects ns timestamps, so
    *    `nanosAsLong` makes the column read as BIGINT; truncate to micros
    *    (the same truncation DuckDB applies when handing ns timestamps to
    *    clients, so oracles agree).
    *  - timestamp[us] (current data, no tz → TIMESTAMP_NTZ): cast to the
    *    session-tz TIMESTAMP type. The session is pinned UTC, so values are
    *    identical and downstream query output schemas stay byte-stable with
    *    the ns-era TIMESTAMP results.
    *
    * The conf is deliberately NOT save/restored: the returned frame is lazy,
    * so the flag must still be set when the scan executes. Session-wide
    * effect: ns-timestamp parquet columns read as BIGINT instead of erroring
    * — benign for every other table (none carry ns timestamps). */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Parallelism floor for COMPUTE-BOUND first stages (r15, guide §2.5):
    * the test corpora ship as single-row-group parquet, so a scan runs
    * ONE effective reader no matter the split count — any heavy row-side
    * work fused into that stage (tokenize, hash, quantize, per-row
    * aggregate prep) is single-threaded (measured: q_countmin's
    * tokenize+count stage = 1.39 s in 1 task of a 1.96 s query).
    * Deterministic hash-repartition to session parallelism, GATED on the
    * scan actually being narrower than the session: corpora whose
    * layout already provides parallel readers (many files / row groups —
    * any production 100 TB table) skip the exchange entirely, so this
    * never adds a corpus-wide shuffle at scale.
    *
    * Use AFTER filters/projections (the exchange would block pushdown)
    * and only where the downstream work is row-local-heavy and
    * unfiltered; key choice must be deterministic (task-retry safety,
    * guide §2.5 — never round-robin). */
  def spread(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < n) df.repartition(n, keys: _*) else df
  }
}
