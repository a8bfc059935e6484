package graft.spark

import java.util

import scala.jdk.CollectionConverters._

import graft.table.{GraftCatalog, GraftIO, GraftTable}
import graft.table.GraftIO.RichHPath
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 surface for Graft tables — closes the reference's SQL
  * gap (its entire UX is the spark-sql shell, README.md:148-151,214-216):
  *
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalogPlugin].getName)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/path/to/wh")
  *   spark.sql("SELECT * FROM graft.db.pedidos WHERE ts >= ...")
  *
  * or path-based: spark.read.format("graft").load("/path/to/wh/db/pedidos").
  *
  * Read path: the ScanBuilder accepts every pushed filter for MANIFEST
  * pruning (per-file footer stats + hidden day-partition values,
  * GraftTable.planFilters) and declares them all residual, so Spark
  * re-applies them post-scan — pruning is an optimization, never a
  * semantic change. The Scan itself is a V1Scan bridge whose relation
  * re-enters the DataFrame API over the pruned file list: the actual IO
  * is Spark's own vectorized parquet reader with column pruning intact,
  * plus Graft's column-id projection (rename/add-column evolution)
  * applied per schema epoch. This is the same structure Spark's JDBC v2
  * connector uses, and it keeps WholeStageCodegen + all parquet
  * optimizations without reimplementing a reader.
  */
class GraftDsv2Table(val table: GraftTable, ident: String)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  override def name(): String = ident

  // One metadata read per instance for the analysis-time surface
  // (schema, partitioning, properties): the calls one statement's
  // analysis makes then agree with each other, as GraftSnapshotTable's
  // pinned schema does. Scans, deleteWhere and commits load fresh.
  private lazy val loaded = table.meta

  override def schema(): StructType = loaded.sparkSchema(loaded.currentSchemaId)

  /** DESCRIBE/SHOW CREATE partitioning surface: the hidden-partition
    * spec rendered as Spark connector transforms (the inverse of
    * createTable's mapping). Read-side pruning doesn't depend on this —
    * it runs through SupportsPushDownFilters — but the catalog should
    * not claim a partitioned table is unpartitioned. */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val m = loaded
    val idToName = m.currentSchema.map(c => c.id -> c.name).toMap
    m.partitionFields.flatMap { pf =>
      idToName.get(pf.sourceId).map { src =>
        graft.table.Transforms.parse(pf.transform) match {
          case ("days", _)           => Expressions.days(src)
          case ("months", _)         => Expressions.months(src)
          case ("years", _)          => Expressions.years(src)
          case ("hours", _)          => Expressions.hours(src)
          case ("bucket", Some(n))   => Expressions.bucket(n, src)
          case ("truncate", Some(w)) =>
            Expressions.apply("truncate",
              Expressions.literal(Integer.valueOf(w)), Expressions.column(src))
          case other => throw new IllegalStateException(s"unknown transform $other")
        }
      }
    }.toArray
  }

  /** SHOW TBLPROPERTIES / DESCRIBE EXTENDED surface: stored user
    * properties plus the format pins the reference declares
    * (README.md:176-177). */
  override def properties(): util.Map[String, String] = {
    val meta = loaded
    val out = new util.HashMap[String, String]()
    out.put("format-version", meta.formatVersion.toString)
    out.put("provider", "graft")
    meta.allProperties.foreach { case (k, v) => out.put(k, v) }
    out
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, // INSERT INTO (V1 InsertableRelation bridge)
      TableCapability.TRUNCATE)       // INSERT OVERWRITE

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(table, schema())

  /** INSERT INTO / INSERT OVERWRITE via the V1 write bridge: the incoming
    * frame goes straight through GraftTable.append/overwrite — snapshot
    * commit, partition clustering, footer stats, retry, all identical to
    * the Scala API path. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              if (replace || overwrite) table.overwrite(data) else table.append(data)
          }
      }
    }

  /** `DELETE FROM t WHERE ...` — only for predicates expressible as a
    * Column (canDeleteWhere gates). Routes by Iceberg's
    * `write.delete.mode` table property: copy-on-write by default
    * (read-optimized: the filters also plan the delete, so files the
    * manifest stats prove fully matched are dropped by metadata and
    * only the rest are probed and rewritten), merge-on-read when the
    * property says so (write-optimized: a positional delete file, no
    * data rewrite — the right trade at 100 TB for small deletes). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => FilterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val pred = filters.flatMap(FilterToColumn(_)).reduceOption(_ && _).getOrElse(lit(true))
    if (table.meta.allProperties.get("write.delete.mode").contains("merge-on-read"))
      table.deleteMoR(spark, pred)
    else table.delete(spark, pred, filters.toSeq)
  }
}

/** sources.Filter → Column for the SQL DELETE path. None = inexpressible
  * (canDeleteWhere then rejects and Spark reports the unsupported DELETE
  * instead of silently deleting the wrong rows). */
object FilterToColumn {
  def apply(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case sources.EqualTo(c, v)            => Some(col(c) === lit(v))
    case sources.EqualNullSafe(c, v)      => Some(col(c) <=> lit(v))
    case sources.GreaterThan(c, v)        => Some(col(c) > lit(v))
    case sources.GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
    case sources.LessThan(c, v)           => Some(col(c) < lit(v))
    case sources.LessThanOrEqual(c, v)    => Some(col(c) <= lit(v))
    case sources.In(c, vs)                => Some(col(c).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(c)                => Some(col(c).isNull)
    case sources.IsNotNull(c)             => Some(col(c).isNotNull)
    case sources.StringStartsWith(c, v)   => Some(col(c).startsWith(v))
    case sources.StringEndsWith(c, v)     => Some(col(c).endsWith(v))
    case sources.StringContains(c, v)     => Some(col(c).contains(v))
    case sources.And(l, r)  => for (a <- apply(l); b <- apply(r)) yield a && b
    case sources.Or(l, r)   => for (a <- apply(l); b <- apply(r)) yield a || b
    case sources.Not(child) => apply(child).map(!_)
    case _ => None
  }
}

/** Snapshot-pinned read-only table — the SQL time-travel surface
  * (`SELECT * FROM t VERSION AS OF 1` / `TIMESTAMP AS OF ...`,
  * README.md:252-258). The scan reads exactly the pinned snapshot's
  * manifest (with its MoR deletes applied); no filter pruning — time
  * travel is an audit/repair path, correctness over scan speed. */
class GraftSnapshotTable(table: GraftTable, snapshotId: Long, ident: String)
    extends Table with SupportsRead {

  override def name(): String = s"$ident@v$snapshotId"

  // Pinned at load time: schema() is called during analysis and the scan
  // executes later — re-reading metadata in both places would let a
  // concurrent ALTER TABLE change the schema between them (rows not
  // matching the analyzed relation). One load, both phases agree.
  private val pinnedSchema: StructType = {
    val m = table.meta
    m.sparkSchema(m.currentSchemaId)
  }

  override def schema(): StructType = pinnedSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new V1Scan {
      override def readSchema(): StructType = pinnedSchema
      override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = pinnedSchema
          override def buildScan(): RDD[Row] =
            // align to the pinned schema: a DDL that landed after load
            // fails loudly on a missing column instead of silently
            // binding rows to the wrong analyzed columns
            table.readVersion(context.sparkSession, snapshotId)
              .select(pinnedSchema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
              .rdd
        }.asInstanceOf[T]
    }
}

/** Read-only metadata table (`SELECT * FROM graft.db.t.history` — the
  * README.md:245 surface; also .snapshots / .files). */
class GraftMetaTable(table: GraftTable, kind: String, ident: String)
    extends Table with SupportsRead {

  override def name(): String = ident

  override def schema(): StructType =
    table.metaTable(SparkSession.active, kind).schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new V1Scan {
      override def readSchema(): StructType = schema()
      override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = GraftMetaTable.this.schema()
          override def buildScan(): RDD[Row] =
            table.metaTable(context.sparkSession, kind).rdd
        }.asInstanceOf[T]
    }
}

class GraftScanBuilder(table: GraftTable, full: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = full
  private var aggResult: Option[(StructType, Row)] = None

  /** Accept everything for pruning, return everything as residual:
    * Spark keeps the post-scan Filter, we get the bounds for skipping. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** COUNT(*)/MIN/MAX COMPLETE pushdown, answered from manifest stats
    * (GraftTable.metaAggregate) — `SELECT count(*) FROM t` does zero
    * data-file IO, the O(metadata) fast path Iceberg serves the same
    * way. Refused (→ normal scan) when: any filter was pushed (we keep
    * every filter residual, so a filtered agg never reaches here with
    * an empty list anyway), a GROUP BY exists, any aggregate is not
    * CountStar/Min/Max on a plain eligible column, or the table's
    * current snapshot carries delete files / missing stats. */
  private def tryMetaAgg(agg: Aggregation): Option[(StructType, Row)] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (pushed.nonEmpty || agg.groupByExpressions().nonEmpty) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
        case _ => None
      }
    // aggregate spec per position: Left(()) = count(*), Right((col, isMin))
    val specs: Seq[Either[Unit, (String, Boolean)]] =
      agg.aggregateExpressions().toSeq.map {
        case _: CountStar => Left(())
        case m: Min => colOf(m.column()) match {
          case Some(c) => Right((c, true)); case None => return None
        }
        case m: Max => colOf(m.column()) match {
          case Some(c) => Right((c, false)); case None => return None
        }
        case _ => return None
      }
    val cols = specs.collect { case Right((c, _)) => c }.distinct
    val meta = table.metaAggregate(cols).getOrElse(return None)
    if (!cols.forall(meta.minMax.contains)) return None
    val types = full.fields.map(f => f.name -> f.dataType).toMap
    val fieldsVals = specs.zipWithIndex.map {
      case (Left(()), i) =>
        (StructField(s"agg_$i", LongType, nullable = false), meta.rows: Any)
      case (Right((c, isMin)), i) =>
        val dt = types.getOrElse(c, return None)
        val r = meta.minMax(c)
        val v = GraftScanBuilder.parseStat(if (isMin) r.min else r.max, dt)
          .getOrElse(return None)
        (StructField(s"agg_$i", dt), v)
    }
    Some((StructType(fieldsVals.map(_._1)), Row(fieldsVals.map(_._2): _*)))
  }

  // supportCompletePushDown and pushAggregation arrive back-to-back for
  // the same Aggregation: memoize by identity so the metadata load +
  // manifest fold run once (and both calls answer from ONE metadata
  // snapshot — no torn read if a commit lands between them)
  private var memoAgg: Aggregation = _
  private var memoResult: Option[(StructType, Row)] = None
  private def metaAggFor(agg: Aggregation): Option[(StructType, Row)] = {
    if (!(agg eq memoAgg)) { memoAgg = agg; memoResult = tryMetaAgg(agg) }
    memoResult
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    metaAggFor(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggResult = metaAggFor(agg)
    aggResult.isDefined
  }

  override def build(): Scan = aggResult match {
    case Some((schema, row)) => new GraftMetaAggScan(schema, row)
    case None => new GraftV1Scan(table, pushed, required)
  }
}

object GraftScanBuilder {
  /** Manifest rendered-stat string → external row value for the column's
    * Spark type (the inverse of FooterStats.render). None = a type we
    * don't serve exactly (strings may be writer-truncated). */
  def parseStat(s: String, dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case IntegerType => Some(s.toInt)
      case LongType    => Some(s.toLong)
      case FloatType   => Some(BigDecimal(s).toFloat)
      case DoubleType  => Some(BigDecimal(s).toDouble)
      case t: DecimalType =>
        Some(new java.math.BigDecimal(s).setScale(t.scale))
      case DateType =>
        Some(java.sql.Date.valueOf(java.time.LocalDate.parse(s)))
      case TimestampType =>
        val fmt = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
          .withZone(java.time.ZoneOffset.UTC)
        Some(java.sql.Timestamp.from(java.time.Instant.from(fmt.parse(s))))
      case _ => None
    }
  }
}

/** 1-row scan carrying a completely-pushed-down aggregation result —
  * produced when every requested aggregate was answered from manifest
  * metadata; no data file is touched. */
class GraftMetaAggScan(aggSchema: StructType, row: Row) extends V1Scan {
  override def readSchema(): StructType = aggSchema
  override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = aggSchema
      override def buildScan(): RDD[Row] =
        context.sparkContext.parallelize(Seq(row), 1)
    }.asInstanceOf[T]
}

class GraftV1Scan(table: GraftTable, filters: Array[Filter], required: StructType)
    extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** Manifest-derived size/row estimates — what lets Spark auto-broadcast
    * a small Graft table without an explicit hint. At 100 TB the
    * difference is a shuffle of the fact table vs a broadcast of the dim:
    * the optimizer can only make that call if the scan reports its size,
    * and the manifest already knows it (planning stays O(metadata), zero
    * file IO). Row counts ignore MoR delete files — an overcount, so the
    * estimate errs toward NOT broadcasting (never unsafely large
    * broadcasts).
    * NOTE the only LIVE caller is the pre-pushdown
    * `DataSourceV2RelationBase.computeStats`, which builds this scan with
    * an EMPTY filter array — so today the planFilters call below always
    * sees no filters (whole-table estimate). Post-pushdown, Spark's
    * V1ScanWrapper hides this interface entirely (verified in 4.1.2
    * bytecode), which is why the broadcast decision is taken by
    * graft.plans.GraftBroadcastStats in the operator-optimization batch,
    * where this pre-pushdown estimate is still visible via plan.stats.
    * The filters parameter is kept in the computation so a future native
    * Batch scan (no V1 bridge) inherits pruned estimates for free. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val m = table.meta
    val files = table.planFilters(m, filters.toSeq)
    val rows = files.map(_.rows).sum
    // on-disk bytes where recorded; else rows x projected row width (the
    // same flat estimate Spark's EstimationUtils uses for unknown sizes)
    val rowWidth = math.max(8L, required.defaultSize.toLong)
    val bytes = files.map(f => f.sizeBytes.getOrElse(f.rows * rowWidth)).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
    new GraftRelation(context, table, filters, required).asInstanceOf[T]
}

/** The V1 bridge relation: builds its RDD by re-entering the DataFrame
  * API over the manifest-pruned file list. */
class GraftRelation(
    val sqlContext: SQLContext,
    table: GraftTable,
    filters: Array[Filter],
    required: StructType) extends BaseRelation with TableScan {

  override def schema: StructType = required

  override def buildScan(): RDD[Row] = {
    val df = table.readPruned(sqlContext.sparkSession, filters.toSeq)
    val projected =
      if (required.isEmpty) df // count(*)-style scans: no columns needed
      else df.select(required.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
    projected.rdd
  }
}

/** Catalog plugin: `spark.sql.catalog.<name> = GraftCatalogPlugin`,
  * `spark.sql.catalog.<name>.warehouse = <dir>`. Read + create surface
  * (the reference's CREATE SCHEMA / CREATE TABLE / SELECT lifecycle);
  * writes go through the GraftTable Scala API. */
class GraftCatalogPlugin extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with ViewCatalog {

  private var catalogName: String = _
  private var warehouse: HPath = _
  private def cat: GraftCatalog = new GraftCatalog(warehouse)

  /** The underlying filesystem catalog — the view DDL commands and the
    * view resolution rule go through this (stock Spark has no analyzer
    * path to the ViewCatalog API below; see GraftViewSql). */
  private[graft] def graftCatalog: GraftCatalog = cat

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = new HPath(Option(options.get("warehouse"))
      .getOrElse(throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse")))
  }

  override def name(): String = catalogName

  // analyzer gate for `ALTER TABLE ... ADD COLUMN ... DEFAULT <lit>`:
  // without this capability Spark rejects the DDL before alterTable runs
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** Connector literal → the string-literal form GraftTable stores (read
    * path applies `lit(s).cast(type)`). Bounded to the types whose
    * round-trip through a string cast is exact; anything else fails the
    * DDL loudly rather than storing a default that reads back wrong. */
  private def renderDefault(
      l: org.apache.spark.sql.connector.expressions.Literal[_]): Option[String] = {
    val ext = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .convertToScala(l.value(), l.dataType())
    ext match {
      case null => None // DEFAULT NULL == no default
      case s: String => Some(s)
      case b: Boolean => Some(b.toString)
      case n @ (_: Byte | _: Short | _: Int | _: Long) => Some(n.toString)
      case d: java.math.BigDecimal => Some(d.toPlainString)
      case d: BigDecimal => Some(d.bigDecimal.toPlainString)
      case f: Float => Some(f.toString)
      case d: Double => Some(d.toString)
      case d: java.sql.Date => Some(d.toString) // yyyy-MM-dd, tz-free
      case t: java.time.LocalDate => Some(t.toString)
      case other => throw new UnsupportedOperationException(
        s"DEFAULT of type ${l.dataType()} not supported " +
          s"(got ${other.getClass.getSimpleName}); use a numeric, string, " +
          "boolean, decimal or date literal")
    }
  }

  private def qualified(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  private val metaKinds = Set("history", "snapshots", "files", "partitions", "refs")

  override def loadTable(ident: Identifier): Table = {
    val q = qualified(ident)
    if (cat.tableExists(q))
      new GraftDsv2Table(cat.load(q), s"$catalogName.$q")
    else {
      // Iceberg-style metadata tables: db.table.history resolves here as
      // namespace=[db, table], name=history
      val baseQ = ident.namespace().mkString(".")
      if (ident.namespace().length == 2 && metaKinds(ident.name()) && cat.tableExists(baseQ))
        new GraftMetaTable(cat.load(baseQ), ident.name(), s"$catalogName.$q")
      else
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
          (ident.namespace() :+ ident.name()).toSeq)
    }
  }

  /** `VERSION AS OF <snapshot_id>` routes here (DSv2 time travel). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val q = qualified(ident)
    if (!cat.tableExists(q))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    val t = cat.load(q)
    // numeric = snapshot id; otherwise a named ref (tag/branch)
    val snapId = version.toLongOption.getOrElse {
      t.meta.allRefs.getOrElse(version,
        throw new IllegalArgumentException(
          s"VERSION AS OF '$version' on $catalogName.$q: not a snapshot id and no such " +
            "tag/branch (see the .refs metadata table)")).snapshotId
    }
    t.meta.snapshot(snapId) // unknown id -> analysis-time error, not a mid-job task failure
    new GraftSnapshotTable(t, snapId, s"$catalogName.$q")
  }

  /** `TIMESTAMP AS OF <ts>` routes here; Spark hands MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val q = qualified(ident)
    if (!cat.tableExists(q))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    val t = cat.load(q)
    new GraftSnapshotTable(t, t.snapshotIdAsOf(timestamp / 1000L), s"$catalogName.$q")
  }

  override def tableExists(ident: Identifier): Boolean = cat.tableExists(qualified(ident))

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // SQL `PARTITIONED BY (days(ts), bucket(8, key), truncate(4, s), ...)`
    // → the table layer's transform specs (graft.table.Transforms).
    val specs = partitions.toSeq.map { t =>
      val colName = t.references().head.fieldNames().head
      t.name() match {
        case n @ ("days" | "months" | "years" | "hours") => colName -> n
        case n @ ("bucket" | "truncate") =>
          val param = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              l.value().toString.toInt
          }.getOrElse(throw new IllegalArgumentException(s"$n needs a numeric argument"))
          colName -> s"$n[$param]"
        case other =>
          throw new UnsupportedOperationException(s"partition transform $other")
      }
    }
    // user TBLPROPERTIES (Spark-managed keys aren't table content) go
    // into the initial metadata commit — no create/set-properties window
    val managed = Set("provider", "owner", "location", "format-version")
    val user = properties.asScala.filterNot { case (k, _) =>
      managed.contains(k) || k.startsWith("option.")
    }.toMap
    val t = cat.createTable(qualified(ident), schema, None, specs, user)
    new GraftDsv2Table(t, s"$catalogName.${qualified(ident)}")
  }

  /** `ALTER TABLE ... ADD COLUMNS / RENAME COLUMN / DROP COLUMN` — each
    * change maps 1:1 onto a GraftTable metadata-only schema commit (no
    * file rewrite; reads resolve by column id). Nested-field changes are
    * rejected explicitly rather than silently mis-applied. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = cat.load(qualified(ident))
    changes.foreach {
      case add: TableChange.AddColumn if add.fieldNames().length == 1 =>
        t.addColumn(add.fieldNames()(0), add.dataType(),
          Option(add.defaultValue()).flatMap(dv => renderDefault(dv.getValue)))
      case ren: TableChange.RenameColumn if ren.fieldNames().length == 1 =>
        t.renameColumn(ren.fieldNames()(0), ren.newName())
      case del: TableChange.DeleteColumn if del.fieldNames().length == 1 =>
        t.dropColumn(del.fieldNames()(0))
      case upd: TableChange.UpdateColumnType if upd.fieldNames().length == 1 =>
        t.widenColumn(upd.fieldNames()(0), upd.newDataType())
      case set: TableChange.SetProperty =>
        t.setProperties(Map(set.property() -> set.value()))
      case rm: TableChange.RemoveProperty =>
        t.unsetProperties(Seq(rm.property()))
      case other =>
        throw new UnsupportedOperationException(
          s"ALTER TABLE change not supported: $other " +
            "(top-level add/rename/drop column and table properties only)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    cat.dropTable(qualified(ident))

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    // `RENAME TO a.b.c` arrives with the catalog name still in the
    // namespace when the user catalog-qualifies the target — strip it
    val ns = newIdent.namespace() match {
      case arr if arr.length > 1 && arr.head == catalogName => arr.tail
      case arr => arr
    }
    cat.renameTable(qualified(oldIdent), (ns :+ newIdent.name()).mkString("."))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = namespace.foldLeft(warehouse)(_.resolve(_))
    if (!GraftIO.isDirectory(dir)) Array.empty
    else GraftIO.list(dir)
      .filter(st => GraftIO.exists(st.getPath.resolve("meta").resolve("version-hint.text")))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  // ------------------------------------------------------------- views

  /** The connector ViewCatalog API, implemented for programmatic access
    * and API completeness. Stock Spark 4.1 never CALLS these (no
    * analyzer wiring exists for v2 views); the SQL surface routes
    * through GraftViewSql's parser commands + resolution rule, which
    * share the same persisted definitions. */
  override def listViews(namespace: String*): Array[Identifier] = {
    require(namespace.length == 1, s"expected db, got ${namespace.mkString(".")}")
    cat.listViews(namespace.head)
      .map(v => Identifier.of(namespace.toArray, v)).toArray
  }

  override def viewExists(ident: Identifier): Boolean =
    cat.viewExists(qualified(ident))

  override def loadView(ident: Identifier): View = {
    val d = cat.loadView(qualified(ident)).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    new GraftV2View(s"$catalogName.${qualified(ident)}", d)
  }

  override def createView(info: ViewInfo): View = {
    val q = qualified(info.ident())
    cat.createView(q, info.sql(),
      defaultCatalog = info.currentCatalog(),
      defaultNamespace = info.currentNamespace().toSeq,
      schemaJson = info.schema().json,
      comment = Option(info.properties().get(ViewCatalog.PROP_COMMENT)),
      properties = info.properties().asScala.toMap -- ViewCatalog.RESERVED_PROPERTIES.asScala,
      replace = false)
    loadView(info.ident())
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val q = qualified(ident)
    val d = cat.loadView(q).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    val props = changes.foldLeft(d.allProperties) {
      case (acc, s: ViewChange.SetProperty) => acc + (s.property() -> s.value())
      case (acc, r: ViewChange.RemoveProperty) => acc - r.property()
      case (_, other) => throw new UnsupportedOperationException(
        s"view change ${other.getClass.getSimpleName}")
    }
    cat.createView(q, d.sql, d.defaultCatalog, d.defaultNamespace,
      d.schemaJson, d.comment, props, replace = true)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    cat.dropView(qualified(ident))

  override def renameView(from: Identifier, to: Identifier): Unit = {
    val ns = to.namespace() match {
      case arr if arr.length > 1 && arr.head == catalogName => arr.tail
      case arr => arr
    }
    cat.renameView(qualified(from), (ns :+ to.name()).mkString("."))
  }

  // -------------------------------------------------------- procedures

  /** `CALL <catalog>.system.<proc>(...)` — README.md:317-328 surface. */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!(ident.namespace().sameElements(Array("system"))))
      throw new IllegalArgumentException(
        s"no such procedure: ${(ident.namespace() :+ ident.name()).mkString(".")} " +
          s"(procedures live under $catalogName.system)")
    GraftProcedures.load(cat, ident.name())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  // -------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    GraftIO.list(warehouse)
      .filter(_.isDirectory)
      .map(st => Array(st.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    GraftIO.isDirectory(namespace.foldLeft(warehouse)(_.resolve(_)))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace.toSeq)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String], metadata: util.Map[String, String]): Unit =
    cat.createSchema(namespace.mkString("/"))

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("DROP NAMESPACE not supported")
}

/** Path-based entry: `spark.read.format("graft").load("<table dir>")`. */
class GraftDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider {

  override def shortName(): String = "graft"

  // ------------------------------------------------- streaming source
  // readStream.format("graft").load(tableDir): snapshot-log tailing —
  // see GraftStreamSource for offset/append-only semantics.

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(GraftStreamSource.schemaOf(parameters)))

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source =
    new GraftStreamSource(
      sqlContext,
      GraftStreamSource.pathOf(parameters),
      skipRewrites = parameters.get("skip-rewrites").exists(_.toBoolean),
      // Kafka's maxOffsetsPerTrigger analog: bound each micro-batch to K
      // snapshots so a backlog catch-up doesn't plan one giant batch
      maxSnapshotsPerTrigger = parameters.get("max-snapshots-per-trigger")
        .map(v => { val k = v.toInt; require(k > 0,
          "max-snapshots-per-trigger must be positive"); k }))

  override def supportsExternalMetadata(): Boolean = false

  private def tableFor(options: CaseInsensitiveStringMap): GraftDsv2Table = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("format(\"graft\") requires .load(<table dir>)"))
    new GraftDsv2Table(new GraftTable(new HPath(path)), path)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    tableFor(options).schema()

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    tableFor(new CaseInsensitiveStringMap(properties))
}
