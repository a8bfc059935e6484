package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * standard pattern for third-party Catalyst extensions that need to
  * surface a custom Expression through the public Column API. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A Catalyst predicate as the DataSource `Filter` DSv2 pushdown would
    * hand a source, or None when it has no `Filter` form. */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    execution.datasources.DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = false)

  /** Spark's own conversion of one parquet footer to a schema, with the
    * converter settings schema inference uses (`readSchema` is
    * `private[parquet]`, hence the packaging below). */
  def parquetSchema(
      spark: SparkSession,
      footer: org.apache.parquet.hadoop.Footer): Option[types.StructType] =
    execution.datasources.parquet.GraftParquetSchema.read(spark, footer)

  /** The registered catalog plugin under `name`, if any — CatalogManager
    * accessors are `private[sql]`, hence bridged. */
  def catalogPlugin(
      spark: SparkSession,
      name: String): Option[org.apache.spark.sql.connector.catalog.CatalogPlugin] = {
    val cm = spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager
    if (cm.isCatalogRegistered(name)) Some(cm.catalog(name)) else None
  }

  def currentCatalogName(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager
      .currentCatalog.name()

  def currentNamespace(spark: SparkSession): Seq[String] =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager
      .currentNamespace.toSeq

  /** Parse SQL text with the session's (extension-wrapped) parser. */
  def parsePlan(
      spark: SparkSession,
      sqlText: String): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser.parsePlan(sqlText)

  /** Analyzed LogicalPlan → DataFrame, preserving the plan's attribute
    * exprIds (a fresh read would re-number them and orphan every
    * reference held by a row-level SQL command's expressions). */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-tag a batch DataFrame as a STREAMING one — what a V1
    * streaming Source's getBatch must return (the micro-batch planner
    * asserts isStreaming). Same internalCreateDataFrame route Spark's
    * own FileStreamSource takes. */
  def asStreamingFrame(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** Resolve a multipart table identifier to its v2 catalog + relative
    * identifier the way Spark's LookupCatalog does (leading part names a
    * registered catalog, else the session's current catalog) — the
    * CatalogManager accessors are `private[sql]`, hence bridged here. */
  def resolveV2Table(
      spark: SparkSession,
      parts: Seq[String]): org.apache.spark.sql.connector.catalog.Table = {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    require(parts.nonEmpty, "empty table identifier")
    val cm = spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager
    val (plugin, rest) =
      if (parts.length > 1 && cm.isCatalogRegistered(parts.head))
        (cm.catalog(parts.head), parts.tail)
      else (cm.currentCatalog, parts)
    // a bare table name resolves in the session's current namespace,
    // matching Spark's CatalogAndIdentifier rule
    val ns = if (rest.length == 1) cm.currentNamespace else rest.init.toArray
    plugin match {
      case tc: TableCatalog =>
        tc.loadTable(Identifier.of(ns, rest.last))
      case other => throw new IllegalArgumentException(
        s"catalog ${other.name} is not a TableCatalog")
    }
  }
}

package execution.datasources.parquet {
  private[sql] object GraftParquetSchema {
    def read(spark: SparkSession, footer: org.apache.parquet.hadoop.Footer): Option[types.StructType] =
      ParquetFileFormat.readSchema(Seq(footer), spark)
  }
}
