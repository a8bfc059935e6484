package graft.spark

import java.nio.file.Files

import graft.{SparkTestBase, Tables}
import graft.table.{GraftCatalog, TableMeta}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types._

/** DSv2 surface: SQL-by-name reads through the catalog plugin,
  * path-based format("graft") reads, filter pushdown → manifest pruning,
  * and schema evolution visible through SQL. */
class Dsv2Spec extends SparkTestBase {

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def partitionedEvents() = {
    val wh = Files.createTempDirectory("graft_wh")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.events", eventsSchema, partitionDays = Some("ts"))
    t.append(Tables.events(spark, sfDir))
    (wh, t)
  }

  private var n = 0
  private def freshCatalog(wh: java.nio.file.Path): String = {
    n += 1
    val cname = s"graft_spec_$n"
    spark.conf.set(s"spark.sql.catalog.$cname", classOf[GraftCatalogPlugin].getName)
    spark.conf.set(s"spark.sql.catalog.$cname.warehouse", wh.toString)
    cname
  }

  test("SQL read by name == DataFrame filter read") {
    val (wh, t) = partitionedEvents()
    val c = freshCatalog(wh)
    val viaSql = spark.sql(
      s"""SELECT event_id, value FROM $c.db.events
          WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
            AND ts < TIMESTAMP '2024-01-08 00:00:00'
          ORDER BY event_id""").collect()
    val viaApi = t.read(spark)
      .filter(col("ts") >= lit("2024-01-05 00:00:00").cast(TimestampType) &&
        col("ts") < lit("2024-01-08 00:00:00").cast(TimestampType))
      .select(col("event_id"), col("value"))
      .orderBy(col("event_id")).collect()
    assert(viaSql.nonEmpty)
    assert(viaSql === viaApi)
  }

  test("pushed filters prune the manifest (day partitions + footer stats)") {
    val (_, t) = partitionedEvents()
    val m = t.meta
    val all = m.currentSnapshot.get.manifest
    val ts = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
    val te = java.sql.Timestamp.valueOf("2024-01-08 00:00:00")
    val pruned = t.planFilters(m, Seq(GreaterThanOrEqual("ts", ts), LessThan("ts", te)))
    assert(pruned.size < all.size, s"expected pruning: ${pruned.size} of ${all.size}")
    assert(pruned.nonEmpty)
    // pruning never loses rows: pruned read + residual == full filter
    val fromPruned = t.readPruned(spark, Seq(GreaterThanOrEqual("ts", ts), LessThan("ts", te)))
      .filter(col("ts") >= lit(ts) && col("ts") < lit(te)).count()
    val full = t.read(spark).filter(col("ts") >= lit(ts) && col("ts") < lit(te)).count()
    assert(fromPruned === full)
  }

  test("format(\"graft\").load(path) reads the current snapshot") {
    val (_, t) = partitionedEvents()
    val viaFormat = spark.read.format("graft").load(t.dir.toString)
    assert(viaFormat.count() === t.read(spark).count())
    assert(viaFormat.schema.fieldNames.toSeq ===
      Seq("event_id", "ts", "user_id", "event_type", "value"))
  }

  test("schema evolution is visible through SQL (rename + added column)") {
    val wh = Files.createTempDirectory("graft_wh")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.evolve", eventsSchema)
    t.append(Tables.events(spark, sfDir).limit(100))
    t.renameColumn("event_type", "kind")
    t.addColumn("note", StringType)
    val c = freshCatalog(wh)
    val rows = spark.sql(s"SELECT event_id, kind, note FROM $c.db.evolve").collect()
    assert(rows.length === 100)
    assert(rows.forall(_.isNullAt(2))) // added column reads NULL for old files
  }

  test("one table instance answers schema, partitioning and properties from one metadata read") {
    val wh = Files.createTempDirectory("graft_wh")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.pinned", eventsSchema, partitionDays = Some("ts"))
    val analyzed = new GraftDsv2Table(t, "db.pinned")
    val schema0 = analyzed.schema()
    // a concurrent DDL lands mid-analysis
    t.addColumn("note", StringType)
    t.setProperties(Map("owner.team" -> "ml"))
    t.addPartitionField("user_id", "bucket[4]")
    assert(analyzed.schema() === schema0)
    assert(analyzed.partitioning().map(_.describe()).toSeq === Seq("days(ts)"))
    assert(!analyzed.properties().containsKey("owner.team"))
    val fresh = new GraftDsv2Table(t, "db.pinned")
    assert(fresh.schema().fieldNames.last === "note")
    assert(fresh.partitioning().length === 2)
    assert(fresh.properties().get("owner.team") === "ml")
  }

  test("CALL system.rollback_to_snapshot undoes a delete; procedures return summary rows") {
    val wh = Files.createTempDirectory("graft_wh")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.rb", eventsSchema)
    t.append(Tables.events(spark, sfDir).limit(200))
    val full = t.read(spark).count()
    t.delete(spark, col("event_type") === "click")
    assert(t.read(spark).count() < full)
    val c = freshCatalog(wh)
    val res = spark.sql(s"CALL $c.system.rollback_to_snapshot(table => 'db.rb', snapshot_id => 1)")
      .collect()
    assert(res.length === 1 && res(0).getLong(1) === 1L) // summary row: now at snapshot 1
    assert(t.read(spark).count() === full) // delete undone
    // compaction via CALL: content invariant, file count bounded
    spark.sql(s"CALL $c.system.rewrite_data_files(table => 'db.rb', target_files => 1)")
    assert(t.read(spark).count() === full)
    assert(t.meta.currentSnapshot.get.manifest.size === 1)
    // expire via CALL: returns remaining count, metadata shrinks
    val rem = spark.sql(s"CALL $c.system.expire_snapshots(table => 'db.rb', " +
      s"older_than_ms => ${Long.MaxValue}L, retain_last => 1)").collect()
    assert(rem(0).getLong(0) === 1L)
    assert(t.meta.snapshots.size === 1)
  }

  test("CALL system.cherrypick_snapshot replays a rolled-back append; rewrites refuse") {
    val wh = Files.createTempDirectory("graft_wh")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.cp", eventsSchema)
    t.append(Tables.events(spark, sfDir).limit(100))          // snapshot 1
    t.append(Tables.events(spark, sfDir).limit(150).offset(100)) // snapshot 2 (orphaned below)
    val full = t.read(spark).count()
    t.rollbackTo(1)
    assert(t.read(spark).count() === 100)
    val c = freshCatalog(wh)
    val res = spark.sql(
      s"CALL $c.system.cherrypick_snapshot(table => 'db.cp', snapshot_id => 2)").collect()
    assert(res.length === 1 && res(0).getLong(0) === 2L)
    assert(t.read(spark).count() === full) // the orphaned append is back
    // non-append snapshots refuse: a rewrite against a diverged base is undefined
    t.delete(spark, col("event_type") === "click") // CoW snapshot
    val delSnap = t.meta.currentSnapshotId.get
    t.rollbackTo(1)
    val ex = intercept[Exception] {
      spark.sql(s"CALL $c.system.cherrypick_snapshot(table => 'db.cp', snapshot_id => $delSnap)")
    }
    assert(ex.getMessage.contains("append"))
  }

  test("SQL DDL: ALTER ADD/RENAME/DROP COLUMN and DROP/RENAME TABLE") {
    val wh = Files.createTempDirectory("graft_wh")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.ddl", eventsSchema)
    t.append(Tables.events(spark, sfDir).limit(50))
    val c = freshCatalog(wh)
    spark.sql(s"ALTER TABLE $c.db.ddl ADD COLUMNS (tag STRING)")
    spark.sql(s"ALTER TABLE $c.db.ddl RENAME COLUMN event_type TO kind")
    spark.sql(s"ALTER TABLE $c.db.ddl DROP COLUMN value")
    val df = spark.sql(s"SELECT * FROM $c.db.ddl")
    assert(df.schema.fieldNames.toSeq === Seq("event_id", "ts", "user_id", "kind", "tag"))
    assert(df.count() === 50)
    spark.sql(s"ALTER TABLE $c.db.ddl RENAME TO db.ddl2")
    assert(spark.sql(s"SELECT count(*) FROM $c.db.ddl2").collect()(0).getLong(0) === 50)
    spark.sql(s"DROP TABLE $c.db.ddl2")
    assert(!new GraftCatalog(wh).tableExists("db.ddl2"))
  }

  test("TIMESTAMP AS OF resolves to the latest snapshot at-or-before the instant") {
    val wh = Files.createTempDirectory("graft_wh")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.tt", eventsSchema)
    t.append(Tables.events(spark, sfDir).limit(100))
    val afterInsert = t.meta.snapshots.head.timestampMs
    Thread.sleep(5) // ensure the delete lands at a strictly later ms
    t.delete(spark, col("event_type") === "click")
    val c = freshCatalog(wh)
    // a timestamp between the two commits sees the pre-delete state;
    // render the instant in UTC explicitly — Timestamp.toString uses the
    // JVM default zone while Spark parses the literal in the UTC session
    // zone, so the bare toString only works on UTC hosts
    val tsLit = java.time.Instant.ofEpochMilli(afterInsert)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val n = spark.sql(
      s"SELECT count(*) FROM $c.db.tt TIMESTAMP AS OF '$tsLit'").collect()(0).getLong(0)
    assert(n === 100)
    assert(spark.sql(s"SELECT count(*) FROM $c.db.tt").collect()(0).getLong(0) < 100)
    // VERSION AS OF agrees
    assert(spark.sql(s"SELECT count(*) FROM $c.db.tt VERSION AS OF 1").collect()(0).getLong(0) === 100)
  }

  test("SQL UPDATE routes to CoW update; only matching rows change, old snapshot intact") {
    val wh = Files.createTempDirectory("graft_wh")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.u", eventsSchema)
    t.append(Tables.events(spark, sfDir).limit(200))
    val c = freshCatalog(wh)
    spark.sql(s"UPDATE $c.db.u SET value = value * 10, event_type = 'boosted' " +
      "WHERE event_type = 'click'")
    val after = spark.sql(s"SELECT * FROM $c.db.u").collect()
    assert(after.length === 200)
    assert(after.count(_.getString(3) == "click") === 0)
    val src = Tables.events(spark, sfDir).limit(200).collect()
    val clicks = src.count(_.getString(3) == "click")
    assert(clicks > 0 && after.count(_.getString(3) == "boosted") === clicks)
    // untouched rows keep their values; snapshot 1 still shows clicks
    assert(t.readVersion(spark, 1).filter(col("event_type") === "click").count() === clicks)
  }

  test("SQL MERGE INTO: all clause families with first-applicable semantics") {
    val wh = Files.createTempDirectory("graft_wh")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.m", StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType),
      StructField("tag", StringType))))
    import spark.implicits._
    t.append(Seq((1L, 1.0, "a"), (2L, 2.0, "b"), (3L, 3.0, "c"), (4L, 4.0, "d"))
      .toDF("k", "v", "tag"))
    Seq((2L, 20.0), (3L, 30.0), (5L, 50.0), (6L, 60.0))
      .toDF("k", "nv").createOrReplaceTempView("mrg_src")
    val c = freshCatalog(wh)
    spark.sql(
      s"""MERGE INTO $c.db.m t USING mrg_src s ON t.k = s.k
          WHEN MATCHED AND s.nv > 25 THEN DELETE
          WHEN MATCHED THEN UPDATE SET v = s.nv, tag = 'upd'
          WHEN NOT MATCHED AND s.nv < 55 THEN INSERT (k, v, tag) VALUES (s.k, s.nv, 'ins')
          WHEN NOT MATCHED BY SOURCE AND t.k = 1 THEN UPDATE SET tag = 'stale'""")
    val rows = spark.sql(s"SELECT k, v, tag FROM $c.db.m ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    // k=1: unmatched, condition hit → stale; k=2: matched, nv=20 ≤ 25 → updated;
    // k=3: matched, nv=30 > 25 → deleted; k=4: unmatched, no clause → unchanged;
    // k=5: not matched, 50 < 55 → inserted; k=6: not matched, 60 ≥ 55 → skipped
    assert(rows === Seq((1L, 1.0, "stale"), (2L, 20.0, "upd"), (4L, 4.0, "d"),
      (5L, 50.0, "ins")))
    // time travel: snapshot 1 is the pre-merge content
    assert(t.readVersion(spark, 1).count() === 4)
  }

  test("SQL MERGE cardinality violation raises") {
    val wh = Files.createTempDirectory("graft_wh")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.dup", StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType))))
    import spark.implicits._
    t.append(Seq((1L, 1.0)).toDF("k", "v"))
    Seq((1L, 10.0), (1L, 11.0)).toDF("k", "nv").createOrReplaceTempView("dup_src")
    val c = freshCatalog(wh)
    val e = intercept[Exception] {
      spark.sql(s"MERGE INTO $c.db.dup t USING dup_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv")
    }
    def causes(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: causes(x.getCause)
    assert(causes(e).exists(_.getMessage != null)
      && causes(e).exists(c2 => Option(c2.getMessage).exists(_.contains("cardinality"))))
  }

  test("refs: tags pin snapshots through expiry; branches move; SQL resolves both") {
    val wh = Files.createTempDirectory("graft_wh")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.r", eventsSchema)
    t.append(Tables.events(spark, sfDir).limit(100)) // snapshot 1
    val c = freshCatalog(wh)
    spark.sql(s"CALL $c.system.create_tag(table => 'db.r', name => 'v1')")
    t.delete(spark, col("event_type") === "click")   // snapshot 2
    spark.sql(s"CALL $c.system.create_branch(table => 'db.r', name => 'dev', snapshot_id => 1)")
    // SQL time travel by ref name, both kinds
    assert(spark.sql(s"SELECT count(*) FROM $c.db.r VERSION AS OF 'v1'")
      .collect()(0).getLong(0) === 100)
    assert(spark.sql(s"SELECT count(*) FROM $c.db.r VERSION AS OF 'dev'")
      .collect()(0).getLong(0) === 100)
    // .refs metadata table lists both
    val refs = spark.sql(s"SELECT name, type, snapshot_id FROM $c.db.r.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(refs === Seq(("dev", "branch", 1L), ("v1", "tag", 1L)))
    // branch fast-forwards to current; tag refuses to move
    spark.sql(s"CALL $c.system.fast_forward(table => 'db.r', name => 'dev')")
    assert(t.resolveRef("dev") === 2L)
    intercept[Exception](t.setBranch("v1", 2L))
    // aggressive expiry keeps the tagged snapshot (tag pins it)
    t.expireSnapshots(olderThanMs = Long.MaxValue, retainLast = 1)
    assert(t.readRef(spark, "v1").count() === 100)
    // dropping the tag unpins: next expiry really drops snapshot 1
    spark.sql(s"CALL $c.system.drop_ref(table => 'db.r', name => 'v1')")
    t.expireSnapshots(olderThanMs = Long.MaxValue, retainLast = 1)
    assert(t.meta.snapshots.map(_.snapshotId) === Seq(2L))
    intercept[Exception](t.readRef(spark, "v1"))
  }

  test("ALTER COLUMN TYPE: lossless widening is metadata-only; narrowing refuses") {
    val wh = Files.createTempDirectory("graft_wh")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.widen", StructType(Seq(
      StructField("id", IntegerType), StructField("x", FloatType))))
    import spark.implicits._
    t.append(Seq((1, 1.5f), (2, 2.5f)).toDF("id", "x"))
    val filesBefore = t.meta.currentSnapshot.get.manifest.map(_.path)
    val c = freshCatalog(wh)
    spark.sql(s"ALTER TABLE $c.db.widen ALTER COLUMN id TYPE BIGINT")
    spark.sql(s"ALTER TABLE $c.db.widen ALTER COLUMN x TYPE DOUBLE")
    // no file rewrite; old files serve the widened type through the cast
    assert(t.meta.currentSnapshot.get.manifest.map(_.path) === filesBefore)
    val df = spark.sql(s"SELECT * FROM $c.db.widen ORDER BY id")
    assert(df.schema("id").dataType === LongType)
    assert(df.schema("x").dataType === DoubleType)
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 1.5), (2L, 2.5)))
    // a new append under the widened schema coexists with old files
    t.append(Seq((3L, 3.5)).toDF("id", "x"))
    assert(t.read(spark).count() === 3)
    // narrowing refuses — Spark's analyzer rejects un-upcastable ALTERs
    // before our catalog, and widenColumn guards the direct API path
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.db.widen ALTER COLUMN id TYPE INT")
    }
    intercept[IllegalArgumentException] {
      t.widenColumn("id", IntegerType)
    }
    assert(t.meta.currentSchema.find(_.name == "id").get.sparkType === LongType)
  }

  test("CALL add/drop_partition_field: partition evolution from SQL (README ADD PARTITION FIELD surface)") {
    val wh = Files.createTempDirectory("graft_wh")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.pf", eventsSchema)
    t.append(Tables.events(spark, sfDir).limit(100))
    val c = freshCatalog(wh)
    val res = spark.sql(
      s"CALL $c.system.add_partition_field(table => 'db.pf', column => 'user_id', transform => 'bucket[4]')")
      .collect()
    assert(res(0).getString(1) === "bucket[4]")
    assert(t.meta.partitionFields.map(_.transform) === Seq("bucket[4]"))
    // future writes cluster by the new field
    t.append(Tables.events(spark, sfDir).limit(100))
    assert(t.meta.currentSnapshot.get.manifest.exists(
      _.partitionValues.contains("user_id_bucket4")))
    spark.sql(s"CALL $c.system.drop_partition_field(table => 'db.pf', column => 'user_id')")
    assert(t.meta.partitionFields.isEmpty)
    assert(t.read(spark).count() === 200) // both epochs still read
  }

  test("literal ALTER TABLE ... ADD/DROP PARTITION FIELD parses and evolves the spec") {
    // the reference's exact extension syntax (README.md:304), via the
    // injected delegating parser — the CALL procedures above remain the
    // equivalent programmatic surface
    val wh = Files.createTempDirectory("graft_wh")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.pfsql", eventsSchema)
    t.append(Tables.events(spark, sfDir).limit(100))
    val c = freshCatalog(wh)
    spark.sql(s"ALTER TABLE $c.db.pfsql ADD PARTITION FIELD days(ts)")
    assert(t.meta.partitionFields.map(_.transform) === Seq("days"))
    spark.sql(s"ALTER TABLE $c.db.pfsql DROP PARTITION FIELD days(ts)")
    assert(t.meta.partitionFields.isEmpty)
    // parametric transform + DROP by bare source column
    spark.sql(s"ALTER TABLE $c.db.pfsql ADD PARTITION FIELD bucket(4, user_id)")
    assert(t.meta.partitionFields.map(_.transform) === Seq("bucket[4]"))
    spark.sql(s"ALTER TABLE $c.db.pfsql DROP PARTITION FIELD user_id")
    assert(t.meta.partitionFields.isEmpty)
    // the delegating parser must not touch SQL Spark already accepts:
    // stock ALTER and plain queries still parse and run
    spark.sql(s"ALTER TABLE $c.db.pfsql SET TBLPROPERTIES ('x'='1')")
    assert(spark.sql(s"SELECT count(*) FROM $c.db.pfsql").head().getLong(0) === 100)
    // bare column = identity partitioning (Iceberg's default transform)
    spark.sql(s"ALTER TABLE $c.db.pfsql ADD PARTITION FIELD user_id")
    assert(t.meta.partitionFields.map(_.transform) === Seq("identity"))
    t.append(Tables.events(spark, sfDir).limit(50))
    assert(t.read(spark).count() === 150) // pre- and post-evolution files
    spark.sql(s"ALTER TABLE $c.db.pfsql DROP PARTITION FIELD user_id")
    assert(t.meta.partitionFields.isEmpty)
    // identity on a TIMESTAMP stays rejected (a directory per
    // microsecond — the time transforms exist for that), with a typed
    // error naming the fix
    val e = intercept[IllegalArgumentException](
      spark.sql(s"ALTER TABLE $c.db.pfsql ADD PARTITION FIELD ts"))
    assert(e.getMessage.contains("identity") && e.getMessage.contains("days"))
    // a statement that merely CONTAINS the phrase inside a string
    // literal must fall through to the stock parser untouched
    spark.sql(s"ALTER TABLE $c.db.pfsql SET TBLPROPERTIES " +
      "('note'='ADD PARTITION FIELD days(ts)')")
    assert(t.meta.partitionFields.isEmpty)
    // trailing line comments after the transform are tolerated
    spark.sql(s"ALTER TABLE $c.db.pfsql ADD PARTITION FIELD days(ts) -- evolve")
    assert(t.meta.partitionFields.map(_.transform) === Seq("days"))
    spark.sql(s"ALTER TABLE $c.db.pfsql DROP PARTITION FIELD ts")
  }

  test("widening guards: partition sources refuse; same-type replay is a no-op; rename re-renders sort-order property") {
    val wh = Files.createTempDirectory("graft_wh")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    // bucket source: widening would change the murmur3 domain
    val tb = cat.createTable("db.wb", StructType(Seq(
      StructField("k", IntegerType), StructField("v", StringType))),
      partitionSpec = Seq("k" -> "bucket[4]"))
    import spark.implicits._
    tb.append(Seq((1, "a")).toDF("k", "v"))
    val ex = intercept[IllegalArgumentException] { tb.widenColumn("k", LongType) }
    assert(ex.getMessage.contains("partition source"))
    // same-type replay: silent no-op, no metadata churn
    val t2 = cat.createTable("db.wn", StructType(Seq(StructField("id", LongType))))
    val vBefore = TableMeta.load(t2.dir)._1
    t2.widenColumn("id", LongType)
    assert(TableMeta.load(t2.dir)._1 === vBefore)
    // CREATE TABLE TBLPROPERTIES routes write.sort-order like ALTER does
    val c = freshCatalog(wh)
    spark.sql(
      s"""CREATE TABLE $c.db.ws (k BIGINT, v STRING)
          TBLPROPERTIES ('write.sort-order' = 'k')""")
    val ts = new GraftCatalog(wh).load("db.ws")
    assert(ts.meta.sortOrder.nonEmpty)
    // rename keeps the property naming a REAL column
    ts.renameColumn("k", "key")
    assert(ts.meta.allProperties("write.sort-order") === "key")
    ts.append(Seq((1L, "a")).toDF("key", "v")) // order still applies, no crash
    assert(ts.read(spark).count() === 1)
  }

  test("TBLPROPERTIES: stored at CREATE, SET/UNSET via ALTER, steer compaction") {
    val wh = Files.createTempDirectory("graft_wh")
    val c = freshCatalog(wh)
    new GraftCatalog(wh).createSchema("db")
    spark.sql(
      s"""CREATE TABLE $c.db.props (k BIGINT, v STRING)
          TBLPROPERTIES ('owner.team' = 'data-eng', 'comment.x' = 'demo')""")
    val t = new GraftCatalog(wh).load("db.props")
    assert(t.meta.allProperties === Map("owner.team" -> "data-eng", "comment.x" -> "demo"))
    val shown = spark.sql(s"SHOW TBLPROPERTIES $c.db.props").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown("owner.team") === "data-eng")
    assert(shown("format-version") === "2") // the reference's v2 pin
    spark.sql(s"ALTER TABLE $c.db.props SET TBLPROPERTIES ('owner.team' = 'ml')")
    spark.sql(s"ALTER TABLE $c.db.props UNSET TBLPROPERTIES ('comment.x')")
    assert(t.meta.allProperties === Map("owner.team" -> "ml"))
    // write.sort-order routes to the declared write order (SQL-only
    // WRITE ORDERED BY) and round-trips through SHOW TBLPROPERTIES
    spark.sql(s"ALTER TABLE $c.db.props SET TBLPROPERTIES ('write.sort-order' = 'k')")
    assert(t.meta.sortOrder.nonEmpty)
    spark.sql(s"ALTER TABLE $c.db.props UNSET TBLPROPERTIES ('write.sort-order')")
    assert(t.meta.sortOrder.isEmpty)
    // well-known key steers the default compaction policy
    import spark.implicits._
    (0 until 4).foreach(i =>
      t.append(((i * 500L) until ((i + 1) * 500L)).map(k => (k, s"v$k")).toDF("k", "v")))
    val total = t.meta.currentSnapshot.get.manifest.flatMap(_.sizeBytes).sum
    t.setProperties(Map("write.target-file-size-bytes" -> (total / 2 + 1).toString))
    t.rewriteDataFiles(spark) // no explicit target: property applies
    assert(t.meta.currentSnapshot.get.manifest.size === 2)
    assert(t.read(spark).count() === 2000)
  }

  test("SQL PARTITIONED BY maps the full transform family (bucket/truncate/months)") {
    val wh = Files.createTempDirectory("graft_wh")
    val c = freshCatalog(wh)
    new GraftCatalog(wh).createSchema("db")
    spark.sql(
      s"""CREATE TABLE $c.db.pt (id BIGINT, name STRING, ts TIMESTAMP)
          PARTITIONED BY (bucket(4, id), truncate(2, name), months(ts))""")
    val t = new GraftCatalog(wh).load("db.pt")
    assert(t.meta.partitionFields.map(_.transform).sorted ==
      Seq("bucket[4]", "months", "truncate[2]"))
    spark.sql(
      s"""INSERT INTO $c.db.pt VALUES
          (1, 'alpha', TIMESTAMP '2024-01-15 10:00:00'),
          (2, 'beta',  TIMESTAMP '2024-03-02 11:00:00')""")
    val fs = t.meta.currentSnapshot.get.manifest
    assert(fs.nonEmpty)
    assert(fs.forall(f => f.partitionValues.keySet ==
      Set("id_bucket4", "name_truncate2", "ts_months")))
    assert(spark.sql(s"SELECT * FROM $c.db.pt").count() == 2)
    // the catalog reports the spec back (DESCRIBE shows partitioning)
    val desc = spark.sql(s"DESCRIBE TABLE EXTENDED $c.db.pt").collect().map(_.mkString(" "))
    assert(desc.exists(_.contains("bucket(4, id)")), desc.mkString("\n"))
    assert(desc.exists(_.contains("months(ts)")), desc.mkString("\n"))
  }

  test("SQL count/min/max served from manifest metadata: zero data-file IO") {
    val (wh, t) = partitionedEvents()
    val c = freshCatalog(wh)
    val sql = s"""SELECT count(*) AS n, min(event_id) AS lo, max(event_id) AS hi,
                   min(value) AS vlo, max(value) AS vhi FROM $c.db.events"""
    val expect = t.read(spark).agg(
      count(lit(1)), min("event_id"), max("event_id"), min("value"), max("value")).head()
    val got = spark.sql(sql).head()
    assert(got.getLong(0) === expect.getLong(0))
    assert(got.getLong(1) === expect.getLong(1))
    assert(got.getLong(2) === expect.getLong(2))
    assert(got.getDouble(3) === expect.getDouble(3))
    assert(got.getDouble(4) === expect.getDouble(4))

    // the zero-IO proof: vaporize every data file; the aggregate still
    // answers (a scan-based plan would now throw)
    Files.walk(wh).iterator().forEachRemaining { p =>
      if (p.toString.endsWith(".parquet")) Files.delete(p)
    }
    assert(spark.sql(sql).head() === got)
  }

  test("aggregate pushdown refuses and falls back when semantics demand a scan") {
    val (wh, t) = partitionedEvents()
    val c = freshCatalog(wh)
    // a WHERE clause keeps a residual filter → no complete pushdown; the
    // scan path must still answer correctly
    val filtered = spark.sql(
      s"""SELECT count(*) FROM $c.db.events
          WHERE event_type = 'click'""").head().getLong(0)
    assert(filtered ===
      t.read(spark).filter(col("event_type") === "click").count())
    // avg is not meta-answerable → full scan path
    val avgGot = spark.sql(s"SELECT avg(value) FROM $c.db.events").head().getDouble(0)
    val avgExp = t.read(spark).agg(avg("value")).head().getDouble(0)
    assert(math.abs(avgGot - avgExp) < 1e-9)
    // a MoR delete makes manifest counts an overcount → must fall back
    t.deleteMoR(spark, col("event_type") === "click")
    val n = spark.sql(s"SELECT count(*) FROM $c.db.events").head().getLong(0)
    assert(n === t.read(spark).count())
  }

  test("catalog lists namespaces and tables; CREATE TABLE via SQL works") {
    val (wh, _) = partitionedEvents()
    val c = freshCatalog(wh)
    assert(spark.sql(s"SHOW NAMESPACES IN $c").collect().map(_.getString(0)).contains("db"))
    assert(spark.sql(s"SHOW TABLES IN $c.db").collect().map(_.getString(1)).contains("events"))
    spark.sql(s"CREATE TABLE $c.db.fresh (id BIGINT, name STRING)")
    val t2 = new GraftCatalog(wh).load("db.fresh")
    assert(t2.meta.currentSchema.map(_.name) === Seq("id", "name"))
  }

  test("write.delete.mode=merge-on-read routes SQL DELETE to a positional delete file") {
    val (wh, t) = partitionedEvents()
    val c = freshCatalog(wh)
    val before = t.read(spark).count()
    val nClicks = t.read(spark).filter(col("event_type") === "click").count()
    val filesBefore = t.meta.currentSnapshot.get.manifest.map(_.path).toSet
    spark.sql(s"ALTER TABLE $c.db.events SET TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql(s"DELETE FROM $c.db.events WHERE event_type = 'click'")
    val snap = t.meta.currentSnapshot.get
    // MoR: delete files present, NO data file rewritten
    assert(snap.allDeleteFiles.nonEmpty, "expected positional delete files")
    assert(snap.manifest.map(_.path).toSet === filesBefore, "MoR must not rewrite data files")
    assert(spark.sql(s"SELECT count(*) FROM $c.db.events").head().getLong(0) === before - nClicks)
    // back to default: CoW rewrites instead
    spark.sql(s"ALTER TABLE $c.db.events UNSET TBLPROPERTIES ('write.delete.mode')")
    spark.sql(s"DELETE FROM $c.db.events WHERE event_type = 'view'")
    val snap2 = t.meta.currentSnapshot.get
    assert(snap2.manifest.map(_.path).toSet !== filesBefore, "CoW should rewrite affected files")
  }

  test("write.update.mode=merge-on-read: SQL UPDATE appends updated copies + positional deletes, no rewrite") {
    val (wh, t) = partitionedEvents()
    val c = freshCatalog(wh)
    val filesBefore = t.meta.currentSnapshot.get.manifest.map(_.path).toSet
    val before = t.read(spark).count()
    val nClicks = t.read(spark).filter(col("event_type") === "click").count()
    assert(nClicks > 0)
    spark.sql(s"ALTER TABLE $c.db.events SET TBLPROPERTIES ('write.update.mode'='merge-on-read')")
    spark.sql(s"UPDATE $c.db.events SET value = value * 2, event_type = 'clicked' WHERE event_type = 'click'")
    val snap = t.meta.currentSnapshot.get
    // old files all still present (plus the appended update files)
    assert(filesBefore.subsetOf(snap.manifest.map(_.path).toSet), "MoR update must not rewrite")
    assert(snap.allDeleteFiles.nonEmpty, "expected positional deletes for the old row versions")
    // row count preserved; matched rows transformed exactly once
    assert(t.read(spark).count() === before)
    assert(t.read(spark).filter(col("event_type") === "click").count() === 0)
    assert(t.read(spark).filter(col("event_type") === "clicked").count() === nClicks)
    // time travel still sees the pre-update state
    assert(t.readVersion(spark, snap.parentId.get)
      .filter(col("event_type") === "click").count() === nClicks)
  }

  test("scan statistics reach join planning: small Graft table auto-broadcasts, no hint") {
    val (wh, _) = partitionedEvents()
    val c = freshCatalog(wh)
    // a big non-Graft side: plain parquet lineitem via temp view
    spark.read.parquet(s"$sfDir/lineitem.parquet").createOrReplaceTempView("li_stats_spec")
    def staticPlan(sql: String): String = {
      // AQE off: assert the STATIC choice — AQE can rescue a misplanned
      // SMJ at runtime, but only after the fact side's shuffle map ran
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val df = spark.sql(sql)
        df.collect()
        df.queryExecution.executedPlan.toString
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    val p = staticPlan(
      s"""SELECT e.event_type, count(*) AS n
          FROM li_stats_spec l JOIN $c.db.events e ON l.l_orderkey = e.user_id
          GROUP BY e.event_type""")
    // without GraftBroadcastStats the V1ScanWrapper hides scan stats ->
    // defaultSizeInBytes=Long.Max -> static SortMergeJoin of both sides
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the hint must respect the threshold: with broadcast disabled the
    // same query must NOT broadcast (rule defers to user config)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p2 = staticPlan(
        s"""SELECT e.event_type, count(*) AS n
            FROM li_stats_spec l JOIN $c.db.events e ON l.l_orderkey = e.user_id
            GROUP BY e.event_type""")
      assert(!p2.contains("BroadcastHashJoin"), p2)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("CALL rewrite_position_deletes folds files+DVs to ≤1 vector per file; content and CDC unchanged") {
    val wh = Files.createTempDirectory("graft_wh")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.t", StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))))
    import spark.implicits._
    def rows(r: Range) = r.map(i => (i.toLong, s"r$i")).toDF("k", "v")
    t.append(rows(0 until 100)); t.append(rows(100 until 200))
    // accumulate MoR delete state of BOTH flavors
    t.deleteMoR(spark, col("k") % 7 === 0)   // positional delete file(s)
    t.deleteMoR(spark, col("k") % 11 === 0)  // more positional files
    t.deleteMoRDv(spark, col("k") >= 190)    // deletion vectors
    val snap0 = t.meta.currentSnapshot.get
    assert(snap0.allDeleteFiles.nonEmpty && snap0.allDeleteVectors.nonEmpty)
    val contentBefore = t.read(spark).orderBy("k").collect()
    val cdcDeletesBefore = t.readChanges(spark, 0, t.meta.snapshots.size)
      .filter(col("_change_type") === "delete").count()

    val c = freshCatalog(wh)
    val out = spark.sql(s"CALL $c.system.rewrite_position_deletes('db.t')").head()
    assert(out.getLong(0) === (snap0.allDeleteFiles.size + snap0.allDeleteVectors.size).toLong)
    val snap1 = cat.load("db.t").meta.currentSnapshot.get
    // the v3 invariant restored: zero positional files, ≤1 vector per data file
    assert(snap1.allDeleteFiles.isEmpty)
    assert(snap1.allDeleteVectors.groupBy(_.dataPath).forall(_._2.size == 1))
    assert(snap1.manifest.map(_.path) === snap0.manifest.map(_.path), "data files untouched")
    // identical content
    assert(cat.load("db.t").read(spark).orderBy("k").collect() === contentBefore)
    // CDC: the fold commit reports NO row changes
    val t1 = cat.load("db.t")
    assert(t1.readChanges(spark, 0, t1.meta.snapshots.size)
      .filter(col("_change_type") === "delete").count() === cdcDeletesBefore)
    assert(t1.readChanges(spark, t1.meta.snapshots.size - 1, t1.meta.snapshots.size)
      .count() === 0L)
    // time travel still reads the pre-fold snapshot through its files
    assert(t1.readVersion(spark, snap0.snapshotId).orderBy("k").collect() === contentBefore)
    // a second CALL is a no-op (already folded)
    val again = spark.sql(s"CALL $c.system.rewrite_position_deletes('db.t')").head()
    assert(again.getLong(0) === again.getLong(1))
    // a later DV delete supersede-merges INTO the folded vectors
    t1.deleteMoRDv(spark, col("k") === 1L)
    val snap2 = t1.meta.currentSnapshot.get
    assert(snap2.allDeleteVectors.groupBy(_.dataPath).forall(_._2.size == 1))
    assert(t1.read(spark).filter(col("k") === 1L).count() === 0L)
  }

  test("fold ignores stale positional entries left behind by a CoW rewrite") {
    val wh = Files.createTempDirectory("graft_wh")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.t", StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))))
    import spark.implicits._
    t.append((0L until 100L).map(i => (i, s"r$i")).toDF("k", "v"))
    t.deleteMoR(spark, col("k") % 9 === 0) // positional entries against file A
    // CoW delete rewrites file A; the carried positional file now names
    // a path no current manifest contains (inert in reads)
    t.delete(spark, col("k") === 50L)
    assert(t.meta.currentSnapshot.get.allDeleteFiles.nonEmpty)
    val expect = t.read(spark).select("k").collect().map(_.getLong(0)).sorted
    t.rewritePositionDeletes(spark)
    val snap = t.meta.currentSnapshot.get
    val live = snap.manifest.map(_.path).toSet
    assert(snap.allDeleteFiles.isEmpty)
    assert(snap.allDeleteVectors.forall(d => live.contains(d.dataPath)),
      "a stale positional entry must never materialize as a phantom vector")
    assert(t.read(spark).select("k").collect().map(_.getLong(0)).sorted === expect)
  }

  // ----------------------------------------------------------- SQL views

  private def viewFixture() = {
    val (wh, t) = partitionedEvents()
    val c = freshCatalog(wh)
    (wh, t, c)
  }

  test("CREATE VIEW persists; SELECT through the view == the underlying query") {
    val (_, _, c) = viewFixture()
    spark.sql(s"""CREATE VIEW $c.db.v_daily AS
      SELECT CAST(ts AS DATE) AS day, count(*) AS n, sum(value) AS total
      FROM $c.db.events GROUP BY CAST(ts AS DATE)""")
    val viaView = spark.sql(s"SELECT * FROM $c.db.v_daily ORDER BY day").collect()
    val direct = spark.sql(
      s"""SELECT CAST(ts AS DATE) AS day, count(*) AS n, sum(value) AS total
          FROM $c.db.events GROUP BY CAST(ts AS DATE) ORDER BY day""").collect()
    assert(viaView.nonEmpty)
    assert(viaView === direct)
    // SHOW VIEWS lists it; listTables does NOT (a view is not a table)
    assert(spark.sql(s"SHOW VIEWS IN $c.db").collect()
      .map(_.getString(1)).contains("v_daily"))
    assert(!spark.sql(s"SHOW TABLES IN $c.db").collect()
      .map(_.getString(1)).contains("v_daily"))
  }

  test("OR REPLACE swaps the definition; IF NOT EXISTS no-ops; bare duplicate fails") {
    val (_, _, c) = viewFixture()
    spark.sql(s"CREATE VIEW $c.db.v_n AS SELECT count(*) AS n FROM $c.db.events")
    val n0 = spark.sql(s"SELECT n FROM $c.db.v_n").head().getLong(0)
    spark.sql(s"CREATE OR REPLACE VIEW $c.db.v_n AS " +
      s"SELECT count(*) AS n FROM $c.db.events WHERE value > 1e18")
    assert(spark.sql(s"SELECT n FROM $c.db.v_n").head().getLong(0) === 0L)
    spark.sql(s"CREATE VIEW IF NOT EXISTS $c.db.v_n AS SELECT 1 AS n") // no-op
    assert(spark.sql(s"SELECT n FROM $c.db.v_n").head().getLong(0) === 0L)
    intercept[Exception] {
      spark.sql(s"CREATE VIEW $c.db.v_n AS SELECT 2 AS n")
    }
    assert(n0 > 0L)
  }

  test("DROP VIEW removes it; IF EXISTS tolerates absence; read after drop fails") {
    val (_, _, c) = viewFixture()
    spark.sql(s"CREATE VIEW $c.db.v_gone AS SELECT count(*) AS n FROM $c.db.events")
    spark.sql(s"DROP VIEW $c.db.v_gone")
    intercept[Exception] { spark.sql(s"SELECT * FROM $c.db.v_gone").collect() }
    spark.sql(s"DROP VIEW IF EXISTS $c.db.v_gone") // silent
    intercept[Exception] { spark.sql(s"DROP VIEW $c.db.v_gone") }
  }

  test("rename-safety: renaming a referenced column fails the read LOUDLY; ALTER AS heals") {
    val (_, t, c) = viewFixture()
    spark.sql(s"""CREATE VIEW $c.db.v_vals AS
      SELECT event_id, value FROM $c.db.events""")
    assert(spark.sql(s"SELECT * FROM $c.db.v_vals").count() > 0)
    t.renameColumn("value", "metric")
    // late-binding contract: the view must FAIL, never silently misread
    val e = intercept[Exception] { spark.sql(s"SELECT * FROM $c.db.v_vals").collect() }
    assert(e.getMessage.contains("value"), e.getMessage)
    spark.sql(s"ALTER VIEW $c.db.v_vals AS SELECT event_id, metric FROM $c.db.events")
    assert(spark.sql(s"SELECT * FROM $c.db.v_vals").count() > 0)
  }

  test("nested views expand; a REPLACE-created cycle fails loudly") {
    val (_, _, c) = viewFixture()
    spark.sql(s"CREATE VIEW $c.db.v_base AS SELECT event_id, value FROM $c.db.events")
    spark.sql(s"CREATE VIEW $c.db.v_top AS SELECT count(*) AS n FROM $c.db.v_base WHERE value >= 0")
    assert(spark.sql(s"SELECT n FROM $c.db.v_top").head().getLong(0) > 0)
    // cycle: v_base now references v_top
    spark.sql(s"CREATE OR REPLACE VIEW $c.db.v_base AS SELECT 1L AS event_id, CAST(n AS DOUBLE) AS value FROM $c.db.v_top")
    val e = intercept[Exception] { spark.sql(s"SELECT * FROM $c.db.v_top").collect() }
    assert(e.getMessage.toLowerCase.contains("recursive"), e.getMessage)
  }

  test("views and tables cannot shadow each other; rename keeps identities") {
    val (wh, _, c) = viewFixture()
    intercept[Exception] { // view over existing table name
      spark.sql(s"CREATE VIEW $c.db.events AS SELECT 1 AS x")
    }
    spark.sql(s"CREATE VIEW $c.db.v_r AS SELECT count(*) AS n FROM $c.db.events")
    intercept[Exception] { // table over existing view name
      spark.sql(s"CREATE TABLE $c.db.v_r (x BIGINT) USING graft")
    }
    // the COMMON rename spelling: a bare target name (same namespace)
    spark.sql(s"ALTER VIEW $c.db.v_r RENAME TO v_r2")
    assert(spark.sql(s"SELECT n FROM $c.db.v_r2").head().getLong(0) > 0)
    intercept[Exception] { spark.sql(s"SELECT n FROM $c.db.v_r").collect() }
    // persisted: a FRESH catalog handle over the same warehouse sees it
    val cat2 = new GraftCatalog(wh)
    assert(cat2.viewExists("db.v_r2"))
    assert(cat2.loadView("db.v_r2").get.sql.toLowerCase.contains("count"))
  }

  test("view bodies keep their CTEs and subquery table refs across sessions/context") {
    val (_, _, c) = viewFixture()
    // CTE: 'recent' must stay a CTE binding, never be qualified into a
    // (possibly existing!) table of the same name
    spark.sql(s"CREATE TABLE $c.db.recent (event_id BIGINT, value DOUBLE) USING graft")
    spark.sql(s"INSERT INTO $c.db.recent VALUES (999999999, -1.0)")
    spark.sql(
      s"""CREATE VIEW $c.db.v_cte AS
          WITH recent AS (SELECT event_id, value FROM $c.db.events WHERE value >= 0)
          SELECT count(*) AS n, min(value) AS mn FROM recent""")
    val r = spark.sql(s"SELECT n, mn FROM $c.db.v_cte").head()
    assert(r.getLong(0) > 0)
    assert(r.getDouble(1) >= 0.0, "view read the decoy TABLE named like its CTE")
    // subquery expression: BARE refs inside IN(...) must resolve in the
    // CREATION context (current catalog captured at CREATE) even when
    // the reader's context differs
    spark.sql(s"USE $c.db")
    try spark.sql(
      """CREATE VIEW v_subq AS
         SELECT count(*) AS n FROM events
         WHERE user_id IN (SELECT user_id FROM events WHERE value > 0)""")
    finally spark.sql("USE spark_catalog.default")
    // read from a session whose current catalog is NOT the view's —
    // both the outer and the IN-subquery ref must bind to cat.db.events
    assert(spark.sql(s"SELECT n FROM $c.db.v_subq").head().getLong(0) > 0)
  }

  test("ViewCatalog connector API: create/load/alter/drop round-trip") {
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewCatalog, ViewChange, ViewInfo}
    val (wh, _, _) = viewFixture()
    val plugin = new GraftCatalogPlugin
    plugin.initialize("vapi", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh.toString)))
    val vc: ViewCatalog = plugin
    val ident = Identifier.of(Array("db"), "v_api")
    val schema = StructType(Seq(StructField("n", LongType)))
    vc.createView(new ViewInfo(ident, "SELECT count(*) AS n FROM db.events",
      "vapi", Array("db"), schema, Array("n"), Array.empty, Array.empty,
      java.util.Map.of("comment", "api view", "k", "v1")))
    assert(vc.viewExists(ident))
    val v = vc.loadView(ident)
    assert(v.query().contains("count"))
    assert(v.schema().fieldNames.toSeq === Seq("n"))
    assert(v.properties().get("k") === "v1")
    assert(v.properties().get("comment") === "api view")
    vc.alterView(ident, ViewChange.setProperty("k", "v2"))
    assert(vc.loadView(ident).properties().get("k") === "v2")
    assert(vc.listViews("db").map(_.name()).contains("v_api"))
    assert(vc.dropView(ident))
    assert(!vc.viewExists(ident))
  }

  test("SHOW CREATE VIEW round-trips comment + TBLPROPERTIES through CreateRe") {
    val (_, _, c) = viewFixture()
    spark.sql(s"""CREATE VIEW $c.db.v_doc
      COMMENT 'docs view'
      TBLPROPERTIES ('owner' = 'graft', 'tier' = 'gold')
      AS SELECT count(*) AS n FROM $c.db.events""")
    val stmt = spark.sql(s"SHOW CREATE VIEW $c.db.v_doc").collect()(0).getString(0)
    assert(stmt.contains(s"CREATE VIEW $c.db.v_doc"))
    assert(stmt.contains("COMMENT 'docs view'"))
    assert(stmt.contains("'owner' = 'graft'") && stmt.contains("'tier' = 'gold'"))
    // the emitted statement must RE-RUN (round-trip contract)
    spark.sql(s"DROP VIEW $c.db.v_doc")
    spark.sql(stmt)
    assert(spark.sql(s"SELECT n FROM $c.db.v_doc").collect()(0).getLong(0) > 0)
    val again = spark.sql(s"SHOW CREATE VIEW $c.db.v_doc").collect()(0).getString(0)
    assert(again === stmt, "SHOW CREATE VIEW is not a fixed point")
  }

  test("SHOW CREATE VIEW escapes quotes and parenthesized values (ADVICE r14)") {
    val (_, _, c) = viewFixture()
    // comment with an embedded quote; property value with ')' AND a quote
    spark.sql(s"""CREATE VIEW $c.db.v_esc
      COMMENT 'don''t break'
      TBLPROPERTIES ('note' = 'a)b', 'q' = 'it''s (fine)')
      AS SELECT count(*) AS n FROM $c.db.events""")
    val cat = graft.spark.GraftViewSql.pluginOf(spark, c).graftCatalog
    assert(cat.loadView("db.v_esc").get.comment.contains("don't break"))
    assert(cat.loadView("db.v_esc").get.allProperties ===
      Map("note" -> "a)b", "q" -> "it's (fine)"))
    // ALTER SET with a quoted ')' value must survive the quote-aware list
    spark.sql(s"ALTER VIEW $c.db.v_esc SET TBLPROPERTIES ('r' = 'x)y''z')")
    assert(cat.loadView("db.v_esc").get.allProperties("r") === "x)y'z")
    val stmt = spark.sql(s"SHOW CREATE VIEW $c.db.v_esc").collect()(0).getString(0)
    assert(stmt.contains("COMMENT 'don''t break'"), stmt)
    assert(stmt.contains("'q' = 'it''s (fine)'"), stmt)
    // and the emitted statement round-trips to the SAME stored state
    spark.sql(s"DROP VIEW $c.db.v_esc")
    spark.sql(stmt)
    assert(cat.loadView("db.v_esc").get.comment.contains("don't break"))
    assert(cat.loadView("db.v_esc").get.allProperties ===
      Map("note" -> "a)b", "q" -> "it's (fine)", "r" -> "x)y'z"))
    val again = spark.sql(s"SHOW CREATE VIEW $c.db.v_esc").collect()(0).getString(0)
    assert(again === stmt, "SHOW CREATE VIEW is not a fixed point")
  }

  test("ALTER VIEW SET/UNSET TBLPROPERTIES: metadata-only, body untouched") {
    val (_, _, c) = viewFixture()
    spark.sql(s"CREATE VIEW $c.db.v_props AS SELECT count(*) AS n FROM $c.db.events")
    spark.sql(s"ALTER VIEW $c.db.v_props SET TBLPROPERTIES ('a' = '1', 'b' = '2')")
    spark.sql(s"ALTER VIEW $c.db.v_props SET TBLPROPERTIES ('a' = '9')") // overwrite
    val cat = graft.spark.GraftViewSql.pluginOf(spark, c).graftCatalog
    assert(cat.loadView("db.v_props").get.allProperties === Map("a" -> "9", "b" -> "2"))
    spark.sql(s"ALTER VIEW $c.db.v_props UNSET TBLPROPERTIES ('b')")
    assert(cat.loadView("db.v_props").get.allProperties === Map("a" -> "9"))
    // missing key: loud without IF EXISTS, silent with
    intercept[Exception] {
      spark.sql(s"ALTER VIEW $c.db.v_props UNSET TBLPROPERTIES ('nope')")
    }
    spark.sql(s"ALTER VIEW $c.db.v_props UNSET TBLPROPERTIES IF EXISTS ('nope')")
    // the view still reads after all the metadata churn
    assert(spark.sql(s"SELECT n FROM $c.db.v_props").collect()(0).getLong(0) > 0)
  }

  test("CREATE VIEW rejects a command body WITHOUT executing it") {
    val (_, _, c) = viewFixture()
    val before = spark.sql(s"SELECT count(*) FROM $c.db.events").collect()(0).getLong(0)
    // a DML/command body must fail at CREATE time — spark.sql'ing it for
    // schema capture would RUN it (here: a DELETE wiping the table)
    val e = intercept[Exception] {
      spark.sql(s"CREATE VIEW $c.db.v_evil AS DELETE FROM $c.db.events")
    }
    assert(e.getMessage.contains("must be a query"))
    assert(spark.sql(s"SELECT count(*) FROM $c.db.events").collect()(0).getLong(0)
      === before, "view-body analysis EXECUTED the command")
    assert(spark.sql(s"SHOW VIEWS IN $c.db").collect()
      .forall(_.getString(1) != "v_evil"))
    intercept[Exception] { // same guard on ALTER VIEW ... AS
      spark.sql(s"CREATE VIEW $c.db.v_ok AS SELECT 1 AS x")
      spark.sql(s"ALTER VIEW $c.db.v_ok AS DROP TABLE $c.db.events")
    }
    assert(spark.sql(s"SELECT count(*) FROM $c.db.events").collect()(0).getLong(0)
      === before)
  }
}
