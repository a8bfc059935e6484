package graft.table

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.table.GraftIO.RichHPath
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{And, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._

/** The reference's manual walkthrough (README.md sessions 3–7) replayed as
  * assertions — SURVEY.md §5.2. The `pedidos` fixture mirrors the
  * reference schema (README.md:167-174) including DECIMAL(10,2). */
class TableSpec extends SparkTestBase {

  private def newCatalog(): GraftCatalog =
    new GraftCatalog(Files.createTempDirectory("graft_wh"))

  private val pedidosSchema = StructType(Seq(
    StructField("id_pedido", StringType),
    StructField("produto", StringType),
    StructField("valor", DecimalType(10, 2)),
    StructField("quantidade", IntegerType),
    StructField("data_criacao", TimestampType),
    StructField("uf", StringType)))

  private def pedidosDf: DataFrame = {
    val rows = Seq(
      ("p1", "teclado", BigDecimal("199.90"), 1, Timestamp.valueOf("2024-05-10 10:00:00"), "SP"),
      ("p2", "mouse", BigDecimal("89.90"), 2, Timestamp.valueOf("2024-05-10 11:00:00"), "RJ"),
      ("p3", "monitor", BigDecimal("899.00"), 1, Timestamp.valueOf("2024-05-11 09:30:00"), "SP"),
      ("p4", "cabo", BigDecimal("19.90"), 3, Timestamp.valueOf("2024-05-12 14:00:00"), "MG"),
      ("p5", "hub", BigDecimal("59.90"), 1, Timestamp.valueOf("2024-05-13 16:45:00"), "BA"))
    spark.createDataFrame(rows.map(r =>
      Row(r._1, r._2, r._3.bigDecimal, r._4, r._5, r._6)).asJava(), pedidosSchema)
  }

  private implicit class SeqRowOps[A](s: Seq[A]) {
    def asJava(): java.util.List[A] = {
      val l = new java.util.ArrayList[A](); s.foreach(l.add); l
    }
  }

  /** Pushed-filter form of `lo <= c <= hi`. */
  private def between(c: String, lo: Any, hi: Any) =
    Seq(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))

  /** Pushed-filter form of "`c` falls on `day`" (session time zone). */
  private def onDay(c: String, day: String) = {
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val start = java.time.LocalDate.parse(day).atStartOfDay(zone)
    Seq(GreaterThanOrEqual(c, start.toInstant), LessThan(c, start.plusDays(1).toInstant))
  }

  private def contentHash(df: DataFrame): Long =
    df.selectExpr("xxhash64(to_json(struct(*))) AS h")
      .agg(sum("h")).head().getLong(0)

  test("create → insert → delete(SP) → history → time travel (the README 'magic')") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.pedidos", pedidosSchema)

    t.append(pedidosDf) // snapshot 1 (README.md:199-208)
    assert(t.read(spark).count() === 5)

    t.delete(spark, col("uf") === "SP") // snapshot 2 (README.md:231)
    val after = t.read(spark)
    assert(after.count() === 3)
    assert(after.filter(col("uf") === "SP").count() === 0)

    // history shows both snapshots (README.md:245-248)
    val hist = t.history(spark).orderBy("snapshot_id").collect()
    assert(hist.map(_.getAs[String]("operation")).toSeq === Seq("append", "delete"))

    // time travel: SP rows visible again at snapshot 1 (README.md:258)
    val v1 = t.readVersion(spark, 1)
    assert(v1.count() === 5)
    assert(v1.filter(col("uf") === "SP").count() === 2)
  }

  test("delete keeps rows where the predicate is NULL") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.nulls", pedidosSchema)
    t.append(pedidosDf.withColumn("uf",
      when(col("id_pedido") === "p4", lit(null).cast(StringType)).otherwise(col("uf"))))
    t.delete(spark, col("uf") === "SP")
    val remaining = t.read(spark).select("id_pedido").collect().map(_.getString(0)).toSet
    assert(remaining === Set("p2", "p4", "p5")) // p4 (null uf) survives
  }

  test("add column reads NULL for old rows; rename is metadata-only (column ids)") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.evolve", pedidosSchema)
    t.append(pedidosDf)

    t.addColumn("status", StringType) // README.md:269
    val withStatus = t.read(spark)
    assert(withStatus.columns.contains("status"))
    assert(withStatus.filter(col("status").isNull).count() === 5) // README.md:273-276

    t.renameColumn("uf", "estado") // README.md:282
    val renamed = t.read(spark)
    assert(renamed.columns.contains("estado") && !renamed.columns.contains("uf"))
    // data survives rename — resolved by column id, not name (README.md:289)
    assert(renamed.filter(col("estado") === "SP").count() === 2)

    // new writes under the evolved schema coexist with old files
    val extra = pedidosDf
      .withColumn("status", lit("NOVO"))
      .withColumnRenamed("uf", "estado")
      .filter(col("id_pedido") === "p1")
    t.append(extra)
    val all = t.read(spark)
    assert(all.count() === 6)
    assert(all.filter(col("status") === "NOVO").count() === 1)
  }

  test("hidden partitioning: writes cluster by days(), reads prune files (README.md:304-307)") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.part", pedidosSchema, partitionDays = Some("data_criacao"))
    t.append(pedidosDf)

    val m = t.meta
    val manifest = m.currentSnapshot.get.manifest
    // 4 distinct days → at least 4 files, each with a recorded day value
    assert(manifest.forall(_.partitionValues.contains("data_criacao_day")))
    assert(manifest.map(_.partitionValues("data_criacao_day")).distinct.size === 4)

    val may10 = onDay("data_criacao", "2024-05-10")
    val pruned = t.planFilters(m, may10)
    assert(pruned.size < manifest.size)
    // day values prune with a ±1-day timezone margin
    assert(pruned.exists(_.partitionValues("data_criacao_day") == "2024-05-10"))
    assert(pruned.forall(f => Set("2024-05-09", "2024-05-10", "2024-05-11")
      .contains(f.partitionValues("data_criacao_day"))))

    val day = t.readPruned(spark, may10).filter(to_date(col("data_criacao")) === "2024-05-10")
    assert(day.count() === 2)
    // pruning is only an optimization: result equals a plain filter
    val plain = t.read(spark).filter(to_date(col("data_criacao")) === "2024-05-10")
    assert(day.collect().toSet === plain.collect().toSet)
  }

  test("partition field added later: old files stay readable and unpruned") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.latepart", pedidosSchema)
    t.append(pedidosDf) // unpartitioned files
    t.addPartitionField("data_criacao") // README.md:304
    t.append(pedidosDf.filter(col("id_pedido") === "p1")) // partitioned file

    val m = t.meta
    val may10 = onDay("data_criacao", "2024-05-10")
    val manifest = m.currentSnapshot.get.manifest
    val pruned = t.planFilters(m, may10)
    // the new 05-10 file is kept by its day value; old files have none,
    // so only their min/max stats may drop them: every file holding a
    // 05-10 row is kept, old ones included
    def holdsMay10(f: DataFile): Boolean =
      spark.read.parquet(t.localDir.resolve(f.path).toString)
        .filter(to_date(col("data_criacao")) === "2024-05-10").count() > 0
    val holding = manifest.filter(holdsMay10)
    assert(holding.exists(!_.partitionValues.contains("data_criacao_day")))
    assert(holding.exists(_.partitionValues.get("data_criacao_day").contains("2024-05-10")))
    assert(holding.forall(pruned.contains))
    assert(t.readPruned(spark, may10)
      .filter(to_date(col("data_criacao")) === "2024-05-10").count() === 3)
  }

  test("expire_snapshots GCs orphaned files; rewrite_data_files compacts losslessly") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.maint", pedidosSchema)
    t.append(pedidosDf)
    t.append(pedidosDf) // 2 snapshots, 10 rows
    t.delete(spark, col("uf") === "MG") // snapshot 3, 8 rows

    val before = contentHash(t.read(spark))
    val filesBefore = t.meta.currentSnapshot.get.manifest.size

    t.rewriteDataFiles(spark, targetFiles = 1) // README.md:328
    assert(t.meta.currentSnapshot.get.manifest.size === 1)
    assert(t.meta.currentSnapshot.get.manifest.size < filesBefore)
    assert(contentHash(t.read(spark)) === before) // logical content unchanged

    // expire everything but the latest; old versions become unreadable and
    // their exclusive files are deleted from disk (README.md:319-322)
    val dataDir = t.localDir.resolve("data")
    def parquetCount: Long = {
      val w = Files.walk(dataDir)
      try w.filter(p => p.toString.endsWith(".parquet")).count()
      finally w.close()
    }
    val nFilesDisk = parquetCount
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    assert(t.meta.snapshots.size === 1)
    assert(parquetCount < nFilesDisk)
    assert(contentHash(t.read(spark)) === before) // current still intact
    intercept[IllegalArgumentException](t.readVersion(spark, 1))
  }

  test("sorted compaction produces disjoint per-file key ranges") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.sorted", pedidosSchema)
    t.append(pedidosDf)
    t.append(pedidosDf.withColumn("valor", col("valor") + 1000))
    t.rewriteDataFiles(spark, targetFiles = 2, sortBy = Seq("valor"))
    val files = t.meta.currentSnapshot.get.manifest
    assert(files.size === 2)
    val ranges = files.map { f =>
      val df = spark.read.parquet(t.localDir.resolve(f.path).toString)
      val r = df.agg(min("valor"), max("valor")).head()
      (r.getDecimal(0), r.getDecimal(1))
    }.sortBy(_._1)
    // clustering: max of file i < min of file i+1
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi.compareTo(lo) < 0, s"$hi !< $lo")
      case _ =>
    }
  }

  test("min/max stats skip files after sorted compaction; result equals plain filter") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.skip", pedidosSchema)
    t.append(pedidosDf)
    t.append(pedidosDf.withColumn("valor", col("valor") + 1000))
    t.rewriteDataFiles(spark, targetFiles = 2, sortBy = Seq("valor"))

    val m = t.meta
    assert(m.currentSnapshot.get.manifest.forall(_.stats.exists(_.contains("valor"))))
    val range = between("valor", new java.math.BigDecimal(1000), new java.math.BigDecimal(2000))
    val pruned = t.planFilters(m, range)
    assert(pruned.size === 1, s"expected 1 of 2 files, got ${pruned.size}")

    val viaStats = t.readPruned(spark, range)
      .filter(col("valor") >= 1000 && col("valor") <= 2000)
    val plain = t.read(spark).filter(col("valor") >= 1000 && col("valor") <= 2000)
    assert(viaStats.collect().toSet === plain.collect().toSet)
    assert(viaStats.count() === 5)
  }

  test("planFilters checks each conjunct's bound on its own (numeric order, not string)") {
    import spark.implicits._
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.conj", StructType(Seq(StructField("k", LongType))))
    t.append((1L to 9L).toDF("k").coalesce(1))
    t.append((10L to 20L).toDF("k").coalesce(1))
    val m = t.meta
    val files = m.currentSnapshot.get.manifest
    assert(files.size === 2)
    val high = files.filter(_.stats.flatMap(_.get("k")).exists(_.min == "10"))
    // "9" >= "10" as strings: a string-order intersection kept lo = 9
    // and with it the file whose max is 9
    assert(t.planFilters(m, Seq(GreaterThanOrEqual("k", 9L), GreaterThanOrEqual("k", 10L))) === high)
    assert(t.planFilters(m, Seq(And(GreaterThanOrEqual("k", 10L), GreaterThanOrEqual("k", 9L)))) === high)
    assert(t.planFilters(m, Seq(LessThanOrEqual("k", 10L), LessThanOrEqual("k", 9L)))
      .map(_.path) === files.filterNot(high.contains).map(_.path))
    val got = t.readPruned(spark, Seq(GreaterThanOrEqual("k", 9L), GreaterThanOrEqual("k", 10L)))
      .filter(col("k") >= 10).as[Long].collect().sorted.toSeq
    assert(got === (10L to 20L))
  }

  test("overwrite replaces visible content; prior snapshots still travel") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.ow", pedidosSchema)
    t.append(pedidosDf)
    t.overwrite(pedidosDf.filter(col("uf") === "SP"))
    assert(t.read(spark).count() === 2)
    assert(t.readVersion(spark, 1).count() === 5)
    assert(t.history(spark).filter(col("operation") === "overwrite").count() === 1)
  }

  test("row-level UPDATE (CoW): assignment applies, old snapshot untouched") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.upd", pedidosSchema)
    t.append(pedidosDf) // snapshot 1
    t.update(spark, col("uf") === "SP", Map("quantidade" -> lit(99))) // snapshot 2
    val cur = t.read(spark)
    assert(cur.count() === 5)
    assert(cur.filter(col("quantidade") === 99).count() === 2) // exactly the SP rows
    assert(cur.filter(col("uf") === "SP" && col("quantidade") =!= 99).count() === 0)
    // non-matching rows byte-identical
    assert(cur.filter(col("uf") =!= "SP").orderBy("id_pedido").collect() ===
      pedidosDf.filter(col("uf") =!= "SP").orderBy("id_pedido").collect())
    // time travel: the pre-update snapshot still shows original values
    assert(t.readVersion(spark, 1).filter(col("quantidade") === 99).count() === 0)
    assert(t.meta.snapshot(2).operation === "update")
  }

  test("MERGE upsert: matched keys replaced, new keys inserted, rest untouched") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.mrg", pedidosSchema)
    t.append(pedidosDf) // snapshot 1
    val src = spark.createDataFrame(Seq(
      Row("p1", "teclado-v2", BigDecimal("150.00").bigDecimal, 5,
        Timestamp.valueOf("2024-06-01 08:00:00"), "SP"),
      Row("p9", "webcam", BigDecimal("250.00").bigDecimal, 1,
        Timestamp.valueOf("2024-06-01 09:00:00"), "PR")).asJava(), pedidosSchema)
    t.merge(spark, src, "id_pedido") // snapshot 2
    val cur = t.read(spark)
    assert(cur.count() === 6)
    val p1 = cur.filter(col("id_pedido") === "p1").head()
    assert(p1.getString(1) === "teclado-v2")
    assert(p1.getInt(3) === 5)
    assert(cur.filter(col("id_pedido") === "p9").count() === 1)
    assert(cur.filter(col("id_pedido") === "p2").head().getString(1) === "mouse")
    // pre-merge snapshot intact (time travel)
    assert(t.readVersion(spark, 1).count() === 5)
    assert(t.readVersion(spark, 1).filter(col("id_pedido") === "p9").count() === 0)
  }

  test("MERGE upsert raises when two source rows match one target row") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.mrgdup", pedidosSchema)
    t.append(pedidosDf) // snapshot 1
    val p1 = pedidosDf.filter(col("id_pedido") === "p1")
    val e = intercept[Exception](t.merge(spark, p1.unionByName(p1), "id_pedido"))
    def causes(x: Throwable): Seq[Throwable] = if (x == null) Nil else x +: causes(x.getCause)
    assert(causes(e).exists(x => Option(x.getMessage).exists(_.contains("MERGE cardinality violation"))))
    assert(t.meta.snapshots.size === 1)
    assert(t.read(spark).count() === 5)
  }

  test("MERGE into an empty table is a plain insert") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.mrg0", pedidosSchema)
    t.merge(spark, pedidosDf, "id_pedido")
    assert(t.read(spark).count() === 5)
  }

  test("MoR delete: row disappears WITHOUT rewriting any data file") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.mor", pedidosSchema)
    t.append(pedidosDf) // snapshot 1
    val filesBefore = t.meta.currentSnapshot.get.manifest.map(_.path).toSet
    t.deleteMoR(spark, col("id_pedido") === "p3") // snapshot 2
    val snap2 = t.meta.currentSnapshot.get
    // the defining MoR property: data files untouched, one delete file
    assert(snap2.manifest.map(_.path).toSet === filesBefore)
    assert(snap2.allDeleteFiles.nonEmpty)
    val cur = t.read(spark)
    assert(cur.count() === 4)
    assert(cur.filter(col("id_pedido") === "p3").count() === 0)
    // time travel: snapshot 1 still sees the row
    assert(t.readVersion(spark, 1).filter(col("id_pedido") === "p3").count() === 1)
  }

  test("MoR deletes survive appends and never resurrect through CoW rewrites") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.mor2", pedidosSchema)
    t.append(pedidosDf)
    t.deleteMoR(spark, col("id_pedido") === "p1")
    // append keeps the delete applicable to old files
    val extra = pedidosDf.filter(col("id_pedido") === "p5")
      .withColumn("id_pedido", lit("p6"))
    t.append(extra)
    assert(t.read(spark).count() === 5) // 5 - 1 + 1
    assert(t.read(spark).filter(col("id_pedido") === "p1").count() === 0)
    // a CoW delete touching p1's file must NOT bring p1 back
    t.delete(spark, col("uf") === "RJ") // p2 shares the original file
    val cur = t.read(spark)
    assert(cur.filter(col("id_pedido") === "p1").count() === 0)
    assert(cur.filter(col("id_pedido") === "p2").count() === 0)
    assert(cur.count() === 4)
  }

  test("compaction folds MoR deletes in and clears the delete files") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.mor3", pedidosSchema)
    t.append(pedidosDf)
    t.deleteMoR(spark, col("valor") < 60) // p4 (19.90), p5 (59.90)
    assert(t.read(spark).count() === 3)
    t.rewriteDataFiles(spark, targetFiles = 1)
    val snap = t.meta.currentSnapshot.get
    assert(snap.allDeleteFiles.isEmpty)
    assert(t.read(spark).count() === 3)
    assert(t.read(spark).filter(col("valor") < 60).count() === 0)
  }

  test("expire GC deletes orphaned MoR delete files") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.mor4", pedidosSchema)
    t.append(pedidosDf)
    t.deleteMoR(spark, col("id_pedido") === "p2")
    val delPath = t.localDir.resolve(t.meta.currentSnapshot.get.allDeleteFiles.head.path)
    assert(Files.exists(delPath))
    t.rewriteDataFiles(spark, targetFiles = 1) // snapshot 3: no delete files
    t.expireSnapshots(olderThanMs = Long.MaxValue, retainLast = 1)
    assert(!Files.exists(delPath)) // orphaned delete file GC'd
    assert(t.read(spark).count() === 4)
  }

  test("declared write sort order: appends produce disjoint per-file ranges; rename-safe") {
    import spark.implicits._
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.sorted", StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))))
    t.setSortOrder(Seq("k"))
    // shuffled input: without the declared order each file would span
    // the whole key range and stats-pruning would keep everything
    val rows = scala.util.Random.shuffle((0L until 4000L).toList)
      .map(k => (k, s"v$k")).toDF("k", "v")
    // AQE coalesces this test-sized range shuffle to one partition (at
    // real scale partitions stay full) — pin it off to observe >1 file
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try t.append(rows)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    val files = t.meta.currentSnapshot.get.manifest
    assert(files.size > 1, "need several files to prove disjointness")
    val ranges = files.flatMap(_.stats.flatMap(_.get("k")))
      .map(r => (BigDecimal(r.min), BigDecimal(r.max))).sortBy(_._1)
    assert(ranges.size == files.size)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 < lo2, s"overlap: $ranges")
      case _ => ()
    }
    // pruning works from the first append — no compaction needed
    val pruned = t.planFilters(t.meta, between("k", 100L, 200L))
    assert(pruned.size < files.size)
    assert(t.read(spark).count() === 4000)
    // sort order is id-resolved: a rename keeps it working
    t.renameColumn("k", "key")
    t.append((4000L until 4100L).map(k => (k, s"v$k")).toDF("key", "v"))
    assert(t.read(spark).count() === 4100)
    val newFiles = t.meta.currentSnapshot.get.manifest.filter(_.seq.contains(2L))
    assert(newFiles.nonEmpty)
    assert(newFiles.flatMap(_.stats.flatMap(_.get("key"))).nonEmpty,
      "post-rename appends still record stats under the new name")
  }

  test("dynamic partition overwrite: only touched partitions swap; pre-spec files refuse") {
    import spark.implicits._
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.dyn", pedidosSchema, partitionDays = Some("data_criacao"))
    t.append(pedidosDf) // days 05-10(x2), 05-11, 05-12, 05-13
    val untouchedBefore = t.meta.currentSnapshot.get.manifest
      .filterNot(_.partitionValues.get("data_criacao_day").contains("2024-05-10"))
      .map(_.path).toSet
    // swap day 2024-05-10 (p1, p2) for a single replacement row
    val repl = pedidosDf.filter(col("id_pedido") === "p1")
      .withColumn("produto", lit("teclado-v2"))
    t.overwritePartitions(repl)
    val cur = t.read(spark)
    assert(cur.count() === 4) // 5 - 2 (day swapped out) + 1
    assert(cur.filter(col("id_pedido") === "p2").count() === 0)
    assert(cur.filter(col("produto") === "teclado-v2").count() === 1)
    // untouched partitions keep their exact files (no rewrite)
    val after = t.meta.currentSnapshot.get.manifest.map(_.path).toSet
    assert(untouchedBefore.subsetOf(after))
    // time travel still shows the pre-swap day
    assert(t.readVersion(spark, 1).count() === 5)
    // a pre-spec (unpartitioned-epoch) file blocks the swap with a clear error
    val t2 = cat.createTable("db.dyn2", pedidosSchema)
    t2.append(pedidosDf)
    t2.addPartitionField("data_criacao")
    val ex = intercept[IllegalArgumentException] { t2.overwritePartitions(repl) }
    assert(ex.getMessage.contains("rewriteDataFiles"))
  }

  test("manifest structural sharing: document growth is O(1) per append, chunks shared and GC'd") {
    import spark.implicits._
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.share", StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))))
    def docSize: Long = {
      val (v, _) = TableMeta.load(t.dir)
      Files.size(t.localDir.resolve("meta").resolve(s"v$v.json"))
    }
    def chunkFiles: Seq[java.nio.file.Path] = {
      val l = Files.list(t.localDir.resolve("meta"))
      try l.iterator().asScala.filter(_.getFileName.toString.startsWith("man-")).toVector
      finally l.close()
    }
    t.append(Seq((1L, "a")).toDF("k", "v"))
    val sizeAfter1 = docSize
    (2 to 12).foreach(i => t.append(Seq((i.toLong, "x")).toDF("k", "v")))
    val sizeAfter12 = docSize
    // inline manifests would repeat all prior files in every snapshot:
    // O(n^2) total. With chunk sharing the document only accumulates the
    // per-snapshot ref lists — each append adds ONE chunk file and a few
    // ref strings. Allow generous slack for the growing ref lists.
    assert(sizeAfter12 < sizeAfter1 * 12,
      s"document grew like inlined manifests: $sizeAfter1 -> $sizeAfter12")
    // structural sharing: 12 appends -> 12 delta chunks (one per commit)
    assert(chunkFiles.size === 12, s"got ${chunkFiles.size} chunks")
    // reads see all rows through the hydrated manifests
    assert(t.read(spark).count() === 12)
    assert(t.readVersion(spark, 6).count() === 6) // time travel hydrates too
    // expire drops old snapshots; their EXCLUSIVE chunks die, shared stay
    t.expireSnapshots(olderThanMs = Long.MaxValue, retainLast = 1)
    assert(t.read(spark).count() === 12)
    // the survivor references all 12 delta chunks (its manifest is the
    // full prefix chain), so nothing is GC'd here — but a compaction
    // rewrites to one chunkset and expire then drops the old chain
    t.rewriteDataFiles(spark, targetFiles = 1)
    t.expireSnapshots(olderThanMs = Long.MaxValue, retainLast = 1)
    assert(chunkFiles.size === 1, s"stale chunks survived: ${chunkFiles.size}")
    assert(t.read(spark).count() === 12)
    // orphan-chunk sweep: a stray chunk from a lost commit attempt dies
    val stray = t.localDir.resolve("meta").resolve("man-deadbeef.json")
    Files.writeString(stray, "[]")
    t.removeOrphanFiles(olderThanMs = Long.MaxValue)
    assert(!Files.exists(stray))
    assert(chunkFiles.size === 1)
  }

  test("rewrite_manifests: folds per-append delta chunks to one, metadata-only, history intact") {
    import spark.implicits._
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.rm", StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))))
    (1 to 8).foreach(i => t.append(Seq((i.toLong, "x")).toDF("k", "v")))
    def curRefs: Seq[String] =
      t.meta.currentSnapshot.flatMap(_.manifestRefs).getOrElse(Nil)
    assert(curRefs.size === 8) // one delta chunk per append
    val dataBefore = t.read(spark).as[(Long, String)].collect().sortBy(_._1).toSeq
    val filesBefore = t.meta.currentSnapshot.get.manifest.map(_.path)

    val (before, after) = t.rewriteManifests()
    assert(before === 8 && after === 1)
    assert(curRefs.size === 1)
    // pure metadata reorganization: same data files in the same order,
    // same rows, same snapshot id (no new snapshot — history untouched)
    assert(t.meta.currentSnapshot.get.manifest.map(_.path) === filesBefore)
    assert(t.read(spark).as[(Long, String)].collect().sortBy(_._1).toSeq === dataBefore)
    assert(t.meta.snapshots.size === 8)
    // older snapshots keep their own chunks: time travel still reads
    assert(t.readVersion(spark, 3).count() === 3)
    // appends after the rewrite extend the consolidated chunk list by
    // one delta (structural sharing resumes from the new base)
    t.append(Seq((9L, "x")).toDF("k", "v"))
    assert(curRefs.size === 2)
    assert(t.read(spark).count() === 9)
    // below min_input_chunks it is a pure no-op: no commit, no churn
    val (b2, a2) = t.rewriteManifests()
    assert((b2, a2) === (2, 1))
    val vAfter = TableMeta.load(t.dir)._1
    val (b3, a3) = t.rewriteManifests(minInputChunks = 2)
    assert((b3, a3) === (1, 1))
    assert(TableMeta.load(t.dir)._1 === vAfter)
    // the in-retry no-op path must not publish either: an update that
    // returns its input reference-equal skips the commit entirely
    val vNoop = TableMeta.commitRetry(t.dir)(identity)
    assert(vNoop === vAfter, "identity update published a version")
    assert(TableMeta.load(t.dir)._1 === vAfter)
    // and a consolidation losing its race must not strand chunk files:
    // every man-*.json on disk is referenced by some version document
    val metaDir = GraftIO.toNio(t.dir.resolve("meta"))
    val onDisk = Files.list(metaDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("man-")).toSet
    val live = (1 to vAfter).flatMap { v =>
      val doc = metaDir.resolve(s"v$v.json")
      if (Files.exists(doc)) TableMeta.readRefsOnly(GraftIO.fromNio(doc)) else Nil
    }.toSet
    assert(onDisk.subsetOf(live), s"stranded chunks: ${onDisk -- live}")
    // expire + orphan sweep after consolidation: the folded chunk chain
    // loses its last reference once old version docs are the only
    // mention — reads stay correct throughout
    t.expireSnapshots(olderThanMs = Long.MaxValue, retainLast = 1)
    assert(t.read(spark).count() === 9)
  }

  test("legacy metadata (no seq/sizes/eq-deletes/sort-order/properties) still parses and reads") {
    // a metadata document as round 1 wrote it — every field added since
    // must default, and absent per-file seq must read as 0 (older than
    // any equality delete)
    val legacy = """{
      "formatVersion": 2,
      "name": "db.legacy",
      "schemas": { "1": [
        { "id": 1, "name": "k", "dataType": "\"long\"" },
        { "id": 2, "name": "v", "dataType": "\"string\"" } ] },
      "currentSchemaId": 1,
      "lastColumnId": 2,
      "partitionFields": [],
      "snapshots": [ {
        "snapshotId": 1,
        "timestampMs": 1700000000000,
        "operation": "append",
        "manifest": [ { "path": "data/w-x/part-0.parquet", "rows": 5,
                        "schemaId": 1, "partitionValues": {} } ] } ],
      "currentSnapshotId": 1
    }"""
    val dir = Files.createTempDirectory("graft_legacy")
    Files.writeString(dir.resolve("m.json"), legacy)
    val m = TableMeta.read(graft.table.GraftIO.fromNio(dir.resolve("m.json")))
    assert(m.name === "db.legacy")
    val f = m.currentSnapshot.get.manifest.head
    assert(f.seq.isEmpty && f.sizeBytes.isEmpty && f.stats.isEmpty)
    assert(m.sortOrder.isEmpty && m.allProperties.isEmpty && m.allRefs.isEmpty)
    assert(m.currentSnapshot.get.allEqDeleteFiles.isEmpty)
    assert(m.publishedPrefix === 1)
  }

  test("size-based compaction: output file count from recorded manifest bytes") {
    import spark.implicits._
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.bin", StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))))
    // several small appends → several small files with recorded sizes
    (0 until 5).foreach(i =>
      t.append(((i * 1000L) until ((i + 1) * 1000L)).map(k => (k, s"v$k")).toDF("k", "v")))
    val files = t.meta.currentSnapshot.get.manifest
    assert(files.size >= 5)
    assert(files.forall(_.sizeBytes.exists(_ > 0)), "writes must record file sizes")
    val total = files.flatMap(_.sizeBytes).sum
    // target ≈ half the total → expect 2 output files (ceil(total/tgt))
    t.rewriteDataFiles(spark, targetSizeBytes = Some(total / 2 + 1))
    val after = t.meta.currentSnapshot.get.manifest
    assert(after.size == 2, s"expected 2 binpacked files, got ${after.size}")
    assert(t.read(spark).count() === 5000)
    // a huge target collapses to one file
    t.rewriteDataFiles(spark, targetSizeBytes = Some(Long.MaxValue / 2))
    assert(t.meta.currentSnapshot.get.manifest.size == 1)
  }

  test("equality delete: key rows disappear without reading or touching data files") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.eq", pedidosSchema)
    t.append(pedidosDf)
    val filesBefore = t.meta.currentSnapshot.get.manifest.map(_.path).toSet
    import spark.implicits._
    t.deleteMoREquality(spark, Seq("p2", "p4").toDF("id_pedido"))
    val snap = t.meta.currentSnapshot.get
    assert(snap.manifest.map(_.path).toSet === filesBefore) // no data rewrite
    assert(snap.allEqDeleteFiles.map(_.columns) === Seq(Seq("id_pedido")))
    val cur = t.read(spark)
    assert(cur.count() === 3)
    assert(cur.filter(col("id_pedido").isin("p2", "p4")).count() === 0)
    // time travel: snapshot 1 still sees both rows
    assert(t.readVersion(spark, 1).count() === 5)
  }

  test("equality delete sequence guard: later appends of the SAME key stay live") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.eq2", pedidosSchema)
    t.append(pedidosDf) // seq 1
    import spark.implicits._
    t.deleteMoREquality(spark, Seq("p1").toDF("id_pedido")) // seq 2
    assert(t.read(spark).filter(col("id_pedido") === "p1").count() === 0)
    // re-insert p1 AFTER the delete: the CDC-upsert pattern. The old
    // equality delete must not reach forward into the new file.
    t.append(pedidosDf.filter(col("id_pedido") === "p1")) // seq 3
    val cur = t.read(spark)
    assert(cur.filter(col("id_pedido") === "p1").count() === 1)
    assert(cur.count() === 5)
    // and rows in OLD files are still deleted (guard cuts one way only)
    t.deleteMoREquality(spark, Seq("p5").toDF("id_pedido"))
    assert(t.read(spark).filter(col("id_pedido") === "p5").count() === 0)
  }

  test("equality delete with multi-column keys; compaction folds and clears eq deletes") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.eq3", pedidosSchema)
    t.append(pedidosDf)
    import spark.implicits._
    // (produto, uf) composite key: matches exactly p1 (teclado, SP)
    t.deleteMoREquality(spark, Seq(("teclado", "SP")).toDF("produto", "uf"))
    assert(t.read(spark).count() === 4)
    assert(t.read(spark).filter(col("id_pedido") === "p1").count() === 0)
    t.rewriteDataFiles(spark, targetFiles = 1)
    val snap = t.meta.currentSnapshot.get
    assert(snap.allEqDeleteFiles.isEmpty) // folded + cleared
    assert(t.read(spark).count() === 4)
    // CoW rewrites must never resurrect an eq-deleted row
    t.delete(spark, col("uf") === "RJ")
    assert(t.read(spark).filter(col("id_pedido") === "p1").count() === 0)
  }

  test("equality delete survives a key-column rename (id-resolved); drop of a key column refuses") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.eqren", pedidosSchema)
    t.append(pedidosDf)
    import spark.implicits._
    t.deleteMoREquality(spark, Seq("p2").toDF("id_pedido"))
    assert(t.read(spark).count() === 4)
    // rename the KEY column while the delete is pending: reads must keep
    // applying it (ids, not names) — and must not crash
    t.renameColumn("id_pedido", "pedido_id")
    val cur = t.read(spark)
    assert(cur.count() === 4)
    assert(cur.filter(col("pedido_id") === "p2").count() === 0)
    // dropping a pending key column would make the delete unevaluable —
    // refused until a compaction folds it
    intercept[IllegalArgumentException] { t.dropColumn("pedido_id") }
    t.rewriteDataFiles(spark, targetFiles = 1)
    assert(t.meta.currentSnapshot.get.allEqDeleteFiles.isEmpty)
    t.dropColumn("pedido_id") // fine now
    assert(t.read(spark).count() === 4)
  }

  test("re-adding a partition field with a different parameter never mis-prunes old files") {
    import spark.implicits._
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.respec", StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))),
      partitionSpec = Seq("k" -> "bucket[4]"))
    t.append((0L until 64L).map(k => (k, s"v$k")).toDF("k", "v"))
    t.dropPartitionField("k")
    t.addPartitionField("k", "bucket[8]")
    t.append((64L until 128L).map(k => (k, s"v$k")).toDF("k", "v"))
    // distinct field names per parameter: bucket[8] pruning must treat
    // bucket[4]-era files as "no recorded value" (kept), not reinterpret
    // their values under the new modulus
    import org.apache.spark.sql.sources.EqualTo
    (0L until 64L).foreach { probe =>
      val got = t.readPruned(spark, Seq(EqualTo("k", probe)))
        .filter(col("k") === probe).count()
      assert(got === 1L, s"k=$probe lost by re-specced bucket pruning")
    }
  }

  test("equality delete files are GC'd by expire and emit exact rows in the changelog") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.eq4", pedidosSchema)
    t.append(pedidosDf) // snapshot 1
    import spark.implicits._
    t.deleteMoREquality(spark, Seq("p3").toDF("id_pedido")) // snapshot 2
    val edPath = t.localDir.resolve(t.meta.currentSnapshot.get.allEqDeleteFiles.head.path)
    assert(Files.exists(edPath))
    // changelog: snapshot 2 emits exactly the eq-deleted row as 'delete'
    val changes = t.readChanges(spark, 1, 2)
    assert(changes.count() === 1)
    val r = changes.head()
    assert(r.getAs[String]("id_pedido") === "p3")
    assert(r.getAs[String]("_change_type") === "delete")
    t.rewriteDataFiles(spark, targetFiles = 1) // snapshot 3, eq cleared
    t.expireSnapshots(olderThanMs = Long.MaxValue, retainLast = 1)
    assert(!Files.exists(edPath)) // orphaned eq delete file GC'd
    assert(t.read(spark).count() === 4)
  }

  test("changelog: an equality delete emits only rows the earlier positional delete and vector left") {
    import spark.implicits._
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.eqprior", pedidosSchema)
    t.append(pedidosDf) // snapshot 1: p1..p5
    t.deleteMoR(spark, col("id_pedido") === "p1") // 2: positional delete file
    t.deleteMoRDv(spark, col("id_pedido") === "p2") // 3: deletion vector
    t.deleteMoREquality(spark, Seq("p1", "p2", "p3").toDF("id_pedido")) // 4
    val last = t.meta.currentSnapshot.get
    assert(last.allDeleteFiles.nonEmpty && last.allDeleteVectors.nonEmpty &&
      last.allEqDeleteFiles.nonEmpty)
    def ids(df: DataFrame): Seq[String] =
      df.select("id_pedido").as[String].collect().sorted.toSeq
    val live = Seq(
      Seq("p1", "p2", "p3", "p4", "p5"), Seq("p2", "p3", "p4", "p5"),
      Seq("p3", "p4", "p5"), Seq("p4", "p5"))
    val snapIds = t.meta.snapshots.map(_.snapshotId)
    assert(snapIds.size === live.size)
    snapIds.zip(live).foreach { case (id, want) =>
      assert(ids(t.readVersion(spark, id)) === want, s"snapshot $id")
    }
    // snapshot 4's key file names p1 and p2 too, but they were dead
    // already: only p3 is a change of that commit
    val deletes = t.readChanges(spark, 1, 4).filter(col("_change_type") === "delete")
      .select("id_pedido", "_commit_snapshot_id").as[(String, Long)].collect().sorted.toSeq
    assert(deletes === Seq("p1", "p2", "p3").zip(snapIds.drop(1)))
  }

  test("concurrent commit is detected (atomic CREATE_NEW version file)") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.cc", pedidosSchema)
    val (v, m) = TableMeta.load(t.dir)
    TableMeta.commit(t.dir, v, m) // simulate another writer landing v2
    intercept[ConcurrentCommitException](TableMeta.commit(t.dir, v, m))
  }

  test("commit publishes atomically: only complete v*.json files visible, no staging debris") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.atomic", pedidosSchema)
    val (v, m) = TableMeta.load(t.dir)
    TableMeta.commit(t.dir, v, m)
    intercept[ConcurrentCommitException](TableMeta.commit(t.dir, v, m)) // loser
    val metaDir = t.localDir.resolve("meta")
    val listing = java.nio.file.Files.list(metaDir)
    val names = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.map(_.getFileName.toString).toSet
    } finally listing.close()
    // winner AND loser both staged through temp files; neither may leave
    // one behind (readers probe forward past the hint, so any v-prefixed
    // leftover in meta/ would be load()-visible forever)
    assert(names.forall(n => n.matches("v\\d+\\.json") || n == "version-hint.text"),
      s"unexpected staging debris in meta/: $names")
    // every version file present must parse — publication is all-or-nothing
    names.filter(_.matches("v\\d+\\.json")).foreach { n =>
      TableMeta.read(t.dir.resolve("meta").resolve(n))
    }
  }

  test("commitRetry: a loser reloads and reapplies — no lost update") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.retry", pedidosSchema)
    // both writers race from the SAME base version; commitRetry must land
    // both updates (the reference REST catalog's optimistic retry)
    var firstAttempt = true
    TableMeta.commitRetry(t.dir) { m =>
      if (firstAttempt) {
        firstAttempt = false
        // interleave: another writer lands a commit mid-flight
        val (v2, m2) = TableMeta.load(t.dir)
        TableMeta.commit(t.dir, v2, m2.copy(lastColumnId = m2.lastColumnId + 100))
      }
      m.copy(lastColumnId = m.lastColumnId + 1)
    }
    val (_, finalMeta) = TableMeta.load(t.dir)
    // base lastColumnId is schema size; both the +100 and the +1 landed
    assert(finalMeta.lastColumnId == pedidosSchema.size + 101)
  }

  test("incremental read surfaces exactly the second append's rows") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.inc", pedidosSchema)
    t.append(pedidosDf.limit(3))                                   // snapshot 1
    t.append(pedidosDf.filter(col("id_pedido") === "p4"))          // snapshot 2
    val delta = t.readIncremental(spark, 1, 2).collect()
    assert(delta.map(_.getString(0)).toSeq === Seq("p4"))
    // same-snapshot delta is empty; bad range rejected
    assert(t.readIncremental(spark, 2, 2).count() === 0)
    intercept[IllegalArgumentException](t.readIncremental(spark, 2, 1))
  }

  test("appendEvolve adds unseen columns, pads lagging producers, keeps plain append strict") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.ev", pedidosSchema)
    t.append(pedidosDf.limit(2))
    // new column arrives with the data → schema evolves, old rows read NULL
    t.appendEvolve(pedidosDf.filter(col("id_pedido") === "p3")
      .withColumn("canal", lit("web")))
    val afterAdd = t.read(spark).orderBy(col("id_pedido")).collect()
    assert(afterAdd.length === 3)
    assert(afterAdd.take(2).forall(_.isNullAt(6)) && afterAdd(2).getString(6) === "web")
    // lagging producer: frame WITHOUT the evolved column pads with NULL
    t.appendEvolve(pedidosDf.filter(col("id_pedido") === "p4"))
    val p4 = t.read(spark).filter(col("id_pedido") === "p4").collect()
    assert(p4.length === 1 && p4(0).isNullAt(6))
    // plain append stays strict: missing column is an error, not silence
    intercept[Exception](t.append(pedidosDf.filter(col("id_pedido") === "p5")))
  }

  test("remove_orphan_files deletes unreferenced debris, never live files") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.orph", pedidosSchema)
    t.append(pedidosDf)
    val before = t.read(spark).collect().toSet
    // plant debris: a fake crashed-write file under data/
    val stray = t.localDir.resolve("data").resolve("w-deadbeef").resolve("part-0.parquet")
    Files.createDirectories(stray.getParent)
    Files.write(stray, Array[Byte](1, 2, 3))
    // a too-recent cutoff protects the (possibly in-flight) stray
    assert(t.removeOrphanFiles(olderThanMs = 0L).isEmpty)
    assert(Files.exists(stray))
    // plant crashed-committer staging debris in meta/
    val tmpStage = t.localDir.resolve("meta").resolve("v9-crashed.json.tmp")
    Files.write(tmpStage, "{\"partial\":".getBytes)
    val removed = t.removeOrphanFiles(olderThanMs = Long.MaxValue)
    assert(removed.exists(_.contains("w-deadbeef")))
    assert(removed.exists(_.contains("v9-crashed.json.tmp")))
    assert(!Files.exists(stray) && !Files.exists(tmpStage))
    assert(t.read(spark).collect().toSet === before) // live data untouched
  }

  test("concurrent appends both land via retry (no lost snapshot)") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.app2", pedidosSchema)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val df1 = pedidosDf.limit(3)
    val df2 = pedidosDf.limit(2)
    val fs = Seq(Future(t.append(df1)), Future(t.append(df2)))
    Await.result(Future.sequence(fs), 120.seconds)
    assert(t.meta.snapshots.size == 2)
    assert(t.read(spark).count() == 5)
  }

  test("concurrent append + equality delete both land; the seq guard resolves the race") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.eqrace", pedidosSchema)
    t.append(pedidosDf) // snapshot 1: p1..p5
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // race: append a NEW row p6 while eq-deleting p3. Both retry through
    // commitRetry, so both must land in either order — and the OUTCOME
    // is order-independent: p3's snapshot-1 rows always die (seq 1 <
    // delete seq), and p6 always survives (append-after-delete → its seq
    // exceeds the delete's; delete-after-append → p6 is in scope but
    // doesn't match the key).
    val extra = pedidosDf.filter(col("id_pedido") === "p5")
      .withColumn("id_pedido", lit("p6"))
    val fs = Seq(
      Future(t.append(extra)),
      Future(t.deleteMoREquality(spark, Seq("p3").toDF("id_pedido"))))
    Await.result(Future.sequence(fs), 120.seconds)
    assert(t.meta.snapshots.size == 3)
    val cur = t.read(spark)
    assert(cur.count() === 5) // 5 - p3 + p6
    assert(cur.filter(col("id_pedido") === "p3").count() === 0)
    assert(cur.filter(col("id_pedido") === "p6").count() === 1)
  }

  test("add_files registers external parquet in place: no copy, stats harvested, guards hold") {
    val cat = newCatalog()
    cat.createSchema("db")
    val t = cat.createTable("db.ext", pedidosSchema)
    // plain Spark parquet, never touched by the Graft writer
    val srcDir = Files.createTempDirectory("addfiles_src")
    pedidosDf.coalesce(2).write.mode("overwrite").parquet(srcDir.toString)
    val added = t.addFiles(spark, srcDir)
    assert(added.map(_.rows).sum === 5)
    // rows readable and identical to the source
    val got = t.read(spark).orderBy("id_pedido").collect().map(_.getString(0)).toSeq
    assert(got === Seq("p1", "p2", "p3", "p4", "p5"))
    // in place: manifest points INTO srcDir (absolute), nothing copied
    assert(t.meta.currentSnapshot.get.manifest.forall(_.path.startsWith(srcDir.toString)))
    // footer stats harvested -> stats pruning live on day one
    val pruned = t.planFilters(t.meta, between("quantidade", 3, 9))
    assert(pruned.size < added.size, pruned.map(_.stats))
    // duplicate guard: re-registering the same directory refuses loudly
    // (Iceberg's check_duplicate_files) instead of silently doubling rows
    val dup = intercept[IllegalArgumentException](t.addFiles(spark, srcDir))
    assert(dup.getMessage.contains("already registered"))
    // per-file schema guard: a file missing a column refuses loudly even
    // when another file in the directory carries the full schema
    val mixDir = Files.createTempDirectory("addfiles_mix")
    pedidosDf.coalesce(1).write.mode("overwrite").parquet(mixDir.toString)
    val partial = Files.createTempDirectory("addfiles_partial")
    pedidosDf.drop("uf").coalesce(1).write.mode("overwrite").parquet(partial.toString)
    Files.list(partial).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.headOption.foreach(p =>
        Files.copy(p, mixDir.resolve("zz-drifted.parquet")))
    val mixErr = intercept[IllegalArgumentException] {
      val t3 = cat.createTable("db.ext_mix", pedidosSchema)
      t3.addFiles(spark, mixDir)
    }
    assert(mixErr.getMessage.contains("uf"), mixErr.getMessage)
    // schema guard: a file set missing a column refuses loudly
    val badDir = Files.createTempDirectory("addfiles_bad")
    pedidosDf.drop("uf").write.mode("overwrite").parquet(badDir.toString)
    val e = intercept[IllegalArgumentException](t.addFiles(spark, badDir))
    assert(e.getMessage.contains("uf"))
    // partitioned tables refuse (external files carry no partition values)
    val tp = cat.createTable("db.ext_part", pedidosSchema, partitionDays = Some("data_criacao"))
    assertThrows[IllegalArgumentException](tp.addFiles(spark, srcDir))
  }
}
