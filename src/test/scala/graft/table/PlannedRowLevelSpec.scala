package graft.table

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.table.GraftIO.RichHPath
import graft.spark.GraftCatalogPlugin
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** Planned UPDATE and MERGE: both read only the files the manifest
  * cannot rule out. UPDATE plans with its condition's pushed filters,
  * MERGE with the source's key range. Each case runs on a days(ts) table
  * that later gets `bucket(2, k)`, and the planned SQL statement must
  * agree with a reference that reads every file (or none): the
  * filter-less `update` on a shallow clone, `mergeMoR` on a clone, or a
  * Scala model. */
class PlannedRowLevelSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("ts", TimestampType),
    StructField("s", StringType), StructField("v", LongType)))

  private def at(day: Int, hour: Int): Timestamp =
    Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, day, hour, 0))

  private def frame(rows: Seq[Row], sch: StructType = schema): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), sch)

  private var n = 0

  /** Table `a` (reached through a fresh SQL catalog) and its shallow
    * clone `b`. Day d holds keys d*100 + 0..11 (one file per day), then,
    * after `bucket(2, k)` is added, keys d*100 + 50..61 (one file per day
    * and bucket) and one NULL-key row on day 2. Every `s` is unique. */
  private def fixture(): (String, GraftTable, GraftTable) = {
    n += 1
    val wh = graft.Scratch.fresh(s"planned_rowlevel_wh_$n")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val a = cat.createTable("db.a", schema, partitionDays = Some("ts"))
    a.append(frame(for (d <- 1 to 4; i <- 0 until 12) yield
      Row(100L * d + i, at(d, i), s"s${100 * d + i}", i.toLong)))
    a.addPartitionField("k", "bucket[2]")
    a.append(frame((for (d <- 1 to 4; i <- 0 until 12) yield
      Row(100L * d + 50 + i, at(d, 12 + i), s"s${100 * d + 50 + i}", i.toLong)) :+
      Row(null, at(2, 5), "snull", 5L)))
    val b = a.cloneTo(cat, "db.b")
    val c = s"planned_rowlevel_$n"
    spark.conf.set(s"spark.sql.catalog.$c", classOf[GraftCatalogPlugin].getName)
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", wh.toString)
    (c, a, b)
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Manifest entries the latest commit removed, as absolute paths. */
  private def removed(t: GraftTable): Set[String] = {
    val s = t.meta.snapshots
    val cur = s.last.manifest.map(_.path).toSet
    s(s.size - 2).manifest.filterNot(f => cur(f.path))
      .map(f => t.dir.resolve(f.path).toUri.getPath).toSet
  }

  private def lastChanges(t: GraftTable): Seq[String] = {
    val k = t.meta.snapshots.size
    sorted(t.readChanges(spark, k - 1, k).drop("_commit_snapshot_id"))
  }

  /** `UPDATE a SET <set> WHERE <where>` through SQL, and the same
    * assignments through the whole-table reference `update` on `b`. */
  private def updateBoth(c: String, a: GraftTable, b: GraftTable,
      set: Seq[(String, String)], where: String): Unit = {
    val before = Seq(a, b).map(_.meta.snapshots.size)
    spark.sql(s"UPDATE $c.db.a SET ${set.map { case (k, e) => s"$k = $e" }.mkString(", ")} " +
      s"WHERE $where")
    b.update(spark, expr(where), set.map { case (k, e) => k -> expr(e) }.toMap)
    assert(Seq(a, b).map(_.meta.snapshots.size) === before.map(_ + 1), where)
    assert(sorted(a.read(spark)) === sorted(b.read(spark)), where)
    // the same files leave both manifests; a file an earlier statement
    // rewrote has a different path in each table, so count them here and
    // compare their rows through the changelog
    assert(removed(a).size === removed(b).size, where)
    assert(lastChanges(a) === lastChanges(b), where)
  }

  private object Scans extends AdaptiveSparkPlanHelper {
    def files(qe: QueryExecution): Seq[String] =
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .flatMap(_.relation.location.inputFiles)
  }

  /** Data files of `t` that the scans of `body`'s queries list. Listener
    * events arrive in order, so a marker query's event fences the body's. */
  private def filesRead(t: GraftTable)(body: => Unit): Set[String] = {
    val listed = new ConcurrentLinkedQueue[String]()
    val marker = s"planned_rowlevel_fence_$n"
    val fenced = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) fenced.countDown()
        else Scans.files(qe).foreach(listed.add)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val data = t.meta.currentSnapshot.get.manifest
      .map(f => t.dir.resolve(f.path).toUri.getPath).toSet
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit(1).as(marker)).collect()
      assert(fenced.await(30, TimeUnit.SECONDS), "fence query never seen")
    } finally spark.listenerManager.unregister(listener)
    listed.asScala.map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet.filter(data)
  }

  /** Manifest entries by absolute path, for partition-value checks. */
  private def byPath(t: GraftTable): Map[String, DataFile] =
    t.meta.currentSnapshot.get.manifest.map(f => t.dir.resolve(f.path).toUri.getPath -> f).toMap

  test("SQL UPDATE plans its files and matches the whole-table reference") {
    val (c, a, b) = fixture()
    updateBoth(c, a, b, Seq("v" -> "v + 1000", "s" -> "concat(s, '!')"), "k = 205")
    assert(removed(a) === removed(b)) // both still share every file
    updateBoth(c, a, b, Seq("v" -> "-1"),
      "ts >= TIMESTAMP '2024-01-03 05:00:00' AND ts < TIMESTAMP '2024-01-04 00:00:00'")
    updateBoth(c, a, b, Seq("v" -> "v * 2"), "s = 's410'")
    updateBoth(c, a, b, Seq("s" -> "'was null'"), "k IS NULL")
    updateBoth(c, a, b, Seq("v" -> "0"), "v > 5 AND k < 260 AND length(s) > 3")
    assert(a.read(spark).filter(col("k").isNull).head().getString(2) === "was null")
  }

  test("SQL UPDATE on a dropped and re-added column never prunes on the old column's stats") {
    // the old files' manifest entries still hold the dropped `v`'s stats
    // (0..11, no NULLs) under "v", while their rows read the new `v` as
    // 70 or NULL
    for ((default, where) <- Seq(Some("70") -> "v = 70", None -> "v IS NULL")) {
      val (c, a, b) = fixture()
      Seq(a, b).foreach { t =>
        t.dropColumn("v")
        t.addColumn("v", LongType, default)
      }
      updateBoth(c, a, b, Seq("s" -> "'hit'"), where)
      assert(a.read(spark).filter(col("s") === "hit").count() === 12 * 8 + 1, where)
    }
  }

  test("SQL MERGE upsert matches mergeMoR on long, string and int-source keys") {
    val (c, a, b) = fixture()
    def upsert(on: String, src: DataFrame, key: String): Unit = {
      src.createOrReplaceTempView("planned_rowlevel_src")
      spark.sql(s"""MERGE INTO $c.db.a t USING planned_rowlevel_src s ON $on
          WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
      b.mergeMoR(spark, src, key)
      assert(sorted(a.read(spark)) === sorted(b.read(spark)), on)
    }
    upsert("t.k = s.k", frame(Seq(
      Row(103L, at(1, 3), "u103", 1003L), Row(355L, at(3, 17), "u355", 1355L),
      Row(999L, at(3, 1), "u999", 1999L))), "k")
    upsert("t.s = s.s", frame(Seq(
      Row(7001L, at(4, 2), "s402", 402L), Row(7002L, at(2, 3), "fresh", 1L))), "s")
    val intKey = StructType(schema.fields.updated(0, StructField("k", IntegerType)))
    upsert("t.k = s.k", frame(Seq(Row(210, at(2, 10), "i210", 210L),
      Row(888, at(4, 8), "i888", 888L)), intKey), "k")
  }

  test("conditional MERGE on a re-added defaulted key with NULL keys matches a Scala model") {
    val (c, a, _) = fixture()
    a.dropColumn("s")
    a.addColumn("s", StringType, Some("dflt"))
    a.append(frame(Seq(Row(901L, at(4, 1), "n1", 1L), Row(902L, at(4, 2), "n2", 2L),
      Row(903L, at(4, 3), null, 3L))))
    val target = a.read(spark).select("k", "ts", "s", "v").collect().toSeq
    // old files' stats for the dropped `s` say s100..s461, outside the
    // source's key range [dflt, n2]; their rows read `s` = 'dflt'
    val src = Seq(("dflt", 40L, "U"), ("n1", 0L, "D"), ("n2", 50L, "U"),
      (null, 60L, "I"), ("e", -1L, "I"), ("m", 70L, "I"))
    import spark.implicits._
    src.toDF("s", "v", "op").createOrReplaceTempView("planned_rowlevel_model_src")
    spark.sql(s"""MERGE INTO $c.db.a t USING planned_rowlevel_model_src s ON t.s = s.s
        WHEN MATCHED AND s.op = 'D' THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = t.v + s.v
        WHEN NOT MATCHED AND s.v > 0 THEN INSERT (k, ts, s, v) VALUES (NULL, NULL, s.s, s.v)""")
    val bySrc = src.filter(_._1 != null).map(x => x._1 -> x).toMap
    val kept = target.flatMap { r =>
      Option(r.getString(2)).flatMap(bySrc.get) match {
        case Some((_, _, "D")) => None
        case Some((_, sv, _)) => Some(Row(r.get(0), r.get(1), r.get(2), r.getLong(3) + sv))
        case None => Some(r)
      }
    }
    val inserted = src.filter { case (s, v, _) => (s == null || !target.exists(_.getString(2) == s)) && v > 0 }
      .map { case (s, v, _) => Row(null, null, s, v) }
    assert(sorted(a.read(spark).select("k", "ts", "s", "v")) ===
      (kept ++ inserted).map(_.toString).sorted)
    assert(a.read(spark).filter(col("s") === "dflt").count() === 12 * 8 + 1)
  }

  test("planned statements read only the files they may change") {
    val (c, a, _) = fixture()
    a.rewriteDataFiles(spark) // every file now records its day and bucket
    val all = byPath(a)
    assert(all.values.map(_.partitionValues("k_bucket2")).toSet.size === 2)

    val b205 = Transforms.bucketOfLiteral(205L, 2).get.toString
    val upd = filesRead(a)(spark.sql(s"UPDATE $c.db.a SET v = -5 WHERE k = 205"))
    assert(upd.nonEmpty && upd.forall(p => all(p).partitionValues("k_bucket2") == b205), upd)

    import spark.implicits._
    def mergeReads(src: DataFrame, clauses: String): Set[String] = {
      src.createOrReplaceTempView("planned_rowlevel_read_src")
      filesRead(a)(spark.sql(s"""MERGE INTO $c.db.a t USING planned_rowlevel_read_src s
          ON t.k = s.k $clauses"""))
    }
    val day3 = byPath(a).filter(_._2.partitionValues("ts_day") == "2024-01-03").keySet
    val m3 = mergeReads(Seq((305L, 1L), (356L, 2L), (399L, 3L)).toDF("k", "v"),
      "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
    assert(m3.nonEmpty && m3.subsetOf(day3), m3)

    for ((src, clauses) <- Seq(
        // any unmatched target row may change
        Seq((305L, 1L)).toDF("k", "v") -> ("WHEN MATCHED THEN UPDATE SET v = s.v " +
          "WHEN NOT MATCHED BY SOURCE AND t.k = 101 THEN UPDATE SET v = 0"),
        // an INT source key against the BIGINT target compares through a
        // cast: no key range, every file is probed
        Seq((305, 9L)).toDF("k", "v") -> "WHEN MATCHED THEN UPDATE SET v = s.v")) {
      val every = byPath(a).keySet
      assert(mergeReads(src, clauses) === every, clauses)
    }
  }
}
