package graft.table

import java.sql.Timestamp

import graft.SparkTestBase
import graft.table.GraftIO.RichHPath
import graft.spark.GraftCatalogPlugin
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Metadata-only DELETE: the SQL path (`deleteWhere` → filter-planned
  * `GraftTable.delete`) drops files whose manifest stats prove every row
  * matches and probes only the rest. Each case runs the same DELETE on
  * two shallow clones of one days(ts) table — one through SQL, one
  * through the filter-less reference `delete(spark, pred)` — and the live
  * rows, the removed manifest entries and the changelog must agree. */
class MetadataDeleteSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("ts", TimestampType),
    StructField("status", StringType)))

  private def at(day: Int, minutes: Int): Timestamp =
    Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, day, 0, 0).plusMinutes(minutes))

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private var n = 0

  /** Table `a` (reached through a fresh SQL catalog) and its shallow
    * clone `b`, sharing three appends:
    *  1. days 1-4, 18 rows each at hh:30 (max 17:30); day 4 all 'F'
    *  2. days 2-3, 10 rows each at hh:15 (max 10:15)
    *  3. day 1, three rows, one with a NULL id */
  private def fixture(): (String, GraftTable, GraftTable) = {
    n += 1
    val wh = graft.Scratch.fresh(s"metadelete_spec_wh_$n")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val a = cat.createTable("db.a", schema, partitionDays = Some("ts"))
    a.append(frame(for (d <- 1 to 4; i <- 0 until 18) yield
      Row(100L * d + i, at(d, 30 + 60 * i), if (d == 4 || i % 2 == 0) "F" else "O")))
    a.append(frame(for (d <- 2 to 3; i <- 0 until 10) yield
      Row(1000L + 100L * d + i, at(d, 75 + 60 * i), "O")))
    a.append(frame(Seq(Row(null, at(1, 600), "O"), Row(2001L, at(1, 601), "F"),
      Row(2002L, at(1, 602), "O"))))
    val b = a.cloneTo(cat, "db.b")
    val c = s"metadelete_spec_$n"
    spark.conf.set(s"spark.sql.catalog.$c", classOf[GraftCatalogPlugin].getName)
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", wh.toString)
    (c, a, b)
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Manifest entries the latest commit removed, as absolute paths (the
    * clone's entries are absolute, the source's table-relative). */
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

  /** Run `where` as SQL on `a` and as the reference Column delete on
    * `b`; both tables must end identical. */
  private def deleteBoth(c: String, a: GraftTable, b: GraftTable, where: String): Unit = {
    val before = Seq(a, b).map(_.meta.snapshots.size)
    spark.sql(s"DELETE FROM $c.db.a WHERE $where")
    b.delete(spark, expr(where))
    assert(Seq(a, b).map(_.meta.snapshots.size) === before.map(_ + 1))
    assert(sorted(a.read(spark)) === sorted(b.read(spark)))
    assert(removed(a) === removed(b))
    assert(lastChanges(a) === lastChanges(b))
  }

  private def dayOf(f: DataFile): String = f.partitionValues.values.head

  test("retention delete drops whole day files by metadata and runs no Spark job") {
    val (c, a, b) = fixture()
    val m = a.meta
    val parent = m.currentSnapshotId.get
    val filters = Seq(LessThan("ts", Timestamp.valueOf("2024-01-03 00:00:00")))
    val (dropped, probe) = a.planDelete(m, filters)
    assert(dropped.map(dayOf).toSet === Set("2024-01-01", "2024-01-02"))
    assert(dropped.size === 4, dropped.map(_.path))
    assert(probe.isEmpty, probe.map(_.path))
    val jobs = graft.SparkJobs.count(spark)(
      spark.sql(s"DELETE FROM $c.db.a WHERE ts < TIMESTAMP '2024-01-03 00:00:00'"))
    assert(jobs === 0)
    b.delete(spark, col("ts") < lit("2024-01-03 00:00:00").cast(TimestampType))
    assert(sorted(a.read(spark)) === sorted(b.read(spark)))
    assert(a.read(spark).count() === 18 * 2 + 10)
    assert(removed(a) === removed(b))
    assert(removed(a) === dropped.map(f => a.dir.resolve(f.path).toUri.getPath).toSet)
    assert(lastChanges(a) === lastChanges(b))
    // the dropped rows stay readable through time travel
    assert(a.readVersion(spark, parent).count() === 18 * 4 + 20 + 3)
    assert(spark.sql(s"SELECT count(*) FROM $c.db.a VERSION AS OF $parent").head().getLong(0) ===
      18 * 4 + 20 + 3)
  }

  test("a delete that cuts through a day drops the covered files and rewrites only the cut one") {
    val (c, a, b) = fixture()
    val (dropped, probe) = a.planDelete(a.meta,
      Seq(LessThan("ts", Timestamp.valueOf("2024-01-02 12:00:00"))))
    assert(dropped.map(dayOf).toSet === Set("2024-01-01", "2024-01-02"))
    assert(probe.map(dayOf) === Seq("2024-01-02"))
    deleteBoth(c, a, b, "ts < TIMESTAMP '2024-01-02 12:00:00'")
    assert(a.read(spark).filter(col("ts") < lit(Timestamp.valueOf("2024-01-02 12:00:00")))
      .count() === 0)
  }

  test("a file whose max equals the < literal is probed, not dropped") {
    val (c, a, b) = fixture()
    val lit0 = Timestamp.valueOf("2024-01-02 17:30:00") // day-2 max of append 1
    val (dropped, probe) = a.planDelete(a.meta, Seq(LessThan("ts", lit0)))
    assert(probe.size === 1)
    assert(dayOf(probe.head) === "2024-01-02")
    assert(probe.head.stats.get("ts").max === "2024-01-02 17:30:00.000000")
    assert(dropped.map(dayOf).toSet === Set("2024-01-01", "2024-01-02"))
    deleteBoth(c, a, b, "ts < TIMESTAMP '2024-01-02 17:30:00'")
    assert(a.read(spark).filter(col("ts") === lit(lit0)).count() === 1)
  }

  test("a file holding a NULL in the filtered column is probed; its NULL row survives") {
    val (c, a, b) = fixture()
    val (dropped, probe) = a.planDelete(a.meta, Seq(LessThan("id", 5000L)))
    assert(probe.size === 1)
    assert(probe.head.nulls.get("id") === 1L)
    assert(dropped.size === a.meta.currentSnapshot.get.manifest.size - 1)
    deleteBoth(c, a, b, "id < 5000")
    assert(a.read(spark).collect().map(_.get(0)).toSeq === Seq(null))
  }

  test("a filter on a string column never drops by metadata") {
    val (c, a, b) = fixture()
    val m = a.meta
    val allF = m.currentSnapshot.get.manifest.filter(f => dayOf(f) == "2024-01-04")
    assert(allF.size === 1)
    assert(allF.head.stats.get("status") === ColRange("F", "F"))
    assert(allF.head.nulls.get("status") === 0L)
    val (dropped, probe) = a.planDelete(m, Seq(EqualTo("status", "F")))
    assert(dropped.isEmpty)
    assert(probe.contains(allF.head))
    deleteBoth(c, a, b, "status = 'F'")
  }

  test("merge-on-read state keeps every file on the probe path") {
    val (c, a, b) = fixture()
    val retention = Seq(LessThan("ts", Timestamp.valueOf("2024-01-03 00:00:00")))
    a.deleteMoR(spark, col("id") === 101L)
    assert(a.planDelete(a.meta, retention)._1.isEmpty, "positional delete file present")
    b.deleteMoRDv(spark, col("id") === 101L)
    val dvFile = b.meta.currentSnapshot.get.allDeleteVectors.map(_.dataPath).toSet
    val (dropped, probe) = b.planDelete(b.meta, retention)
    assert(dvFile.size === 1)
    assert(probe.map(_.path).toSet === dvFile)
    assert(dropped.size === 3)
    spark.sql(s"DELETE FROM $c.db.a WHERE ts < TIMESTAMP '2024-01-03 00:00:00'")
    b.delete(spark, col("ts") < lit("2024-01-03 00:00:00").cast(TimestampType), retention)
    assert(sorted(a.read(spark)) === sorted(b.read(spark)))
    assert(a.read(spark).count() === 18 * 2 + 10)
  }

  test("stats resolve by column id: a re-added column never borrows the old one's stats") {
    val (c, a, b) = fixture()
    Seq(a, b).foreach { t =>
      t.renameColumn("id", "old_id")
      t.addColumn("id", LongType)
    }
    // the files' stats are keyed "id" — the renamed column's
    assert(a.planDelete(a.meta, Seq(LessThan("id", 5000L)))._1.isEmpty)
    assert(a.planDelete(a.meta, Seq(LessThan("old_id", 5000L)))._1.size === 6)
    // every row's new `id` is NULL, so nothing matches and nothing commits
    val snaps = a.meta.snapshots.size
    spark.sql(s"DELETE FROM $c.db.a WHERE id < 5000")
    assert(a.meta.snapshots.size === snaps)
    assert(a.read(spark).count() === 18 * 4 + 20 + 3)
    deleteBoth(c, a, b, "old_id < 5000")
    assert(a.read(spark).count() === 1)
  }

  test("a dropped and re-added column: old files match its default or NULL, never old stats") {
    // every old file's manifest still holds the dropped column's stats
    // and null counts under "id", while its rows read the new id as the
    // initial default (7) or NULL — pruning on the old entries would
    // keep matching rows
    for ((default, where) <- Seq(Some("7") -> "id = 7", None -> "id IS NULL")) {
      val (c, a, b) = fixture()
      Seq(a, b).foreach { t =>
        t.dropColumn("id")
        t.addColumn("id", LongType, default)
      }
      val all = 18 * 4 + 20 + 3
      val files = a.meta.currentSnapshot.get.manifest.size
      assert(spark.sql(s"SELECT count(*) FROM $c.db.a WHERE $where").head().getLong(0) === all)
      deleteBoth(c, a, b, where)
      assert(a.read(spark).count() === 0, where)
      assert(removed(a).size === files, where)
    }
  }

  test("provesAll: strict comparisons stay strict; only conjunctions of exact-typed proofs count") {
    val ts = ColRange("2024-01-01 00:30:00.000000", "2024-01-01 17:30:00.000000")
    val stats: String => Option[(DataType, ColRange)] = Map(
      "ts" -> (TimestampType: DataType, ts), "n" -> (LongType: DataType, ColRange("10", "20")),
      "d" -> (DateType: DataType, ColRange("2024-01-05", "2024-01-09"))).get
    def proves(f: Filter) = FilterBounds.provesAll(f, stats)
    val max = Timestamp.valueOf("2024-01-01 17:30:00")
    assert(!proves(LessThan("ts", max)))
    assert(proves(LessThanOrEqual("ts", max)))
    assert(proves(LessThan("ts", Timestamp.valueOf("2024-01-01 17:30:00.000001"))))
    assert(proves(GreaterThanOrEqual("ts", Timestamp.valueOf("2024-01-01 00:30:00"))))
    assert(!proves(GreaterThan("ts", Timestamp.valueOf("2024-01-01 00:30:00"))))
    // sub-microsecond literal: the stats rendering would truncate it
    val fine = Timestamp.valueOf("2024-01-01 00:30:00")
    fine.setNanos(500)
    assert(!proves(GreaterThanOrEqual("ts", fine)))
    assert(proves(GreaterThan("n", 9L)) && !proves(GreaterThan("n", 10L)))
    // numeric order, not string order: as strings "20" sorts after "100"
    assert(proves(LessThan("n", 100L)))
    assert(!proves(EqualTo("n", 10L)))
    assert(FilterBounds.provesAll(EqualTo("n", 10L),
      Map("n" -> (LongType: DataType, ColRange("10", "10"))).get))
    assert(proves(GreaterThanOrEqual("d", java.sql.Date.valueOf("2024-01-05"))))
    assert(proves(IsNotNull("n")) && !proves(IsNotNull("missing")))
    assert(proves(And(IsNotNull("n"), LessThan("n", 21L))))
    assert(!proves(And(IsNotNull("n"), LessThan("n", 20L))))
    assert(!proves(Or(LessThan("n", 100L), LessThan("n", 100L))))
    assert(!proves(Not(LessThan("n", 5L))))
    // a literal of the wrong runtime class proves nothing
    assert(!proves(LessThan("n", 100.0)))
    assert(!proves(LessThan("ts", java.sql.Date.valueOf("2024-02-01"))))
    assert(!FilterBounds.provable(StringType) && !FilterBounds.provable(DoubleType))
    // past year 9999 the timestamp rendering widens to '+10000-…', where
    // byte order is no longer time order: nothing is proven
    val far = ColRange("2024-01-01 00:30:00.000000", "+10000-01-01 00:00:00.000000")
    assert(!FilterBounds.provesAll(LessThan("ts", Timestamp.valueOf("2025-01-01 00:00:00")),
      Map("ts" -> (TimestampType: DataType, far)).get))
  }
}
