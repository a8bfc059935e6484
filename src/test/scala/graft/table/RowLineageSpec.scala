package graft.table

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** v3 row lineage: durable `_row_id` per row + `_last_updated_sequence_
  * number`, assigned at commit, surviving MoR deletes, CoW rewrites
  * (materialization), compaction and clones; never reused. */
class RowLineageSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private def mkTable(name: String) = {
    val cat = new GraftCatalog(graft.Scratch.fresh("lineage_wh"))
    cat.createSchema("db")
    (cat, cat.createTable(s"db.$name", schema))
  }

  private def rows(range: Range, tag: String) = {
    import spark.implicits._
    range.map(i => (i.toLong, tag)).toDF("k", "v")
      .repartition(1).sortWithinPartitions(col("k"))
  }

  private def lineage(t: GraftTable): Map[Long, (Long, Long)] =
    t.readWithLineage(spark).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap

  test("appends assign dense monotone ids; batch 2 continues after batch 1") {
    val (_, t) = mkTable("t1")
    t.append(rows(0 until 10, "a"))
    t.append(rows(10 until 20, "b"))
    val l = lineage(t)
    (0 until 10).foreach(i => assert(l(i.toLong) === (i.toLong, 1L)))
    (10 until 20).foreach(i => assert(l(i.toLong) === (i.toLong, 2L)))
    assert(t.meta.nextRowId === Some(20L))
  }

  test("MoR deletes (positional + vector) never move survivor ids") {
    val (_, t) = mkTable("t2")
    t.append(rows(0 until 30, "a"))
    val before = lineage(t)
    t.deleteMoR(spark, col("k") < 5)
    t.deleteMoRDv(spark, col("k") >= 25)
    val after = lineage(t)
    assert(after.keySet === (5L until 25L).toSet)
    after.foreach { case (k, lin) => assert(lin === before(k)) }
  }

  test("CoW delete, update and compaction materialize lineage through the rewrite") {
    val (_, t) = mkTable("t3")
    t.append(rows(0 until 20, "a"))  // seq 1
    t.append(rows(20 until 40, "b")) // seq 2
    val before = lineage(t)
    t.delete(spark, col("k") % 10 === 9) // seq 3, CoW rewrite of both files
    val afterDel = lineage(t)
    afterDel.foreach { case (k, lin) =>
      assert(lin === before(k), s"CoW delete moved lineage of row $k") }
    t.update(spark, col("k") < 3, Map("v" -> lit("upd"))) // seq 4
    val afterUpd = lineage(t)
    afterUpd.foreach { case (k, (rid, seq)) =>
      assert(rid === before(k)._1, s"update moved id of row $k")
      assert(seq === (if (k < 3) 4L else before(k)._2),
        s"row $k last_seq wrong after update")
    }
    t.rewriteDataFiles(spark, targetFiles = 1) // seq 5, replace
    val afterCompact = lineage(t)
    assert(afterCompact === afterUpd, "compaction must not disturb lineage")
    // a SECOND compaction re-reads already-materialized lineage
    t.rewriteDataFiles(spark, targetFiles = 2)
    assert(lineage(t) === afterUpd)
  }

  test("SQL CoW MERGE: untouched rows keep lineage, updated rows their id, inserts draw fresh ids") {
    val (cat, t) = mkTable("t8")
    t.append(rows(0 until 10, "a")) // one file
    val before = lineage(t)
    val c = "lineage_merge_sql"
    spark.conf.set(s"spark.sql.catalog.$c", classOf[graft.spark.GraftCatalogPlugin].getName)
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", cat.warehouse.toString)
    import spark.implicits._
    Seq((3L, "upd"), (100L, "new")).toDF("k", "v").createOrReplaceTempView("lineage_merge_src")
    spark.sql(s"""MERGE INTO $c.db.t8 t USING lineage_merge_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *""")
    val seq = t.meta.currentSnapshotId.get
    val after = lineage(t)
    assert(after.keySet === (0L until 10L).toSet + 100L)
    (0L until 10L).foreach { k =>
      assert(after(k)._1 === before(k)._1, s"merge moved id of row $k")
      assert(after(k)._2 === (if (k == 3L) seq else before(k)._2), s"row $k last_seq wrong")
    }
    assert(after(100L) === (10L, seq), "an insert draws the next fresh id")
  }

  test("ids are never reused: append after delete continues the counter") {
    val (_, t) = mkTable("t4")
    t.append(rows(0 until 10, "a"))
    t.delete(spark, col("k") < 10) // everything gone
    t.append(rows(100 until 105, "c"))
    val l = lineage(t)
    assert(l.values.map(_._1).toSet === (10L until 15L).toSet,
      "new rows must draw FRESH ids above the high-water mark")
  }

  test("WAP staging assigns ids at stage time; publish is metadata-only") {
    val (_, t) = mkTable("t5")
    t.append(rows(0 until 5, "a"))
    t.appendToBranch("audit", rows(5 until 8, "s"))
    t.publishBranch("audit")
    val l = lineage(t)
    (0 until 8).foreach(i => assert(l(i.toLong)._1 === i.toLong))
  }

  test("lineage-preserving rewrite over add_files entries loses no rows") {
    // externally-registered absolute paths have no /data/ suffix and no
    // scan-side key match — the lineage lookup must LEFT-join (NULL ids
    // for borrowed rows), never inner-join them away (the r12 bug
    // q_table_addf_cow's oracle caught: a CoW delete dropped the whole
    // registered side)
    val (_, t) = mkTable("t7")
    val ext = graft.Scratch.fresh("lineage_ext")
    import spark.implicits._
    (0 until 10).map(i => (i.toLong, "x")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(ext.toString)
    t.addFiles(spark, ext)
    t.append(rows(10 until 20, "w"))
    t.delete(spark, col("k") % 2 === 1) // CoW across both entry forms
    val out = t.readWithLineage(spark).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out.keySet === (0L until 20L).filter(_ % 2 == 0).toSet,
      "no surviving row may vanish through the lineage rewrite")
    // borrowed rows: unknown identity (NULL); writer rows keep real ids
    (10L until 20L by 2).foreach(k => assert(out(k).isDefined))
  }

  test("clones carry lineage; ids stay stable across the clone boundary") {
    val (cat, t) = mkTable("t6")
    t.append(rows(0 until 12, "a"))
    t.deleteMoRDv(spark, col("k") % 3 === 0)
    val want = lineage(t)
    val shallow = t.cloneTo(cat, "db.t6_s")
    assert(lineage(shallow) === want)
    val deep = t.deepCloneTo(cat, "db.t6_d")
    assert(lineage(deep) === want)
    // post-clone appends continue the counter (no collision with source ids)
    shallow.append(rows(100 until 103, "n"))
    val ids = lineage(shallow).values.map(_._1).toSeq
    assert(ids.distinct.size === ids.size)
  }
}
