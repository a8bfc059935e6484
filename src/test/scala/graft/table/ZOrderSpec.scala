package graft.table

import java.nio.file.Files

import graft.SparkTestBase
import graft.functions.InterleaveBitsF
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types._

/** Z-order compaction: multi-dimensional clustering must make stats-based
  * pruning effective on EVERY zorder column — the property a single-column
  * sort cannot deliver for the non-leading dimension. */
class ZOrderSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("a", LongType), StructField("b", LongType),
    StructField("payload", StringType)))

  /** 4096 rows over two INDEPENDENT uniform dims (a: row-order-correlated,
    * b: decorrelated via a multiplicative hash) — the layout where a sort
    * on `a` leaves every file spanning b's full range. */
  private def grid = {
    import spark.implicits._
    spark.range(4096).select(
      col("id").as("a"),
      ((col("id") * 2654435761L) % 4096).as("b"),
      concat(lit("row-"), col("id")).as("payload"))
  }

  private def freshTable(): GraftTable = {
    val cat = new GraftCatalog(Files.createTempDirectory("graft_zorder"))
    cat.createSchema("db")
    val t = cat.createTable("db.grid", schema)
    t.append(grid)
    t
  }

  private def between(colName: String, lo: Long, hi: Long) =
    Seq(GreaterThanOrEqual(colName, lo), LessThanOrEqual(colName, hi))

  private def filesFor(t: GraftTable, colName: String, lo: Long, hi: Long): Int =
    t.planFilters(t.meta, between(colName, lo, hi)).size

  test("interleave bits: known morton codes, codegen == interpreted") {
    import spark.implicits._
    val in = Seq((0, 0), (1, 0), (0, 1), (1, 1), (0xffff, 0), (0, 0xffff), (3, 5))
      .toDF("x", "y")
    val out = in.select(
      InterleaveBitsF.interleave(Seq(col("x"), col("y"))).as("z")).collect().map(_.getLong(0))
    // bit i of x -> bit 2i; bit i of y -> bit 2i+1
    assert(out.toSeq == Seq(0L, 1L, 2L, 3L, 0x55555555L, 0xAAAAAAAAL,
      /* x=3 (bits 0,1 -> 0,2) = 5; y=5 (bits 0,2 -> 1,5) = 34 */ 39L))
    // interpreted eval must agree (e.g. under a non-codegen path)
    val expr = InterleaveBitsF(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal(3),
      org.apache.spark.sql.catalyst.expressions.Literal(5)))
    assert(expr.eval(null) == 39L)
  }

  test("interleave properties: bijective on 16-bit pairs, monotone per axis") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val lit16 = Gen.choose(0, 0xffff)
    def z(x: Int, y: Int): Long = {
      val e = InterleaveBitsF(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal(x),
        org.apache.spark.sql.catalyst.expressions.Literal(y)))
      e.eval(null).asInstanceOf[Long]
    }
    // injective: distinct inputs -> distinct codes (the curve visits each
    // cell once, so range-partitioning on it is a total ordering of cells)
    val inj = Prop.forAll(lit16, lit16, lit16, lit16) { (a, b, c, d) =>
      ((a, b) == (c, d)) == (z(a, b) == z(c, d))
    }
    // monotone along each axis with the other fixed: growing one
    // coordinate never shrinks the code, so per-file [min,max] code
    // ranges translate to bounded coordinate ranges — what stats pruning
    // on the member columns depends on
    val mono = Prop.forAll(lit16, lit16, lit16) { (x1, x2, y) =>
      val (lo, hi) = (math.min(x1, x2), math.max(x1, x2))
      z(lo, y) <= z(hi, y) && z(y, lo) <= z(y, hi)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), inj && mono)
    assert(res.passed, res.status.toString)
  }

  test("zorder compaction preserves content exactly") {
    val t = freshTable()
    t.rewriteDataFiles(spark, targetFiles = 16, zorderBy = Seq("a", "b"))
    val got = t.read(spark).orderBy("a").collect()
    val want = grid.orderBy("a").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("zorder prunes on BOTH dimensions; single-column sort only on one") {
    val sorted = freshTable()
    sorted.rewriteDataFiles(spark, targetFiles = 16, sortBy = Seq("a"))
    val zordered = freshTable()
    zordered.rewriteDataFiles(spark, targetFiles = 16, zorderBy = Seq("a", "b"))
    assert(zordered.meta.currentSnapshot.get.manifest.size == 16)

    // narrow range on the lead dim: both layouts prune hard
    assert(filesFor(sorted, "a", 0, 255) <= 2)
    assert(filesFor(zordered, "a", 0, 255) <= 8)

    // narrow range on the second dim: the a-sort is blind (every file
    // spans b's full range), the z-order keeps stats tight on b too
    val sortedB = filesFor(sorted, "b", 0, 255)
    val zB = filesFor(zordered, "b", 0, 255)
    assert(sortedB == 16, s"a-sorted layout should keep all files for a b-range, kept $sortedB")
    assert(zB <= 8, s"z-ordered layout should skip at least half the files on b, kept $zB")

    // and the pruned read still returns exactly the right rows
    val got = zordered.readPruned(spark, between("b", 0, 255))
      .filter(col("b").between(0, 255))
      .orderBy("a").select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = grid.filter(col("b") <= 255).orderBy("a")
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("zorder on a PARTITIONED table: content kept, files stay within one day dir") {
    import spark.implicits._
    val cat = new GraftCatalog(Files.createTempDirectory("graft_zpart"))
    cat.createSchema("db")
    val pschema = StructType(Seq(
      StructField("a", LongType), StructField("b", LongType),
      StructField("ts", TimestampType)))
    val t = cat.createTable("db.grid_p", pschema, partitionDays = Some("ts"))
    val rows = spark.range(2048).select(
      col("id").as("a"),
      ((col("id") * 2654435761L) % 2048).as("b"),
      expr("timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,CAST(id % 4 AS INT),0,0,0)").as("ts"))
    t.append(rows)
    t.rewriteDataFiles(spark, targetFiles = 8, zorderBy = Seq("a", "b"))
    // content identical
    val got = t.read(spark).orderBy("a").select("a", "b").collect().toSeq
    val want = rows.orderBy("a").select("a", "b").collect().toSeq
    assert(got == want)
    // no partitionBy fan-out: each of the 8 range partitions spans at
    // most a day boundary, so the file count stays near targetFiles
    // (8 × 4 days = 32 files is what dropping the partition lead keys
    // would produce), and stats pruning still bites on the zorder columns
    val files = t.meta.currentSnapshot.get.manifest
    assert(files.size <= 8 + 4 - 1, s"partitionBy fan-out: ${files.size} files")
    assert(filesFor(t, "b", 0, 127) < files.size)
  }

  test("hilbert index: unit-square order, injective, codegen == interpreted") {
    import graft.functions.HilbertIndexF
    // the 2x2 base case visits (0,0)->(0,1)->(1,1)->(1,0); at 2^16 the
    // first quadrant step is 2^30 cells
    assert(HilbertIndexF.xy2d(0, 0) == 0L)
    // injective over an exhaustive 128x128 corner + random 16-bit pairs
    val seen = scala.collection.mutable.HashSet.empty[Long]
    for (x <- 0 until 128; y <- 0 until 128)
      assert(seen.add(HilbertIndexF.xy2d(x, y)), s"collision at ($x,$y)")
    val rng = new scala.util.Random(7)
    val pts = Seq.fill(2000)((rng.nextInt(65536), rng.nextInt(65536))).distinct
    assert(pts.map((HilbertIndexF.xy2d _).tupled).distinct.size == pts.size)
    // consecutive curve positions are adjacent cells on the 128-grid
    // subset we enumerated: sort by d, check Manhattan distance 1 for
    // pairs whose d values are consecutive integers
    val byD = (for (x <- 0 until 128; y <- 0 until 128)
      yield (HilbertIndexF.xy2d(x, y), x, y)).sortBy(_._1)
    byD.sliding(2).foreach { case Seq((d1, x1, y1), (d2, x2, y2)) =>
      if (d2 == d1 + 1)
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
          s"non-adjacent steps d=$d1($x1,$y1) -> d=$d2($x2,$y2)")
      case _ => ()
    }
    // codegen path agrees with the interpreted transform
    import spark.implicits._
    val df = Seq((3, 5), (40000, 123), (0, 65535)).toDF("x", "y")
    val got = df.select(HilbertIndexF.hilbert(col("x"), col("y")).as("h"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(HilbertIndexF.xy2d(3, 5),
      HilbertIndexF.xy2d(40000, 123), HilbertIndexF.xy2d(0, 65535)))
  }

  test("hilbert clustering prunes both dimensions at least as well as required") {
    val t = freshTable()
    t.rewriteDataFiles(spark, targetFiles = 16, zorderBy = Seq("a", "b"), curve = "hilbert")
    assert(t.meta.currentSnapshot.get.manifest.size == 16)
    // both dims prune (the property that makes the curve useful at all)
    assert(filesFor(t, "a", 0, 255) <= 8, s"a kept ${filesFor(t, "a", 0, 255)}")
    assert(filesFor(t, "b", 0, 255) <= 8, s"b kept ${filesFor(t, "b", 0, 255)}")
    // content identical
    val got = t.read(spark).orderBy("a").collect()
    assert(got.toSeq == grid.orderBy("a").collect().toSeq)
  }

  test("CALL system.rewrite_data_files(zorder_by) routes through the procedure") {
    val wh = Files.createTempDirectory("graft_zproc")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.grid", schema)
    t.append(grid)
    val cname = s"zp_${wh.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "")}"
    spark.conf.set(s"spark.sql.catalog.$cname", classOf[graft.spark.GraftCatalogPlugin].getName)
    spark.conf.set(s"spark.sql.catalog.$cname.warehouse", wh.toString)
    spark.sql(s"CALL $cname.system.rewrite_data_files(table => 'db.grid', " +
      "target_files => 8, zorder_by => 'a,b')").collect()
    val t2 = cat.load("db.grid")
    assert(t2.meta.currentSnapshot.get.manifest.size == 8)
    assert(filesFor(t2, "b", 0, 255) < 8)
  }
}
