package graft.table

import java.net.URI
import java.nio.file.Files

import graft.SparkTestBase
import graft.table.GraftIO.RichHPath
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A Hadoop FileSystem under a NON-`file` scheme (backed by the local
  * disk) — forces every GraftIO call and every Spark parquet read/write
  * through the generic Hadoop branch, the same code path an `s3a://` or
  * `hdfs://` warehouse takes. RawLocalFileSystem (not Checksum-wrapped),
  * so like an object store it writes no `.crc` sidecars. */
class GraftTestFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")

  // RawLocalFileSystem's FileStatus lazy-loads permissions through
  // `new java.io.File(path.toUri)`, which rejects non-`file` schemes.
  // Return statuses with permissions pre-populated so nothing lazy-loads.
  private def eager(s: org.apache.hadoop.fs.FileStatus): org.apache.hadoop.fs.FileStatus =
    new org.apache.hadoop.fs.FileStatus(
      s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime,
      org.apache.hadoop.fs.permission.FsPermission.getDefault, "", "", s.getPath)

  override def getFileStatus(f: HPath): org.apache.hadoop.fs.FileStatus =
    eager(super.getFileStatus(f))

  override def listStatus(f: HPath): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(eager)

  // RawLocalFileSystem's create(overwrite=false) is CHECK-then-create —
  // S3-class semantics, under which multi-writer CAS is the DOCUMENTED
  // GraftIO caveat (use a catalog CAS / conditional writes). This mock
  // stands in for the HDFS class of store, where create(overwrite=false)
  // is an atomic namespace insert — so make it actually atomic
  // (CREATE_NEW is one OS-level exclusive op) instead of intermittently
  // losing one of two racing committers to the TOCTOU window, which made
  // the concurrent-committer spec flake (~1 in dozens of runs).
  override def create(
      f: HPath, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    if (!overwrite) {
      val local = java.nio.file.Paths.get(f.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      try java.nio.file.Files
        .newByteChannel(local,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        .close()
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(f.toString)
      }
    }
    super.create(f, permission, true, bufferSize, replication, blockSize, progress)
  }
}

/** SURVEY §2 A2: the reference's warehouse is an S3-compatible object
  * store (README.md:62-65, 76-81). The table layer must therefore run on
  * any Hadoop `FileSystem`, not just `java.nio`. This spec runs a full
  * table lifecycle — create, append ×2, CoW delete, time travel, expire —
  * against a warehouse whose URIs carry a non-local scheme. */
class HadoopFsSpec extends SparkTestBase {

  private lazy val hconf: Configuration = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val c = spark.sessionState.newHadoopConf()
    c.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    GraftIO.setConf(c)
    c
  }

  private def newWarehouse(): HPath = {
    hconf // force scheme registration before any path is touched
    val local = Files.createTempDirectory("graftfs_wh")
    new HPath("graftfs:" + local.toAbsolutePath)
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("grp", StringType),
    StructField("v", DoubleType)))

  private def batch(from: Long, n: Long): DataFrame = {
    val rows = (from until from + n).map(i =>
      Row(i, if (i % 2 == 0) "even" else "odd", i * 1.5))
    spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava), schema)
  }

  private implicit class SeqOps[A](s: Seq[A]) {
    def asJava: java.util.Collection[A] = {
      val l = new java.util.ArrayList[A](); s.foreach(l.add); l
    }
  }

  test("full table lifecycle on a non-local Hadoop scheme") {
    val wh = newWarehouse()
    assert(wh.toUri.getScheme === "graftfs", "warehouse must not be scheme-local")
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    val t = cat.createTable("db.hfs", schema)

    t.append(batch(0, 100)) // snapshot 1
    t.append(batch(100, 50)) // snapshot 2
    assert(t.read(spark).count() === 150)

    val v2 = t.meta.currentSnapshotId.get
    t.delete(spark, col("grp") === "even") // snapshot 3, CoW
    assert(t.read(spark).count() === 75)
    assert(t.read(spark).where(col("grp") === "even").count() === 0)
    // time travel back across the delete
    assert(t.readVersion(spark, v2).count() === 150)

    // values, not just counts: sum of surviving ids
    val got = t.read(spark).agg(sum("id")).head().getLong(0)
    val want = (0L until 150L).filter(_ % 2 == 1).sum
    assert(got === want)

    // expire everything but the current snapshot; current stays readable
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    assert(t.read(spark).count() === 75)
    assert(t.meta.snapshots.size === 1)

    // every path the table layer touches is scheme-qualified, and the
    // object-store-ish FS left no checksum debris behind
    val files = GraftIO.listFilesRecursive(t.dir)
    assert(files.nonEmpty)
    assert(files.forall(_.getPath.toUri.getScheme == "graftfs"))
    assert(!files.exists(_.getPath.getName.endsWith(".crc")),
      "no .crc sidecars may leak into the warehouse")
    // the listStatus walk sees exactly what Hadoop's listFiles sees
    assert(ListingSpec.pathsAndLengths(files) === ListingSpec.hadoopListFiles(t.dir))
  }

  test("publishExclusive on a non-local scheme: exactly one writer wins") {
    val wh = newWarehouse()
    val target = wh.resolve("v7.json")
    assert(GraftIO.publishExclusive(target, GraftIO.bytesOf("winner")))
    assert(!GraftIO.publishExclusive(target, GraftIO.bytesOf("loser")))
    assert(GraftIO.utf8(GraftIO.readAllBytes(target)) === "winner",
      "a losing publish must not clobber the committed content")
  }

  test("concurrent committers on a non-local scheme: no lost commit") {
    val wh = newWarehouse()
    val cat = new GraftCatalog(wh)
    cat.createSchema("db")
    cat.createTable("db.race", schema)
    val threads = (0 until 4).map { k =>
      new Thread(() => {
        val t = cat.load("db.race")
        t.append(batch(k * 10L, 10))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val t = cat.load("db.race")
    assert(t.read(spark).count() === 40)
    assert(t.meta.snapshots.size === 4)
  }
}
