package graft.table

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.table.GraftIO.RichHPath
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** `GraftIO.listFilesRecursive` walks with `listStatus` instead of
  * Hadoop's `listFiles(p, true)` (whose `LocatedFileStatus` forks a
  * permission probe per file on the local filesystem). The walk must see
  * exactly what `listFiles` sees. */
class ListingSpec extends SparkTestBase {
  import ListingSpec._

  test("listStatus walk == Hadoop listFiles on a days/bucket partitioned write; .crc stays hidden") {
    val cat = new GraftCatalog(graft.Scratch.fresh("listing_spec_wh"))
    cat.createSchema("db")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("ts", TimestampType)))
    val t = cat.createTable("db.l", schema,
      partitionSpec = Seq("ts" -> "days", "k" -> "bucket[2]"))
    val rows = (0 until 40).map(i => Row(i.toLong,
      java.sql.Timestamp.valueOf(s"2024-01-0${1 + i % 3} 0${i % 10}:00:00")))
    t.append(spark.createDataFrame(rows.asJava, schema))

    val data = t.dir.resolve("data")
    val onDisk = {
      val s = Files.walk(GraftIO.toNio(data))
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(_.getFileName.toString).toList
      finally s.close()
    }
    // the fixture has what the walk must get right: nested partition
    // dirs, Spark's _SUCCESS marker and checksum sidecars
    assert(onDisk.contains("_SUCCESS"))
    assert(onDisk.exists(_.endsWith(".crc")))
    val listed = GraftIO.listFilesRecursive(data)
    assert(listed.exists(st =>
      st.getPath.getParent.getName.startsWith("k_bucket2=") &&
        st.getPath.getParent.getParent.getName.startsWith("ts_day=")),
      listed.map(_.getPath))
    assert(listed.forall(_.isFile))
    assert(!listed.exists(_.getPath.getName.endsWith(".crc")))
    assert(listed.exists(_.getPath.getName == "_SUCCESS"))
    assert(pathsAndLengths(listed) === hadoopListFiles(data))
    // a missing root lists empty, like before
    assert(GraftIO.listFilesRecursive(data.resolve("absent")).isEmpty)
  }
}

object ListingSpec {

  /** (path, length) of every listed file, for set comparison. */
  def pathsAndLengths(files: Iterable[FileStatus]): Set[(String, Long)] =
    files.map(st => st.getPath.toString -> st.getLen).toSet

  /** What Hadoop's own recursive `listFiles` reports under `p`. */
  def hadoopListFiles(p: HPath): Set[(String, Long)] = {
    val it = GraftIO.fs(p).listFiles(p, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    while (it.hasNext) buf += it.next()
    pathsAndLengths(buf)
  }
}
