package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Usage: runMain graft.Verify <sfDir> <outDir> [<query> ...] — extra
  * names dump only that subset (the oracle_sql.json is still complete). */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional extra args: run only these query names (local iteration;
    // the driver always calls with exactly two args → full run)
    val only = args.drop(2).toSet
    // fail LOUDLY on typo'd names: a silently-dropped unknown name would
    // make a zero-query run look like a green subset run
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = SessionTuning.session(sfDir, SessionTuning.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // The q_ann_ivf / q_ann_pq index-derived oracles (and q_semantic_dedup
    // / q_cluster_balance / q_cluster_purity, which share the IVF
    // centroids) exist only once their seeded index was trained in this
    // JVM (Vectors.oracle). A subset run that left them out still builds
    // them (result discarded), so its oracle_sql.json carries the same
    // keys as a full run's instead of silently downgrading them to
    // rows-only at the driver.
    if (only.nonEmpty)
      Seq("q_ann_ivf", "q_ann_pq").filterNot(only).foreach { n =>
        try SparkEntry.queries(n)(spark, sfDir).count()
        catch { case scala.util.control.NonFatal(_) => () }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
