package graft

import java.nio.file.{Files, Paths}

/** Plan-evidence dumper for the optimization rounds: writes
  * `.explain("formatted")` for named queries to files, so plan claims in
  * OPTIMIZATION_r*.md are checkable without running Spark.
  * Usage: runMain graft.ExplainOne <sfDir> <outDir> <suffix> <q> [<q> ...]
  * Writes <outDir>/<q>_<suffix>.txt per query. Runs the judged session
  * (SessionTuning.session), so the dumped plan is the one the bench
  * actually runs. */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3)
    val spark = SessionTuning.session(sfDir, SessionTuning.cpus)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), plan)
        println(s"[explain-one] wrote $outDir/${n}_$suffix.txt (${plan.length} chars)")
      } catch { case e: Throwable =>
        println(s"[explain-one] $n FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
