package graft

import org.apache.spark.sql.AnalysisException

/** `Tables.parquet` plans a read with the schema Spark would infer, and
  * without the job Spark's inference runs. */
class TablesParquetSpec extends SparkTestBase {

  private val corpus = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def sameAsSpark(path: String): Unit = {
    var df: org.apache.spark.sql.DataFrame = null
    assert(SparkJobs.count(spark) { df = Tables.parquet(spark, path) } === 0, path)
    assert(df.schema === spark.read.parquet(path).schema, path)
  }

  test("corpus tables: Spark's inferred schema, no job to build the read") {
    // events.ts reads as BIGINT only once Tables.events has set nanosAsLong
    Tables.events(spark, sfDir)
    corpus.foreach(t => sameAsSpark(s"$sfDir/$t.parquet"))
  }

  test("a Scratch artifact directory: Spark's inferred schema, no job") {
    val dir = queries.Vectors.bandCellsPath(spark, sfDir)
    assert(new java.io.File(dir).list().count(_.endsWith(".parquet")) >= 1)
    sameAsSpark(dir)
    assert(Tables.parquet(spark, dir).count() === spark.read.parquet(dir).count())
  }

  test("a path with no footer fails with Spark's own error") {
    val missing = Scratch.fresh("tables_spec").resolve("absent").toString
    val empty = Scratch.fresh("tables_spec_empty").toString
    Seq(missing, empty).foreach { p =>
      val ours = intercept[AnalysisException](Tables.parquet(spark, p))
      val sparks = intercept[AnalysisException](spark.read.parquet(p))
      assert(ours.getCondition === sparks.getCondition, p)
    }
  }
}
