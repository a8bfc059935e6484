package graft

import org.scalatest.funsuite.AnyFunSuite

import SourceScan.{filesWhere, mainRoot}

/** Source-scan guard against schema-inference jobs coming back: query
  * code reads parquet through `Tables.parquet`, which plans a read
  * without Spark's one-task inference job. Only `Tables` itself and
  * `SynthScale` (corpus generation, on its own session) call Spark's
  * reader; `graft/table` reads its files with explicit schemas. */
class OneParquetReaderSpec extends AnyFunSuite {

  private val sparkRead = """\.read\s*\.parquet\(""".r

  test("the guard's matcher sees reads split across lines") {
    assert(sparkRead.findFirstIn("s.read\n  .parquet(p)").isDefined)
    assert(sparkRead.findFirstIn("Tables.parquet(s, p)").isEmpty)
  }

  test(".read.parquet( appears outside graft/table only in Tables and SynthScale") {
    val hits = filesWhere(mainRoot)(sparkRead.findFirstIn(_).isDefined)
      .filterNot(_.startsWith("graft/table/"))
    assert(hits == Seq("graft/SynthScale.scala", "graft/Tables.scala"))
  }
}
