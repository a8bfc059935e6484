package graft

import org.scalatest.funsuite.AnyFunSuite

import SourceScan.{filesContaining, mainRoot}

/** Source-scan guard against re-forking the judged session: mains build
  * it through SessionTuning.session (SynthScale, which generates corpora
  * and judges no query, keeps its own), and query code reads no process
  * environment, so a query's plan depends only on its session. */
class OneSessionSpec extends AnyFunSuite {

  test("SparkSession.builder appears only in SessionTuning and SynthScale") {
    assert(filesContaining(mainRoot, "SparkSession.builder") ==
      Seq("graft/SessionTuning.scala", "graft/SynthScale.scala"))
  }

  test("query code reads no environment variables") {
    assert(filesContaining(mainRoot.resolve("graft/queries"),
      "sys.env", "System.getenv").isEmpty)
  }
}
