package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard against re-forking the judged session: mains build
  * it through SessionTuning.session (SynthScale, which generates corpora
  * and judges no query, keeps its own), and query code reads no process
  * environment, so a query's plan depends only on its session. */
class OneSessionSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  private def scalaFiles(under: Path): Seq[Path] = {
    assert(Files.isDirectory(under), s"source root $under not found")
    val s = Files.walk(under)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private def filesContaining(under: Path, needles: String*): Seq[String] =
    scalaFiles(under).filter { f =>
      val text = Files.readString(f)
      needles.exists(text.contains)
    }.map(f => mainRoot.relativize(f).toString).sorted

  test("SparkSession.builder appears only in SessionTuning and SynthScale") {
    assert(filesContaining(mainRoot, "SparkSession.builder") ==
      Seq("graft/SessionTuning.scala", "graft/SynthScale.scala"))
  }

  test("query code reads no environment variables") {
    assert(filesContaining(mainRoot.resolve("graft/queries"),
      "sys.env", "System.getenv").isEmpty)
  }
}
