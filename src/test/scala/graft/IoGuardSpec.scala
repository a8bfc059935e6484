package graft

import org.scalatest.funsuite.AnyFunSuite

import SourceScan.{filesContaining, filesWhere, mainRoot}

/** Source-scan guard against two silent slowdowns: results stay correct
  * and only the driver gets slower, so nothing else would catch them.
  *  - One-argument `ParquetFileReader.open(inputFile)` builds a fresh
  *    Hadoop `Configuration` (re-parsing core-default.xml) per footer;
  *    opens pass read options built over `GraftIO.conf`.
  *  - Hadoop `FileSystem.listFiles` wraps each entry in a
  *    `LocatedFileStatus`, which on the local filesystem forks a
  *    permission probe per file; the table layer lists through
  *    `GraftIO.listFilesRecursive`. Scoped to graft/table: elsewhere
  *    `java.io.File.listFiles()` is an unrelated local call. */
class IoGuardSpec extends AnyFunSuite {

  /** Does `text` call `ParquetFileReader.open` with a single argument?
    * Matches each call's parenthesis and looks for a top-level comma. */
  private def oneArgParquetOpen(text: String): Boolean = {
    val call = "ParquetFileReader.open("
    Iterator.iterate(text.indexOf(call))(i => text.indexOf(call, i + 1))
      .takeWhile(_ >= 0)
      .exists { i =>
        var j = i + call.length
        var depth = 1
        var comma = false
        while (j < text.length && depth > 0) {
          text.charAt(j) match {
            case '(' | '[' | '{' => depth += 1
            case ')' | ']' | '}' => depth -= 1
            case ',' if depth == 1 => comma = true
            case _ => ()
          }
          j += 1
        }
        !comma
      }
  }

  test("the guard's call matcher tells one-argument opens from two-argument ones") {
    assert(oneArgParquetOpen("ParquetFileReader.open(\n  HadoopInputFile.fromStatus(st, conf))"))
    assert(!oneArgParquetOpen("ParquetFileReader.open(\n  HadoopInputFile.fromStatus(st, conf), opts)"))
    assert(oneArgParquetOpen("ParquetFileReader.open(f, o); ParquetFileReader.open(g(x, y))"))
  }

  test("no one-argument ParquetFileReader.open in main sources") {
    assert(filesWhere(mainRoot)(oneArgParquetOpen).isEmpty)
  }

  test("the table layer never calls Hadoop listFiles") {
    assert(filesContaining(mainRoot.resolve("graft/table"), ".listFiles(").isEmpty)
  }
}
