package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import SourceScan.{mainRoot, scalaFiles}

/** Source-scan guard against re-forking the table layer's read path:
  * `GraftTable.planFilters` is the one file planner, and one live-row
  * reader applies a snapshot's positional deletes and deletion vectors
  * (the anti-join on `_graft_dfp`). A hand-copied twin drifts from the
  * original without changing any result the specs see. */
class OneReadPathSpec extends AnyFunSuite {

  private val table = mainRoot.resolve("graft/table")

  test("the positional-delete anti-join appears once in the table layer") {
    val antiJoin = "\"_graft_dfp\"[^\n]*\"left_anti\"".r
    val hits = scalaFiles(table).map { f =>
      mainRoot.relativize(f).toString -> antiJoin.findAllIn(Files.readString(f)).size
    }.filter(_._2 > 0)
    assert(hits == Seq("graft/table/GraftTable.scala" -> 1))
  }

  test("DELETE, UPDATE and MERGE share one copy-on-write rewrite") {
    val text = Files.readString(table.resolve("GraftTable.scala"))
    // the definition plus its one call site
    assert("matchAffected\\(".r.findAllIn(text).size == 2)
    val merge = text.substring(text.indexOf("def merge("), text.indexOf("def mergeInto("))
    assert(!merge.contains("readLive("))
  }

  test("GraftTable defines no special-case planner") {
    val text = Files.readString(table.resolve("GraftTable.scala"))
    Seq("planDayRange", "readDayRange", "planColRange", "readColRange")
      .foreach(name => assert(!text.contains(s"def $name"), name))
  }
}
