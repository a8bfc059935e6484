package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the judged session
  * (SessionTuning.session) over the sf0.001 corpus on 4 cores, so specs
  * check the plan shapes the bench and Verify actually run. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  def sfDir: String = SparkTestBase.sfDir

  /** A new session over the judged session's context with `confs` set
    * on top of the judged conf, so a variant never mutates the shared
    * session. */
  def variant(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}

object SparkTestBase {
  val sfDir = "/root/testdata/sf0.001"
  lazy val session: SparkSession = SessionTuning.session(sfDir, 4)
}
