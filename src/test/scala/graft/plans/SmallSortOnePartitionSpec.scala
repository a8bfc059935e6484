package graft.plans

import graft.{SparkEntry, SparkJobs, SparkTestBase}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.functions.col

/** `SmallSortOnePartition` on the judged session: a small presentation
  * sort runs in one partition without the range exchange's sampling job,
  * larger or AQE-off plans keep Spark's plan, and no result changes. */
class SmallSortOnePartitionSpec extends SparkTestBase {

  private lazy val ruleOff =
    variant("spark.sql.optimizer.excludedRules" -> SmallSortOnePartition.ruleName)

  private def q(name: String) = SparkEntry.queries(name)

  /** The executed plan after the action ran (AQE's final plan). */
  private def executed(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** The physical plan before anything runs (AQE's initial plan). */
  private def planned(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("q_try_cast's presentation sort plans no range exchange and runs one job fewer") {
    assert(ruleOff.conf.get("spark.sql.shuffle.partitions") ===
      spark.conf.get("spark.sql.shuffle.partitions"))
    val p = executed(q("q_try_cast")(spark, sfDir))
    assert(!p.contains("rangepartitioning"), p)
    assert(executed(q("q_try_cast")(ruleOff, sfDir)).contains("Exchange rangepartitioning"))
    val on = SparkJobs.count(spark)(q("q_try_cast")(spark, sfDir).collect())
    val off = SparkJobs.count(ruleOff)(q("q_try_cast")(ruleOff, sfDir).collect())
    assert(on === off - 1, s"jobs with the rule: $on, without: $off")
  }

  test("the rule adds one Repartition(1) and is idempotent") {
    val opt = q("q_try_cast")(spark, sfDir).queryExecution.optimizedPlan
    val added = opt.collect { case r: Repartition => r }
    assert(added.map(r => (r.numPartitions, r.shuffle)) === Seq((1, true)), opt)
    assert(SmallSortOnePartition(opt) eq opt)
  }

  test("above the gate, with coalescing or AQE off, and for a huge input, the range exchange stays") {
    val gateClosed = variant("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1")
    val noCoalesce = variant("spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val aqeOff = variant("spark.sql.adaptive.enabled" -> "false")
    val plans = Seq(gateClosed, noCoalesce, aqeOff).map(s => planned(q("q_try_cast")(s, sfDir))) :+
      planned(spark.range(1L << 40).toDF().orderBy(col("id").desc))
    plans.foreach { p =>
      assert(p.contains("Exchange rangepartitioning"), p)
      assert(!p.contains("REPARTITION_BY_NUM"), p)
    }
  }

  test("a sort under a limit keeps planning as TakeOrderedAndProject") {
    val p = executed(q("q_tpch_q3")(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("REPARTITION_BY_NUM"), p)
  }

  /** The sort keys of `df`'s presentation sort, as output column indexes. */
  private def sortKeys(df: DataFrame): Seq[Int] = {
    val out = df.queryExecution.analyzed.output
    val keys = df.queryExecution.optimizedPlan
      .collectFirst { case s: Sort if s.global => s.order.map(_.child) }.getOrElse(Nil)
    keys.map {
      case a: Attribute => out.indexWhere(_.exprId == a.exprId)
      case e => fail(s"sort key $e is not an output column")
    }
  }

  private def rows(df: DataFrame): Array[Row] = df.collect()
  private def content(rs: Array[Row]): Seq[String] = rs.map(_.toString).sorted.toSeq

  test("results equal with the rule excluded, and sorted keys in the same order") {
    Seq("q_tpch_q3", "q_try_cast", "q_approx_percentile", "q_window_rank").foreach { n =>
      assert(content(rows(q(n)(spark, sfDir))) === content(rows(q(n)(ruleOff, sfDir))), n)
    }
    // tied sort keys: the order within a tie is not specified, the
    // content and the order of the keys are
    Seq("q_intersect_all", "q_cast_types").foreach { n =>
      val df = q(n)(spark, sfDir)
      assert(planned(df).contains("REPARTITION_BY_NUM"), n)
      val keys = sortKeys(df)
      val (on, off) = (rows(df), rows(q(n)(ruleOff, sfDir)))
      val keyed = (rs: Array[Row]) => rs.toSeq.map(r => keys.map(r.get))
      assert(keyed(on).distinct.size < on.length, s"$n has no tied sort keys")
      assert(content(on) === content(off), n)
      assert(keyed(on) === keyed(off), n)
    }
  }
}
