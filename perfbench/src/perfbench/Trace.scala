package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One time base for the whole run: seconds since harness start. Spark
  * reports stage and Catalyst phase times in epoch milliseconds, so those
  * are mapped onto the same axis. */
object Clock {
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - nano0) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - epochMs0) / 1e3
}

/** A traced interval. `op` ties every span of one benchmark operation
  * together; `parent` is the span that caused it (0 for an op span). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    t0: Double, t1: Double, attrs: Map[String, Any]) {
  def fields: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
    "t0" -> t0, "t1" -> t1, "attrs" -> attrs)
}

/** Outside-in tracer: Spark's public listener interfaces only. Jobs carry
  * the op id as a local property set on the client thread, so stages and
  * their task metrics are attributed to the op that launched them;
  * Catalyst phases come from the QueryExecution tracker of each executed
  * query and are attributed by time (one client thread, so at most one op
  * is open at any instant). Everything stays in memory until the end. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val ids = new AtomicLong(1L)
  def nextId(): Long = ids.getAndIncrement()
  val spans = new ConcurrentLinkedQueue[Span]()

  private final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var inRecords = 0L; var shufWBytes = 0L
    var shufWRecords = 0L; var fetchWaitMs = 0L; var spill = 0L
    var outRecords = 0L
  }
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpProperty)))
      .map(_.toLong).getOrElse(0L)
    val jobSpan = nextId()
    jobStart.put(e.jobId, (op, jobSpan, Clock.fromEpochMs(e.time)))
    e.stageIds.foreach(s => stageOp.put(s, (op, jobSpan)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (op, span, t0) =>
      spans.add(Span(span, op, op, "job", t0, Clock.fromEpochMs(e.time), Map("job_id" -> e.jobId)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
        a.shufWBytes += m.shuffleWriteMetrics.bytesWritten
        a.shufWRecords += m.shuffleWriteMetrics.recordsWritten
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val (op, jobSpan) = Option(stageOp.get(info.stageId)).getOrElse((0L, 0L))
    val a = Option(stageAgg.remove(info.stageId)).getOrElse(new StageAgg)
    for (t0 <- info.submissionTime; t1 <- info.completionTime)
      spans.add(Span(nextId(), jobSpan, op, "stage", Clock.fromEpochMs(t0), Clock.fromEpochMs(t1),
        Map("stage_id" -> info.stageId, "tasks" -> a.tasks, "task_run_s" -> a.runMs / 1e3,
          "task_cpu_s" -> a.cpuNs / 1e9, "task_gc_s" -> a.gcMs / 1e3,
          "scan_bytes" -> a.inBytes, "scan_records" -> a.inRecords,
          "shuffle_write_bytes" -> a.shufWBytes, "shuffle_records" -> a.shufWRecords,
          "shuffle_fetch_wait_s" -> a.fetchWaitMs / 1e3, "spill_bytes" -> a.spill,
          "output_records" -> a.outRecords,
          "failed" -> info.failureReason.isDefined)))
  }

  private def phases(funcName: String, qe: QueryExecution): Unit = {
    val execution = nextId()
    qe.tracker.phases.foreach { case (phase, ps) =>
      spans.add(Span(nextId(), 0L, 0L, "catalyst." + phase,
        Clock.fromEpochMs(ps.startTimeMs), Clock.fromEpochMs(ps.endTimeMs),
        Map("func" -> funcName, "execution" -> execution)))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(funcName, qe)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Deliver every pending listener event, then stop listening. */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.GraftSparkBridge.waitListenerBusEmpty(spark.sparkContext, 30000L)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

object Tracer {
  val OpProperty = "perfbench.op"
}
