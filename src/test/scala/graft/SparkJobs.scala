package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block submits from the calling thread. */
object SparkJobs {

  private val probes = new AtomicInteger

  /** Job-start events reach listeners asynchronously but in order, so a
    * marker job's start event fences every job the block ran. */
  def count(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-job-probe-${probes.incrementAndGet()}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)  => jobs.incrementAndGet()
          case Some(`marker`) => fenced.countDown()
          case _              => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(30, TimeUnit.SECONDS), "fence job never seen")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
