package graft

/** Iteration helper: time named queries (min of N, like Bench) on a
  * given corpus without running the whole battery, on the judged
  * session (SessionTuning.session) — a solo re-time never runs a
  * session the bench does not.
  * Usage: runMain graft.TimeOne <sfDir> <query> [<query> ...]
  *
  * Carries the SAME attribution instruments as the Bench battery
  * (VERDICT r14 #4: a solo re-time without a window normalizer cannot
  * be compared to a battery `corrected` value, which is exactly how
  * the q_graph_cc / q_butterfly disputes stayed unresolvable):
  *  - the fixed CPU probe (range→hash→sum, the Bench noise index)
  *    BRACKETS every query, so a spot-check self-reports its window —
  *    compare the bracket to the quiet floor in BASELINE.md before
  *    comparing walls;
  *  - three-way wall/cpu/gc per run (see BASELINE.md "fourth read");
  *  - GRAFT_TIMEONE_RUNS (default 2) for warmth studies: every run's
  *    wall/cpu prints, so JIT convergence across repeats is visible
  *    (the battery runs 304 queries before the disputed ones — a
  *    2-run solo session measures a colder JVM by construction). */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val nRuns = sys.env.get("GRAFT_TIMEONE_RUNS").flatMap(_.toIntOption).getOrElse(2)
    val spark = SessionTuning.session(sfDir, SessionTuning.cpus)
    // same three-way read as Bench (wall/cpu/gc) so a solo re-time
    // carries its own attribution — see BASELINE.md "fourth read"
    val osBean: Option[com.sun.management.OperatingSystemMXBean] =
      try Some(java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean])
      catch { case _: Throwable => None }
    def cpuNow(): Long =
      try osBean.map(_.getProcessCpuTime).getOrElse(-1L)
      catch { case _: Throwable => -1L }
    import scala.jdk.CollectionConverters._
    def gcMsNow(): Long =
      try java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
      catch { case _: Throwable => -1L }
    // STAGE PROFILE (GRAFT_TIMEONE_STAGES=true): per-stage wall /
    // task-time / shuffle volumes via a listener — the no-UI substitute
    // for the Spark UI's stage page (optimization guide §7.1). Job
    // count per query prints too: iterative queries pay a fixed
    // scheduling+planning cost per job, so "jobs 18 → 9" is itself a
    // finding at small SF.
    val stagesOn = sys.env.get("GRAFT_TIMEONE_STAGES").contains("true")
    val jobCount = new java.util.concurrent.atomic.AtomicInteger
    case class StageRow(id: Int, name: String, wallMs: Long, taskMs: Long,
      records: Long, shufReadMb: Double, shufWriteMb: Double, tasks: Int)
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    if (stagesOn) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobCount.incrementAndGet()
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val m = si.taskMetrics
          if (m != null) {
            val wall = (for {a <- si.completionTime; b <- si.submissionTime}
              yield a - b).getOrElse(-1L)
            stageRows.add(StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(80),
              wall, m.executorRunTime, m.inputMetrics.recordsRead,
              m.shuffleReadMetrics.remoteBytesRead / 1048576.0 +
                m.shuffleReadMetrics.localBytesRead / 1048576.0,
              m.shuffleWriteMetrics.bytesWritten / 1048576.0, si.numTasks))
          }
        }
      })
    }
    // the EXACT probe Bench interleaves (fixed plan, input-independent)
    // so a TimeOne bracket is directly comparable to BENCH noise floors
    def probeOnce(): Double =
      try {
        val t0 = System.nanoTime()
        spark.range(1L << 24).selectExpr("sum(cast(hash(id) as bigint))").collect()
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
    probeOnce() // JIT/codegen warm; untimed
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val pBefore = probeOnce()
      var bestJobs = 0
      var bestStages: Seq[StageRow] = Nil
      var bestWall = Double.MaxValue
      val runs = (1 to nRuns).map { _ =>
        if (stagesOn) { // profile every run; keep the min-wall run's rows
          org.apache.spark.GraftSparkBridge.waitListenerBusEmpty(
            spark.sparkContext, 10000L)
          stageRows.clear(); jobCount.set(0)
        }
        val c0 = cpuNow(); val g0 = gcMsNow(); val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        if (stagesOn && wall < bestWall) {
          org.apache.spark.GraftSparkBridge.waitListenerBusEmpty(
            spark.sparkContext, 10000L)
          bestWall = wall; bestJobs = jobCount.get()
          import scala.jdk.CollectionConverters._
          bestStages = stageRows.asScala.toSeq
        }
        (wall, (cpuNow() - c0) / 1e9, (gcMsNow() - g0) / 1e3)
      }
      val pAfter = probeOnce()
      if (stagesOn) {
        val rows = bestStages.sortBy(-_.wallMs)
        println(f"[stages] $n jobs=$bestJobs stages=${rows.size} " +
          f"(min-wall run; taskMs=Σ executor run time)")
        rows.take(14).foreach { r =>
          println(f"[stages]   #${r.id}%-4d wall=${r.wallMs}%5dms task=${r.taskMs}%6dms " +
            f"tasks=${r.tasks}%4d in=${r.records}%9d sr=${r.shufReadMb}%7.1fMB " +
            f"sw=${r.shufWriteMb}%7.1fMB ${r.name}")
        }
      }
      val best = runs.minBy(_._1)
      println(f"[time-one] $n min=${best._1}%.2f cpu=${best._2}%.2f gc=${best._3}%.2f " +
        f"probes=[${pBefore}%.3f,${pAfter}%.3f] " +
        "runs=" + runs.map(r => f"${r._1}%.2f/${r._2}%.2f").mkString(","))
    }
    spark.stop()
  }
}
