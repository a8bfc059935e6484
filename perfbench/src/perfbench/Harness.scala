package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop benchmark client for the graft engine: one client thread
  * in one process on local[4], issuing the next operation only when the
  * previous one has completed. Every timed operation is fully
  * materialized (noop sink for queries; commands run to completion).
  *
  * The harness measures each layer from outside: it times its own calls
  * into the engine's public entry points, reads Spark's public listeners
  * (traced runs only) and the JVM MXBeans. It writes one JSON run record;
  * perfbench/metrics.py turns that record into the reported metrics. */
object Harness {

  final case class Conf(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      corpus: String, work: String, record: String, ops: Seq[String],
      expected: Map[String, (Long, String)], recordExpected: Boolean)

  /** Passes (cycles) run after the cold one to let the JIT settle before
    * the measured window. */
  val WarmupPasses = 1
  /** Measured passes (cycles) a run makes even when `--seconds` is short. */
  val MinPasses = 2

  def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val expectedPath = kv.get("expected").filter(_.nonEmpty)
    Conf(
      workload = need("workload"), seed = need("seed").toLong,
      seconds = need("seconds").toDouble, trace = need("trace") == "1",
      corpus = need("corpus"), work = need("work"), record = need("record"),
      ops = kv.get("ops").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil),
      expected = expectedPath.filter(p => Files.exists(Paths.get(p))).map(readExpected).getOrElse(Map.empty),
      recordExpected = kv.get("record-expected").contains("1"))
  }

  /** `{"op": [rows, "hash"], ...}` as written by perfbench/record_expected.py. */
  def readExpected(path: String): Map[String, (Long, String)] =
    Json.tree(Files.readString(Paths.get(path))).fields().asScala
      .map(e => e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asText)).toMap

  /** The session graft.Bench judges: local[4], AQE pre-coalesce width from
    * SessionTuning.initialParts, bypass-merge threshold 8, the graft SQL
    * extensions, UTC. Spill and warehouse directories stay in the work dir. */
  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.SessionTuning.initialParts(c.corpus, 4).toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val corpusTables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  /** Read every corpus file once so no op pays a page-cache miss. Reader
    * codegen and JIT stay in the cold pass, where they belong. */
  def preRead(corpus: String): Long =
    corpusTables.map(t => Files.readAllBytes(Paths.get(s"$corpus/$t.parquet")).length.toLong).sum

  /** Bench's host-noise probe: one fixed CPU-bound query. */
  def noiseProbe(spark: SparkSession): Double = {
    val t0 = Clock.now()
    spark.range(1L << 24).selectExpr("sum(cast(hash(id) as bigint))").collect()
    Clock.now() - t0
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    Files.createDirectories(Paths.get(c.work))
    val run = new Run(c)
    val ok =
      try {
        c.workload match {
          case "analytic" => Analytic.run(run)
          case "lakehouse" => Lakehouse.run(run)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        true
      } catch {
        case e: Throwable =>
          run.fatal = Some(s"${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          false
      }
    run.write()
    run.spark.foreach(_.stop())
    // daemon threads (streaming, cleaners) must not keep the JVM alive
    System.exit(if (ok) 0 else 1)
  }
}

/** One operation as the client saw it. Times are [[Clock]] seconds;
  * `buildEnd` marks where the builder returned and the action began. */
final case class OpRec(id: Long, name: String, kind: String, pass: Int, phase: String,
    t0: Double, buildEnd: Double, t1: Double, error: Option[String],
    scratchBuilds: Int, scratchBuildS: Double, extra: Map[String, Any]) {
  def fields: Map[String, Any] = Map(
    "id" -> id, "name" -> name, "kind" -> kind, "pass" -> pass, "phase" -> phase,
    "t0" -> t0, "build_end" -> buildEnd, "t1" -> t1, "error" -> error,
    "scratch_builds" -> scratchBuilds, "scratch_build_s" -> scratchBuildS) ++ extra
}

/** A pass (olap/iterative) or a cycle (lakehouse), with the process CPU
  * and collector time spent in it. */
final case class PassRec(index: Int, phase: String, t0: Double, t1: Double,
    cpuS: Double, gcS: Double, traced: Boolean) {
  def fields: Map[String, Any] = Map("index" -> index, "phase" -> phase, "t0" -> t0,
    "t1" -> t1, "cpu_s" -> cpuS, "gc_s" -> gcS, "traced" -> traced)
}

/** Mutable state of one benchmark run and the instruments around it. */
final class Run(val c: Harness.Conf) {
  var spark: Option[SparkSession] = None
  var setupS = Double.NaN
  val ops = ArrayBuffer[OpRec]()
  val passes = ArrayBuffer[PassRec]()
  val checks = ArrayBuffer[Map[String, Any]]()
  val probes = ArrayBuffer[Double]()
  val info = scala.collection.mutable.LinkedHashMap[String, Any]()
  var fatal: Option[String] = None
  var tracer: Option[Tracer] = None
  private var nextOp = 1L
  private var heapPeakMb = 0.0

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNow(): Double = osBean.getProcessCpuTime / 1e9
  def gcNow(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.isValid)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def readHeapPeak(): Unit =
    heapPeakMb = math.max(heapPeakMb, heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)

  def s: SparkSession = spark.get

  /** Starts the session, pre-reads the corpus and runs the workload's own
    * set-up. Timed from JVM start, so set-up covers the boot, class loading,
    * the first SparkContext and the graft extensions. */
  def setUp(extra: SparkSession => Unit): Unit = {
    val t0 = Clock.fromEpochMs(ManagementFactory.getRuntimeMXBean.getStartTime)
    val ts = Clock.now()
    val sp = Harness.session(c)
    spark = Some(sp)
    val tr = Clock.now()
    Harness.preRead(c.corpus)
    val te = Clock.now()
    extra(sp)
    val t1 = Clock.now()
    setupS = t1 - t0
    info("setup_parts") = Map("jvm_s" -> (ts - t0), "session_s" -> (tr - ts), "pre_read_s" -> (te - tr),
      "workload_s" -> (t1 - te))
  }

  /** Times `body` as one op. `body` returns the time its builder
    * returned (the start of its action). */
  def op(name: String, kind: String, pass: Int, phase: String)(
      body: => Double): OpRec = {
    val id = nextOp; nextOp += 1
    s.sparkContext.setLocalProperty(Tracer.OpProperty, id.toString)
    val before = graft.Scratch.buildTimes.size
    val t0 = Clock.now()
    var buildEnd = t0
    val err =
      try { buildEnd = body; None }
      catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(400)}") }
    val t1 = Clock.now()
    s.sparkContext.setLocalProperty(Tracer.OpProperty, null)
    val built = graft.Scratch.buildTimes.drop(before)
    val rec = OpRec(id, name, kind, pass, phase, t0, math.min(buildEnd, t1), t1, err,
      built.size, built.map(_._2).sum, Map.empty)
    ops += rec
    rec
  }

  def amend(rec: OpRec, extra: Map[String, Any]): Unit = {
    val i = ops.lastIndexWhere(_.id == rec.id)
    ops(i) = rec.copy(extra = rec.extra ++ extra)
  }

  private var paused = (0.0, 0.0, 0.0)

  /** Work inside a pass that the pass's wall, CPU and GC times exclude
    * (output checks). */
  def untimed[T](body: => T): T = {
    val c0 = cpuNow(); val g0 = gcNow(); val t0 = Clock.now()
    try body
    finally paused = (paused._1 + Clock.now() - t0, paused._2 + cpuNow() - c0, paused._3 + gcNow() - g0)
  }

  /** Runs one pass/cycle and records its wall, CPU and GC time. */
  def pass(index: Int, phase: String)(body: => Unit): PassRec = {
    val traced = tracing
    paused = (0.0, 0.0, 0.0)
    val c0 = cpuNow(); val g0 = gcNow(); val t0 = Clock.now()
    body
    val (pw, pc, pg) = paused
    val p = PassRec(index, phase, t0, Clock.now() - pw, cpuNow() - c0 - pc, gcNow() - g0 - pg, traced)
    if (traced) readHeapPeak()
    passes += p
    p
  }

  /** True while the listeners are attached (traced passes only). */
  var tracing = false

  /** The measured window: passes until `c.seconds` have elapsed and at
    * least [[Harness.MinPasses]] have run. A traced run interleaves untraced
    * ("warm") and traced passes in untraced-traced-traced-untraced blocks,
    * so a JIT warm-up trend falls equally on both and their difference is
    * the tracing overhead. */
  def window(body: (Int, String) => Unit): Unit = {
    val start = Clock.now()
    var n = 0
    def more = n < Harness.MinPasses || Clock.now() - start < c.seconds || (c.trace && n % 4 != 0)
    while (more) {
      val traced = c.trace && (n % 4 == 1 || n % 4 == 2)
      if (traced) traceOn()
      try body(n, if (traced) "traced" else "warm")
      finally if (traced) traceOff()
      n += 1
    }
  }

  private def traceOn(): Unit = {
    val t = tracer.getOrElse { val t = new Tracer; tracer = Some(t); t }
    t.attach(s)
    tracing = true
    resetHeapPeak()
  }

  private def traceOff(): Unit = {
    tracing = false
    tracer.foreach(_.detach(s))
  }

  def check(op: String, ok: Boolean, detail: Map[String, Any]): Unit =
    checks += Map("op" -> op, "ok" -> ok) ++ detail

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def vmHwmMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }

  def write(): Unit = {
    if (tracing) traceOff()
    val spans = tracer.map(_.all).getOrElse(Nil)
    val rt = Runtime.getRuntime
    Files.writeString(Paths.get(c.record), Json.value(Map(
      "workload" -> c.workload, "seed" -> c.seed, "seconds" -> c.seconds, "trace" -> c.trace,
      "corpus" -> c.corpus, "ops_list" -> c.ops, "fatal" -> fatal,
      "setup_s" -> setupS, "noise_probe_s" -> probes.toSeq,
      "peak_rss_mb" -> vmHwmMb(), "heap_peak_mb" -> heapPeakMb,
      "provenance" -> Map(
        "nproc" -> rt.availableProcessors(), "heap_max_mb" -> rt.maxMemory() / 1048576.0,
        "spark_version" -> org.apache.spark.SPARK_VERSION,
        "java_version" -> System.getProperty("java.version")),
      "info" -> info.toMap,
      "checks" -> checks.toSeq,
      "passes" -> passes.map(_.fields).toSeq,
      "ops" -> ops.map(_.fields).toSeq,
      "spans" -> spans.map(_.fields))))
  }
}
