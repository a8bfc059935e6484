package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

/** The `lakehouse` workload: the reference tutorial as SQL through the
  * DSv2 catalog (GraftCatalogPlugin) on one orders table partitioned by
  * days(ts). Set-up loads the corpus `orders` (ts spread over 16 days);
  * each cycle ingests a new day and retires the oldest, so the live table
  * keeps a steady size while files, snapshots and manifests churn:
  *
  *   2 INSERT batches, a retention DELETE of the oldest day, a row-level
  *   DELETE inside one day, an UPDATE of one customer, a MERGE upsert,
  *   a day-range and a key-range SELECT, a VERSION AS OF read of the
  *   snapshot two cycles back, then rewrite_data_files, expire_snapshots
  *   and rewrite_manifests.
  *
  * Cycle 0 (cold) also runs ADD COLUMN and ADD PARTITION FIELD; JIT
  * warm-up cycles follow before the measured ones. The seed
  * draws every batch, predicate and merge key. Every statement is
  * replayed on an in-memory model; untimed checks compare the model with
  * every VERSION AS OF read, the row count after each cycle and the final
  * table. */
object Lakehouse {
  val Catalog = "lh"
  val Table = s"$Catalog.db.orders"
  val LiveDays = 8
  private val DaySec = 86400L
  private val Day0Sec = java.time.LocalDate.parse("2024-01-01").toEpochDay * DaySec
  private def dayTs(d: Int): String =
    java.time.LocalDate.ofEpochDay(Day0Sec / DaySec + d).toString + " 00:00:00"

  /** One table row; `channel` is the column ADD COLUMN introduces. */
  final case class Rec(key: Long, cust: Long, status: String, price: Double,
      prio: String, tsSec: Long, channel: String) {
    def row: Row = Row(key, cust, status, price, prio, tsSec * 1000000L, channel)
    def userBytes: Long = 8 + 8 + status.length + 8 + prio.length + 8 +
      Option(channel).map(_.length).getOrElse(0)
  }

  private val batchSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType), StructField("ts", TimestampType),
    StructField("channel", StringType)))
  private val cols = batchSchema.fieldNames.mkString(", ")
  private val checkCols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
    "o_orderpriority, unix_micros(ts) AS ts, channel"

  private val baseTs =
    s"timestampadd(SECOND, pmod(o_orderkey * 7919, ${LiveDays * DaySec}), TIMESTAMP '${dayTs(0)}')"

  def run(r: Run): Unit = {
    val c = r.c
    val wh = Files.createDirectories(java.nio.file.Paths.get(c.work, "wh"))
    r.setUp { sp =>
      sp.conf.set(s"spark.sql.catalog.$Catalog", classOf[graft.spark.GraftCatalogPlugin].getName)
      sp.conf.set(s"spark.sql.catalog.$Catalog.warehouse", wh.toString)
      sp.sql(s"CREATE NAMESPACE IF NOT EXISTS $Catalog.db")
      sp.sql(s"""CREATE TABLE $Table (o_orderkey BIGINT, o_custkey BIGINT,
        o_orderstatus STRING, o_totalprice DOUBLE, o_orderpriority STRING, ts TIMESTAMP)
        PARTITIONED BY (days(ts))""")
      sp.sql(s"""INSERT INTO $Table SELECT o_orderkey, o_custkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE), o_orderpriority, $baseTs
        FROM parquet.`${c.corpus}/orders.parquet`""")
    }
    val s = r.s
    val table = new graft.table.GraftCatalog(wh).load("db.orders")
    Harness.noiseProbe(s)
    r.probes += Harness.noiseProbe(s)

    // the model starts from the same base rows, read by plain Spark
    val model = mutable.HashMap[Long, Rec]()
    s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus, CAST(o_totalprice AS DOUBLE),
        o_orderpriority, unix_seconds($baseTs) FROM parquet.`${c.corpus}/orders.parquet`""")
      .collect().foreach(x => model(x.getLong(0)) =
        Rec(x.getLong(0), x.getLong(1), x.getString(2), x.getDouble(3), x.getString(4), x.getLong(5), null))
    val maxCust = model.values.map(_.cust).max
    var nextKey = model.keys.max + 1
    val rnd = new scala.util.Random(c.seed)
    val statuses = Array("O", "F", "P")
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val channels = Array("web", "store", "app")
    def price(): Double = rnd.nextInt(50000000) / 100.0
    def fresh(day: Int): Rec = {
      val k = nextKey; nextKey += 1
      Rec(k, 1 + rnd.nextInt(maxCust.toInt), statuses(rnd.nextInt(3)), price(),
        prios(rnd.nextInt(5)), Day0Sec + day * DaySec + rnd.nextInt(DaySec.toInt),
        channels(rnd.nextInt(3)))
    }
    def view(name: String, recs: Seq[Rec]): Unit =
      s.createDataFrame(recs.map { x =>
        Row(x.key, x.cust, x.status, x.price, x.prio, new Timestamp(x.tsSec * 1000L), x.channel)
      }.asJava, batchSchema).createOrReplaceTempView(name)

    def digestOf(sql: String): Check.Digest = Check.ofRows(s.sql(sql).collect())
    def modelDigest(m: Iterable[Rec]): Check.Digest = Check.digest(m.iterator.map(x => Check.canon(x.row)))

    // traced runs: table-layer probes through GraftTable.meta, planFilters
    // and the table directory, made after each op (outside its wall time)
    var listing = Map.empty[String, Long]
    def tableProbe(kind: String, filters: Seq[sources.Filter]): Map[String, Any] = {
      val t0 = Clock.now()
      val m = new graft.table.GraftCatalog(wh).load("db.orders").meta
      val t1 = Clock.now()
      val files = m.currentSnapshot.map(_.manifest).getOrElse(Nil)
      val planned =
        if (filters.isEmpty) None
        else {
          val p0 = Clock.now()
          val n = table.planFilters(m, filters).size
          Some((Clock.now() - p0, n))
        }
      val now = listFiles(table.localDir)
      val written = now.collect { case (p, b) if !listing.get(p).contains(b) => b }.sum
      listing = now
      val live = files.map(f => f.sizeBytes.getOrElse(0L)).sum
      val snap = m.currentSnapshot
      Map("table" -> (Map[String, Any](
        "meta_load_s" -> (t1 - t0),
        "files_total" -> files.size,
        "snapshots" -> m.snapshots.size,
        "data_files" -> now.keys.count(isData),
        "delete_files" -> (snap.map(x => x.allDeleteFiles.size + x.allEqDeleteFiles.size +
          x.allDeleteVectors.size).getOrElse(0)),
        "meta_files" -> now.keys.count(p => !isData(p)),
        "data_bytes" -> now.collect { case (p, b) if isData(p) => b }.sum,
        "meta_bytes" -> now.collect { case (p, b) if !isData(p) => b }.sum,
        "live_bytes" -> live,
        "bytes_written" -> written,
        "rewrite_bytes" -> (if (kind == "maintenance") written else 0L)) ++
        planned.map { case (sec, n) => Map("plan_s" -> sec, "files_planned" -> n) }.getOrElse(Map.empty)))
    }

    def sqlOp(name: String, kind: String, cycle: Int, phase: String, text: String,
        userBytes: Long = 0L, filters: Seq[sources.Filter] = Nil,
        select: Boolean = false): OpRec = {
      val rec = r.op(name, kind, cycle, phase) {
        val b = Clock.now()
        val df = s.sql(text)
        if (select) r.noop(df) else df.collect()
        b
      }
      val extra = Map[String, Any]("user_bytes" -> userBytes) ++
        (if (r.tracing) tableProbe(kind, filters) else Map.empty)
      r.amend(rec, extra)
      rec
    }

    // end-of-cycle snapshots, read back by VERSION AS OF two cycles later
    final case class Saved(id: Long, timestampMs: Long, digest: Check.Digest, hasChannel: Boolean)
    val saved = mutable.ArrayBuffer[Saved]()
    def save(hasChannel: Boolean): Unit = {
      val snap = table.meta.currentSnapshot.get
      saved += Saved(snap.snapshotId, snap.timestampMs, modelDigest(model.values), hasChannel)
    }
    save(hasChannel = false)

    def cycle(cy: Int, phase: String): Unit = {
      val day = LiveDays + cy
      var asOfCheck: Option[Saved] = None
      r.pass(cy, phase) {
        if (cy == 0) {
          sqlOp("add_column", "ddl", cy, phase, s"ALTER TABLE $Table ADD COLUMN channel STRING")
          sqlOp("add_partition_field", "ddl", cy, phase,
            s"ALTER TABLE $Table ADD PARTITION FIELD bucket(2, o_custkey)")
        }
        for (name <- Seq("insert_a", "insert_b")) {
          val batch = Seq.fill(200)(fresh(day))
          view("pb_batch", batch)
          sqlOp(name, "commit", cy, phase, s"INSERT INTO $Table SELECT $cols FROM pb_batch",
            userBytes = batch.map(_.userBytes).sum)
          batch.foreach(x => model(x.key) = x)
        }

        val retire = Day0Sec + (cy + 1) * DaySec
        sqlOp("delete_day", "commit", cy, phase,
          s"DELETE FROM $Table WHERE ts < TIMESTAMP '${dayTs(cy + 1)}'")
        model.filterInPlace((_, x) => x.tsSec >= retire)

        val dd = cy + 1 + rnd.nextInt(LiveDays)
        val (d0, d1) = (Day0Sec + dd * DaySec, Day0Sec + (dd + 1) * DaySec)
        sqlOp("delete_rows", "commit", cy, phase,
          s"""DELETE FROM $Table WHERE ts >= TIMESTAMP '${dayTs(dd)}'
              AND ts < TIMESTAMP '${dayTs(dd + 1)}' AND o_orderstatus = 'F'""")
        model.filterInPlace((_, x) => !(x.tsSec >= d0 && x.tsSec < d1 && x.status == "F"))

        val cust = 1L + rnd.nextInt(maxCust.toInt)
        sqlOp("update", "commit", cy, phase,
          s"""UPDATE $Table SET o_orderstatus = 'P', o_totalprice = o_totalprice + 1.5
              WHERE o_custkey = $cust""")
        model.mapValuesInPlace((_, x) =>
          if (x.cust == cust) x.copy(status = "P", price = x.price + 1.5) else x)

        // upserts hit recent rows (a CDC feed), plus as many new keys
        val recent = model.keys.filter(_ >= nextKey - 1000).toSeq.sorted
        val src = rnd.shuffle(recent).take(50)
          .map(k => model(k).copy(status = statuses(rnd.nextInt(3)), price = price())) ++
          Seq.fill(50)(fresh(day))
        view("pb_merge", src)
        sqlOp("merge", "commit", cy, phase,
          s"""MERGE INTO $Table t USING pb_merge s ON t.o_orderkey = s.o_orderkey
              WHEN MATCHED THEN UPDATE SET t.o_orderstatus = s.o_orderstatus,
                t.o_totalprice = s.o_totalprice
              WHEN NOT MATCHED THEN INSERT ($cols) VALUES
                (${batchSchema.fieldNames.map("s." + _).mkString(", ")})""",
          userBytes = src.map(_.userBytes).sum)
        src.foreach { x =>
          model.get(x.key) match {
            case Some(old) => model(x.key) = old.copy(status = x.status, price = x.price)
            case None => model(x.key) = x
          }
        }

        val rd = cy + 1 + rnd.nextInt(LiveDays - 1)
        sqlOp("read_days", "read", cy, phase,
          s"""SELECT * FROM $Table WHERE ts >= TIMESTAMP '${dayTs(rd)}'
              AND ts < TIMESTAMP '${dayTs(rd + 2)}'""",
          filters = Seq(sources.GreaterThanOrEqual("ts", Timestamp.valueOf(dayTs(rd))),
            sources.LessThan("ts", Timestamp.valueOf(dayTs(rd + 2)))),
          select = true)
        val lo = 1L + rnd.nextInt((nextKey - 1).toInt)
        sqlOp("read_keys", "read", cy, phase,
          s"SELECT * FROM $Table WHERE o_orderkey BETWEEN $lo AND ${lo + 500}",
          filters = Seq(sources.GreaterThanOrEqual("o_orderkey", lo),
            sources.LessThanOrEqual("o_orderkey", lo + 500)),
          select = true)
        val target = saved(math.max(0, saved.size - 2))
        sqlOp("read_as_of", "read", cy, phase,
          s"SELECT * FROM $Table VERSION AS OF ${target.id}", select = true)
        asOfCheck = Some(target)

        sqlOp("rewrite_data_files", "maintenance", cy, phase,
          s"CALL $Catalog.system.rewrite_data_files(table => 'db.orders')")
        // keep the snapshots of the last two cycles: the next cycle reads
        // back saved.last, and this cycle's untimed check reads its target
        sqlOp("expire_snapshots", "maintenance", cy, phase,
          s"CALL $Catalog.system.expire_snapshots(table => 'db.orders', " +
            s"older_than_ms => ${target.timestampMs}L, retain_last => 1)")
        sqlOp("rewrite_manifests", "maintenance", cy, phase,
          s"CALL $Catalog.system.rewrite_manifests(table => 'db.orders')")
      }

      // untimed output checks
      asOfCheck.foreach { case Saved(snap, _, want, hasChannel) =>
        val proj = if (hasChannel) checkCols else checkCols.replace("channel", "CAST(NULL AS STRING) AS channel")
        val got = digestOf(s"SELECT $proj FROM $Table VERSION AS OF $snap")
        r.check(s"cycle$cy:read_as_of", got == want,
          Map("rows" -> got.rows, "expected_rows" -> want.rows, "hash" -> got.hex, "expected_hash" -> want.hex))
      }
      val n = s.sql(s"SELECT count(*) FROM $Table").head().getLong(0)
      r.check(s"cycle$cy:row_count", n == model.size, Map("rows" -> n, "expected_rows" -> model.size))
      save(hasChannel = true)
    }

    var cy = 0
    cycle(cy, "cold"); cy += 1
    for (_ <- 0 until Harness.WarmupPasses) { cycle(cy, "warmup"); cy += 1 }
    r.window { (_, phase) =>
      if (r.tracing) listing = listFiles(table.localDir)
      cycle(cy, phase)
      cy += 1
    }
    r.probes += Harness.noiseProbe(s)

    val want = saved.last.digest
    val got = digestOf(s"SELECT $checkCols FROM $Table")
    r.check("final_table", got == want,
      Map("rows" -> got.rows, "expected_rows" -> want.rows, "hash" -> got.hex, "expected_hash" -> want.hex))
  }

  private def isData(rel: String): Boolean = rel.endsWith(".parquet") && !rel.contains("meta/")

  /** Relative path → size of every regular file under the table dir. */
  def listFiles(dir: Path): Map[String, Long] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.size(p)).toMap
    finally walk.close()
  }
}
