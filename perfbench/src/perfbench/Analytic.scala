package perfbench

/** The `analytic` workload: a fixed list of judged `SparkEntry.queries`
  * builders (OLAP queries and iterative loop drivers), run as passes.
  *
  *  - pass 0 (cold): canonical order, first run in the process — includes
  *    `Scratch` artifact builds, codegen and JIT. Each result is collected
  *    and its row count and content hash are compared, untimed, with the
  *    expected values;
  *  - JIT warm-up passes (noop sink, canonical order, not measured);
  *  - measured passes (noop sink, [[Run.window]]), each in an order drawn
  *    from the seed. */
object Analytic {
  def run(r: Run): Unit = {
    val c = r.c
    val queries = graft.SparkEntry.queries
    require(c.ops.nonEmpty, "no ops given")
    val unknown = c.ops.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(", ")}")

    r.setUp(_ => ())
    Harness.noiseProbe(r.s) // warms the probe's own plan
    r.probes += Harness.noiseProbe(r.s)

    def timed(name: String, pass: Int, phase: String): Unit =
      r.op(name, c.workload, pass, phase) {
        val df = queries(name)(r.s, c.corpus)
        val b = Clock.now()
        r.noop(df)
        b
      }

    // cold pass: the result goes to the driver (collect, so nothing is
    // pruned) and is checked after the op's timed interval has closed
    val digests = scala.collection.mutable.LinkedHashMap[String, Seq[Any]]()
    r.pass(0, "cold") {
      c.ops.foreach { name =>
        var rows: Array[org.apache.spark.sql.Row] = null
        val rec = r.op(name, c.workload, 0, "cold") {
          val df = queries(name)(r.s, c.corpus)
          val b = Clock.now()
          rows = df.collect()
          b
        }
        r.untimed {
          rec.error match {
            case Some(e) => r.check(name, ok = false, Map("error" -> e))
            case None =>
              val d = Check.ofRows(rows)
              digests(name) = Seq(d.rows, d.hex)
              val got = Map("rows" -> d.rows, "hash" -> d.hex)
              c.expected.get(name) match {
                case Some((n, h)) =>
                  val ok = n == d.rows && (h == d.hex || h == Check.RowsOnly)
                  r.check(name, ok, got ++ Map("expected_rows" -> n, "expected_hash" -> h))
                case None =>
                  r.check(name, ok = c.recordExpected, got ++ Map("expected" -> "missing"))
              }
          }
        }
      }
    }
    r.info("digests") = digests.toMap

    val rnd = new scala.util.Random(c.seed)
    var p = 1
    for (_ <- 0 until Harness.WarmupPasses) {
      r.pass(p, "warmup") { c.ops.foreach(timed(_, p, "warmup")) }
      p += 1
    }
    r.window { (_, phase) =>
      val order = rnd.shuffle(c.ops)
      r.pass(p, phase) { order.foreach(timed(_, p, phase)) }
      p += 1
    }

    r.probes += Harness.noiseProbe(r.s)
  }
}
