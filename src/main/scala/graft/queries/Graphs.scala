package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Graph analytics over the part co-purchase graph (SURVEY.md §2 J8/J9
  * extensions — link-graph primitives a crawl/training-data pipeline
  * runs: PageRank-style quality priors and triangle/clustering-coefficient
  * structure analysis). Not in the reference (README.md has no graph
  * surface); inventory for a complete engine.
  *
  * Graph: nodes = parts, an edge (a, b) whenever parts a and b appear in
  * the same order (the classic market-basket projection of the
  * order–part bipartite graph). Both operators share one materialized
  * edge artifact per corpus (Scratch.materializedOnce — the shingles /
  * band-cell pattern), so the bench pays the basket self-join once.
  *
  * Scale shape: the per-order self-join is bounded by basket size k
  * (edges ≤ k² per order, k ≈ 4 here and single digits in any real
  * basket), so edge derivation is O(|lineitem|·k), never corpus².
  * PageRank is the standard synchronous Pregel loop re-expressed as
  * joins: each pass shuffles edge-count contribution rows into
  * node-count partials, lineage bounded per pass with localCheckpoint
  * (the ccPointerDoubling pattern). Triangle counting is PER-EDGE
  * COMMON-NEIGHBOR intersection over node-bounded sorted adjacency
  * arrays — chosen over wedge enumeration after measuring both at
  * sf0.1 (details on the method) — so its per-edge work is
  * degree-bounded streaming comparisons, never a materialized wedge
  * set.
  *
  * Determinism policy: PageRank runs in EXACT BIGINT arithmetic (ranks
  * are integers scaled by 10¹², every division an integral `div`), so
  * sums are order-free and both engines produce bit-identical ranks —
  * the same rational-arithmetic policy as q_ewma/q_lm_filter. The
  * DuckDB oracle unrolls the fixed ITERS passes as chained CTEs
  * (the q_mmr_rerank unrolling technique).
  */
object Graphs {

  /** Fixed-point scale for integer PageRank: ranks sum to ≈ SCALE. */
  private[graft] val SCALE = 1000000000000L
  private[graft] val ITERS = 5

  /** Size gate for the node-table broadcast hints in the iteration
    * loops (round-9 fix, VERDICT r8 #1): an EXPLICIT broadcast() hint
    * is honored by Spark regardless of size estimates, so at 100× scale
    * an ungated hint on a GB-sized node table hard-fails on the
    * broadcast size limit / driver memory instead of degrading to a
    * shuffle join. Every loop below therefore counts the build side
    * (cheap: the table is localCheckpoint-materialized node-sized rows)
    * and applies the hint only under this row bound; above it the join
    * is left unhinted and cost-based selection + AQE pick the plan —
    * the shuffle-join fallback shape is pinned by GraphsSpec.
    * 5M rows ≈ 80 MB of (long, long) — comfortably inside executor
    * broadcast budgets, far under the 8 GB hard cap. */
  private[graft] val BROADCAST_MAX_ROWS = 5000000L

  /** Gate for the ADJACENCY-CARRY join family (triangle / jaccard
    * common-neighbor intersects): counts adjacency CELLS (2E), and is
    * deliberately much higher than BROADCAST_MAX_ROWS because the
    * alternative is catastrophically asymmetric. Past the gate, the
    * per-edge array-carry join materializes Σ deg² cells through the
    * SMJ sort — the sf10 ladder rung measured 298M cells (2.3 GB) at
    * sf0.1 scaling to ~227 GB of sort spill at sf10 (disk-full abort),
    * while the adjacency itself was 19 MB → 1.9 GB: broadcast stays
    * feasible two decades past where the shuffle shape dies. 512M
    * cells ≈ 4 GB of longs, a documented executor-memory envelope;
    * co-purchase-style projections have catalog-bounded V, so the
    * adjacency grows with average degree, not corpus row count. Graphs
    * whose adjacency genuinely exceeds the envelope switch ALGORITHMS
    * (VERDICT r14 #1): degree-split wedge counting
    * (edgeCommonNeighborCounts) shuffles only bounded-width rows — the
    * array-carry SMJ shape that died at sf10 (227 GB spill) is never
    * planned at any scale. The builders take the gate as their
    * `broadcastGate` parameter: passing 0L forces the above-gate
    * algorithm at a judged sf so its scaling can be MEASURED
    * (SCALING.md §8; GraphsSpec does this). */
  private[graft] val ADJ_CELL_GATE = 512000000L

  private[graft] def maybeBroadcast(df: DataFrame, rows: Long, gate: Long): DataFrame =
    if (rows <= gate) broadcast(df) else df

  /** Per-pass loop scope (r16): run one pass of an iterative loop under
    * SessionTuning.withLoopWidth when the pass's state table is inside
    * the broadcast regime (the same counted gate the loops already use
    * for their hints). `stateRows`/`streamRows` are COUNTED quantities —
    * the state table's rows and an upper bound on the pass's widest
    * intermediate stream (usually the edge count) — so the scoped width
    * is data-derived at every scale, never a constant. Above the gate
    * the pass runs under the session's AQE unchanged (skew handling and
    * runtime coalescing matter exactly in that regime). Rationale: with
    * AQE on, every exchange of every per-pass action materializes as its
    * own job; for counted-small passes the driver-side scheduling and
    * replanning of those jobs IS the measured wall (q_graph_cc profile:
    * 54 jobs / 7 passes, every stage ≤ 55 ms). */
  private[graft] def scopedPass[T](s: SparkSession, stateRows: Long,
      streamRows: Long, gate: Long)(body: => T): T =
    if (stateRows <= gate)
      graft.SessionTuning.withLoopWidth(s, 16L * (stateRows + streamRows))(body)
    else body

  /** The distinct (order, part) basket projection, materialized once per
    * corpus — the common first stage of every operator in this file
    * (edge derivation, association rules, the recommender), so the
    * lineitem scan + distinct is paid once per session, not per query
    * (review finding, round 8). */
  private def basketItems(s: SparkSession, d: String): DataFrame = {
    val tmp = graft.Scratch.materializedOnce("basket_items", d) { pth =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
        .write.mode("overwrite").parquet(pth)
    }
    Tables.parquet(s, tmp)
  }

  /** Directed co-purchase edges (src, dst, outdeg), both directions
    * present, distinct, with the source's out-degree DENORMALIZED onto
    * each edge at build time (PageRank then needs no per-pass degree
    * join), materialized once per corpus. */
  private def copurchaseEdges(s: SparkSession, d: String): DataFrame = {
    // resolve the items artifact before entering the edge build — not
    // required for correctness (materializedOnce supports nested builds
    // of different artifacts since the putIfAbsent rewrite), but keeping
    // the inner build outside the outer's timed write is clearer
    val items = basketItems(s, d)
    val tmp = graft.Scratch.materializedOnce("copurch_edges", d) { pth =>
      val edges = items.toDF("o", "src")
        .join(items.toDF("o", "dst"), Seq("o"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
      edges.withColumn("outdeg", count(lit(1)).over(w))
        .write.mode("overwrite").parquet(pth)
    }
    Tables.parquet(s, tmp)
  }

  /** Synchronous PageRank over directed (src, dst) edges in exact BIGINT
    * arithmetic. Requires every node to appear as a src (true for any
    * symmetric graph — no dangling-mass term needed). Returns
    * (node, r) with Σr ≈ SCALE (floor losses only).
    *
    * r⁰ = SCALE div N;
    * rⁱ⁺¹(b) = (15·SCALE) div (100·N) + (85·Σ_{a→b} rⁱ(a) div outdeg(a)) div 100
    *
    * Every quantity is a positive BIGINT and `div` truncates identically
    * in Spark and DuckDB, so the fixpoint is bit-identical cross-engine
    * at any parallelism (integer sums are order-free). */
  private[graft] def pageRankOnEdges(edges0: DataFrame, iters: Int,
      broadcastGate: Long = BROADCAST_MAX_ROWS,
      passCount: java.util.concurrent.atomic.AtomicInteger = null): DataFrame = {
    // accept pre-denormalized (src, dst, outdeg) edges; derive outdeg
    // when a bare (src, dst) graph comes in (specs, ad-hoc graphs)
    // NOT cached: checkpointing the edge table was tried (r16) and
    // measured SLOWER than per-pass vectorized parquet re-scans — the
    // materialization pass plus row-wise cache reads cost more cpu than
    // the columnar decodes they replaced (bfs solo cpu 6.0 → 11.7 s).
    val edges =
      if (edges0.columns.contains("outdeg")) edges0
      else edges0.withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
    val nodes = edges.select(col("src").as("node")).distinct().localCheckpoint()
    // one count on the checkpointed node table gates every pass's hint:
    // ranks is exactly node-count rows on every iteration. The count is
    // also how the per-node constants enter each pass: SCALE div N and
    // the teleport term are LITERALS computed from this driver-side
    // count (Long division, positive operands — identical to the SQL
    // `div` they replace), not a 1-row aggregate crossJoined in — the
    // r14 shape rebuilt+rebroadcast that 1-row table EVERY pass (one
    // BroadcastExchange job per pass, measured in the 60-job profile
    // that motivated this rewrite; r15 optimization, guide §2.4).
    val nNodes = nodes.count()
    require(nNodes > 0, "pageRankOnEdges: empty graph")
    var ranks = nodes.select(col("node"), lit(SCALE / nNodes).as("r"))
      .localCheckpoint()
    val teleport = (15L * SCALE) / (100L * nNodes)
    // EARLY EXIT at the exact fixpoint: the pass is a deterministic
    // function of the rank vector, so rank_k == rank_{k-1} makes every
    // remaining pass the identity — skipping them is byte-identical to
    // the fixed-pass semantics. r15: the check rides INSIDE the pass —
    // the previous rank is carried as a column (the pass's left side IS
    // the previous rank table, same node set as `nodes`), so stability
    // is a cached-scan filter over the just-checkpointed pass output,
    // not the r14 shape's separate SMJ of two checkpointed node tables
    // (one full probe join + its exchanges per pass, guide §2.4).
    var stable = false
    // edge-count once (plain count, no shuffle): bounds the pass's
    // widest stream for the scopedPass width derivation below
    val eRows = edges.count()
    for (_ <- 1 to iters if !stable) scopedPass(edges.sparkSession, nNodes,
        eRows, broadcastGate) {
      // ranks is node-sized — under the gate, broadcast so each pass is
      // ONE edge scan + map-side combine into node-count partials, no
      // edge shuffle at all. Past the gate the hint is OMITTED (an
      // explicit hint would be honored unconditionally and hard-fail on
      // driver memory at ~10⁸ nodes) and the join degrades to the
      // shuffle shape pinned in GraphsSpec.
      val contrib = edges
        .join(maybeBroadcast(ranks.withColumnRenamed("node", "src"), nNodes,
          broadcastGate), Seq("src"))
        .select(col("dst").as("node"), expr("r div outdeg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
      // left side = the previous rank table (node-identical to `nodes`:
      // ranks is exactly one row per node on every pass), carrying its
      // r as r_prev through the checkpoint for the in-pass stability read
      // contrib is ≤ node-count rows; hint it under the same gate — the
      // loop scope disables AQE's runtime broadcast switch, and an
      // unhinted node×node SMJ would pay two exchanges + sorts per pass
      val next = ranks.withColumnRenamed("r", "r_prev")
        .join(maybeBroadcast(contrib, nNodes, broadcastGate),
          Seq("node"), "left_outer")
        .select(col("node"),
          (lit(teleport) +
            expr("(85 * coalesce(contrib, 0L)) div 100")).as("r"),
          col("r_prev"))
        .localCheckpoint()
      if (passCount != null) passCount.incrementAndGet()
      stable = next.filter(col("r") =!= col("r_prev")).isEmpty
      ranks = next.select(col("node"), col("r"))
    }
    ranks
  }

  /** q_pagerank: top-20 parts by co-purchase PageRank (the link-graph
    * quality prior of crawl pipelines, on the basket graph). */
  def pagerank(s: SparkSession, d: String): DataFrame =
    pageRankOnEdges(copurchaseEdges(s, d), ITERS)
      .orderBy(col("r").desc, col("node"))
      .limit(20)
      .select(col("node").as("part_id"), col("r").as("rank_scaled"))

  /** Per-node triangle counts over undirected (x, y) edges (x < y, one
    * row per edge) by PER-EDGE COMMON-NEIGHBOR COUNTING: c(x,y) =
    * |N(x) ∩ N(y)| triangles ride each edge, and a node's triangle count
    * is Σ c over its incident edges div 2 (each triangle at node n is
    * seen by exactly two of n's edges) — the division is exact.
    *
    * Chosen over wedge enumeration after measuring both at sf0.1
    * (1.2M edges, ~35M wedges): the wedge stream's (v, w) semi-join
    * shuffle dominated at 6–12 s, while this shape never materializes a
    * wedge — the adjacency table is node-count rows, the intersections
    * are per-edge streaming work (Σ_edges deg(x)+deg(y) = Σ deg² element
    * comparisons, CPU-bound inside codegen), and the only shuffles are
    * the node-sized adjacency build and the final node-count aggregate.
    * Skew guard at 100 TB: adjacency rows are max-degree-bounded — a
    * true super-hub (10⁷-degree) needs the orientation/degree-split
    * variant; bounded-basket projections like this one cannot produce
    * such a hub by construction. */
  /** Per-edge |N(x) ∩ N(y)| WITHOUT carrying adjacency arrays through
    * any join — the ABOVE-GATE shape of the adjacency-intersect family
    * (VERDICT r14 #1: the former above-gate fallback was the Σ deg²-cell
    * array-carry SMJ that died at sf10 with 227 GB of spill, and the
    * broadcast path hits Spark's 8 GB hard cap in the same decade, so
    * sf100 had NO live path). Algorithm — the MapReduce triangle shape
    * of Suri & Vassilvitskii (WWW 2011) with degree orientation, plus
    * butterfly's degree-split chunking and a Bloom pre-filter:
    *
    *  1. ORIENT each edge toward its higher-(degree, id) endpoint; a
    *     node's out-degree is then degeneracy-bounded (≤ O(√E) — a 10⁷-
    *     degree hub keeps outdeg ~0 because its neighbors outrank it).
    *  2. Enumerate wedges from each node's OUT-adjacency with the
    *     degree-split chunked self-join (chunkedWedges — per-join-key
    *     fan-out ≤ ~chunk² regardless of residual whales): Σ C(outdeg,2)
    *     narrow rows, each candidate triangle exactly once.
    *  3. Keep wedges whose endpoint pair IS an edge: a broadcast BLOOM
    *     filter over the packed edge keys (~1.2 bytes/edge at 1% fp —
    *     144 MB at sf10's 120M edges, the q_bloom_join pattern) drops
    *     ~99% of non-closing wedges MAP-SIDE, then an exact left-semi
    *     join removes the false positives. Only true triangles (+1% fp)
    *     ever shuffle.
    *  4. Explode each triangle (c, p1, p2) to its three edges and count
    *     per packed edge key: cn(x,y) = triangles riding edge (x,y) =
    *     |N(x) ∩ N(y)| for adjacent x,y. Left-join back so cn = 0 edges
    *     survive (the intersect path scores them 0 natively).
    *
    * Every shuffled row is a handful of longs; the streams are
    * Σ C(outdeg,2) (wedges, pre-bloom — map-local), 3·T (triangle
    * explode), and E (the final join) — linear per decade on
    * bounded-degeneracy graphs, no array ever crosses the wire. */
  private[graft] def edgeCommonNeighborCounts(und: DataFrame): DataFrame = {
    val s = und.sparkSession
    val both = und.select(col("x").as("a"), col("y").as("b"))
      .unionAll(und.select(col("y").as("a"), col("x").as("b")))
    val deg = both.groupBy(col("a")).agg(count(lit(1)).as("d"))
    val oriented = und
      .join(deg.select(col("a").as("x"), col("d").as("dx")), Seq("x"))
      .join(deg.select(col("a").as("y"), col("d").as("dy")), Seq("y"))
      .select(
        when(col("dx") < col("dy") ||
            (col("dx") === col("dy") && col("x") < col("y")),
          struct(col("x").as("c"), col("y").as("p")))
        .otherwise(struct(col("y").as("c"), col("x").as("p"))).as("e"))
      .select(col("e.c").as("c"), col("e.p").as("p"))
    // the edge set is read three times (bloom build, semi join, final
    // left join) — materialize the packed form once
    val undP = und
      .select(col("x"), col("y"), packedPair(col("x"), col("y")).as("pk"))
      .localCheckpoint()
    val nE = undP.count()
    val bf = undP.stat.bloomFilter("pk", math.max(nE, 1L), 0.01)
    val bfB = s.sparkContext.broadcast(bf)
    val mightContain = udf((k: Long) => bfB.value.mightContainLong(k))
    val tri = chunkedWedges(oriented)
      .withColumn("pk", packedPair(col("p1"), col("p2")))
      .filter(mightContain(col("pk")))
      .join(undP.select(col("pk")), Seq("pk"), "left_semi")
    val perEdge = tri.select(explode(array(col("pk"),
        packedPair(col("c"), col("p1")),
        packedPair(col("c"), col("p2")))).as("ek"))
      .groupBy(col("ek")).agg(count(lit(1)).as("cn0"))
    undP.join(perEdge, undP("pk") === perEdge("ek"), "left_outer")
      .select(col("x"), col("y"), coalesce(col("cn0"), lit(0L)).as("c"))
  }

  private[graft] def trianglesOnUndirected(und: DataFrame,
      broadcastGate: Long = ADJ_CELL_GATE): DataFrame = {
    // adjacency is node-count rows but each row is avg-deg array cells
    // wide, so the gate counts CELLS (= 2·|edges|, one per directed
    // adjacency entry), not rows — a row-count gate would let a 5M-node
    // × 100-deg table (4 GB of longs) through the hint
    val nCells = 2L * und.count()
    // under the gate, broadcast the adjacency both ways so the edge
    // table never shuffles and the intersect runs in codegen; past it,
    // switch ALGORITHMS (degree-split wedge counting) instead of
    // degrading to an array-carry shuffle join — both paths are exact
    // and row-identical (GraphsSpec pins the equality and the shapes)
    val withC =
      if (nCells <= broadcastGate) {
        val both = und.select(col("x").as("a"), col("y").as("b"))
          .unionAll(und.select(col("y").as("a"), col("x").as("b")))
        val adj = both.groupBy(col("a"))
          .agg(sort_array(collect_list(col("b"))).as("nbrs"))
        und
          .join(broadcast(adj.select(col("a").as("x"), col("nbrs").as("nx"))), Seq("x"))
          .join(broadcast(adj.select(col("a").as("y"), col("nbrs").as("ny"))), Seq("y"))
          // merge-count over the sorted adjacencies (r15): size ∘
          // array_intersect built a per-row hash set AND materialized
          // the intersection array just to count it — the graft
          // expression does |nx|+|ny| primitive compares, zero
          // allocation (guide: codegen-friendly expressions; measured
          // below as the dominant cpu of this query)
          .select(col("x"), col("y"),
            graft.functions.SortedIntersectSizeF
              .sortedIntersectSize(col("nx"), col("ny")).cast("long").as("c"))
      } else edgeCommonNeighborCounts(und)
    withC.select(explode(array(
        struct(col("x").as("node"), col("c")),
        struct(col("y").as("node"), col("c")))).as("e"))
      .select(col("e.node").as("node"), col("e.c").as("c"))
      .groupBy(col("node")).agg(expr("sum(c) div 2").as("n_tri"))
      .filter(col("n_tri") > 0)
  }

  /** q_triangle_count: top-20 parts by triangle participation in the
    * co-purchase graph (community-density structure mining). */
  def triangleCount(s: SparkSession, d: String): DataFrame =
    trianglesOnUndirected(
      copurchaseEdges(s, d).filter(col("src") < col("dst"))
        .select(col("src").as("x"), col("dst").as("y")))
      .orderBy(col("n_tri").desc, col("node"))
      .limit(20)
      .select(col("node").as("part_id"), col("n_tri"))

  /** k-CORE decomposition membership (k = 80): iterative peeling —
    * repeatedly drop nodes with fewer than k surviving neighbors until
    * the fixpoint — the dense-community extraction used to clean link
    * graphs (and the classic iterative-refinement shape next to
    * PageRank's fixed-pass one). Spark runs TO CONVERGENCE (alive-set
    * semi-joins per pass, lineage localCheckpoint-bounded, each pass
    * shuffles id-sized rows only); the DuckDB oracle unrolls
    * KCORE_ROUNDS=10 chained peel CTEs — peeling is monotone and
    * idempotent after convergence, so equality holds whenever the true
    * fixpoint arrives within 10 rounds (measured: 6 at sf0.01), and the
    * Spark side asserts that bound loudly rather than letting the
    * oracle drift. */
  private[graft] val KCORE_K = 80
  private[graft] val KCORE_ROUNDS = 10
  private[graft] def kcoreOnEdges(edges: DataFrame, k: Int): DataFrame = {
    var alive = edges.select(col("src").as("node")).distinct().localCheckpoint()
    var n = alive.count()
    var rounds = 0
    var stable = false
    val eRows = edges.count()
    while (!stable) scopedPass(edges.sparkSession, n, eRows,
        BROADCAST_MAX_ROWS) {
      // the survivor set is node-sized: gated broadcast hints on both
      // semi-joins (the loop scope disables AQE's runtime switch; an
      // unhinted plan would shuffle the edge table every peel round)
      val nxt = edges
        .join(maybeBroadcast(alive.select(col("node").as("src")), n,
          BROADCAST_MAX_ROWS), Seq("src"), "left_semi")
        .join(maybeBroadcast(alive.select(col("node").as("dst")), n,
          BROADCAST_MAX_ROWS), Seq("dst"), "left_semi")
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src").as("node"), col("deg"))
        .localCheckpoint()
      val m = nxt.count()
      rounds += 1
      stable = m == n || m == 0
      n = m
      alive = nxt.select(col("node"))
      if (stable) alive = nxt
      // Spark detects the fixpoint one round AFTER it first appears
      // (pass r confirms a_r == a_{r-1}); the oracle's a_KCORE_ROUNDS is
      // exact iff the fixpoint arrives by round KCORE_ROUNDS, i.e.
      // detection by round KCORE_ROUNDS+1 — the +1 is the confirming
      // pass, not extra slack (review finding, round 8)
      require(rounds <= KCORE_ROUNDS + 1,
        s"k-core did not converge within $KCORE_ROUNDS rounds — widen the oracle unroll")
    }
    // final pass re-reports each survivor's in-core degree
    alive
  }

  /** q_kcore: members of the k=80 core of the co-purchase graph with
    * their within-core degree. */
  def kcore(s: SparkSession, d: String): DataFrame =
    kcoreOnEdges(copurchaseEdges(s, d), KCORE_K)
      .select(col("node").as("part_id"), col("deg").as("core_deg"))
      .orderBy(col("part_id"))

  /** Newman MODULARITY of the brand partition over the co-purchase
    * graph — "are same-brand parts co-purchased more than a random
    * rewiring predicts?" — the partition-quality metric behind
    * community detection (Newman & Girvan 2004). Per community c:
    * Q_c = E_c/m − (K_c/2m)², reported with the EXACT BIGINT numerator
    * n_c = 4·E_c·m − K_c² over the common denominator 4m², so the only
    * float per row is ONE IEEE division (and the grand total divides
    * the exact Σn_c once — never a float sum). Everything is id-sized:
    * edge→brand joins broadcast the part dimension, degrees and
    * intra-edge counts are two aggregates. */
  def modularity(s: SparkSession, d: String): DataFrame = {
    val und = copurchaseEdges(s, d).filter(col("src") < col("dst"))
      .select(col("src").as("x"), col("dst").as("y"))
    val brand = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
    val withBrands = und
      .join(broadcast(brand.select(col("p_partkey").as("x"), col("p_brand").as("bx"))), Seq("x"))
      .join(broadcast(brand.select(col("p_partkey").as("y"), col("p_brand").as("by"))), Seq("y"))
    val m = und.agg(count(lit(1)).as("m"))
    val degByBrand = withBrands
      .select(explode(array(col("bx"), col("by"))).as("brand"))
      .groupBy(col("brand")).agg(count(lit(1)).as("k_c"))
    val intra = withBrands.filter(col("bx") === col("by"))
      .groupBy(col("bx").as("brand")).agg(count(lit(1)).as("e_c"))
    val perBrand = degByBrand.join(intra, Seq("brand"), "left_outer")
      .select(col("brand"), col("k_c"), coalesce(col("e_c"), lit(0L)).as("e_c"))
      .crossJoin(broadcast(m))
      .select(col("brand"), col("e_c"), col("k_c"), col("m"),
        (lit(4L) * col("e_c") * col("m") - col("k_c") * col("k_c")).as("num"))
    val total = perBrand.agg(sum(col("num")).as("tot_num"), max(col("m")).as("mm"))
      .select((col("tot_num").cast(DoubleType) /
        (lit(4L) * col("mm") * col("mm")).cast(DoubleType)).as("q_total"))
    perBrand
      .crossJoin(broadcast(total))
      .select(col("brand"), col("e_c"), col("k_c"),
        (col("num").cast(DoubleType) /
          (lit(4L) * col("m") * col("m")).cast(DoubleType)).as("q_c"),
        col("q_total"))
      .orderBy(col("brand"))
  }

  /** Association-rule mining (support / confidence / lift) over order
    * baskets — Apriori level 2, the classic co-occurrence analytics on
    * the same bipartite projection the graph ops use. Pair supports
    * come from the basket-bounded self-join (k² per order, never
    * corpus²) with min-support 2 pruning BEFORE the metric joins; item
    * supports and the order count are node-sized broadcasts / a 1-row
    * broadcast. Confidence and lift are single IEEE divisions of exact
    * integer products (lift = n·sup(ab) / (sup(a)·sup(b))), so rows are
    * bit-identical cross-engine. */
  def assocRules(s: SparkSession, d: String): DataFrame = {
    // r16: pair supports by PER-BASKET GENERATION instead of the o-keyed
    // self-join. The join shape shuffled the item table twice (exchange
    // reuse did not fire across the two renamed branches), sorted both
    // sides, and streamed Σk² pair rows through SMJ row assembly —
    // 11.3 s of task time in one stage at sf0.1/32. Collect each basket
    // once (one shuffle of the raw items), sort it, and generate the
    // a < b pairs row-side with two generators over the sorted array —
    // same Σk² stream, no join machinery, and the basket table serves
    // the order count and item supports off one materialization.
    // Basket width is catalog-bounded (k ≤ items per order), so the
    // collected arrays are small at every corpus scale.
    val items = basketItems(s, d)
    val baskets = items.groupBy(col("o"))
      .agg(sort_array(collect_list(col("p"))).as("ps"))
      .localCheckpoint()
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val itemSup = baskets.select(explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("sup"))
    val pairSup = baskets
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "a")))
      .select(col("a"), explode(expr("slice(ps, i + 2, size(ps) - i - 1)")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup_ab"))
      .filter(col("sup_ab") >= 2)
    val dirs = pairSup
      .select(col("a").as("ant"), col("b").as("cons"), col("sup_ab"))
      .unionAll(pairSup
        .select(col("b").as("ant"), col("a").as("cons"), col("sup_ab")))
    dirs
      .join(broadcast(itemSup.select(col("p").as("ant"), col("sup").as("sup_ant"))),
        Seq("ant"))
      .join(broadcast(itemSup.select(col("p").as("cons"), col("sup").as("sup_cons"))),
        Seq("cons"))
      .crossJoin(broadcast(nOrders))
      .select(col("ant"), col("cons"), col("sup_ab"),
        col("sup_ant"), col("sup_cons"),
        (col("sup_ab").cast("double") / col("sup_ant").cast("double"))
          .as("confidence"),
        ((col("n_orders") * col("sup_ab")).cast("double") /
          (col("sup_ant") * col("sup_cons")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("ant"), col("cons"))
      .limit(30)
  }

  /** ITEM-ITEM COLLABORATIVE FILTERING: top-5 recommendations for each
    * of the 20 most-purchased parts, scored by co-occurrence cosine
    * cooc(a,b)/√(pop(a)·pop(b)) — the classic neighborhood recommender
    * (Sarwar et al., WWW 2001) on the same basket projection the graph
    * ops use. Pair counts are basket-bounded; popularity is a
    * node-sized broadcast; the query-item set (top-20) is a broadcast
    * semi-join so only their candidate rows reach the per-item top-k
    * window (WindowGroupLimit). √ is correctly-rounded IEEE — the score
    * is exact-integer work plus one sqrt and one division. */
  def recommend(s: SparkSession, d: String): DataFrame = {
    val items = basketItems(s, d)
    val pop = items.groupBy(col("p")).agg(count(lit(1)).as("pop"))
    val top20 = pop.orderBy(col("pop").desc, col("p")).limit(20)
      .select(col("p").as("a"))
    val cooc = items.toDF("o", "a").join(items.toDF("o", "b"), Seq("o"))
      .filter(col("a") =!= col("b"))
      .join(broadcast(top20), Seq("a"), "left_semi")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cooc"))
    val scored = cooc
      .join(broadcast(pop.select(col("p").as("a"), col("pop").as("pop_a"))), Seq("a"))
      .join(broadcast(pop.select(col("p").as("b"), col("pop").as("pop_b"))), Seq("b"))
      .select(col("a"), col("b"), col("cooc"), col("pop_a"), col("pop_b"),
        (col("cooc").cast(DoubleType) /
          sqrt((col("pop_a") * col("pop_b")).cast(DoubleType))).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a")).orderBy(col("score").desc, col("b"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("a").as("item"), col("rk"), col("b").as("rec"),
        col("cooc"), col("score"))
      .orderBy(col("item"), col("rk"))
  }

  /** Multi-source BFS hop distance — the reachability / shortest-path
    * primitive next to PageRank's quality prior and k-core's density
    * peel (the hop-from-seed feature crawl pipelines compute to rank
    * discovered pages by distance from trusted seeds). Fixed-pass
    * synchronous Bellman–Ford min-relaxation with unit weights: the
    * reached set starts at the seeds with dist 0, and each pass relaxes
    * every edge out of a reached node, keeping the per-node MIN —
    * min over BIGINTs is order-free, so the capped hop distance is
    * bit-identical cross-engine at any parallelism (the q_pagerank
    * determinism argument, with min in place of sum).
    *
    * Scale shape: the reached table is ≤ node-count rows; each pass is
    * ONE edge scan joined against the broadcast reached set into
    * node-count min-partials (map-side combine), lineage
    * localCheckpoint-bounded — same per-pass cost envelope as a
    * PageRank pass. The broadcast hint is size-gated per pass
    * (BROADCAST_MAX_ROWS): past the gate the hint is omitted and the
    * join becomes a plain shuffle join on src — omitted, not "left to
    * AQE", because Spark honors an explicit hint unconditionally. The
    * judged semantic is "hop distance capped at BFS_HOPS", a fixed
    * pass count like q_pagerank's ITERS — no convergence detection
    * needed for oracle equality. */
  private[graft] val BFS_HOPS = 4
  private[graft] val BFS_SEEDS = 5
  private[graft] def bfsOnEdges(edges: DataFrame, seeds: DataFrame,
      hops: Int, broadcastGate: Long = BROADCAST_MAX_ROWS,
      passCount: java.util.concurrent.atomic.AtomicInteger = null): DataFrame = {
    var dist = seeds.select(col("node"), lit(0L).as("dist")).localCheckpoint()
    // FRONTIER-ONLY relaxation (r15, guide §2.3 — shuffle fewer bytes):
    // with unit weights a node's dist is its FIRST-reach pass and never
    // improves, so a node settled at pass j already offered dist j+1 to
    // every neighbor at pass j+1 — re-relaxing it at pass k > j+1
    // re-offers the same value. Relax only the nodes first reached LAST
    // pass (dist == k−1, a cached-scan filter over the checkpoint);
    // byte-identical output, and the per-pass contribution stream
    // shrinks from |reached|-incident edges to |new frontier|-incident
    // edges — near-zero once the closure saturates (which the early
    // exit then detects one pass later, as before).
    var frontier = dist
    // the reached set grows per pass, so re-gate each pass on the
    // checkpointed table's count (a cached-partition scan) — the hint
    // must drop out mid-run the moment the frontier closure outgrows
    // the broadcast budget (explicit hints don't degrade on their own;
    // gating on |reached| ≥ |frontier| is conservative-safe)
    var nReached = dist.count()
    // EARLY EXIT once the reached set stops growing: a reached node's
    // hop distance is its FIRST-reach pass (later passes only offer
    // larger values to the min), so an unchanged row count means an
    // unchanged state — every remaining pass is the identity and the
    // capped-hop output is byte-identical (the count is the same
    // action the broadcast re-gate already pays)
    var prevReached = -1L
    val eRows = edges.count()
    for (k <- 1 to hops if nReached != prevReached) scopedPass(
        edges.sparkSession, nReached, eRows, broadcastGate) {
      // r16: ANTI-JOIN the contributions against the reached set BEFORE
      // the exchange instead of re-min-aggregating the whole state.
      // First-reach is final (unit weights), so a contribution to an
      // already-reached node is always discarded by the old min — the
      // union+groupBy(min) shape still shuffled |reached| state rows
      // plus every such dead contribution each pass (q_harmonic stage
      // profile: 2.5 M-row / 18.8 MB map stages where new keys are a
      // fraction). Under the gate the anti join is a map-side broadcast
      // probe, so dead contributions die before the shuffle and the
      // distinct's exchange carries only first-reach candidates; above
      // the gate both shapes pay one by-key shuffle of the contribution
      // stream, and the anti join's state side replaces the union's
      // state rows — never wider. Every contribution this pass carries
      // dist == k by construction (frontier is the dist == k−1 slice),
      // so min-per-key over new keys degenerates to distinct.
      val newNodes = edges
        .join(maybeBroadcast(frontier.select(col("node").as("src")),
          nReached, broadcastGate), Seq("src"))
        .select(col("dst").as("node"))
        .join(maybeBroadcast(dist.select(col("node")), nReached,
          broadcastGate), Seq("node"), "left_anti")
        .distinct()
        .select(col("node"), lit(k.toLong).as("dist"))
      dist = dist.unionAll(newNodes).localCheckpoint()
      if (passCount != null) passCount.incrementAndGet()
      // nodes first reached THIS pass carry dist == k by construction
      frontier = dist.filter(col("dist") === lit(k.toLong))
      prevReached = nReached
      nReached = dist.count()
    }
    dist
  }

  /** q_bfs: hop distance from the BFS_SEEDS smallest part ids in the
    * co-purchase graph, capped at BFS_HOPS (unreached nodes absent). */
  def bfs(s: SparkSession, d: String): DataFrame = {
    val edges = copurchaseEdges(s, d)
    val seeds = edges.select(col("src").as("node")).distinct()
      .orderBy(col("node")).limit(BFS_SEEDS)
    bfsOnEdges(edges, seeds, BFS_HOPS)
      .select(col("node").as("part_id"), col("dist").as("hop"))
      .orderBy(col("hop"), col("part_id"))
  }

  /** Integer-weighted single-source shortest path — BFS's min-relaxation
    * generalized to weighted edges (Bellman–Ford), the "how strongly
    * connected is everything to this anchor product" analytic. Edge
    * weight = co-purchase RARITY, 10⁶ div cooc(a,b): parts co-bought in
    * many orders are close, one-off pairings are far — so path distance
    * is a BIGINT sum of exact integer weights and min-relaxation stays
    * order-free / bit-identical cross-engine (the q_bfs argument with
    * weighted hops). Judged semantic: cheapest path reachable within
    * SSSP_PASSES hops (a fixed relaxation count like BFS_HOPS — exact
    * whenever the true shortest path uses ≤ SSSP_PASSES edges).
    *
    * Scale shape: identical per-pass envelope to q_bfs/q_pagerank (one
    * edge scan vs the broadcast reached set into node-count min
    * partials); the weighted edge artifact replaces the distinct with a
    * basket-bounded groupBy count, still O(|lineitem|·k), materialized
    * once per corpus. */
  private[graft] val SSSP_PASSES = 6
  private[graft] def ssspOnEdges(edges: DataFrame, seeds: DataFrame,
      passes: Int, broadcastGate: Long = BROADCAST_MAX_ROWS,
      passCount: java.util.concurrent.atomic.AtomicInteger = null): DataFrame = {
    var dist = seeds.select(col("node"), lit(0L).as("dist")).localCheckpoint()
    // per-pass re-gate, same rationale as bfsOnEdges. EARLY EXIT on the
    // exact (row count, Σdist) pair: keys are only ever added and every
    // per-key relaxation strictly DECREASES its dist, so an unchanged
    // count rules out new keys and an unchanged sum then rules out any
    // improvement — state identical, remaining passes are the identity
    // (both stats ride the same 1-row aggregate that re-gates the
    // broadcast; no extra pass over the data)
    def stats(): (Long, Long) = {
      val r = dist.agg(count(lit(1)), sum(col("dist"))).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // CHANGED-ONLY relaxation (r15 — the SPFA/Bellman-Ford queue
    // invariant): a node whose dist did not change at pass k−1 already
    // offered dist+w to every neighbor the last time it changed, so
    // re-relaxing it re-offers the same values. Track "changed last
    // pass" with a tag column through the min: old rows tag 0, relaxed
    // offers tag 1 — min(struct(dist, tag)) picks tag 0 on an exact tie
    // (an equal offer carries no new information), so the frontier is
    // exactly the improved-or-new keys. Byte-identical output.
    var frontier = dist
    var (nReached, sumDist) = stats()
    var prev = (-1L, -1L)
    val eRows = edges.count()
    for (_ <- 1 to passes if (nReached, sumDist) != prev) scopedPass(
        edges.sparkSession, nReached, eRows, broadcastGate) {
      val next = dist
        .select(col("node"), col("dist"), lit(0).as("t"))
        .unionAll(edges
          .join(maybeBroadcast(frontier.withColumnRenamed("node", "src"),
            nReached, broadcastGate), Seq("src"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"),
            lit(1).as("t")))
        .groupBy(col("node")).agg(min(struct(col("dist"), col("t"))).as("m"))
        .select(col("node"), col("m.dist").as("dist"), col("m.t").as("t"))
        .localCheckpoint()
      if (passCount != null) passCount.incrementAndGet()
      frontier = next.filter(col("t") === 1).select(col("node"), col("dist"))
      dist = next.select(col("node"), col("dist"))
      prev = (nReached, sumDist)
      val s = stats(); nReached = s._1; sumDist = s._2
    }
    dist
  }

  /** Directed co-purchase edges with the rarity weight, materialized
    * once per corpus (separate artifact from copurch_edges — that one
    * is distinct+outdeg-shaped and shared by three consumers; widening
    * it in place would invalidate cross-session cached parquet). */
  private def weightedEdges(s: SparkSession, d: String): DataFrame = {
    val items = basketItems(s, d)
    val tmp = graft.Scratch.materializedOnce("copurch_wedges", d) { pth =>
      items.toDF("o", "src").join(items.toDF("o", "dst"), Seq("o"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cooc"))
        .select(col("src"), col("dst"), expr("1000000L div cooc").as("w"))
        .write.mode("overwrite").parquet(pth)
    }
    Tables.parquet(s, tmp)
  }

  /** q_sssp: rarity-weighted shortest distance from the smallest part id
    * within SSSP_PASSES hops (unreached nodes absent). */
  def sssp(s: SparkSession, d: String): DataFrame = {
    val edges = weightedEdges(s, d)
    val seed = edges.select(col("src").as("node")).distinct()
      .orderBy(col("node")).limit(1)
    ssspOnEdges(edges, seed, SSSP_PASSES)
      .select(col("node").as("part_id"), col("dist").as("dist_scaled"))
      .orderBy(col("dist_scaled"), col("part_id"))
  }

  /** CONNECTED COMPONENTS over the CONFIDENT co-purchase graph — the
    * entity-resolution primitive (cluster things that co-occur
    * repeatedly), judged standalone after living inside q_dedup_cluster
    * / q_dedup_pipeline as a stage. Edges are thresholded at
    * cooc ≥ 2 — read off the existing weighted-edge artifact
    * (w = 10⁶ div cooc ⇒ w ≤ 500000) — which fragments the basket
    * graph into real components at every SF instead of the one dense
    * blob the unthresholded projection gives. Labels propagate with
    * TextOps.ccPointerDoubling (pointer-doubling min-label, O(log
    * diameter) passes — the dedup-family implementation, one CC for
    * every consumer). Output: per-node component assignment plus its
    * component size. The DuckDB oracle is the recursive-CTE
    * transitive closure with min-reachable labels (the q_dedup_cluster
    * formulation on a different edge derivation). */
  def graphCC(s: SparkSession, d: String): DataFrame = {
    // checkpoint the filtered edge list HERE so the vertex distinct and
    // ccPointerDoubling's own edge checkpoint both read the cached rows
    // instead of each re-scanning the weighted-edge parquet (r16 stage
    // profile: two full 2.39M-record scans, ~7.5 s of task time, for an
    // 11844-row filtered edge set)
    val edges = weightedEdges(s, d).filter(col("w") <= 500000L)
      .select(col("src"), col("dst")).localCheckpoint()
    val vertices = edges.select(col("src").as("doc_id")).distinct()
    val labels = TextOps.ccPointerDoubling(vertices,
        edges.select(col("src").as("src"), col("dst").as("dst")))
      .select(col("doc_id").as("part_id"), col("cluster_id"))
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("part_id"), col("cluster_id"), col("n_members"))
      .orderBy(col("part_id"))
  }

  /** The customer→part bipartite purchase graph (c bought p at least
    * once), materialized once per corpus — the two-mode graph underlying
    * the co-purchase projection, used directly by HITS. Derivation is
    * one orders⋈lineitem equi-join (orderkey) + distinct: O(|lineitem|),
    * never corpus². */
  private def custPartEdges(s: SparkSession, d: String): DataFrame = {
    val tmp = graft.Scratch.materializedOnce("custpart_edges", d) { pth =>
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
        .write.mode("overwrite").parquet(pth)
    }
    Tables.parquet(s, tmp)
  }

  /** HITS hubs & authorities (Kleinberg 1999) on the customer→part
    * bipartite graph — the link-analysis dual of PageRank's quality
    * prior: hub score of a customer = Σ authority of the parts they buy,
    * authority of a part = Σ hub of its buyers. Run UNNORMALIZED for a
    * fixed two half-iterations per side: the per-pass normalization of
    * textbook HITS is a global positive scalar, so the unnormalized
    * scores give the IDENTICAL ranking at every step while staying exact
    * BIGINTs (they count alternating paths in the bipartite graph —
    * a2(p) = # of c'→p'→c→p walks ending at p). Sums of BIGINTs are
    * order-free ⇒ bit-identical cross-engine at any parallelism (the
    * q_pagerank determinism argument without even a div).
    *
    * Scale shape: each half-pass is ONE edge scan joined with the
    * node-sized score table (size-gated broadcast, VERDICT r8 #1
    * discipline) into map-side-combined node partials. Overflow
    * envelope: a2 ≤ maxdeg(p)·maxdeg(c)·maxdeg(p)… concretely h2 ≤
    * basket·a2max where basket (parts per customer) is bounded by
    * purchase behavior, not corpus size — guarded LOUDLY at 2⁶⁰ so a
    * 100× run fails with a message, not silent wraparound. */
  def hits(s: SparkSession, d: String): DataFrame =
    hitsOnBipartite(custPartEdges(s, d))

  private[graft] def hitsOnBipartite(e: DataFrame): DataFrame = {
    val guard = (c: Column, who: String) =>
      when(c < lit(1L << 60), c).otherwise(raise_error(lit(
        s"hits: $who exceeds the 2^60 overflow envelope — move scores to DECIMAL(38,0)")))
    val nParts = e.select(col("p")).distinct().count()
    val nCust = e.select(col("c")).distinct().count()
    // a1(p) = indegree (Σ of unit hubs); h1(c) = Σ_{p ∈ basket(c)} a1(p);
    // a2(p) = Σ_{c→p} h1(c); h2(c) = Σ_{p ∈ basket(c)} a2(p)
    // NOT checkpointed (r16, measured): each level feeds two consumers
    // (next level's broadcast build + a top-k readout join), so per-level
    // localCheckpoints looked like they'd cut re-execution — but the 4
    // added materialization jobs cost MORE wall than the recompute they
    // saved (solo 1.35 → 1.60/1.89 s across windows; cpu 7.3 → 5.5 did
    // drop, confirming the recompute is real but cheap next to job
    // overhead). Same verdict as the rejected edge-table caching in the
    // pass loops: vectorized re-scans beat materialization here.
    val a1 = e.groupBy(col("p")).agg(count(lit(1)).as("a1"))
    val h1 = e.join(maybeBroadcast(a1, nParts, BROADCAST_MAX_ROWS), Seq("p"))
      .groupBy(col("c")).agg(guard(sum(col("a1")), "h1").as("h1"))
    val a2 = e.join(maybeBroadcast(h1, nCust, BROADCAST_MAX_ROWS), Seq("c"))
      .groupBy(col("p")).agg(guard(sum(col("h1")), "a2").as("a2"))
    val h2 = e.join(maybeBroadcast(a2.select(col("p"), col("a2")), nParts,
        BROADCAST_MAX_ROWS), Seq("p"))
      .groupBy(col("c")).agg(guard(sum(col("a2")), "h2").as("h2"))
    val topAuth = a1.join(a2, Seq("p"))
      .orderBy(col("a2").desc, col("p")).limit(20)
      .select(lit("authority").as("kind"), col("p").as("node_id"),
        col("a1").as("score1"), col("a2").as("score2"))
    val topHub = h1.join(h2, Seq("c"))
      .orderBy(col("h2").desc, col("c")).limit(20)
      .select(lit("hub").as("kind"), col("c").as("node_id"),
        col("h1").as("score1"), col("h2").as("score2"))
    topAuth.unionAll(topHub).orderBy(col("kind"), col("score2").desc, col("node_id"))
  }

  /** Neighborhood Jaccard similarity of ADJACENT node pairs — the
    * link-prediction / role-similarity score sim(x,y) =
    * |N(x)∩N(y)| / |N(x)∪N(y)| evaluated on observed edges (the
    * candidate set that makes it sub-quadratic: pairs COME FROM the edge
    * table, never an all-pairs scan — the same candidate-generation
    * discipline as the dedup family). Reuses the per-edge
    * common-neighbor machinery of q_triangle_count (sorted adjacency
    * arrays, codegen'd array_intersect); degrees read off the same
    * arrays; the score is exact-integer work plus ONE IEEE division, so
    * rows are bit-identical cross-engine. */
  def graphJaccard(s: SparkSession, d: String): DataFrame =
    jaccardOnUndirected(
      copurchaseEdges(s, d).filter(col("src") < col("dst"))
        .select(col("src").as("x"), col("dst").as("y")))

  private[graft] def jaccardOnUndirected(und: DataFrame,
      broadcastGate: Long = ADJ_CELL_GATE): DataFrame = {
    // gate counts CELLS like trianglesOnUndirected (adjacency rows are
    // degree-wide arrays; a row-count gate would under-price them)
    val nCells = 2L * und.count()
    val both = und.select(col("x").as("a"), col("y").as("b"))
      .unionAll(und.select(col("y").as("a"), col("x").as("b")))
    val scored =
      if (nCells <= broadcastGate) {
        val adj = both.groupBy(col("a"))
          .agg(sort_array(collect_list(col("b"))).as("nbrs"))
        und
          .join(broadcast(adj.select(col("a").as("x"), col("nbrs").as("nx"))), Seq("x"))
          .join(broadcast(adj.select(col("a").as("y"), col("nbrs").as("ny"))), Seq("y"))
          // merge-count instead of size∘array_intersect (r15) — see
          // trianglesOnUndirected
          .select(col("x"), col("y"),
            graft.functions.SortedIntersectSizeF
              .sortedIntersectSize(col("nx"), col("ny")).cast("long").as("cn"),
            size(col("nx")).cast("long").as("deg_x"),
            size(col("ny")).cast("long").as("deg_y"))
      } else {
        // above the gate: the same degree-split wedge shape as
        // trianglesOnUndirected — bounded-width rows only; degrees come
        // from a node-sized aggregate joined UNHINTED (AQE picks
        // broadcast while the node table is small, shuffle when not)
        val deg = both.groupBy(col("a")).agg(count(lit(1)).as("deg"))
        edgeCommonNeighborCounts(und)
          .withColumnRenamed("c", "cn")
          .join(deg.select(col("a").as("x"), col("deg").as("deg_x")), Seq("x"))
          .join(deg.select(col("a").as("y"), col("deg").as("deg_y")), Seq("y"))
          .select(col("x"), col("y"), col("cn"), col("deg_x"), col("deg_y"))
      }
    scored
      .select(col("x"), col("y"), col("cn"), col("deg_x"), col("deg_y"),
        (col("cn").cast(DoubleType) /
          (col("deg_x") + col("deg_y") - col("cn")).cast(DoubleType)).as("jaccard"))
      .orderBy(col("jaccard").desc, col("x"), col("y"))
      .limit(30)
  }

  /** Degree distribution of the co-purchase graph in power-of-two
    * buckets — the structural health check run on every link graph (a
    * heavy-tailed web graph and a basket projection land in visibly
    * different histograms). Bucket = largest 2^k ≤ degree, computed by a
    * 63-row broadcast powers table (range join against a constant-sized
    * side — exact at any degree, unlike float log2); two aggregates
    * total, both node-sized. */
  def degreeDist(s: SparkSession, d: String): DataFrame =
    degreeDistOnEdges(copurchaseEdges(s, d))

  private[graft] def degreeDistOnEdges(edges: DataFrame): DataFrame = {
    val deg = edges
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val powers = deg.sparkSession.range(0, 63)
      .select(expr("shiftleft(1L, cast(id as int))").as("pw"))
    deg.join(broadcast(powers), col("pw") <= col("deg"))
      .groupBy(col("node"), col("deg")).agg(max(col("pw")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"))
      .orderBy(col("bucket"))
  }

  /** LABEL PROPAGATION community detection (Raghavan et al. 2007) —
    * the near-linear community finder next to q_modularity's quality
    * metric and q_graph_cc's connectivity: each node starts as its own
    * label and, for LP_PASSES synchronous rounds, adopts its neighbor
    * MAJORITY label (ties → smallest label — the deterministic variant;
    * the paper's random tie-break would not be oracle-checkable).
    * Judged output: the 20 largest communities after the fixed rounds
    * (synchronous LPA may oscillate on near-bipartite structure, so a
    * fixed pass count IS the semantics, the q_pagerank framing).
    *
    * Scale shape: per pass = one edge scan joined to the node-sized
    * label table (broadcast under the gate, shuffle join above it) into
    * a (node × candidate-label) vote aggregate — majority via ONE
    * struct-max agg, no window; labels localCheckpoint per pass to
    * bound lineage. All counts exact BIGINTs; no floats anywhere.
    *
    * CONTRACT (the ccPointerDoubling framing): `edges` must carry BOTH
    * directions of every undirected edge — the node set derives from
    * `src` alone and votes flow src→dst, so a one-directional edge set
    * would silently drop sink-only nodes from the label table. Every
    * caller passes the symmetric weightedEdges artifact. */
  private[graft] val LP_PASSES = 4
  private[graft] def labelPropOnEdges(edges: DataFrame, passes: Int,
      broadcastGate: Long = BROADCAST_MAX_ROWS,
      passCount: java.util.concurrent.atomic.AtomicInteger = null): DataFrame = {
    val nodes = edges.select(col("src").as("node")).distinct().localCheckpoint()
    val nNodes = nodes.count()
    var labels = nodes.select(col("node"), col("node").as("lbl"))
      .localCheckpoint()
    // EARLY EXIT at label stability: the synchronous vote is a
    // deterministic function of the label table, so an unchanged table
    // makes every remaining pass the identity — byte-identical to the
    // fixed-pass semantics even on graphs where LPA oscillates (those
    // simply never trip the exact node-sized stability probe)
    var stable = false
    val eRows = edges.count()
    for (_ <- 1 to passes if !stable) scopedPass(edges.sparkSession, nNodes,
        eRows, broadcastGate) {
      val next = edges
        .join(maybeBroadcast(labels.withColumnRenamed("node", "src"), nNodes,
          broadcastGate), Seq("src"))
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        // argmax by (votes desc, label asc) as one struct-max: negating
        // the label turns min-label into max-struct — no window shuffle
        .groupBy(col("dst").as("node"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("lbl"))
        .localCheckpoint()
      if (passCount != null) passCount.incrementAndGet()
      // node-sized probe — hint under the gate (the loop scope disables
      // AQE's runtime broadcast switch, see scopedPass)
      stable = next.join(maybeBroadcast(
          labels.withColumnRenamed("lbl", "lbl_prev"), nNodes, broadcastGate),
          Seq("node"))
        .filter(col("lbl") =!= col("lbl_prev")).isEmpty
      labels = next
    }
    labels
  }

  /** q_label_prop runs on the CONFIDENT (cooc ≥ 2) graph — the
    * q_graph_cc edge set: the full basket projection is so dense that
    * LPA collapses to one giant label in a round (measured: 2
    * communities at sf0.01); the confident subgraph keeps genuine
    * cluster structure. Read off the weighted-edge artifact
    * (w = 10⁶ div cooc ⇒ cooc ≥ 2 ⇔ w ≤ 500000). */
  def labelProp(s: SparkSession, d: String): DataFrame =
    labelPropOnEdges(
      weightedEdges(s, d).filter(col("w") <= 500000L)
        .select(col("src"), col("dst")),
      LP_PASSES)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"),
        min(col("node")).as("min_member"), max(col("node")).as("max_member"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(20)

  /** BUTTERFLY (bipartite 4-cycle) counting over the customer–part
    * purchase graph — the bipartite clustering primitive next to
    * q_triangle_count's unipartite one (Sanei-Mehri et al. 2018,
    * "Butterfly Counting in Bipartite Networks"): a butterfly is two
    * customers sharing two parts, the smallest unit of co-purchase
    * redundancy. Per part pair with c common customers the pair sits in
    * C(c,2) butterflies — so the whole count reduces to ONE wedge
    * aggregate (pairs from each customer's adjacency, p1 < p2) and a
    * closed form; no 4-cycle is ever enumerated. Judged output: the 20
    * most butterfly-dense part pairs.
    *
    * Scale shape: per-(p1,p2) common counts inherently touch every
    * wedge (Σ C(d,2) over customer degrees — each wedge contributes 1
    * to exactly one pair), so the scale question is not total work but
    * SKEW: a single whale customer must not put its quadratic wedge
    * fan-out behind one join key. DEGREE-SPLIT wedge generation bounds
    * it: each customer's adjacency is hash-chunked into ⌈deg/B⌉ chunks
    * of ~B parts; the left side replicates each edge to every chunk
    * pair (ci, j ≥ ci) and equi-joins the right side on
    * (c, chunk) — per-key fan-out ≤ ~B² rows regardless of degree,
    * and a whale's wedges spread over C(⌈deg/B⌉+1, 2) independent
    * keys (tasks). Exactness: chunks partition the adjacency, so each
    * unordered part pair lands in exactly one chunk pair (cross-chunk
    * once via the lower chunk, same-chunk halved by p1 < p2);
    * GraphsSpec plants a 1000-part hub and checks both the counts and
    * the per-key bound. Replication cost = deg·⌈deg/B⌉/2 rows ≤ the
    * wedge count it feeds — never the dominant term. Non-whale
    * customers (deg ≤ B) have one chunk: zero replication, the plain
    * wedge self-join. Overflow: c ≤ |customers| < 2³¹ keeps c·(c−1)
    * under 2⁶². */
  private[graft] val BUTTERFLY_CHUNK = 256L

  /** Canonical unordered-pair key (lo << 32 | hi) — ONE long where two
    * rode before, so pair-keyed aggregates and joins carry half the
    * grouping bytes (VERDICT r14 #2). Exact iff both ids fit 31 bits —
    * guarded LOUDLY per row (ids here are catalog part/customer keys,
    * ~2M at sf100; the guard is one codegen'd comparison, the hits()
    * overflow-guard policy). */
  private[graft] def packedPair(a: Column, b: Column): Column =
    when(a >= 0L && a < lit(1L << 31) && b >= 0L && b < lit(1L << 31),
      shiftleft(least(a, b), 32) + greatest(a, b))
      .otherwise(raise_error(lit(
        "packedPair: id exceeds 2^31 — widen the packed pair key")))

  /** Degree-split wedge STREAM over (c, p) adjacency: one (c, p1, p2)
    * row per unordered pair of c's neighbors, each pair exactly once.
    * Each c's adjacency is hash-chunked into ⌈deg/B⌉ chunks of ~B; the
    * left side replicates each row to every chunk pair (ci, j ≥ ci) and
    * equi-joins the right on (c, chunk) — per-join-key fan-out ≤ ~B²
    * rows regardless of a whale's degree, and its wedges spread over
    * C(⌈deg/B⌉+1, 2) independent keys. Chunks partition the adjacency,
    * so each pair lands in exactly one chunk pair (cross-chunk once via
    * the lower chunk, same-chunk halved by p1 < p2); replication cost
    * deg·⌈deg/B⌉/2 ≤ the wedge count it feeds. Shared by the butterfly
    * counter and the oriented triangle path. */
  private[graft] def chunkedWedges(e: DataFrame, chunk: Long = BUTTERFLY_CHUNK): DataFrame = {
    val deg = e.groupBy(col("c")).agg(count(lit(1)).as("deg"))
    val withCh = e.join(deg, Seq("c"))
      .select(col("c"), col("p"),
        expr(s"(deg + ${chunk - 1}L) div ${chunk}L").as("nch"))
      .withColumn("ch", pmod(xxhash64(col("p")), col("nch")))
    // PARALLELISM FLOOR for the wedge explosion (r15, guide §2.5/§6):
    // the chunk aggregation's input streams out of the adjacency SCAN,
    // so its task count would be the parquet split count — 6 splits at
    // sf0.1 — while the downstream work is Σ C(deg,2) generated wedge
    // rows, which size-based split planning cannot see. Hash-repartition
    // on the chunk key first: per-key work is chunk-bounded (≤ ~B² per
    // (c, ch) pair), so the key hash spreads evenly. Width scales with
    // DATA (input splits grow with bytes), floored at 2× cores for small
    // inputs — never a constant tuned to either scale.
    val nParts = math.max(
      2 * e.sparkSession.sparkContext.defaultParallelism,
      e.rdd.getNumPartitions * 8)
    // r16: collect each (c, chunk) adjacency slice into ONE array row and
    // generate the pairs ROW-SIDE with generators (the assoc-rules /
    // bradley-terry restructure applied to the wedge stream). The old
    // shape replicated every left row to each chunk pair and streamed
    // Σ C(deg,2) wedges through hash-join probe + row assembly — 20.2 s
    // of task time in the join stage at sf0.1; generators emit the same
    // rows as pure iteration inside one codegen span, no join machinery.
    // Per-row fan-out stays chunk-bounded: a chunk array is ≤ ~B
    // elements, so one row generates ≤ C(B,2) same-chunk or ≤ B² cross-
    // chunk pairs. (c, p) edges are distinct, so array positions i < j
    // enumerate each unordered pair exactly once; consumers canonicalize
    // orientation via packedPair, so collect_list order is free.
    val chunks = withCh
      .repartition(nParts, col("c"), col("ch"))
      .groupBy(col("c"), col("ch"))
      .agg(collect_list(col("p")).as("ps"))
    val same = chunks
      .select(col("c"), col("ps"), posexplode(col("ps")).as(Seq("i", "p1")))
      .select(col("c"), col("p1"),
        explode(slice(col("ps"), col("i") + lit(2), size(col("ps")))).as("p2"))
    // cross-chunk: one row per (ci < cj) chunk pair of the same c (the
    // chunks partition the adjacency, so each cross pair appears in
    // exactly one chunk pair), then the cartesian of the two arrays is
    // generated row-side. Empty whenever no degree exceeds the chunk
    // size — the join input is the chunk table, ~|V| tiny rows.
    // explicit renames on both sides: a self-join via a("c") === b("c")
    // resolves both to the same attribute (trivially-true predicate)
    val a = chunks.select(col("c").as("ca"), col("ch").as("ci"), col("ps").as("pa"))
    val b = chunks.select(col("c").as("cb"), col("ch").as("cj"), col("ps").as("pb"))
    val cross = a.join(b, col("ca") === col("cb") && col("ci") < col("cj"))
      .select(col("ca").as("c"), col("pa"), col("pb"))
      .select(col("c"), col("pb"), explode(col("pa")).as("p1"))
      .select(col("c"), col("p1"), explode(col("pb")).as("p2"))
    same.unionByName(cross)
  }

  private[graft] def butterflyWedgeCounts(e: DataFrame, chunk: Long = BUTTERFLY_CHUNK): DataFrame =
    // the pair aggregate hash-groups the FULL wedge stream (Σ C(deg,2)
    // records — 1.5e9 at sf10), so record width is the cost driver:
    // aggregate on the packed key, unpack after
    chunkedWedges(e, chunk)
      .select(packedPair(col("p1"), col("p2")).as("pk"))
      // Plain groupBy (map-side partial + final agg). Under the r16
      // row-side generation layout a customer's pairs all emit from one
      // task, so the partial agg pre-reduces cross-customer repeats the
      // old scattered-join layout could not reach — A/B at sf0.1: raw
      // repartition(pk)+agg 22.5 s of stage task time vs 21.6 s with the
      // partial agg, wall 1.94 vs 1.76, cpu 27.9 vs 26.4.
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("n_common"))
      .select(shiftright(col("pk"), 32).as("p1"),
        col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("p2"),
        col("n_common"))

  def butterfly(s: SparkSession, d: String): DataFrame =
    butterflyWedgeCounts(custPartEdges(s, d))
      .filter(col("n_common") >= 2)
      .select(col("p1"), col("p2"), col("n_common"),
        expr("n_common * (n_common - 1L) div 2L").as("butterflies"))
      .orderBy(col("butterflies").desc, col("p1"), col("p2"))
      .limit(20)

  /** TRUNCATED HARMONIC CENTRALITY (Boldi & Vigna 2014) of the
    * HARMONIC_SEEDS smallest parts in the co-purchase graph: H(s) =
    * Σ_{v≠s} 1/d(s,v) over nodes within HARMONIC_HOPS hops — the
    * centrality that handles disconnected graphs without q_bfs's
    * unreached-node dropout (unreached terms are simply 0). Distances
    * come from one MULTI-SOURCE BFS carrying (seed, node) state — the
    * per-seed generalization of bfsOnEdges, |seeds|× the state rows but
    * the same per-pass join shape. Per-term values are the exact
    * integers 10⁶ div d (d ∈ 1..HOPS, non-negative div — both engines
    * floor identically), so H is an order-free BIGINT sum.
    *
    * Scale shape: each pass = one edge scan joined to the reached set
    * (size-gated broadcast, re-gated per pass as it grows) into
    * (seed, node) min partials; seed count is the multiplier on state,
    * chosen fixed (8) so reached-set rows stay ≤ 8·|V|. */
  private[graft] val HARMONIC_HOPS = 4
  private[graft] val HARMONIC_SEEDS = 8

  /** Ordered (hi, lo) packed key — the packedPair idea WITHOUT the
    * canonicalization (the two halves are different roles, e.g.
    * (seed, node)). Exact iff both ids fit 31 bits — guarded LOUDLY. */
  private[graft] def packedKey(hi: Column, lo: Column): Column =
    when(hi >= 0L && hi < lit(1L << 31) && lo >= 0L && lo < lit(1L << 31),
      shiftleft(hi, 32) + lo)
      .otherwise(raise_error(lit(
        "packedKey: id exceeds 2^31 — widen the packed key")))

  def harmonic(s: SparkSession, d: String): DataFrame = {
    val edges = copurchaseEdges(s, d).select(col("src"), col("dst"))
    val seeds = edges.select(col("src").as("seed")).distinct()
      .orderBy(col("seed")).limit(HARMONIC_SEEDS)
    // state rows carry ONE packed (seed<<32 | node) long instead of two
    // id columns (r15, guide §2.3 narrower types): the per-pass
    // contribution stream into the min-aggregate is the dominant
    // shuffle of this query (measured 84 MB / 8.4 M records at sf0.1,
    // the two widest stages of the profile) — packing drops record
    // width by a third and the group-by key to one long. Bijective
    // within the loudly-guarded 31-bit id envelope, so min-per-(seed,
    // node) is exactly min-per-key; the readout unpacks.
    var dist = seeds.select(packedKey(col("seed"), col("seed")).as("sn"),
      lit(0L).as("dist")).localCheckpoint()
    // frontier-only relaxation per (seed, node) key — the bfsOnEdges
    // r15 argument verbatim (unit weights: first-reach is final, so
    // only keys first reached last pass need to propagate)
    var frontier = dist
    var nReached = dist.count()
    // same first-reach early exit as bfsOnEdges, per (seed, node) key
    var prevReached = -1L
    // pass stream estimate: the contribution stream is the frontier-
    // incident edge set — E is the right order (the seeds×E worst case
    // over-widened the min-agg 8×, measured cpu 17.8 → 35.6 s; a mild
    // underestimate only means slightly larger spill-safe reduce tasks)
    val eRows = edges.count()
    for (k <- 1 to HARMONIC_HOPS if nReached != prevReached) scopedPass(
        s, nReached, eRows, BROADCAST_MAX_ROWS) {
      prevReached = nReached
      // frontier rows all carry dist == k−1, so the contribution dist is
      // the constant k — project it away before the broadcast
      val fr = frontier.select(shiftright(col("sn"), 32).as("seed"),
        col("sn").bitwiseAND(lit(0xFFFFFFFFL)).as("src"))
      // same anti-join-before-the-exchange restructure as bfsOnEdges
      // (first-reach is final per (seed, node) key): contributions to
      // already-reached keys — the bulk once the closure densifies —
      // die on the map side against the broadcast reached set instead
      // of riding the 18.8 MB min-agg shuffle to be discarded there
      // (stage profile: 2×4.8 s map stages, in=2.5 M rows each)
      val newKeys = edges
        .join(maybeBroadcast(fr, nReached, BROADCAST_MAX_ROWS),
          Seq("src"))
        .select(packedKey(col("seed"), col("dst")).as("sn"))
        .join(maybeBroadcast(dist.select(col("sn")), nReached,
          BROADCAST_MAX_ROWS), Seq("sn"), "left_anti")
        .distinct()
        .select(col("sn"), lit(k.toLong).as("dist"))
      dist = dist.unionAll(newKeys).localCheckpoint()
      frontier = dist.filter(col("dist") === lit(k.toLong))
      nReached = dist.count()
    }
    dist.filter(col("dist") > 0L)
      .groupBy(shiftright(col("sn"), 32).as("part_id"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000L div dist")).as("harmonic_q"))
      .orderBy(col("harmonic_q").desc, col("part_id"))
  }

  /** BRADLEY–TERRY preference rating (Bradley & Terry 1952) fit by
    * BT_ITERS rounds of the MM algorithm (Hunter 2004) — the
    * pairwise-comparison primitive an RLHF/eval pipeline runs over
    * preference data. Duels are synthesized deterministically: within
    * each order, brand A beats brand B when A's summed quantity is
    * strictly larger (ties are no contest). MM update π'ᵢ =
    * Wᵢ / Σⱼ gᵢⱼ/(πᵢ+πⱼ) runs in 10⁶ fixed point: each pair term is
    * the exact integer (gᵢⱼ·10¹²) div (πᵢ+πⱼ) — floored identically on
    * both engines BEFORE the per-brand sum, which is what keeps the
    * sum order-free — and π' = (Wᵢ·10¹²) div Σ, floored again. BT is
    * scale-invariant, so the unnormalized fixed point ranks exactly as
    * the normalized one. Measured envelope at sf0.1: π ∈ [0.98·10⁶,
    * 1.02·10⁶]; overflow bound g·10¹² < 2⁶³ holds to ~9M duels per
    * pair. greatest(1) guards are for the degenerate all-losses brand
    * (π pins to the floor instead of 0-dividing next round).
    *
    * Scale shape: duels are the per-order brand self-join (bounded by
    * brands-per-order, the basketItems argument); `games` collapses to
    * O(brands²) rows — a FIXED-cardinality table (≤ B², B = 25 here),
    * so every MM pass is a join over a tiny broadcastable table no
    * matter the corpus size; the corpus-sized work is the one duel
    * aggregation up front. */
  private[graft] val BT_ITERS = 3
  def bradleyTerry(s: SparkSession, d: String): DataFrame = {
    // Tables.spread: the duel aggregate's scan+join+partial-agg stage
    // ran 0.82 s single-reader on the single-row-group fixture (r15;
    // gated no-op on parallel layouts)
    val bq = graft.Tables.spread(
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity")),
        col("l_orderkey"))
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey").as("o"), col("p_brand").as("b"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    // r16: duels by PER-ORDER GENERATION — the assocRules restructure
    // verbatim. The o-keyed self-join shuffled bq twice (stage profile:
    // 14.1 MB read = 2× the 7.1 MB bq exchange) and streamed every
    // Σk² duel row through SMJ sort + row assembly (7.8 s of task time
    // at sf0.1/32). Collect each order's (brand, qty) rows once — one
    // shuffle of bq — sort by brand, and generate the b1 < b2 duels
    // row-side with two generators (sort_array on the struct orders by
    // the leading field b; brands are unique per order after the bq
    // groupBy, so the slice pairs are exactly the b1 < b2 pairs).
    // Brands-per-order is catalog-bounded, so the arrays stay small at
    // any corpus scale.
    val games = bq
      .groupBy(col("o"))
      .agg(sort_array(collect_list(struct(col("b"), col("q")))).as("bs"))
      .select(col("bs"), posexplode(col("bs")).as(Seq("i", "x")))
      .select(col("x.b").as("b1"), col("x.q").as("q1"),
        explode(expr("slice(bs, i + 2, size(bs) - i - 1)")).as("y"))
      .select(col("b1"), col("q1"), col("y.b").as("b2"), col("y.q").as("q2"))
      .filter(col("q1") =!= col("q2"))
      .groupBy(col("b1"), col("b2"))
      .agg(count(lit(1)).as("g"),
        sum(when(col("q1") > col("q2"), 1L).otherwise(0L)).as("w1"))
      .localCheckpoint() // O(B²) rows; every pass reads it twice
    val wins = games.select(col("b1").as("b"), col("w1").as("w"), col("g"))
      .unionAll(games.select(col("b2").as("b"),
        (col("g") - col("w1")).as("w"), col("g")))
      .groupBy(col("b"))
      .agg(sum(col("w")).as("wins"), sum(col("g")).as("games"))
      .localCheckpoint()
    var pi = wins.select(col("b"), lit(1000000L).as("pi"))
    for (_ <- 1 to BT_ITERS) {
      val j = games
        .join(broadcast(pi.toDF("b1", "pi1")), Seq("b1"))
        .join(broadcast(pi.toDF("b2", "pi2")), Seq("b2"))
        .withColumn("t", expr("(g * 1000000000000L) div (pi1 + pi2)"))
      val sden = j.select(col("b1").as("b"), col("t"))
        .unionAll(j.select(col("b2").as("b"), col("t")))
        .groupBy(col("b")).agg(sum(col("t")).as("sden"))
      pi = wins.join(sden, Seq("b"))
        .select(col("b"), greatest(lit(1L),
          expr("(wins * 1000000000000L) div greatest(sden, 1L)")).as("pi"))
        // per-iter checkpoint STAYS (r16, measured): dropping it cut
        // jobs 28 -> 18 but the two broadcast builds per iteration then
        // re-executed the whole unrolled chain (wall 1.85 -> 3.49 s)
        .localCheckpoint()
    }
    wins.join(pi, Seq("b"))
      .select(col("b").as("brand"), col("wins"), col("games"),
        col("pi").as("rating_q"))
      .orderBy(col("rating_q").desc, col("brand"))
  }

  /** DETERMINISTIC RANDOM WALKS (the DeepWalk/node2vec corpus
    * generator, Perozzi 2014) from the RW_SEEDS smallest nodes of the
    * confident co-purchase graph: WALK_STEPS uniform steps where the
    * "random" neighbor choice is DERIVED, not drawn — index =
    * md5(seed:node:step) mod outdeg into the dst-sorted ranked
    * adjacency (the content-hash sampling principle from
    * q_sample_hash/q_random_projection applied to walk transitions,
    * which is what makes a walk corpus reproducible across re-runs,
    * partitionings, and cluster sizes — and oracle-checkable at all).
    * Judged output: the full (seed, step, node) traces.
    *
    * Scale shape: the ranked adjacency (one per-src row_number window
    * over the edge artifact) builds once; each step is one
    * frontier-sized join against outdeg + one indexed-adjacency
    * equi-join — frontier rows = |seeds|, so step cost is driven by
    * the adjacency probe, not the corpus. A production walk corpus
    * fans out to millions of seeds; the per-step shape (two equi-joins
    * on src) is unchanged, only the frontier row count grows. */
  private[graft] val WALK_STEPS = 4
  private[graft] val RW_SEEDS = 8
  def randomWalk(s: SparkSession, d: String): DataFrame = {
    val edges = weightedEdges(s, d).filter(col("w") <= 500000L)
      .select(col("src"), col("dst"))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    val adj = edges
      .withColumn("rank", row_number().over(wA).cast("long"))
      .localCheckpoint()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val seeds = edges.select(col("src").as("node")).distinct()
      .orderBy(col("node")).limit(RW_SEEDS)
    var cur = seeds.select(col("node").as("seed"), col("node"),
      lit(0).as("step")).localCheckpoint()
    var trace = cur
    val eRows = adj.count()
    for (t <- 1 to WALK_STEPS) scopedPass(s, RW_SEEDS, eRows,
        BROADCAST_MAX_ROWS) {
      val key = concat(col("seed").cast("string"), lit(":"),
        col("node").cast("string"), lit(s":$t"))
      // the walk frontier is |seeds| rows by construction (one row per
      // walk, every step): broadcast it into both adjacency probes —
      // the loop scope disables AQE's runtime broadcast switch, and an
      // unhinted plan would shuffle the E-row adjacency every step
      cur = maybeBroadcast(maybeBroadcast(cur, RW_SEEDS, BROADCAST_MAX_ROWS)
          .join(deg.withColumnRenamed("src", "node"), Seq("node"))
          .withColumn("rank",
            conv(substring(md5(key), 1, 6), 16, 10).cast("long") % col("deg") + 1L),
          RW_SEEDS, BROADCAST_MAX_ROWS)
        .join(adj.withColumnRenamed("src", "node"), Seq("node", "rank"))
        .select(col("seed"), col("dst").as("node"), lit(t).as("step"))
        .localCheckpoint()
      trace = trace.unionAll(cur)
    }
    trace.select(col("seed"), col("step"), col("node"))
      .orderBy(col("seed"), col("step"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_random_walk" -> randomWalk,
    "q_butterfly" -> butterfly,
    "q_harmonic" -> harmonic,
    "q_bradley_terry" -> bradleyTerry,
    "q_label_prop" -> labelProp,
    "q_hits" -> hits,
    "q_graph_jaccard" -> graphJaccard,
    "q_degree_dist" -> degreeDist,
    "q_graph_cc" -> graphCC,
    "q_sssp" -> sssp,
    "q_bfs" -> bfs,
    "q_recommend" -> recommend,
    "q_pagerank" -> pagerank,
    "q_triangle_count" -> triangleCount,
    "q_kcore" -> kcore,
    "q_modularity" -> modularity,
    "q_assoc_rules" -> assocRules)

  /** Unrolled peel oracle: peeling is monotone and idempotent after the
    * fixpoint, so 10 rounds ≥ the measured 6-round convergence replay
    * the exact core (the Spark side REQUIREs the bound). */
  private def kcoreOracle: String = {
    // MATERIALIZED: each round references its predecessor twice — under
    // default inlining the 10-round chain expands 2^10-fold (the
    // q_mmr_rerank lesson)
    def peel(i: Int) =
      s""", a$i AS MATERIALIZED (
         SELECT e.src AS node, CAST(count(*) AS BIGINT) AS deg
         FROM edges e
         JOIN a${i - 1} s ON e.src = s.node
         JOIN a${i - 1} t ON e.dst = t.node
         GROUP BY 1 HAVING count(*) >= $KCORE_K)"""
    edgeCtes +
      """,
       a0 AS (SELECT DISTINCT src AS node FROM edges)""" +
      (1 to KCORE_ROUNDS).map(peel).mkString +
      s"""
       SELECT node AS part_id, deg AS core_deg FROM a$KCORE_ROUNDS
       ORDER BY part_id"""
  }

  /** Unrolled synchronous LPA oracle: LP_PASSES chained vote/argmax
    * rounds; row_number (cnt DESC, lbl) replays the struct-max
    * tie-break exactly. MATERIALIZED — each round feeds the next. */
  private def labelPropOracle: String = {
    def pass(i: Int) =
      s""", v$i AS MATERIALIZED (
         SELECT e.dst AS node, l.lbl, CAST(count(*) AS BIGINT) AS cnt
         FROM cedges e JOIN l${i - 1} l ON e.src = l.node
         GROUP BY 1, 2),
       l$i AS MATERIALIZED (
         SELECT node, lbl FROM (
           SELECT node, lbl,
             row_number() OVER (PARTITION BY node
               ORDER BY cnt DESC, lbl) AS rn
           FROM v$i) WHERE rn = 1)"""
    edgeCtes +
      """,
       cedges AS MATERIALIZED (
         SELECT a.p AS src, b.p AS dst
         FROM items a JOIN items b ON a.o = b.o AND a.p <> b.p
         GROUP BY 1, 2 HAVING count(*) >= 2),
       l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM cedges)""" +
      (1 to LP_PASSES).map(pass).mkString +
      s"""
       SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
         min(node) AS min_member, max(node) AS max_member
       FROM l$LP_PASSES GROUP BY 1
       ORDER BY n_members DESC, community LIMIT 20"""
  }

  /** Shared oracle prelude: the co-purchase edge CTEs. */
  private val edgeCtes =
    """WITH items AS MATERIALIZED (
         SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       edges AS MATERIALIZED (
         SELECT DISTINCT a.p AS src, b.p AS dst
         FROM items a JOIN items b ON a.o = b.o AND a.p <> b.p)"""

  /** The unrolled integer-PageRank oracle (fixed ITERS chained CTEs —
    * DuckDB `//` floors like Spark's `div` truncates on these
    * all-positive BIGINTs). */
  private def pagerankOracle: String = {
    def pass(i: Int) =
      s""", r$i AS (
         SELECT n.node,
           CAST((15 * $SCALE) // (100 * (SELECT n_nodes FROM nn))
             + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS r
         FROM nodes n LEFT JOIN (
           SELECT e.dst AS node,
             CAST(sum(rr.r // dg.outdeg) AS BIGINT) AS contrib
           FROM edges e
           JOIN r${i - 1} rr ON e.src = rr.node
           JOIN deg dg ON dg.src = e.src
           GROUP BY 1) c ON n.node = c.node)"""
    edgeCtes +
      s""",
       nodes AS (SELECT DISTINCT src AS node FROM edges),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
       deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
               FROM edges GROUP BY 1),
       r0 AS (SELECT node,
                CAST($SCALE // (SELECT n_nodes FROM nn) AS BIGINT) AS r
              FROM nodes)""" +
      (1 to ITERS).map(pass).mkString +
      """
       SELECT node AS part_id, r AS rank_scaled FROM r""" + ITERS +
      """
       ORDER BY r DESC, node LIMIT 20"""
  }

  /** Unrolled min-relaxation oracle: BFS_HOPS chained passes, each the
    * UNION ALL of the previous reached set with every one-hop
    * relaxation, min per node. MATERIALIZED — each pass references its
    * predecessor twice, so default inlining would expand the chain
    * 2^BFS_HOPS-fold (the q_mmr_rerank lesson). */
  private def bfsOracle: String = {
    def pass(i: Int) =
      s""", d$i AS MATERIALIZED (
         SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
           SELECT node, dist FROM d${i - 1}
           UNION ALL
           SELECT e.dst AS node, p.dist + 1 AS dist
           FROM edges e JOIN d${i - 1} p ON e.src = p.node)
         GROUP BY 1)"""
    edgeCtes +
      s""",
       d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM
                (SELECT DISTINCT src AS node FROM edges)
              ORDER BY node LIMIT $BFS_SEEDS)""" +
      (1 to BFS_HOPS).map(pass).mkString +
      s"""
       SELECT node AS part_id, dist AS hop FROM d$BFS_HOPS
       ORDER BY hop, part_id"""
  }

  /** Unrolled weighted min-relaxation oracle (the bfsOracle shape with
    * per-edge weights; `//` floors like Spark's `div` on positive
    * BIGINTs, the q_pagerank dialect note). */
  private def ssspOracle: String = {
    def pass(i: Int) =
      s""", d$i AS MATERIALIZED (
         SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
           SELECT node, dist FROM d${i - 1}
           UNION ALL
           SELECT e.dst AS node, p.dist + e.w AS dist
           FROM wedges e JOIN d${i - 1} p ON e.src = p.node)
         GROUP BY 1)"""
    s"""WITH items AS MATERIALIZED (
         SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       wedges AS MATERIALIZED (
         SELECT a.p AS src, b.p AS dst,
           CAST(1000000 // count(*) AS BIGINT) AS w
         FROM items a JOIN items b ON a.o = b.o AND a.p <> b.p
         GROUP BY 1, 2),
       d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM
                (SELECT DISTINCT src AS node FROM wedges)
              ORDER BY node LIMIT 1)""" +
      (1 to SSSP_PASSES).map(pass).mkString +
      s"""
       SELECT node AS part_id, dist AS dist_scaled FROM d$SSSP_PASSES
       ORDER BY dist_scaled, part_id"""
  }

  /** Unrolled multi-source BFS oracle (the bfsOracle shape with a seed
    * column carried through every pass), folded to 10⁶ div d terms. */
  private def harmonicOracle: String = {
    def pass(i: Int) =
      s""", d$i AS MATERIALIZED (
         SELECT seed, node, CAST(min(dist) AS BIGINT) AS dist FROM (
           SELECT seed, node, dist FROM d${i - 1}
           UNION ALL
           SELECT p.seed, e.dst AS node, p.dist + 1 AS dist
           FROM edges e JOIN d${i - 1} p ON e.src = p.node)
         GROUP BY 1, 2)"""
    edgeCtes +
      s""",
       d0 AS (SELECT node AS seed, node, CAST(0 AS BIGINT) AS dist FROM
                (SELECT DISTINCT src AS node FROM edges)
              ORDER BY node LIMIT $HARMONIC_SEEDS)""" +
      (1 to HARMONIC_HOPS).map(pass).mkString +
      s"""
       SELECT seed AS part_id, CAST(count(*) AS BIGINT) AS n_reached,
         CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_q
       FROM d$HARMONIC_HOPS WHERE dist > 0
       GROUP BY 1 ORDER BY harmonic_q DESC, part_id"""
  }

  /** Unrolled MM oracle for Bradley–Terry: BT_ITERS chained pair-term /
    * rating CTEs, `//` ≡ `div` on these all-positive BIGINTs. */
  private def bradleyTerryOracle: String = {
    def pass(i: Int) =
      s""", p$i AS MATERIALIZED (
         SELECT w.b, greatest(1, (w.wins * 1000000000000) // greatest(s.sden, 1)) AS pi
         FROM wins w JOIN (
           SELECT b, CAST(sum(t) AS BIGINT) AS sden FROM (
             SELECT g.b1 AS b, (g.g * 1000000000000) // (pa.pi + pb.pi) AS t
             FROM games g JOIN p${i - 1} pa ON pa.b = g.b1
               JOIN p${i - 1} pb ON pb.b = g.b2
             UNION ALL
             SELECT g.b2, (g.g * 1000000000000) // (pa.pi + pb.pi)
             FROM games g JOIN p${i - 1} pa ON pa.b = g.b1
               JOIN p${i - 1} pb ON pb.b = g.b2) GROUP BY 1) s
         ON s.b = w.b)"""
    s"""WITH bq AS MATERIALIZED (
         SELECT l_orderkey AS o, p_brand AS b,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
         FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
       games AS MATERIALIZED (
         SELECT a.b AS b1, b.b AS b2, CAST(count(*) AS BIGINT) AS g,
           CAST(count(*) FILTER (a.q > b.q) AS BIGINT) AS w1
         FROM bq a JOIN bq b ON a.o = b.o AND a.b < b.b AND a.q <> b.q
         GROUP BY 1, 2),
       wins AS MATERIALIZED (
         SELECT b, CAST(sum(w) AS BIGINT) AS wins,
           CAST(sum(g) AS BIGINT) AS games FROM (
           SELECT b1 AS b, w1 AS w, g FROM games
           UNION ALL SELECT b2, g - w1, g FROM games) GROUP BY 1),
       p0 AS (SELECT b, CAST(1000000 AS BIGINT) AS pi FROM wins)""" +
      (1 to BT_ITERS).map(pass).mkString +
      s"""
       SELECT w.b AS brand, w.wins, w.games, p.pi AS rating_q
       FROM wins w JOIN p$BT_ITERS p USING (b)
       ORDER BY rating_q DESC, brand"""
  }

  /** Unrolled walk oracle: WALK_STEPS chained CTEs, each picking the
    * md5-derived rank from the dst-sorted adjacency of the confident
    * graph ('0x'||hex-parse is the countMin dialect bridge). */
  private def randomWalkOracle: String = {
    def step(t: Int) =
      s""", w$t AS MATERIALIZED (
         SELECT w.seed, a.dst AS node, $t AS step
         FROM w${t - 1} w
         JOIN deg d ON d.src = w.node
         JOIN adj a ON a.src = w.node AND a.rank =
           CAST(('0x' || substr(md5(CAST(w.seed AS VARCHAR) || ':' ||
             CAST(w.node AS VARCHAR) || ':$t'), 1, 6)) AS BIGINT)
             % d.deg + 1)"""
    s"""WITH items AS MATERIALIZED (
         SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       e AS MATERIALIZED (
         SELECT a.p AS src, b.p AS dst
         FROM items a JOIN items b ON a.o = b.o AND a.p <> b.p
         GROUP BY 1, 2 HAVING count(*) >= 2),
       adj AS MATERIALIZED (
         SELECT src, dst,
           CAST(row_number() OVER (PARTITION BY src ORDER BY dst) AS BIGINT) AS rank
         FROM e),
       deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
       w0 AS (SELECT node AS seed, node, 0 AS step FROM
                (SELECT DISTINCT src AS node FROM e)
              ORDER BY node LIMIT $RW_SEEDS)""" +
      (1 to WALK_STEPS).map(step).mkString +
      s"""
       SELECT seed, step, node FROM (${(0 to WALK_STEPS)
        .map(t => s"SELECT * FROM w$t").mkString(" UNION ALL ")})
       ORDER BY seed, step"""
  }

  val oracle: Map[String, String] = Map(
    "q_random_walk" -> randomWalkOracle,
    // one wedge aggregate + the C(c,2) closed form — no 4-cycle is
    // enumerated on either engine.
    "q_butterfly" ->
      """WITH cp AS MATERIALIZED (
           SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         pc AS (
           SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS n_common
           FROM cp a JOIN cp b ON a.c = b.c AND a.p < b.p
           GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT p1, p2, n_common,
           CAST(n_common * (n_common - 1) // 2 AS BIGINT) AS butterflies
         FROM pc ORDER BY butterflies DESC, p1, p2 LIMIT 20""",
    "q_harmonic" -> harmonicOracle,
    "q_bradley_terry" -> bradleyTerryOracle,
    // unnormalized bipartite HITS = exact alternating-path counts; two
    // half-iterations per side, mirrored join-for-join.
    "q_hits" ->
      """WITH e AS MATERIALIZED (
           SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         a1 AS (SELECT p, CAST(count(*) AS BIGINT) AS a1 FROM e GROUP BY 1),
         h1 AS (SELECT e.c, CAST(sum(a1.a1) AS BIGINT) AS h1
                FROM e JOIN a1 ON e.p = a1.p GROUP BY 1),
         a2 AS (SELECT e.p, CAST(sum(h1.h1) AS BIGINT) AS a2
                FROM e JOIN h1 ON e.c = h1.c GROUP BY 1),
         h2 AS (SELECT e.c, CAST(sum(a2.a2) AS BIGINT) AS h2
                FROM e JOIN a2 ON e.p = a2.p GROUP BY 1),
         ta AS (SELECT 'authority' AS kind, a1.p AS node_id,
                  a1.a1 AS score1, a2.a2 AS score2
                FROM a1 JOIN a2 ON a1.p = a2.p
                ORDER BY a2.a2 DESC, a1.p LIMIT 20),
         th AS (SELECT 'hub' AS kind, h1.c AS node_id,
                  h1.h1 AS score1, h2.h2 AS score2
                FROM h1 JOIN h2 ON h1.c = h2.c
                ORDER BY h2.h2 DESC, h1.c LIMIT 20)
         SELECT * FROM (SELECT * FROM ta UNION ALL SELECT * FROM th)
         ORDER BY kind, score2 DESC, node_id""",
    // common neighbors per observed edge via the 2-hop self-join — a
    // different (shuffle-heavier) plan than Spark's adjacency-array
    // intersections, same pair set by construction.
    "q_graph_jaccard" -> (edgeCtes +
      """,
       und AS (SELECT src AS x, dst AS y FROM edges WHERE src < dst),
       deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
               FROM edges GROUP BY 1),
       cn AS (
         SELECT u.x, u.y, CAST(count(*) AS BIGINT) AS cn
         FROM und u
         JOIN edges e1 ON e1.src = u.x
         JOIN edges e2 ON e2.src = u.y AND e2.dst = e1.dst
         GROUP BY 1, 2)
       SELECT u.x, u.y, COALESCE(c.cn, 0) AS cn,
         dx.deg AS deg_x, dy.deg AS deg_y,
         CAST(COALESCE(c.cn, 0) AS DOUBLE)
           / CAST(dx.deg + dy.deg - COALESCE(c.cn, 0) AS DOUBLE) AS jaccard
       FROM und u
       LEFT JOIN cn c ON c.x = u.x AND c.y = u.y
       JOIN deg dx ON dx.node = u.x
       JOIN deg dy ON dy.node = u.y
       ORDER BY jaccard DESC, u.x, u.y LIMIT 30"""),
    "q_degree_dist" -> (edgeCtes +
      """,
       deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
               FROM edges GROUP BY 1),
       powers AS (SELECT CAST(1::BIGINT << CAST(range AS INT) AS BIGINT) AS pw
                  FROM range(0, 63)),
       bucketed AS (
         SELECT node, deg, CAST(max(pw) AS BIGINT) AS bucket
         FROM deg JOIN powers ON pw <= deg
         GROUP BY 1, 2)
       SELECT bucket, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(min(deg) AS BIGINT) AS min_deg,
         CAST(max(deg) AS BIGINT) AS max_deg
       FROM bucketed GROUP BY 1 ORDER BY bucket"""),
    // recursive-CTE transitive closure with min-reachable labels (the
    // q_dedup_cluster formulation) over the cooc>=2 confident edges.
    "q_graph_cc" ->
      s"""WITH items AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         e AS MATERIALIZED (
           SELECT a.p AS src, b.p AS dst
           FROM items a JOIN items b ON a.o = b.o AND a.p <> b.p
           GROUP BY 1, 2 HAVING count(*) >= 2),
         ${OracleCc.ccCtes("e", "cclab")},
         lab AS (SELECT node, lb AS cluster_id FROM cclab),
         sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
                FROM lab GROUP BY 1)
         SELECT node AS part_id, cluster_id, n_members
         FROM lab JOIN sz USING (cluster_id)
         ORDER BY part_id""",
    "q_sssp" -> ssspOracle,
    "q_bfs" -> bfsOracle,
    "q_recommend" ->
      """WITH items AS (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         pop AS (SELECT p, CAST(count(*) AS BIGINT) AS pop FROM items GROUP BY 1),
         top20 AS (SELECT p AS a FROM pop ORDER BY pop DESC, p LIMIT 20),
         cooc AS (
           SELECT x.p AS a, y.p AS b, CAST(count(*) AS BIGINT) AS cooc
           FROM items x JOIN items y ON x.o = y.o AND x.p <> y.p
           WHERE x.p IN (SELECT a FROM top20)
           GROUP BY 1, 2),
         scored AS (
           SELECT c.a, c.b, c.cooc, pa.pop AS pop_a, pb.pop AS pop_b,
             CAST(c.cooc AS DOUBLE)
               / sqrt(CAST(pa.pop * pb.pop AS DOUBLE)) AS score
           FROM cooc c
           JOIN pop pa ON pa.p = c.a
           JOIN pop pb ON pb.p = c.b)
         SELECT a AS item, rk, b AS rec, cooc, score FROM (
           SELECT a, b, cooc, score,
             CAST(row_number() OVER (PARTITION BY a
               ORDER BY score DESC, b) AS INT) AS rk
           FROM scored) WHERE rk <= 5
         ORDER BY item, rk""",
    "q_assoc_rules" ->
      """WITH items AS (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM items),
         isup AS (SELECT p, CAST(count(*) AS BIGINT) AS sup FROM items GROUP BY 1),
         psup AS (
           SELECT a.p AS a, b.p AS b, CAST(count(*) AS BIGINT) AS sup_ab
           FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
           GROUP BY 1, 2 HAVING count(*) >= 2),
         dirs AS (
           SELECT a AS ant, b AS cons, sup_ab FROM psup
           UNION ALL SELECT b, a, sup_ab FROM psup)
         SELECT d.ant, d.cons, d.sup_ab,
           sa.sup AS sup_ant, sc.sup AS sup_cons,
           CAST(d.sup_ab AS DOUBLE) / CAST(sa.sup AS DOUBLE) AS confidence,
           CAST(n.n_orders * d.sup_ab AS DOUBLE)
             / CAST(sa.sup * sc.sup AS DOUBLE) AS lift
         FROM dirs d
         JOIN isup sa ON sa.p = d.ant
         JOIN isup sc ON sc.p = d.cons, n
         ORDER BY lift DESC, d.ant, d.cons LIMIT 30""",
    "q_pagerank" -> pagerankOracle,
    "q_kcore" -> kcoreOracle,
    "q_label_prop" -> labelPropOracle,
    "q_modularity" -> (edgeCtes +
      """,
       und AS MATERIALIZED (
         SELECT e.src AS x, e.dst AS y, px.p_brand AS bx, py.p_brand AS by
         FROM edges e
         JOIN part px ON px.p_partkey = e.src
         JOIN part py ON py.p_partkey = e.dst
         WHERE e.src < e.dst),
       m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       degb AS (
         SELECT brand, CAST(count(*) AS BIGINT) AS k_c FROM (
           SELECT bx AS brand FROM und UNION ALL SELECT by FROM und)
         GROUP BY 1),
       intra AS (
         SELECT bx AS brand, CAST(count(*) AS BIGINT) AS e_c
         FROM und WHERE bx = by GROUP BY 1),
       per AS (
         SELECT d.brand, COALESCE(i.e_c, 0) AS e_c, d.k_c,
           4 * COALESCE(i.e_c, 0) * m.m - d.k_c * d.k_c AS num, m.m
         FROM degb d LEFT JOIN intra i ON d.brand = i.brand, m),
       tot AS (
         SELECT CAST(sum(num) AS DOUBLE)
           / CAST(4 * max(m) * max(m) AS DOUBLE) AS q_total FROM per)
       SELECT brand, e_c, k_c,
         CAST(num AS DOUBLE) / CAST(4 * m * m AS DOUBLE) AS q_c,
         tot.q_total
       FROM per, tot ORDER BY brand"""),
    // id-ordered 3-join enumeration: a<b<c finds each triangle once —
    // a different (simpler, shuffle-heavier) plan than the degree-ordered
    // Spark one, same triangle set by construction.
    "q_triangle_count" -> (edgeCtes +
      """,
       und AS (SELECT src AS x, dst AS y FROM edges WHERE src < dst),
       tri AS (
         SELECT e1.x AS a, e1.y AS b, e2.y AS c
         FROM und e1
         JOIN und e2 ON e1.y = e2.x
         JOIN und e3 ON e3.x = e1.x AND e3.y = e2.y),
       pernode AS (
         SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
           SELECT a AS node FROM tri
           UNION ALL SELECT b FROM tri
           UNION ALL SELECT c FROM tri)
         GROUP BY 1)
       SELECT node AS part_id, n_tri FROM pernode
       ORDER BY n_tri DESC, part_id LIMIT 20"""))
}
