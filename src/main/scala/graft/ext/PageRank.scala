package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic fixed-iteration PageRank — the web-graph quality
  * signal corpus curation uses (rank-weighted sampling of crawled
  * pages), expressed as the same kind of engine-portable iterative
  * DataFrame program as the k-means fit in [[Similarity]] — except
  * that here even decimal sums are not portable enough (see
  * [[pagerank]]), so the whole fit runs in 64-bit integer
  * arithmetic, which both engines evaluate bit-identically.
  *
  * Scale shape — TWO physical regimes over the same loop-invariant
  * idea (an edge LAYOUT built once, nothing edge-sized exchanged in
  * the loop), auto-selected by |nodes|:
  *
  *  - '''broadcast regime''' (|nodes| ≤ `broadcastMaxNodes`, the r12
  *    shape — measured at the 1000× tpch graph, ~1B symmetrized
  *    edges): the layout is dst-hash-partitioned with the src degree
  *    FOLDED IN, and each iteration joins the node-sized rank frame
  *    into it by BROADCAST — a narrow join that preserves the
  *    layout's partitioning, so BOTH the rank join and the dst
  *    contribution aggregate run exchange-free (alias-aware
  *    partitioning propagation, the same layout-beats-shuffle move
  *    as [[Bfs.distancesIndexed]]). The broadcast is |nodes| rows
  *    per iteration — fine to ~10⁸ nodes, a hard wall past that
  *    (every executor holds the whole rank table).
  *  - '''shuffle regime''' (past the broadcast ceiling — a 100 TB
  *    corpus's doc-centrality graph has ~10¹⁰ nodes): the layout is
  *    SRC-hash-partitioned instead, and each iteration repartitions
  *    the node-sized rank frame by src INTO it — the one exchange in
  *    the join is the rank frame (node-sized, never the edges), the
  *    layout side streams from cache co-partitioned, and the join is
  *    a shuffled-hash build over the per-partition rank slice (no
  *    per-iteration edge sort, no per-executor full rank copy). The
  *    dst aggregate then partially aggregates map-side and exchanges
  *    only (dst, partial-sum) pairs — ≤ one narrow row per distinct
  *    dst per partition, the Pregel message bound, ~16 bytes vs the
  *    layout's full edge rows. Nothing edge-sized ever shuffles in
  *    either regime: the pre-r12 shape (edges ⋈ ranks shuffle join +
  *    dst aggregate) wrote two ~1B-row full-width exchanges per
  *    iteration and filled >65 GB of local shuffle scratch at the
  *    1000× tier before the layout rewrite.
  *
  * The regimes are physical only — integer sums are
  * order-independent, so both produce bit-identical ranks
  * (GraphOpsSpec pins equality and each regime's plan shape).
  * Per-iteration [[Ckpt]] truncates the otherwise-geometric rank
  * lineage — executor-local by default, reliable `checkpoint(dir)`
  * when a cluster run opts in (see [[Ckpt]] for the failure mode the
  * opt-in closes).
  */
object PageRank {

  /** Past this many nodes [[pagerank]] switches to the shuffle
    * regime. MEASURED, not assumed (r14 crossover probe,
    * BASELINE.md): on uniform-degree graphs the broadcast regime won
    * every tier up to 10⁶ nodes (8.1 s vs 9.3 s at 10⁶) and LOST
    * 1.7× at 10⁷ (131.5 s vs 75.8 s); the skewed tpch star agreed at
    * its measured tiers (shuffle 1.4× faster at 16M nodes, 2.1× at
    * the ~1B-edge tier, r13). The constant is the geometric midpoint
    * of the measured 10⁶-wins / 10⁷-loses bracket. The old 10⁸
    * default was the broadcast MEMORY ceiling (~1.6 GB of rank rows
    * per executor) — a viability bound, not a performance crossover;
    * past 10⁸ the broadcast shape stops being possible at all, but
    * it stops being FASTER two orders of magnitude earlier. */
  val BroadcastMaxNodes: Long = 3000000L

  /** [[pagerank]]'s DuckDB mirror over the directed (src, dst) edge
    * CTE `e`: CTEs `deg`, `nn` and `p0` … `p{iters}`, the last holding
    * (node, pr_pico). Pure BIGINT arithmetic — `//` is DuckDB's integer
    * division, `div` Spark's, identical on these positive values; the
    * LEFT JOIN from the node set keeps zero-in-degree nodes at the
    * 0.15/n baseline (coalesce over the empty sum), as the engine
    * does. */
  def oracleCtes(e: String, iters: Int): String = {
    def iter(i: Int) =
      s"""p$i AS (SELECT d0.src AS node,
         |    (150000000000 // max(nn.n)) +
         |      ((85 * CAST(coalesce(sum(t.c), 0) AS BIGINT)) // 100)
         |      AS pr_pico
         |  FROM deg d0 LEFT JOIN (SELECT e.dst, p.pr_pico // d.deg AS c
         |    FROM $e e JOIN p${i - 1} p ON e.src = p.node
         |      JOIN deg d ON d.src = e.src) t ON t.dst = d0.src, nn
         |  GROUP BY d0.src)""".stripMargin
    s"""deg AS (SELECT src, count(*) AS deg FROM $e GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM deg),
       |p0 AS (SELECT src AS node, 1000000000000 // n AS pr_pico
       |  FROM deg, nn),
       |${(1 to iters).map(iter).mkString(",\n")}""".stripMargin
  }

  /** `edges` must be the directed edge list (src, dst) with every
    * node appearing as a src (symmetrize first for undirected graphs
    * — that also eliminates dangling nodes). Returns (node, pr_pico):
    * ranks in fixed-point PICO-units (rank × 10¹²), computed entirely
    * in 64-bit INTEGER arithmetic — `div` for the per-edge share and
    * the 0.85 damping (85·s div 100). Floating point appears nowhere:
    * a float formulation has measure-positive rounding ties here
    * (damping times a decimal-aligned rank lands exactly between
    * rounding steps), and Spark and DuckDB resolve those ties
    * differently at any precision (measured at digits 12 AND 6).
    * Integer division is bit-identical everywhere, and 10¹² of
    * headroom keeps the truncation error irrelevant (≤ deg·10⁻¹² per
    * node per iteration).
    *
    * `broadcastMaxNodes` picks the physical regime (see the object
    * doc); results are identical either way — tests force the
    * shuffle regime with 0. */
  def pagerank(edges: DataFrame, iters: Int,
      broadcastMaxNodes: Long = BroadcastMaxNodes): DataFrame = {
    // pin the layout's partition count: an explicit N keeps AQE from
    // coalescing the per-iteration rank repartition below the cached
    // layout's count (a mismatch would force a layout-side exchange,
    // defeating the co-partitioned join the shuffle regime exists for)
    val nParts =
      edges.sparkSession.sessionState.conf.numShufflePartitions
    // the raw edge projection feeds BOTH the degree aggregate and the
    // layout build — persist (SER) so the upstream pipeline (often a
    // pair-generation join) executes once, not once per consumer; the
    // intermediate is reclaimed as soon as the layout materializes
    val e0 = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // the layout frame, assigned below — declared here so the
    // enclosing try/finally can reclaim BOTH corpus-sized cached
    // frames on every exit path (a throw in the degree aggregate,
    // the layout build, or any iteration must not strand blocks;
    // unpersist is idempotent, so the prompt straight-line
    // e0.unpersist after the layout materializes stays)
    var e: DataFrame = null
    try {
    // r16 barrier fusion: deg's truncation is marked lazily, so the
    // regime-picking count below materializes its blocks (and
    // populates e0's cache) in ONE job — the eager Ckpt + count pair
    // was two
    val deg = Ckpt.lazily(
      e0.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    val nNodes = deg.count()
    val bcast = nNodes <= broadcastMaxNodes
    // loop-invariant LAYOUT, built once: src degree folded into the
    // edge list (no per-iteration deg join), hash-partitioned by the
    // regime's key — dst when ranks broadcast (the contribution
    // aggregate clusters on dst and runs exchange-free on top of the
    // layout), src when ranks shuffle (the rank join clusters on src
    // and only the node-sized rank frame exchanges). SERIALIZED
    // storage for the one corpus-sized frame (the r12 rule): default
    // deserialized blocks OOM'd the 1000× tpch graph (~1B symmetrized
    // edges ballooning to object rows on an 80g heap,
    // MemoryStore.putIteratorAsValues) — SER packs them
    // columnar-tight and spills cleanly. Neither the storage level
    // nor the partitioning changes results (integer sums are
    // order-independent).
    //
    // PERSIST (not checkpoint) the layout: a localCheckpoint comes
    // back as a bare RDD scan with UnknownPartitioning — the planner
    // would re-exchange every iteration, defeating the layout
    // (measured: the no-exchange GraphOpsSpec assertion fails on the
    // checkpointed form). The cached plan keeps its repartition
    // partitioning visible (Spark pins cached output partitioning by
    // default), the frame is loop-invariant so cache reuse — not
    // lineage truncation — is what the loop needs.
    val layoutKey = if (bcast) "dst" else "src"
    e = e0.join(deg, "src")
      .repartition(nParts, col(layoutKey))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // materialize the layout BEFORE planning the loop: the cached
    // plan is AQE-planned, and its output partitioning is only
    // exposed to downstream planning once the cache is built — an
    // unmaterialized cache reads as UnknownPartitioning and the loop
    // re-exchanges (the GraphOpsSpec plan assertions pin the
    // materialized shape)
    e.count()
    // layout built — the raw-edge intermediate has served both
    // consumers and is reclaimed here (not in the finally: deg and e
    // are checkpoint/cache-backed, nothing downstream rereads e0)
    e0.unpersist()
    val nodes = deg.select(col("src").as("node"))
    // r16: the node count is ALREADY on the driver (nNodes picked the
    // regime), so the 1/n and 0.15/n terms ride as literals — the old
    // crossJoin(broadcast(nRow)) re-executed a 1-row count broadcast
    // in the init and in EVERY iteration (one broadcast job each).
    // Long `/` is truncated division on the positive operands here —
    // exactly Spark's `div` on the same integers, so ranks are
    // bit-identical (oracle unchanged; it derives n itself). The
    // nNodes == 0 guard only dodges the driver-side /0 — the frame is
    // empty then, so the value never reaches a row.
    val initPico = if (nNodes == 0) 0L else 1000000000000L / nNodes
    val basePico = if (nNodes == 0) 0L else 150000000000L / nNodes
    var pr = Ckpt(nodes
      .select(col("node"), lit(initPico).as("pr_pico")))
      for (_ <- 1 to iters) {
        val ranks = pr.select(col("node").as("src"), col("pr_pico"))
        // the regime's one structural difference: how the node-sized
        // rank frame meets the edge layout
        val joined =
          if (bcast) e.join(broadcast(ranks), "src")
          else e.join(
            // node-sized exchange INTO the src-partitioned layout;
            // the shuffled-hash hint builds the per-partition hash
            // table from the RANK slice (≈|nodes|/nParts rows) —
            // sort-merge would re-sort the edge slice every iteration
            ranks.repartition(nParts, col("src")).hint("shuffle_hash"),
            "src")
        val contrib = joined.select(col("dst").as("node"),
          expr("pr_pico div deg").as("c"))
        // LEFT join from the full node set: a node with no in-edges
        // keeps its 0.15/n baseline instead of silently vanishing (and
        // with it, its out-edges' contributions in later iterations)
        pr = Ckpt(nodes
          .join(contrib.groupBy(col("node")).agg(sum(col("c")).as("s")),
            Seq("node"), "left")
          .select(col("node"),
            (lit(basePico) +
              expr("(85 * coalesce(s, 0L)) div 100")).as("pr_pico")))
      }
    pr
    } finally {
      // pr is checkpointed — both corpus-sized cached frames are
      // reclaimed on every exit path (the MvRefresh/Bfs reclamation
      // rule: a failed degree aggregate, layout build, or iteration
      // must not strand edge-sized cache blocks)
      e0.unpersist()
      if (e != null) e.unpersist()
    }
  }
}
