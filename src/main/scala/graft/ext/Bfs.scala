package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Breadth-first hop distances over an edge list — the graph
  * traversal that answers "how far is every node from a source"
  * (reachability tiers, crawl-depth labeling, link-distance features
  * for corpus curation). Completes the graph family: PageRank scores
  * influence, triangles score cohesion, connected components give
  * membership, BFS gives DISTANCE.
  *
  * Distributed shape — frontier iteration, the standard Pregel-style
  * BFS on a DataFrame: per round, ONE equi-join of the (tiny,
  * shrinking) frontier against the edge list keyed on the source
  * column plus one anti-join against the accumulated labels; newly
  * discovered nodes become the next frontier. Rounds = graph
  * diameter (the driver only evaluates an emptiness check per
  * round); every frame is `localCheckpoint`ed so lineage stays flat
  * across rounds instead of re-deriving the whole prefix (the
  * [[ConnectedComponents]] discipline). Because BFS discovers each
  * node first at its MINIMUM hop count, no per-node min aggregation
  * is ever needed engine-side — the anti-join IS the min.
  *
  * The symmetrized edge set is materialized once up front so the
  * upstream pipeline that produced the edges does not re-execute
  * every round.
  */
object Bfs {

  /** Hop distance from the smallest node id in the edge set (a
    * deterministic, SQL-mirrorable source choice) to every reachable
    * node. Returns (node, dist); unreachable nodes are absent by
    * construction. `maxIter` bounds the loop far above any realistic
    * diameter.
    *
    * `symIsDistinct` (r15): a caller that can PROVE the symmetrized
    * union carries no duplicates — distinct directed pairs over
    * disjoint src/dst id spaces, e.g. the catalog's even/odd
    * bipartite encoding (src always even, dst always odd, so a pair
    * and its reverse can never collide and each side is distinct by
    * construction) — may skip the symmetrize's dedup, which is a
    * corpus-sized exchange (2·|E| rows) that such inputs pay for
    * nothing. Default keeps the dedup; results are identical when
    * the precondition holds (GraphOpsSpec pins it on the bipartite
    * fixture). */
  def distances(edges: DataFrame, src: String, dst: String,
      maxIter: Int = 20, symIsDistinct: Boolean = false): DataFrame = {
    val symRaw = edges.select(col(src).as("a"), col(dst).as("b"))
      .unionByName(edges.select(col(dst).as("a"), col(src).as("b")))
    // the dedup-free branch coalesces the union (narrow — no
    // exchange) back to the session parallelism: the union doubles
    // the parent partition count, and every frontier round would
    // otherwise pay the doubled stage width (measured +0.6 s at
    // sf0.1 without the coalesce)
    val nParts =
      edges.sparkSession.sessionState.conf.numShufflePartitions
    val sym = (if (symIsDistinct) {
      val c = symRaw.coalesce(nParts)
      // Debug guard (r16): symIsDistinct is CALLER-ASSERTED — a wrong
      // future opt-in would silently emit duplicate sym edges (wrong
      // degrees downstream). `graft.debug.assertions=true` re-checks
      // the claim with a count pair; never on by default, since the
      // check re-adds exactly the exchange the flag exists to skip.
      // New opt-ins need a written proof at the call site plus a spec
      // case (the g_bfs even/odd encoding is the template).
      if (edges.sparkSession.conf
          .get("graft.debug.assertions", "false") == "true") {
        val n = c.count()
        val nd = c.distinct().count()
        require(n == nd, "symIsDistinct asserted but the symmetrized " +
          s"union carries duplicates ($n rows, $nd distinct)")
      }
      c
    } else symRaw.distinct())
      // r16 barrier fusion: sym's truncation is marked lazily — the
      // frontier-init materialization below is a FULL aggregate over
      // it, so one job builds the sym blocks AND the source row
      .transform(graft.ext.Ckpt.lazily(_))
    // empty edge set: min(a) would aggregate to one (NULL, 0) row —
    // a spurious null-node label — so short-circuit to an empty frame
    // Round-15 barrier cut: labels accumulate as a LAZY union of the
    // per-round checkpointed frontiers instead of re-checkpointing the
    // whole union every round — each union member is already a flat
    // RDD scan, so the plan grows one shallow leaf per round (K ≈
    // diameter), and one materialization job per round disappears
    // (same rows, BfsSpec/GraphOpsSpec unchanged).
    // The init's truncation is marked lazily too and probed with a
    // full count. Measured (perfbench catalog_iterative --trace 1,
    // g_bfs on this in-memory path): 2 SQL executions, 3 jobs — the
    // lazily call runs the min-aggregate's exchange stage (1 job,
    // which also builds sym's blocks), the count runs 2.
    var frontier = Ckpt.lazily(sym.agg(min(col("a")).as("node"))
      .withColumn("dist", lit(0L))
      .filter(col("node").isNotNull))
    var labels = frontier
    var iter = 0
    var done = frontier.count() == 0L
    while (!done && iter < maxIter) {
      // The round's truncation is marked LAZILY and the emptiness
      // probe is a full count(), so the count's own job materializes
      // the frontier blocks. That is NOT one job per round. Measured
      // (perfbench catalog_iterative --trace 1, g_bfs on this
      // in-memory path): each round is 2 SQL executions and 5–6
      // jobs. Under AQE, localCheckpoint(eager = false) executes the
      // round's plan to get its RDD, which runs the round's 3–4
      // shuffle-map stages as jobs during the call; the count then
      // runs 2 (the marked result stage inside its map stage, then
      // the final aggregate).
      val next = Ckpt.lazily(frontier
        .join(sym, frontier("node") === sym("a"))
        .select(col("b").as("node"), (col("dist") + 1).as("dist"))
        .distinct()
        .join(labels.select(col("node")), Seq("node"), "left_anti"))
      if (next.count() == 0L) done = true
      else {
        labels = labels.unionByName(next)
        frontier = next
        iter += 1
      }
    }
    // reaching maxIter with a live frontier means nodes beyond
    // maxIter hops are silently absent — indistinguishable from
    // unreachable ones — so make the truncation observable
    if (!done) System.err.println(
      s"[bfs] WARNING: frontier still non-empty after maxIter=$maxIter" +
        " rounds; distances beyond that horizon are missing" +
        " (raise maxIter for deeper graphs)")
    labels
  }

  // run token + shutdown reclamation for the adjacency tables (the
  // Relational bucketed-join discipline: two sessions sharing a
  // warehouse never race on names; dirs left by aborted runs are
  // deleted at JVM exit)
  private val adjCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private val adjDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private def deleteRec(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(deleteRec)
    f.delete(): Unit
  }
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var d = adjDirs.poll()
      while (d != null) { deleteRec(new java.io.File(d)); d = adjDirs.poll() }
    }))
  }

  /** [[distances]] over a MATERIALIZED adjacency index: the
    * symmetrized edge list is written ONCE as a bucketed table
    * (`bucketBy(nBuckets, a)`, sorted within buckets — the
    * `q_bucketed_join` lever), and every round's frontier join reads
    * it back through the catalog. Two things change vs the cached
    * frame:
    *
    *  - the edge side of the per-round join carries bucket
    *    HashPartitioning from the LAYOUT, so it is never exchanged —
    *    only the (tiny, shrinking) frontier shuffles to the bucket
    *    count, or broadcasts outright once AQE sees its size. With
    *    the cached form both sides re-shuffled every round at scale
    *    whenever the edge list outgrew the broadcast threshold.
    *  - the index lives on disk, not executor storage: the measured
    *    100× cold-heap sensitivity (a 6M-edge `localCheckpoint`
    *    pinning blocks before the first round) disappears; repeated-
    *    source workloads amortize the one build the way every other
    *    materialized layout here does.
    *
    * Semantics are [[distances]]' exactly — GraphOpsSpec proves
    * equality; the table and its directory are reclaimed before
    * returning (the result is checkpointed first).
    *
    * LOCAL-MODE assumption on the reclamation: after the directory is
    * deleted the returned frame is backed only by its (non-replicated)
    * `localCheckpoint` blocks — fine in a single-JVM session, but on a
    * real cluster a lost executor after return would make the result
    * unrecomputable (its source is gone). A cluster deployment keeps
    * the adjacency table as the persistent artifact it is (that is the
    * point of the layout) or writes the result out before reclaiming;
    * the eager delete here exists so repeated catalog runs on one
    * machine do not accumulate corpus-sized layouts. */
  def distancesIndexed(edges: DataFrame, src: String, dst: String,
      maxIter: Int = 20, nBuckets: Int = 32): DataFrame =
    distancesIndexedImpl(edges, src, dst, maxIter, None, nBuckets,
      symIsDistinct = false)

  /** Directed-edge rows per bucket the auto derivation targets: ~4M
    * 16-byte (a, b) pairs ≈ the parquet file-size class of the other
    * materialized layouts. */
  val BfsEdgesPerBucket = 4000000L

  /** Derived bucket count — the `_auto` rule for the adjacency
    * layout's hand-set constant: ⌈|sym edges| / target⌉, floored at
    * the proven catalog constant 32 (bench-SF layouts unchanged, and
    * never below the local parallelism class) and capped at 2¹⁴
    * buckets. Exact integer arithmetic. */
  def autoBuckets(nEdges: Long): Int = {
    // overflow-safe ⌈n/per⌉ (the additive form wraps at Long.MaxValue)
    val per = BfsEdgesPerBucket
    val ceilDiv = nEdges / per + (if (nEdges % per == 0) 0L else 1L)
    math.min(16384L, math.max(32L, ceilDiv)).toInt
  }

  /** [[distancesIndexed]] with the bucket count derived from the
    * edge count ([[autoBuckets]] over the UPPER BOUND 2·|raw edges| ≥
    * |sym distinct|), so a 1000× graph gets file-sized buckets
    * instead of 32 half-gigabyte ones. The bound instead of the exact
    * symmetrized-distinct count is deliberate: the exact count needs
    * either a corpus-sized localCheckpoint (measured DISK-FULL at the
    * 1000×/~1.2B-edge tier — ~1B deserialized pair blocks in executor
    * storage on top of the build's own shuffle files) or a second
    * distinct shuffle, while the raw count is one narrow aggregate;
    * over-counting duplicate edges only SHRINKS bucket files below
    * the size target, and the layout is physical — results are
    * bucket-count-invariant (GraphOpsSpec). The one extra narrow
    * execution of the upstream edge pipeline is the amortized build's
    * price. */
  def distancesIndexedAuto(edges: DataFrame, src: String, dst: String,
      maxIter: Int = 20, symIsDistinct: Boolean = false): DataFrame =
    distancesIndexedImpl(edges, src, dst, maxIter, Some(autoBuckets), 0,
      symIsDistinct)

  private def distancesIndexedImpl(edges0: DataFrame, src: String,
      dst: String, maxIter: Int, bucketsOf: Option[Long => Int],
      fixedBuckets: Int, symIsDistinct: Boolean): DataFrame = {
    val spark = edges0.sparkSession
    // Auto path (round 15): SER-persist the raw edge frame for the
    // build's duration, so the upstream pipeline (often a
    // pair-generation join + distinct) executes ONCE — the bound
    // count and the sym build/write both read the cache, where the
    // r14 shape re-executed the pipeline per consumer. Same
    // spill-clean MEMORY_AND_DISK_SER the PageRank layout build uses
    // for the identical frame class — proven at its ~1B-edge 1000×
    // tier (the r13 disk-full was the DESERIALIZED sym-pair
    // localCheckpoint, a different storage class). Reclaimed on every
    // exit path below.
    val cached = bucketsOf.isDefined
    val edges = if (cached) edges0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    else edges0
    try {
    // BOTH paths stream the symmetrize straight into the write (no
    // sym-pair executor-storage footprint — the layout's selling
    // point); the auto path derives its count from the raw-edge upper
    // bound, see [[distancesIndexedAuto]]
    val nBuckets = bucketsOf match {
      case None => fixedBuckets
      case Some(f) =>
        val bound = 2L * edges.count()
        // Below one bucket-file's worth of edges the persisted layout
        // cannot pay back: its point is bucket-pruned, file-sized
        // reads, and a sub-target graph fits ONE file — the table
        // write+read-back is pure constant (measured 8–21 s cold at
        // sf0.1, the whole g_bfs bench entry, round-14 verdict). Run
        // the in-memory frontier loop instead; GraphOpsSpec pins
        // `distances` ≡ `distancesIndexed`, so results are identical,
        // and the measured 100× cold-heap sensitivity started at ~6M
        // sym edges — above this bound by construction.
        if (bound < BfsEdgesPerBucket) {
          System.err.println(
            s"[bfs] sym-edge bound $bound < $BfsEdgesPerBucket: " +
              "in-memory frontier loop (persisted layout skipped)")
          return distances(edges, src, dst, maxIter, symIsDistinct)
        }
        val b = f(bound)
        // probe-visible record of the derivation (the `_auto` rule's
        // evidence line at every scale tier)
        System.err.println(
          s"[bfs] auto nBuckets=$b for sym-edge bound $bound")
        b
    }
    val token =
      s"${ProcessHandle.current().pid()}_${adjCounter.incrementAndGet()}"
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_bfs_adj_$token").toString
    adjDirs.add(dir)
    val tbl = s"graft_bfs_adj_$token"
    val symRaw0 = edges.select(col(src).as("a"), col(dst).as("b"))
      .unionByName(edges.select(col(dst).as("a"), col(src).as("b")))
    val symRaw = if (symIsDistinct) symRaw0 else symRaw0.distinct()
    symRaw
      .repartition(nBuckets, col("a")) // one file per bucket
      .write.bucketBy(nBuckets, "a").sortBy("a")
      .option("path", s"$dir/adj").mode("overwrite")
      .saveAsTable(tbl)
    val sym = spark.table(tbl)
    // labels as a lazy union of checkpointed frontiers — see
    // [[distances]]; every member is checkpoint-backed, so the frame
    // stays computable after the adjacency table is reclaimed below
    // init truncation marked lazily and probed with a full count
    // (the [[distances]] treatment; measured there: 2 SQL
    // executions, 3 jobs)
    var frontier = Ckpt.lazily(sym.agg(min(col("a")).as("node"))
      .withColumn("dist", lit(0L))
      .filter(col("node").isNotNull))
    var labels = frontier
    var iter = 0
    var done = frontier.count() == 0L
    while (!done && iter < maxIter) {
      // The round's truncation is marked LAZILY and the emptiness
      // probe is a full count() — the [[distances]] loop, whose
      // measured round is 2 SQL executions and 5–6 jobs (the lazily
      // call runs the round's shuffle-map stages under AQE), not one
      // job. This bucketed path was not traced.
      val next = Ckpt.lazily(frontier
        .join(sym, frontier("node") === sym("a"))
        .select(col("b").as("node"), (col("dist") + 1).as("dist"))
        .distinct()
        .join(labels.select(col("node")), Seq("node"), "left_anti"))
      if (next.count() == 0L) done = true
      else {
        labels = labels.unionByName(next)
        frontier = next
        iter += 1
      }
    }
    if (!done) System.err.println(
      s"[bfs] WARNING: frontier still non-empty after maxIter=$maxIter" +
        " rounds; distances beyond that horizon are missing" +
        " (raise maxIter for deeper graphs)")
    val out = labels // every member frontier is checkpoint-backed
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    deleteRec(new java.io.File(dir))
    // the in-call delete succeeded: drop the shutdown-hook fallback
    // entry too, or a long-lived session re-walks dead paths at exit
    adjDirs.remove(dir)
    out
    } finally {
      // every result frame is checkpoint-backed by the time any exit
      // path runs (distances is eager through its loop), so the raw
      // edge cache is reclaimed unconditionally — incl. the bypass
      // `return` and any throw (the PageRank reclamation rule)
      if (cached) edges.unpersist(): Unit
    }
  }
}
