package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an edge list — the transitive-closure
  * step that turns pairwise near-duplicate hits into dedup clusters
  * (a pair list alone under-merges: A≈B and B≈C must collapse A, B,
  * C together).
  *
  * Within [[DriverGraph.MaxEdges]] directed input edges it runs on the
  * driver: the raw edge list collects in one job and a union-find
  * gives every node its component's smallest id (GraphFormSpec
  * compares it with the loop below). Past the gate, in reliable
  * [[Ckpt]] mode (which forces the distributed loop), or on a NULL
  * endpoint or a non-integral id, the distributed two-phase strategy
  * runs:
  *   1. min-label propagation (one grouped-min shuffle per round,
  *      converges in O(diameter) rounds) — near-dup graphs are
  *      typically unions of small cliques, so a handful of cheap
  *      rounds finishes the common case;
  *   2. if the graph turns out deep, fall back to alternating
  *      large-star / small-star contraction (Kiveris et al.,
  *      "Connected Components in MapReduce and Beyond", SoCC'14 —
  *      public algorithm), which converges in O(log n) rounds on ANY
  *      shape (a 100-node path finishes in ~6 rounds where label
  *      propagation would need 100).
  *
  * Per-round shuffles are sized to the edge working set, not the
  * session default: near-dup edge lists are typically orders of
  * magnitude smaller than the corpus, and every round otherwise pays
  * full shuffle/scheduling overhead for mostly-empty partitions.
  * Large edge sets keep full parallelism. The driver only ever
  * evaluates a tiny convergence count/signature.
  */
object ConnectedComponents {

  /** edges: (src, dst) undirected pairs. Returns (id, component) for
    * every node that appears in an edge; component = min node id in
    * the connected component. `propRounds` label-propagation rounds
    * are tried first; `maxIter` bounds the star-contraction fallback
    * (log-rounds, so 50 covers any realistic graph); the driver path
    * needs neither bound. */
  def components(edges: DataFrame, src: String, dst: String,
      maxIter: Int = 50, propRounds: Int = 15): DataFrame =
    DriverGraph.collect(edges, src, dst).fold(
      componentsLoop(edges, src, dst, maxIter, propRounds))(_.components)

  /** [[components]]' distributed two-phase loop. */
  private def componentsLoop(edges: DataFrame, src: String, dst: String,
      maxIter: Int, propRounds: Int): DataFrame = {
    // materialize the working edge set once — without this the
    // upstream pipeline that produced the edges (e.g. the whole
    // shingle+Jaccard computation) would re-execute every round
    // r16 barrier fusion: the working-set count below sizes the
    // per-round partitioning AND materializes the lazily-marked
    // checkpoint in one job (eager localCheckpoint + count was two)
    val sym = Ckpt.lazily(
      edges.select(col(src).as("a"), col(dst).as("b"))
        .unionByName(edges.select(col(dst).as("a"), col(src).as("b")))
        .distinct())
    val spark = edges.sparkSession
    val nEdges = sym.count()
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      nEdges / 100000L + 1L)).toInt
    val symP = Ckpt(sym.repartition(parts, col("a")))
    labelPropagation(symP, parts, propRounds)
      .getOrElse(starContraction(symP, parts, maxIter))
  }

  /** Phase 1: every node repeatedly adopts the minimum label in its
    * neighborhood. Returns None if `rounds` is exhausted before the
    * fixpoint (graph deeper than expected → caller falls back). */
  private def labelPropagation(sym: DataFrame, parts: Int,
      rounds: Int): Option[DataFrame] = {
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id"))
    var iter = 0
    while (iter < rounds) {
      // each node's new label: min of its own and its neighbors'.
      // The node's own label rides through the aggregation (marked
      // `own`) so convergence is read off the aggregate itself — no
      // extra join-with-previous-labels shuffle per round.
      val neighborMin = sym
        .join(labels.withColumnRenamed("id", "a"), Seq("a"))
        .select(col("b").as("id"), col("comp"), lit(false).as("own"))
      val next = labels.withColumn("own", lit(true))
        .unionByName(neighborMin)
        .groupBy("id").agg(min(col("comp")).as("comp"),
          min(when(col("own"), col("comp"))).as("old_comp"))
        // size the materialized per-round frame to the edge working
        // set (like the fallback phase) — every subsequent round's
        // join otherwise pays full scheduling overhead on
        // mostly-empty session-default partitions
        .repartition(parts, col("id"))
        // r16 barrier fusion (the Bfs.distances move): the truncation
        // is marked LAZILY so the change-count below — a full-
        // partition aggregate — materializes the round's blocks in
        // the SAME job (eager Ckpt + count was two jobs per round)
        .transform(Ckpt.lazily(_))
      val changes = next
        .filter(col("comp") =!= col("old_comp")).count()
      labels = next.select(col("id"), col("comp"))
      iter += 1
      if (changes == 0) return Some(labels)
    }
    None
  }

  /** Phase 2: alternating large-star / small-star contraction —
    * O(log n) rounds on any graph. `cur` holds directed
    * (child, parent) edges with parent < child; at the fixpoint it is
    * a star forest pointing every node at its component minimum. */
  private def starContraction(sym: DataFrame, parts: Int,
      maxIter: Int): DataFrame = {
    val nodes = Ckpt(sym.select(col("a").as("id")).distinct())
    var cur = Ckpt(sym.filter(col("b") < col("a")))
    var iter = 0
    var converged = false
    var lastSig: (Long, Long) = null
    while (iter < maxIter && !converged) {
      // large-star: for every node u emit (v, min(N(u) ∪ {u})) for
      // each LARGER neighbor v — hangs big neighbors directly off the
      // local minimum. No distinct: the small-star groupBy dedupes.
      val symm = cur.unionByName(
        cur.select(col("b").as("a"), col("a").as("b")))
      val nbrMin = symm.groupBy("a")
        .agg(min(col("b")).as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      val large = symm.join(nbrMin, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
      // small-star: re-hang every parent (and the child) off the
      // minimum parent
      val pm = large.groupBy("a").agg(min(col("b")).as("m"))
      val small = pm.select(col("a"), col("m").as("b"))
        .unionByName(large.join(pm, "a")
          .filter(col("b") =!= col("m"))
          .select(col("b").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
        .repartition(parts, col("a"))
        // r16 barrier fusion: the stable-signature aggregate below is
        // a full-partition action — mark the truncation lazily so one
        // job materializes the round AND returns the signature
        .transform(Ckpt.lazily(_))
      // convergence: the edge set is stable (count + an
      // order-independent xor pair signature — no overflow under ANSI)
      val sig = small.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L)))
        .as[(Long, Long)](
          org.apache.spark.sql.Encoders.product[(Long, Long)])
        .head()
      cur = small
      converged = sig == lastSig
      lastSig = sig
      iter += 1
    }
    // needing more than maxIter log-rounds means something is
    // pathologically wrong — fail loudly (the dedup-cluster oracle is
    // the true transitive closure; silent non-convergence would
    // surface as an unexplained mismatch)
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIter star rounds")
    // roots (component minima) never appear as children
    nodes.join(cur.withColumnRenamed("a", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("b"), col("id")).as("comp"))
  }
}
