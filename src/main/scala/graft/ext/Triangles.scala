package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed triangle counting by DEGREE-ORDERED edge orientation —
  * the node-iterator++ / forward algorithm (Schank & Wagner, WEA'05
  * "Finding, Counting and Listing All Triangles in Large Graphs";
  * the same orientation MapReduce formulations use, cf. Suri &
  * Vassilvitskii, WWW'11) — run over the TWIN-COLLAPSED quotient
  * graph. Triangle density is the standard cluster-quality diagnostic
  * over a near-dup pair graph: a dup COMPONENT
  * ([[ConnectedComponents]]) says "transitively linked", its triangle
  * count says how much of the component is pairwise-verified rather
  * than chained through a hub.
  *
  * Scale shape, outer layer — the value collapse (the
  * [[Similarity]] SemDeDup group collapse applied to wedges): in a dup
  * pair graph, k identical documents form a k-clique whose members
  * also share every external neighbor — k TRUE TWINS (identical
  * closed neighborhoods); k non-interacting duplicates pointing at
  * the same targets (retweet stars, mirrored link farms) form k
  * FALSE TWINS (identical OPEN neighborhoods, never adjacent — r14).
  * Wedge enumeration over the member graph pays multiplicity³ per
  * duplicated value (1000 copies → 10⁹ wedge closures — the probe
  * corpus that gated this entry's deep tier); over the twin-collapsed
  * QUOTIENT it pays 1, and every member count reconstitutes in
  * closed form from group sizes. Grouping is by order-independent
  * neighborhood signatures — one aggregate yields both kinds
  * (count + two xxhash64 XOR folds; closed = open ⊕ hash(self) —
  * edge-sized aggregate, no per-node adjacency arrays, so a hub
  * cannot balloon a row), closed groups first, open groups among the
  * leftovers (a node can never have both twin kinds — see the
  * in-code proof), then VERIFIED exactly: a surviving group must
  * have EXACTLY its kind's internal edge count (all C(m,2) / zero)
  * and full m_A·m_B bipartite edge counts against every group it
  * touches; any group failing a check — the only way a hash
  * collision can surface — demotes to singletons. Surviving groups
  * therefore provably satisfy the one property the closed-form
  * expansion needs (clique-or-independent + group-uniform external
  * adjacency), making the rewrite EXACT for every input, not
  * probabilistically so; with all groups singleton it degenerates to
  * the plain oriented-wedge algorithm. The DuckDB oracle stays the
  * naive orientation-free enumeration — hash-unchanged.
  *
  * Scale shape, inner layer (unchanged from r10, now on the
  * quotient): each quotient edge is oriented from its lower endpoint
  * under the total order π = (degree, id) ascending. Every node's
  * OUT-degree under π is then at most O(√m) (a node of degree
  * d > √(2m) has fewer than √(2m) neighbors of larger degree — the
  * classic arboricity bound), so the wedge self-join fans out at most
  * m·√(2m) candidate wedges TOTAL, versus the Σ deg(u)² of the naive
  * wedge join, which a single hub makes quadratic. Wedges and edges
  * carry only (long, long) ids; the close check is one equi-join
  * against the quotient edge list on the (lo, hi) pair key. No
  * all-pairs shape anywhere.
  */
object Triangles {

  /** Per-node triangle participation counts over an UNDIRECTED simple
    * graph given as (src, dst) rows (any orientation, duplicates and
    * self-loops tolerated — normalized away first). Returns every
    * node that appears in an edge with its triangle count (0 for
    * triangle-free nodes), plus each node's degree — ordered output
    * is the caller's concern. */
  def triangleCounts(edges: DataFrame, src: String,
      dst: String): DataFrame = {
    // normalize: unordered (lo, hi) pairs, dedup, drop self-loops
    val und = edges.select(
        least(col(src), col(dst)).cast("long").as("lo"),
        greatest(col(src), col(dst)).cast("long").as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
      .localCheckpoint() // feeds the signature, verification, AND
                         // quotient passes — cut the upstream
                         // (pair-generation) lineage once
    // ---- twin collapse: neighborhood signatures ----
    // ONE aggregate over the open neighbor list yields BOTH
    // signatures: closed fold = open fold ⊕ hash(u) and closed count
    // = open count + 1 (u is never its own neighbor — self-loops are
    // gone). XOR is commutative and never overflows (ANSI-safe,
    // unlike a hash SUM).
    val nbr = und.select(col("lo").as("u"), col("hi").as("x"))
      .unionByName(und.select(col("hi").as("u"), col("lo").as("x")))
    val sig = nbr.groupBy(col("u"))
      .agg(count(lit(1)).as("dego"),
        bit_xor(xxhash64(col("x"))).as("o1"),
        bit_xor(xxhash64(col("x"), lit(7L))).as("o2"))
      .select(col("u"), col("dego"), col("o1"), col("o2"),
        (col("dego") + 1).as("degc"),
        col("o1").bitwiseXOR(xxhash64(col("u"))).as("s1"),
        col("o2").bitwiseXOR(xxhash64(col("u"), lit(7L))).as("s2"))
    // TRUE twins first (identical CLOSED neighborhoods — ADJACENT
    // duplicate groups: internal clique + shared externals, what k
    // identical docs form in a pair graph), then FALSE twins among
    // the leftover singletons (identical OPEN neighborhoods —
    // NON-ADJACENT duplicates: retweet stars, mirrored link farms;
    // open-identical nodes cannot be adjacent, else u ∈ N(u)). A
    // node can never have both a true and a false twin — v ∈ N[u] =
    // N[v] and N(u) = N(w) with u ≁ w forces w ~ v, hence w ∈ N[v]
    // = N[u], i.e. u ~ w: contradiction — so closed-first grouping
    // loses nothing, and deriving the open gid from the ACTUAL
    // leftovers keeps group ids unique across kinds (each group's id
    // is one of its members, and members sit in exactly one group).
    // `adj` carries the group kind into the closed form below.
    val swC = Window.partitionBy(col("degc"), col("s1"), col("s2"))
    val swO = Window.partitionBy(col("dego"), col("o1"), col("o2"))
    val cand = sig
      .withColumn("gidC", min(col("u")).over(swC))
      .withColumn("mC", count(lit(1)).over(swC))
      .withColumn("gidO",
        min(when(col("mC") === 1, col("u"))).over(swO))
      .withColumn("mO",
        count(when(col("mC") === 1, lit(1))).over(swO))
      .select(col("u"),
        when(col("mC") > 1, col("gidC"))
          .when(col("mO") > 1, col("gidO"))
          .otherwise(col("u")).as("gid"),
        (col("mC") > 1 || col("mO") <= 1).as("adj"))
      .localCheckpoint() // node-sized; feeds verification + remap
    // ---- exact verification of candidate groups ----
    // member-edge counts per unordered candidate-group pair (the
    // diagonal row (g, g) carries the internal edge count)
    def mapEnds(m: DataFrame): DataFrame = {
      val ml = m.select(col("u").as("lo"), col("gid").as("g_lo"))
      val mh = m.select(col("u").as("hi"), col("gid").as("g_hi"))
      und.join(ml, "lo").join(mh, "hi")
        .select(least(col("g_lo"), col("g_hi")).as("ga"),
          greatest(col("g_lo"), col("g_hi")).as("gb"))
        .groupBy(col("ga"), col("gb")).agg(count(lit(1)).as("cnt"))
    }
    val cnt1 = mapEnds(cand)
    // bool_and, not first: adj is uniform within a group by
    // construction, but the order-independent aggregate SAYS so
    val sizes1 = cand.groupBy(col("gid"))
      .agg(count(lit(1)).as("m"), bool_and(col("adj")).as("adj"))
    // a size-m group survives only if its internal edge count is
    // EXACTLY its kind's (all C(m,2) for a closed/adjacent group,
    // ZERO for an open/independent one) AND it has full m_a·m_b
    // bipartite counts against every group it touches — the exact
    // characterization of "clique-or-independent + group-uniform
    // external adjacency", which is all the closed-form expansion
    // below relies on. Violations (possible only under a signature
    // collision) demote BOTH groups of the failing pair; a surviving
    // group's uniform adjacency therefore also holds against every
    // DEMOTED singleton (the full check ran against its whole
    // original group).
    val withinBad = sizes1.filter(col("m") > 1).alias("s")
      .join(cnt1.filter(col("ga") === col("gb")).alias("c"),
        col("s.gid") === col("c.ga"), "left")
      .filter(coalesce(col("c.cnt"), lit(0L)) =!=
        when(col("s.adj"),
          shiftright(col("s.m") * (col("s.m") - 1), 1)).otherwise(0L))
      .select(col("s.gid").as("bad"))
    val crossBad = cnt1.filter(col("ga") =!= col("gb"))
      .join(sizes1.select(col("gid").as("ga"), col("m").as("ma")), "ga")
      .join(sizes1.select(col("gid").as("gb"), col("m").as("mb")), "gb")
      .filter(col("cnt") =!= col("ma") * col("mb"))
      .select(explode(array(col("ga"), col("gb"))).as("bad"))
    val bad = withinBad.unionByName(crossBad).distinct()
    val mapped = cand.join(bad, col("gid") === col("bad"), "left")
      .select(col("u"),
        when(col("bad").isNull, col("gid")).otherwise(col("u"))
          .as("gid"),
        // demoted singletons: every adj-gated term is 0 at m = 1, so
        // normalize the flag to true (the degenerate kind)
        when(col("bad").isNull, col("adj")).otherwise(lit(true))
          .as("adj"))
      .localCheckpoint() // final node → group map; read three times
    val groups = mapped.groupBy(col("gid"))
      .agg(count(lit(1)).as("m"), bool_and(col("adj")).as("adj"))
    // ---- quotient graph + weighted oriented wedges ----
    val cnt2 = mapEnds(mapped)
    val q = cnt2.filter(col("ga") =!= col("gb"))
      .select(col("ga").as("lo"), col("gb").as("hi"))
      .localCheckpoint() // orientation + the close join
    val qdeg = q.select(col("lo").as("g")).unionByName(
        q.select(col("hi").as("g")))
      .groupBy(col("g")).agg(count(lit(1)).as("qd"))
    val dl = qdeg.select(col("g").as("lo"), col("qd").as("d_lo"))
    val dh = qdeg.select(col("g").as("hi"), col("qd").as("d_hi"))
    val oriented = q.join(dl, "lo").join(dh, "hi")
      .select(
        when(struct(col("d_lo"), col("lo")) <
            struct(col("d_hi"), col("hi")), col("lo"))
          .otherwise(col("hi")).as("u"),
        when(struct(col("d_lo"), col("lo")) <
            struct(col("d_hi"), col("hi")), col("hi"))
          .otherwise(col("lo")).as("v"))
    val wedges = oriented.alias("a")
      .join(oriented.alias("b"),
        col("a.u") === col("b.u") && col("a.v") < col("b.v"))
      .select(col("a.u").as("apex"),
        col("a.v").as("lo"), col("b.v").as("hi"))
    val tris = wedges.join(q, Seq("lo", "hi"))
    // each quotient triangle {A,B,C} contributes the PRODUCT of the
    // other two groups' sizes to every member of each corner — the
    // multiplicity expansion of "pick one concrete member per corner"
    def gsize(role: String): DataFrame =
      groups.select(col("gid").as(role), col("m").as(s"m_$role"))
    val w = tris
      .join(gsize("apex"), "apex").join(gsize("lo"), "lo")
      .join(gsize("hi"), "hi")
      .select(explode(array(
        struct(col("apex").as("g"),
          (col("m_lo") * col("m_hi")).as("tw")),
        struct(col("lo").as("g"),
          (col("m_apex") * col("m_hi")).as("tw")),
        struct(col("hi").as("g"),
          (col("m_apex") * col("m_lo")).as("tw")))).as("e"))
      .select(col("e.g").as("g"), col("e.tw").as("tw"))
      .groupBy(col("g")).agg(sum(col("tw")).as("tw"))
    // quotient-neighbor size sums: S = Σ m_B (member degree share and
    // the one-in-group wedge base), P = Σ C(m_B, 2) (triangles whose
    // other two corners sit inside ONE neighboring group)
    val qadj = q.select(col("lo").as("g"), col("hi").as("nb"))
      .unionByName(q.select(col("hi").as("g"), col("lo").as("nb")))
    val sp = qadj
      .join(groups.select(col("gid").as("nb"), col("m").as("m_nb"),
        col("adj").as("adj_nb")), "nb")
      .groupBy(col("g"))
      .agg(sum(col("m_nb")).as("s_nb"),
        // P counts the neighbor group's INTERNAL edges as triangle
        // bases — C(m_B,2) for a clique group, 0 for an independent
        // (open-twin) group
        sum(when(col("adj_nb"),
          shiftright(col("m_nb") * (col("m_nb") - 1), 1))
          .otherwise(0L)).as("p_nb"))
    // closed-form per-member count for group A of size m with
    // neighbor sums (S, P) and weighted quotient triangles W:
    //   adj_A · C(m−1, 2)   triangles fully inside A (internal
    //                       clique; an open group has NO internal
    //                       edges — both adj-gated terms vanish)
    // + adj_A · (m−1) · S   one other corner in A, one outside
    // + P + W               both other corners outside A
    // and member degree = adj_A · (m − 1) + S
    def z(c: Column): Column = coalesce(c, lit(0L))
    val perGroup = groups
      .join(sp, groups("gid") === sp("g"), "left").drop("g")
      .join(w, groups("gid") === w("g"), "left").drop("g")
      .select(col("gid"),
        (when(col("adj"),
          shiftright((col("m") - 1) * (col("m") - 2), 1) +
            (col("m") - 1) * z(col("s_nb"))).otherwise(0L) +
          z(col("p_nb")) + z(col("tw"))).as("n_tri"),
        (when(col("adj"), col("m") - 1).otherwise(0L) +
          z(col("s_nb"))).as("deg"))
    mapped.join(perGroup, "gid")
      .select(col("u").as("node"), col("n_tri"), col("deg"))
  }
}
