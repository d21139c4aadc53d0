package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("connected components merges transitive chains and leaves " +
      "islands apart") {
    // two chains (1-2-3, 7-8) and an isolated edge (20-21)
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L), (20L, 21L))
      .toDF("src", "dst")
    val got = ConnectedComponents.components(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 8L -> 7L, 20L -> 20L, 21L -> 20L))
  }

  test("star contraction handles a 100-node path in logarithmic rounds") {
    // diameter-99 chain — O(diameter) label propagation would need
    // ~100 rounds; star contraction must finish well within 50.
    // Reliable mode keeps this on the distributed loop.
    inReliableMode {
      val edges = (0L until 99L).map(i => (i, i + 1)).toDF("src", "dst")
      val got = ConnectedComponents.components(edges, "src", "dst")
        .as[(Long, Long)].collect()
      assert(got.length == 100)
      assert(got.forall(_._2 == 0L))
    }
  }

  test("BFS distances: branch + cycle fixture gets exact min-hop " +
      "labels from the smallest node; disconnected nodes are absent") {
    // source = min node (1). Shape: 1-2-3-4 path, branch 2-10,
    // cycle 3-11-12-1 (12 reaches 1 directly → dist(12)=1 via the
    // cycle, NOT 3 via the path), island 50-51 (unreachable).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 10L),
      (3L, 11L), (11L, 12L), (12L, 1L), (50L, 51L))
      .toDF("src", "dst")
    val got = Bfs.distances(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 12L -> 1L, 3L -> 2L,
      10L -> 2L, 11L -> 2L, 4L -> 3L),
      s"got $got")
    // a long path exercises the round loop well past depth 1
    val chain = (0L until 15L).map(i => (i, i + 1)).toDF("src", "dst")
    val chainGot = Bfs.distances(chain, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(chainGot == (0L to 15L).map(i => i -> i).toMap)
  }

  test("BFS over the bucketed adjacency index: identical distances " +
      "to the cached-frame form, empty edges, and layout reclaimed") {
    // reliable mode keeps both forms on their distributed loops
    inReliableMode {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 10L),
        (3L, 11L), (11L, 12L), (12L, 1L), (50L, 51L))
        .toDF("src", "dst")
      val want = Bfs.distances(edges, "src", "dst")
        .as[(Long, Long)].collect().toMap
      val got = Bfs.distancesIndexed(edges, "src", "dst")
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"indexed BFS drifted: $got vs $want")
      // the run-scoped adjacency table must not survive the call
      assert(!spark.catalog.listTables()
        .collect().exists(_.name.startsWith("graft_bfs_adj")),
        "adjacency table leaked")
      // empty edge set: same guard as the cached form
      val none = Seq.empty[(Long, Long)].toDF("src", "dst")
      assert(Bfs.distancesIndexed(none, "src", "dst").isEmpty)
      // a random graph for non-trivial fan-out equality
      val rnd = new scala.util.Random(7)
      val re = Seq.fill(120)((rnd.nextInt(50).toLong,
        rnd.nextInt(50).toLong)).filter(e => e._1 != e._2)
        .toDF("src", "dst")
      val w2 = Bfs.distances(re, "src", "dst")
        .as[(Long, Long)].collect().toMap
      val g2 = Bfs.distancesIndexed(re, "src", "dst")
        .as[(Long, Long)].collect().toMap
      assert(g2 == w2)
    }
  }

  test("BFS autoBuckets: exact integer rule — floored at the proven " +
      "32, ceil division above, capped; auto layout gives identical " +
      "distances") {
    assert(Bfs.autoBuckets(0L) == 32)
    assert(Bfs.autoBuckets(100000L) == 32)           // bench SFs: floor
    assert(Bfs.autoBuckets(32L * 4000000L) == 32)    // boundary
    assert(Bfs.autoBuckets(32L * 4000000L + 1) == 33)
    assert(Bfs.autoBuckets(1000000000L) == 250)      // ~1B-edge class
    assert(Bfs.autoBuckets(Long.MaxValue) == 16384)  // cap
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 10L),
      (3L, 11L), (11L, 12L), (12L, 1L), (50L, 51L))
      .toDF("src", "dst")
    inReliableMode { // both on their distributed loops
      val want = Bfs.distancesIndexed(edges, "src", "dst")
        .as[(Long, Long)].collect().toMap
      val got = Bfs.distancesIndexedAuto(edges, "src", "dst")
        .as[(Long, Long)].collect().toMap
      assert(got == want, "auto bucket count changed BFS results")
    }
  }

  test("BFS symIsDistinct: identical distances on a bipartite " +
      "even/odd-encoded graph (the precondition's catalog shape)") {
    // distinct directed pairs, src always even, dst always odd — the
    // g_bfs encoding where the symmetrized union provably carries no
    // duplicates and the dedup exchange may be skipped
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(200)((rnd.nextInt(30).toLong * 2,
        rnd.nextInt(30).toLong * 2 + 1)).distinct
      .toDF("src", "dst")
    inReliableMode { // every form on its distributed loop
      val want = Bfs.distances(edges, "src", "dst")
        .as[(Long, Long)].collect().toMap
      val got = Bfs.distances(edges, "src", "dst", symIsDistinct = true)
        .as[(Long, Long)].collect().toMap
      assert(got == want, "symIsDistinct changed BFS results")
      val gotAuto = Bfs.distancesIndexedAuto(edges, "src", "dst",
          symIsDistinct = true)
        .as[(Long, Long)].collect().toMap
      assert(gotAuto == want, "symIsDistinct auto path drifted")
    }
  }

  test("symIsDistinct debug guard: a WRONG opt-in fails loudly under " +
      "graft.debug.assertions (r15 verdict residual — the flag is " +
      "caller-asserted, so a bad future caller must fail a test, " +
      "not ship wrong degrees)") {
    // undirected duplicate: (2,3) and its reverse (3,2) collide in
    // the symmetrized union — the precondition is FALSE here
    val edges = Seq((2L, 3L), (3L, 2L), (4L, 5L)).toDF("src", "dst")
    try {
      spark.conf.set("graft.debug.assertions", "true")
      val e = intercept[IllegalArgumentException] {
        Bfs.distances(edges, "src", "dst", symIsDistinct = true)
          .collect()
      }
      assert(e.getMessage.contains("duplicates"))
      // the guarded TRUE precondition still passes and matches
      val ok = Seq((0L, 1L), (2L, 1L)).toDF("src", "dst")
      val got = Bfs.distances(ok, "src", "dst", symIsDistinct = true)
        .as[(Long, Long)].collect().toMap
      val want = Bfs.distances(ok, "src", "dst")
        .as[(Long, Long)].collect().toMap
      assert(got == want)
    } finally spark.conf.unset("graft.debug.assertions")
  }

  test("components match brute-force closure on a random graph") {
    val rnd = new scala.util.Random(4242)
    val edges = Seq.fill(60)((rnd.nextInt(40).toLong,
      rnd.nextInt(40).toLong)).filter(e => e._1 != e._2)
    val got = ConnectedComponents.components(
      edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap
    // reference: driver-side union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
    assert(got == want)
  }

  test("interval join finds exactly the in-tolerance pairs across " +
      "band boundaries") {
    def ts(sec: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")
    // tolerance 60s; pairs: (1,2) 59s apart spanning a band boundary,
    // (3,4) 61s apart must NOT match, (5,6) same instant
    val a = Seq((1L, 9L, ts(59)), (3L, 9L, ts(120)), (5L, 9L, ts(300)))
      .toDF("id_a", "user_id", "ts_a")
    val b = Seq((2L, 9L, ts(118)), (4L, 9L, ts(181)), (6L, 9L, ts(300)))
      .toDF("id_b", "user_id", "ts_b")
    val got = RangeJoin.intervalJoin(a, b, "user_id", "ts_a", "ts_b",
      60L * 1000000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // (1,2): 59s apart across a band boundary; (3,2): 2s apart;
    // (5,6): same instant; (3,4) at 61s must NOT match
    assert(got == Set((1L, 2L), (3L, 2L), (5L, 6L)))
  }

  test("interval join emits each qualifying pair exactly once") {
    val ev = graft.Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("ts"))
    val a = ev.select(col("user_id"), col("event_id").as("ea"),
      col("ts").as("ts_a"))
    val b = ev.select(col("user_id"), col("event_id").as("eb"),
      col("ts").as("ts_b"))
    val pairs = RangeJoin.intervalJoin(a, b, "user_id", "ts_a", "ts_b",
      300L * 1000000).filter(col("ea") < col("eb"))
    assert(pairs.count() ==
      pairs.select("ea", "eb").distinct().count())
  }

  test("pagerank keeps zero-in-degree nodes and their outgoing " +
      "contributions on directed graphs (hand-computed 2-iteration " +
      "fixture)") {
    // 1⇄2 plus 3→1: node 3 has no in-edges but every node is a src
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val got = PageRank.pagerank(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 3, "zero-in-degree node must not vanish")
    // n=3: base = 150000000000//3; p0 = 10^12//3 each
    // iter1: pr(1)=base+85%*(p0(2)+p0(3)), pr(2)=base+85%*p0(1),
    //        pr(3)=base
    // iter2: pr(1)=base+85%*(pr1(2)+pr1(3)) — 3 still contributes
    assert(got(3L) == 50000000000L)
    assert(got(1L) == 375833333333L, s"got $got")
    assert(got(2L) == 574166666666L, s"got $got")
  }
  // ---- pagerank plan-shape helpers: structural traversal (string-
  // splitting the printed plan relied on operator spellings and
  // print order — a Spark bump could silently weaken the pin) ----
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{
    AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
  import org.apache.spark.sql.execution.joins.{
    BroadcastHashJoinExec, ShuffledHashJoinExec}
  import org.apache.spark.sql.execution.aggregate.HashAggregateExec

  /** Every node of the physical plan, descending through AQE
    * wrappers (but NOT into cached subtrees — the layout's one-time
    * build exchanges are the point of the layout). */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case o => o +: o.children.flatMap(flatten)
  }

  /** Ancestor chains (nearest first) of every cached-layout scan. */
  private def cachePaths(p: SparkPlan): Seq[List[SparkPlan]] = {
    def go(n: SparkPlan, anc: List[SparkPlan]): Seq[List[SparkPlan]] =
      n match {
        case _: InMemoryTableScanExec => Seq(anc)
        case a: AdaptiveSparkPlanExec => go(a.executedPlan, anc)
        case q: QueryStageExec => go(q.plan, anc)
        case o => o.children.flatMap(go(_, o :: anc))
      }
    go(p, Nil)
  }

  /** The in-loop edge frame pagerank constructs, rebuilt here so the
    * physical plan is inspectable (inside pagerank the per-iteration
    * localCheckpoint hides it). */
  private def pagerankFixture() = {
    val e0 = graft.Tables.lineitem(spark, sf0001)
      .join(graft.Tables.orders(spark, sf0001),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val pr = deg.select(col("src").as("node"), lit(1000L).as("pr_pico"))
    (e0, deg, pr)
  }

  test("pagerank broadcast regime: the dst-partitioned edge layout " +
      "serves the contribution aggregate with NO shuffle exchange " +
      "(broadcast rank join preserves partitioning through the alias)") {
    val (e0, deg, pr) = pagerankFixture()
    val e = e0.join(deg, "src").repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    e.count() // partitioning is exposed once the cache materializes
    val contrib = e
      .join(broadcast(pr.select(col("node").as("src"), col("pr_pico"))),
        "src")
      .select(col("dst").as("node"), expr("pr_pico div deg").as("c"))
    val agg = contrib.groupBy(col("node")).agg(sum(col("c")).as("s"))
    val plan = agg.queryExecution.executedPlan
    // everything ABOVE the cached layout scan (join, project, both
    // aggregate halves) must be exchange-free, and the rank side must
    // meet the layout by broadcast — asserted on the plan STRUCTURE
    val paths = cachePaths(plan)
    assert(paths.nonEmpty, s"layout not cached:\n$plan")
    for (path <- paths) {
      assert(!path.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"contribution aggregate must reuse the layout's partitioning:\n$plan")
      assert(path.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"rank side must broadcast, never shuffle the edge layout:\n$plan")
    }
    e.unpersist()
  }

  test("pagerank shuffle regime: the src-partitioned layout joins a " +
      "node-sized rank exchange (shuffled-hash, edge side exchange-" +
      "free) and the dst aggregate shuffles only partial sums") {
    val (e0, deg, pr) = pagerankFixture()
    val nParts = spark.sessionState.conf.numShufflePartitions
    val e = e0.join(deg, "src").repartition(nParts, col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    e.count()
    val ranks = pr.select(col("node").as("src"), col("pr_pico"))
    val contrib = e
      .join(ranks.repartition(nParts, col("src")).hint("shuffle_hash"),
        "src")
      .select(col("dst").as("node"), expr("pr_pico div deg").as("c"))
    val agg = contrib.groupBy(col("node")).agg(sum(col("c")).as("s"))
    val plan = agg.queryExecution.executedPlan
    val join = flatten(plan).collectFirst {
      case j: ShuffledHashJoinExec => j }
    assert(join.isDefined,
      s"rank must meet the layout in a shuffled-hash join:\n$plan")
    // edge side: between the cached layout scan and the join, no
    // exchange — the layout streams from cache co-partitioned
    val paths = cachePaths(plan)
    assert(paths.nonEmpty, s"layout not cached:\n$plan")
    for (path <- paths) {
      val belowJoin = path.takeWhile(!_.eq(join.get))
      assert(path.exists(_.eq(join.get)),
        s"cached layout must feed the join:\n$plan")
      assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"edge layout must reach the join without an exchange:\n$plan")
    }
    // rank side: exactly one exchange (the node-sized repartition),
    // and it is on the side WITHOUT the cached layout
    val rankSide = join.get.children.find(
      c => cachePaths(c).isEmpty)
    assert(rankSide.isDefined, s"no rank-only join side:\n$plan")
    val rankShuffles = flatten(rankSide.get)
      .filter(_.isInstanceOf[ShuffleExchangeLike])
    assert(rankShuffles.size == 1,
      s"rank side must exchange exactly once (node-sized):\n$plan")
    // dst aggregate: its exchange sits ABOVE a partial HashAggregate,
    // so only narrow (dst, partial-sum) rows shuffle — never edges
    val aggExchanges = flatten(plan).collect {
      case s: ShuffleExchangeLike
          if flatten(s.asInstanceOf[SparkPlan])
            .exists(_.eq(join.get)) => s }
    assert(aggExchanges.nonEmpty,
      s"dst aggregate exchange not found above the join:\n$plan")
    for (x <- aggExchanges)
      assert(x.asInstanceOf[SparkPlan].children
          .forall(_.isInstanceOf[HashAggregateExec]),
        s"aggregate exchange must carry partial sums, not raw edges:\n$plan")
    e.unpersist()
  }

  test("pagerank shuffle regime produces bit-identical ranks to the " +
      "broadcast regime (regimes are physical, not semantic)") {
    val fixture = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val wantF = PageRank.pagerank(fixture, iters = 2)
      .as[(Long, Long)].collect().toMap
    val gotF = PageRank.pagerank(fixture, iters = 2,
        broadcastMaxNodes = 0L)
      .as[(Long, Long)].collect().toMap
    assert(gotF == wantF, s"fixture drift: $gotF vs $wantF")
    // a random graph with fan-in/fan-out well past the fixture's
    val rnd = new scala.util.Random(13)
    val re = Seq.fill(400)((rnd.nextInt(60).toLong,
      rnd.nextInt(60).toLong)).filter(e => e._1 != e._2)
    val edges = (re ++ re.map(e => (e._2, e._1))).toDF("src", "dst")
    val want = PageRank.pagerank(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    val got = PageRank.pagerank(edges, iters = 3, broadcastMaxNodes = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("triangle counts: K4-clique + hub star + chain — per-node " +
      "counts match hand enumeration; hub wedges close nothing") {
    // K4 on {1,2,3,4} (4 triangles, each node in 3); hub 10 joined to
    // leaves 11..15 (star: many wedges at the hub, zero triangles);
    // chain 20-21-22 (one open wedge, no triangle). Mixed edge
    // orientations + a duplicate + a self-loop exercise normalization.
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val star = (11L to 15L).map(l => (10L, l))
    val extra = Seq((21L, 20L), (21L, 22L), (2L, 1L), (7L, 7L))
    val edges = (k4 ++ star ++ extra).toDF("src", "dst")
    val got = Triangles.triangleCounts(edges, "src", "dst")
      .select($"node", $"n_tri", $"deg").as[(Long, Long, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    for (n <- 1L to 4L) assert(got(n) == ((3L, 3L)), s"node $n")
    assert(got(10L) == ((0L, 5L)))
    for (l <- 11L to 15L) assert(got(l) == ((0L, 1L)))
    assert(got(21L) == ((0L, 2L)))
    assert(got(20L) == ((0L, 1L)) && got(22L) == ((0L, 1L)))
    assert(!got.contains(7L)) // self-loop dropped entirely
  }

  test("triangle counts: duplicate-multiplicity fixture — twin " +
      "groups collapse to the quotient and expand exactly") {
    // three "values" with multiplicities 4 / 3 / 2: members of a value
    // are pairwise adjacent (identical docs all pair) and share every
    // external neighbor — X×Y and Y×Z fully bipartite, X–Z absent.
    // Exactly the shape whose member-level wedge join pays
    // multiplicity³ and whose collapse must reproduce hand counts.
    val gx = 1L to 4L; val gy = 5L to 7L; val gz = 8L to 9L
    def clique(ns: Seq[Long]) =
      for (a <- ns; b <- ns if a < b) yield (a, b)
    def bip(as: Seq[Long], bs: Seq[Long]) =
      for (a <- as; b <- bs) yield (a, b)
    val edges = (clique(gx) ++ clique(gy) ++ clique(gz) ++
      bip(gx, gy) ++ bip(gy, gz)).toDF("src", "dst")
    val got = Triangles.triangleCounts(edges, "src", "dst")
      .select($"node", $"n_tri", $"deg").as[(Long, Long, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // X member: C(3,2)=3 inside + 3·3 one-in-X-one-in-Y + C(3,2)=3
    // both-in-Y = 15; deg 3+3=6. Y member: C(2,2)... by symmetry:
    // inside C(2,2)=1? m=3 → C(2,2)=1; (m−1)·S = 2·(4+2)=12;
    // P = C(4,2)+C(2,2)=6+1=7; W: quotient triangle? X–Y–Z has no
    // X–Z edge → none. total 1+12+7=20; deg 2+6=8.
    // Z member: C(1,2)=0 + 1·3 + C(3,2)=3 → 6; deg 1+3=4.
    for (n <- gx) assert(got(n) == ((15L, 6L)), s"X member $n: ${got(n)}")
    for (n <- gy) assert(got(n) == ((20L, 8L)), s"Y member $n: ${got(n)}")
    for (n <- gz) assert(got(n) == ((6L, 4L)), s"Z member $n: ${got(n)}")
    // and the naive enumeration agrees (belt and braces)
    val und = edges.select(least($"src", $"dst").as("a"),
        greatest($"src", $"dst").as("b")).distinct()
      .as[(Long, Long)].collect().toSet
    val ns = und.flatMap(e => Seq(e._1, e._2))
    val naive = (for (x <- ns; y <- ns if x < y; z <- ns if y < z
        if und((x, y)) && und((x, z)) && und((y, z)))
      yield (x, y, z)).toSeq
    val perNode = naive.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (n, l) => n -> l.size.toLong }
    for (n <- ns)
      assert(got(n)._1 == perNode.getOrElse(n, 0L), s"naive vs got at $n")
  }

  test("triangle counts: quotient triangle with a twin group at one " +
      "corner (W-term) expands by the multiplicity product") {
    // triangle A–B–C where A is a 3-twin group {1,2,3} (clique,
    // uniform externals), B=10, C=11 singletons, plus B–C edge:
    // every quotient triangle {A,B,C} must credit each A member 1·1,
    // B and C each 3·1 — plus A's internal/own terms
    val a = Seq(1L, 2L, 3L)
    val edges = ((for (x <- a; y <- a if x < y) yield (x, y)) ++
      a.map((_, 10L)) ++ a.map((_, 11L)) ++ Seq((10L, 11L)))
      .toDF("src", "dst")
    val got = Triangles.triangleCounts(edges, "src", "dst")
      .select($"node", $"n_tri", $"deg").as[(Long, Long, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // A member: inside C(2,2)=1; (m−1)·S = 2·2 = 4; P = C(1,2)·2 = 0;
    // W = m_B·m_C = 1 → 6; deg = 2+2 = 4
    for (n <- a) assert(got(n) == ((6L, 4L)), s"A member $n: ${got(n)}")
    // B: singleton → inside 0; S = 3+1; P = C(3,2) = 3; W = 3·1 = 3
    // → 6; deg 4
    assert(got(10L) == ((6L, 4L)), s"B: ${got(10L)}")
    assert(got(11L) == ((6L, 4L)), s"C: ${got(11L)}")
  }

  test("triangle counts equal the naive unoriented enumeration on a " +
      "random graph (degree orientation is result-neutral)") {
    val rnd = new scala.util.Random(20260814)
    val edges = (0 until 260).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val got = Triangles.triangleCounts(edges, "src", "dst")
      .select($"node", $"n_tri").as[(Long, Long)].collect().toMap
    // naive: id-ordered distinct edges, enumerate x<y<z triangles
    val und = edges.select(least($"src", $"dst").as("a"),
        greatest($"src", $"dst").as("b")).distinct()
      .as[(Long, Long)].collect().toSet
    val ns = und.flatMap(e => Seq(e._1, e._2))
    val naive = (for (x <- ns; y <- ns if x < y; z <- ns if y < z
        if und((x, y)) && und((x, z)) && und((y, z)))
      yield (x, y, z)).toSeq
    val perNode = naive.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (n, l) => n -> l.size.toLong }
    for (n <- ns)
      assert(got(n) == perNode.getOrElse(n, 0L), s"node $n")
  }

  test("triangle counts: FALSE-twin (open-neighborhood) fixtures — " +
      "non-adjacent duplicates collapse; both twin kinds coexist and " +
      "expand exactly") {
    // plain star: hub 0, leaves 1..6 are open twins (N(l) = {0},
    // never adjacent). No triangles anywhere; leaf degree 1.
    val star = (1L to 6L).map(l => (0L, l)).toDF("src", "dst")
    val mS = Triangles.triangleCounts(star, "src", "dst")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(mS(0L) == (0L, 6L))
    (1L to 6L).foreach(l => assert(mS(l) == (0L, 1L), s"leaf $l"))
    // two ADJACENT hubs sharing 5 leaves: the hubs are TRUE twins
    // (N[100] = N[200] = {1..5, 100, 200}), the leaves FALSE twins
    // (N(l) = {100, 200}, no leaf-leaf edges). Quotient = 2 nodes,
    // 1 edge. Hand counts: each leaf closes exactly the (leaf, 100,
    // 200) triangle — P = C(2,2) = 1 from the closed hub group, no
    // internal or one-out terms (adj = false); each hub closes one
    // triangle per leaf — (m−1)·S = 1·5 with P = 0 from the OPEN
    // leaf group (no leaf-leaf edges to base a triangle on).
    val twoHub = ((1L to 5L).flatMap(l => Seq((100L, l), (200L, l)))
      :+ (100L, 200L)).toDF("src", "dst")
    val mH = Triangles.triangleCounts(twoHub, "src", "dst")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(mH(100L) == (5L, 6L) && mH(200L) == (5L, 6L))
    (1L to 5L).foreach(l => assert(mH(l) == (1L, 2L), s"leaf $l"))
  }

  test("triangle counts: mixed true/false twin expansion of a random " +
      "graph equals the naive enumeration (the collapse is exact)") {
    // base random graph on nodes 0..11, then node 3 expands into 4
    // NON-adjacent copies (false twins: each copy linked to N(3)
    // only) and node 5 into 3 ADJACENT copies (true twins: copies
    // linked to N(5) and to each other)
    val rnd = new scala.util.Random(20260816)
    val base = (0 until 40).map(_ =>
        (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    def members(v: Long): Seq[Long] = v match {
      case 3L => Seq(3L, 103L, 203L, 303L)
      case 5L => Seq(5L, 105L, 205L)
      case _  => Seq(v)
    }
    val expanded = (base.flatMap { case (u, v) =>
      for (a <- members(u); b <- members(v)) yield (a, b)
    } ++ (for (a <- members(5L); b <- members(5L) if a < b)
      yield (a, b))).distinct
    val got = Triangles.triangleCounts(
        expanded.toDF("src", "dst"), "src", "dst")
      .select($"node", $"n_tri", $"deg")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val und = expanded
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val ns = und.flatMap(e => Seq(e._1, e._2))
    val naive = (for (x <- ns; y <- ns if x < y; z <- ns if y < z
        if und((x, y)) && und((x, z)) && und((y, z)))
      yield (x, y, z)).toSeq
    val perNode = naive.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (n, l) => n -> l.size.toLong }
    val degN = und.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, l) => n -> l.size.toLong }
    for (n <- ns) {
      assert(got(n)._1 == perNode.getOrElse(n, 0L), s"n_tri at $n")
      assert(got(n)._2 == degN(n), s"deg at $n")
    }
    // the duplicate families really are twins of the intended kind:
    // identical open/closed neighborhoods by construction
    assert(members(3L).forall(c => got(c) == got(3L)))
    assert(members(5L).forall(c => got(c) == got(5L)))
  }
}
