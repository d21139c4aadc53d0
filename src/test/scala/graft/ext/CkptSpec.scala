package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the pluggable loop-state checkpoint helper: default mode is
  * byte-for-byte the old `localCheckpoint` behavior, reliable mode
  * produces identical RESULTS while writing recoverable checkpoint
  * files, and misconfiguration fails loudly instead of silently
  * degrading to the non-durable placement. */
class CkptSpec extends SparkSpec {
  import spark.implicits._

  private def withMode(mode: String, dir: String = "")(f: => Unit): Unit = {
    val sc = spark.sparkContext
    try {
      spark.conf.set(Ckpt.ModeKey, mode)
      if (dir.nonEmpty) spark.conf.set(Ckpt.DirKey, dir)
      f
    } finally {
      spark.conf.unset(Ckpt.ModeKey)
      spark.conf.unset(Ckpt.DirKey)
      // scrub the context-level dir so later suites see a clean slate
      sc.setCheckpointDir(null)
    }
  }

  test("default mode is localCheckpoint: no checkpoint dir required, " +
      "lineage truncated (bare scan plan)") {
    val out = Ckpt(Seq((1L, 2L)).toDF("a", "b").filter(col("a") > 0))
    assert(out.as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
    // a checkpointed frame's logical plan is a bare (RDD) scan — the
    // upstream filter must be gone in both modes
    assert(out.queryExecution.optimizedPlan.collectLeaves()
      .size == 1 && out.queryExecution.optimizedPlan.children.isEmpty)
  }

  test("reliable mode without a dir fails loudly") {
    withMode("reliable") {
      val e = intercept[IllegalArgumentException] {
        Ckpt(Seq(1L).toDF("a"))
      }
      assert(e.getMessage.contains(Ckpt.DirKey))
    }
  }

  test("PageRank and BFS are placement-invariant: reliable-mode runs " +
      "equal the default-mode runs and write recoverable checkpoints") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 3L),
      (2L, 1L), (1L, 3L), (4L, 1L)).toDF("src", "dst")
    val prLocal = PageRank.pagerank(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    val bfsLocal = Bfs.distances(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    val ccLocal = ConnectedComponents.components(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    withMode("reliable", dir.toString) {
      assert(PageRank.pagerank(edges, iters = 3)
        .as[(Long, Long)].collect().toMap == prLocal)
      assert(Bfs.distances(edges, "src", "dst")
        .as[(Long, Long)].collect().toMap == bfsLocal)
      assert(ConnectedComponents.components(edges, "src", "dst")
        .as[(Long, Long)].collect().toMap == ccLocal)
      // the durable artifacts exist — this is the recompute path a
      // lost executor falls back to (localCheckpoint has none)
      val nFiles = java.nio.file.Files.walk(dir)
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(nFiles > 0, "reliable mode wrote no checkpoint files")
    }
  }

  test("k-means fit is placement-invariant too") {
    val embs = (0L until 40L)
      .map(i => (i, Array.tabulate(4)(d => ((i * 7 + d) % 11).toDouble)))
      .toDF("vec_id", "emb")
    val local = Similarity.kmeansCentroids(embs, k = 3, iters = 2)
      .orderBy("cid").collect().map(_.toSeq).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_km")
    withMode("reliable", dir.toString) {
      val rel = Similarity.kmeansCentroids(embs, k = 3, iters = 2)
        .orderBy("cid").collect().map(_.toSeq).toSeq
      assert(rel == local)
      val nFiles = java.nio.file.Files.walk(dir)
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(nFiles > 0, "reliable k-means fit wrote no checkpoint files")
    }
  }

  test("hier semdedup gate is placement-invariant: reliable mode " +
      "(Ckpt loop state + SQL-aggregate LUT) equals default mode " +
      "(LocalRelation loop state + driver-built LUT) — pins the " +
      "round-16 local-finish forms against the checkpointed forms") {
    val embs = (0L until 80L)
      .map(i => (i, Seq.tabulate(8)(d =>
        (((i % 7) * 11 + d * 3) % 17).toFloat)))
      .toDF("vec_id", "embedding")
    val man = embs.filter($"vec_id" % 5 =!= 0)
    val inc = embs.filter($"vec_id" % 5 === 0)
    val spec = SemDedupSpec(SemDedupGrid.Hier(8L), iters = 2,
      threshold = 0.8, dim = 8)
    def run(): Seq[Seq[Any]] =
      Similarity.semDedupGateBatch(spec, Similarity.semDedupFit(spec, man),
          inc)
        .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val local = run()
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_hier")
    withMode("reliable", dir.toString) {
      assert(run() == local,
        "hier gate results drifted between placements")
      val nFiles = java.nio.file.Files.walk(dir)
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(nFiles > 0, "reliable hier fit wrote no checkpoint files")
    }
  }

  test("PQ codebook fit is placement-invariant and reliable mode " +
      "writes checkpoint files during the fit (r14 verdict #2)") {
    val embs = (0L until 60L)
      .map(i => (i, Seq.tabulate(8)(d => ((i * 13 + d * 3) % 17).toFloat)))
      .toDF("vec_id", "embedding")
    val qids = Seq(0L, 7L).toDF("vec_id")
    val spec = IvfSpec(Coarse.Exhaustive,
      IvfCodes.Pq(m = 4, kSub = 4, iters = 2, dim = 8))
    val local = Similarity.ivfSearch(spec, embs, qids, k = 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_pq")
    withMode("reliable", dir.toString) {
      val rel = Similarity.ivfSearch(spec, embs, qids, k = 3)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      assert(rel == local)
      val nFiles = java.nio.file.Files.walk(dir)
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(nFiles > 0, "reliable PQ fit wrote no checkpoint files")
    }
  }
}
