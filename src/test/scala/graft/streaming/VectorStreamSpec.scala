package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.{Coarse, IvfSpec, SemDedupGrid, SemDedupSpec, Similarity}

/** Pins the streaming ANN ingest gate's contract
  * ([[VectorStream]]): the gate is STATELESS given the static index,
  * so the union of per-micro-batch outputs equals the one-shot batch
  * probe row-for-row regardless of how the file source batches the
  * input, and the streaming query runs with NO state store. */
class VectorStreamSpec extends SparkSpec {
  import spark.implicits._

  test("micro-batched gate outputs union to the one-shot batch probe; " +
      "the query is stateless and reads every input row exactly once") {
    val emb = graft.Tables.embeddings(spark, sf0001)
      .filter($"embedding".isNotNull)
    val manifest = emb.filter($"vec_id" % 5 =!= 0)
    val incoming = emb.filter($"vec_id" % 5 === 0)
    val spec = IvfSpec(Coarse.Kmeans(Coarse.PerRows(64), iters = 2,
      nprobe = 2))
    val built = Similarity.ivfBuild(spec, manifest)
    // static state between refits — persisted exactly as production
    val index = built.copy(
      centroids = built.centroids.localCheckpoint(),
      members = built.members.localCheckpoint())

    val srcDir = java.nio.file.Files
      .createTempDirectory("vecgate_src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("vecgate_ckpt").toString
    try {
      // 4 files + maxFilesPerTrigger=1 → 4 micro-batches
      incoming.repartition(4).write.mode("overwrite").parquet(srcDir)
      val out = new ConcurrentLinkedQueue[(Long, Long, Double, Int)]()
      val q = VectorStream.ingestGateStream(spark, srcDir, spec, index,
          k = 2, ckpt) { (attach: DataFrame, _: Long) =>
        attach.select("new_id", "match_id", "cos_sim", "rank")
          .as[(Long, Long, Double, Int)].collect().foreach(out.add)
        ()
      }
      try q.processAllAvailable() finally q.stop()

      // every input row read exactly once, across >1 micro-batch
      val progress = q.recentProgress
      assert(progress.map(_.numInputRows).sum == incoming.count())
      assert(progress.count(_.numInputRows > 0) > 1,
        "fixture degenerated to a single micro-batch — parity would " +
          "be vacuous")
      // STATELESS: no state store operator ever materialized
      assert(progress.flatMap(_.stateOperators).forall(
        _.numRowsTotal == 0),
        "the gate must not accumulate streaming state")

      val streamed = out.toArray(
        Array.empty[(Long, Long, Double, Int)]).toSet
      val batch = VectorStream.gateBatch(spec, index, k = 2, incoming)
        .select("new_id", "match_id", "cos_sim", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(streamed == batch,
        "micro-batched gate diverged from the one-shot batch probe")
    } finally {
      graft.queries.QueryUtil.deleteRecursively(srcDir)
      graft.queries.QueryUtil.deleteRecursively(ckpt)
    }
  }

  test("semantic gate: per-micro-batch outputs equal semGateBatch on " +
      "each batch; no streaming state; cross-batch dups both kept " +
      "(frozen manifest), same-batch dups keep the smaller id") {
    def v(axis: Int, jitter: Double): Seq[Float] =
      (0 until 64).map(i => (if (i == axis) 1.0 else 0.0) +
        (if (i == (axis + 1) % 64) jitter else 0.0)).map(_.toFloat)
    val manifest = Seq(
      (1L, v(0, 0.0), 0), (2L, v(0, 0.9), 0), (3L, v(32, 0.0), 0))
      .toDF("vec_id", "embedding", "label")
    val spec = SemDedupSpec(SemDedupGrid.Hier(2L), iters = 2,
      threshold = 0.999)
    val state = Similarity.semDedupFit(spec, manifest)
    // batch A: manifest dup + a new direction and its same-batch dup;
    // batch B: a dup of batch A's survivor (CROSS-batch)
    val batchA = Seq(
      (10L, v(0, 0.0), 0),   // identical to manifest 1 → dropped
      (11L, v(16, 0.0), 0),  // new → kept
      (12L, v(16, 0.0), 0))  // same-batch dup of 11 → dropped
      .toDF("vec_id", "embedding", "label")
    val batchB = Seq(
      (20L, v(16, 0.0), 0),  // dup of 11 but ACROSS batches → kept
      (21L, v(48, 0.0), 0))  // new → kept
      .toDF("vec_id", "embedding", "label")
    val srcDir = java.nio.file.Files
      .createTempDirectory("semgate_src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("semgate_ckpt").toString
    try {
      // two files + maxFilesPerTrigger=1 → two micro-batches in file
      // order is NOT guaranteed; judge per-batch results by content
      batchA.coalesce(1).write.mode("append").parquet(srcDir)
      batchB.coalesce(1).write.mode("append").parquet(srcDir)
      val out = new ConcurrentLinkedQueue[(Long, Boolean)]()
      val q = VectorStream.ingestSemGateStream(spark, srcDir, spec, state,
          ckpt) { (judged: DataFrame, _: Long) =>
        judged.select("vec_id", "kept").as[(Long, Boolean)]
          .collect().foreach(out.add)
        ()
      }
      try q.processAllAvailable() finally q.stop()
      val progress = q.recentProgress
      assert(progress.map(_.numInputRows).sum == 5)
      assert(progress.flatMap(_.stateOperators).forall(
        _.numRowsTotal == 0),
        "the semantic gate must not accumulate streaming state")
      val got = out.toArray(Array.empty[(Long, Boolean)]).toMap
      assert(got.size == 5, "one judgment per incoming vector")
      assert(!got(10L), "manifest duplicate must drop")
      assert(got(11L) && !got(12L),
        "same-batch dup keeps the smaller id")
      assert(got(20L),
        "cross-batch dup must be KEPT — the manifest is frozen " +
          "between refits (the documented gate contract)")
      assert(got(21L))
      // per-batch parity: streaming through foreachBatch ≡ calling
      // the batch body on the same rows
      for (b <- Seq(batchA, batchB)) {
        val want = Similarity.semDedupGateBatch(spec, state, b)
          .select("vec_id", "kept").as[(Long, Boolean)]
          .collect().toMap
        assert(want.forall { case (id, kept) => got(id) == kept },
          s"streamed judgments diverged from the batch body: $want")
      }
    } finally {
      graft.queries.QueryUtil.deleteRecursively(srcDir)
      graft.queries.QueryUtil.deleteRecursively(ckpt)
    }
  }
}
