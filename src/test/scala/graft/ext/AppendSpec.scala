package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the stored-PQ-index append contract
  * ([[Similarity.appendToPqIndex]]): appending never refits and never
  * rewrites — existing code rows are bit-identical pre/post append —
  * and appends COMPOSE: two split appends produce the same index
  * state (and the same probe results) as the one-shot append, because
  * every batch is encoded with the same frozen codebooks and parquet
  * append only adds files under the label partitions. */
class AppendSpec extends SparkSpec {
  import spark.implicits._

  // the catalog's stored-index spec (s_ann_index_scan/_append)
  private val spec = IvfSpec(Coarse.Labels(nprobe = 3),
    IvfCodes.Pq(m = 16, kSub = 32, iters = 2, fitSampleMod = 4L))

  // (vec_id, sub, cid): each stored code array exploded by subspace
  private def codesOf(dir: String): Seq[(Long, Int, Int)] =
    spark.read.parquet(s"$dir/codes")
      .select($"vec_id", posexplode($"codes").as(Seq("sub", "cid")))
      .as[(Long, Int, Int)].collect().sortBy(r => (r._1, r._2)).toSeq

  test("append freezes the fit: manifest codes are bit-identical " +
      "pre/post, split-appends equal the one-shot append, and the " +
      "probe serves appended vectors") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val manifest = emb.filter($"vec_id" % 10 =!= 0)
    val batch = emb.filter($"vec_id" % 10 === 0)
    val dir1 = java.nio.file.Files
      .createTempDirectory("graft_append1").toString
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_append2").toString
    try {
      Similarity.buildPqIndex(spec, manifest, dir1)
      // identical second layout (same deterministic fit)
      Similarity.buildPqIndex(spec, manifest, dir2)
      val before = codesOf(dir1)

      // one-shot append vs two split appends (even/odd batch halves)
      Similarity.appendToPqIndex(spark, dir1, spec, batch)
      Similarity.appendToPqIndex(spark, dir2, spec,
        batch.filter($"vec_id" % 20 === 0))
      Similarity.appendToPqIndex(spark, dir2, spec,
        batch.filter($"vec_id" % 20 =!= 0))
      val after1 = codesOf(dir1)
      val after2 = codesOf(dir2)
      assert(after1 == after2, "split appends diverged from one-shot")

      // no rewrite: every pre-append code row survives unchanged
      val manifestIds = manifest.filter($"embedding".isNotNull)
        .select("vec_id").as[Long].collect().toSet
      assert(after1.filter(r => manifestIds.contains(r._1)) == before,
        "append rewrote or re-encoded manifest codes")
      // coverage: every non-null batch vector gained m code rows
      val batchIds = batch.filter($"embedding".isNotNull)
        .select("vec_id").as[Long].collect().toSet
      val batchRows = after1.count(r => batchIds.contains(r._1))
      assert(batchRows == batchIds.size * 16,
        s"expected ${batchIds.size * 16} batch code rows, got $batchRows")

      // the probe serves appended vectors: an appended vector that
      // DUPLICATES a manifest vector shares its code word, so both
      // carry the same adc_dot for every query that sees their label
      val got = Similarity.pqIndexProbe(spark, dir1, spec, emb,
        Similarity.sampleQueryIds(
          emb.filter($"embedding".isNotNull), 16),
        k = 5)
      assert(got.filter($"neighbor_id" % 10 === 0).count() > 0,
        "no appended vector ever surfaced in the probe results")
    } finally {
      graft.queries.QueryUtil.deleteRecursively(dir1)
      graft.queries.QueryUtil.deleteRecursively(dir2)
    }
  }

  test("append refuses a batch whose label is absent from the stored " +
      "coarse index (it would be unreachable to every probe)") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_append3").toString
    try {
      Similarity.buildPqIndex(spec, emb.filter($"vec_id" % 10 =!= 0), dir)
      val donor = emb.filter($"embedding".isNotNull)
        .orderBy("vec_id").limit(1).collect().head
      val novel = Seq((999999L, donor.getSeq[Float](1), 424242))
        .toDF("vec_id", "embedding", "label")
      val e = intercept[IllegalArgumentException] {
        Similarity.appendToPqIndex(spark, dir, spec, novel)
      }
      assert(e.getMessage.contains("424242"))
    } finally graft.queries.QueryUtil.deleteRecursively(dir)
  }

  // a small labeled 8-dim corpus: cheap to build, enough for the
  // layout checks below
  private def small = (0L until 24L)
    .map(i => (i, i % 3,
      Seq.tabulate(8)(d => ((i * 7 + d * 5) % 11).toFloat)))
    .toDF("vec_id", "label", "embedding")
  private val smallSpec = IvfSpec(Coarse.Labels(nprobe = 2),
    IvfCodes.Pq(m = 2, kSub = 2, iters = 1, dim = 8))

  private def exists(path: String) = new java.io.File(path).exists()

  /** Rewrites `dir`'s meta through `f` (collected first, so the
    * rewrite never reads the path it replaces). */
  private def rewriteMeta(dir: String)(
      f: org.apache.spark.sql.DataFrame => Unit): Unit = {
    val meta = spark.read.parquet(s"$dir/meta")
    val rows = spark.createDataFrame(
      java.util.Arrays.asList(meta.collect(): _*), meta.schema)
    graft.queries.QueryUtil.deleteRecursively(s"$dir/meta")
    f(rows)
  }

  test("probe and append refuse a v1 layout (coarse/codebooks dirs, " +
      "no meta) with an explicit rebuild-required error") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_append_v1").toString
    try {
      Similarity.buildPqIndex(smallSpec, small, dir)
      rewriteMeta(dir) { rows =>
        rows.filter($"kind" === "coarse").write.parquet(s"$dir/coarse")
        rows.filter($"kind" === "codebooks")
          .write.parquet(s"$dir/codebooks")
      }
      val probe = intercept[IllegalStateException] {
        Similarity.pqIndexProbe(spark, dir, smallSpec, small,
          Seq(0L).toDF("vec_id"), k = 3)
      }
      val append = intercept[IllegalStateException] {
        Similarity.appendToPqIndex(spark, dir, smallSpec, small)
      }
      for (e <- Seq(probe, append))
        assert(e.getMessage.contains("v1") &&
          e.getMessage.contains("rebuild required"), e.getMessage)
    } finally graft.queries.QueryUtil.deleteRecursively(dir)
  }

  test("probe and append refuse a v2 layout (meta, no VERSION marker) " +
      "and an unknown version, each with a rebuild-required error") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_append_v2").toString
    try {
      Similarity.buildPqIndex(smallSpec, small, dir)
      // the marker and its local-filesystem checksum
      val marker = new java.io.File(s"$dir/VERSION")
      assert(marker.delete(), "the build wrote no VERSION marker")
      new java.io.File(s"$dir/.VERSION.crc").delete()
      def refusals() = Seq(
        intercept[IllegalStateException] {
          Similarity.pqIndexProbe(spark, dir, smallSpec, small,
            Seq(0L).toDF("vec_id"), k = 3)
        },
        intercept[IllegalStateException] {
          Similarity.appendToPqIndex(spark, dir, smallSpec, small)
        })
      for (e <- refusals())
        assert(e.getMessage.contains("v2") &&
          e.getMessage.contains("rebuild required"), e.getMessage)
      java.nio.file.Files.write(marker.toPath, "9\n".getBytes("UTF-8"))
      for (e <- refusals())
        assert(e.getMessage.contains("v9") &&
          e.getMessage.contains("rebuild required"), e.getMessage)
    } finally graft.queries.QueryUtil.deleteRecursively(dir)
  }

  test("a probe whose spec has another m than the stored codebooks " +
      "fails, naming both") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_append_m").toString
    try {
      Similarity.buildPqIndex(smallSpec, small, dir)
      val e = intercept[IllegalArgumentException] {
        Similarity.pqIndexProbe(spark, dir, smallSpec.copy(
            codes = IvfCodes.Pq(m = 4, kSub = 2, iters = 1, dim = 8)),
          small, Seq(0L).toDF("vec_id"), k = 3)
      }
      assert(e.getMessage.contains("m=2") && e.getMessage.contains("m=4"),
        e.getMessage)
    } finally graft.queries.QueryUtil.deleteRecursively(dir)
  }

  test("buildPqIndex over a v1 layout deletes its stale coarse and " +
      "codebooks dirs") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_append_v1_rebuild").toString
    try {
      Seq("coarse", "codebooks").foreach(d =>
        Seq((1L, 2L)).toDF("a", "b").write.parquet(s"$dir/$d"))
      Similarity.buildPqIndex(smallSpec, small, dir)
      assert(!exists(s"$dir/coarse") && !exists(s"$dir/codebooks"),
        "stale v1 dirs survived the rebuild")
      assert(exists(s"$dir/meta") && exists(s"$dir/codes"))
      assert(Similarity.pqIndexProbe(spark, dir, smallSpec, small,
        Seq(0L).toDF("vec_id"), k = 3).count() == 3)
    } finally graft.queries.QueryUtil.deleteRecursively(dir)
  }

  test("a meta without codebooks rows is reported as corrupt, naming " +
      "the index dir") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_append_corrupt").toString
    try {
      Similarity.buildPqIndex(smallSpec, small, dir)
      rewriteMeta(dir)(_.filter($"kind" === "coarse")
        .write.parquet(s"$dir/meta"))
      val e = intercept[IllegalArgumentException] {
        Similarity.pqIndexProbe(spark, dir, smallSpec, small,
          Seq(0L).toDF("vec_id"), k = 3)
      }
      assert(e.getMessage.contains(dir) &&
        e.getMessage.contains("codebooks"), e.getMessage)
    } finally graft.queries.QueryUtil.deleteRecursively(dir)
  }
}
