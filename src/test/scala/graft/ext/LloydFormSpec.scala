package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import graft.SparkSpec

/** Pins the driver-side Lloyd fit to the distributed one. Within the
  * driver gate every k-means fit collects its corpus once and runs in
  * Scala; in reliable checkpoint mode the same call runs the
  * distributed loop. Each test runs one caller both ways on seeded
  * inputs and compares the frames: flat cosine and L2 k-means, PQ
  * codebooks, two-level IVF sub-cells and the hierarchical SemDeDup
  * state. The inputs carry exact-tie centroids, duplicate vectors,
  * decimal half-way values, a cell that empties after round 1, and a
  * zero-norm centroid, which must raise the same error both ways. */
class LloydFormSpec extends SparkSpec {
  import spark.implicits._

  /** `f`'s rows, sorted, under the driver fit and under the
    * distributed fit (reliable mode). Rows render their doubles with
    * Double.toString, which round-trips every bit. */
  private def bothForms(f: => DataFrame): (Seq[String], Seq[String]) = {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val driver = rows(f)
    (driver, inReliableMode(rows(f)))
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  private def vecs(rows: Seq[Seq[Double]]): DataFrame =
    rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "emb")

  // ties: 3 and 4 are scalar multiples of 0 (cosine ties), 5 repeats 1;
  // 6–9 hold values whose decimal cast sits on a 7th-decimal half
  private lazy val tied = vecs(Seq(
    Seq(1.0, 1.0, 0.0), Seq(0.0, 2.0, 1.0), Seq(3.0, 0.0, 1.0),
    Seq(2.0, 2.0, 0.0), Seq(3.0, 3.0, 0.0), Seq(0.0, 2.0, 1.0),
    Seq(0.0000005, 1.2345675, 0.5), Seq(2.5e-7, 0.1, 1.0000005),
    Seq(1.0, 0.3333335, 0.0), Seq(0.7, 0.7000005, 0.7)))

  test("flat cosine and L2 k-means: the driver fit is the distributed " +
      "fit, ties to the smallest cid, duplicates and half-way decimals " +
      "included") {
    for (k <- Seq(1, 3, 5); iters <- Seq(0, 1, 3)) {
      val cos = Similarity.kmeansCentroids(tied, k, iters)
      assert(isLocal(cos), "the driver fit returns a LocalRelation")
      val (d, s) = bothForms(Similarity.kmeansCentroids(tied, k, iters))
      assert(d == s, s"cosine k=$k iters=$iters")
      val (d2, s2) = bothForms(Similarity.kmeansCentroidsL2(tied, k, iters))
      assert(d2 == s2, s"L2 k=$k iters=$iters")
    }
  }

  test("a cell that empties after round 1 drops out in both forms") {
    // three cells after round 1, two after round 2
    val cosine = vecs(Seq(Seq(-1.0, -3.0), Seq(-3.0, -3.0), Seq(3.0, -3.0),
      Seq(3.0, 0.0), Seq(3.0, 3.0), Seq(0.0, 2.0)))
    assert(Similarity.kmeansCentroids(cosine, 3, 1).count() == 3)
    val (d, s) = bothForms(Similarity.kmeansCentroids(cosine, 3, 2))
    assert(d == s && d.size == 2)
    // the L2 corpus repeats its first vector
    val l2 = vecs(Seq(Seq(-1.0, 2.0), Seq(2.0, 3.0), Seq(0.0, 3.0),
      Seq(3.0, -2.0), Seq(2.0, -3.0), Seq(-1.0, 2.0)))
    assert(Similarity.kmeansCentroidsL2(l2, 3, 1).count() == 3)
    val (d2, s2) = bothForms(Similarity.kmeansCentroidsL2(l2, 3, 2))
    assert(d2 == s2 && d2.size == 2)
  }

  test("a zero-norm centroid raises the same error class in both forms") {
    // one cell holding v and −v: its round-1 mean is the zero vector
    val cancel = vecs(Seq(Seq(1.0, 0.0), Seq(-1.0, 0.0)))
    def conditions(t: Throwable): Set[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collect {
        case s: org.apache.spark.SparkThrowable if s.getCondition != null =>
          s.getCondition
      }.toSet
    def failure(): Set[String] = conditions(intercept[Throwable](
      Similarity.kmeansCentroids(cancel, 1, 2).collect()))
    val driver = failure()
    assert(driver.contains("DIVIDE_BY_ZERO"), driver.toString)
    val dir = java.nio.file.Files.createTempDirectory("graft_lloyd_zero")
    try {
      spark.conf.set(Ckpt.ModeKey, "reliable")
      spark.conf.set(Ckpt.DirKey, dir.toString)
      assert(failure() == driver)
    } finally {
      spark.conf.unset(Ckpt.ModeKey)
      spark.conf.unset(Ckpt.DirKey)
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  // 60 8-dim vectors in 7 value groups (duplicates), two labels
  private lazy val embs: DataFrame = (0L until 60L)
    .map(i => (i, i % 2, Seq.tabulate(8)(d =>
      (((i % 7) * 11 + d * 3) % 17 - 8).toFloat / 4)))
    .toDF("vec_id", "label", "embedding")

  test("PQ codebooks and label centroids: pqSearch is the same on both " +
      "fits, full, sampled, IVF-PQ and residual") {
    val qids = Seq(0L, 7L, 30L).toDF("vec_id")
    val pq = IvfCodes.Pq(m = 4, kSub = 3, iters = 2, dim = 8)
    val ivf = IvfSpec(Coarse.Labels(nprobe = 1), pq)
    for (spec <- Seq(IvfSpec(Coarse.Exhaustive, pq.copy(kSub = 4)),
        IvfSpec(Coarse.Exhaustive, IvfCodes.Pq(m = 2, kSub = 3, iters = 3,
          dim = 8, fitSampleMod = 3)),
        ivf, ivf.copy(codes = pq.copy(residual = true, fitSampleMod = 2)))) {
      val (d, s) = bothForms(Similarity.ivfSearch(spec, embs, qids, k = 5))
      assert(d == s, spec.toString)
    }
  }

  test("two-level IVF sub-cells: ivfSearch is the same on both fits") {
    val qids = Seq(0L, 7L, 31L).toDF("vec_id")
    val spec = IvfSpec(Coarse.TwoLevel(nprobe = 1, k2 = 3, nprobe2 = 2,
      iters = 2))
    val (d, s) = bothForms(Similarity.ivfSearch(spec, embs, qids, 5))
    assert(d == s && d.nonEmpty)
    val km = IvfSpec(Coarse.Kmeans(Coarse.Fixed(4), iters = 2, nprobe = 2))
    val (dk, sk) = bothForms(Similarity.ivfSearch(km, embs, qids, 5))
    assert(dk == sk && dk.nonEmpty)
  }

  test("hierarchical SemDeDup: the gate state and every output are the " +
      "same on both fits, and the driver state is local") {
    val man = embs.filter($"vec_id" % 5 =!= 0)
    val inc = embs.filter($"vec_id" % 5 === 0)
    for (mod <- Seq(1L, 2L)) {
      val spec = SemDedupSpec(SemDedupGrid.Hier(4L), iters = 2,
        threshold = 0.9, fitSampleMod = mod, dim = 8)
      val state = Similarity.semDedupFit(spec, man)
      assert(Seq(state.centroids1, state.centroids2, state.manGroups)
        .forall(isLocal), "the driver fit's gate state is local")
      def fitted(f: Similarity.SemDedupState => DataFrame) =
        bothForms(f(Similarity.semDedupFit(spec, man)))
      for ((part, (d, s)) <- Seq(
          "centroids1" -> fitted(_.centroids1),
          "centroids2" -> fitted(_.centroids2),
          "manGroups" -> fitted(_.manGroups),
          "batch" -> bothForms(Similarity.semDedupGateBatch(spec,
            Similarity.semDedupFit(spec, man), inc)),
          "corpus" -> bothForms(Similarity.semDedup(spec, embs))))
        assert(d == s && d.nonEmpty, s"$part, fitSampleMod=$mod")
    }
  }

  test("flat SemDeDup with a sampled fit is the same on both fits") {
    val spec = SemDedupSpec(SemDedupGrid.Flat(Coarse.PerRowsMin2(8)),
      iters = 2, threshold = 0.9, fitSampleMod = 2, dim = 8)
    val (d, s) = bothForms(Similarity.semDedup(spec, embs))
    assert(d == s && d.exists(!_.endsWith("true]")))
  }
}
