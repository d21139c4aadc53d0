package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The fused covariance kernel must be bit-identical to the explode
  * pipeline it replaced: the quantizer to Spark's double→DECIMAL(18,6)
  * cast, and the whole aggregate (via [[CovExplode]]) to
  * the dim²-struct explode + groupBy formulation. Generators are
  * sampled from fixed seeds (the scalatest↔scalacheck bridge isn't in
  * the offline cache — the ArrayOpsPropertySpec pattern). */
class CovMicroSumsSpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i =>
      g.pureApply(Gen.Parameters.default, Seed(4200L + i)))

  test("quantMicro ≡ the BigDecimal reference on random doubles") {
    val gen = Gen.oneOf(
      Gen.choose(-100.0, 100.0),
      Gen.choose(-1e-5, 1e-5),
      Gen.choose(-1e9, 1e9),
      Gen.choose(-1e13, 1e13),     // overflows DECIMAL(18,6) → Skip
      Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, 1e12, -1e12))
    for (p <- sample(gen, 2000)) {
      val fast = CovMicroSums.quantMicro(p)
      val slow =
        if (!java.lang.Double.isFinite(p)) CovMicroSums.Skip
        else CovMicroSums.slowQuant(p)
      assert(fast == slow, s"p=$p fast=$fast slow=$slow")
    }
  }

  test("quantMicro ≡ reference at adversarial .5e-6 tie and " +
      "near-tie magnitudes") {
    // exact ties (x.xxxxxx5 shortest-decimal), near-ties one ulp off,
    // and integral-boundary values — the fast path must defer to the
    // slow path wherever the two could disagree
    val cases = Seq.newBuilder[Double]
    for (k <- -20 to 20; d <- Seq(0.0000005, 0.0000015, 0.0000025)) {
      val base = k.toDouble + d
      cases += base
      cases += Math.nextUp(base)
      cases += Math.nextDown(base)
    }
    for (k <- -1000 to 1000) cases += k / 1e6
    for (e <- 0 to 11; s <- Seq(1.0, -1.0)) {
      val m = s * math.pow(10, e)
      cases += m + 0.0000005
      cases += Math.nextUp(m + 0.0000005)
      cases += Math.nextDown(m + 0.0000005)
    }
    for (p <- cases.result()) {
      val fast = CovMicroSums.quantMicro(p)
      val slow = CovMicroSums.slowQuant(p)
      assert(fast == slow, s"p=$p fast=$fast slow=$slow")
    }
  }

  test("fused kernel ≡ explode pipeline, cell-for-cell, on the real " +
      "sf0.001 embedding corpus") {
    val e = graft.Tables.embeddings(spark, sf0001)
    val c = graft.ext.CovSpec.fit(e, 64).c
    val exploded = CovExplode(e, 64).collect()
    assert(exploded.length == 64 * 64)
    for (r <- exploded) {
      val (i, j, ci) = (r.getInt(0), r.getInt(1), r.getLong(2))
      assert(c(i)(j) == ci, s"cell ($i,$j): kernel ${c(i)(j)} vs $ci")
    }
  }

  test("fused kernel ≡ explode pipeline on a planted low-dim frame " +
      "(exercises negatives, ties-scale values, many partitions)") {
    val dim = 6
    val rows = (0 until 500).map { k =>
      val arr = Array.tabulate(dim)(j =>
        ((k * (j + 7)) % 23 - 11).toDouble * 0.137 +
          (if ((k + j) % 5 == 0) 0.0000005 else 0.0))
      (k.toLong, arr.map(_.toFloat))
    }
    val df = rows.toDF("vec_id", "embedding").repartition(16)
    val c = graft.ext.CovSpec.fit(df, dim).c
    val exploded = CovExplode(df, dim).collect()
    assert(exploded.length == dim * dim)
    for (r <- exploded)
      assert(c(r.getInt(0))(r.getInt(1)) == r.getLong(2),
        s"cell (${r.getInt(0)},${r.getInt(1)})")
  }

  test("merge across partitions matches a single-partition run") {
    val dim = 4
    val rows = (0 until 97).map { k =>
      (k.toLong, Array.tabulate(dim)(j =>
        ((k * 31 + j * 17) % 19 - 9).toFloat * 0.3f))
    }
    val one = rows.toDF("vec_id", "embedding").coalesce(1)
    val many = rows.toDF("vec_id", "embedding").repartition(13)
    val c1 = graft.ext.CovSpec.fit(one, dim).c
    val cm = graft.ext.CovSpec.fit(many, dim).c
    for (i <- 0 until dim; j <- 0 until dim)
      assert(c1(i)(j) == cm(i)(j), s"cell ($i,$j)")
  }
}
