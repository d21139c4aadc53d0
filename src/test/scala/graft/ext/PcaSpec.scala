package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType,
  StructField, StructType}

import CovOutput.{AllButTop, Components, Cov}

/** The [[CovSpec]] family: eigen-properties of the power-iteration PCA
  * on the real corpus and on a constructed corpus with a planted
  * dominant direction, the corpus guard, and the local eigensolves the
  * OPQ rotation is built on. */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  test("planted dominant direction is recovered; pc1 is unit; evr " +
      "dominates the planted fraction") {
    // 200 vectors in R^8: strong variance along e0+e1 (normalized),
    // small deterministic noise elsewhere
    val dim = 8
    val rows = (0 until 200).map { k =>
      val t = (k % 21).toDouble - 10.0      // strong axis, var ~ 36
      val base = Array.fill(dim)(0.0)
      base(0) = t * math.sqrt(0.5)
      base(1) = t * math.sqrt(0.5)
      for (j <- 2 until dim)
        base(j) = ((k * (j + 3)) % 7 - 3).toDouble * 0.05   // tiny
      Row(k.toLong, base.map(_.toFloat).toSeq)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    def frame(rs: Seq[Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
    // a NULL-element vector and an all-zero vector have no direction:
    // the fit and every output drop them
    val df = frame(rows ++ Seq(
      Row(200L, Seq[Any](1.0f, 2.0f, null, 0.5f, 0f, 0f, 0f, 0f)),
      Row(201L, Seq.fill(dim)(0.0f))))
    for (output <- Seq(Cov, Components(1), Components(2), AllButTop)) {
      val spec = CovSpec(output, dim = dim)
      assert(CovSpec.run(spec, df).collect().toSeq ==
        CovSpec.run(spec, frame(rows)).collect().toSeq, output)
    }
    val out = CovSpec.run(CovSpec(Components(1), iters = 12, dim = dim), df)
      .orderBy("dim").collect()
    assert(out.length == dim)
    val pc = out.map(_.getDouble(2))
    val lambda = out.head.getDouble(3)
    val evr = out.head.getDouble(4)
    // unit norm (up to micro rounding)
    val nrm = math.sqrt(pc.map(x => x * x).sum)
    assert(math.abs(nrm - 1.0) < 1e-3, s"‖pc1‖ = $nrm")
    // direction: |cos(pc1, u)| ≈ 1 for u = (√.5, √.5, 0, …)
    val cos = (pc(0) + pc(1)) * math.sqrt(0.5)
    assert(math.abs(math.abs(cos) - 1.0) < 1e-2, s"cos = $cos")
    // the planted axis carries almost all variance
    assert(evr > 0.95 && evr <= 1.0, s"evr = $evr")
    assert(lambda > 0.0)
  }

  test("two components by deflation: ordered eigenvalues, near-" +
      "orthogonal directions, both planted axes recovered, " +
      "cumulative evr dominates") {
    // two planted directions of different strength: e0 (var ~36)
    // and e3 (var ~9), tiny deterministic noise elsewhere
    val dim = 8
    val rows = (0 until 200).map { k =>
      val t = (k % 21).toDouble - 10.0
      val s = ((k / 3) % 11).toDouble - 5.0
      val base = Array.fill(dim)(0.0)
      base(0) = t
      base(3) = s
      for (j <- Seq(1, 2, 4, 5, 6, 7))
        base(j) = ((k * (j + 3)) % 7 - 3).toDouble * 0.03
      (k.toLong, base.map(_.toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = CovSpec.run(CovSpec(Components(2), iters = 16, dim = dim), df)
      .orderBy("comp", "dim").collect()
    assert(out.length == 2 * dim)
    val c1 = out.take(dim)
    val c2 = out.drop(dim)
    val p1 = c1.map(_.getDouble(2))
    val p2 = c2.map(_.getDouble(2))
    val (l1, l2) = (c1.head.getDouble(3), c2.head.getDouble(3))
    assert(l1 >= l2 && l2 > 0, s"l1=$l1 l2=$l2")
    // near-orthogonal (deflation + micro rounding)
    val dot = p1.zip(p2).map { case (a, b) => a * b }.sum
    assert(math.abs(dot) < 5e-3, s"dot=$dot")
    // axes recovered: comp1 ≈ ±e0, comp2 ≈ ±e3
    assert(math.abs(math.abs(p1(0)) - 1.0) < 2e-2, p1.toSeq.toString)
    assert(math.abs(math.abs(p2(3)) - 1.0) < 2e-2, p2.toSeq.toString)
    // cumulative subspace share dominates and is consistent
    val evr1 = c1.head.getDouble(4)
    val cum2 = c2.head.getDouble(5)
    assert(cum2 >= evr1 && cum2 > 0.95 && cum2 <= 1.0 + 1e-6,
      s"evr1=$evr1 cum2=$cum2")
  }

  test("all-but-the-top: Pythagoras holds (orig² ≈ coef² + corr²) " +
      "and the correction can only shrink the centered norm") {
    val e = graft.Tables.embeddings(spark, sf0001)
    val out = CovSpec.run(CovSpec(AllButTop), e).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val coef = r.getDouble(1)
      val orig = r.getDouble(2)
      val corr = r.getDouble(3)
      assert(corr <= orig + 1e-4, s"vec ${r.getLong(0)}: $corr > $orig")
      val lhs = orig * orig
      val rhs = coef * coef + corr * corr
      assert(math.abs(lhs - rhs) < 1e-2 * math.max(lhs, 1.0),
        s"vec ${r.getLong(0)}: orig²=$lhs vs coef²+corr²=$rhs")
    }
  }

  test("jacobiEigenAll: exact known eigenpairs, orthogonal V, " +
      "C·v = λ·v, and bitwise determinism") {
    val M = 1000000L
    // block matrix [[2,1],[1,2]] ⊕ diag(5,1): eigenvalues {3,1,5,1},
    // eigenvectors (1,1)/√2, (1,-1)/√2, e2, e3
    val c = Array(
      Array(2 * M, 1 * M, 0L, 0L),
      Array(1 * M, 2 * M, 0L, 0L),
      Array(0L, 0L, 5 * M, 0L),
      Array(0L, 0L, 0L, 1 * M))
    val (vecs, vals) = Pca.jacobiEigenAll(c, 4)
    assert(vals.sorted.zip(Seq(1.0, 1.0, 3.0, 5.0)).forall {
      case (a, b) => math.abs(a - b) < 1e-9 }, vals.toSeq.toString)
    // orthonormality: VᵀV = I to rounding error
    for (a <- 0 until 4; b <- 0 until 4) {
      val dot = (0 until 4).map(i => vecs(a)(i) * vecs(b)(i)).sum
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-12, s"V not orthogonal at ($a,$b): $dot")
    }
    // eigen-residual: C·v = λ·v
    for (k <- 0 until 4; i <- 0 until 4) {
      val cv = (0 until 4).map(j => c(i)(j).toDouble / M * vecs(k)(j)).sum
      assert(math.abs(cv - vals(k) * vecs(k)(i)) < 1e-9,
        s"residual at k=$k i=$i")
    }
    // pure function of the integers: a second call is bit-identical
    val (vecs2, vals2) = Pca.jacobiEigenAll(c, 4)
    assert(vecs.flatten.toSeq == vecs2.flatten.toSeq &&
      vals.toSeq == vals2.toSeq, "Jacobi must be deterministic")
  }

  test("opqRotation: near-orthonormal rows, balanced eigenvalue " +
      "allocation across subspaces") {
    val M = 1000000L
    // diag(16, 9, 4, 1): eigenvalues known and well separated
    val c = Array.tabulate(4, 4)((i, j) =>
      if (i == j) Seq(16L, 9L, 4L, 1L)(i) * M else 0L)
    val rot = Pca.opqRotation(c, 4, m = 2)
    assert(rot.length == 4 && rot.forall(_.length == 4))
    // rows are unit and mutually orthogonal to the 6-decimal rounding
    for (a <- 0 until 4; b <- 0 until 4) {
      val dot = (0 until 4).map(i => rot(a)(i) * rot(b)(i)).sum
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-4,
        s"rotation rows not orthonormal at ($a,$b): $dot")
    }
    // greedy product balancing: λ=16 and λ=9 (the two largest) must
    // land in DIFFERENT subspaces — subspace 0 gets {16, 1} (log
    // product 2.77), subspace 1 gets {9, 4} (3.58); stacking 16·9 in
    // one subspace (4.97 vs 1.39) is exactly what allocation avoids
    def subspaceOfEig(e: Int): Int = {
      val row = (0 until 4).maxBy(r => math.abs(rot(r)(e)))
      row / 2
    }
    assert(subspaceOfEig(0) != subspaceOfEig(1),
      "the two largest eigendirections must split across subspaces")
    assert(subspaceOfEig(0) == subspaceOfEig(3) &&
      subspaceOfEig(1) == subspaceOfEig(2),
      "greedy allocation must pair 16 with 1 and 9 with 4")
  }

  test("real corpus: Rayleigh residual is small (C·v ≈ λ·v) and evr " +
      "is a valid share") {
    val e = graft.Tables.embeddings(spark, sf0001)
    val out = CovSpec.run(CovSpec(Components(1)), e).orderBy("dim").collect()
    assert(out.length == 64)
    val pc = out.map(_.getDouble(2))
    val lambda = out.head.getDouble(3)
    val evr = out.head.getDouble(4)
    assert(evr > 0.0 && evr <= 1.0, s"evr = $evr")
    // rebuild C in plain Scala (double precision) and check the
    // eigen-residual of the returned vector
    val X = e.filter(col("embedding").isNotNull)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = X.length
    val m = Array.tabulate(64)(j => X.map(_(j)).sum / n)
    val c = Array.tabulate(64, 64)((i, j) =>
      X.map(x => (x(i) - m(i)) * (x(j) - m(j))).sum / n)
    val cv = Array.tabulate(64)(i =>
      (0 until 64).map(j => c(i)(j) * pc(j)).sum)
    val resid = math.sqrt(
      cv.zip(pc).map { case (a, b) => val d = a - lambda * b; d * d }
        .sum)
    assert(resid < 0.05 * math.abs(lambda) + 1e-4,
      s"residual $resid vs lambda $lambda")
  }
}
