package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** The [[MatVecLit]] kernel must be BIT-identical to the dim²-literal
  * expression tree it replaced ([[RotationFrames.applyRotationTree]]) —
  * that equivalence is what keeps the OPQ oracles' plan-literal
  * rotation CTEs valid (the oracle replays the tree's left-fold `a +
  * b + c` chain in SQL). */
class MatVecSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(42)
  private def randMat(rows: Int, width: Int): Array[Array[Double]] =
    Array.fill(rows, width)(
      math.rint(rng.nextGaussian() * 1e6) / 1e6) // round6-like entries

  test("mat_vec_lit equals the literal-tree fold bit-for-bit (float input)") {
    val dim = 16
    val mat = randMat(dim, dim)
    val vecs = (0 until 50).map(i =>
      (i.toLong, Seq.fill(dim)(rng.nextFloat() * 4 - 2)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = RotationFrames.applyRotation(df, mat)
      .orderBy("vec_id").select("embedding").as[Seq[Double]].collect()
    val want = RotationFrames.applyRotationTree(df, mat)
      .orderBy("vec_id").select("embedding").as[Seq[Double]].collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.length == w.length)
      g.zip(w).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a) ==
          java.lang.Double.doubleToLongBits(b))
      }
    }
  }

  test("mat_vec_lit equals the tree on double input, incl. zero rows") {
    val dim = 8
    val mat = randMat(dim, dim)
    mat(3) = Array.fill(dim)(0.0) // an all-zero rotation row
    val vecs = (0 until 20).map(i =>
      (i.toLong, Seq.fill(dim)(rng.nextDouble() * 2 - 1))) :+
      (99L, Seq.fill(dim)(0.0)) // an all-zero vector
    val df = vecs.toDF("vec_id", "embedding")
    val got = RotationFrames.applyRotation(df, mat)
      .orderBy("vec_id").select("embedding").as[Seq[Double]].collect()
    val want = RotationFrames.applyRotationTree(df, mat)
      .orderBy("vec_id").select("embedding").as[Seq[Double]].collect()
    got.zip(want).foreach { case (g, w) =>
      g.zip(w).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a) ==
          java.lang.Double.doubleToLongBits(b))
      }
    }
  }

  test("a null input element poisons every output dim, as the tree did") {
    val dim = 4
    val mat = randMat(dim, dim)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType, true))))
    val rows = java.util.Arrays.asList(
      Row(1L, Seq(1.0, 2.0, 3.0, 4.0)),
      Row(2L, Seq[Any](1.0, null, 3.0, 4.0)))
    val df = spark.createDataFrame(rows, schema)
    val got = RotationFrames.applyRotation(df, mat)
      .orderBy("vec_id").select("embedding")
      .collect().map(_.getSeq[Any](0))
    val want = RotationFrames.applyRotationTree(df, mat)
      .orderBy("vec_id").select("embedding")
      .collect().map(_.getSeq[Any](0))
    assert(got(1).forall(_ == null) && want(1).forall(_ == null))
    assert(got(0) == want(0))
  }

  test("interpreted eval path matches codegen") {
    val dim = 6
    val mat = randMat(dim, dim)
    val v = Seq.fill(dim)(rng.nextDouble())
    // force the interpreted path via a literal eval
    val expr = MatVecLit(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        v, ArrayType(DoubleType, false)), mat)
    val interp = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray()
    val viaDf = Seq((1L, v)).toDF("vec_id", "embedding")
      .select(MatVec.mat_vec_lit($"embedding", mat).as("e"))
      .as[Seq[Double]].head()
    interp.zip(viaDf).foreach { case (a, b) =>
      assert(java.lang.Double.doubleToLongBits(a) ==
        java.lang.Double.doubleToLongBits(b))
    }
  }
}
