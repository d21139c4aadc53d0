package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** A local rotation matrix applied as a per-row projection: output
  * dim i = Σ_j rot(i)(j)·emb[j] as a LEFT-FOLD sum, the one summation
  * order Spark and a SQL `a + b + c` chain share. `keep` lists the id
  * columns carried through. [[applyRotation]] runs the
  * [[MatVecLit]] kernel (what the PQ `Rotation` layout runs);
  * [[applyRotationTree]] is the dim²-literal expression tree the kernel
  * replaced — every Catalyst pass re-walked its 4096 nodes (6.75 s
  * warm / 17.4 s cold for the sf0.1 projection job vs ~0.2 s as a
  * kernel) — kept as MatVecSpec's equivalence oracle. */
object RotationFrames {

  def applyRotation(embeddings: DataFrame, rot: Array[Array[Double]],
      keep: Seq[String] = Seq("vec_id")): DataFrame =
    embeddings.filter(col("embedding").isNotNull)
      .select(keep.map(col) :+
        MatVec.mat_vec_lit(col("embedding"), rot).as("embedding"): _*)

  def applyRotationTree(embeddings: DataFrame, rot: Array[Array[Double]],
      keep: Seq[String] = Seq("vec_id")): DataFrame = {
    val dim = rot.length
    val embD = Similarity.toDouble(col("embedding"))
    embeddings.filter(col("embedding").isNotNull)
      .select(keep.map(col) :+ array((0 until dim).map(i =>
        (0 until dim).map(j =>
          lit(rot(i)(j)) * element_at(embD, j + 1))
          .reduceLeft(_ + _)): _*).as("embedding"): _*)
  }
}
