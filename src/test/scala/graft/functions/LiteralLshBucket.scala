package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The plane-literal composition [[HyperplaneBuckets]] replaced: per
  * plane, a dot product with a typed literal, bit i set iff it is
  * strictly positive. It inlines planes × dim literals into the plan
  * (at row-derived plane counts its analysis and Janino compile
  * dominated cold runs, ~100 s at sf0.01 vs ~1 s warm). The specs hold
  * the kernel observationally equal to it. */
object LiteralLshBucket {
  def apply(emb: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (plane, i) =>
      val proj = ArrayOps.dot_product(emb, typedLit(plane))
      when(proj > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
}
