package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.queries.QueryUtil.avgDec

/** The covariance pipeline the fused [[CovMicroSums]] kernel replaced,
  * kept as CovMicroSumsSpec's equivalence oracle: exploded
  * per-dimension means broadcast back as one array row, then every
  * centered vector expanded to its dim² outer-product cells and
  * averaged per (i, j) in integer micros. The FULL cell matrix, not
  * the symmetric triangle: an A/B at sf0.1 measured the triangle
  * variant (inner sequence(i, dim)) ~15% slower — the constant-bound
  * sequence constant-folds once while a variable lower bound
  * re-allocates per outer element. */
object CovExplode {

  def apply(embeddings: DataFrame, dim: Int): DataFrame = {
    val emb = Similarity.vectorRows(embeddings, Nil, Some(dim), "CovExplode")
    val meanArr = emb
      .select(posexplode(col("emb")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(avgDec(col("x")).as("m"))
      .agg(transform(array_sort(collect_list(struct(col("dim"),
        col("m")))), s => s("m")).as("m_arr"))
    emb.crossJoin(broadcast(meanArr))
      .select(zip_with(col("emb"), col("m_arr"), (x, m) => x - m).as("c"))
      .select(explode(flatten(transform(
        sequence(lit(1), lit(dim)), i => transform(
          sequence(lit(1), lit(dim)), j => struct(
            (i - 1).as("i"), (j - 1).as("j"),
            (element_at(col("c"), i) * element_at(col("c"), j))
              .as("p")))))).as("cell"))
      .groupBy(col("cell.i").as("i"), col("cell.j").as("j"))
      .agg(round(avgDec(col("cell.p")) * 1000000L).cast("long").as("ci"))
  }
}
