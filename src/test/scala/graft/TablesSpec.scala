package graft

import org.apache.spark.sql.functions._

class TablesSpec extends SparkSpec {

  test("a table rewritten in place is read with its new schema, not " +
      "the memoized one") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tables")
      .toString
    try {
      val path = s"$dir/embeddings.parquet"
      Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(path)
      assert(Tables.embeddings(spark, dir).columns.toSeq ==
        Seq("vec_id", "embedding"))
      Seq((2L, Seq(0.0f, 1.0f), 7)).toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(path)
      val reread = Tables.embeddings(spark, dir)
      assert(reread.columns.toSeq == Seq("vec_id", "embedding", "label"))
      assert(reread.select(col("vec_id"), col("label")).as[(Long, Int)]
        .collect().toSeq == Seq((2L, 7)))
    } finally graft.queries.QueryUtil.deleteRecursively(dir)
  }
}
