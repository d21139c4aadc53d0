package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ext.Dedup

/** Each codegen kernel must be observationally identical to the
  * built-in-HOF formulation it replaced — that equivalence is what
  * keeps the DuckDB oracles valid. */
class ArrayOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "one two"),                       // fewer tokens than n
    (3L, "a"),                             // single token
    (4L, "x  y   z"),                      // empty tokens from runs
    (5L, "répé ütf chars ünicode répé"))   // multi-byte + dup token
    .toDF("doc_id", "text")

  test("shingle_set equals the HOF shingle formulation") {
    for (n <- Seq(1, 2, 3, 5)) {
      val both = docs.select(
        Dedup.shingles($"text", n).as("fast"),
        HofShingles($"text", n).as("ref"))
        .as[(Seq[String], Seq[String])].collect()
      both.foreach { case (fast, ref) =>
        assert(fast == ref, s"n=$n")
      }
    }
  }

  test("sorted_intersect_size equals size(array_intersect) on sorted sets") {
    val sh = docs.select(Dedup.shingles($"text", 2).as("sh"))
    val pairs = sh.alias("a").crossJoin(sh.alias("b"))
    val both = pairs.select(
      ArrayOps.sorted_intersect_size(col("a.sh"), col("b.sh")).as("fast"),
      size(array_intersect(col("a.sh"), col("b.sh"))).as("ref"))
      .as[(Int, Int)].collect()
    both.foreach { case (fast, ref) => assert(fast == ref) }
    // long arrays too
    val got = Seq((Seq(1L, 3L, 7L), Seq(0L, 3L, 7L, 9L)))
      .toDF("a", "b")
      .select(ArrayOps.sorted_intersect_size($"a", $"b"))
      .as[Int].collect()
    assert(got.head == 2)
  }

  test("dot_product equals the aggregate(zip_with) fold bit-for-bit") {
    val vs = Seq(
      (Seq(0.1, -2.5, 3.25, 1e-7), Seq(4.0, 0.5, -1.125, 2e9)),
      (Seq(1.0, 2.0), Seq(3.0, 4.0)))
      .toDF("a", "b")
    val both = vs.select(
      ArrayOps.dot_product($"a", $"b").as("fast"),
      aggregate(zip_with($"a", $"b", (p, q) => p * q),
        lit(0.0), _ + _).as("ref"))
      .as[(Double, Double)].collect()
    both.foreach { case (fast, ref) =>
      assert(java.lang.Double.doubleToLongBits(fast) ==
        java.lang.Double.doubleToLongBits(ref))
    }
  }

  test("dot_product degenerate cases match the HOF fold: length " +
      "mismatch and null elements yield NULL") {
    val vs = Seq(
      (Seq(Some(1.0), Some(2.0)), Seq(Some(3.0))),          // mismatch
      (Seq(Some(1.0), None), Seq(Some(3.0), Some(4.0))),    // null elem
      (Seq(Some(1.0), Some(2.0)), Seq(Some(3.0), Some(4.0))))
      .toDF("a", "b")
    val both = vs.select(
      ArrayOps.dot_product($"a", $"b").as("fast"),
      aggregate(zip_with($"a", $"b", (p, q) => p * q),
        lit(0.0), _ + _).as("ref"))
      .as[(Option[Double], Option[Double])].collect()
    assert(both.toSeq ==
      Seq((None, None), (None, None), (Some(11.0), Some(11.0))))
  }

  test("array_poly_hash equals per-element rolling_hash") {
    val toks = docs.select(split($"text", " ").as("toks"))
    val both = toks.select(
      ArrayOps.array_poly_hash($"toks").as("fast"),
      transform($"toks",
        t => RollingHash.rolling_hash(t)).as("ref"))
      .as[(Seq[Long], Seq[Long])].collect()
    both.foreach { case (fast, ref) => assert(fast == ref) }
  }

  test("token_set_counts equals size(filter(isin)) per set") {
    val sets = graft.ext.TextStats.StopwordsByLang.map(_._2) :+
      graft.ext.TextStats.AllStopwords
    val toks = docs.select(split($"text", " ").as("toks"))
    val both = toks.select(
      ArrayOps.token_set_counts($"toks", sets).as("fast"),
      array(sets.map(ws =>
        graft.ext.TextStats.hofTokenHits($"toks", ws)): _*).as("ref"))
      .as[(Seq[Int], Seq[Int])].collect()
    both.foreach { case (fast, ref) => assert(fast == ref) }
  }

  test("hyperplane_buckets equals the literal lshBucket composition " +
      "for every table") {
    import graft.ext.Similarity
    val dim = 8
    val tables = 5
    val planesPerTable = 3
    val allPlanes = (0 until tables).map(t =>
      Similarity.hyperplanes(planesPerTable, dim, seed = 7L + t))
    val rnd = new scala.util.Random(11)
    val vecs = Seq.fill(40)(Seq.fill(dim)(rnd.nextGaussian()))
      .map(Tuple1(_)).toDF("emb")
    val both = vecs.select(
      HyperplaneBuckets($"emb", allPlanes).as("fast"),
      array(allPlanes.map(p =>
        LiteralLshBucket($"emb", p)): _*).as("ref"))
      .as[(Seq[Int], Seq[Int])].collect()
    both.foreach { case (fast, ref) => assert(fast == ref) }
    // dim mismatch must be null, not a silent one-bucket collapse
    val bad = Seq(Tuple1(Seq(1.0, 2.0))).toDF("emb")
      .select(HyperplaneBuckets($"emb", allPlanes)).collect()
    assert(bad.head.isNullAt(0))
  }

  test("gram_hashes equals poly-hashing the HOF positional gram list; " +
      "short docs yield an EMPTY array (no truncated whole-doc gram)") {
    for (k <- Seq(1, 2, 3, 8)) {
      val toks = split($"text", " ")
      val hof = when(size(toks) >= k,
          ArrayOps.array_poly_hash(
            transform(sequence(lit(1), size(toks) - (k - 1)),
              i => concat_ws(" ", slice(toks, i, lit(k))))))
        .otherwise(array().cast("array<long>"))
      val both = docs.select(
        GramHashes.gram_hashes(toks, k).as("fast"), hof.as("ref"))
        .as[(Seq[Long], Seq[Long])].collect()
      both.foreach { case (fast, ref) => assert(fast == ref, s"k=$k") }
    }
    val short = docs.filter($"doc_id" === 3L)
      .select(GramHashes.gram_hashes(split($"text", " "), 8))
      .as[Seq[Long]].head()
    assert(short.isEmpty)
  }

  test("kernels survive both codegen and interpreted eval paths") {
    // interpreted path: force eval via a filter on a literal-free expr
    val row = docs.filter(
      ArrayOps.sorted_intersect_size(
        Dedup.shingles($"text", 2), Dedup.shingles($"text", 2)) >= 0 &&
      ArrayOps.dot_product(array(lit(1.0)), array(lit(2.0))) === 2.0)
    assert(row.count() == docs.count())
  }
}
