package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.ext.Dedup

/** Property-based equivalence for the codegen kernels: on ARBITRARY
  * token material (including empty strings, unicode, and degenerate
  * lengths) each kernel must match the built-in-HOF formulation it
  * replaced — the invariant that keeps the DuckDB oracles valid.
  * Generators are ScalaCheck `Gen`s sampled from fixed seeds (the
  * scalatest↔scalacheck bridge artifact isn't in the offline cache,
  * so sampling is driven directly — deterministic by construction).
  */
class ArrayOpsPropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i =>
      g.pureApply(Gen.Parameters.default, Seed(9000L + i)))

  // word material: ascii words, unicode, empties (split() produces
  // empty tokens for doubled separators — the kernels must agree there)
  private val word: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(6)),
    Gen.oneOf("", "a", "répé", "日本"),
    Gen.listOfN(3, Gen.choose('a', 'e')).map(_.mkString))
  private val text: Gen[String] =
    Gen.listOf(word).map(_.mkString(" "))

  test("property: shingle_set ≡ HOF shingles for any text and n") {
    for (n <- 1 to 4) {
      val texts = sample(text, 40)
      val both = texts.toDF("text").select(
        Dedup.shingles($"text", n).as("fast"),
        HofShingles($"text", n).as("ref"))
        .as[(Seq[String], Seq[String])].collect()
      both.zip(texts).foreach { case ((fast, ref), t) =>
        assert(fast == ref, s"n=$n text='$t'")
      }
    }
  }

  test("property: sorted_intersect_size ≡ size(array_intersect)") {
    val sortedLongs = Gen.listOf(Gen.choose(-50L, 50L))
      .map(_.distinct.sorted)
    val pairs = sample(Gen.zip(sortedLongs, sortedLongs), 40)
    val got = pairs.toDF("a", "b").select(
      ArrayOps.sorted_intersect_size($"a", $"b").as("fast"),
      size(array_intersect($"a", $"b")).as("ref"))
      .as[(Int, Int)].collect()
    got.zip(pairs).foreach { case ((fast, ref), (a, b)) =>
      assert(fast == ref)
      assert(fast == a.toSet.intersect(b.toSet).size, s"a=$a b=$b")
    }
  }

  test("property: dot_product ≡ zip_with fold, bit for bit") {
    val vec = Gen.listOfN(16, Gen.chooseNum(-1e3, 1e3))
    val pairs = sample(Gen.zip(vec, vec), 40)
    val got = pairs.toDF("a", "b").select(
      ArrayOps.dot_product($"a", $"b").as("fast"),
      aggregate(zip_with($"a", $"b", (p, q) => p * q),
        lit(0.0), _ + _).as("ref"))
      .as[(Double, Double)].collect()
    got.foreach { case (fast, ref) =>
      assert(java.lang.Double.doubleToLongBits(fast) ==
        java.lang.Double.doubleToLongBits(ref))
    }
  }

  test("property: array_poly_hash ≡ per-element rolling_hash") {
    val tokLists = sample(Gen.listOf(word), 40)
    val got = tokLists.map(Tuple1(_)).toDF("toks").select(
      ArrayOps.array_poly_hash($"toks").as("fast"),
      transform($"toks",
        t => RollingHash.rolling_hash(t)).as("ref"))
      .as[(Seq[Long], Seq[Long])].collect()
    got.foreach { case (fast, ref) => assert(fast == ref) }
  }

  test("property: token_set_counts ≡ filter+isin per set") {
    val wordSet = Gen.listOfN(5, word).map(_.distinct)
      .suchThat(_.nonEmpty)
    val cases = sample(
      Gen.zip(Gen.listOf(word), wordSet, wordSet), 30)
    cases.foreach { case (toks, s1, s2) =>
      val got = Seq(Tuple1(toks)).toDF("toks").select(
        ArrayOps.token_set_counts($"toks", Seq(s1, s2)).as("fast"),
        array(
          graft.ext.TextStats.hofTokenHits($"toks", s1),
          graft.ext.TextStats.hofTokenHits($"toks", s2)).as("ref"))
        .as[(Seq[Int], Seq[Int])].collect().head
      assert(got._1 == got._2, s"toks=$toks s1=$s1 s2=$s2")
    }
  }
}
