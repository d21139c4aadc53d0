package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import NearDupCandidates._
import NearDupMeasure._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** `spec`'s self-join pairs over (doc_id, text) rows. */
  private def runSpec(docs: DataFrame, spec: NearDupSpec): DataFrame =
    Dedup.nearDupPairs(spec, docs, "doc_id", "text")

  private def blocked(n: Int, threshold: Double,
      c: MinShingle = MinShingle()): NearDupSpec =
    NearDupSpec(n, c, Jaccard(threshold))

  private def prefix(n: Int, tNum: Int, tDen: Int): NearDupSpec =
    NearDupSpec(n, Prefix(tNum, tDen),
      Jaccard(Prefix(tNum, tDen).threshold))

  private def containment(threshold: Double, dfCap: Int): NearDupSpec =
    NearDupSpec(8, RareGrams(GramCap.Fixed(dfCap)), Containment(threshold))

  /** Jaccard similarity of two sorted pre-distinct shingle arrays — the
    * brute-force reference. */
  private def jaccard(a: Column, b: Column): Column = {
    val inter = graft.functions.ArrayOps.sorted_intersect_size(a, b)
      .cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** HOF MinHash signature over pre-hashed shingles: for permutation j,
    * min over h of (a_j·h + b_j) mod p — the formulation
    * [[graft.functions.MinHashSig]] replaced. */
  private def hofMinhashSignature(shingleHashes: Column,
      numHashes: Int): Column = {
    val p = lit(2147483647L)
    array((0 until numHashes).map { j =>
      val a = lit(2L * j + 1)
      val b = lit(7919L * (j + 1))
      array_min(transform(shingleHashes, h => pmod(a * h + b, p)))
    }: _*)
  }

  /** HOF SimHash over rolling token hashes — the formulation
    * [[graft.functions.SimHash32]] replaced. */
  private def hofSimhash32(textCol: Column): Column = {
    val toks = split(textCol, " ")
    def tokHash(t: Column): Column =
      graft.functions.RollingHash.rolling_hash(t)
    val votes = aggregate(toks,
      array_repeat(lit(0), 32),
      (acc, t) => zip_with(acc,
        array((0 until 32).map(i =>
          when(shiftright(tokHash(t), i).bitwiseAND(1) === 1, 1)
            .otherwise(-1)): _*),
        (x, y) => x + y))
    aggregate(zip_with(votes, sequence(lit(0), lit(31)),
        (v, i) => when(v > 0, pow(lit(2.0), i).cast("long"))
          .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The  Quick Brown Fox jumps over the lazy dog"), // exact dup mod case/ws
    (3L, "the quick brown fox jumps over the lazy cat"),  // near dup
    (4L, "completely different words entirely here now"),
    (5L, "the quick brown fox jumps over the lazy dog"))  // exact dup
    .toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates, keeps min id") {
    val got = Dedup.exact(docs, "doc_id", "text")
      .filter($"n_copies" > 1)
      .select("keep_id", "n_copies").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 3L)))
  }

  test("jaccard pairs finds the near duplicate above threshold") {
    val got = runSpec(docs, blocked(3, 0.5))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // 1-5 identical (jaccard 1.0); 1-3 and 3-5 share most shingles
    assert(got.contains((1L, 5L)))
    assert(got.contains((1L, 3L)))
  }

  test("snapshotDiff: added/removed/changed/unchanged classified by " +
      "normalized content hash; formatting-only edits are unchanged") {
    val prev = Seq(
      (1L, "stable text"),
      (2L, "will change"),
      (3L, "will be removed"),
      (5L, "Spacing   And Case")).toDF("doc_id", "text")
    val cur = Seq(
      (1L, "stable text"),
      (2L, "has changed"),
      (4L, "newly added"),
      (5L, "spacing and case")) // normalizes identically -> unchanged
      .toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(prev, cur, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added", 5L -> "unchanged"))
  }

  test("prefix-filter join equals the brute-force all-pairs exact " +
      "join on a varied corpus (losslessness)") {
    // 40 docs: duplicate families, partial overlaps, disjoint noise,
    // and repeated hot grams (which min-shingle blocking would have
    // to cap — prefix filtering excludes them structurally).
    val base = Seq(
      "alpha beta gamma delta epsilon zeta",
      "alpha beta gamma delta epsilon eta",
      "one two three four five six seven",
      "one two three four five six eight",
      "common common common filler words here",
      "totally unrelated content sits here now")
    val corpus = (0 until 40).map { i =>
      val t = base(i % base.size)
      (i.toLong, if (i < base.size * 2) t else s"$t suffix$i tail$i")
    }.toDF("doc_id", "text")
    val got = runSpec(corpus, prefix(3, 1, 5))
      .select($"doc_a", $"doc_b", round($"jaccard", 9).as("j"))
      .as[(Long, Long, Double)].collect().toSet
    // brute force: cross join, exact jaccard, no pruning
    val sh = corpus.select($"doc_id",
      Dedup.shingles($"text", 3).as("sh"))
    val brute = sh.as("a").join(sh.as("b"),
        $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        round(jaccard($"a.sh", $"b.sh"), 9).as("j"))
      .filter($"j" >= 0.2)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == brute)
    assert(got.nonEmpty)
  }

  test("prefix-filter join equals brute force on seeded RANDOM " +
      "corpora across thresholds (losslessness property)") {
    val words = Vector("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "eta", "theta", "iota", "kappa")
    for ((seed, tNum, tDen) <- Seq((1L, 1, 2), (2L, 4, 5),
        (3L, 3, 10))) {
      val rnd = new scala.util.Random(seed)
      val corpus = (0 until 25).map { i =>
        val n = 6 + rnd.nextInt(8)
        (i.toLong, Seq.fill(n)(words(rnd.nextInt(words.size)))
          .mkString(" "))
      }.toDF("doc_id", "text")
      val got = runSpec(corpus, prefix(3, tNum, tDen))
        .select($"doc_a", $"doc_b", round($"jaccard", 9).as("j"))
        .as[(Long, Long, Double)].collect().toSet
      val sh = corpus.select($"doc_id",
        Dedup.shingles($"text", 3).as("sh"))
        .filter(size($"sh") > 0)
      val tau = tNum.toDouble / tDen.toDouble
      val brute = sh.as("a").join(sh.as("b"),
          $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
          round(jaccard($"a.sh", $"b.sh"), 9).as("j"))
        .filter($"j" >= tau)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == brute, s"seed=$seed tau=$tNum/$tDen")
    }
  }

  test("prefix-filter join is a superset of min-shingle blocking " +
      "(blocking recall <= 1, prefix recall = 1)") {
    val corpus = (0 until 30).map { i =>
      (i.toLong, s"shared head words here item$i plus shared tail " +
        s"words var${i % 7}")
    }.toDF("doc_id", "text")
    val pref = runSpec(corpus, prefix(3, 1, 5))
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val block = runSpec(corpus, blocked(3, 0.2))
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(block.subsetOf(pref))
  }

  test("prefix length uses exact rational ceil — the IEEE " +
      "ceil((1/75)*525)=8 hazard cannot shorten the prefix") {
    // The double formulation over-ceils when num/den rounds up and
    // the product lands just above an exact integer: τ=1/75, l=525
    // gives math.ceil((1.0/75)*525) = 8 while the true ⌈525/75⌉ = 7 —
    // one token silently cut from the prefix, which breaks the
    // losslessness lemma. The integer form is exact for all (l, den).
    assert(math.ceil((1.0 / 75.0) * 525.0).toInt == 8)
    for (den <- Seq(5, 75, 77, 91); l <- 1 to 1000) {
      val num = 1L * l + (den - 1)
      val exact = ((num - num % den) / den).toInt
      assert(exact == (l + den - 1) / den, s"l=$l den=$den")
    }
  }

  test("containment: a doc fully quoted inside a longer doc scores " +
      "1.0 in its direction while Jaccard stays low") {
    val short = "a b c d e f g h i j"                       // 10 tokens
    val long = s"$short k l m n o p q r"                    // superset
    val corpus = Seq((1L, short), (2L, long),
      (3L, "z y x w v u t s r q p o")).toDF("doc_id", "text")
    val got = runSpec(corpus, containment(threshold = 0.9, dfCap = 16))
      .select("doc_a", "doc_b", "cont_a", "cont_b")
      .as[(Long, Long, Double, Double)].collect()
    assert(got.length == 1)
    val (a, b, ca, cb) = got.head
    assert((a, b) == (1L, 2L))
    assert(ca == 1.0, s"short-in-long containment must be 1.0, got $ca")
    assert(cb < 0.9, "reverse direction is partial")
    // the same pair under symmetric Jaccard sits far below 0.9
    val jac = runSpec(corpus, blocked(8, 0.9)).collect()
    assert(jac.isEmpty, "Jaccard at the same threshold misses the pair")
  }

  test("containment hot-gram cap: pairs sharing only an over-cap " +
      "(boilerplate) gram generate no candidates") {
    // five docs, identical 8-token header + unique 8-token tails:
    // every pair shares exactly the one header gram, whose df=5
    val header = "h1 h2 h3 h4 h5 h6 h7 h8"
    val corpus = (1 to 5).map(i => (i.toLong,
      s"$header u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g u${i}h"))
      .toDF("doc_id", "text")
    val capped = runSpec(corpus, containment(threshold = 0.05, dfCap = 3))
    assert(capped.collect().isEmpty,
      "over-cap gram must not generate candidates")
    val uncapped = runSpec(corpus, containment(threshold = 0.05, dfCap = 16))
    assert(uncapped.count() == 10,
      "all 10 pairs emerge once the shared gram is under the cap")
  }

  test("minhash LSH finds true near-dup pairs with verified jaccard") {
    val got = runSpec(docs,
        NearDupSpec(3, MinhashBands(bands = 16, rowsPerBand = 2), Jaccard(0.5)))
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect()
    val pairs = got.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((1L, 5L)))
    assert(got.forall(_._3 >= 0.5)) // every emitted pair is verified
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("hot-block cap bounds exact candidates and rescues via MinHash") {
    // Adversarial corpus: every doc opens with the same boilerplate
    // header, whose 3-gram sorts first — one min-shingle block holds
    // ALL docs, the case where uncapped blocking is O(m²) on one key.
    // ("aaa aaa aaa" < any other shingle lexicographically.)
    val header = "aaa aaa aaa"
    val boiler = (1 to 40).map(i =>
      (i.toLong, s"$header unique$i filler$i differs$i entirely$i"))
    // one genuine near-dup pair inside the hot block
    val nearDup = Seq(
      (100L, s"$header the quick brown fox jumps over the lazy dog"),
      (101L, s"$header the quick brown fox jumps over the lazy cat"))
    val corpus = (boiler ++ nearDup).toDF("doc_id", "text")

    // cap smaller than the block: exact path must see zero candidates,
    // rescue must still surface the true near-dup pair
    val capped = runSpec(corpus, blocked(3, 0.5,
        MinShingle(maxBlockSize = 10, rescue = MinhashBands(16, 2))))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped.contains((100L, 101L)),
      "MinHash rescue must recover the near-dup pair in the hot block")
    // boilerplate-only docs share just the 1 header shingle of ~9 →
    // jaccard « 0.5; nothing else may pass verification
    assert(capped == Set((100L, 101L)))

    // cap above the block size → behavior identical to uncapped
    val uncapped = runSpec(corpus, blocked(3, 0.5,
        MinShingle(maxBlockSize = Int.MaxValue)))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped == capped)
  }

  test("hot-block cap: normal corpus output is unchanged by the cap") {
    val a = runSpec(docs, blocked(3, 0.5,
        MinShingle(maxBlockSize = 2, rescue = MinhashBands(16, 2))))
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val b = runSpec(docs, blocked(3, 0.5))
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // every emitted pair is exact-verified on both routes, so a tiny
    // cap may only widen candidate recall, never change verification
    assert(b.subsetOf(a))
    assert(a.forall(_._3 >= 0.5))
  }

  test("codegen SimHash32 equals the HOF simhash formulation") {
    val both = docs.select(
      Dedup.simhash32($"text").as("fast"),
      hofSimhash32($"text").as("ref"))
      .as[(Long, Long)].collect()
    both.foreach { case (fast, ref) => assert(fast == ref) }
    assert(both(0)._1 == both(4)._1) // identical text, identical simhash
  }

  test("codegen MinHashSig equals the HOF minhash formulation") {
    import org.apache.spark.sql.functions._
    val sh = docs.select(Dedup.shingles($"text", 3).as("sh"))
      .withColumn("hs", transform($"sh",
        s => pmod(xxhash64(s), lit(2147483647L))))
    val both = sh.select(
      graft.functions.MinHashSig.minhash_sig($"hs", 16).as("fast"),
      hofMinhashSignature($"hs", 16).as("ref"))
      .as[(Seq[Long], Seq[Long])].collect()
    both.foreach { case (fast, ref) => assert(fast == ref) }
  }

  test("incremental MinHash+LSH equals the cross-side subset of the " +
      "full self-join, and never reports within-batch pairs") {
    val corpus = graft.Tables.documents(spark, sf0001)
    val isNew = col("doc_id") % 10 === 0
    val spec = NearDupSpec(3, MinhashBands(bands = 16, rowsPerBand = 4),
      Jaccard(0.2))
    val sh = Dedup.shingleFrame(corpus, "doc_id", "text", spec.n)
    val inc = Dedup.nearDupProbe(spec, sh.filter(isNew), sh.filter(!isNew))
      .select("new_id", "dup_of").as[(Long, Long)].collect().toSet
    // reference: the full self-join's verified pairs, restricted to
    // pairs with exactly one side in the batch, re-oriented to
    // (new, manifest) — band keys are per-doc, so the cross-side
    // candidate sets coincide and the verified sets must be equal
    val full = runSpec(corpus, spec)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val expected = full.flatMap { case (a, b) =>
      (a % 10 == 0, b % 10 == 0) match {
        case (true, false) => Some((a, b))
        case (false, true) => Some((b, a))
        case _ => None
      }
    }.toSet
    assert(inc == expected, s"inc=${inc.size} expected=${expected.size}")
    assert(inc.nonEmpty, "fixture must exercise a true cross-side dup")
    // within-batch duplicates are out of contract
    assert(inc.forall { case (n2, m) => n2 % 10 == 0 && m % 10 != 0 })
  }

  test("containment cap PerDocs: exact-integer max(min, ceil(num*N/den)), " +
      "and the oracle's cap expression is the same rule") {
    val cap = GramCap.PerDocs(16, 5000, 2)
    assert(cap.of(5000) == 16)
    assert(cap.of(5001) == 17)
    assert(cap.of(1) == 2)
    for (n <- 1L to 20000L)
      assert(cap.of(n) == ((BigInt(16) * n + 4999) / 5000).max(2).toInt,
        s"N=$n")
    // the rule is exact where a double ceil is not: 1/75 of 525 docs
    // is exactly 7, but IEEE (1.0/75)*525 ceils to 8
    assert(math.ceil((1.0 / 75) * 525).toInt == 8)
    assert(GramCap.PerDocs(1, 75, 2).of(525) == 7)
    // the oracle splices cap.sql over its shingle CTE; evaluated over
    // N rows (DuckDB's integer // is Spark's div) it is cap.of(N)
    val spec = NearDupSpec(8, RareGrams(cap), Containment(0.5))
    assert(NearDupSpec.oracleSql(spec).contains(s"<= ${cap.sql("f")}"))
    for (n <- Seq(1L, 4999L, 5000L, 5001L, 12345L)) {
      val sqlCap = spark.sql(cap.sql(s"range($n)").replace("//", "div")
          .stripPrefix("(").stripSuffix(")"))
        .as[Long].head()
      assert(sqlCap == cap.of(n), s"N=$n")
    }
  }
}
