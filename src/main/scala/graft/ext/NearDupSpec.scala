package graft.ext

import graft.queries.QueryUtil.sqlPolyHash

/** How a near-dup run picks the document pairs it verifies. Every rule
  * yields (doc_a, doc_b) id pairs only; the measure then reattaches
  * the two shingle sets ([[Dedup.nearDupPairs]]). */
sealed trait NearDupCandidates

object NearDupCandidates {

  /** MinHash + LSH banding: `bands` bands of `rowsPerBand` permutation
    * minima over the engine-portable polynomial shingle hashes
    * ([[graft.functions.MinHashSig]]); docs sharing any (band, key)
    * are candidates. Collisions track whole-document similarity, and
    * only ids and the short band keys travel into the join. */
  final case class MinhashBands(bands: Int, rowsPerBand: Int)
      extends NearDupCandidates {
    def numHashes: Int = bands * rowsPerBand
  }

  /** Min-shingle blocking: two docs are compared only if their minimum
    * shingles coincide — one blocking key per doc. A block of more
    * than `maxBlockSize` docs (a corpus-common first shingle would
    * make the self-join O(m²) on one key) skips the exact join; its
    * docs go through `rescue` banding instead, whose collisions track
    * whole-document similarity. A pair sharing a min shingle has both
    * docs in one block, wholly cold or wholly hot, so the two candidate
    * sets are disjoint. */
  final case class MinShingle(maxBlockSize: Int = 1000,
      rescue: MinhashBands = MinhashBands(32, 4)) extends NearDupCandidates {
    require(maxBlockSize >= 2, "a block of <2 docs yields no pairs")
  }

  /** Prefix filtering, the AllPairs/SSJoin family (Bayardo, Ma &
    * Srikant, WWW'07; Chaudhuri, Ganti & Kaushik, ICDE'06) at the
    * Jaccard threshold `tNum/tDen`. Tokens get one global rarity order
    * (ascending document frequency); each doc keeps its first
    * `|x| − ⌈τ·|x|⌉ + 1` tokens as its prefix. Two sets with
    * `|x∩y| ≥ α` share a token inside their first `|·| − α + 1` tokens
    * of any common total order, and `J ≥ τ` forces
    * `|x∩y| ≥ τ·max(|x|,|y|)`, so the equi-join on prefix tokens is
    * lossless: the output equals the all-pairs exact join.
    *
    * The threshold is rational so the prefix length is exact integer
    * arithmetic, `(tNum·l + tDen − 1) div tDen`: a double
    * `ceil((1.0/75)·525)` is 8 while `⌈525/75⌉` is 7, which would cut
    * one token from the prefix. The spec's Jaccard filter reads this
    * same rational ([[threshold]]). */
  final case class Prefix(tNum: Int, tDen: Int) extends NearDupCandidates {
    require(tNum > 0 && tDen >= tNum, "threshold must be in (0, 1]")
    def threshold: Double = tNum.toDouble / tDen
  }

  /** Grams of document frequency ≤ `cap` only: a corpus-common gram
    * (boilerplate by definition) would fan out df² pairs on one key,
    * so a pair sharing only over-cap grams is never a candidate. */
  final case class RareGrams(cap: GramCap) extends NearDupCandidates
}

/** The document-frequency cap of [[NearDupCandidates.RareGrams]]. */
sealed trait GramCap {
  /** The cap for a corpus of `docs` documents. */
  def of(docs: => Long): Int
  /** The same cap as a DuckDB scalar over the shingle CTE `from`. */
  def sql(from: String): String
}

object GramCap {

  final case class Fixed(n: Int) extends GramCap {
    require(n >= 2, "a cap < 2 can never generate a candidate")
    def of(docs: => Long): Int = n
    def sql(from: String): String = n.toString
  }

  /** max(`min`, ⌈num·N/den⌉) in exact integer arithmetic, N the docs
    * with a non-empty shingle set: a boilerplate gram's df grows with
    * N, so a fixed cap would prune an ever larger share of true pairs
    * as the corpus grows. */
  final case class PerDocs(num: Long, den: Long, min: Int) extends GramCap {
    require(num >= 1 && den >= 1 && min >= 2, s"bad cap rule $this")
    def of(docs: => Long): Int = {
      val cap = math.max(min.toLong, (num * docs + den - 1) / den)
      require(cap <= Int.MaxValue, s"gram cap overflow: $cap")
      cap.toInt
    }
    def sql(from: String): String =
      s"(SELECT greatest($min, ($num * count(*) + ${den - 1}) // $den) " +
        s"FROM $from)"
  }
}

/** How a candidate pair is scored and kept. */
sealed trait NearDupMeasure

object NearDupMeasure {

  /** |A∩B| / |A∪B| over the sorted shingle sets (one merge walk,
    * [[graft.functions.ArrayOps.sorted_intersect_size]]); output
    * (doc_a, doc_b, jaccard). */
  final case class Jaccard(threshold: Double) extends NearDupMeasure

  /** C(A→B) = |A∩B| / |A| over the polynomial shingle-hash sets, both
    * directions rounded to 6 places, kept when either reaches the
    * threshold: the doc-in-doc signal (quotation, boilerplate
    * inclusion, version supersets; Broder 1997) Jaccard under-scores.
    * A hash collision inflates both engines' counts alike. Output
    * (doc_a, doc_b, n_shared, cont_a, cont_b). */
  final case class Containment(threshold: Double) extends NearDupMeasure
}

/** One near-dup run over word `n`-gram shingle sets: `candidates`
  * proposes id pairs, `measure` verifies each exactly.
  * [[Dedup.nearDupPairs]] (self-join), [[Dedup.nearDupProbe]] (an
  * incoming batch against a manifest) and the DuckDB oracle
  * ([[NearDupSpec.oracleSql]]) all read this one value. */
final case class NearDupSpec(n: Int, candidates: NearDupCandidates,
    measure: NearDupMeasure) {
  require(candidates match {
    case p: NearDupCandidates.Prefix =>
      measure == NearDupMeasure.Jaccard(p.threshold)
    case _ => true
  }, s"prefix filtering is lossless at its own Jaccard threshold, not $measure")
}

object NearDupSpec {
  import NearDupCandidates._
  import NearDupMeasure._

  /** DuckDB fragment: the distinct word-n-gram list over token-list
    * expression `toks` — the one oracle-side mirror of
    * [[graft.functions.ShingleSet]], including its truncated whole-doc
    * gram when a doc has fewer than `n` tokens. */
  def sqlShingleList(toks: String, n: Int): String =
    s"list_distinct(list_transform(" +
    s"range(1, greatest(len($toks) - ${n - 1}, 1) + 1), " +
    s"i -> array_to_string($toks[i:i+${n - 1}], ' ')))"

  /** `f{sfx}(doc_id, sh)`: the sorted non-empty shingle lists of the
    * documents — [[Dedup.shingleFrame]]; materialized, as every
    * consumer re-reads it. */
  private def shingleCte(n: Int, sfx: String): String =
    s"""f$sfx AS MATERIALIZED (SELECT * FROM (SELECT doc_id, list_sort(
       |    ${sqlShingleList("(string_split(text, ' '))", n)}) AS sh
       |  FROM documents) WHERE len(sh) > 0)""".stripMargin

  /** The band candidates of the (doc_id, sh) CTE `src` as CTEs suffixed
    * `sfx`, ending at `cand{sfx}(doc_a, doc_b)`: distinct id-ordered
    * pairs sharing a (band, band_key). The hash and signature CTEs are
    * MATERIALIZED: DuckDB inlines a plain CTE per reference, and the
    * band self-join reads the signatures twice. */
  private def minhashCtes(b: MinhashBands, src: String,
      sfx: String): String =
    s"""h$sfx AS MATERIALIZED (SELECT doc_id,
       |    list_transform(sh, s -> ${sqlPolyHash("s")}) AS hs FROM $src),
       |sig$sfx AS MATERIALIZED (SELECT doc_id,
       |    list_transform(range(0, ${b.numHashes}), j -> list_min(
       |      list_transform(hs, h ->
       |        ((2 * j + 1) * h + 7919 * (j + 1)) % 2147483647))) AS sig
       |  FROM h$sfx),
       |bands$sfx AS (SELECT doc_id, i AS band, array_to_string(
       |    sig[i * ${b.rowsPerBand} + 1:(i + 1) * ${b.rowsPerBand}], ',')
       |    AS band_key FROM sig$sfx, range(0, ${b.bands}) t(i)),
       |cand$sfx AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands$sfx a JOIN bands$sfx b ON a.band = b.band
       |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin

  /** `cand{s}(doc_a, doc_b)` over `f{s}` (and `g{s}`). */
  private def candidateCtes(c: NearDupCandidates, s: String): String =
    c match {
      case MinShingle(cap, rescue) =>
        s"""blk$s AS (SELECT doc_id, sh[1] AS block FROM f$s),
           |bn$s AS (SELECT block, count(*) AS n FROM blk$s GROUP BY 1),
           |fh$s AS (SELECT f.doc_id, f.sh FROM f$s f
           |  JOIN blk$s k ON f.doc_id = k.doc_id
           |  JOIN bn$s USING (block) WHERE n > $cap),
           |${minhashCtes(rescue, s"fh$s", s"${s}_r")},
           |cand$s AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM blk$s a JOIN blk$s b
           |    ON a.block = b.block AND a.doc_id < b.doc_id
           |  JOIN bn$s ON bn$s.block = a.block WHERE n <= $cap
           |  UNION ALL SELECT * FROM cand${s}_r)""".stripMargin
      // no pruning: the all-pairs join the prefix filter provably
      // equals, so the hash match is the recall-1.0 proof
      case _: Prefix =>
        s"""cand$s AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM f$s a JOIN f$s b ON a.doc_id < b.doc_id)""".stripMargin
      case b: MinhashBands => minhashCtes(b, s"f$s", s)
      case RareGrams(cap) =>
        s"""rare$s AS (SELECT doc_id, g FROM g$s WHERE g IN (SELECT g
           |  FROM g$s GROUP BY g HAVING count(*) <= ${cap.sql(s"f$s")})),
           |cand$s AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM rare$s a JOIN rare$s b
           |    ON a.g = b.g AND a.doc_id < b.doc_id)""".stripMargin
    }

  /** `pairs{s}`: the pairs of `cand{s}` that pass `m` ([[Dedup]]'s
    * verify). */
  private def verifyCtes(m: NearDupMeasure, s: String): String = m match {
    case Jaccard(t) =>
      s"""v$s AS (SELECT doc_a, doc_b,
         |    len(list_intersect(a.sh, b.sh)) AS ni,
         |    len(a.sh) AS la, len(b.sh) AS lb
         |  FROM cand$s c JOIN f$s a ON a.doc_id = c.doc_a
         |    JOIN f$s b ON b.doc_id = c.doc_b),
         |pairs$s AS (SELECT doc_a, doc_b,
         |    round(ni::DOUBLE / (la + lb - ni), 6) AS jaccard
         |  FROM v$s WHERE ni::DOUBLE / (la + lb - ni) >= $t)""".stripMargin
    case Containment(t) =>
      s"""v$s AS (SELECT c.doc_a, c.doc_b, count(*) AS n_shared
         |  FROM cand$s c
         |  JOIN g$s ga ON ga.doc_id = c.doc_a
         |  JOIN g$s gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
         |  GROUP BY 1, 2),
         |pairs$s AS (SELECT * FROM (SELECT v.doc_a, v.doc_b, v.n_shared,
         |    round(n_shared::DOUBLE / len(a.sh), 6) AS cont_a,
         |    round(n_shared::DOUBLE / len(b.sh), 6) AS cont_b
         |  FROM v$s v JOIN f$s a ON a.doc_id = v.doc_a
         |    JOIN f$s b ON b.doc_id = v.doc_b)
         |  WHERE greatest(cont_a, cont_b) >= $t)""".stripMargin
  }

  /** The self-join pair set of `spec` over the `documents` table as
    * WITH-clause CTEs suffixed `sfx`, ending at `pairs{sfx}`:
    * (doc_a, doc_b, jaccard) under [[NearDupMeasure.Jaccard]],
    * (doc_a, doc_b, n_shared, cont_a, cont_b) under
    * [[NearDupMeasure.Containment]]. Composed oracles splice it. */
  def pairCtes(spec: NearDupSpec, sfx: String = ""): String = {
    val grams = (spec.candidates, spec.measure) match {
      case (_: RareGrams, _) | (_, _: Containment) =>
        s""",
           |g$sfx AS (SELECT doc_id, unnest(list_transform(sh,
           |    s -> ${sqlPolyHash("s")})) AS g FROM f$sfx)""".stripMargin
      case _ => ""
    }
    s"""${shingleCte(spec.n, sfx)}$grams,
       |${candidateCtes(spec.candidates, sfx)},
       |${verifyCtes(spec.measure, sfx)}""".stripMargin
  }

  /** Min-id connected components of the (doc_a, doc_b) CTE `pairs` as
    * recursive CTEs ending at `comp(doc_id, comp)` (the query needs
    * `WITH RECURSIVE`); a doc in no pair has no row. */
  def componentsCtes(pairs: String): String =
    s"""edges AS (SELECT doc_a AS a, doc_b AS b FROM $pairs
       |  UNION SELECT doc_b, doc_a FROM $pairs),
       |reach(a, b) AS (SELECT a, b FROM edges
       |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS doc_id, least(a, min(b)) AS comp
       |  FROM reach GROUP BY a)""".stripMargin

  /** The DuckDB oracle of `spec` over the documents table: the
    * self-join pair set, or with `split` the ingest probe of the
    * `doc_id % split = 0` batch against the rest as (new_id, dup_of,
    * jaccard) rows. The probe is stated as its contract: band keys are
    * per-doc, so it is the self-join's cross-side subset, re-oriented.
    * Ordered by the id pair. */
  def oracleSql(spec: NearDupSpec, split: Option[Int] = None): String =
    split match {
      case None =>
        s"""WITH ${pairCtes(spec)}
           |SELECT * FROM pairs ORDER BY doc_a, doc_b""".stripMargin
      case Some(m) =>
        require(spec.candidates.isInstanceOf[MinhashBands],
          s"the ingest probe joins band keys, not ${spec.candidates}")
        def pick(batch: String, manifest: String) =
          s"CASE WHEN doc_a % $m = 0 THEN $batch ELSE $manifest END"
        s"""WITH ${pairCtes(spec)}
           |SELECT ${pick("doc_a", "doc_b")} AS new_id,
           |  ${pick("doc_b", "doc_a")} AS dup_of, jaccard
           |FROM pairs WHERE (doc_a % $m = 0) <> (doc_b % $m = 0)
           |ORDER BY new_id, dup_of""".stripMargin
    }
}
