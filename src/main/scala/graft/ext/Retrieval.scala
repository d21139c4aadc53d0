package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Okapi BM25 ranked retrieval over a tokenized document corpus —
  * the lexical retrieval operator a training-data pipeline uses for
  * corpus search, eval-set mining, and retrieval-augmented data
  * curation (the sparse complement of the dense ANN family in
  * [[Similarity]]).
  *
  * Distributed shape (the inverted-index probe): the query side is a
  * tiny (qid, term) frame that BROADCASTS; the corpus-sized token
  * stream is filtered down to query-term postings immediately after
  * the explode — everything aggregated afterwards is bounded by
  * |docs containing a query term| × |distinct terms|, never the full
  * token count. Document lengths come from a separate narrow pass
  * (`size(tokens)` — no explode), and the global (N, Σdl) statistics
  * frame is one row, broadcast into the scoring join. Total: two
  * corpus scans, both projection-only; the only wide exchanges key on
  * `doc_id` (postings ⋈ lengths) and `qid` (the top-k window).
  *
  * Cross-engine determinism (DuckDB oracle parity): per-term scores
  * are pure double arithmetic of identical expression shape in both
  * engines, rounded to 6 decimals BEFORE the per-(query, doc)
  * summation, which then runs through the exact decimal accumulator
  * ([[graft.queries.QueryUtil.sumDec]]) so partial-aggregation order
  * cannot change the sum. Ranking orders by the rounded score with
  * doc_id as the tiebreak. Callers should pick k1/b values exactly
  * representable in binary (the catalog uses k1=1.5, b=0.75) so the
  * constant folding is bit-identical across engines.
  */
object Retrieval {

  /** BM25 top-k documents per query.
    *
    * @param docs    (doc_id, text) corpus; text is whitespace-tokenized
    *                with the corpus-wide [[TextStats.tokens]] rule
    * @param queries tiny (qid: long, term: string) frame — one row per
    *                query term; duplicate terms within a qid are legal
    *                and score once per occurrence row
    * @param k       results per query
    * @param k1      term-frequency saturation (BM25 k1)
    * @param b       length normalization strength (BM25 b)
    *
    * Output: (qid, doc_id, score, rk) — rk in 1..k, score the rounded
    * BM25 sum. Uses the Lucene-style non-negative idf
    * `ln(1 + (N − df + 0.5)/(df + 0.5))`.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.5, b: Double = 0.75): DataFrame = {
    val base = docs.select(col("doc_id"),
      TextStats.tokens(col("text")).as("toks"))
    // narrow pass: per-doc length + the one-row corpus stats frame
    val dl = base.select(col("doc_id"),
      size(col("toks")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      graft.queries.QueryUtil.sumDec(col("dl")).as("sum_dl"))
    // postings pass: explode, keep only query terms (broadcast semi
    // shape), then tf per (doc, term) — the hash agg keys on a term
    // set bounded by the query frame
    val terms = queries.select(col("term")).distinct()
    val tf = base.select(col("doc_id"), explode(col("toks")).as("term"))
      .join(broadcast(terms), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // df per term is derived from the postings frame (one row per
    // (doc, term) → count = document frequency); tiny → broadcast back
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(queries), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("t_score", round(
        log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) *
          (lit(1.0 - b) + lit(b) * col("dl") /
            (col("sum_dl") / col("n_docs")))), 6))
    val agg = scored.groupBy(col("qid"), col("doc_id"))
      .agg(round(graft.queries.QueryUtil.sumDec(col("t_score")), 6)
        .as("score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("score"), asc("doc_id"))
    agg.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of N
    * ranked retrieval legs — the standard hybrid-retrieval combiner
    * (sparse BM25 + dense ANN being the canonical pair): fused
    * score(d) = Σ_legs 1/(kRrf + rank_leg(d)), rank-space only, so no
    * per-leg score calibration is needed.
    *
    * Each leg is a (qid, doc_id, rk) frame — any retriever that emits
    * dense 1-based ranks per query plugs in unchanged ([[bm25TopK]],
    * any [[Similarity]] top-k with columns renamed), which is the
    * point: at 100-TB scale the dense leg swaps from brute-force to
    * IVF-PQ without touching the fusion.
    *
    * Scale shape: fusion runs entirely in RANK SPACE — each leg
    * contributes at most |Q|·k rows, so the union/aggregate here is
    * bounded by queries × k × legs regardless of corpus size; all
    * corpus-proportional work stays inside the legs (which carry
    * their own scale paths). The one exchange keys on (qid, doc_id).
    *
    * Cross-engine determinism: per-row contributions are integer
    * MICRO-UNITS floor(1e9/(kRrf + rk) + 0.5) — one double division
    * + one explicit half-up rounding per (leg, row), identical IEEE
    * sequence in DuckDB — then the per-doc sum is exact integer
    * arithmetic, so partial-aggregation order can never flip the
    * fused ranking. Final order (rrf DESC, doc_id ASC).
    *
    * Output: (qid, doc_id, rrf, n_legs, rk) — n_legs = how many legs
    * retrieved the doc (the agreement signal hybrid eval wants).
    */
  def rrfFuse(legs: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(legs.nonEmpty, "rrfFuse needs at least one leg")
    val contribs = legs.map(_.select(col("qid"), col("doc_id"),
      floor(lit(1e9) / (lit(kRrf) + col("rk")) + lit(0.5))
        .cast("long").as("contrib")))
    val fused = contribs.reduce(_ unionByName _)
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("contrib")).as("rrf"),
        count(lit(1)).as("n_legs"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("rrf"), asc("doc_id"))
    fused.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Exact phrase search over a POSITIONAL inverted index — the
    * retrieval primitive BM25's bag-of-words scoring cannot express:
    * "these terms, adjacent, in this order". A curation pipeline uses
    * it for boilerplate hunting ("all rights reserved"), contamination
    * probes (exact benchmark phrases), and template detection.
    *
    * @param docs    (doc_id, text), whitespace-tokenized with the
    *                corpus-wide [[TextStats.tokens]] rule
    * @param phrases tiny (pid: long, w1: string, w2: string) frame of
    *                two-term phrases; longer phrases chain the same
    *                adjacency join once per extra term
    *
    * Output: (pid, w1, w2, n_docs, n_hits) — documents containing the
    * phrase and total occurrences (overlapping occurrences each
    * count: positions are distinct by construction).
    *
    * Distributed shape: ONE corpus pass builds the positional
    * postings (doc_id, pos, term) via `posexplode`; the broadcast
    * phrase-term set filters the postings immediately, so everything
    * downstream is bounded by the query terms' document frequency,
    * never the token count. The adjacency match is an equi-join of
    * the two term legs on (pid, doc_id, pos+1 = pos) — a hash join
    * keyed on values that both sides derive from the SAME filtered
    * postings frame. At 100 TB the postings frame is the thing a
    * deployment persists (partitioned by term); the probe then never
    * touches text at all. */
  def phraseSearch(docs: DataFrame, phrases: DataFrame): DataFrame =
    phraseSearchImpl(docs, phrases, materialize = true)

  /** The same plan WITHOUT persist/localCheckpoint — full parquet
    * lineage preserved for the scan audit (the public path severs it:
    * materializing the filtered postings once is what stops the
    * corpus-sized token explode from running twice). Tests only. */
  private[graft] def phraseSearchPlan(docs: DataFrame,
      phrases: DataFrame): DataFrame =
    phraseSearchImpl(docs, phrases, materialize = false)

  /** Bucket count for the persisted postings layout: wide enough that
    * a handful of query terms prunes most of the index, small enough
    * that every bucket directory holds file-sized partitions at the
    * bench SFs. */
  val PhraseIndexBuckets = 64

  /** Postings per bucket the auto derivation targets: ~4M rows of
    * (term, doc_id, pos) ≈ 10⁸ bytes per bucket directory — the
    * parquet file-size class every other layout here writes. */
  val PhraseIndexPostingsPerBucket = 4000000L

  /** Derived bucket count — the `_auto` rule for the LAST hand-set
    * layout constant of this family: ⌈postings / target⌉, floored at
    * the proven catalog constant (so bench-SF layouts are unchanged)
    * and capped at 2¹⁶ directories (the directory-count bound the
    * hash bucket exists to enforce; past that, buckets grow beyond
    * the file-size target instead — a deployment would shard dirs).
    * Exact integer arithmetic throughout. */
  def autoPhraseBuckets(nPostings: Long): Int = {
    // overflow-safe ⌈n/per⌉ (the additive form wraps at Long.MaxValue)
    val per = PhraseIndexPostingsPerBucket
    val ceilDiv = nPostings / per + (if (nPostings % per == 0) 0L else 1L)
    math.min(65536L, math.max(PhraseIndexBuckets.toLong, ceilDiv)).toInt
  }

  /** [[buildPhraseIndex]] with the bucket count derived from the
    * corpus ([[autoPhraseBuckets]] over the exact postings count —
    * one column-pruned token-count pass, trivial beside the build's
    * own explode+shuffle). Returns the derived count so the caller
    * can aim [[phraseIndexProbe]] at the same grid. The layout is
    * physical only — probe results are bucket-count-invariant
    * (RetrievalSpec pins equality across counts). */
  def buildPhraseIndexAuto(docs: DataFrame, dir: String): Int = {
    val nPost = docs
      .agg(sum(coalesce(size(TextStats.tokens(col("text"))), lit(0)))
        .as("n"))
      .head().getLong(0)
    val n = autoPhraseBuckets(nPost)
    buildPhraseIndex(docs, dir, n)
    n
  }

  /** Materialize the positional postings index ONCE, partitioned by a
    * term-hash bucket — the production phrase-search layout this
    * operator's doc comment has always specified (and the fix for the
    * measured 1000×-probe super-linearity of the build-per-query
    * forms: their per-query corpus-proportional postings persist is
    * exactly what a deployment amortizes into a stored index).
    *
    * Layout: (term, doc_id, pos) partitioned by
    * `pbkt = xxhash64(term) mod nBuckets` — the [[ZOrder]]
    * materialization pattern with a hash key instead of a range key
    * (phrase probes are equality lookups; there is no range to
    * cluster). Partitioning by RAW term would create an unbounded
    * directory count at corpus vocabulary sizes; the hash bucket
    * bounds it at `nBuckets` while keeping every probe down to
    * |query-term buckets| directories. The frame is repartitioned ON
    * the bucket before the write so each directory is written by one
    * task (writeZOrdered's measured dynamic-partition-writer fix).
    *
    * At 100 TB this build is the one corpus-sized pass — linear scan
    * + one bucket-keyed shuffle — run once per corpus snapshot;
    * every subsequent phrase probe is served from partition-pruned
    * postings and never touches text. */
  def buildPhraseIndex(docs: DataFrame, dir: String,
      nBuckets: Int = PhraseIndexBuckets): Unit =
    docs.select(col("doc_id"),
        posexplode(TextStats.tokens(col("text"))).as(Seq("pos", "term")))
      .withColumn("pbkt",
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int"))
      .repartition(col("pbkt"))
      .write.mode("overwrite").partitionBy("pbkt").parquet(dir)

  /** Phrase probe served from a [[buildPhraseIndex]] layout (same
    * `nBuckets`): the tiny phrase frame's term set collects
    * driver-side (≤ 2·|phrases| rows by contract — the k-center
    * argmax bound), its bucket ids become a PLANNING-time partition
    * filter, and the term equality stays as the in-partition residual
    * pushed to the parquet scan. Both adjacency legs re-read the
    * PRUNED scan — re-reading postings bounded by query-term document
    * frequency is cheaper than any persist, which is the whole point:
    * the probe carries no corpus-proportional state at all (the
    * build-per-query form's `MEMORY_AND_DISK` postings cache was the
    * 1000×-probe memory cliff). Results are identical to
    * [[phraseSearch]] by construction — the layout must never change
    * results (RetrievalSpec proves equality and pins the pruning). */
  def phraseIndexProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, phrases: DataFrame,
      nBuckets: Int = PhraseIndexBuckets): DataFrame = {
    val termRows = phrases.select(col("w1").as("term"))
      .unionByName(phrases.select(col("w2").as("term"))).distinct()
      .withColumn("pbkt",
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int"))
      .collect() // bounded by the phrase-frame contract
    val terms = termRows.map(_.getString(0)).toSeq
    val bkts = termRows.map(_.getInt(1)).distinct.toSeq
    val post = spark.read.parquet(dir)
      .filter(col("pbkt").isin(bkts: _*))
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("pos"))
    val leg1 = post.join(broadcast(phrases), col("term") === col("w1"))
      .select(col("pid"), col("w1"), col("w2"), col("doc_id"),
        col("pos"))
    val leg2 = post.select(col("term").as("w2"),
      col("doc_id"), (col("pos") - 1).as("pos"))
    leg1.join(leg2, Seq("w2", "doc_id", "pos"))
      .groupBy(col("pid"), col("w1"), col("w2"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_hits"))
  }

  /** Rank a bigram-count frame to the shared 5-phrase (pid, w1, w2)
    * frame — the ONE ranking definition used by both derivation
    * physical shapes (the text-sample aggregate and
    * [[topBigramsFromIndex]]), so the two can never order-drift: the
    * top-5 compiles to TakeOrderedAndProject (per-partition top-n),
    * its ≤ 5 rows collect in rank order and are numbered 1.. on the
    * driver. The result is a LocalRelation, so the derivation
    * aggregate never re-runs per downstream use of the phrase frame. */
  private[graft] def rankTopBigrams(bi: DataFrame): DataFrame = {
    val top = bi.orderBy(desc("n_bg"), asc("w1"), asc("w2")).limit(5)
      .select(col("w1"), col("w2"))
    Similarity.localFrame(bi.sparkSession, StructType(
        StructField("pid", LongType, nullable = false) +: top.schema),
      top.collect().toSeq.zipWithIndex.map { case (r, i) =>
        Row(i + 1L, r.get(0), r.get(1)) })
  }

  /** DERIVATION FROM THE INDEX (the r11 carry-forward): the 5 hottest
    * bigrams computed from a [[buildPhraseIndex]] layout instead of a
    * second tokenizing pass over the text — once the postings index
    * exists, adjacent-position pairs ARE bigram occurrences, so the
    * derivation becomes a sampled self-join of the postings on
    * (doc_id, pos+1 = pos) followed by the same count/rank.
    *
    * Scale shape vs the text-sample derivation: the index scan is
    * projection-only (term, doc_id, pos — no string tokenization, no
    * posexplode), the `doc_id % sampleMod` residual drops all but the
    * sampled docs at the scan, and everything that SHUFFLES —
    * the adjacency self-join and the bigram count — is bounded by the
    * SAMPLE's token count, not the corpus's. The one
    * corpus-proportional cost left is the columnar read of the
    * postings rows themselves (a modulus residual cannot prune parquet
    * row groups), which is the same at-linear class as the text
    * sample's scan leg; the 1000× probe times both and the catalog
    * keeps the cheaper.
    *
    * Counts are EXACTLY [[graft.queries.TrainingData.topBigrams]]'s on
    * the same sample (postings are `posexplode` of the same tokens;
    * RetrievalSpec pins frame equality), so the two derivations share
    * one oracle. */
  def topBigramsFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, sampleMod: Long): DataFrame = {
    require(sampleMod >= 1L, "sampleMod must be >= 1")
    val post0 = spark.read.parquet(dir)
    val post =
      (if (sampleMod > 1L)
        post0.filter(pmod(col("doc_id"), lit(sampleMod)) === 0)
      else post0)
        .select(col("doc_id"), col("pos"), col("term"))
    val a = post.select(col("doc_id"), col("pos"), col("term").as("w1"))
    val b = post.select(col("doc_id"), (col("pos") - 1).as("pos"),
      col("term").as("w2"))
    rankTopBigrams(
      a.join(b, Seq("doc_id", "pos"))
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n_bg")))
  }

  /** `materialize = false`: no persist, lineage recompute per leg. */
  private def phraseSearchImpl(docs: DataFrame, phrases: DataFrame,
      materialize: Boolean): DataFrame = {
    val post = docs.select(col("doc_id"),
        posexplode(TextStats.tokens(col("text"))).as(Seq("pos", "term")))
    // the ≤ 2·|phrases| query terms collect driver-side (the
    // phrase-frame contract, job-free from a LocalRelation) and filter
    // the postings as literals, as phraseIndexProbe does: a join with
    // the distinct of a few-row frame fans out over
    // defaultParallelism tasks
    val terms = phrases.select(col("w1"), col("w2")).collect()
      .flatMap(r => Seq(r.getString(0), r.getString(1))).distinct.toSeq
    // BOTH adjacency legs read the filtered postings; without
    // materialization each leg re-runs the corpus-sized token explode
    // (measured: the doubled pass dominated the 1000x probe at 5M
    // docs). The frame is query-term-df-sized — cheap to cache.
    val qpostLazy = post.filter(col("term").isin(terms: _*))
    val qpost =
      if (materialize) qpostLazy.persist(StorageLevel.MEMORY_AND_DISK)
      else qpostLazy
    val leg1 = qpost.join(broadcast(phrases), col("term") === col("w1"))
      .select(col("pid"), col("w1"), col("w2"), col("doc_id"),
        col("pos"))
    val leg2 = qpost.select(col("term").as("w2"),
      col("doc_id"), (col("pos") - 1).as("pos"))
    val result = leg1.join(leg2, Seq("w2", "doc_id", "pos"))
      .groupBy(col("pid"), col("w1"), col("w2"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_hits"))
    // phrase-count-sized output: materialize once, release the
    // postings cache immediately (the embedDupPairs hygiene)
    if (!materialize) result
    else {
      val out = result.localCheckpoint()
      qpost.unpersist()
      out
    }
  }
}
