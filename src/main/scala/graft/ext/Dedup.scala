package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for large-scale training-data
  * pipelines: exact (hash groupBy), n-gram Jaccard with min-shingle
  * blocking, MinHash+LSH, and SimHash.
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison —
  * exact dedup is one hash aggregation; Jaccard/MinHash/SimHash first
  * shuffle on a compact blocking key (min-shingle / LSH band / SimHash
  * chunk) so candidate generation is an equi-join, then verify only
  * within buckets. All expressed with built-in higher-order functions
  * (codegen'd), no UDFs.
  */
object Dedup {

  /** Canonical text form for exact dedup: lowercased, whitespace
    * collapsed. */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Content hash for exact dedup at scale — grouping on a 64-hex-char
    * key instead of arbitrarily long text keeps shuffle rows small. */
  def contentHash(text: Column): Column = sha2(normalized(text), 256)

  /** Exact dedup: keep the lowest doc_id per normalized content hash. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), contentHash(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Release accounting between two corpus SNAPSHOTS — the dataset-
    * versioning diff every release pipeline publishes: per document,
    * whether it was `added`, `removed`, `changed` (normalized content
    * hash differs), or `unchanged` between the previous and current
    * snapshot. Content identity is [[contentHash]] — the same
    * manifest column the incremental-dedup family keys on, so at
    * production scale BOTH sides of this diff are hash manifests
    * (one 64-char column per doc), never corpus text: the full-outer
    * join shuffles ids and hashes only, and the status projection is
    * a pure per-row expression. */
  def snapshotDiff(prev: DataFrame, cur: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val p = prev.select(col(idCol).cast("long").as("doc_id"),
      contentHash(col(textCol)).as("h_prev"))
    val c = cur.select(col(idCol).cast("long").as("doc_id"),
      contentHash(col(textCol)).as("h_cur"))
    p.join(c, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_prev").isNull, "added")
          .when(col("h_cur").isNull, "removed")
          .when(col("h_prev") =!= col("h_cur"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Word n-gram shingle set (distinct, sorted for determinism) — the
    * codegen'd [[graft.functions.ShingleSet]] kernel; see
    * [[hofShingles]] for the built-in-HOF reference formulation (specs
    * assert equivalence). */
  def shingles(textCol: Column, n: Int): Column =
    graft.functions.ArrayOps.shingle_set(split(textCol, " "), n)

  /** HOF reference formulation of [[shingles]]: interpreted lambda per
    * position — kept for equivalence testing only. */
  def hofShingles(textCol: Column, n: Int): Column = {
    val toks = split(textCol, " ")
    array_sort(array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** Jaccard similarity of two sorted pre-distinct shingle arrays
    * (single merge walk, no intermediate intersection array). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = graft.functions.ArrayOps.sorted_intersect_size(a, b)
      .cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** The (doc_id, sh) shingle frame every near-dup generator derives
    * from its doc frame — exposed (round 16) so a COMPOSED entry that
    * runs two generators over the same corpus (`d_dedup_recall`) can
    * tokenize+shingle ONCE, persist, and hand the frame to the
    * `...OnShingles` forms below instead of paying the pass per
    * generator (guide §5: cache exactly what ≥2 consumers re-read). */
  def shingleFrame(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Near-duplicate pairs by n-gram Jaccard with min-shingle blocking:
    * two docs can only be compared if they share their *minimum*
    * shingle — one blocking key per doc, so candidate generation is a
    * self-equi-join on that key rather than all pairs. (Guaranteed to
    * find pairs whose min shingles coincide; near-identical docs
    * almost always do. MinHash+LSH below gives the tunable-recall
    * version.)
    *
    * Scale shape: the skewed part of the plan — the block self-join —
    * ships only (block, doc_id); a hot block therefore explodes only
    * id pairs, never shingle arrays. The per-pair verification then
    * reattaches the two shingle sets by doc_id equi-joins, whose hash
    * partitioning spreads the intersect work evenly across the
    * cluster instead of pinning a hot block's m²/2 pairs on the one
    * task that owns the block key. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxBlockSize: Int = 1000,
      rescueBands: Int = 32, rescueRowsPerBand: Int = 4): DataFrame = {
    // the shingle frame feeds four plan subtrees (both sides of the
    // block join + both verification reattaches); persist so the
    // shingle construction runs once, not four times. MEMORY_AND_DISK:
    // at cluster scale the frame is partition-local and spillable; the
    // ContextCleaner frees the blocks once the plan is unreferenced.
    val sh = shingleFrame(docs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the generator's output localCheckpoints before return, so the
    // cache release here can be immediate (nothing downstream re-reads
    // the shingle blocks)
    val out = jaccardPairsOnShingles(sh, threshold, maxBlockSize,
      rescueBands, rescueRowsPerBand)
    sh.unpersist()
    out
  }

  /** [[jaccardPairs]] over a caller-built [[shingleFrame]] — the
    * composed-entry form. The caller owns `sh`'s persist lifecycle
    * (it is read by four plan subtrees here, plus whatever else the
    * caller composes); the returned pair set is localCheckpointed, so
    * the caller may unpersist `sh` as soon as this returns. */
  def jaccardPairsOnShingles(sh: DataFrame, threshold: Double,
      maxBlockSize: Int = 1000, rescueBands: Int = 32,
      rescueRowsPerBand: Int = 4): DataFrame = {
    require(maxBlockSize >= 2, "a block of <2 docs yields no pairs")
    // shingle sets are sorted, so element 0 is the min shingle
    val slim = sh.select(col("doc_id"), col("sh").getItem(0).as("block"))
    // Hot-block guard: a corpus-common min shingle (boilerplate header,
    // "the" in a stopword-heavy corpus) would otherwise make candidate
    // generation O(m²) on ONE join key — the one shape that doesn't
    // survive a 100× scale-up. Count block frequency first (map-side-
    // combined agg on the short block key) and split: blocks ≤
    // maxBlockSize take the exact equi-join; docs of over-cap blocks
    // are rescued through MinHash banding, where collisions track
    // *whole-document* similarity instead of one shared shingle, so
    // pair generation is quadratic only in genuine near-dup clusters.
    // The rescue widens recall slightly across hot blocks (band
    // collisions are not confined to the min-shingle block); every
    // emitted pair still passes the same exact-Jaccard verification.
    val freq = slim.groupBy("block").agg(count(lit(1)).as("_bn"))
    val tagged = slim.join(freq, "block")
    val cold = tagged.filter(col("_bn") <= maxBlockSize)
      .select("doc_id", "block")
    val hotIds = tagged.filter(col("_bn") > maxBlockSize)
      .select("doc_id")
    val cand = cold.alias("a")
      .join(cold.alias("b"), col("a.block") === col("b.block") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val shA = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
      size(col("sh")).as("n_a"))
    val shB = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
      size(col("sh")).as("n_b"))
    val pairs = cand.join(shA, "doc_a").join(shB, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.ArrayOps
          .sorted_intersect_size(col("sh_a"), col("sh_b")).as("n_inter"),
        col("n_a"), col("n_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // Rescue path for over-cap blocks. The hot-doc subset re-enters
    // through MinHash banding OVER THE SAME SHINGLE FRAME (r16: the
    // rescue used to re-tokenize+re-shingle the hot docs from text;
    // the per-doc shingle set of a filtered doc set IS the filtered
    // shingle frame, so the semi-join below reads the existing cache
    // instead — bit-identical pairs, one shingle pass fewer). At most
    // one of the two paths can emit a given pair — a pair sharing a
    // min shingle has both docs in the same block, which is either
    // wholly cold or wholly hot — so a plain union suffices.
    val hotStats = freq.filter(col("_bn") > maxBlockSize)
      .agg(count(lit(1)).as("blocks"),
        coalesce(sum("_bn"), lit(0L)).as("docs")).head()
    val all =
      if (hotStats.getLong(1) == 0L) pairs
      else {
        System.err.println(s"[graft.Dedup] jaccardPairs: " +
          s"${hotStats.getLong(1)} docs in ${hotStats.getLong(0)} " +
          s"block(s) over maxBlockSize=$maxBlockSize routed to " +
          s"MinHash rescue ($rescueBands×$rescueRowsPerBand)")
        val shHot = sh.join(hotIds, Seq("doc_id"), "left_semi")
        pairs.unionByName(minhashLshPairsOnShingles(shHot,
          rescueBands, rescueRowsPerBand, threshold))
      }
    // materialize the (small) passing pair set — relying on GC +
    // ContextCleaner would leak the caller's shingle blocks for as
    // long as the caller holds the returned frame.
    // Tradeoff (deliberate): localCheckpoint blocks have no lineage,
    // so losing an executor after return makes the frame unreadable;
    // on a preemptible cluster, set a checkpoint dir and swap in
    // reliable checkpoint(), or re-run the operator on failure — the
    // leak was the certain cost, executor loss the rare one.
    // The hot-stats probe above is the one extra action; it reads the
    // persisted shingle frame, so the guard costs a short agg job, not
    // a second shingle build.
    all.localCheckpoint()
  }

  /** EXACT threshold-Jaccard set-similarity self-join via PREFIX
    * FILTERING — the AllPairs/SSJoin candidate-pruning family
    * (Bayardo, Ma & Srikant, WWW'07 "Scaling Up All Pairs Similarity
    * Search"; Chaudhuri, Ganti & Kaushik, ICDE'06 "A Primitive
    * Operator for Similarity Joins"). Tokens get one GLOBAL rarity
    * order (ascending document frequency, ties by gram text); each
    * doc keeps only its first `|x| − ⌈τ·|x|⌉ + 1` tokens under that
    * order as its *prefix*. The prefix-filter lemma: two sets with
    * `|x∩y| ≥ α` must share a token inside their first `|·| − α + 1`
    * tokens of any common total order — and `J ≥ τ` forces
    * `|x∩y| ≥ τ·max(|x|,|y|)` — so the equi-join on exploded prefix
    * tokens is LOSSLESS. Unlike [[jaccardPairs]]' min-shingle
    * blocking (a true pair surfaces only if the two min shingles
    * coincide), the output here provably EQUALS the all-pairs exact
    * join, which is exactly how its oracle states it (the DuckDB side
    * compares every pair, no pruning).
    *
    * The threshold is a rational `tNum/tDen` so prefix length and
    * length filter use exact integer arithmetic: `⌈τ·l⌉` computed as
    * `(tNum·l + tDen − 1) div tDen`. A double formulation breaks the
    * losslessness proof — e.g. `ceil((1.0/75)·525)` is 8 in IEEE
    * arithmetic while the true `⌈525/75⌉` is 7, silently cutting one
    * token from the prefix (DedupSpec demonstrates the hazard).
    *
    * Scale shape: the df table and the rarity ranks are vocab-sized
    * aggregates; the exploded candidate stream carries only
    * `(gram, doc_id, len)` — never text or full shingle arrays. The
    * rarity order puts precisely the LOWEST-df grams into prefixes,
    * so hot boilerplate grams are structurally excluded from
    * candidate generation (they sort to the suffix of every doc that
    * contains them) — the hot-block failure mode [[jaccardPairs]]
    * needs a cap + rescue for cannot arise here. The length filter
    * `tDen·min(la,lb) ≥ tNum·max(la,lb)` (J ≥ τ ⇒ |small| ≥ τ·|big|)
    * prunes cross-size pairs inside the join condition, before the
    * pair dedup shuffle. Verification reattaches the two shingle sets
    * by doc_id equi-joins (the [[jaccardPairs]] treatment), spreading
    * intersect work by doc rather than by token.
    *
    * Gram identity in the df/rank/candidate machinery is the 128-bit
    * pair (xxhash64(gram), xxhash64(reverse(gram))) — the token-sized
    * shuffles move two longs per gram, never the 3-word gram text
    * (measured 120 → 30s at the 100× probe). Losslessness survives
    * hashing: a g64 collision only ADDS candidates (verified away by
    * the exact intersect), and the prefix lemma needs a globally
    * consistent total order, which (df, g64, r64) provides unless two
    * DISTINCT grams collide on all 128 hash bits — the same
    * epistemic status as [[exact]]'s sha-256 "exact" dedup. (A
    * genuinely tie-broken order exists — sort by the gram text — but
    * it puts every gram string back on the wire for a ~2⁻¹²⁸
    * residual.) */
  def jaccardPrefixPairs(docs: DataFrame, idCol: String,
      textCol: String, n: Int, tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tDen >= tNum, "threshold must be in (0, 1]")
    val sh = docs.select(col(idCol).as("doc_id"),
        shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val toks = sh.select(col("doc_id"), size(col("sh")).as("len"),
        explode(col("sh")).as("gram"))
      .select(col("doc_id"), col("len"),
        xxhash64(col("gram")).as("g64"),
        xxhash64(reverse(col("gram"))).as("r64"))
    val dfTab = toks.groupBy("g64").agg(count(lit(1)).as("df"))
    // Per-doc token list in global (df, g64, r64) rarity order.
    // struct ordering is lexicographic on fields, so array_sort
    // realizes the total order with no global sort/rank over the
    // vocabulary.
    val ordered = toks.join(dfTab, "g64")
      .groupBy(col("doc_id"), col("len"))
      .agg(array_sort(collect_list(
        struct(col("df"), col("g64"), col("r64")))).as("ord"))
    // ⌈(tNum/tDen)·len⌉ in exact integer arithmetic (see Scaladoc).
    val ceilNum = lit(tNum) * col("len") + lit(tDen - 1L)
    val ceilTl = ((ceilNum - pmod(ceilNum, lit(tDen.toLong))) /
      lit(tDen.toLong)).cast("int")
    val prefixes = ordered
      .select(col("doc_id"), col("len"),
        explode(slice(col("ord.g64"), lit(1),
          col("len") - ceilTl + lit(1))).as("g64"))
    val cand = prefixes.alias("a")
      .join(prefixes.alias("b"),
        col("a.g64") === col("b.g64") &&
          col("a.doc_id") < col("b.doc_id") &&
          lit(tDen.toLong) * least(col("a.len"), col("b.len")) >=
            lit(tNum.toLong) * greatest(col("a.len"), col("b.len")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val shA = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
      size(col("sh")).as("n_a"))
    val shB = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
      size(col("sh")).as("n_b"))
    val tau = lit(tNum.toDouble / tDen.toDouble)
    val pairs = cand.join(shA, "doc_a").join(shB, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.ArrayOps
          .sorted_intersect_size(col("sh_a"), col("sh_b"))
          .as("n_inter"),
        col("n_a"), col("n_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= tau)
    val out = pairs.localCheckpoint()
    sh.unpersist()
    out
  }

  /** Asymmetric containment near-dup pairs — the doc-in-doc signal
    * Jaccard misses: C(A→B) = |S_A ∩ S_B| / |S_A| over `n`-token
    * shingle-hash sets. A short document fully quoted inside a long
    * one has containment ≈ 1 in one direction while its Jaccard is
    * tiny (the union is dominated by the long doc), which is exactly
    * the boilerplate-inclusion / quotation / version-supersets case
    * (cf. Broder 1997's resemblance-vs-containment distinction).
    * Emits both directions per unordered pair; policy downstream
    * keeps the superset doc or cuts the contained span.
    *
    * Scale shape: grams travel as 8-byte poly-hash longs (never
    * text). Candidate generation self-joins ONLY grams whose
    * document frequency is ≤ `dfCap` — a corpus-common gram
    * (boilerplate by definition) would otherwise fan out df² id
    * pairs on one join key, the same hot-block failure mode
    * [[jaccardPairs]] caps; a pair sharing exclusively over-cap
    * grams is dropped by construction (documented recall trade —
    * such pairs share only boilerplate). Candidates ARE
    * `distinct`-ed before verification — unlike [[cosineDupPairs]]'
    * one-dot-product verify, verification here explodes each pair by
    * |S_A| gram rows, so collapsing the per-shared-gram multiplicity
    * first is the cheaper side of the trade. Verification counts the
    * exact intersection via two id-keyed equi-joins of the persisted
    * gram frame (hash-partitioned on (doc, gram) keys — never a
    * per-pair array intersect of shipped shingle arrays). A gram-hash
    * collision inflates both engines' counts identically (portable
    * hash family), keeping oracle parity; containment is computed on
    * hash sets, flag-for-review semantics. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, dfCap: Int = 16): DataFrame = {
    require(dfCap >= 2, "dfCap < 2 can never generate a candidate")
    // feeds four subtrees (sizes, df, both verification reattaches):
    // persist once, release after the small output materializes
    val grams = docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.ArrayOps.array_poly_hash(
          shingles(col(textCol), n))).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val dfq = grams.groupBy("g").agg(count(lit(1)).as("_df"))
    val rare = grams.join(dfq.filter(col("_df") <= dfCap), Seq("g"))
      .select(col("doc_id"), col("g"))
    val cand = rare.alias("a").join(rare.alias("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val ga = grams.select(col("doc_id").as("doc_a"), col("g"))
    val gb = grams.select(col("doc_id").as("doc_b"), col("g"))
    val shared = cand.join(ga, "doc_a").join(gb, Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
    val sa = sizes.select(col("doc_id").as("doc_a"),
      col("n_grams").as("n_a"))
    val sb = sizes.select(col("doc_id").as("doc_b"),
      col("n_grams").as("n_b"))
    val scored = shared.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_a"), 6)
          .as("cont_a"),
        round(col("n_shared").cast("double") / col("n_b"), 6)
          .as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
    val out = scored.localCheckpoint()
    grams.unpersist()
    out
  }

  /** [[containmentPairs]] with the hot-gram cap derived from CORPUS
    * SIZE instead of held at a constant: under real corpus growth a
    * boilerplate gram's absolute document frequency grows ~linearly
    * with N (it reaches a fixed FRACTION of documents), so a fixed
    * absolute cap prunes an ever-larger share of true pairs as the
    * corpus grows — the same decay the `d_embed_dups_auto` plane
    * derivation exists to stop. Cap = max(minCap,
    * ceil(capNum·N / capDen)) computed in EXACT integer arithmetic
    * ((capNum·N + capDen−1) div capDen — a double `ceil(ratio·N)`
    * can land on 17 where 16 is exact), so the DuckDB oracle
    * reproduces it verbatim. Defaults anchor cap=16 at the 5k-doc
    * sf0.1 corpus (cap 160 at 10×, and so on). The per-gram fan-out
    * bound then stays a fixed fraction-of-corpus² instead of
    * silently tightening; N comes from one `count()` (driver loop
    * control, the Bpe/Pca precedent). */
  def containmentPairsAuto(docs: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double, capNum: Long = 16L,
      capDen: Long = 5000L, minCap: Int = 2): DataFrame = {
    val nDocs = docs.count()
    val cap = math.max(minCap.toLong,
      (capNum * nDocs + capDen - 1) / capDen)
    require(cap <= Int.MaxValue, s"containment cap overflow: $cap")
    containmentPairs(docs, idCol, textCol, n, threshold, cap.toInt)
  }

  /** MinHash signature over pre-hashed shingles: for permutation j,
    * min over shingle hashes h of (a_j * h + b_j) mod p. Hashing the
    * shingle strings once (`hs`) and permuting the longs keeps this
    * O(|sh|) string hashing per doc instead of O(|sh|·numHashes). */
  def minhashSignature(shingleHashes: Column, numHashes: Int): Column = {
    // 2^31 - 1 (Mersenne prime): keeps a*h+b well under Long overflow
    // even with ANSI arithmetic checks on
    val p = lit(2147483647L)
    val exprs = (0 until numHashes).map { j =>
      val a = lit(2L * j + 1)
      val b = lit(7919L * (j + 1))
      array_min(transform(shingleHashes, h => pmod(a * h + b, p)))
    }
    array(exprs: _*)
  }

  /** MinHash + LSH banding: signature split into `bands` bands of
    * `rowsPerBand`; docs sharing any band key become candidates;
    * candidates are verified with exact Jaccard. Scale shape: the
    * band self-join shuffles only (doc_id, band, band_key) — never
    * the shingle arrays; candidate pairs are deduplicated *before*
    * the (expensive) verification join pulls the two shingle sets.
    *
    * Shingles are hashed with the engine-portable polynomial family
    * ([[graft.functions.ArrayPolyHash]], h=(Σ cp·31^k) mod 2^31−1)
    * rather than xxhash64, and band keys are the plain
    * comma-joined signature slices — both reproducible in ANSI SQL,
    * so the whole operator carries a DuckDB oracle. A hash collision
    * can only add or drop a *candidate*; the exact-Jaccard
    * verification decides membership either way. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double)
      : DataFrame = {
    // persisted for the same reason as in jaccardPairs: signature
    // computation + two verification reattaches share this frame
    val sh = shingleFrame(docs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = minhashLshPairsOnShingles(sh, bands, rowsPerBand,
      threshold)
    sh.unpersist()
    out
  }

  /** [[minhashLshPairs]] over a caller-built [[shingleFrame]] — the
    * composed-entry form ([[jaccardPairsOnShingles]]'s contract: the
    * caller owns `sh`'s persist lifecycle; the returned pair set is
    * localCheckpointed, so `sh` may be released as soon as this
    * returns). */
  def minhashLshPairsOnShingles(sh: DataFrame, bands: Int,
      rowsPerBand: Int, threshold: Double): DataFrame = {
    val banded = bandKeys(sh, bands, rowsPerBand)
    val candidates = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verification: one merge-walk intersect per unique pair
    val pairs = candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.ArrayOps
          .sorted_intersect_size(col("sh_a"), col("sh_b")).as("n_inter"),
        size(col("sh_a")).as("n_a"), size(col("sh_b")).as("n_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // same eager-materialize pattern as jaccardPairsOnShingles
    pairs.localCheckpoint()
  }

  /** Band-key frame (doc_id, band, band_key) over a shingle frame
    * (doc_id, sh) — the LSH index rows. Shared by the self-join
    * ([[minhashLshPairs]]) and incremental ([[minhashLshIncremental]])
    * shapes; in production this is also exactly the manifest table an
    * ingest pipeline persists per batch. Band key = the band's
    * signature slice, comma-joined; only ids and these short keys
    * ever travel into a join. */
  private def bandKeys(sh: DataFrame, bands: Int, rowsPerBand: Int)
      : DataFrame =
    sh.select(col("doc_id"),
        graft.functions.MinHashSig.minhash_sig(
          graft.functions.ArrayOps.array_poly_hash(col("sh")),
          bands * rowsPerBand).as("sig"))
      .select(col("doc_id"),
        posexplode(array((0 until bands).map(bnd =>
          concat_ws(",", slice(col("sig"), bnd * rowsPerBand + 1,
            rowsPerBand).cast("array<string>"))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")

  /** INCREMENTAL MinHash+LSH near-dedup — the ingest-gate shape: for
    * each document of an incoming batch, the already-ingested corpus
    * documents it near-duplicates (verified exact Jaccard ≥
    * `threshold`), as (new_id, dup_of, jaccard) rows. The near-dup
    * counterpart of the exact-hash incremental dedup
    * ([[graft.queries.TrainingData]] `d_incremental_dedup`): a
    * continuously-fed corpus can't re-run the all-corpus self-join
    * per batch.
    *
    * Scale shape: the band join probes the manifest index with ONLY
    * the batch's band keys — an equi-join on (band, band_key), so
    * per-batch work scales with the batch size and its true match
    * volume, never all-pairs over the corpus. Signatures use the same
    * engine-portable polynomial family as [[minhashLshPairs]], so the
    * verified pair set equals the cross-side subset of the full
    * self-join's output (DedupSpec asserts exactly that) and the
    * operator carries a DuckDB oracle. In production the manifest
    * side is the persisted [[bandKeys]] + sorted-shingle tables
    * written when each earlier batch was ingested (no corpus
    * re-shingling per batch); here both sides are derived from their
    * doc frames so the operator is self-contained.
    *
    * Within-batch duplicates are deliberately NOT reported — that is
    * [[minhashLshPairs]] over the batch alone, composable with this. */
  def minhashLshIncremental(newDocs: DataFrame, manifest: DataFrame,
      idCol: String, textCol: String, n: Int, bands: Int,
      rowsPerBand: Int, threshold: Double): DataFrame = {
    def shingleFrame(docs: DataFrame) =
      docs.select(col(idCol).as("doc_id"),
          shingles(col(textCol), n).as("sh"))
        .filter(size(col("sh")) > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shNew = shingleFrame(newDocs)
    val shMan = shingleFrame(manifest)
    val cand = bandKeys(shNew, bands, rowsPerBand).alias("a")
      .join(bandKeys(shMan, bands, rowsPerBand).alias("b"),
        col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("dup_of"))
      .distinct()
    val pairs = cand
      .join(shNew.select(col("doc_id").as("new_id"), col("sh").as("sh_a")),
        "new_id")
      .join(shMan.select(col("doc_id").as("dup_of"), col("sh").as("sh_b")),
        "dup_of")
      .select(col("new_id"), col("dup_of"),
        graft.functions.ArrayOps
          .sorted_intersect_size(col("sh_a"), col("sh_b")).as("n_inter"),
        size(col("sh_a")).as("n_a"), size(col("sh_b")).as("n_b"))
      .select(col("new_id"), col("dup_of"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val out = pairs.localCheckpoint()
    shNew.unpersist(); shMan.unpersist()
    out
  }

  /** 32-bit SimHash from token hashes: per bit position, tokens vote
    * +1/-1 by their hash bit; the sign of the vote sum sets the bit.
    * Tokens are hashed with the engine-portable polynomial family
    * ([[graft.functions.ArrayPolyHash]] — SQL-reproducible, so the
    * operator carries a DuckDB oracle; its 31-bit range just leaves
    * bit 31 permanently 0); the vote fold is the custom codegen'd
    * [[graft.functions.SimHash32]] expression (the HOF formulation
    * allocated a 32-int array per token per row). See
    * [[hofSimhash32]] for the reference HOF formulation kept for
    * equivalence testing. */
  def simhash32(textCol: Column): Column =
    graft.functions.SimHash32.simhash32(
      graft.functions.ArrayOps.array_poly_hash(split(textCol, " ")))

  /** HOF reference formulation of [[simhash32]] (tests assert
    * equivalence). */
  def hofSimhash32(textCol: Column): Column = {
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

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming (≤ 3):
    * the 32-bit hash splits into 4 byte-chunks; by pigeonhole any pair
    * within distance 3 shares at least one chunk, so candidate
    * generation is an equi-join on (chunk index, chunk value). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding guarantees recall only to 3")
    val hashed = docs.select(col(idCol).as("doc_id"),
      simhash32(col(textCol)).as("simhash"))
    val chunked = hashed.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("simhash"), i * 8).bitwiseAND(255)): _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
    val a = chunked.alias("a")
    val b = chunked.alias("b")
    a.join(b, col("a.chunk") === col("b.chunk") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
