package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for large-scale training-data
  * pipelines: exact (hash groupBy), the shingle-set near-dup family
  * ([[NearDupSpec]]: min-shingle blocking, prefix filtering, MinHash
  * banding or rare grams, verified by Jaccard or containment), and
  * SimHash fingerprints.
  *
  * Scale design: no variant compares all O(n²) pairs — exact dedup is
  * one hash aggregation; every near-dup candidate rule is an
  * equi-join on a compact key (min shingle / prefix token / band key /
  * rare gram), and only the candidate pairs are verified.
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
    * codegen'd [[graft.functions.ShingleSet]] kernel. */
  def shingles(textCol: Column, n: Int): Column =
    graft.functions.ArrayOps.shingle_set(split(textCol, " "), n)

  /** The (doc_id, sh) shingle frame every near-dup run reads: the
    * non-empty `n`-shingle sets of `docs`. A composed entry that runs
    * several specs over one corpus (`d_dedup_recall`) builds and
    * persists it once and hands it to each [[nearDupPairs]] call. */
  def shingleFrame(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)

  /** [[nearDupPairs]] over a doc frame: shingles `textCol` once and
    * persists the frame for the candidate and verify subtrees, which
    * all re-read it; the cache is released as soon as the
    * checkpointed pairs return. */
  def nearDupPairs(spec: NearDupSpec, docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val sh = shingleFrame(docs, idCol, textCol, spec.n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try nearDupPairs(spec, sh) finally sh.unpersist()
  }

  /** The near-dup pair set of `spec` over a caller-built
    * [[shingleFrame]] `sh`: candidate id pairs, reattached to both
    * shingle sets by doc_id equi-joins (which spread the verify work by
    * doc instead of pinning a hot block or token on one task), scored
    * and filtered by the measure. The caller owns `sh`'s persist
    * lifecycle; the result is localCheckpointed, so `sh` may be
    * released as soon as this returns. (localCheckpoint blocks have no
    * lineage: on a preemptible cluster, re-run the operator or swap in
    * a reliable checkpoint.) Columns: [[NearDupMeasure]]. */
  def nearDupPairs(spec: NearDupSpec, sh: DataFrame): DataFrame = {
    // rare-gram candidates and the containment verify read the gram
    // frame up to four times: hash it once (persist is lazy, so a run
    // that never reads it never builds it)
    val g = grams(sh)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try verify(spec.measure, candidates(spec.candidates, sh, g),
      sh, g, sh, g).localCheckpoint()
    finally g.unpersist()
  }

  /** The ingest-gate form: for each doc of the incoming `batch`
    * shingle frame, the `manifest` docs it near-duplicates, as
    * (new_id, dup_of, score…) rows. Only the batch's band keys probe
    * the manifest's, so per-batch work scales with the batch and its
    * true matches, never all-pairs over the corpus; band keys are
    * per-doc, so the result equals the cross-side subset of the
    * self-join's (DedupSpec asserts it). Within-batch duplicates are
    * not reported — that is [[nearDupPairs]] over the batch alone. In
    * production the manifest side is the [[bandKeys]] and shingle
    * tables persisted when earlier batches were ingested. */
  def nearDupProbe(spec: NearDupSpec, batch: DataFrame,
      manifest: DataFrame): DataFrame = {
    val b = spec.candidates match {
      case b: NearDupCandidates.MinhashBands => b
      case c => throw new IllegalArgumentException(
        s"the ingest probe joins band keys, not $c")
    }
    val cand = bandPairs(bandKeys(batch, b), bandKeys(manifest, b),
      self = false)
    verify(spec.measure, cand, batch, grams(batch), manifest, grams(manifest))
      .withColumnsRenamed(Map("doc_a" -> "new_id", "doc_b" -> "dup_of"))
      .localCheckpoint()
  }

  /** (doc_a, doc_b) candidate id pairs of shingle frame `sh` (gram
    * frame `g`), doc_a < doc_b. */
  private def candidates(c: NearDupCandidates, sh: DataFrame,
      g: DataFrame): DataFrame =
    c match {
      case NearDupCandidates.MinShingle(maxBlockSize, rescue) =>
        // shingle sets are sorted, so element 0 is the min shingle. The
        // block join ships only (block, doc_id): a hot block explodes
        // id pairs, never shingle arrays. Block sizes come from a
        // map-side-combined count on the short key.
        val slim = sh.select(col("doc_id"), col("sh").getItem(0).as("block"))
        val freq = slim.groupBy("block").agg(count(lit(1)).as("_bn"))
        val tagged = slim.join(freq, "block")
        val cold = tagged.filter(col("_bn") <= maxBlockSize)
        val pairs = cold.alias("a")
          .join(cold.alias("b"), col("a.block") === col("b.block") &&
            col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        // the one extra action: a short agg over the persisted frame
        val hot = freq.filter(col("_bn") > maxBlockSize)
          .agg(count(lit(1)).as("blocks"),
            coalesce(sum("_bn"), lit(0L)).as("docs")).head()
        if (hot.getLong(1) == 0L) pairs
        else {
          System.err.println(s"[graft.Dedup] MinShingle: " +
            s"${hot.getLong(1)} docs in ${hot.getLong(0)} block(s) over " +
            s"maxBlockSize=$maxBlockSize routed to MinHash rescue " +
            s"(${rescue.bands}x${rescue.rowsPerBand})")
          val hotIds = tagged.filter(col("_bn") > maxBlockSize)
            .select("doc_id")
          val shHot = sh.join(hotIds, Seq("doc_id"), "left_semi")
          pairs.unionByName(candidates(rescue, shHot, grams(shHot)))
        }

      case NearDupCandidates.Prefix(tNum, tDen) =>
        // Gram identity is the 128-bit (xxhash64(gram),
        // xxhash64(reverse(gram))) pair: the token-sized shuffles move
        // two longs, never the gram text. A g64 collision only adds
        // candidates (verified away); the prefix lemma needs one
        // consistent total order, which (df, g64, r64) gives unless two
        // distinct grams collide on all 128 bits.
        val toks = sh.select(col("doc_id"), size(col("sh")).as("len"),
            explode(col("sh")).as("gram"))
          .select(col("doc_id"), col("len"),
            xxhash64(col("gram")).as("g64"),
            xxhash64(reverse(col("gram"))).as("r64"))
        val dfTab = toks.groupBy("g64").agg(count(lit(1)).as("df"))
        // struct order is lexicographic, so array_sort realizes the
        // global rarity order per doc with no sort over the vocabulary
        val ordered = toks.join(dfTab, "g64")
          .groupBy(col("doc_id"), col("len"))
          .agg(array_sort(collect_list(
            struct(col("df"), col("g64"), col("r64")))).as("ord"))
        // ⌈τ·len⌉ in exact integer arithmetic (see Prefix)
        val ceilTl = expr(s"CAST(($tNum * len + ${tDen - 1}) div $tDen AS INT)")
        val prefixes = ordered
          .select(col("doc_id"), col("len"),
            explode(slice(col("ord.g64"), lit(1),
              col("len") - ceilTl + lit(1))).as("g64"))
        // the length filter (J ≥ τ ⇒ |small| ≥ τ·|big|) prunes inside
        // the join, before the pair dedup shuffle
        prefixes.alias("a")
          .join(prefixes.alias("b"),
            col("a.g64") === col("b.g64") &&
              col("a.doc_id") < col("b.doc_id") &&
              lit(tDen.toLong) * least(col("a.len"), col("b.len")) >=
                lit(tNum.toLong) * greatest(col("a.len"), col("b.len")))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()

      case b: NearDupCandidates.MinhashBands =>
        val keys = bandKeys(sh, b)
        bandPairs(keys, keys, self = true)

      case NearDupCandidates.RareGrams(cap) =>
        val rare = g.join(g.groupBy("g").agg(count(lit(1)).as("_df"))
            .filter(col("_df") <= cap.of(sh.count())), Seq("g"))
          .select(col("doc_id"), col("g"))
        rare.alias("a").join(rare.alias("b"),
            col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
    }

  /** The pairs of `cand` that pass measure `m`, side a's shingle set
    * read from `a` (its [[grams]] from `ga`) and side b's from `b`. */
  private def verify(m: NearDupMeasure, cand: DataFrame, a: DataFrame,
      ga: DataFrame, b: DataFrame, gb: DataFrame): DataFrame = m match {
    case NearDupMeasure.Jaccard(t) =>
      def side(f: DataFrame, s: String) = f.select(col("doc_id").as(s"doc_$s"),
        col("sh").as(s"sh_$s"), size(col("sh")).as(s"n_$s"))
      cand.join(side(a, "a"), "doc_a").join(side(b, "b"), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          graft.functions.ArrayOps
            .sorted_intersect_size(col("sh_a"), col("sh_b")).as("n_inter"),
          col("n_a"), col("n_b"))
        .select(col("doc_a"), col("doc_b"),
          (col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
        .filter(col("jaccard") >= t)
    case NearDupMeasure.Containment(t) =>
      // the exact shared-gram count by (doc, gram) equi-joins, never a
      // per-pair intersect of shipped arrays; collapsing the
      // candidates' per-shared-gram multiplicity first (distinct) is
      // the cheaper side, since this explodes each pair by |S_A| rows
      def side(f: DataFrame, s: String) = f.select(
        col("doc_id").as(s"doc_$s"), size(col("sh")).as(s"n_$s"))
      def cont(s: String) =
        round(col("n_shared").cast("double") / col(s"n_$s"), 6)
      cand.join(ga.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(gb.withColumnRenamed("doc_id", "doc_b"),
          Seq("doc_b", "g"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
        .join(side(a, "a"), "doc_a").join(side(b, "b"), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          cont("a").as("cont_a"), cont("b").as("cont_b"))
        .filter(greatest(col("cont_a"), col("cont_b")) >= t)
  }

  /** (doc_id, g): one row per shingle of `sh`, as its 8-byte
    * engine-portable polynomial hash ([[graft.functions.ArrayPolyHash]])
    * — grams never travel as text. */
  private def grams(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"),
      explode(graft.functions.ArrayOps.array_poly_hash(col("sh"))).as("g"))

  /** Band-key frame (doc_id, band, band_key) over a shingle frame — the
    * LSH index rows, and exactly the manifest table an ingest pipeline
    * persists per batch. Shingles hash with the polynomial family and
    * the key is the band's signature slice, comma-joined: both
    * reproducible in SQL, so every banded run carries a DuckDB oracle.
    * Only ids and these short keys travel into a join. */
  private def bandKeys(sh: DataFrame, b: NearDupCandidates.MinhashBands)
      : DataFrame =
    sh.select(col("doc_id"),
        graft.functions.MinHashSig.minhash_sig(
          graft.functions.ArrayOps.array_poly_hash(col("sh")),
          b.numHashes).as("sig"))
      .select(col("doc_id"),
        posexplode(array((0 until b.bands).map(bnd =>
          concat_ws(",", slice(col("sig"), bnd * b.rowsPerBand + 1,
            b.rowsPerBand).cast("array<string>"))): _*))
          .as(Seq("band", "band_key")))

  /** Distinct (doc_a, doc_b) pairs sharing a band key, doc_a < doc_b
    * when both sides are one frame. Deduplicated before the verify
    * join pulls the shingle sets. */
  private def bandPairs(a: DataFrame, b: DataFrame, self: Boolean)
      : DataFrame = {
    val on = col("a.band") === col("b.band") &&
      col("a.band_key") === col("b.band_key")
    a.alias("a").join(b.alias("b"),
        if (self) on && col("a.doc_id") < col("b.doc_id") else on)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** 32-bit SimHash from token hashes: per bit position, tokens vote
    * +1/-1 by their hash bit; the sign of the vote sum sets the bit.
    * Tokens are hashed with the engine-portable polynomial family
    * ([[graft.functions.ArrayPolyHash]] — SQL-reproducible, so the
    * operator carries a DuckDB oracle; its 31-bit range just leaves
    * bit 31 permanently 0); the vote fold is the custom codegen'd
    * [[graft.functions.SimHash32]] expression (the HOF formulation
    * allocated a 32-int array per token per row; DedupSpec keeps it as
    * the reference). */
  def simhash32(textCol: Column): Column =
    graft.functions.SimHash32.simhash32(
      graft.functions.ArrayOps.array_poly_hash(split(textCol, " ")))
}
