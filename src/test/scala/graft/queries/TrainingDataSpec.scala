package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ext.{LmModel, LmSpec}

/** Structural invariants of the round-3 training-data operators (their
  * values are oracle-verified; these assert the properties the oracle
  * can't phrase). */
class TrainingDataSpec extends SparkSpec {
  import spark.implicits._

  /** The built-in-HOF formulation the [[graft.functions.WinnowSet]]
    * kernel replaced — one interpreted lambda per position. */
  private def hofWinnowFps(textCol: Column, k: Int = 4, w: Int = 4): Column = {
    val toks = split(textCol, " ")
    val n = size(toks)
    val grams = when(n >= k,
        transform(sequence(lit(1), n - (k - 1)),
          i => concat_ws(" ", slice(toks, i, lit(k)))))
      .otherwise(array().cast("array<string>"))
    val gh = graft.functions.ArrayOps.array_poly_hash(grams)
    val m = size(gh)
    val sel = when(m >= w,
        transform(sequence(lit(1), m - (w - 1)),
          j => array_min(slice(gh, j, lit(w)))))
      .when(m > 0, array(array_min(gh)))
      .otherwise(array().cast("array<long>"))
    array_sort(array_distinct(sel))
  }

  test("d_pack: spans are ordered and per-source sequence counts " +
      "match the token totals") {
    val p = TrainingData.dPack(spark, sf0001).cache()
    assert(p.filter(col("pack_start") > col("pack_end")).isEmpty)
    assert(p.filter(col("n_tok") <= 0).isEmpty)
    // last sequence index per source == floor((total_tokens - 1)/128)
    val bad = p.groupBy("source")
      .agg(max(col("pack_end")).as("last_seq"),
        floor((sum(col("n_tok")) - 1) / 128).as("want"))
      .filter(col("last_seq") =!= col("want"))
    assert(bad.isEmpty)
    p.unpersist()
  }

  test("d_chunking: per-doc chunk counts and lengths are consistent") {
    val c = TrainingData.dChunking(spark, sf0001).cache()
    assert(c.filter(col("n_chunk_toks") < 1 ||
      col("n_chunk_toks") > 32).isEmpty)
    assert(c.filter(col("chunk_idx") === 0 && col("start_tok") =!= 0)
      .isEmpty)
    // chunk count per doc = floor((n-1)/24) + 1 over the doc's tokens
    val docs = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
    val bad = c.groupBy("doc_id").agg(count(lit(1)).as("got"))
      .join(docs, "doc_id")
      .filter(col("got") =!= floor((col("n") - 1) / 24) + 1)
    assert(bad.isEmpty)
    c.unpersist()
  }

  test("d_token_budget: take-until semantics per source — kept set " +
      "is a prefix of shuffle order, overshoot bounded by one doc") {
    val t = TrainingData.dTokenBudget(spark, sf0001).cache()
    // verdict is a pure function of its emitted inputs
    assert(t.filter(col("kept") =!=
      (col("cum_before") < col("budget_tok"))).isEmpty)
    // kept tokens reach the budget wherever the source has enough
    // tokens, and overshoot past it by at most the boundary doc
    val per = t.groupBy("source")
      .agg(sum(when(col("kept"), col("n_tok")).otherwise(0L))
          .as("kept_tok"),
        sum(col("n_tok")).as("all_tok"),
        first(col("budget_tok")).as("budget"),
        max(when(col("kept"), col("n_tok"))).as("max_kept"))
      .cache()
    assert(per.filter(col("all_tok") >= col("budget") &&
      col("kept_tok") < col("budget")).isEmpty)
    assert(per.filter(col("kept_tok") >=
      col("budget") + col("max_kept")).isEmpty)
    // budgets actually split this corpus (some dropped, some kept)
    assert(t.filter(col("kept")).count() > 0)
    assert(t.filter(!col("kept")).count() > 0)
    per.unpersist(); t.unpersist()
  }

  test("d_gopher_rules: fractions bounded, verdict consistent with " +
      "its inputs") {
    val g = TrainingData.dGopherRules(spark, sf0001).cache()
    assert(g.filter(col("dup_tok_frac") < 0 || col("dup_tok_frac") > 1 ||
      col("dup_2gram_frac") < 0 || col("dup_2gram_frac") > 1).isEmpty)
    val recheck = col("n_tok") >= 20 &&
      col("mean_tok_len").between(3.0, 10.0) &&
      col("dup_tok_frac") <= 0.6 && col("dup_2gram_frac") <= 0.05
    assert(g.filter(col("keep") =!= recheck).isEmpty)
    // the verdict must actually split this corpus
    val (kept, total) = (g.filter(col("keep")).count(), g.count())
    assert(kept > 0 && kept < total)
    g.unpersist()
  }

  test("d_pack_greedy: bins never overflow (except single oversized " +
      "docs), indices contiguous, and every doc is packed once") {
    val cap = 128L
    val p = TrainingData.dPackGreedy(spark, sf0001).cache()
    val total = graft.Tables.documents(spark, sf0001).count()
    assert(p.count() == total)
    assert(p.select("doc_id").distinct().count() == total)
    // a bin's fill exceeds cap only when it holds exactly one doc
    val bins = p.groupBy("source", "bin_idx")
      .agg(sum(col("n_tok")).as("fill"), count(lit(1)).as("n_docs"))
      .cache()
    assert(bins.filter(col("fill") > cap && col("n_docs") > 1).isEmpty)
    // bin indices per source are 0..max with no gaps
    val gaps = bins.groupBy("source")
      .agg(min(col("bin_idx")).as("lo"), max(col("bin_idx")).as("hi"),
        count(lit(1)).as("n"))
      .filter(col("lo") =!= 0 || col("n") =!= col("hi") + 1)
    assert(gaps.isEmpty)
    // greedy: a doc opens a new bin only because it did not fit —
    // prev bin fill + the new bin's first doc must exceed cap
    val firsts = p.groupBy("source", "bin_idx")
      .agg(min(col("doc_id")).as("first_doc"))
      .join(p.select(col("doc_id").as("first_doc"),
        col("n_tok").as("first_tok"), col("source"), col("bin_idx")),
        Seq("source", "bin_idx", "first_doc"))
    val lazyOpen = bins
      .join(firsts.withColumn("bin_idx", col("bin_idx") - 1),
        Seq("source", "bin_idx"))
      .filter(col("fill") + col("first_tok") <= cap)
    assert(lazyOpen.isEmpty)
    bins.unpersist(); p.unpersist()
  }

  test("d_pii_redact: no raw PII survives redaction and counts " +
      "follow the injection rule") {
    val r = TrainingData.dPiiRedact(spark, sf0001).cache()
    val pats = Seq(
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
      "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
      "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b")
    pats.foreach { pat =>
      assert(r.filter(col("redacted").rlike(pat)).isEmpty,
        s"unredacted match for $pat")
    }
    // every doc had an IP injected; email/phone per the modulo rule
    assert(r.filter(col("n_ips") < 1).isEmpty)
    assert(r.filter(col("n_emails") =!=
      when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).isEmpty)
    assert(r.filter(col("n_phones") =!=
      when(col("doc_id") % 3 === 0, 1L).otherwise(0L)).isEmpty)
    assert(r.filter(!col("redacted").contains("<IP>")).isEmpty)
    r.unpersist()
  }

  test("d_mix_sources: copy counts bounded, per-source weight " +
      "consistent, copy indices dense, deterministic") {
    val m = TrainingData.dMixSources(spark, sf0001).cache()
    assert(m.filter(col("n_copies") < 1 || col("n_copies") > 3).isEmpty)
    // copy_idx per doc is exactly 1..n_copies
    val bad = m.groupBy("doc_id", "n_copies")
      .agg(count(lit(1)).as("n"), min(col("copy_idx")).as("lo"),
        max(col("copy_idx")).as("hi"))
      .filter(col("n") =!= col("n_copies") || col("lo") =!= 1 ||
        col("hi") =!= col("n_copies"))
    assert(bad.isEmpty)
    // all docs present; mix expands the corpus but never beyond 3x
    val total = graft.Tables.documents(spark, sf0001).count()
    assert(m.select("doc_id").distinct().count() == total)
    val rows = m.count()
    assert(rows > total && rows <= 3 * total)
    // a source's docs differ by at most 1 copy (the hash fraction)
    val spread = m.select("doc_id", "source", "n_copies").distinct()
      .groupBy("source")
      .agg((max(col("n_copies")) - min(col("n_copies"))).as("d"))
      .filter(col("d") > 1)
    assert(spread.isEmpty)
    val again = TrainingData.dMixSources(spark, sf0001)
    assert(m.exceptAll(again).isEmpty && again.exceptAll(m).isEmpty)
    m.unpersist()
  }

  test("d_stratified_sample: rates legal, sample is a strict subset " +
      "and deterministic") {
    val s1 = TrainingData.dStratifiedSample(spark, sf0001)
      .as[(Long, String, Long)].collect().toSeq
    assert(s1.nonEmpty)
    assert(s1.forall(r => Set(10L, 25L, 40L).contains(r._3)))
    val total = graft.Tables.documents(spark, sf0001).count()
    assert(s1.size < total)
    val s2 = TrainingData.dStratifiedSample(spark, sf0001)
      .as[(Long, String, Long)].collect().toSeq
    assert(s1 == s2)
  }

  test("d_span_dedup: fractions bounded; hashed stats match an " +
      "independent string-gram reference") {
    val sd = TrainingData.dSpanDedup(spark, sf0001).cache()
    assert(sd.filter(col("n_dup_grams") > col("n_grams") ||
      col("dup_frac") < 0 || col("dup_frac") > 1).isEmpty)
    assert(sd.filter(col("n_grams") < 1).isEmpty,
      "every doc yields at least the truncated whole-doc gram")
    // independent reference: the same stats computed over STRING
    // grams (no hashing) must agree per doc — proves the poly-hash
    // path introduces no drift (and would catch a collision)
    val toks = split(col("text"), " ")
    val ref0 = graft.Tables.documents(spark, sf0001).select(
      col("doc_id"), explode(array_distinct(transform(
        sequence(lit(0), greatest(size(toks) - 8, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(8)))))).as("g"))
    val refDf = ref0.groupBy("g").agg(count(lit(1)).as("df"))
    val ref = ref0.join(refDf, "g").groupBy("doc_id")
      .agg(count(lit(1)).as("r_grams"),
        count(when(col("df") >= 2, 1)).as("r_dup"))
    val drift = sd.join(ref, "doc_id")
      .filter(col("n_grams") =!= col("r_grams") ||
        col("n_dup_grams") =!= col("r_dup"))
    assert(drift.isEmpty, "hashed span stats drifted from string grams")
    // and the corpus genuinely contains cross-doc duplicated spans
    assert(sd.filter(col("n_dup_grams") > 0).count() > 0)
    sd.unpersist()
  }

  test("d_lm_score: rare-token docs score higher NLL than " +
      "common-token docs, and scores are deterministic") {
    val lm = TrainingData.queries("d_lm_score")(spark, sf0001).cache()
    assert(lm.filter(col("nll") <= 0).isEmpty,
      "every token has cnt < total, so nll is strictly positive")
    // token counts must be conserved: Σ n_tok == Σ len(tokens)
    val wantToks = graft.Tables.documents(spark, sf0001)
      .select(sum(size(split(col("text"), " ")))).as[Long].head()
    val gotToks = lm.select(sum(col("n_tok"))).as[Long].head()
    assert(gotToks == wantToks)
    val again = TrainingData.queries("d_lm_score")(spark, sf0001)
    assert(lm.exceptAll(again).isEmpty && again.exceptAll(lm).isEmpty)
    lm.unpersist()
    // the property in the title, on a constructed corpus: a doc of
    // corpus-common tokens scores strictly lower NLL than a doc of
    // hapax tokens
    val synth = Seq((1L, "the the the the"), (2L, "qqq www eee rrr"),
      (3L, "the of and to")).toDF("doc_id", "text")
    val nll = LmSpec.score(LmSpec(LmModel.Unigram), synth)
      .select("doc_id", "nll").as[(Long, Double)].collect().toMap
    assert(nll(2L) > nll(1L) && nll(2L) > nll(3L),
      s"hapax doc must score highest: $nll")
  }

  test("d_dsir: target-like docs outweigh off-target docs, token " +
      "counts conserved, model join is a broadcast") {
    // constructed corpus: target slice speaks vocabulary A, the rest
    // vocabulary B; two probe docs (neither in the target slice) —
    // the A-speaking probe must carry the higher importance weight
    val synth = Seq(
      (1L, "alpha beta gamma delta", true),
      (2L, "alpha gamma beta beta", true),
      (3L, "omega sigma tau rho", false),
      (4L, "sigma rho omega tau", false),
      (5L, "alpha beta gamma beta", false), // A-speaking probe
      (6L, "omega tau sigma rho", false))   // B-speaking probe
      .toDF("doc_id", "text", "is_t")
    val (w, plans) =
      executedPlans(TrainingData.dsirWeights(synth, col("is_t")))
    val m = w.select("doc_id", "logw").as[(Long, Double)]
      .collect().toMap
    assert(m(5L) > m(6L),
      s"target-vocabulary probe must outweigh off-target probe: $m")
    // fixed-bucket model ⇒ score frame broadcasts (never a shuffle);
    // the checkpoint's plan is the one that joined
    val plan = plans.last.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // token conservation on the real corpus
    val d = TrainingData.dDsir(spark, sf0001).cache()
    val wantToks = graft.Tables.documents(spark, sf0001)
      .select(sum(size(split(col("text"), " ")))).as[Long].head()
    assert(d.select(sum(col("n_tok"))).as[Long].head() == wantToks)
    assert(d.count() ==
      graft.Tables.documents(spark, sf0001).count())
    d.unpersist()
  }

  test("d_corpus_card: shares sum to 1 and totals reconcile with " +
      "the raw corpus") {
    val card = TrainingData.dCorpusCard(spark, sf0001).cache()
    val docs = graft.Tables.documents(spark, sf0001)
    assert(card.agg(sum(col("n_docs"))).as[Long].head() == docs.count())
    val share = card.agg(sum(col("token_share"))).as[Double].head()
    assert(math.abs(share - 1.0) < 1e-3, s"shares must sum to 1: $share")
    assert(card.filter(col("mean_tokens") <= 0).isEmpty)
    card.unpersist()
  }

  test("d_neardup_pipeline: accounting reconciles with the pair and " +
      "cluster queries it composes") {
    val acct = TrainingData.dNeardupPipeline(spark, sf0001).cache()
    assert(acct.filter(col("n_kept") + col("n_dropped") =!=
      col("n_docs")).isEmpty)
    assert(acct.filter(col("n_dropped") > col("n_clustered")).isEmpty)
    val docs = graft.Tables.documents(spark, sf0001)
    assert(acct.agg(sum(col("n_docs"))).as[Long].head() == docs.count())
    // total clustered == distinct ids appearing in the verified pairs
    val pairs = TrainingData.queries("d_minhash_lsh")(spark, sf0001).cache()
    val inPairs = pairs.select(col("doc_a").as("id"))
      .unionByName(pairs.select(col("doc_b").as("id"))).distinct()
    assert(acct.agg(sum(col("n_clustered"))).as[Long].head() ==
      inPairs.count())
    // total dropped == clustered minus one representative per cluster
    val comps = graft.ext.ConnectedComponents
      .components(pairs, "doc_a", "doc_b")
    val nComponents = comps.select("comp").distinct().count()
    assert(acct.agg(sum(col("n_dropped"))).as[Long].head() ==
      inPairs.count() - nComponents)
    pairs.unpersist(); acct.unpersist()
  }

  test("g_doc_centrality: covers exactly the near-dup graph's nodes " +
      "and conserves rank mass") {
    val c = TrainingData.queries("g_doc_centrality")(spark, sf0001)
      .cache()
    assert(c.filter(col("pr_pico") <= 0).isEmpty)
    val pairs = TrainingData.queries("d_minhash_lsh")(spark, sf0001)
    val ids = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    assert(c.select("doc_id").exceptAll(ids).isEmpty &&
      ids.exceptAll(c.select("doc_id")).isEmpty)
    val mass = c.agg(sum(col("pr_pico"))).head().getLong(0)
    assert(mass <= 1000000000000L && mass > 990000000000L, s"$mass")
    c.unpersist()
  }

  test("d_lm_bigram: word order matters — a locally-incoherent " +
      "shuffle of common words scores higher than fluent text") {
    val lm = TrainingData.queries("d_lm_bigram")(spark, sf0001).cache()
    assert(lm.filter(col("nll2") <= 0).isEmpty)
    // bigram count conservation: Σ n_big == Σ (len - 1) over docs
    // with ≥ 2 tokens
    val want = graft.Tables.documents(spark, sf0001)
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .filter(col("n") >= 2).agg(sum(col("n") - 1)).as[Long].head()
    assert(lm.agg(sum(col("n_big"))).as[Long].head() == want)
    lm.unpersist()
    // the property a unigram LM cannot express: same words, wrong
    // order. Corpus: "a b" is a very common bigram; doc 9 uses the
    // same unigrams in reversed order ("b a") and must score higher
    val synth = (1L to 8L).map(i => (i, "a b a b a b")) :+
      (9L, "b a b a b a")
    val got = LmSpec.score(LmSpec(LmModel.AddOneBigram),
        synth.toDF("doc_id", "text"))
      .select("doc_id", "nll2").as[(Long, Double)].collect().toMap
    assert(got(9L) > got(1L),
      s"reversed word order must score higher: $got")
  }

  test("d_chunk_dedup: accounting consistent, rewrite drops exactly " +
      "the repeated chunks, first occurrence always survives") {
    val cd = TrainingData.dChunkDedup(spark, sf0001).cache()
    assert(cd.filter(col("n_kept") > col("n_chunks") ||
      col("n_kept") < 0).isEmpty)
    // rewritten token count == 8·(n_kept−1) … 8·n_kept (last chunk
    // of a doc may be short); empty rewrite ⇔ n_kept = 0
    val toksOut = when(col("dedup_text") === "", lit(0))
      .otherwise(size(split(col("dedup_text"), " ")))
    assert(cd.filter(toksOut > col("n_kept") * 8).isEmpty)
    assert(cd.filter((col("n_kept") > 0) =!= (toksOut > 0)).isEmpty)
    cd.unpersist()
    // rewrite semantics on a constructed corpus (chunk size 2):
    // doc 1 = A B, doc 2 = B C, doc 3 = A  (A,B,C are 2-tok chunks)
    val synth = Seq(
      (1L, "a b c d"),          // chunks: [a b], [c d]
      (2L, "c d e f"),          // [c d] repeats → kept [e f]
      (3L, "a b")               // [a b] repeats → nothing left
    ).toDF("doc_id", "text")
    val got = TrainingData.chunkDedup(synth, c = 2)
      .select("doc_id", "n_chunks", "n_kept", "dedup_text")
      .as[(Long, Long, Long, String)].collect()
      .map { case (id, nc, nk, t) => id -> ((nc, nk, t)) }.toMap
    assert(got(1L) == ((2L, 2L, "a b c d")))
    assert(got(2L) == ((2L, 1L, "e f")))
    assert(got(3L) == ((1L, 0L, "")))
  }

  test("d_kl_sources: KL is zero for an identical-distribution " +
      "source and strictly positive for a shifted one") {
    val kl = TrainingData.dKlSources(spark, sf0001).cache()
    // per-term 6-decimal rounding can leave ~1e-4 of noise, no more
    assert(kl.filter(col("kl") < -0.001).isEmpty)
    assert(kl.filter(col("n_tok") <= 0).isEmpty)
    kl.unpersist()
    // a corpus of two identically-distributed sources: each source's
    // distribution IS the corpus distribution → every term is
    // ln(1) = 0 exactly
    val same = Seq(("s1", "x x y"), ("s2", "x x y"))
      .toDF("source", "text")
    val gotSame = TrainingData.klSources(same)
      .select("source", "kl").as[(String, Double)].collect().toMap
    assert(gotSame("s1") == 0.0 && gotSame("s2") == 0.0, s"$gotSame")
    // disjoint-vocabulary sources: both must diverge from the blend
    val shifted = Seq(("s1", "x x y"), ("s3", "z z z"))
      .toDF("source", "text")
    val gotShift = TrainingData.klSources(shifted)
      .select("source", "kl").as[(String, Double)].collect().toMap
    assert(gotShift("s1") > 0.1 && gotShift("s3") > 0.1,
      s"shifted sources must diverge: $gotShift")
  }

  test("d_incremental_dedup: every batch doc gets one verdict; " +
      "corpus hits dominate; exactly one keeper per fresh hash") {
    import graft.ext.Dedup
    val out = TrainingData.dIncrementalDedup(spark, sf0001).cache()
    val docs = graft.Tables.documents(spark, sf0001)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    assert(out.count() == batch.count())
    // re-derive hash groups independently and check verdict structure
    val withH = out.join(batch.select(col("doc_id"),
      Dedup.contentHash(col("text")).as("h")), "doc_id")
    val corpusH = docs.filter(col("doc_id") % 5 =!= 0)
      .select(Dedup.contentHash(col("text")).as("h")).distinct()
      .withColumn("in_corpus", lit(true))
    val byHash = withH.join(corpusH, Seq("h"), "left")
      .groupBy("h")
      .agg(max(col("in_corpus")).as("in_corpus"),
        count(when(col("verdict") === "kept", 1)).as("n_kept"),
        count(when(col("verdict") === "dup_corpus", 1)).as("n_dc"),
        count(lit(1)).as("n"),
        min(col("doc_id")).as("min_id"),
        min(when(col("verdict") === "kept", col("doc_id"))).as("kept_id"))
    // hash in corpus → all rows dup_corpus; fresh hash → exactly one
    // keeper and it is the min id
    assert(byHash.filter(col("in_corpus") &&
      col("n_dc") =!= col("n")).isEmpty)
    assert(byHash.filter(!coalesce(col("in_corpus"), lit(false)) &&
      (col("n_kept") =!= 1 || col("kept_id") =!= col("min_id"))).isEmpty)
    out.unpersist()
  }

  test("s_ann_recall: ground truth is complete, hits are bounded " +
      "by k, and recall matches the hit ratio") {
    val r = TrainingData.sAnnRecall(spark, sf0001).cache()
    assert(r.count() > 0)
    assert(r.filter(col("n_truth") =!= 5).isEmpty,
      "brute force must find a full top-5 for every query")
    assert(r.filter(col("n_hits") < 0 || col("n_hits") > 5).isEmpty)
    assert(r.filter(col("recall") =!=
      round(col("n_hits").cast("double") / col("n_truth"), 6)).isEmpty)
    r.unpersist()
  }

  test("d_quality_lr: score equals the brute-force hashed-weight sum " +
      "and the verdict discriminates") {
    val q = TrainingData.dQualityLr(spark, sf0001).cache()
    // exact reference computation, token by token, off-Spark
    def weight(tok: String): Long = {
      var h = 0L
      tok.foreach(c => h = (h * 31 + c.toInt) % 2147483647L)
      (h % 256) * 2654435761L % 2147483647L % 2001L - 1000L
    }
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val want = docs.map { case (id, t) =>
      id -> t.split(" ").map(weight).sum }.toMap
    val got = q.select("doc_id", "score_milli").as[(Long, Long)]
      .collect().toMap
    assert(got == want)
    // both verdicts occur (the classifier actually separates), and
    // keep is exactly score > 0
    val keeps = q.select("keep").as[Boolean].collect()
    assert(keeps.contains(true) && keeps.contains(false))
    assert(q.filter(col("keep") =!= (col("score_milli") > 0)).isEmpty)
    q.unpersist()
  }

  test("d_repetition_break: max_run matches a brute-force scan and " +
      "flags a synthetic looped document") {
    val r = TrainingData.dRepetitionBreak(spark, sf0001).cache()
    def maxRun(toks: Array[String]): Long = {
      var best = 1L; var cur = 1L
      for (i <- 1 until toks.length) {
        if (toks(i) == toks(i - 1)) cur += 1 else cur = 1
        if (cur > best) best = cur
      }
      best
    }
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val want = docs.map { case (id, t) =>
      id -> maxRun(t.split(" ")) }.toMap
    val got = r.select("doc_id", "max_run").as[(Long, Long)]
      .collect().toMap
    assert(got == want)
    // n_runs + (n_tok - n_runs) partition identity: run lengths sum
    assert(r.filter(col("n_runs") > col("n_tok")).isEmpty)
    // a looped generation ("spam spam spam …") is flagged, a normal
    // doc is kept — run through the same operator on a tiny frame
    val tiny = Seq((1L, ("ok word " * 10).trim),
        (2L, ("spam " * 12).trim))
      .toDF("doc_id", "text").createOrReplaceTempView("_rep_tiny")
    val toks2 = spark.table("_rep_tiny")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val runs = toks2.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("_new", when(lag(col("tok"), 1).over(w).isNull ||
        lag(col("tok"), 1).over(w) =!= col("tok"), 1L).otherwise(0L))
      .withColumn("_run", sum(col("_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "_run").agg(count(lit(1)).as("len"))
      .groupBy("doc_id").agg(max("len").as("max_run"))
      .as[(Long, Long)].collect().toMap
    assert(runs(1L) == 1L && runs(2L) == 12L)
    r.unpersist()
  }

  test("d_dedup_keep_best: one keeper per component, and it is the " +
      "max-score (min-id tie) member; singletons always kept") {
    val r = TrainingData.dDedupKeepBest(spark, sf0001).cache()
    val nDocs = graft.Tables.documents(spark, sf0001).count()
    assert(r.count() == nDocs, "one row per doc")
    // exactly one keep per component
    val badCount = r.groupBy("component")
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .filter(col("n_keep") =!= 1L)
    assert(badCount.isEmpty)
    // the keeper dominates every non-keeper in its component:
    // higher score, or equal score and smaller id
    val keepers = r.filter(col("keep"))
      .select(col("component"), col("score_milli").as("k_score"),
        col("doc_id").as("k_id"))
    val dominated = r.filter(!col("keep"))
      .join(keepers, Seq("component"))
      .filter(col("score_milli") > col("k_score") ||
        (col("score_milli") === col("k_score") &&
          col("doc_id") < col("k_id")))
    assert(dominated.isEmpty)
    // a doc that appears in no pair is its own component and kept
    val singletons = r.groupBy("component").agg(count(lit(1)).as("n"))
      .filter(col("n") === 1)
    assert(singletons.count() > 0)
    r.unpersist()
  }

  test("d_dedup_recall: counts reconcile with the two pair queries " +
      "and the overlap bounds hold") {
    val r = TrainingData.dDedupRecall(spark, sf0001).collect()(0)
    val nExact = TrainingData.queries("d_jaccard_pairs")(spark, sf0001).count()
    val nLsh = TrainingData.queries("d_minhash_lsh")(spark, sf0001).count()
    assert(r.getAs[Long]("n_exact") == nExact)
    assert(r.getAs[Long]("n_lsh") == nLsh)
    val nBoth = r.getAs[Long]("n_both")
    assert(nBoth <= math.min(nExact, nLsh))
    assert(r.getAs[Long]("n_lsh_only") == nLsh - nBoth)
    assert(r.getAs[Double]("recall_lsh") ==
      BigDecimal(nBoth.toDouble / nExact)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // at 16x4 banding on this corpus the index should recover most
    // of the blocked-exact set
    assert(r.getAs[Double]("recall_lsh") > 0.5,
      s"LSH recall unexpectedly low: $r")
  }

  test("winnowing: the shared-run guarantee holds, a unique doc has " +
      "all-unique fingerprints, and n_fp matches a brute-force winnow") {
    // token vocabularies are disjoint across docs except the shared
    // run, so any shared fingerprint must come from the run
    val sharedRun = (1 to 10).map(i => s"run$i").mkString(" ")
    val docA = (1 to 30).map(i => s"a$i").mkString(" ") +
      " " + sharedRun
    val docB = sharedRun + " " + (1 to 30).map(i => s"b$i").mkString(" ")
    val docC = (1 to 40).map(i => s"c$i").mkString(" ")
    val df = Seq((1L, docA), (2L, docB), (3L, docC))
      .toDF("doc_id", "text")
    val r = TrainingData.winnowStats(df).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_fp"), x.getAs[Long]("max_fp_df"),
          x.getAs[Long]("n_unique_fp"))).toMap
    // Schleimer guarantee: a shared run of 10 >= w+k-1 = 7 tokens
    // yields at least one shared fingerprint -> df >= 2 on both docs
    assert(r(1L)._2 >= 2 && r(2L)._2 >= 2,
      s"shared run must produce a shared fingerprint: $r")
    assert(r(1L)._3 < r(1L)._1, "doc A must have a non-unique fp")
    // doc C shares nothing: every fingerprint unique
    assert(r(3L)._2 == 1 && r(3L)._3 == r(3L)._1, s"C not unique: $r")
    // brute-force winnow of doc C reproduces n_fp exactly
    def polyHash(g: String): Long =
      g.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 2147483647L)
    val toks = docC.split(" ")
    val gh = toks.sliding(4).map(g => polyHash(g.mkString(" "))).toSeq
    val brute = gh.sliding(4).map(_.min).toSet.size
    assert(r(3L)._1 == brute,
      s"n_fp ${r(3L)._1} != brute winnow $brute")
  }

  test("priority sample: k weight-biased rows, estimator covers the " +
      "corpus weight, deterministic") {
    import org.apache.spark.sql.functions._
    val out = TrainingData.dPrioritySample(spark, sf0001).cache()
    assert(out.count() == 100)
    assert(out.select("doc_id").distinct().count() == 100)
    // the sample IS the top-k by priority: recompute w/u locally
    // from (doc_id, n_chars, hash) and compare the selected id set
    // and the τ-clamped estimator row by row
    val hcol = graft.functions.RollingHash.rolling_hash(
      col("doc_id").cast("string"))
    val local = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), (col("n_chars") + 1L).as("w"), hcol.as("h"))
      .collect().map { r =>
        val m = 2147483647L
        val g = (r.getLong(2) * 48271L % m) * 48271L % m
        val u = (g + 1L).toDouble / 2147483648.0
        (r.getLong(0), r.getLong(1), r.getLong(1).toDouble / u)
      }.sortBy(t => (-t._3, t._1))
    val refTop = local.take(100)
    val tau = local(100)._3
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet ==
      refTop.map(_._1).toSet)
    val gotEst = out.collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    for ((id, w, _) <- refTop)
      assert(gotEst(id) == math.max(w.toDouble, tau),
        s"doc $id est ${gotEst(id)} != max($w, $tau)")
    // DLT estimator: Σ max(w, τ) over the sample estimates Σw over
    // the corpus (unbiased; concentrated at k=100) — allow 2×
    val est = out.agg(sum(col("est_w"))).head().getDouble(0)
    val tot = graft.Tables.documents(spark, sf0001)
      .agg(sum(col("n_chars") + 1)).head().getLong(0).toDouble
    assert(est > 0.5 * tot && est < 2.0 * tot, s"est $est vs tot $tot")
    // deterministic: a second evaluation is identical
    val again = TrainingData.dPrioritySample(spark, sf0001)
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
    out.unpersist()
  }

  test("Kneser-Ney bigram NLL matches an independent plain-Scala " +
      "reference, and shares d_lm_bigram's bigram stream") {
    // doc 6 has one token: the bigram rows drop it, the unigram row
    // counts it, and the add-one c1 and V count its token
    val docsSeq = Seq(
      1L -> "a b c a b",
      2L -> "a b a c",
      3L -> "c b c b a",
      4L -> "d e",
      5L -> "e d e d",
      6L -> "a")
    val df = docsSeq.toDF("doc_id", "text")
    def run(model: LmModel): Map[Long, (Long, Double)] =
      LmSpec.score(LmSpec(model), df).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    // reference: collections-only reimplementation, same IEEE op order
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val toks = docsSeq.map { case (id, t) => id -> t.split(" ").toSeq }
    val c1 = toks.flatMap(_._2).groupBy(identity).view
      .mapValues(_.size).toMap
    val total = toks.map(_._2.size).sum
    val bigs = toks.map { case (id, ts) =>
      id -> ts.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))).toSeq
    }
    val c2 = bigs.flatMap(_._2).groupBy(identity).view
      .mapValues(_.size).toMap
    val cp = c2.toSeq.groupBy(_._1._1).view
      .mapValues(_.map(_._2).sum).toMap
    val n1p = c2.toSeq.groupBy(_._1._1).view.mapValues(_.size).toMap
    val n1s = c2.toSeq.groupBy(_._1._2).view.mapValues(_.size).toMap
    val tTot = c2.size
    def kn(bg: (String, String)): Double = r6(-math.log(
      (c2(bg) - 0.75) / cp(bg._1) +
        0.75 * n1p(bg._1) / cp(bg._1) * n1s(bg._2) / tTot))
    def addOne(bg: (String, String)): Double =
      r6(math.log((c1(bg._1) + c1.size).toDouble / (c2(bg) + 1)))
    val want: Seq[(LmModel, Seq[(Long, Seq[Double])])] = Seq(
      LmModel.Unigram -> toks.map { case (id, ts) =>
        id -> ts.map(t => r6(math.log(total.toDouble / c1(t)))) },
      LmModel.AddOneBigram -> bigs.map { case (id, bs) => id -> bs.map(addOne) },
      LmModel.KneserNey -> bigs.map { case (id, bs) => id -> bs.map(kn) })
    for ((model, perDoc) <- want) {
      val got = run(model)
      val scored = perDoc.filter(_._2.nonEmpty)
      assert(got.keySet == scored.map(_._1).toSet, s"$model docs: $got")
      for ((id, mine) <- scored) {
        val mean = r6(mine.map(BigDecimal(_)).sum.toDouble / mine.size)
        assert(got(id) == ((mine.size.toLong, mean)),
          s"$model doc $id: got ${got(id)}, want ${(mine.size, mean)}")
      }
    }

    // the per-doc bigram stream is the same one d_lm_bigram scores
    assert(run(LmModel.KneserNey).view.mapValues(_._1).toMap ==
      run(LmModel.AddOneBigram).view.mapValues(_._1).toMap)
  }

  test("span cut: the globally-first occurrence of a duplicated " +
      "8-token run survives, later occurrences are cut, untouched " +
      "docs pass through verbatim") {
    // disjoint vocabularies except the shared 8-token run
    val run = (1 to 8).map(i => s"run$i").mkString(" ")
    val docA = run + " " + (1 to 12).map(i => s"a$i").mkString(" ")
    val docB = (1 to 12).map(i => s"b$i").mkString(" ") + " " + run
    val docC = (1 to 20).map(i => s"c$i").mkString(" ")
    val df = Seq((1L, docA), (2L, docB), (3L, docC))
      .toDF("doc_id", "text")
    val r = TrainingData.spanCut(df).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_tokens"), x.getAs[Long]("n_kept"),
          x.getAs[String]("text_dedup"))).toMap
    // doc 1 holds the first occurrence (min doc_id): kept whole
    assert(r(1L)._3 == docA, s"canonical doc must be untouched: $r")
    // doc 2's copy of the run is cut — exactly its 8 run tokens
    assert(r(2L)._2 == r(2L)._1 - 8, s"doc 2 must lose the run: $r")
    assert(r(2L)._3 == (1 to 12).map(i => s"b$i").mkString(" "),
      s"doc 2 keeps its own tokens in order: $r")
    // doc 3 shares nothing: verbatim
    assert(r(3L)._3 == docC && r(3L)._2 == r(3L)._1)
  }

  test("winnowing: the codegen kernel equals the HOF reference " +
      "formulation on the real corpus") {
    val diff = graft.Tables.documents(spark, sf0001)
      .select(
        graft.functions.WinnowSet.winnow_set(
          split(col("text"), " "), k = 4, w = 4).as("kern"),
        hofWinnowFps(col("text")).as("hof"))
      .filter(col("kern") =!= col("hof"))
    assert(diff.isEmpty, "kernel and HOF winnow sets must be identical")
  }

  test("d_filter_stack: attrition chains, and the stack reconciles " +
      "with the standalone gopher/langid/quality queries") {
    val r = TrainingData.dFilterStack(spark, sf0001)
      .collect().sortBy(_.getAs[Int]("rule_idx"))
    assert(r.map(_.getAs[String]("rule")).toSeq == Seq("too_short",
      "bad_tok_shape", "repetitive", "lang_unknown", "low_quality"))
    val total = graft.Tables.documents(spark, sf0001).count()
    assert(r.head.getAs[Long]("n_in") == total)
    r.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_out") == b.getAs[Long]("n_in"),
        s"chain break between ${a} and ${b}")
    }
    r.foreach { row =>
      assert(row.getAs[Long]("n_in") - row.getAs[Long]("n_dropped") ==
        row.getAs[Long]("n_out"))
    }
    // rules 1-3 are exactly the gopher keep conjuncts: survivors of
    // rule 3 == gopher-kept docs
    val gopherKept = TrainingData.dGopherRules(spark, sf0001)
      .filter(col("keep")).count()
    assert(r(2).getAs[Long]("n_out") == gopherKept,
      "rule-3 survivors must equal the gopher keep count")
    // final survivors = gopher ∩ known-language ∩ positive LR score
    val finalKept = TrainingData.dGopherRules(spark, sf0001)
      .filter(col("keep")).select("doc_id")
      .join(TrainingData.dLangId(spark, sf0001)
        .filter(col("pred_lang") =!= "und").select("doc_id"), "doc_id")
      .join(TrainingData.dQualityLr(spark, sf0001)
        .filter(col("keep")).select("doc_id"), "doc_id")
      .count()
    assert(r(4).getAs[Long]("n_out") == finalKept,
      "stack survivors must equal the intersection of the " +
        "standalone filters")
  }

  test("d_ccnet_buckets: buckets respect score order and tercile " +
      "cumulative bounds per language") {
    val r = TrainingData.dCcnetBuckets(spark, sf0001).cache()
    val n = r.count()
    assert(n == graft.Tables.documents(spark, sf0001).count())
    // ordering: max nll in head <= min nll in middle <= ... per lang
    val agg = r.groupBy("lang").pivot("bucket",
        Seq("head", "middle", "tail"))
      .agg(min("nll").as("mn"), max("nll").as("mx"),
        count(lit(1)).as("n"))
    agg.collect().foreach { row =>
      def d(f: String) = Option(row.getAs[Any](f))
        .map(_.toString.toDouble)
      def l(f: String) = Option(row.getAs[Any](f))
        .map(_.toString.toLong).getOrElse(0L)
      for (hMax <- d("head_mx"); mMin <- d("middle_mn"))
        assert(hMax <= mMin, s"head/middle overlap in $row")
      for (mMax <- d("middle_mx"); tMin <- d("tail_mn"))
        assert(mMax <= tMin, s"middle/tail overlap in $row")
      val (h, m, t) = (l("head_n"), l("middle_n"), l("tail_n"))
      val tot = h + m + t
      // t1/t2 are the smallest cutoffs reaching 1/3 and 2/3 of mass
      assert(h * 3 >= tot, s"head below tercile mass: $row")
      assert((h + m) * 3 >= 2 * tot, s"head+middle below 2/3: $row")
    }
    r.unpersist()
  }

  test("d_quality_calibration: monotone observed rate on a planted " +
      "signal, exact bin accounting") {
    // token weights replicate the operator's committed formula so the
    // fixture can plant sign-separated scores independently
    val cand = (0 until 200).map(i => s"tok$i")
    val weights = cand.toDF("tok")
      .select(col("tok"), element_at(
        graft.functions.ArrayOps.array_poly_hash(array(col("tok"))), 1)
        .as("h"))
      .select(col("tok"),
        ((col("h") % 256L) * 2654435761L % 2147483647L % 2001L - 1000L)
          .as("w"))
      .as[(String, Long)].collect().toMap
    val pos = cand.filter(t => weights(t) > 0).take(25)
    val neg = cand.filter(t => weights(t) < 0).head
    assert(pos.size == 25, "fixture needs 25 positive-weight tokens")
    // 20 low docs: one negative token repeated (label false, score<0,
    // graded by length); 20 high docs: distinct positive tokens
    // (label true, score>0, graded by count)
    // repeats start at 3: a 2-token doc sits ON the TTR boundary
    // (2·1 ≥ 2) and would be labeled positive
    val low = (0 until 20).map(i =>
      (i.toLong, Seq.fill(i + 3)(neg).mkString(" ")))
    val high = (0 until 20).map(i =>
      (100L + i, pos.take(i + 5).mkString(" ")))
    val docs = (low ++ high).toDF("doc_id", "text")
    val bins = TrainingData.qualityCalibration(docs)
      .orderBy("bin")
      .select("bin", "n", "n_pos", "obs_pos_rate")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(bins.map(_._2).sum == 40L, s"bin counts must cover all docs: $bins")
    assert(bins.map(_._3).sum == 20L, s"positives must total 20: $bins")
    // planted signal: score orders the two families, so the observed
    // rate must be non-decreasing across bins (the calibration claim)
    val rates = bins.map(_._4)
    assert(rates.zip(rates.tail).forall { case (a, b) => a <= b },
      s"observed rate not monotone: $bins")
    // the low family fills the low bins at rate 0, the high family
    // the top bins at rate 1
    assert(rates.head == 0.0 && rates.last == 1.0, bins.toString)

    // threshold decision on the SAME planted fixture: rate-0 low bins
    // must be dropped entirely, rate-1 high bins kept entirely, and
    // the chosen bin is exactly the first one whose n_pos·2 ≥ n
    val decided = TrainingData.qualityThreshold(docs)
      .orderBy("kept")
      .select("kept", "thr_bin", "n_docs", "n_pos", "obs_pos_rate")
      .as[(Boolean, Long, Long, Long, Double)].collect().toSeq
    assert(decided.map(_._1) == Seq(false, true), decided.toString)
    val expectThr = bins.filter(b => b._3 * 2 >= b._2).map(_._1).min
    assert(decided.forall(_._2 == expectThr),
      s"threshold bin ${decided.map(_._2)} != smallest qualifying " +
        s"$expectThr")
    val kept = decided.find(_._1).get
    val dropped = decided.find(!_._1).get
    assert(kept._3 + dropped._3 == 40L, "accounting must cover all docs")
    assert(kept._4 + dropped._4 == 20L, "positives must total 20")
    // kept side is all positives on this fixture, dropped all negative
    assert(kept._5 == 1.0 && dropped._5 == 0.0, decided.toString)
    // kept rows are exactly the bins at/above the threshold
    val keptBins = bins.filter(_._1 >= expectThr)
    assert(kept._3 == keptBins.map(_._2).sum, decided.toString)
  }

  test("hybrid RRF: swapping the dense leg brute -> IVF perturbs, " +
      "not replaces, the fused ranking; both variants emit full " +
      "per-query result sets") {
    def byQ(name: String) =
      TrainingData.queries(name)(spark, sf0001)
        .select("qid", "doc_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = byQ("s_hybrid_rrf")
    val ivf = byQ("s_hybrid_rrf_ivf")
    assert(brute.keySet == Set(0L, 1L, 2L) && ivf.keySet == brute.keySet)
    for (q <- brute.keySet) {
      assert(brute(q).size == 10 && ivf(q).size == 10,
        s"query $q short of k=10")
      // the sparse leg is IDENTICAL across variants and nprobe=3/8
      // keeps most of the dense neighborhood — the fused sets must
      // stay majority-stable under the leg swap
      val overlap = (brute(q) & ivf(q)).size.toDouble / 10
      assert(overlap >= 0.5,
        s"query $q: leg swap rewrote the fusion ($overlap)")
    }
  }

  test("d_tokenizer_eval: three legs share the word-counting rule, " +
      "fertility is >= 1 everywhere, and each leg reconciles with " +
      "its standalone catalog entry") {
    val e = TrainingData.queries("d_tokenizer_eval")(spark, sf0001)
      .cache()
    val legs = e.select("tokenizer").distinct()
      .as[String].collect().toSet
    assert(legs == Set("bpe", "greedy", "unigram"))
    // identical (source, n_docs, n_words) across legs — the shared
    // whitespace word rule is what makes fertility comparable
    val shapes = e.groupBy("source")
      .agg(countDistinct(col("n_docs")).as("d"),
        countDistinct(col("n_words")).as("w"))
      .filter(col("d") =!= 1 || col("w") =!= 1)
    assert(shapes.isEmpty, "legs disagree on docs/words per source")
    // every word yields at least one piece in every family
    assert(e.filter(col("n_pieces") < col("n_words")).isEmpty)
    assert(e.filter(col("fertility") < 1.0).isEmpty)
    // corpus totals reconcile with the standalone entries
    val bpeTotal = e.filter(col("tokenizer") === "bpe")
      .agg(sum("n_pieces")).head().getLong(0)
    val standalone = TrainingData.queries("d_bpe_tokens")(spark, sf0001)
      .agg(sum("n_bpe")).head().getLong(0)
    assert(bpeTotal == standalone,
      s"bpe leg $bpeTotal != d_bpe_tokens $standalone")
    val uniTotal = e.filter(col("tokenizer") === "unigram")
      .agg(sum("n_pieces")).head().getLong(0)
    val uniStandalone =
      TrainingData.queries("d_unigram_tokens")(spark, sf0001)
        .agg(sum("n_pieces")).head().getLong(0)
    assert(uniTotal == uniStandalone)
    e.unpersist()
  }

  test("OPQ oracle from the dataset: same before and after the entry runs") {
    // derived from the dataset alone: no marker before the entry ran,
    // and running it changes nothing
    val name = "s_ann_pq_opq"
    val before = graft.SparkEntry.datasetOracleSql(spark, sf0001)(name)
    TrainingData.queries(name)(spark, sf0001).collect()
    val after = graft.SparkEntry.datasetOracleSql(spark, sf0001)(name)
    assert(before == after)
    assert(!before.contains(" AS err"), before.take(400))
    assert(raw"\(-?[0-9]+\.[0-9]+(E-?[0-9]+)?\) \* emb\[1\] \+ ".r
      .findFirstIn(before).isDefined && before.contains("base AS MATERIALIZED"),
      before.take(400))
    assert(graft.SparkEntry.datasetOracleKeys.toSet ==
      Set(name, "s_ann_ivf_pq_opq_res", "s_ann_ivf_pq_opq_res_sampled"))
  }
}
