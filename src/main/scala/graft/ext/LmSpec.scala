package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.queries.QueryUtil.{avgDec, sqlAvgDec}

/** The n-gram model an [[LmSpec]] scores with. Each model names its
  * per-document output columns: the n-gram count and the mean
  * per-n-gram negative log-likelihood. */
sealed abstract class LmModel(val countCol: String, val scoreCol: String)

object LmModel {

  /** Unigram MLE, the CCNet perplexity-filter shape (Wenzek et al.
    * 2020) with the LM trained on the corpus itself: −ln(cnt/total)
    * per token. Junk and off-distribution text scores high. */
  case object Unigram extends LmModel("n_tok", "nll")

  /** Add-one bigram: −ln P(tᵢ | tᵢ₋₁) with
    * P = (c₂(tᵢ₋₁ tᵢ) + 1) / (c₁(tᵢ₋₁) + V). It catches
    * locally-incoherent text (right words, wrong order) that a unigram
    * score cannot. `c₁` and `V` count every token, also those of docs
    * with fewer than 2 tokens, which have no bigram and no output row. */
  case object AddOneBigram extends LmModel("n_big", "nll2")

  /** Interpolated Kneser-Ney bigram (Kneser & Ney 1995):
    * `P(w2|w1) = max(c(w1w2)−D, 0)/c(w1·) + D·N1+(w1·)/c(w1·) ·
    * N1+(·w2)/N1+(··)` with D = [[KneserNey.D]]. The continuation term
    * scores a word by how many contexts it follows, not how often it
    * occurs. Every component aggregates over the bigram-type table. */
  case object KneserNey extends LmModel("n_big", "nll_kn") {
    /** The discount: 0.75, exactly binary-representable. */
    val D = 0.75
  }
}

/** One n-gram LM quality score: per document, the count of its
  * n-grams under `model` and their mean negative log-likelihood, the
  * LM trained on the scored corpus itself.
  *
  * Scale shape: the score table is vocabulary-sized (Heaps' law) and
  * aggregates with partial combine; the per-occurrence join back to it
  * is keyed on the n-gram. A hot key would pin its whole occurrence
  * mass on one shuffle partition, and AQE does not split this join's
  * skew (LmSkewSpec's finding: the score side is an aggregate, not a
  * raw shuffle read). So n-grams occurring ≥ `hotThreshold` times —
  * at most total/`hotThreshold` keys — are collected once on the
  * driver and scored by a plan-literal lookup; the join sees only the
  * other keys. Per-n-gram scores round to 6 places before the
  * exact-decimal per-doc mean, so the result is order-independent
  * and engine-portable.
  *
  * [[LmSpec.score]] (Spark) and [[LmSpec.oracleSql]] (DuckDB) both
  * read this one value. */
final case class LmSpec(model: LmModel, hotThreshold: Long = 1L << 20) {
  require(hotThreshold >= 1L, "hotThreshold must be >= 1")
}

object LmSpec {

  /** (doc_id, `model.countCol`, `model.scoreCol`) of `spec` over any
    * (doc_id, text) frame, ordered by doc_id and checkpointed. */
  def score(spec: LmSpec, documents: DataFrame): DataFrame = {
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def persisted(df: DataFrame): DataFrame = {
      cached += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    val toks = TextStats.tokens(col("text"))
    try {
      // (doc_id, g): one row per n-gram occurrence
      val grams = persisted(spec.model match {
        case LmModel.Unigram =>
          documents.select(col("doc_id"), explode(toks).as("g"))
        case _ =>
          documents.select(col("doc_id"), toks.as("toks"))
            .filter(size(col("toks")) >= 2)
            .select(col("doc_id"), explode(transform(
              sequence(lit(1), size(col("toks")) - 1),
              i => concat(element_at(col("toks"), i), lit(" "),
                element_at(col("toks"), i + 1)))).as("g"))
      })
      val counts = grams.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      // (g, cnt, nll_tok), vocabulary-sized: persisted, so the hot-key
      // collect fills it and the join reads it
      val scores = persisted(spec.model match {
        case LmModel.Unigram =>
          counts.crossJoin(broadcast(counts.agg(sum(col("cnt")).as("total"))))
            .select(col("g"), col("cnt"), round(
              log(col("total").cast("double") / col("cnt")), 6).as("nll_tok"))
        case LmModel.AddOneBigram =>
          // c1 and V count every token, also of docs without a bigram
          val c1 = documents.select(explode(toks).as("tok"))
            .groupBy(col("tok")).agg(count(lit(1)).as("c1"))
          counts.join(c1, substring_index(col("g"), " ", 1) === col("tok"))
            .crossJoin(broadcast(c1.agg(count(lit(1)).as("v"))))
            .select(col("g"), col("cnt"), round(log(
              (col("c1") + col("v")).cast("double") / (col("cnt") + lit(1L))),
              6).as("nll_tok"))
        case LmModel.KneserNey =>
          val d = LmModel.KneserNey.D
          // the bigram-type table feeds all four component aggregates;
          // persisted, it saves two jobs over recomputing it (sf0.1)
          val typ = persisted(counts
            .withColumn("prefix", substring_index(col("g"), " ", 1))
            .withColumn("suffix", substring_index(col("g"), " ", -1)))
          val cp = typ.groupBy(col("prefix"))
            .agg(sum(col("cnt")).as("cp"), count(lit(1)).as("n1p"))
          val cs = typ.groupBy(col("suffix")).agg(count(lit(1)).as("n1s"))
          typ.join(cp, "prefix").join(cs, "suffix")
            .crossJoin(broadcast(typ.agg(count(lit(1)).as("t"))))
            .select(col("g"), col("cnt"), round(-log(
              (col("cnt") - lit(d)) / col("cp") +
              lit(d) * col("n1p") / col("cp") * col("n1s") / col("t")),
              6).as("nll_tok"))
      })
      val hot = scores.filter(col("cnt") >= spec.hotThreshold)
        .select(col("g"), col("nll_tok")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val perGram =
        if (hot.isEmpty) grams.join(scores.drop("cnt"), "g")
        else {
          val isHot: Column = col("g").isin(hot.keys.toSeq: _*)
          grams.filter(isHot)
            .withColumn("nll_tok", element_at(typedLit(hot), col("g")))
            .unionByName(grams.filter(!isHot).join(
              scores.filter(col("cnt") < spec.hotThreshold).drop("cnt"), "g"))
        }
      perGram.groupBy(col("doc_id"))
        .agg(count(lit(1)).as(spec.model.countCol),
          avgDec(col("nll_tok")).as(spec.model.scoreCol))
        .orderBy("doc_id")
        .localCheckpoint()
    } finally cached.foreach(_.unpersist())
  }

  /** DuckDB CTEs over `documents` ending in `lm`, the per-doc
    * (doc_id, `model.countCol`, `model.scoreCol`) rows of `spec`;
    * composed oracles splice them. The hot-key split is a Spark plan
    * choice with no SQL counterpart. */
  def oracleCtes(spec: LmSpec): String = {
    val grams = spec.model match {
      case LmModel.Unigram => "unnest(toks) AS g FROM tk"
      case _ =>
        """unnest(list_transform(range(1, len(toks)),
          |    i -> toks[i] || ' ' || toks[i+1])) AS g
          |  FROM tk WHERE len(toks) >= 2""".stripMargin
    }
    val scores = spec.model match {
      case LmModel.Unigram =>
        """tot AS (SELECT sum(cnt) AS total FROM gc),
          |sc AS (SELECT g, round(ln(total::DOUBLE / cnt), 6) AS nll_tok
          |  FROM gc, tot)""".stripMargin
      case LmModel.AddOneBigram =>
        """c1 AS (SELECT tok, count(*) AS c1 FROM
          |    (SELECT unnest(toks) AS tok FROM tk) GROUP BY 1),
          |vv AS (SELECT count(*) AS v FROM c1),
          |sc AS (SELECT g, round(ln((c1 + v)::DOUBLE / (cnt + 1)), 6)
          |    AS nll_tok
          |  FROM gc JOIN c1 ON string_split(g, ' ')[1] = c1.tok, vv)"""
          .stripMargin
      case LmModel.KneserNey =>
        val d = LmModel.KneserNey.D
        s"""ty AS (SELECT g, cnt, string_split(g, ' ')[1] AS prefix,
           |    string_split(g, ' ')[2] AS suffix FROM gc),
           |cp AS (SELECT prefix, CAST(sum(cnt) AS BIGINT) AS cp,
           |    count(*) AS n1p
           |  FROM ty GROUP BY 1),
           |cs AS (SELECT suffix, count(*) AS n1s FROM ty GROUP BY 1),
           |tt AS (SELECT count(*) AS t FROM ty),
           |sc AS (SELECT g, round(-ln(
           |    (cnt - $d) / cp + $d * n1p / cp * n1s / t), 6) AS nll_tok
           |  FROM ty JOIN cp USING (prefix) JOIN cs USING (suffix), tt)"""
          .stripMargin
    }
    s"""tk AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents),
       |gr AS (SELECT doc_id, $grams),
       |gc AS (SELECT g, count(*) AS cnt FROM gr GROUP BY 1),
       |$scores,
       |lm AS (SELECT doc_id, count(*) AS ${spec.model.countCol},
       |    ${sqlAvgDec("nll_tok")} AS ${spec.model.scoreCol}
       |  FROM gr JOIN sc USING (g) GROUP BY doc_id)""".stripMargin
  }

  /** The DuckDB oracle of [[score]]. */
  def oracleSql(spec: LmSpec): String =
    s"WITH ${oracleCtes(spec)}\nSELECT * FROM lm ORDER BY doc_id"
}
