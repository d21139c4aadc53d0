package graft.ext

import graft.queries.QueryUtil.{sqlCosine, vectorRowsSql}

/** One embedding-cosine near-dup run: multi-table hyperplane LSH
  * blocking, then exact verification. Each of `tables` independent
  * tables cuts the corpus into the sign patterns of its own seeded
  * hyperplanes (table t draws from seed `seed + t`); a pair is a
  * candidate if it shares any table's bucket (the OR-construction),
  * and a candidate is kept if its rounded cosine is ≥ `threshold`.
  * Miss probability for a pair at angle θ is (1 − (1 − θ/π)^p)^T —
  * 8 tables × 2 planes ≈ 1.3% at cos 0.45.
  *
  * Each table has `planes` = clamp(1, 24, bitlength(k − 1)) hyperplanes,
  * k = `buckets.of(rows)` over the guarded corpus (no NULL, NULL-element
  * or zero-norm embedding): `Fixed(4)` is 2 planes whatever the corpus
  * size, while a row-derived rule such as `PerRowsMin2(64)` keeps the
  * mean bucket population, and with it the per-bucket pair work Σ|b|²
  * ≈ n·64, linear in the corpus (a fixed plane count makes the self-join
  * quadratic: 4 buckets per table at 200k vectors is ~10^10 candidate
  * pairs per table). Embeddings have `dim` dimensions.
  *
  * [[Similarity.embedDupPairs]] (the self-join),
  * [[Similarity.embedDupProbe]] (eval side vs. corpus side) and the
  * DuckDB oracle ([[EmbedDupSpec.oracleSql]]) all read this one value. */
final case class EmbedDupSpec(tables: Int, buckets: Coarse.KRule,
    seed: Long, threshold: Double, dim: Int = 64) {
  require(tables >= 1, "need at least one LSH table")

  /** Hyperplanes per table for a corpus of `rows` guarded vectors
    * (a fixed rule never counts them). */
  def planes(rows: => Long): Int = {
    val k = buckets.of(rows)
    math.max(1, math.min(24, 32 - Integer.numberOfLeadingZeros(k - 1)))
  }
}

object EmbedDupSpec {

  /** Plane literals the oracle inlines per table for a row-derived
    * rule: corpora to 64·2^12 ≈ 262k vectors at `PerRowsMin2(64)`. */
  private val PMax = 12

  /** The DuckDB oracle of `spec` over the embeddings table: the
    * self-join pairs (vec_a, vec_b, cos_sim) by id pair, or with
    * `evalMod` one verdict row per eval vector (`vec_id % evalMod = 0`)
    * against the rest, (eval_id, n_matches, best_sim, contaminated) by
    * eval_id. Planes are drawn sequentially from one seeded PRNG, so
    * plane i is the same for every plane count above i: a row-derived
    * rule inlines [[PMax]] planes per table, masks the bucket to the
    * derived count's low bits, and raises a SQL error when the derived
    * count exceeds [[PMax]] rather than silently diverging. */
  def oracleSql(spec: EmbedDupSpec, evalMod: Option[Int] = None): String = {
    import spec._
    val (inlined, params, mask) = buckets match {
      case Coarse.Fixed(_) => (planes(0L), "", "")
      case rule =>
        (PMax,
          s"""params AS (SELECT CASE WHEN p > $PMax THEN CAST(error(
             |    'EmbedDupSpec oracle: more planes than the $PMax inlined')
             |    AS INT) ELSE p END AS p
             |  FROM (SELECT LEAST(24, GREATEST(1,
             |    length(bin((${rule.sql("base")}) - 1)))) AS p)),
             |""".stripMargin,
          " & ((1 << (SELECT p FROM params)) - 1)")
    }
    val keyed = (0 until tables).map { t =>
      val lsh = Coarse.Lsh(inlined, 1, seed + t, dim)
      s"SELECT vec_id, $t AS tbl,\n    (${lsh.bucketSql("emb")})$mask" +
        " AS bucket FROM base"
    }.mkString("\n  UNION ALL ")
    val side = evalMod.fold("a.vec_id < b.vec_id")(m =>
      s"a.vec_id % $m = 0 AND b.vec_id % $m <> 0")
    val hits =
      s"""WITH base AS (${vectorRowsSql()}),
         |${params}keyed AS ($keyed),
         |cand AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM keyed a JOIN keyed b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |  WHERE $side),
         |hits AS (SELECT DISTINCT * FROM (SELECT vec_a, vec_b,
         |    ${sqlCosine("ea.emb", "eb.emb")} AS cos_sim
         |  FROM cand JOIN base ea ON ea.vec_id = vec_a
         |    JOIN base eb ON eb.vec_id = vec_b)
         |  WHERE cos_sim >= $threshold)""".stripMargin
    evalMod.fold(hits +
        "\nSELECT vec_a, vec_b, cos_sim FROM hits ORDER BY vec_a, vec_b") {
      m =>
        s"""$hits,
           |per AS (SELECT vec_a, count(*) AS n_matches,
           |    max(cos_sim) AS best_sim
           |  FROM hits GROUP BY vec_a)
           |SELECT b.vec_id AS eval_id,
           |  coalesce(p.n_matches, 0) AS n_matches, p.best_sim,
           |  p.n_matches IS NOT NULL AS contaminated
           |FROM base b LEFT JOIN per p ON b.vec_id = p.vec_a
           |WHERE b.vec_id % $m = 0 ORDER BY eval_id""".stripMargin
    }
  }
}
