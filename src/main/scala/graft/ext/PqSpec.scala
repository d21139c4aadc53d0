package graft.ext

import graft.queries.QueryUtil.{qidsSql, sqlCosine, sqlSumDec}

/** Which dimensions share a codebook. The true inner product is
  * invariant under all three, so only the quantization error moves. */
sealed trait PqLayout
object PqLayout {
  /** Subspace s owns dims [s·dim/m, (s+1)·dim/m). */
  case object Contiguous extends PqLayout
  /** Dims ranked by exact-decimal variance (DESC, then dim) and dealt
    * round-robin: rank r goes to subspace r % m, slot r / m. */
  case object VarianceBalanced extends PqLayout
  /** A dim×dim rotation applied first (row i = output dim i's
    * coefficients), e.g. [[Pca.opqRotation]]; the same literals
    * replay in the oracle. */
  final case class Rotation(rot: Array[Array[Double]]) extends PqLayout
}

/** One product-quantization index (Jégou et al. 2011): `m` codebooks
  * of `kSub` L2 centroids over dim/m-dim subspaces, `iters` batched
  * Lloyd rounds seeded on the kSub smallest vec_ids, asymmetric (ADC)
  * inner-product scoring. The optional levels compose:
  *
  *  - `coarse` — IVF pruning to the probed label partitions (the
  *    label cells [[IvfSpec]] shares);
  *  - `residual` — codebooks fitted on `v − c(v)` against the coarse
  *    centroid, ADC score `⟨q,c(v)⟩ + Σ LUT` (needs `coarse`);
  *  - `layout` — contiguous, variance-balanced or rotated subspaces;
  *  - `fitSampleMod` > 1 — seeds and Lloyd rounds run on the
  *    deterministic `vec_id % fitSampleMod == 0` sample while the full
  *    corpus is encoded;
  *  - `filter` — candidates restricted on the code index before fine
  *    ranking (fits and codes stay filter-agnostic).
  *
  * [[Similarity.pqSearch]], the stored index
  * ([[Similarity.buildPqIndex]] and its append/probe) and the DuckDB
  * oracle ([[PqSpec.oracleSql]]) all read this one value. */
final case class PqSpec(m: Int, kSub: Int, iters: Int, dim: Int = 64,
    coarse: Option[Coarse.Labels] = None, residual: Boolean = false,
    layout: PqLayout = PqLayout.Contiguous, fitSampleMod: Long = 1L,
    filter: Option[AnnFilter] = None) {
  require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m")
  require(fitSampleMod >= 1L, "fitSampleMod must be >= 1")
  require(!residual || coarse.isDefined,
    "residual encoding needs a coarse level")
  require(!coarse.exists(_.widenForFilter) || filter.isDefined,
    "widenForFilter needs a candidate filter")
  def subDim: Int = dim / m
}

object PqSpec {

  /** The DuckDB oracle of [[Similarity.pqSearch]] under `spec`: every
    * subspace fit unrolled as CTEs (same seeds, same L2 expression
    * tree, same decimal-mean updates), then codes → LUT → ADC →
    * top-`k` for the 16-query sample. `fitWhere` restricts the fit
    * corpus (coarse centroids and codebooks) while every row is still
    * encoded — the stored-index append recipe, whose index is built
    * on the manifest and extended without refit. */
  def oracleSql(spec: PqSpec, k: Int, fitWhere: Option[String] = None)
      : String = {
    import spec._
    val allDims = s"range(1, ${dim + 1})"
    val base = layout match {
      case PqLayout.Contiguous =>
        "base AS (SELECT vec_id, label, emb FROM rawb)"
      case PqLayout.VarianceBalanced =>
        s"""vstat AS (SELECT i,
           |    ${sqlSumDec("emb[i]")} AS s1,
           |    ${sqlSumDec("emb[i] * emb[i]")} AS s2,
           |    count(*) AS n
           |  FROM rawb CROSS JOIN $allDims t(i) GROUP BY i),
           |vr AS (SELECT i, round((s2 - s1 * s1 / n) / n, 6) AS variance
           |  FROM vstat),
           |rk AS (SELECT i AS olddim, CAST(row_number() OVER (
           |      ORDER BY variance DESC, i) - 1 AS INT) AS r FROM vr),
           |dm AS (SELECT (r % $m) * $subDim + (r // $m) AS newpos, olddim
           |  FROM rk),
           |pm AS (SELECT list(olddim ORDER BY newpos) AS pm FROM dm),
           |base AS (SELECT vec_id, label,
           |    list_transform($allDims, p -> emb[pm[p]]) AS emb
           |  FROM rawb CROSS JOIN pm)""".stripMargin
      case PqLayout.Rotation(rot) =>
        val rows = rot.map(_.zipWithIndex
          .map { case (r, j) => s"($r) * emb[${j + 1}]" }.mkString(" + "))
          .mkString(",\n      ")
        // MATERIALIZED: a dim²-term expression per row that the body
        // references ~20 times; DuckDB would re-evaluate an inlined
        // CTE at every reference (minutes instead of seconds at
        // sf0.01)
        s"""base AS MATERIALIZED (SELECT vec_id, label, list_value(
           |      $rows) AS emb
           |  FROM rawb)""".stripMargin
    }
    val coarseSrc = fitWhere.fold("base")(w =>
      s"(SELECT label, emb FROM base WHERE $w)")
    val coarseCtes =
      coarse.fold("")(_ => Coarse.centroidsSql(coarseSrc, dim) + ",\n")
    val residualCte =
      if (!residual) ""
      else s"""rbase AS (SELECT b.vec_id,
              |    list_transform($allDims,
              |      i -> b.emb[i] - c.centroid[i]) AS emb
              |  FROM base b JOIN cent c ON b.label = c.label),
              |""".stripMargin
    val encSrc = if (residual) "rbase" else "base"
    val fitConds = fitWhere.toSeq ++
      (if (fitSampleMod > 1L) Seq(s"vec_id % $fitSampleMod = 0") else Nil)
    def l2(a: String, b: String) = // Similarity.l2sq's expression tree
      s"round(list_dot_product($a, $a) - 2 * list_dot_product($a, $b)" +
        s" + list_dot_product($b, $b), 6)"
    def assign(src: String, cent: String, out: String) =
      s"""$out AS (SELECT vec_id, emb, cid FROM (
         |  SELECT b.vec_id, b.emb, c.cid,
         |    row_number() OVER (PARTITION BY b.vec_id
         |      ORDER BY ${l2("b.emb", "c.centroid")} ASC, c.cid)
         |      AS rn
         |  FROM $src b CROSS JOIN $cent c) WHERE rn = 1)""".stripMargin
    def update(assigned: String, out: String) =
      s"""${out}d AS (SELECT cid, i, ${sqlSumDec("emb[i]")} / count(*) AS cv
         |  FROM $assigned CROSS JOIN range(1, ${subDim + 1}) t(i)
         |  GROUP BY cid, i),
         |$out AS (SELECT cid, list(cv ORDER BY i) AS centroid
         |  FROM ${out}d GROUP BY cid)""".stripMargin
    def codebook(s: Int) = s"c${s}_$iters"
    def sub(v: String, s: Int) = s"$v[${s * subDim + 1}:${(s + 1) * subDim}]"
    // per subspace s: e = encode slice, f = fit slice, c_0 = seeds,
    // a_r/c_r = Lloyd assign/update round r, m = the codes
    val fits = (0 until m).map { s =>
      val fit = if (fitConds.isEmpty) s"e$s" else s"f$s"
      val fitCte =
        if (fitConds.isEmpty) ""
        else s"f$s AS (SELECT vec_id, emb FROM e$s WHERE " +
          fitConds.mkString(" AND ") + "),\n"
      val rounds = (1 to iters).map { r =>
        s"${assign(fit, s"c${s}_${r - 1}", s"a${s}_$r")},\n" +
          update(s"a${s}_$r", s"c${s}_$r")
      }
      s"""e$s AS (SELECT vec_id, ${sub("emb", s)} AS emb FROM $encSrc),
         |${fitCte}c${s}_0 AS (SELECT CAST(rn - 1 AS INT) AS cid,
         |    emb AS centroid
         |  FROM (SELECT emb, row_number() OVER (ORDER BY vec_id) AS rn
         |    FROM $fit) WHERE rn <= $kSub),
         |${(rounds :+ assign(s"e$s", codebook(s), s"m$s")).mkString(",\n")}"""
        .stripMargin
    }.mkString(",\n")
    val probeCtes = coarse.fold("") { c =>
      val qc =
        if (residual) Seq("list_dot_product(q.q_emb, c.centroid) AS qc_dot")
        else Nil
      s"""${Coarse.probedSql("probed", "q CROSS JOIN cent c",
            Seq("q.query_id", "c.label") ++ qc,
            sqlCosine("q.q_emb", "c.centroid"), Seq("query_id"), "label",
            Coarse.nprobeSql(c, filter, "base"))},
         |codesl AS (SELECT c.vec_id, b.label, c.sub, c.cid
         |  FROM codes c JOIN base b ON c.vec_id = b.vec_id),
         |""".stripMargin
    }
    val index = if (coarse.isDefined) "codesl" else "codes"
    val (cand, candCte) = filter.fold((index, "")) { f =>
      ("cand", s"cand AS (SELECT * FROM $index WHERE ${f.sql}),\n")
    }
    val (probedJoin, lutOn) =
      if (coarse.isEmpty) ("", "")
      else ("\n  JOIN probed p ON k.label = p.label",
        "l.query_id = p.query_id AND ")
    val (coarseTerm, qcGroup) =
      if (residual) ("p.qc_dot + ", ", p.qc_dot") else ("", "")
    val codes = (0 until m)
      .map(s => s"SELECT vec_id, $s AS sub, cid FROM m$s")
      .mkString("\n  UNION ALL ")
    // pdot raw: the decimal cast inside the sum is the one
    // quantization point (see Similarity.pqLut)
    val lut = (0 until m)
      .map(s => s"SELECT query_id, $s AS sub, cid, list_dot_product(" +
        s"${sub("q_emb", s)}, centroid)" +
        s" AS pdot FROM q CROSS JOIN ${codebook(s)}")
      .mkString("\n  UNION ALL ")
    s"""WITH rawb AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |$base,
       |$coarseCtes$residualCte$fits,
       |${qidsSql()},
       |q AS (SELECT b.vec_id AS query_id, b.emb AS q_emb
       |  FROM base b JOIN qids s ON b.vec_id = s.vec_id),
       |codes AS ($codes),
       |$probeCtes${candCte}lut AS ($lut),
       |scored AS (SELECT l.query_id, k.vec_id AS neighbor_id,
       |    round($coarseTerm${sqlSumDec("pdot")}, 6) AS adc_dot
       |  FROM $cand k$probedJoin
       |  JOIN lut l ON ${lutOn}l.sub = k.sub AND l.cid = k.cid
       |  WHERE k.vec_id <> l.query_id
       |  GROUP BY l.query_id, k.vec_id$qcGroup),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_dot DESC, neighbor_id ASC) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, adc_dot, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }
}
