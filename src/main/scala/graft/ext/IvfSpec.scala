package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.queries.QueryUtil.{kmUnrolledSql, qidsSql, quantizeSql,
  sqlCosine, sqlSumDec, vectorRowsSql}

/** The coarse level of an ANN index: how the corpus is cut into cells
  * and which of them each query probes; [[IvfSpec]] searches with
  * every variant. The centroid levels (labels, k-means, two-level)
  * probe by one rule: keep the `nprobe` cells of best rounded
  * similarity, ties to the smaller cell id. [[Coarse.Exhaustive]]
  * has one cell and nothing to probe; [[Coarse.Lsh]] has no centroids
  * and probes by hyperplane margins. */
sealed trait Coarse { def nprobe: Int }

object Coarse {

  /** One cell holding the whole corpus: every query scans every
    * candidate (the exact flat scan, O(|Q|·|C|)). */
  case object Exhaustive extends Coarse { def nprobe: Int = 1 }

  /** Random-hyperplane LSH cells: a vector's cell is the sign pattern of
    * its projections on `planes` seeded hyperplanes of `dim`
    * ([[Similarity.hyperplanes]]; ids from the
    * [[graft.functions.HyperplaneBuckets]] kernel). A query probes its
    * own bucket plus the buckets across its `nprobe − 1` lowest-|margin|
    * planes, ties by bit — multi-probe LSH (Lv et al. 2007): the planes
    * a near neighbor most plausibly fell on the other side of. Every
    * margin is one IEEE dot, so the probe set is engine-reproducible. */
  final case class Lsh(planes: Int, nprobe: Int, seed: Long,
      dim: Int = 64) extends Coarse {
    require(nprobe >= 1 && nprobe <= planes + 1,
      s"nprobe $nprobe outside 1..${planes + 1}")

    def hyperplanes: Seq[Seq[Double]] =
      Similarity.hyperplanes(planes, dim, seed)

    /** The bucket id of the DOUBLE[] SQL expression `v`: the
      * plane-literal sum the kernel computes. */
    def bucketSql(v: String): String =
      hyperplanes.zipWithIndex.map { case (pl, i) =>
        s"CASE WHEN list_dot_product($v, ${literal(pl)}) > 0 " +
          s"THEN ${1 << i} ELSE 0 END"
      }.mkString("\n    + ")

    /** The (margin, bit) struct list of `v`, one per plane. */
    private[ext] def marginsSql(v: String): String =
      hyperplanes.zipWithIndex.map { case (pl, i) =>
        s"{'m': abs(list_dot_product($v, ${literal(pl)})), 'bit': ${1 << i}}"
      }.mkString("[", ",\n      ", "]")

    private def literal(pl: Seq[Double]): String = pl.mkString("[", ", ", "]")
  }

  /** The per-label exact decimal-mean centroids. `widenForFilter`
    * derives the probe count from the candidate filter's selectivity
    * instead (min(labels, ⌈nprobe·N / N_match⌉),
    * [[Similarity.autoNprobe]]). */
  final case class Labels(nprobe: Int, widenForFilter: Boolean = false)
      extends Coarse

  /** A deterministic k-means quantizer ([[Similarity.kmeansCentroids]]):
    * `iters` Lloyd rounds seeded on the k smallest vec_ids, fitted on
    * the `vec_id % fitSampleMod == 0` sample while the whole corpus is
    * assigned. */
  final case class Kmeans(k: KRule, iters: Int, nprobe: Int,
      fitSampleMod: Long = 1L) extends Coarse {
    require(fitSampleMod >= 1L, "fitSampleMod must be >= 1")
  }

  /** Label cells split into `k2` k-means sub-cells each; a query probes
    * `nprobe` labels, then `nprobe2` sub-cells inside each. */
  final case class TwoLevel(nprobe: Int, k2: Int, nprobe2: Int,
      iters: Int) extends Coarse

  /** How many k-means cells a corpus of `rows` rows gets (a fixed k
    * never counts them). */
  sealed trait KRule {
    def of(rows: => Long): Int
    /** The same rule as a DuckDB scalar over the CTE `from`. */
    def sql(from: String): String
  }
  final case class Fixed(n: Int) extends KRule {
    def of(rows: => Long): Int = n
    def sql(from: String): String = n.toString
  }
  /** ⌈N / target⌉: cell size, and with it probe cost, stays flat. */
  final case class PerRows(target: Int) extends KRule {
    def of(rows: => Long): Int =
      math.max(1, math.ceil(rows.toDouble / target).toInt)
    def sql(from: String): String =
      s"SELECT CAST(ceil(count(*) / $target.0) AS INT) FROM $from"
  }
  /** max(2, ⌈N / target⌉) in integer arithmetic: the flat SemDeDup
    * grid's rule — cell size stays flat and blocking always splits. */
  final case class PerRowsMin2(target: Long) extends KRule {
    require(target >= 1, "target must be >= 1")
    def of(rows: => Long): Int =
      math.max(2L, (rows + target - 1) / target).min(Int.MaxValue).toInt
    def sql(from: String): String =
      s"SELECT GREATEST(2, (count(*) + ${target - 1}) // $target) FROM $from"
  }
  /** ⌈√N⌉, the classical IVF operating point (IEEE sqrt is correctly
    * rounded, so both engines agree). */
  case object SqrtRows extends KRule {
    def of(rows: => Long): Int =
      math.max(1, math.ceil(math.sqrt(rows.toDouble)).toInt)
    def sql(from: String): String =
      s"SELECT CAST(ceil(sqrt(count(*))) AS INT) FROM $from"
  }

  /** `dims`/`cent`: the label centroids of the (label, emb) CTE `src`
    * as exact decimal means — [[Similarity.labelCentroids]]' mirror. */
  def centroidsSql(src: String, dim: Int): String =
    s"""dims AS (SELECT label, i, ${sqlSumDec("emb[i]")} / count(*) AS cv
       |  FROM $src CROSS JOIN range(1, ${dim + 1}) t(i)
       |  GROUP BY label, i),
       |cent AS (SELECT label, list(cv ORDER BY i) AS centroid
       |  FROM dims GROUP BY label)""".stripMargin

  /** `${name}s`/`name`: each query's probed cells —
    * [[Similarity.probeCells]]' mirror. `pairs` is the FROM clause of
    * (query, cell) pairs, `cols` the columns kept (expressions with
    * an alias or a qualified name), `sim` the rounded similarity,
    * ranked per `part`. */
  def probedSql(name: String, pairs: String, cols: Seq[String],
      sim: String, part: Seq[String], cell: String, nprobe: String)
      : String = {
    val out = cols.map(_.split(" AS |\\.").last)
    s"""${name}s AS (SELECT ${cols.mkString(", ")}, $sim AS c_sim
       |  FROM $pairs),
       |$name AS (SELECT ${out.mkString(", ")} FROM (
       |    SELECT *, row_number() OVER (PARTITION BY ${part.mkString(", ")}
       |      ORDER BY c_sim DESC, $cell ASC) AS prn FROM ${name}s)
       |  WHERE prn <= $nprobe)""".stripMargin
  }

  /** The probe count of `c` over the CTE `base` as SQL: the literal, or
    * the selectivity-widened scalar subquery. */
  def nprobeSql(c: Labels, filter: Option[AnnFilter], base: String)
      : String =
    if (!c.widenForFilter) c.nprobe.toString
    else {
      val hits = s"sum(CASE WHEN ${filter.get.sql} THEN 1 ELSE 0 END)"
      s"(SELECT least(count(DISTINCT label), " +
        s"(${c.nprobe} * count(*) + $hits - 1) // $hits) FROM $base)"
    }
}

/** What the fine ranking scores: the exact double cosine, the
  * quantized cosine of the 72-byte int8 codes
  * ([[graft.functions.QuantizeOps]]) for corpus, centroids and
  * queries alike, or the asymmetric PQ inner product. */
sealed trait IvfCodes
object IvfCodes {
  case object Exact extends IvfCodes
  /** `rerank = Some(n)`: keep the n best int8 candidates per query and
    * rescore them with the exact cosine. */
  final case class Int8(rerank: Option[Int] = None) extends IvfCodes

  /** Product quantization (Jégou et al. 2011): `m` codebooks of `kSub`
    * L2 centroids over dim/m-dim subspaces, `iters` Lloyd rounds
    * seeded on the kSub smallest vec_ids (on the
    * `vec_id % fitSampleMod == 0` sample while every row is encoded).
    * A corpus vector is its m cids; a query keeps its raw vector and
    * is probed by exact cosine, and a candidate scores the ADC sum of
    * the query's m partial dots at its codes, `adc_dot`. `residual`
    * encodes `v − c(v)` against the vector's label centroid and adds
    * the coarse term ⟨q,c⟩; `layout` chooses which dims share a
    * codebook. */
  final case class Pq(m: Int, kSub: Int, iters: Int,
      layout: PqLayout = PqLayout.Contiguous, residual: Boolean = false,
      fitSampleMod: Long = 1L, dim: Int = 64) extends IvfCodes {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m")
    require(fitSampleMod >= 1L, "fitSampleMod must be >= 1")
    def subDim: Int = dim / m
  }
}

/** Which dimensions share a PQ codebook. The true inner product is
  * invariant under all three, so only the quantization error moves. */
sealed trait PqLayout
object PqLayout {
  /** Subspace s owns dims [s·dim/m, (s+1)·dim/m). */
  case object Contiguous extends PqLayout
  /** Dims ranked by exact-decimal variance (DESC, then dim) and dealt
    * round-robin: rank r goes to subspace r % m, slot r / m. */
  case object VarianceBalanced extends PqLayout
  /** A dim×dim rotation applied first (row i = output dim i's
    * coefficients), e.g. [[CovSpec.opqRotation]]; the same literals
    * replay in the oracle. */
  final case class Rotation(rot: Array[Array[Double]]) extends PqLayout
}

/** A candidate restriction applied before fine ranking (the coarse
  * level stays filter-agnostic): the Spark predicate and its DuckDB
  * mirror over the same `vec_id`. */
final case class AnnFilter(column: Column, sql: String)
object AnnFilter {
  /** Candidates whose vec_id is a multiple of `n`. */
  def vecIdMultipleOf(n: Int): AnnFilter =
    AnnFilter(pmod(col("vec_id"), lit(n)) === 0,
      s"((vec_id % $n) + $n) % $n = 0")
}

/** One inverted-file ANN search: the corpus is cut into `coarse`
  * cells, each query probes its nearest cells, and only the vectors
  * in them are scored under `codes`, optionally restricted by
  * `filter`. `otherLabel` mines hard negatives: the query's own label
  * cell is never probed and same-label candidates are dropped. The
  * flat scan ([[Coarse.Exhaustive]]) and LSH buckets ([[Coarse.Lsh]])
  * are two more coarse levels, so every cosine top-k here is a spec,
  * and PQ codes ([[IvfCodes.Pq]]) a third kind of fine ranking.
  *
  * [[Similarity.ivfSearch]] (a query-id set), the ingest gate
  * ([[Similarity.ivfBuild]] + [[Similarity.ivfProbe]], an incoming
  * batch against a frozen index), the stored PQ index
  * ([[Similarity.buildPqIndex]] and its append/probe) and the DuckDB
  * oracle ([[IvfSpec.oracleSql]]) all read this one value. */
final case class IvfSpec(coarse: Coarse,
    codes: IvfCodes = IvfCodes.Exact, filter: Option[AnnFilter] = None,
    otherLabel: Boolean = false) {
  private def labelOrFlat = coarse match {
    case _: Coarse.Labels | Coarse.Exhaustive => true
    case _ => false
  }
  require(codes == IvfCodes.Exact || labelOrFlat,
    "int8 and PQ codes run on label cells or the exhaustive scan")
  require(!otherLabel || labelOrFlat,
    "otherLabel excludes label cells or filters the exhaustive scan")
  require(coarse match {
    case c: Coarse.Labels => !c.widenForFilter || filter.isDefined
    case _ => true
  }, "widenForFilter needs a candidate filter")
  require(!pq.exists(_.residual) || coarse.isInstanceOf[Coarse.Labels],
    "residual encoding needs label cells")

  private[ext] def pq: Option[IvfCodes.Pq] =
    PartialFunction.condOpt(codes) { case p: IvfCodes.Pq => p }

  /** The fine score's column: PQ ranks by its ADC inner product. */
  private[ext] def score: String = if (pq.isDefined) "adc_dot" else "cos_sim"

  /** The codes the cells are probed with: a PQ query keeps its raw
    * vector, so PQ probes by the exact cosine. */
  private[ext] def probeCodes: IvfCodes =
    if (pq.isDefined) IvfCodes.Exact else codes

  /** The corpus keeps its label: label cells and the hard-negative
    * exclusion read it. */
  private[ext] def keepsLabel: Boolean = coarse match {
    case _: Coarse.Labels | _: Coarse.TwoLevel => true
    case _ => otherLabel
  }

  /** The corpus is read by several jobs — the Lloyd fit, or the label
    * centroid pass ahead of quantization — so the search persists it
    * and materializes its top-k before releasing it. The other
    * single-cell and LSH searches read it once. */
  private[ext] def persistsCorpus: Boolean = coarse match {
    case _: Coarse.Kmeans => true
    case _: Coarse.Labels => codes != IvfCodes.Exact
    case _ => pq.isDefined
  }

  /** The k-means fine-rank join carries no broadcast hint: an ingest
    * batch, which the probed frame scales with, can be large. */
  private[ext] def hintsProbed: Boolean = !coarse.isInstanceOf[Coarse.Kmeans]
}

/** Which vectors query an [[IvfSpec]] catalog search; the Spark entry
  * and [[IvfSpec.oracleSql]] read the same value. */
sealed trait QuerySet
object QuerySet {
  /** The `n` ids of [[Similarity.sampleQueryIds]]: |Q| stays fixed, so
    * the search is linear in the corpus. */
  final case class Sample(n: Int) extends QuerySet
  /** Every id that is a multiple of `n`: |Q| grows with the corpus
    * (the full-scan reference shape), so the queries carry no
    * broadcast hint ([[Similarity.ivfSearchWhere]]). */
  final case class EveryNth(n: Int) extends QuerySet
  /** The ingest gate: the index holds the ids that are not multiples
    * of `n`, the multiples probe it, (new_id, match_id) out. */
  final case class Gate(n: Int) extends QuerySet
}

object IvfSpec {

  /** The embeddings table's dimension (the oracle unrolls per dim). */
  private val Dim = 64

  /** The DuckDB oracle of `spec` over `queries`, top-`k` per query.
    * `fitWhere` restricts the fits (label centroids, PQ codebooks) to
    * the rows it passes while every row is still encoded: the stored
    * PQ index built on a manifest and appended to without refit. */
  def oracleSql(spec: IvfSpec, k: Int, queries: QuerySet,
      fitWhere: Option[String] = None): String =
    queries match {
      // sampled, like the Spark entry, among the non-NULL rows
      case QuerySet.Sample(n) => searchSql(spec, k, qidsSql(n,
        "(SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL)"),
        fitWhere)
      case QuerySet.EveryNth(n) => searchSql(spec, k,
        s"qids AS (SELECT vec_id FROM base WHERE vec_id % $n = 0)")
      case QuerySet.Gate(n) =>
        sql(spec, k,
          s"base AS (${vectorRowsSql(s" AND vec_id % $n <> 0")}),\n" +
            s"newb AS (${vectorRowsSql(s" AND vec_id % $n = 0")})", None,
          None)
    }

  /** The oracle of [[Similarity.ivfSearch]] for the ids of the CTE
    * `qids` (one `vec_id` column; it may read the corpus CTE `base` or
    * the CTEs of an enclosing query): (query_id, neighbor_id,
    * [neg_label,] cos_sim | adc_dot, rank), ordered. */
  def searchSql(spec: IvfSpec, k: Int, qids: String,
      fitWhere: Option[String] = None): String =
    sql(spec, k, spec.pq.fold(s"base AS (${vectorRowsSql()})")(layoutSql),
      Some(qids), fitWhere)

  /** The search over the corpus CTE(s) `corpus`: queried by `qids`, or
    * without it the gate's `newb` batch. */
  private def sql(spec: IvfSpec, k: Int, corpus: String,
      qids: Option[String], fitWhere: Option[String]): String = {
    import spec._
    val int8 = codes.isInstanceOf[IvfCodes.Int8]
    val dim = pq.fold(Dim)(_.dim)
    val (qid, nid) =
      if (qids.isEmpty) ("new_id", "match_id")
      else ("query_id", "neighbor_id")
    // the codes: corpus (…, emb) or (…, qv, qn), queries q_-prefixed;
    // PQ queries keep q_emb and add their ADC table q_lut
    val quantized = if (int8) Seq(quantizeSql(" label,")) else Nil
    val coded = if (int8) "qn" else "base"
    val members0 = if (pq.isDefined) "pqm" else coded
    val vec = if (int8) Seq("qv", "qn") else Seq("emb")
    def sim(a: String, b: String): String =
      if (int8) s"round(list_dot_product($a.q_qv, $b.qv) / " +
        s"($a.q_qn * $b.qn), 6)"
      else sqlCosine(s"$a.q_emb", s"$b.emb")
    val qLabel = if (otherLabel) Seq("q_label") else Nil
    val qCols = vec.map(v => s"q_$v") ++ pq.map(_ => "q_lut") ++ qLabel
    val queries = qids.fold(
      "q AS (SELECT vec_id AS new_id, emb AS q_emb FROM newb)")(ids =>
      s"""$ids,
         |q AS (SELECT b.vec_id AS query_id,
         |    ${(vec.map(v => s"b.$v AS q_$v") ++
                 pq.map(p => s"${lutSql(p, "b.emb")} AS q_lut") ++
                 qLabel.map(_ => "b.label AS q_label")).mkString(", ")}
         |  FROM $coded b JOIN qids s ON b.vec_id = s.vec_id${
              pq.fold("")(_ => " CROSS JOIN pqbook k")})"""
        .stripMargin)
    def probeCols(cell: String*) = (qid +: qCols).map(c => s"q.$c") ++
      cell.map(c => s"c.$c")
    val centCtes = coarse match {
      case _: Coarse.Labels | _: Coarse.TwoLevel => Seq(Coarse.centroidsSql(
        fitWhere.fold("base")(w => s"(SELECT label, emb FROM base WHERE $w)"),
        dim))
      case _ => Nil
    }
    // cell centroids renamed to the corpus' code columns
    val (coarseCtes, members, join) = coarse match {
      case Coarse.Exhaustive => (Nil, members0, "CROSS JOIN q p")
      case c: Coarse.Lsh =>
        val own = s"SELECT $qid, q_emb, q_bucket AS bucket FROM qb"
        val probes =
          if (c.nprobe == 1) Seq(s"probed AS ($own)")
          else Seq(
            s"""mg AS (SELECT $qid, q_emb, q_bucket,
               |    unnest(${c.marginsSql("q_emb")}) AS s
               |  FROM qb)""".stripMargin,
            s"""fl AS (SELECT $qid, q_emb, q_bucket, s.bit,
               |    row_number() OVER (PARTITION BY $qid
               |      ORDER BY s.m ASC, s.bit ASC) AS rn
               |  FROM mg)""".stripMargin,
            s"""probed AS ($own
               |  UNION ALL
               |  SELECT $qid, q_emb, xor(q_bucket, bit) FROM fl
               |  WHERE rn <= ${c.nprobe - 1})""".stripMargin)
        (s"""bk AS (SELECT vec_id, label, emb,
            |    ${c.bucketSql("emb")} AS bucket
            |  FROM base)""".stripMargin +:
          s"""qb AS (SELECT $qid, q_emb,
             |    ${c.bucketSql("q_emb")} AS q_bucket
             |  FROM q)""".stripMargin +: probes,
          "bk", "JOIN probed p ON m.bucket = p.bucket")
      case c: Coarse.Labels =>
        val cents =
          if (!int8) "cents AS (SELECT label, centroid AS emb FROM cent)"
          else quantizeSql(src = "(SELECT label, centroid AS emb " +
            "FROM cent)", key = "label", prefix = "c")
        val pairs = s"q CROSS JOIN ${if (int8) "cqn" else "cents"} c" +
          (if (otherLabel) " WHERE c.label <> q.q_label" else "")
        // a residual spec's coarse ADC term, free at probe time
        val qc = if (pq.exists(_.residual))
          Seq("list_dot_product(q.q_emb, c.emb) AS qc_dot") else Nil
        (Seq(cents, Coarse.probedSql("probed", pairs,
            probeCols("label") ++ qc, sim("q", "c"), Seq(qid), "label",
            Coarse.nprobeSql(c, filter, "base"))),
          members0, "JOIN probed p ON m.label = p.label")
      case c: Coarse.Kmeans =>
        val fit =
          if (c.fitSampleMod == 1L) "base"
          else s"(SELECT * FROM base WHERE vec_id % ${c.fitSampleMod} = 0)"
        (Seq(kmUnrolledSql(fit, "base", c.k.sql("base"), c.iters),
          s"cents AS (SELECT cid, centroid AS emb FROM c${c.iters})",
          Coarse.probedSql("probed", "q CROSS JOIN cents c",
            probeCols("cid"), sim("q", "c"), Seq(qid), "cid",
            c.nprobe.toString)),
          "members", "JOIN probed p ON m.cid = p.cid")
      case c: Coarse.TwoLevel =>
        (Seq("cents AS (SELECT label, centroid AS emb FROM cent)",
          kmUnrolledSql("base", "base", c.k2.toString, c.iters,
            Some("label"), dim = Dim),
          Coarse.probedSql("probed", "q CROSS JOIN cents c",
            probeCols("label"), sim("q", "c"), Seq(qid), "label",
            c.nprobe.toString),
          s"subs AS (SELECT label, scid, centroid AS emb FROM sc${c.iters})",
          Coarse.probedSql("probed2",
            "probed q JOIN subs c ON q.label = c.label",
            probeCols("label", "scid"), sim("q", "c"),
            Seq(qid, "label"), "scid", c.nprobe2.toString)),
          "members",
          "JOIN probed2 p ON m.label = p.label AND m.scid = p.scid")
    }
    val cand = filter.fold(members)(f =>
      s"(SELECT * FROM $members WHERE ${f.sql})")
    val negLabel = if (otherLabel) "m.label AS neg_label, " else ""
    val notSame = if (otherLabel) " AND m.label <> p.q_label" else ""
    val ranked =
      s"""scored AS (SELECT p.$qid, m.vec_id AS $nid, $negLabel
         |    ${pq.fold(sim("p", "m"))(adcSql)} AS $score
         |  FROM $cand m $join
         |  WHERE m.vec_id <> p.$qid$notSame),
         |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY $qid
         |    ORDER BY $score DESC, $nid ASC) AS INT) AS rank
         |  FROM scored)""".stripMargin
    val out = if (otherLabel) s"$qid, $nid, neg_label" else s"$qid, $nid"
    val tail = codes match {
      case IvfCodes.Int8(Some(n)) =>
        s""",
           |cand AS (SELECT query_id, neighbor_id FROM ranked
           |  WHERE rank <= $n),
           |ex AS (SELECT c.query_id, c.neighbor_id,
           |    ${sqlCosine("qb.emb", "nb.emb")} AS cos_sim
           |  FROM cand c
           |  JOIN base nb ON nb.vec_id = c.neighbor_id
           |  JOIN base qb ON qb.vec_id = c.query_id),
           |rr AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
           |    ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
           |  FROM ex)
           |SELECT query_id, neighbor_id, cos_sim, rank FROM rr
           |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
      case _ =>
        s"""
           |SELECT $out, $score, rank FROM ranked
           |WHERE rank <= $k ORDER BY $qid, rank""".stripMargin
    }
    ((corpus +: quantized) ++ centCtes ++
      pq.toSeq.flatMap(codesSql(_, fitWhere)) ++ (queries +: coarseCtes) :+
      ranked).mkString("WITH ", ",\n", tail)
  }

  /** The PQ corpus CTE `base`: the guarded rows (`rawb`) in the
    * subspace layout of `p`. */
  private def layoutSql(p: IvfCodes.Pq): String = {
    import p._
    val allDims = s"range(1, ${dim + 1})"
    val rawb = s"rawb AS (${vectorRowsSql()}),\n"
    p.layout match {
      case PqLayout.Contiguous => s"base AS (${vectorRowsSql()})"
      case PqLayout.VarianceBalanced =>
        rawb + s"""vstat AS (SELECT i,
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
        rawb + s"""base AS MATERIALIZED (SELECT vec_id, label, list_value(
           |      $rows) AS emb
           |  FROM rawb)""".stripMargin
    }
  }

  /** The PQ code level of `p` over `base`: residuals `rbase` against
    * the label centroids `cent`; every row's m subspace slices `pqs`;
    * the m codebooks as one k-means keyed by `sub` under L2 (the Spark
    * fit's seeds, L2 expression tree and decimal-mean updates, fitted
    * on the rows `fitWhere` and the sample pass), each slice's code
    * `pqa`; then each vector's code list (`codes`), the coded corpus
    * (`pqm`) and the codebooks as one cid-slotted list per subspace
    * (`pqbook`). */
  private def codesSql(p: IvfCodes.Pq, fitWhere: Option[String])
      : Seq[String] = {
    import p._
    val residualCte =
      if (!residual) Nil
      else Seq(s"""rbase AS (SELECT b.vec_id,
              |    list_transform(range(1, ${dim + 1}),
              |      i -> b.emb[i] - c.centroid[i]) AS emb
              |  FROM base b JOIN cent c ON b.label = c.label)""".stripMargin)
    val fitConds = fitWhere.toSeq ++
      (if (fitSampleMod > 1L) Seq(s"vec_id % $fitSampleMod = 0") else Nil)
    val encSrc = if (residual) "rbase" else "base"
    val fit = if (fitConds.isEmpty) "pqs"
      else fitConds.mkString("(SELECT * FROM pqs WHERE ", " AND ", ")")
    residualCte ++ Seq(
      s"""pqs AS (SELECT vec_id, CAST(t.sub AS INT) AS sub,
         |    emb[t.sub * $subDim + 1:(t.sub + 1) * $subDim] AS emb
         |  FROM $encSrc CROSS JOIN range($m) t(sub))""".stripMargin,
      kmUnrolledSql(fit, "pqs", kSub.toString, iters, Some("sub"), "pqa",
        subDim, l2 = true),
      """codes AS (SELECT vec_id, list(scid ORDER BY sub) AS codes
        |  FROM pqa GROUP BY vec_id)""".stripMargin,
      """pqm AS (SELECT b.vec_id, b.label, c.codes
        |  FROM base b JOIN codes c ON b.vec_id = c.vec_id)""".stripMargin,
      s"""pqbook AS (SELECT list(cs ORDER BY sub) AS cents FROM (
         |  SELECT t.sub, list(b.centroid ORDER BY u.cid) AS cs
         |  FROM range($m) t(sub) CROSS JOIN range($kSub) u(cid)
         |  LEFT JOIN sc$iters b ON b.sub = t.sub AND b.scid = u.cid
         |  GROUP BY t.sub))""".stripMargin)
  }

  /** Query vector `v`'s ADC table over `pqbook k`: per subspace the raw
    * partial dot with every cid slot (NULL where the fit dropped the
    * cid; no code points there). */
  private def lutSql(p: IvfCodes.Pq, v: String): String =
    "list_transform(k.cents, (cs, s) -> list_transform(cs, c -> " +
      s"list_dot_product($v[(s - 1) * ${p.subDim} + 1:s * ${p.subDim}], c)))"

  /** The ADC score of candidate `m` for probe row `p`: its m table
    * entries cast to DECIMAL(18,6) and summed exactly (the per-pair
    * form of `sqlSumDec`), plus a residual spec's coarse term. */
  private def adcSql(p: IvfCodes.Pq): String =
    s"round(${if (p.residual) "p.qc_dot + " else ""}CAST(list_sum(" +
      s"list_transform(range(${p.m}), s -> CAST(" +
      "p.q_lut[s + 1][m.codes[s + 1] + 1] AS DECIMAL(18,6)))) AS DOUBLE), 6)"
}
