package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.queries.QueryUtil.{avgDec, sqlAvgDec}

/** Distributed PCA over the embedding corpus: top principal
  * component by deterministic power iteration — the embedding-space
  * diagnostic (anisotropy / dominant-direction analysis, cf. Mu &
  * Viswanath 2018 "All-but-the-Top") a curation pipeline runs before
  * trusting cosine similarity at scale.
  *
  * Scale shape: the ONLY corpus-sized pass builds the dim×dim
  * covariance — each row expands to its dim² centered outer-product
  * cells, which partial-aggregate map-side down to at most dim²
  * groups before the shuffle (the shuffle is matrix-sized, never
  * corpus-sized; no self-join on vec_id — the mean vector broadcasts
  * and centering is a per-row `zip_with`). Power iteration then runs
  * entirely on the tiny (i, j, c) covariance frame.
  *
  * Engine portability is by EXACT INTEGER arithmetic (the integer-
  * PageRank trick, not chained decimal quantization — iterating
  * double→DECIMAL(18,6) casts drifts between engines at 1e-4
  * magnitudes, measured): covariance entries and iterate components
  * live in 1e-6 micro-units as BIGINTs, the mat-vec product is an
  * exact integer sum (order-independent in any engine), squared
  * norms accumulate exactly in DECIMAL(38,0) (Spark) / HUGEINT
  * (DuckDB), and each iterate does ONE double step — w·1e6 / ‖w‖,
  * rounded back to integer micros — on bit-identical inputs. The
  * init vector is the exactly-representable uniform 0.125, so even
  * the eigenvector sign is reproducible. */
object Pca {

  private val Micro = 1000000L

  private def halfUpLong(x: Double): Long = java.math.BigDecimal
    .valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue

  private def round6(x: Double): Double = java.math.BigDecimal
    .valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** Local power iteration on an integer-micro covariance matrix:
    * exact Long mat-vec, BigInt squared norm, one HALF_UP double
    * step per round. Returns the unit iterate (integer micros) and
    * its rounded Rayleigh eigenvalue. */
  private def localTopEig(c: Array[Array[Long]], dim: Int,
      iters: Int): (Array[Long], Double) = {
    var v = Array.fill(dim)(Micro / 8)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => c(i)(j) * v(j)).sum)
      val nrm = math.sqrt(
        w.map(x => BigInt(x) * BigInt(x)).sum.toDouble)
      v = w.map(wi => halfUpLong(wi.toDouble * Micro / nrm))
    }
    val num = (for (i <- 0 until dim; j <- 0 until dim)
      yield BigInt(c(i)(j) * v(i)) * v(j)).sum
    val den = v.map(x => BigInt(x) * BigInt(x)).sum
    (v, round6(num.toDouble / den.toDouble / Micro))
  }

  /** Hotelling deflation in integer micros: C′ = C − λ·v·vᵀ, each
    * cell snapped with the same HALF_UP step both engines share. */
  private def deflate(c: Array[Array[Long]], v: Array[Long],
      lambda: Double, dim: Int): Array[Array[Long]] =
    Array.tabulate(dim, dim)((i, j) =>
      c(i)(j) - halfUpLong(lambda * v(i) * v(j) / Micro))

  /** Embedding column as validated array<double>. */
  private def embDouble(embeddings: DataFrame, dim: Int): DataFrame =
    embeddings
      .select(Similarity.toDouble(col("embedding")).as("emb"))
      .filter(col("emb").isNotNull)
      .filter(coalesce(assert_true(size(col("emb")) === dim,
        lit(s"pca: embedding dim != $dim")), lit(true)))

  /** Per-dimension means (distributed frame) and the broadcastable
    * one-row array form. */
  private def meansOf(emb: DataFrame): (DataFrame, DataFrame) = {
    // per-dimension mean, rounded for engine portability, broadcast
    // back as ONE array row (no corpus self-join)
    val means = emb
      .select(posexplode(col("emb")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(avgDec(col("x")).as("m"))
    val meanArr = means
      .agg(transform(array_sort(collect_list(struct(col("dim"),
        col("m")))), s => s("m")).as("m_arr"))
    (means, meanArr)
  }

  private def centered(emb: DataFrame, meanArr: DataFrame): DataFrame =
    emb.crossJoin(broadcast(meanArr))
      .select(zip_with(col("emb"), col("m_arr"),
        (x, m) => x - m).as("c"))

  /** The one corpus-sized pass: per-dimension means (a distributed
    * frame) and the dim² covariance in integer micros (collected —
    * it is scalar-sized).
    *
    * The covariance is ONE fused [[graft.functions.CovOps.cov_micro_sums]]
    * aggregate over the centered vectors: each partition accumulates
    * the dim×dim micro-unit sum matrix in a compiled loop, partitions
    * merge matrix buffers, and the per-cell
    * `round(round(sumDec/count, 6)·1e6)` snap replays locally on the
    * exact integer sums ([[graft.functions.CovMicroSums.snapCell]]).
    * This replaced a dim²-struct `explode(flatten(transform(...)))` +
    * groupBy pipeline that materialized 4096 rows per vector before
    * the map-side combine — pure row-materialization CPU; the probe
    * record has the before/after. The explode formulation survives as
    * [[covExplode]] solely as the PcaSpec equivalence oracle (kernel ≡
    * explode, cell-for-cell), and the arithmetic is bit-identical by
    * construction, so the unrolled-CTE DuckDB oracle is unchanged.
    * The eigensolve then runs LOCALLY on the collected dim² matrix —
    * the MLlib pattern (RowMatrix.computePrincipalComponents:
    * distributed Gramian, local eig): integer mat-vec in Long, BigInt
    * squared norms, java BigDecimal HALF_UP for the one rounding step
    * per iterate, matching the oracle's HUGEINT/round chain. */
  private[graft] def covMeans(embeddings: DataFrame, dim: Int)
      : (DataFrame, Array[Array[Long]]) = {
    val emb = embDouble(embeddings, dim)
    val (means, meanArr) = meansOf(emb)
    val sums = centered(emb, meanArr)
      .agg(graft.functions.CovOps.cov_micro_sums(col("c"), dim).as("s"))
      .head().getSeq[Long](0)
    val n = sums(dim * dim)
    val C =
      if (n == 0L) Array.ofDim[Long](dim, dim)
      else Array.tabulate(dim, dim)((i, j) =>
        graft.functions.CovMicroSums.snapCell(sums(i * dim + j), n))
    (means, C)
  }

  /** The superseded explode-path covariance (i, j, ci) frame — kept
    * ONLY as the spec's equivalence oracle for the fused kernel.
    * Deliberately the FULL dim² cell matrix, not the symmetric
    * triangle: an A/B at sf0.1 measured the triangle variant (inner
    * sequence(i, dim)) ~15% SLOWER — the constant-bound sequence
    * constant-folds once while a variable lower bound re-allocates
    * per outer element. */
  private[graft] def covExplode(embeddings: DataFrame, dim: Int)
      : DataFrame = {
    val emb = embDouble(embeddings, dim)
    val (_, meanArr) = meansOf(emb)
    centered(emb, meanArr)
      .select(explode(flatten(transform(
        sequence(lit(1), lit(dim)), i => transform(
          sequence(lit(1), lit(dim)), j => struct(
            (i - 1).as("i"), (j - 1).as("j"),
            (element_at(col("c"), i) * element_at(col("c"), j))
              .as("p")))))).as("cell"))
      .groupBy(col("cell.i").as("i"), col("cell.j").as("j"))
      .agg(round(avgDec(col("cell.p")) * Micro)
        .cast("long").as("ci"))
  }

  /** (dim, mean_v, pc1, lambda1, evr) — one row per dimension; the
    * Rayleigh-quotient eigenvalue and explained-variance ratio
    * repeat on every row so the result is one flat hashable table. */
  def topComponent(embeddings: DataFrame, dim: Int = 64,
      iters: Int = 12): DataFrame = {
    val (means, c) = covMeans(embeddings, dim)
    val (v, lambda1) = localTopEig(c, dim, iters)
    val traceD = (0 until dim).map(i => c(i)(i)).sum.toDouble / Micro
    val evr = round6(lambda1 / traceD)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val pcDf = v.toSeq.zipWithIndex
      .map { case (vv, i) => (i.toLong, vv.toDouble / Micro) }
      .toDF("pdim", "pc1")
    means
      .join(pcDf, col("dim").cast("long") === col("pdim"))
      .select(col("dim").cast("long").as("dim"), col("m").as("mean_v"),
        col("pc1"), lit(lambda1).as("lambda1"), lit(evr).as("evr"))
      .orderBy("dim")
  }

  /** Top TWO principal components by Hotelling deflation: after the
    * first eigenpair, C′ = C − λ₁·v₁·v₁ᵀ (snapped back to integer
    * micros with the shared HALF_UP step) and the same local
    * iteration yields the second. One row per (comp, dim) with the
    * per-component eigenvalue, evr, and the CUMULATIVE subspace evr
    * — the anisotropy diagnostic proper measures the top-k subspace,
    * not one direction. Same scale shape as [[topComponent]]: the
    * corpus pays one covariance pass; both eigensolves are local. */
  def topComponents2(embeddings: DataFrame, dim: Int = 64,
      iters: Int = 12): DataFrame = {
    val (_, c) = covMeans(embeddings, dim)
    val traceD = (0 until dim).map(i => c(i)(i)).sum.toDouble / Micro
    val (v1, l1) = localTopEig(c, dim, iters)
    val c2 = deflate(c, v1, l1, dim)
    val (v2, l2) = localTopEig(c2, dim, iters)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val rows =
      v1.toSeq.zipWithIndex.map { case (vv, i) =>
        (1L, i.toLong, vv.toDouble / Micro, l1, round6(l1 / traceD),
          round6(l1 / traceD))
      } ++
      v2.toSeq.zipWithIndex.map { case (vv, i) =>
        (2L, i.toLong, vv.toDouble / Micro, l2, round6(l2 / traceD),
          round6((l1 + l2) / traceD))
      }
    rows.toDF("comp", "dim", "pc", "lambda", "evr", "cum_evr")
      .orderBy("comp", "dim")
  }

  /** All-but-the-Top embedding correction (Mu & Viswanath 2018):
    * remove the mean and the projection onto the dominant component
    * from every vector — the post-processing that makes cosine
    * similarity usable on anisotropic embedding spaces. Per vector:
    * the pc1 coefficient, the original norm, and the corrected norm
    * (what survives after the common direction is gone; a vector
    * that loses most of its norm carried little content signal).
    *
    * Scale shape: [[topComponent]]'s covariance pass plus ONE more
    * corpus scan — the correction itself is a per-row expression
    * against the broadcast (mean, pc1) pair; no shuffle beyond the
    * final order. Portability: same exact-integer recipe — centered
    * components quantize to BIGINT micros per element, the dot
    * product is an exact 64-term integer sum, and each corrected
    * component does one deterministic double step before snapping
    * back to micros. */
  def allButTop(embeddings: DataFrame, dim: Int = 64,
      iters: Int = 12): DataFrame = {
    val pc = topComponent(embeddings, dim, iters)
      .agg(transform(array_sort(collect_list(struct(col("dim"),
          col("mean_v"), col("pc1")))), s => s("mean_v")).as("m_arr"),
        transform(array_sort(collect_list(struct(col("dim"),
          col("pc1")))), s => round(s("pc1") * Micro).cast("long"))
          .as("p_arr"))
    val emb = embeddings
      .select(col("vec_id"), Similarity.toDouble(col("embedding"))
        .as("emb"))
      .filter(col("emb").isNotNull)
    val withC = emb.crossJoin(broadcast(pc))
      .select(col("vec_id"), col("p_arr"),
        zip_with(col("emb"), col("m_arr"),
          (x, m) => round((x - m) * Micro).cast("long")).as("c"))
    val num = aggregate(zip_with(col("c"), col("p_arr"),
      (ci, pi) => ci * pi), lit(0L), (acc, x) => acc + x)
    val corr = zip_with(col("c"), col("p_arr"), (ci, pi) =>
      round(ci.cast("double") -
        col("num").cast("double") * pi.cast("double") / lit(1e12))
        .cast("long"))
    val sumSq = (a: Column) => aggregate(transform(a, x => x * x),
      lit(0L), (acc, x) => acc + x)
    withC.withColumn("num", num)
      .withColumn("corr", corr)
      .select(col("vec_id"),
        round(col("num").cast("double") / lit(1e12), 6).as("pc1_coef"),
        round(sqrt(sumSq(col("c")).cast("double")) / Micro, 6)
          .as("orig_norm"),
        round(sqrt(sumSq(col("corr")).cast("double")) / Micro, 6)
          .as("corr_norm"))
      .orderBy("vec_id")
  }

  /** DuckDB oracle for [[allButTop]]. */
  def allButTopSql(dim: Int = 64, iters: Int = 12): String = {
    val top = topComponentSql(dim, iters)
    s"""WITH pcx AS MATERIALIZED ($top),
       |pc AS (SELECT list(mean_v ORDER BY dim) AS m_arr,
       |    list(CAST(round(pc1 * $Micro) AS BIGINT) ORDER BY dim)
       |      AS p_arr
       |  FROM pcx),
       |base AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |cc AS (SELECT vec_id, p_arr,
       |    list_transform(range(1, $dim + 1), i -> CAST(
       |      round((emb[i] - m_arr[i]) * $Micro) AS BIGINT)) AS c
       |  FROM base, pc),
       |dd AS (SELECT vec_id, c, p_arr,
       |    list_sum(list_transform(range(1, $dim + 1),
       |      i -> c[i] * p_arr[i])) AS num
       |  FROM cc),
       |ee AS (SELECT vec_id, num, c,
       |    list_transform(range(1, $dim + 1), i -> CAST(round(
       |      CAST(c[i] AS DOUBLE) -
       |      CAST(num AS DOUBLE) * CAST(p_arr[i] AS DOUBLE) / 1e12)
       |      AS BIGINT)) AS corr
       |  FROM dd)
       |SELECT vec_id,
       |  round(CAST(num AS DOUBLE) / 1e12, 6) AS pc1_coef,
       |  round(sqrt(CAST(list_sum(list_transform(c, x -> x * x))
       |    AS DOUBLE)) / $Micro, 6) AS orig_norm,
       |  round(sqrt(CAST(list_sum(list_transform(corr, x -> x * x))
       |    AS DOUBLE)) / $Micro, 6) AS corr_norm
       |FROM ee ORDER BY vec_id""".stripMargin
  }

  /** One unrolled power-iteration CTE chain over covariance CTE
    * `covName`, iterate CTEs named `$p0..$p$iters`. */
  private def iterChainSql(covName: String, p: String,
      iters: Int): String = (1 to iters).map { r =>
    s"""${p}w$r AS MATERIALIZED (SELECT i, sum(ci * vv) AS wv
       |  FROM $covName JOIN $p${r - 1} ON j = vi GROUP BY i),
       |${p}n$r AS (SELECT sqrt(CAST(sum(CAST(wv AS HUGEINT) *
       |    CAST(wv AS HUGEINT)) AS DOUBLE)) AS nrm FROM ${p}w$r),
       |$p$r AS MATERIALIZED (SELECT i AS vi, CAST(round(
       |    CAST(wv AS DOUBLE) * $Micro / (SELECT nrm FROM ${p}n$r))
       |    AS BIGINT) AS vv
       |  FROM ${p}w$r)""".stripMargin
  }.mkString(",\n")

  /** Rayleigh-quotient CTE over `covName` × iterate `vName`. */
  private def lamSql(name: String, covName: String,
      vName: String): String =
    s"""$name AS (SELECT round(
       |    CAST(sum(CAST(ci * a.vv AS HUGEINT) * b.vv) AS DOUBLE) /
       |    (SELECT CAST(sum(CAST(vv AS HUGEINT) * vv) AS DOUBLE)
       |      FROM $vName) / $Micro, 6) AS lam
       |  FROM $covName JOIN $vName a ON i = a.vi
       |  JOIN $vName b ON j = b.vi)""".stripMargin

  /** DuckDB oracle for [[topComponent]] — unrolled power iteration,
    * same exact-integer arithmetic (HUGEINT where Spark uses
    * BigInt; both are exact, both cast to the same double). */
  def topComponentSql(dim: Int = 64, iters: Int = 12): String = {
    val iterCtes = (1 to iters).map { r =>
      s"""w$r AS MATERIALIZED (SELECT i, sum(ci * vv) AS wv
         |  FROM cov JOIN v${r - 1} ON j = vi GROUP BY i),
         |n$r AS (SELECT sqrt(CAST(sum(CAST(wv AS HUGEINT) *
         |    CAST(wv AS HUGEINT)) AS DOUBLE)) AS nrm FROM w$r),
         |v$r AS MATERIALIZED (SELECT i AS vi, CAST(round(
         |    CAST(wv AS DOUBLE) * $Micro / (SELECT nrm FROM n$r))
         |    AS BIGINT) AS vv
         |  FROM w$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${covPreambleSql(dim)},
       |v0 AS (SELECT DISTINCT i AS vi,
       |    CAST(${Micro / 8} AS BIGINT) AS vv FROM cov),
       |$iterCtes,
       |lam AS (SELECT round(
       |    CAST(sum(CAST(ci * a.vv AS HUGEINT) * b.vv) AS DOUBLE) /
       |    (SELECT CAST(sum(CAST(vv AS HUGEINT) * vv) AS DOUBLE)
       |      FROM v$iters) / $Micro, 6) AS lambda1
       |  FROM cov JOIN v$iters a ON i = a.vi JOIN v$iters b ON j = b.vi),
       |tr AS (SELECT CAST(sum(ci) AS DOUBLE) / $Micro AS trace
       |  FROM cov WHERE i = j)
       |SELECT CAST(dim AS BIGINT) AS dim, m AS mean_v,
       |  CAST(vv AS DOUBLE) / $Micro AS pc1,
       |  (SELECT lambda1 FROM lam) AS lambda1,
       |  round((SELECT lambda1 FROM lam) / (SELECT trace FROM tr), 6)
       |    AS evr
       |FROM means JOIN v$iters ON dim = vi
       |ORDER BY dim""".stripMargin
  }

  /** Shared oracle preamble: embeddings → means → centered
    * outer-product cells → integer-micro covariance. */
  private def covPreambleSql(dim: Int): String =
    s"""e AS MATERIALIZED (SELECT
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |means AS MATERIALIZED (SELECT dim, ${sqlAvgDec("x")} AS m FROM (
       |    SELECT unnest(emb) AS x,
       |      unnest(range(0, $dim)) AS dim FROM e)
       |  GROUP BY dim),
       |marr AS (SELECT list(m ORDER BY dim) AS m_arr FROM means),
       |cov AS MATERIALIZED (
       |  SELECT cell.i AS i, cell.j AS j,
       |    CAST(round(${sqlAvgDec("cell.p")} * $Micro) AS BIGINT) AS ci
       |  FROM (SELECT unnest(flatten(list_transform(range(1, $dim + 1),
       |      i -> list_transform(range(1, $dim + 1),
       |        j -> {'i': i - 1, 'j': j - 1, 'p': c[i] * c[j]}))))
       |      AS cell
       |    FROM (SELECT list_transform(range(1, $dim + 1),
       |        i -> emb[i] - m_arr[i]) AS c
       |      FROM e, marr))
       |  GROUP BY 1, 2)""".stripMargin

  /** Oracle SQL for the raw integer-micro covariance itself —
    * exposes the shared preamble so the `d_embed_cov` entry can
    * hash-verify the exact BIGINT matrix every local eigensolve
    * ([[localTopEig]], [[jacobiEigenAll]]) consumes. */
  def covSql(dim: Int = 64): String =
    s"""WITH ${covPreambleSql(dim)}
       |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, ci
       |FROM cov ORDER BY i, j""".stripMargin

  /** FULL eigendecomposition of the integer-micro covariance by
    * cyclic Jacobi sweeps — the local-eigensolve step of the
    * distributed-Gramian/local-eig pattern ([[covMeans]]'s MLlib
    * note), extended from the 2-component Hotelling chain to all
    * `dim` eigenpairs: the one-sweep pivot order is fixed (row-major
    * p<q), the rotation count is fixed (`sweeps` full sweeps, no
    * data-dependent convergence test), and every operation is plain
    * strict-IEEE double arithmetic on inputs that are exact integers
    * — a pure deterministic function of the covariance matrix, same
    * output on every run and every JVM (Java 17 floating point is
    * strict by JEP 306). Unlike repeated power-iteration deflation,
    * the accumulated rotation is a product of exact Givens rotations,
    * so V is orthogonal to rounding error regardless of eigenvalue
    * gaps — the property a ROTATION consumer (OPQ) needs and
    * non-converged Hotelling vectors cannot provide.
    *
    * Returns (vectors, values): `vectors(k)` is the k-th eigenvector
    * (unit norm, sign canonicalized so its largest-|·| component is
    * positive), `values(k)` its eigenvalue, unsorted (diagonal
    * order). */
  private[graft] def jacobiEigenAll(c: Array[Array[Long]], dim: Int,
      sweeps: Int = 12): (Array[Array[Double]], Array[Double]) = {
    val a = Array.tabulate(dim, dim)((i, j) => c(i)(j).toDouble / Micro)
    val v = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 0 until sweeps; p <- 0 until dim - 1; q <- p + 1 until dim) {
      val apq = a(p)(q)
      if (apq != 0.0) {
        // stable tangent: t = sign(θ)/(|θ| + √(θ²+1)), sign(0) = +1
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
        val t = (if (theta >= 0.0) 1.0 else -1.0) /
          (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val cs = 1.0 / math.sqrt(t * t + 1.0)
        val sn = t * cs
        for (k <- 0 until dim) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = cs * akp - sn * akq
          a(k)(q) = sn * akp + cs * akq
        }
        for (k <- 0 until dim) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = cs * apk - sn * aqk
          a(q)(k) = sn * apk + cs * aqk
        }
        for (k <- 0 until dim) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = cs * vkp - sn * vkq
          v(k)(q) = sn * vkp + cs * vkq
        }
      }
    }
    val vecs = Array.tabulate(dim) { k =>
      val col = Array.tabulate(dim)(i => v(i)(k))
      val pivot = col.indices.maxBy(i => (math.abs(col(i)), -i))
      if (col(pivot) < 0.0) col.map(x => -x) else col
    }
    (vecs, Array.tabulate(dim)(k => a(k)(k)))
  }

  /** Apply a local rotation matrix as a per-row projection: output
    * dim i = Σ_j rot(i)(j)·emb[j] as a LEFT-FOLD sum, the one
    * summation order Spark and a SQL `a + b + c` chain share, so both
    * engines produce bit-identical rotated doubles. No shuffle.
    * `keep` lists the id columns carried through (the IVF
    * compositions need `label` next to `vec_id`).
    *
    * Physical form (round 15): ONE [[graft.functions.MatVecLit]]
    * codegen node with the matrix as a reference object. The previous
    * dim²-literal expression tree ([[applyRotationTree]], kept as the
    * spec's equivalence oracle) made every Catalyst pass re-walk 4096
    * nodes — measured 6.75 s WARM / 17.4 s cold for the sf0.1
    * projection job vs ~0.2 s as a kernel, identical output
    * (MatVecSpec pins bit equality, nulls included). */
  private[graft] def applyRotation(embeddings: DataFrame,
      rot: Array[Array[Double]],
      keep: Seq[String] = Seq("vec_id")): DataFrame =
    embeddings.filter(col("embedding").isNotNull)
      .select(keep.map(col) :+
        graft.functions.MatVec.mat_vec_lit(col("embedding"), rot)
          .as("embedding"): _*)

  /** The superseded dim²-literal tree form of [[applyRotation]] —
    * kept ONLY as MatVecSpec's equivalence oracle for the kernel. */
  private[graft] def applyRotationTree(embeddings: DataFrame,
      rot: Array[Array[Double]],
      keep: Seq[String] = Seq("vec_id")): DataFrame = {
    val dim = rot.length
    val embD = Similarity.toDouble(col("embedding"))
    embeddings.filter(col("embedding").isNotNull)
      .select(keep.map(col) :+ array((0 until dim).map(i =>
        (0 until dim).map(j =>
          lit(rot(i)(j)) * element_at(embD, j + 1))
          .reduceLeft(_ + _)): _*).as("embedding"): _*)
  }

  /** The trained OPQ rotation (Ge et al. 2013, the PARAMETRIC form
    * OPQ-P): full PCA eigenbasis from [[jacobiEigenAll]] plus
    * eigenvalue allocation — eigenvectors in descending-eigenvalue
    * order are dealt greedily to the subspace with the smallest
    * running log-eigenvalue product that still has a free slot, so
    * every PQ codebook quantizes a comparable amount of variance
    * (the free-lunch upgrade over the round-robin variance heuristic
    * of the `VarianceBalanced` PQ layout, which permutes raw dims
    * instead of rotating). Row `i` of the returned matrix holds output
    * dimension i's coefficients over the input dims; subspace s owns
    * rows [s·dim/m, (s+1)·dim/m). Entries are rounded to 6 decimals
    * so the rotation embeds as identical plan literals in Spark and
    * DuckDB (the hyperplane-literal pattern); the ~1e-6 departure
    * from exact orthogonality is score-irrelevant (both engines run
    * the identical literals). */
  private[graft] def opqRotation(c: Array[Array[Long]], dim: Int,
      m: Int, sweeps: Int = 12): Array[Array[Double]] = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m")
    val subDim = dim / m
    val (vecs, vals) = jacobiEigenAll(c, dim, sweeps)
    val order = (0 until dim)
      .sortBy(k => (-vals(k), k))
    val logProd = Array.fill(m)(0.0)
    val filled = Array.fill(m)(0)
    val rot = Array.ofDim[Double](dim, dim)
    for (k <- order) {
      val s = (0 until m).filter(filled(_) < subDim)
        .minBy(s => (logProd(s), s))
      rot(s * subDim + filled(s)) = vecs(k).map(round6)
      filled(s) += 1
      logProd(s) += math.log(math.max(vals(k), 1e-12))
    }
    rot
  }
  def topComponents2Sql(dim: Int = 64, iters: Int = 12): String =
    s"""WITH ${covPreambleSql(dim)},
       |v0 AS (SELECT DISTINCT i AS vi,
       |    CAST(${Micro / 8} AS BIGINT) AS vv FROM cov),
       |${iterChainSql("cov", "v", iters)},
       |${lamSql("l1", "cov", s"v$iters")},
       |cov2 AS MATERIALIZED (SELECT cov.i AS i, cov.j AS j,
       |    cov.ci - CAST(round((SELECT lam FROM l1) * a.vv * b.vv
       |      / $Micro) AS BIGINT) AS ci
       |  FROM cov JOIN v$iters a ON cov.i = a.vi
       |  JOIN v$iters b ON cov.j = b.vi),
       |u0 AS (SELECT DISTINCT i AS vi,
       |    CAST(${Micro / 8} AS BIGINT) AS vv FROM cov2),
       |${iterChainSql("cov2", "u", iters)},
       |${lamSql("l2", "cov2", s"u$iters")},
       |tr AS (SELECT CAST(sum(ci) AS DOUBLE) / $Micro AS trace
       |  FROM cov WHERE i = j)
       |SELECT * FROM (
       |SELECT CAST(1 AS BIGINT) AS comp, CAST(vi AS BIGINT) AS dim,
       |  CAST(vv AS DOUBLE) / $Micro AS pc,
       |  (SELECT lam FROM l1) AS lambda,
       |  round((SELECT lam FROM l1) / (SELECT trace FROM tr), 6) AS evr,
       |  round((SELECT lam FROM l1) / (SELECT trace FROM tr), 6)
       |    AS cum_evr
       |FROM v$iters
       |UNION ALL
       |SELECT 2, CAST(vi AS BIGINT), CAST(vv AS DOUBLE) / $Micro,
       |  (SELECT lam FROM l2),
       |  round((SELECT lam FROM l2) / (SELECT trace FROM tr), 6),
       |  round(((SELECT lam FROM l1) + (SELECT lam FROM l2)) /
       |    (SELECT trace FROM tr), 6)
       |FROM u$iters)
       |ORDER BY comp, dim""".stripMargin
}
