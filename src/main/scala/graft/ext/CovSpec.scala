package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType,
  StructField, StructType}

import graft.queries.QueryUtil.{avgDec, sqlAvgDec, vectorRowsSql}

/** What a [[CovSpec]] reports from its covariance fit. */
sealed trait CovOutput

object CovOutput {

  /** The integer-micro covariance itself, (i, j, ci): the matrix
    * every local eigensolve ([[Pca.localTopEig]],
    * [[Pca.jacobiEigenAll]], the OPQ rotation) consumes, surfaced so
    * the oracle hash-verifies the exact BIGINT cells. */
  case object Cov extends CovOutput

  /** The top `k` principal components by power iteration, each after
    * Hotelling deflation of the ones before it (C′ = C − λ·v·vᵀ,
    * snapped back to integer micros). k = 1 reports (dim, mean_v, pc1,
    * lambda1, evr); k ≥ 2 one row per (comp, dim) with the
    * per-component eigenvalue, evr and the CUMULATIVE subspace evr —
    * the anisotropy diagnostic proper measures the top-k subspace. */
  final case class Components(k: Int) extends CovOutput {
    require(k >= 1, "Components: k must be >= 1")
  }

  /** All-but-the-Top correction (Mu & Viswanath 2018): per vector the
    * pc1 coefficient, the centered norm and the norm left after the
    * mean and the dominant direction are removed. Centered components
    * quantize to BIGINT micros, the dot product is an exact integer
    * sum, and each corrected component does one double step before
    * snapping back to micros. */
  case object AllButTop extends CovOutput
}

/** The embedding-space covariance family: PCA (power iteration and
  * deflation), All-but-the-Top, the raw covariance and the OPQ
  * rotation, every output a function of ONE fit ([[CovSpec.fit]]).
  *
  * The fit reads the corpus through [[Similarity.vectorRows]] (NULL,
  * NULL-element and zero-norm vectors drop; a dim mismatch fails), so
  * its rows are the ANN family's. Two corpus passes: the per-dimension
  * exact-decimal means collect to the driver, then ONE fused
  * [[graft.functions.CovOps.cov_micro_sums]] aggregate over the
  * vectors centered by those means as a plan literal; the per-cell
  * `round(round(sumDec/count, 6)·1e6)` snap replays on the driver
  * ([[graft.functions.CovMicroSums.snapCell]]). The shuffle is
  * matrix-sized, never corpus-sized, and the eigensolves run locally
  * on the dim² integers — the MLlib pattern (distributed Gramian,
  * local eig).
  *
  * Engine portability is by EXACT INTEGER arithmetic: covariance
  * cells and iterate components are BIGINT micro-units, the mat-vec
  * product is an exact integer sum, squared norms accumulate exactly
  * (BigInt / HUGEINT), and each iterate does ONE double step on
  * bit-identical inputs. [[CovSpec.run]] (Spark) and
  * [[CovSpec.oracleSql]] (DuckDB) both read this one value. */
final case class CovSpec(output: CovOutput, iters: Int = 12, dim: Int = 64) {
  require(iters >= 1 && dim >= 1, "CovSpec: iters and dim must be >= 1")
}

object CovSpec {
  import CovOutput._

  private val Micro = 1000000L

  /** One covariance fit: the per-dimension means (`avgDec`) and the
    * dim² covariance in integer micros. */
  final case class CovFit(means: Array[Double], c: Array[Array[Long]])

  /** The covariance fit of the `dim`-dimensional vectors of
    * `embeddings`. An empty corpus fits the zero matrix. */
  def fit(embeddings: DataFrame, dim: Int): CovFit = {
    val rows = Similarity.vectorRows(embeddings, Nil, Some(dim), "CovSpec")
    val means = Array.fill(dim)(0.0)
    rows.select(posexplode(col("emb")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(avgDec(col("x")))
      .collect().foreach(r => means(r.getInt(0)) = r.getDouble(1))
    val sums = rows
      .agg(graft.functions.CovOps.cov_micro_sums(zip_with(col("emb"),
        typedLit(means), (x, mu) => x - mu), dim))
      .head().getSeq[Long](0)
    val n = sums(dim * dim)
    CovFit(means, Array.tabulate(dim, dim)((i, j) =>
      if (n == 0L) 0L
      else graft.functions.CovMicroSums.snapCell(sums(i * dim + j), n)))
  }

  /** The trained OPQ rotation of `embeddings`' `dim`-dimensional
    * vectors over `m` subspaces ([[Pca.opqRotation]] of the fit). */
  def opqRotation(embeddings: DataFrame, dim: Int, m: Int)
      : Array[Array[Double]] =
    Pca.opqRotation(fit(embeddings, dim).c, dim, m)

  /** The top `k` (unit iterate in micros, Rayleigh eigenvalue) pairs. */
  private def components(c: Array[Array[Long]], k: Int, iters: Int)
      : Seq[(Array[Long], Double)] =
    (1 to k).foldLeft((c, Vector.empty[(Array[Long], Double)])) {
      case ((ck, acc), _) =>
        val (v, l) = Pca.localTopEig(ck, c.length, iters)
        (Pca.deflate(ck, v, l, c.length), acc :+ (v -> l))
    }._2

  /** `spec`'s output over `embeddings`: a LocalRelation for the
    * covariance and the components, one corpus projection ordered by
    * vec_id for [[CovOutput.AllButTop]]. */
  def run(spec: CovSpec, embeddings: DataFrame): DataFrame = {
    val dim = spec.dim
    val f = fit(embeddings, dim)
    val spark = embeddings.sparkSession
    def frame(cols: Seq[(String, DataType)], rows: Seq[Row]): DataFrame =
      Similarity.localFrame(spark, StructType(cols.map { case (n, t) =>
        StructField(n, t, nullable = false) }), rows)
    lazy val trace = (0 until dim).map(i => f.c(i)(i)).sum.toDouble / Micro
    spec.output match {
      case Cov =>
        frame(Seq("i" -> LongType, "j" -> LongType, "ci" -> LongType),
          for (i <- 0 until dim; j <- 0 until dim)
            yield Row(i.toLong, j.toLong, f.c(i)(j)))
      case Components(1) =>
        val Seq((v, l)) = components(f.c, 1, spec.iters)
        val evr = Pca.round6(l / trace)
        frame(Seq("dim" -> LongType, "mean_v" -> DoubleType,
            "pc1" -> DoubleType, "lambda1" -> DoubleType, "evr" -> DoubleType),
          (0 until dim).map(i => Row(i.toLong, f.means(i),
            v(i).toDouble / Micro, l, evr)))
      case Components(k) =>
        val comps = components(f.c, k, spec.iters)
        frame(Seq("comp" -> LongType, "dim" -> LongType, "pc" -> DoubleType,
            "lambda" -> DoubleType, "evr" -> DoubleType,
            "cum_evr" -> DoubleType),
          comps.zipWithIndex.flatMap { case ((v, l), c) =>
            val cum = Pca.round6(comps.take(c + 1).map(_._2)
              .reduce(_ + _) / trace)
            (0 until dim).map(i => Row(c + 1L, i.toLong,
              v(i).toDouble / Micro, l, Pca.round6(l / trace), cum))
          })
      case AllButTop =>
        val Seq((v, _)) = components(f.c, 1, spec.iters)
        val p = typedLit(v)
        val sumSq = (a: Column) => aggregate(transform(a, x => x * x),
          lit(0L), (acc, x) => acc + x)
        Similarity.vectorRows(embeddings, Seq(col("vec_id")), Some(dim),
            "CovSpec")
          .select(col("vec_id"), zip_with(col("emb"), typedLit(f.means),
            (x, mu) => round((x - mu) * Micro).cast("long")).as("c"))
          .withColumn("num", aggregate(zip_with(col("c"), p,
            (ci, pi) => ci * pi), lit(0L), (acc, x) => acc + x))
          .select(col("vec_id"),
            round(col("num").cast("double") / lit(1e12), 6).as("pc1_coef"),
            round(sqrt(sumSq(col("c")).cast("double")) / Micro, 6)
              .as("orig_norm"),
            round(sqrt(sumSq(zip_with(col("c"), p, (ci, pi) =>
              round(ci.cast("double") - col("num").cast("double") *
                pi.cast("double") / lit(1e12)).cast("long")))
              .cast("double")) / Micro, 6).as("corr_norm"))
          .orderBy("vec_id")
    }
  }

  /** DuckDB oracle for `spec`: the same fit (corpus → means →
    * centered outer-product cells → integer-micro covariance) and the
    * same exact-integer iterations, unrolled (HUGEINT where Spark uses
    * BigInt; both exact, both cast to the same double). */
  def oracleSql(spec: CovSpec): String = {
    val dim = spec.dim
    val pre = covPreambleSql(dim)
    def comp(c: Int) = s"v${c}_${spec.iters}"
    spec.output match {
      case Cov =>
        s"""WITH $pre
           |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, ci
           |FROM cov ORDER BY i, j""".stripMargin
      case Components(1) =>
        s"""WITH $pre,
           |${componentCtes(1, spec.iters)}
           |SELECT CAST(dim AS BIGINT) AS dim, m AS mean_v,
           |  CAST(vv AS DOUBLE) / $Micro AS pc1,
           |  (SELECT lam FROM l1) AS lambda1,
           |  round((SELECT lam FROM l1) / (SELECT trace FROM tr), 6) AS evr
           |FROM means JOIN ${comp(1)} ON dim = vi
           |ORDER BY dim""".stripMargin
      case Components(k) =>
        val legs = (1 to k).map { c =>
          val cum = (1 to c).map(x => s"(SELECT lam FROM l$x)").mkString(" + ")
          s"""SELECT CAST($c AS BIGINT) AS comp, CAST(vi AS BIGINT) AS dim,
             |  CAST(vv AS DOUBLE) / $Micro AS pc,
             |  (SELECT lam FROM l$c) AS lambda,
             |  round((SELECT lam FROM l$c) / (SELECT trace FROM tr), 6) AS evr,
             |  round(($cum) / (SELECT trace FROM tr), 6) AS cum_evr
             |FROM ${comp(c)}""".stripMargin
        }
        s"""WITH $pre,
           |${componentCtes(k, spec.iters)}
           |SELECT * FROM (
           |${legs.mkString("\nUNION ALL\n")})
           |ORDER BY comp, dim""".stripMargin
      case AllButTop =>
        s"""WITH $pre,
           |${componentCtes(1, spec.iters)},
           |pc AS (SELECT list(m ORDER BY dim) AS m_arr,
           |    list(vv ORDER BY dim) AS p_arr
           |  FROM means JOIN ${comp(1)} ON dim = vi),
           |cc AS (SELECT vec_id, p_arr,
           |    list_transform(range(1, $dim + 1), i -> CAST(
           |      round((emb[i] - m_arr[i]) * $Micro) AS BIGINT)) AS c
           |  FROM (${vectorRowsSql()}), pc),
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
  }

  /** The fit: [[vectorRowsSql]] → means → centered outer-product
    * cells → integer-micro covariance `cov`. */
  private def covPreambleSql(dim: Int): String =
    s"""e AS MATERIALIZED (SELECT emb FROM (${vectorRowsSql()})),
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
       |  GROUP BY 1, 2),
       |tr AS (SELECT CAST(sum(ci) AS DOUBLE) / $Micro AS trace
       |  FROM cov WHERE i = j)""".stripMargin

  /** Component c's power iteration over `cov$c` (`cov` for c = 1):
    * iterates `v${c}_0..v${c}_$iters`, Rayleigh eigenvalue `l$c`, and
    * for every c < k the deflated `cov${c + 1}`. */
  private def componentCtes(k: Int, iters: Int): String =
    (1 to k).map { c =>
      val cov = if (c == 1) "cov" else s"cov$c"
      val p = s"v${c}_"
      val v = s"$p$iters"
      val iterCtes = (1 to iters).map { r =>
        s"""${p}w$r AS MATERIALIZED (SELECT i, sum(ci * vv) AS wv
           |  FROM $cov JOIN $p${r - 1} ON j = vi GROUP BY i),
           |${p}n$r AS (SELECT sqrt(CAST(sum(CAST(wv AS HUGEINT) *
           |    CAST(wv AS HUGEINT)) AS DOUBLE)) AS nrm FROM ${p}w$r),
           |$p$r AS MATERIALIZED (SELECT i AS vi, CAST(round(
           |    CAST(wv AS DOUBLE) * $Micro / (SELECT nrm FROM ${p}n$r))
           |    AS BIGINT) AS vv
           |  FROM ${p}w$r)""".stripMargin
      }.mkString(",\n")
      val deflated = if (c == k) "" else
        s""",
           |cov${c + 1} AS MATERIALIZED (SELECT x.i AS i, x.j AS j,
           |    x.ci - CAST(round((SELECT lam FROM l$c) * a.vv * b.vv
           |      / $Micro) AS BIGINT) AS ci
           |  FROM $cov x JOIN $v a ON x.i = a.vi
           |  JOIN $v b ON x.j = b.vi)""".stripMargin
      s"""${p}0 AS (SELECT DISTINCT i AS vi,
         |    CAST(${Micro / 8} AS BIGINT) AS vv FROM $cov),
         |$iterCtes,
         |l$c AS (SELECT round(
         |    CAST(sum(CAST(ci * a.vv AS HUGEINT) * b.vv) AS DOUBLE) /
         |    (SELECT CAST(sum(CAST(vv AS HUGEINT) * vv) AS DOUBLE)
         |      FROM $v) / $Micro, 6) AS lam
         |  FROM $cov JOIN $v a ON i = a.vi
         |  JOIN $v b ON j = b.vi)$deflated""".stripMargin
    }.mkString(",\n")
}
