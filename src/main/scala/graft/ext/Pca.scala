package graft.ext

/** The local eigensolves on a [[CovSpec]] fit's integer-micro
  * covariance: power iteration and Hotelling deflation (the PCA
  * outputs), the full Jacobi eigenbasis and the OPQ rotation built on
  * it. Pure functions of the covariance integers, so every run and
  * every JVM derives the same vectors.
  *
  * Power iteration is engine-portable by EXACT INTEGER arithmetic (the
  * integer-PageRank trick, not chained decimal quantization —
  * iterating double→DECIMAL(18,6) casts drifts between engines at
  * 1e-4 magnitudes, measured): iterate components live in 1e-6
  * micro-units, the mat-vec product is an exact integer sum, squared
  * norms accumulate exactly in BigInt (DuckDB: HUGEINT), and each
  * iterate does ONE double step — w·1e6 / ‖w‖, rounded back to integer
  * micros — on bit-identical inputs. The init vector is the
  * exactly-representable uniform 0.125, so even the eigenvector sign
  * is reproducible. */
object Pca {

  private val Micro = 1000000L

  private def halfUpLong(x: Double): Long = java.math.BigDecimal
    .valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue

  private[ext] def round6(x: Double): Double = java.math.BigDecimal
    .valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** Local power iteration on an integer-micro covariance matrix:
    * exact Long mat-vec, BigInt squared norm, one HALF_UP double
    * step per round. Returns the unit iterate (integer micros) and
    * its rounded Rayleigh eigenvalue. */
  private[ext] def localTopEig(c: Array[Array[Long]], dim: Int,
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
  private[ext] def deflate(c: Array[Array[Long]], v: Array[Long],
      lambda: Double, dim: Int): Array[Array[Long]] =
    Array.tabulate(dim, dim)((i, j) =>
      c(i)(j) - halfUpLong(lambda * v(i) * v(j) / Micro))

  /** FULL eigendecomposition of the integer-micro covariance by
    * cyclic Jacobi sweeps — the local-eigensolve step of the
    * distributed-Gramian/local-eig pattern ([[CovSpec]]'s MLlib
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
}
