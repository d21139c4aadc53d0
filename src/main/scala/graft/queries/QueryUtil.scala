package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Helpers shared by the oracle-verified query catalog.
  *
  * Cross-engine numeric parity strategy (Spark vs the driver's DuckDB
  * oracle): per-row scalar arithmetic stays in DOUBLE (IEEE-754, bit
  * identical in both engines for the same expression shape), each term
  * is then cast to DECIMAL(18,6) *inside* the aggregate so the sum is
  * exact integer arithmetic (order-independent — safe under Spark's
  * nondeterministic partial-aggregation order), and the final result is
  * cast back to DOUBLE (a deterministic nearest-double conversion).
  * Averages are `round(sum_double / count, 6)` — never the engines' own
  * AVG, whose internal accumulation order differs between engines.
  */
object QueryUtil {
  type Q = (SparkSession, String) => DataFrame

  /** Exact, order-independent sum of a double expression → double. */
  def sumDec(c: Column): Column =
    sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Order-independent average, rounded for cross-engine stability. */
  def avgDec(c: Column): Column =
    round(sumDec(c) / count(lit(1)), 6)

  /** SQL fragment mirroring [[sumDec]] for the DuckDB oracle. */
  def sqlSumDec(e: String): String =
    s"CAST(sum(CAST(($e) AS DECIMAL(18,6))) AS DOUBLE)"

  /** SQL fragment mirroring [[avgDec]]. */
  def sqlAvgDec(e: String): String =
    s"round(${sqlSumDec(e)} / count(*), 6)"

  /** SQL fragment mirroring `round(Similarity.cosine(a, b), 6)`. */
  def sqlCosine(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / " +
    s"(sqrt(list_dot_product($a, $a)) * " +
    s"sqrt(list_dot_product($b, $b))), 6)"

  /** `qids` CTE mirroring `Similarity.sampleQueryIds(base, 16)` over a
    * `base` CTE. The inner `(x % m + m) % m` spells Spark's pmod in
    * sign-preserving SQL `%` — without it a negative BIGINT vec_id
    * would order by a negative residue here while Spark orders by the
    * non-negative pmod, silently selecting different query samples in
    * the two engines. */
  def qidsSql: String =
    """qids AS (SELECT vec_id FROM base
      |  ORDER BY ((((vec_id % 2147483647) + 2147483647) % 2147483647) * 48271) % 2147483647, vec_id
      |  LIMIT 16)""".stripMargin

  /** Quantize CTE chain `src` → (`${prefix}qz0`, `${prefix}qz`,
    * `${prefix}qn`) reproducing [[graft.functions.QuantizeOps]]
    * bit-for-bit — max-abs scale, round-half-away-from-zero spelled
    * with floor so both engines run the identical IEEE sequence. The
    * `qn > 0` predicate mirrors the Spark side's zero-norm and
    * NULL-element drops (a NULL element makes qn NULL; NULL > 0 is
    * not true). `src` has (`key`, …, emb); `extraCols` carries more of
    * its columns (e.g. `label`) through the chain. */
  def quantizeSql(extraCols: String = "", src: String = "base",
      key: String = "vec_id", prefix: String = ""): String =
    s"""${prefix}qz0 AS (SELECT $key,$extraCols emb,
       |    list_aggregate(list_transform(emb, x -> abs(x)), 'max') AS s
       |  FROM $src),
       |${prefix}qz AS (SELECT $key,$extraCols
       |    list_transform(emb, e -> CASE WHEN s = 0 THEN 0.0
       |      WHEN e >= 0 THEN floor(e * 127.0 / s + 0.5)
       |      ELSE -floor(-(e * 127.0 / s) + 0.5) END) AS qv
       |  FROM ${prefix}qz0),
       |${prefix}qn AS (SELECT * FROM (SELECT $key,$extraCols qv,
       |    sqrt(list_dot_product(qv, qv)) AS qn FROM ${prefix}qz)
       |  WHERE qn > 0)""".stripMargin

  /** The unrolled deterministic k-means fit of
    * [[graft.ext.Similarity.kmeansCentroids]] over a base CTE `b`
    * (vec_id, emb), k given as a SQL expression — a literal for the
    * fixed-k entries, a scalar subquery for the k ∝ N shapes. Emits
    * CTEs init → a1/c1 → … → a`iters`/c`iters` → members
    * (vec_id, emb, cid). */
  def kmUnrolledCoreSql(b: String, kExpr: String): String =
    kmUnrolledCoreSplitSql(b, b, kExpr)

  /** [[kmUnrolledCoreSql]] with the FIT corpus split from the ASSIGN
    * corpus — seeds and the Lloyd passes run over `fitB` while the
    * final `members` assignment covers `assignB`: the oracle form of
    * the `fitSampleMod` sampled-fit lever (`fitB` = the
    * `vec_id % mod = 0` slice of `assignB`). */
  def kmUnrolledCoreSplitSql(fitB: String, assignB: String,
      kExpr: String, iters: Int = 2): String = {
    def assignSql(src: String, cent: String, out: String): String =
      s"""$out AS (SELECT vec_id, emb, cid FROM (
         |  SELECT b.vec_id, b.emb, c.cid,
         |    row_number() OVER (PARTITION BY b.vec_id
         |      ORDER BY ${sqlCosine("b.emb", "c.centroid")} DESC, c.cid)
         |      AS rn
         |  FROM $src b CROSS JOIN $cent c) WHERE rn = 1)""".stripMargin
    def updateSql(assigned: String, out: String): String =
      s"""${out}d AS (SELECT cid, i,
         |    ${sqlSumDec("emb[i]")}
         |      / count(*) AS cv
         |  FROM $assigned CROSS JOIN range(1, 65) t(i)
         |  GROUP BY cid, i),
         |$out AS (SELECT cid, list(cv ORDER BY i) AS centroid
         |  FROM ${out}d GROUP BY cid)""".stripMargin
    val rounds = (1 to iters).map { r =>
      val from = if (r == 1) "init" else s"c${r - 1}"
      s"${assignSql(fitB, from, s"a$r")},\n${updateSql(s"a$r", s"c$r")}"
    }
    (s"""init AS (SELECT CAST(rn - 1 AS INT) AS cid, emb AS centroid
        |  FROM (SELECT emb, row_number() OVER (ORDER BY vec_id) AS rn
        |    FROM $fitB) WHERE rn <= ($kExpr))""".stripMargin +: rounds :+
      assignSql(assignB, s"c$iters", "members")).mkString(",\n")
  }

  /** Recursive temp-layout reclamation — the ONE definition shared by
    * every entry/probe that materializes a run-scoped directory
    * (MV stores, phrase indexes, z-order layouts). Call sites wrap it
    * in `finally` so a failed run cannot leak corpus-sized temp dirs. */
  def deleteRecursively(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  /** DuckDB fragment: polynomial hash of string expression `e` —
    * mirrors [[graft.functions.RollingHash]]/[[graft.functions.ArrayPolyHash]]
    * (h = (h·mult + codepoint) mod 2^31−1). The ONE definition of the
    * oracle-side hash family; every sketch/sampling/fingerprint oracle
    * must use it so a constant change cannot drift between query
    * files. */
  def sqlPolyHash(e: String, mult: Long = 31L): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
    s"list_transform(string_split($e, ''), c -> ord(c)::BIGINT)), " +
    s"(a, b) -> (a * $mult + b) % 2147483647)"
}
