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
