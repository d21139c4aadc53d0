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

  /** The embeddings rows (vec_id, label, emb) whose vector has a cosine
    * direction — no NULL, NULL-element or zero-norm vector — and that
    * pass the extra predicate `where` (`" AND …"`): the oracle side of
    * every embedding operator's corpus read (`Similarity.vectorRows`).
    * `list_dot_product` raises on a NULL element, and DuckDB does not
    * promise to short-circuit AND, so a CASE keeps it off those rows. */
  def vectorRowsSql(where: String = ""): String =
    "SELECT * FROM (SELECT vec_id, label, embedding::DOUBLE[] AS emb\n" +
      "  FROM embeddings) WHERE CASE WHEN len(list_filter(emb, " +
      "x -> x IS NULL)) = 0\n" +
      s"  THEN list_dot_product(emb, emb) > 0 ELSE false END$where"

  /** SQL fragment mirroring `round(Similarity.cosine(a, b), 6)`. */
  def sqlCosine(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / " +
    s"(sqrt(list_dot_product($a, $a)) * " +
    s"sqrt(list_dot_product($b, $b))), 6)"

  /** `qids` CTE mirroring `Similarity.sampleQueryIds(from, n)` over a
    * relation `from` with a `vec_id` column. The inner `(x % m + m) % m` spells Spark's pmod in
    * sign-preserving SQL `%` — without it a negative BIGINT vec_id
    * would order by a negative residue here while Spark orders by the
    * non-negative pmod, silently selecting different query samples in
    * the two engines. */
  def qidsSql(n: Int = 16, from: String = "base"): String =
    s"""qids AS (SELECT vec_id FROM $from
      |  ORDER BY ((((vec_id % 2147483647) + 2147483647) % 2147483647) * 48271) % 2147483647, vec_id
      |  LIMIT $n)""".stripMargin

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

  /** SQL fragment mirroring `Similarity.l2sq(a, b)`: the rounded
    * squared L2 distance as the same `⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩`
    * expression tree. */
  def sqlL2sq(a: String, b: String): String =
    s"round(list_dot_product($a, $a) - 2 * list_dot_product($a, $b)" +
      s" + list_dot_product($b, $b), 6)"

  /** Nearest-centroid assignment CTE `out`: each row of `src` to its
    * centroid in `cent` by rounded cosine — or with `l2` by rounded
    * squared L2 — ties to the smaller id:
    * [[graft.ext.Similarity.assignClusters]]' mirror. With a `key` the
    * centroids are per-key sub-cells (`scid`) and a row ranks only its
    * own key's. Emits (vec_id, [key,] emb, cid | scid). */
  def kmAssignSql(src: String, cent: String, out: String,
      key: Option[String] = None, l2: Boolean = false): String = {
    val id = if (key.isDefined) "scid" else "cid"
    val kc = key.fold("")(k => s"$k, ")
    val from = key.fold(s"$src b CROSS JOIN $cent c")(k =>
      s"$src b JOIN $cent c ON b.$k = c.$k")
    val order =
      if (l2) s"${sqlL2sq("b.emb", "c.centroid")} ASC"
      else s"${sqlCosine("b.emb", "c.centroid")} DESC"
    s"""$out AS (SELECT vec_id, ${kc}emb, $id FROM (
       |  SELECT b.vec_id, ${key.fold("")(k => s"b.$k, ")}b.emb, c.$id,
       |    row_number() OVER (PARTITION BY b.vec_id${key.fold("")(k =>
              s", b.$k")}
       |      ORDER BY $order, c.$id)
       |      AS rn
       |  FROM $from) WHERE rn = 1)""".stripMargin
  }

  /** The unrolled deterministic k-means fit of
    * [[graft.ext.Similarity]]'s one Lloyd loop: seeds are the `kExpr`
    * smallest vec_ids of the fit corpus `fitB`, then `iters` rounds of
    * [[kmAssignSql]] + exact decimal means, then the assignment of
    * `assignB` as the CTE `out`. `kExpr` is a SQL expression — a
    * literal, or a scalar subquery for the row-derived k rules. Fitting
    * on a `vec_id % mod = 0` slice while assigning the whole corpus is
    * the sampled-fit lever.
    *
    * Without a `key` this is the flat k-means (CTEs c0 … c`iters`,
    * cell `cid`). With one, every seed, assignment and mean runs per
    * key (CTEs sc0 … sc`iters`, sub-cell `scid`): keyed on `label` it
    * is the two-level IVF grid's sub-cells, keyed on `cid` the
    * hierarchical SemDeDup level 2, keyed on `sub` under `l2` the PQ
    * codebooks. */
  def kmUnrolledSql(fitB: String, assignB: String, kExpr: String,
      iters: Int = 2, key: Option[String] = None, out: String = "members",
      dim: Int = 64, l2: Boolean = false): String = {
    val p = if (key.isDefined) "s" else ""
    val id = if (key.isDefined) "scid" else "cid"
    val kc = key.fold("")(k => s"$k, ")
    def update(assigned: String, o: String): String =
      s"""${o}d AS (SELECT $kc$id, i, ${sqlSumDec("emb[i]")} / count(*) AS cv
         |  FROM $assigned CROSS JOIN range(1, ${dim + 1}) t(i)
         |  GROUP BY $kc$id, i),
         |$o AS (SELECT $kc$id, list(cv ORDER BY i) AS centroid
         |  FROM ${o}d GROUP BY $kc$id)""".stripMargin
    val seed =
      s"""${p}c0 AS (SELECT ${kc}CAST(rn - 1 AS INT) AS $id, emb AS centroid
         |  FROM (SELECT ${kc}emb, row_number() OVER (
         |      ${key.fold("")(k => s"PARTITION BY $k ")}ORDER BY vec_id) AS rn
         |    FROM $fitB) WHERE rn <= ($kExpr))""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"${kmAssignSql(fitB, s"${p}c${r - 1}", s"${p}a$r", key, l2)},\n" +
        update(s"${p}a$r", s"${p}c$r")
    }
    (seed +: rounds :+ kmAssignSql(assignB, s"${p}c$iters", out, key, l2))
      .mkString(",\n")
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
