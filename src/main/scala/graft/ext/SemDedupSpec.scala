package graft.ext

import graft.queries.QueryUtil.{kmAssignSql, kmUnrolledSql, sqlCosine,
  vectorRowsSql}

/** The cell grid SemDeDup prunes within: pairs are only ever compared
  * inside one cell. */
sealed trait SemDedupGrid

object SemDedupGrid {

  /** One deterministic k-means level ([[Similarity.kmeansCentroids]]),
    * cell `cid`. A row-derived k counts the RAW input, NULL embeddings
    * included. */
  final case class Flat(k: Coarse.KRule) extends SemDedupGrid

  /** Two levels, cells (`cid`, `scid`): a k-means of k clusters, then
    * an independent k-means of k sub-clusters inside each, with
    * k = max(2, ⌈√⌈N/target⌉⌉) over the input guard's vectors (no
    * NULL, NULL-element or zero-norm embedding) — k² ≥
    * N/target cells keep mean cell size near `targetCellSize` while
    * every assignment pass costs N·2k instead of the flat grid's N·k².
    * /target and IEEE sqrt/ceil are exactly rounded, so both engines
    * derive the same k. */
  final case class Hier(targetCellSize: Long) extends SemDedupGrid {
    require(targetCellSize >= 1, "targetCellSize must be >= 1")
    def k(rows: Long): Int =
      math.max(2, math.ceil(math.sqrt(
        math.ceil(rows.toDouble / targetCellSize))).toInt)
    /** [[k]] as a DuckDB expression over `count(*)`. */
    def kSql: String = "GREATEST(2, CAST(ceil(sqrt(ceil(count(*) / " +
      s"$targetCellSize.0))) AS INT))"
  }
}

/** One semantic-dedup run (the SemDeDup recipe, Abbas et al. 2023):
  * cut the corpus into `grid` cells, fitted by `iters` Lloyd rounds on
  * the `vec_id % fitSampleMod == 0` sample while every vector is
  * assigned, then drop every vector whose rounded cosine to a
  * smaller-id vector of its cell is ≥ `threshold`. Embeddings have
  * `dim` dimensions.
  *
  * [[Similarity.semDedup]] (a whole corpus), the ingest gate
  * ([[Similarity.semDedupFit]] on a manifest, then
  * [[Similarity.semDedupGateBatch]] per incoming batch) and the DuckDB
  * oracle ([[SemDedupSpec.oracleSql]]) all read this one value. */
final case class SemDedupSpec(grid: SemDedupGrid, iters: Int,
    threshold: Double, fitSampleMod: Long = 1L, dim: Int = 64) {
  require(fitSampleMod >= 1L, "fitSampleMod must be >= 1")

  /** The output's cell columns. */
  def cellKeys: Seq[String] = grid match {
    case _: SemDedupGrid.Flat => Seq("cid")
    case _: SemDedupGrid.Hier => Seq("cid", "scid")
  }
}

object SemDedupSpec {

  /** The DuckDB oracle of `spec` over the embeddings table:
    * [[Similarity.semDedup]], or with `split` the ingest gate on the
    * hierarchical grid — fitted on the manifest `vec_id % split <> 0`,
    * judging the rest, whose rows alone are output.
    * (vec_id, cid[, scid], kept) by vec_id. */
  def oracleSql(spec: SemDedupSpec, split: Option[Int] = None): String = {
    import spec._
    val hier = grid.isInstanceOf[SemDedupGrid.Hier]
    require(hier || split.isEmpty,
      "the semantic ingest gate runs on the hierarchical grid")
    val fitSrc = if (split.isDefined) "man" else "base"
    val corpus = split.fold("")(m =>
      s""",
         |man AS (SELECT vec_id, emb FROM base WHERE vec_id % $m <> 0),
         |bat AS (SELECT vec_id, emb FROM base WHERE vec_id % $m = 0)"""
        .stripMargin)
    val (kk, kExpr) = grid match {
      case SemDedupGrid.Flat(rule) => ("", rule.sql("embeddings"))
      case h: SemDedupGrid.Hier =>
        (s"kk AS (SELECT ${h.kSql} AS k FROM $fitSrc),\n", "SELECT k FROM kk")
    }
    val sampled = fitSampleMod > 1L
    val fit1 =
      if (sampled) s"fitb AS (SELECT vec_id, emb FROM $fitSrc " +
        s"WHERE vec_id % $fitSampleMod = 0),\n"
      else ""
    val level1 = kmUnrolledSql(if (sampled) "fitb" else fitSrc, fitSrc,
      kExpr, iters, dim = dim)
    // a batch row joins the manifest's OCCUPIED level-1 cells (the
    // engine's restricted assignment)
    val batch = split.fold("")(_ =>
      s""",
         |occ AS (SELECT DISTINCT cid FROM members),
         |c2o AS (SELECT c.cid, c.centroid FROM c$iters c
         |  JOIN occ o ON c.cid = o.cid),
         |${kmAssignSql("bat", "c2o", "bm")}""".stripMargin)
    val l1 = split.fold("members")(_ =>
      "(SELECT vec_id, emb, cid FROM members " +
        "UNION ALL SELECT vec_id, emb, cid FROM bm)")
    val cells =
      if (!hier) "cells AS (SELECT * FROM members)"
      else {
        // level 2 fits on the manifest members — sampled ones plus
        // each cell's min-id member, which keeps every cell seeded
        val fit2 =
          if (!sampled) ""
          else s"""mn AS (SELECT cid, min(vec_id) AS mn FROM members
                  |  GROUP BY cid),
                  |fmem AS (SELECT m.vec_id, m.cid, m.emb FROM members m
                  |  JOIN mn ON m.cid = mn.cid
                  |  WHERE m.vec_id % $fitSampleMod = 0 OR m.vec_id = mn.mn),
                  |""".stripMargin
        fit2 + kmUnrolledSql(if (sampled) "fmem" else "members", l1,
          "SELECT k FROM kk", iters, Some("cid"), "cells", dim)
      }
    val sameCell = cellKeys.map(k => s"a.$k = b.$k").mkString(" AND ")
    val before = split.fold("a.vec_id < b.vec_id")(m =>
      s"b.vec_id % $m = 0 AND (a.vec_id % $m <> 0 OR a.vec_id < b.vec_id)")
    s"""WITH base AS (${vectorRowsSql()})$corpus,
       |$kk$fit1$level1$batch,
       |$cells,
       |p AS (SELECT b.vec_id AS vid
       |  FROM cells a JOIN cells b ON $sameCell
       |  WHERE $before
       |    AND ${sqlCosine("a.emb", "b.emb")} >= $threshold),
       |dr AS (SELECT DISTINCT vid FROM p)
       |SELECT ${("vec_id" +: cellKeys).map("m." + _).mkString(", ")},
       |  (dr.vid IS NULL) AS kept
       |FROM cells m LEFT JOIN dr ON m.vec_id = dr.vid${
         split.fold("")(m => s"\nWHERE m.vec_id % $m = 0")}
       |ORDER BY vec_id""".stripMargin
  }
}
