package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.ops.{Availability, Melt, Merge, Normalize}
import QueryUtil._

/** Reference-parity operator queries (SURVEY.md §2): each reference
  * operator re-expressed set-based over the driver testdata, so the
  * DuckDB oracle reads byte-identical inputs. Sheet-shaped staging
  * frames are derived deterministically from the testdata tables
  * (FIXTURES.md §B note) — the derivation CASE logic is mirrored 1:1
  * in the oracle SQL.
  */
object Parity {

  // ---- shared staged "projects" frame (drives R2/J3/J7/J8) ----------
  // project_id = o_orderkey; 5 role FKs derived from o_custkey with
  // deterministic NULL injection (role column missing on some rows).
  private def projFrame(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey").as("project_id"),
      col("o_custkey").as("em_id"),
      when(col("o_orderkey") % 7 === 0, lit(null).cast("long"))
        .otherwise((col("o_custkey") + 1) % 150).as("sm_id"),
      when(col("o_orderkey") % 5 === 0, lit(null).cast("long"))
        .otherwise((col("o_custkey") + 2) % 150).as("pm_id"),
      when(col("o_orderkey") % 3 === 0, lit(null).cast("long"))
        .otherwise((col("o_custkey") + 3) % 150).as("sc1_id"),
      when(col("o_orderkey") % 2 === 0, lit(null).cast("long"))
        .otherwise((col("o_custkey") + 4) % 150).as("sc2_id"))

  private val projSql =
    """proj AS (SELECT o_orderkey AS project_id, o_custkey AS em_id,
      |  CASE WHEN o_orderkey % 7 = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE (o_custkey + 1) % 150 END AS sm_id,
      |  CASE WHEN o_orderkey % 5 = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE (o_custkey + 2) % 150 END AS pm_id,
      |  CASE WHEN o_orderkey % 3 = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE (o_custkey + 3) % 150 END AS sc1_id,
      |  CASE WHEN o_orderkey % 2 = 0 THEN CAST(NULL AS BIGINT)
      |       ELSE (o_custkey + 4) % 150 END AS sc2_id
      |  FROM orders)""".stripMargin

  private val roleCols = Seq(
    "EM" -> "em_id", "SM" -> "sm_id", "PM" -> "pm_id",
    "SC" -> "sc1_id", "SC" -> "sc2_id")

  // ---- F1/F2/A1: validation split + summary -------------------------
  def pValidationSplit(s: SparkSession, d: String): DataFrame = {
    val staged = Tables.customer(s, d).select(
      col("c_custkey"),
      when(col("c_custkey") % 11 === 3, lit("")).otherwise(col("c_name"))
        .as("name"),
      when(col("c_custkey") % 13 === 5, lit(null).cast("string"))
        .otherwise(concat(lit("u"), col("c_custkey").cast("string"),
          lit("@x.com"))).as("email"),
      col("c_mktsegment").as("curr_role"),
      when(col("c_custkey") % 7 === 0, lit("   "))
        .otherwise(concat(lit("nid"), col("c_custkey").cast("string")))
        .as("netid"))
    staged
      .withColumn("_invalid_reason", Normalize.missingReason(Seq(
        "Name" -> col("name"), "Email" -> col("email"),
        "NetID" -> col("netid"))))
      .groupBy(col("_invalid_reason").as("reason"))
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("reason"))
  }

  private val pValidationSplitSql =
    """WITH staged AS (SELECT c_custkey,
      |  CASE WHEN c_custkey % 11 = 3 THEN '' ELSE c_name END AS name,
      |  CASE WHEN c_custkey % 13 = 5 THEN CAST(NULL AS VARCHAR)
      |       ELSE 'u' || c_custkey || '@x.com' END AS email,
      |  c_mktsegment AS curr_role,
      |  CASE WHEN c_custkey % 7 = 0 THEN '   '
      |       ELSE 'nid' || c_custkey END AS netid
      |  FROM customer),
      |reasons AS (SELECT
      |  CASE WHEN nullif(concat_ws(', ',
      |      CASE WHEN coalesce(trim(name), '') = '' THEN 'Name' END,
      |      CASE WHEN coalesce(trim(email), '') = '' THEN 'Email' END,
      |      CASE WHEN coalesce(trim(netid), '') = '' THEN 'NetID' END), '')
      |    IS NOT NULL THEN 'missing: ' || nullif(concat_ws(', ',
      |      CASE WHEN coalesce(trim(name), '') = '' THEN 'Name' END,
      |      CASE WHEN coalesce(trim(email), '') = '' THEN 'Email' END,
      |      CASE WHEN coalesce(trim(netid), '') = '' THEN 'NetID' END), '')
      |  END AS reason FROM staged)
      |SELECT reason, count(*) AS n FROM reasons GROUP BY reason
      |ORDER BY reason ASC NULLS FIRST""".stripMargin

  // ---- parse_boolean truth table ------------------------------------
  def pParseBoolean(s: SparkSession, d: String): DataFrame = {
    val bucket = col("c_custkey") % 10
    val raw = when(bucket === 0, lit("yes")).when(bucket === 1, lit("True"))
      .when(bucket === 2, lit("1")).when(bucket === 3, lit("no"))
      .when(bucket === 4, lit("FALSE")).when(bucket === 5, lit("0"))
      .when(bucket === 6, lit("")).when(bucket === 7, lit("maybe"))
      .when(bucket === 8, lit(" YES ")).otherwise(lit(null).cast("string"))
    Tables.customer(s, d)
      .select(bucket.as("bucket"), raw.as("raw"))
      .withColumn("parsed", Normalize.parseBoolean(col("raw")))
      .groupBy("bucket", "raw", "parsed")
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  private val pParseBooleanSql =
    """WITH staged AS (SELECT c_custkey % 10 AS bucket,
      |  CASE c_custkey % 10 WHEN 0 THEN 'yes' WHEN 1 THEN 'True'
      |    WHEN 2 THEN '1' WHEN 3 THEN 'no' WHEN 4 THEN 'FALSE'
      |    WHEN 5 THEN '0' WHEN 6 THEN '' WHEN 7 THEN 'maybe'
      |    WHEN 8 THEN ' YES ' ELSE CAST(NULL AS VARCHAR) END AS raw
      |  FROM customer)
      |SELECT bucket, raw,
      |  coalesce(lower(trim(raw)) IN ('yes', 'true', '1'), false) AS parsed,
      |  count(*) AS n
      |FROM staged GROUP BY bucket, raw,
      |  coalesce(lower(trim(raw)) IN ('yes', 'true', '1'), false)
      |ORDER BY bucket""".stripMargin

  // ---- P3: blank → NULL ---------------------------------------------
  def pBlankToNull(s: SparkSession, d: String): DataFrame = {
    val v = when(col("c_custkey") % 4 === 0, lit(""))
      .when(col("c_custkey") % 4 === 1, lit("  "))
      .when(col("c_custkey") % 4 === 2, lit(null).cast("string"))
      .otherwise(col("c_name"))
    Tables.customer(s, d).select(v.as("v"))
      .withColumn("norm", Normalize.blankToNull(col("v")))
      .agg(count(lit(1)).as("n_rows"),
        count(col("norm")).as("n_nonnull"),
        count(when(col("v").isNotNull && col("norm").isNull, 1))
          .as("n_blanked"))
  }

  private val pBlankToNullSql =
    """WITH staged AS (SELECT
      |  CASE WHEN c_custkey % 4 = 0 THEN '' WHEN c_custkey % 4 = 1 THEN '  '
      |       WHEN c_custkey % 4 = 2 THEN CAST(NULL AS VARCHAR)
      |       ELSE c_name END AS v
      |  FROM customer),
      |norm AS (SELECT v,
      |  CASE WHEN trim(v) = '' THEN CAST(NULL AS VARCHAR) ELSE v END AS norm
      |  FROM staged)
      |SELECT count(*) AS n_rows, count(norm) AS n_nonnull,
      |  count(CASE WHEN v IS NOT NULL AND norm IS NULL THEN 1 END)
      |    AS n_blanked
      |FROM norm""".stripMargin

  // ---- P2: multi-candidate header coalesce --------------------------
  def pHeaderCoalesce(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      when(col("p_partkey") % 3 === 0, col("p_name")).as("cand1"),
      when(col("p_partkey") % 5 === 0, lit(""))
        .otherwise(upper(col("p_name"))).as("cand2"),
      col("p_brand").as("cand3"))
      .withColumn("resolved", Normalize.coalesceCandidates(
        Seq(col("cand1"), col("cand2"), col("cand3"))))
      .select("p_partkey", "resolved")
      .orderBy("p_partkey")

  private val pHeaderCoalesceSql =
    """WITH staged AS (SELECT p_partkey,
      |  CASE WHEN p_partkey % 3 = 0 THEN p_name END AS cand1,
      |  CASE WHEN p_partkey % 5 = 0 THEN '' ELSE upper(p_name) END AS cand2,
      |  p_brand AS cand3
      |  FROM part)
      |SELECT p_partkey, coalesce(
      |    CASE WHEN trim(cand1) <> '' THEN cand1 END,
      |    CASE WHEN trim(cand2) <> '' THEN cand2 END,
      |    CASE WHEN trim(cand3) <> '' THEN cand3 END) AS resolved
      |FROM staged ORDER BY p_partkey""".stripMargin

  // ---- R1: availability bitmap pivot over events --------------------
  // Day×hour activity bitmaps per user: the reference's wide→wide slot
  // pivot re-expressed as 7 bit_or mask aggregations (one long per
  // day; bit h = activity in hour h). A first cut used 24×7 = 168
  // max(CASE) aggregates, whose generated aggregate method exceeded
  // JIT-able size and intermittently fell back to interpreted eval;
  // the mask form is 7 codegen-friendly aggs, with the 24-char string
  // built post-aggregation on the (tiny) grouped result.
  def pAvailPivot(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(
      col("user_id"),
      lower(date_format(col("ts"), "EEEE")).as("day"),
      hour(col("ts")).as("h"))
    val masks = Availability.DayNames.map { case (out, day) =>
      bit_or(when(col("day") === day,
        pow(lit(2.0), col("h")).cast("long")).otherwise(lit(0L)))
        .as(s"${out}_m")
    }
    ev.groupBy("user_id").agg(masks.head, masks.tail: _*)
      .select(col("user_id") +:
        Availability.DayNames.map { case (out, _) =>
          concat((0 until 24).map(hh =>
            shiftright(col(s"${out}_m"), hh).bitwiseAND(1)
              .cast("string")): _*).as(out)
        }: _*)
      .orderBy("user_id")
  }

  private val pAvailPivotSql = {
    val masks = Availability.DayNames.map { case (out, day) =>
      s"bit_or(CASE WHEN lower(dayname(ts)) = '$day' " +
      s"THEN (CAST(1 AS BIGINT) << hour(ts)) ELSE 0 END) AS ${out}_m"
    }.mkString(",\n    ")
    val strings = Availability.DayNames.map { case (out, _) =>
      (0 until 24).map(hh => s"((${out}_m >> $hh) & 1)::VARCHAR")
        .mkString(" || ") + s" AS $out"
    }.mkString(",\n  ")
    s"""WITH m AS (SELECT user_id,
       |    $masks
       |  FROM events GROUP BY user_id)
       |SELECT user_id,
       |  $strings
       |FROM m ORDER BY user_id""".stripMargin
  }

  // ---- J4: users upsert (full-outer MERGE + deterministic ids) ------
  def pUsersMerge(s: SparkSession, d: String): DataFrame = {
    val email = concat(lit("u"), col("c_custkey").cast("string"),
      lit("@x.com"))
    val cur = Tables.customer(s, d).filter(col("c_custkey") % 3 =!= 0)
      .select(email.as("email"), col("c_custkey").as("user_id"),
        col("c_name").as("name"), col("c_acctbal").as("acctbal"),
        col("c_mktsegment").as("seg"))
    val st = Tables.customer(s, d).filter(col("c_custkey") % 2 === 0)
      .select(email.as("email"), col("c_name").as("name"),
        when(col("c_custkey") % 5 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")).as("acctbal"),
        when(col("c_custkey") % 4 === 0, lit("CHANGED"))
          .otherwise(col("c_mktsegment")).as("seg"))
    val merged = Merge.merge(st, cur, Seq("email"),
      Seq("name", "acctbal", "seg"))
    Merge.assignIds(merged, "user_id", "email", cur)
      .orderBy("email")
  }

  private val pUsersMergeSql =
    """WITH cur AS (SELECT 'u' || c_custkey || '@x.com' AS email,
      |    c_custkey AS user_id, c_name AS name, c_acctbal AS acctbal,
      |    c_mktsegment AS seg
      |  FROM customer WHERE c_custkey % 3 <> 0),
      |st AS (SELECT 'u' || c_custkey || '@x.com' AS email, c_name AS name,
      |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0
      |         ELSE c_acctbal END AS acctbal,
      |    CASE WHEN c_custkey % 4 = 0 THEN 'CHANGED'
      |         ELSE c_mktsegment END AS seg
      |  FROM customer WHERE c_custkey % 2 = 0),
      |m AS (SELECT coalesce(st.email, cur.email) AS email,
      |    cur.user_id AS user_id0,
      |    CASE WHEN st.email IS NOT NULL THEN st.name ELSE cur.name END
      |      AS name,
      |    CASE WHEN st.email IS NOT NULL THEN st.acctbal ELSE cur.acctbal
      |      END AS acctbal,
      |    CASE WHEN st.email IS NOT NULL THEN st.seg ELSE cur.seg END
      |      AS seg,
      |    CASE WHEN cur.email IS NULL THEN 'insert'
      |         WHEN st.email IS NULL THEN 'keep'
      |         WHEN st.name IS NOT DISTINCT FROM cur.name
      |          AND st.acctbal IS NOT DISTINCT FROM cur.acctbal
      |          AND st.seg IS NOT DISTINCT FROM cur.seg THEN 'noop'
      |         ELSE 'update' END AS _action
      |  FROM st FULL OUTER JOIN cur ON st.email = cur.email),
      |mx AS (SELECT coalesce(max(user_id0), 0) AS max_id FROM m)
      |SELECT email,
      |  CASE WHEN _action = 'insert' THEN mx.max_id + row_number()
      |    OVER (PARTITION BY _action = 'insert' ORDER BY email)
      |  ELSE user_id0 END AS user_id,
      |  name, acctbal, seg, _action
      |FROM m CROSS JOIN mx ORDER BY email""".stripMargin

  // ---- R2: role melt (unpivot) --------------------------------------
  def pRoleMelt(s: SparkSession, d: String): DataFrame =
    Melt.melt(projFrame(s, d), Seq("project_id"), roleCols,
      "role", "user_id")
      .orderBy("project_id", "role", "user_id")

  private val pRoleMeltSql = {
    val branches = roleCols.map { case (label, c) =>
      s"SELECT project_id, '$label' AS role, $c AS user_id FROM proj " +
      s"WHERE $c IS NOT NULL"
    }.mkString("\n  UNION ALL ")
    s"""WITH $projSql
       |$branches
       |ORDER BY project_id, role, user_id""".stripMargin
  }

  // ---- J3: 5-way aliased dim join -----------------------------------
  // The users side is built from customer, which scales with the
  // corpus (150k·SF) — so NO broadcast hint on any of the five joins:
  // AQE broadcasts the projection while it fits and falls back to
  // shuffled hash joins beyond autoBroadcastJoinThreshold (the q8/q18
  // treatment; the reference's users table is genuinely dim-sized,
  // but a forced hint here would OOM the driver at corpus scale).
  def pFiveWayJoin(s: SparkSession, d: String): DataFrame = {
    val users = Tables.customer(s, d).select("c_custkey", "c_name")
    var df = projFrame(s, d)
    for ((alias, idCol, outCol) <- Seq(
        ("u_em", "em_id", "em_name"), ("u_sm", "sm_id", "sm_name"),
        ("u_pm", "pm_id", "pm_name"), ("u_sc1", "sc1_id", "sc1_name"),
        ("u_sc2", "sc2_id", "sc2_name"))) {
      df = df.join(users.alias(alias),
          col(idCol) === col(s"$alias.c_custkey"), "left")
        .withColumn(outCol, col(s"$alias.c_name"))
        .drop(s"$alias.c_custkey").drop(s"$alias.c_name")
    }
    df.select("project_id", "em_name", "sm_name", "pm_name",
      "sc1_name", "sc2_name").orderBy("project_id")
  }

  private val pFiveWayJoinSql =
    s"""WITH $projSql
       |SELECT p.project_id, u_em.c_name AS em_name, u_sm.c_name AS sm_name,
       |  u_pm.c_name AS pm_name, u_sc1.c_name AS sc1_name,
       |  u_sc2.c_name AS sc2_name
       |FROM proj p
       |LEFT JOIN customer u_em ON p.em_id = u_em.c_custkey
       |LEFT JOIN customer u_sm ON p.sm_id = u_sm.c_custkey
       |LEFT JOIN customer u_pm ON p.pm_id = u_pm.c_custkey
       |LEFT JOIN customer u_sc1 ON p.sc1_id = u_sc1.c_custkey
       |LEFT JOIN customer u_sc2 ON p.sc2_id = u_sc2.c_custkey
       |ORDER BY project_id""".stripMargin

  // ---- J7: role reconciliation with precedence ----------------------
  // The reference applies role updates sequentially (last writer wins);
  // the documented set-based rule is precedence EM > SM > PM > SC with
  // project_id as the tiebreak (SURVEY.md §7.4).
  def pRoleReconcile(s: SparkSession, d: String): DataFrame = {
    val assignments = Melt.melt(projFrame(s, d), Seq("project_id"),
      roleCols, "role", "user_id")
      .withColumn("prec",
        when(col("role") === "EM", 1).when(col("role") === "SM", 2)
          .when(col("role") === "PM", 3).otherwise(4))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(asc("prec"), asc("project_id"))
    val expected = assignments
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("role").as("expected_role"))
    val users = Tables.customer(s, d).select(
      col("c_custkey").as("user_id"),
      when(col("c_custkey") % 4 === 0, lit("EM"))
        .when(col("c_custkey") % 4 === 1, lit("SM"))
        .when(col("c_custkey") % 4 === 2, lit("PM"))
        .otherwise(lit("SC")).as("curr_role"))
    users.join(expected, Seq("user_id"))
      .withColumn("new_role",
        when(col("curr_role") =!= col("expected_role"),
          col("expected_role")).otherwise(col("curr_role")))
      .filter(col("curr_role") =!= col("new_role"))
      .select("user_id", "curr_role", "new_role")
      .orderBy("user_id")
  }

  private val pRoleReconcileSql = {
    val branches = roleCols.map { case (label, c) =>
      s"SELECT project_id, '$label' AS role, $c AS user_id FROM proj " +
      s"WHERE $c IS NOT NULL"
    }.mkString("\n  UNION ALL ")
    s"""WITH $projSql,
       |assignments AS ($branches),
       |ranked AS (SELECT user_id, role,
       |    row_number() OVER (PARTITION BY user_id ORDER BY
       |      CASE role WHEN 'EM' THEN 1 WHEN 'SM' THEN 2 WHEN 'PM' THEN 3
       |        ELSE 4 END ASC, project_id ASC) AS rn
       |  FROM assignments),
       |expected AS (SELECT user_id, role AS expected_role FROM ranked
       |  WHERE rn = 1),
       |users AS (SELECT c_custkey AS user_id,
       |    CASE WHEN c_custkey % 4 = 0 THEN 'EM'
       |         WHEN c_custkey % 4 = 1 THEN 'SM'
       |         WHEN c_custkey % 4 = 2 THEN 'PM' ELSE 'SC' END AS curr_role
       |  FROM customer)
       |SELECT u.user_id, u.curr_role, e.expected_role AS new_role
       |FROM users u JOIN expected e ON u.user_id = e.user_id
       |WHERE u.curr_role <> e.expected_role
       |ORDER BY u.user_id""".stripMargin
  }

  // ---- J8: returning flag (semi-join conditional update) ------------
  def pReturningFlag(s: SparkSession, d: String): DataFrame = {
    val newProjects = projFrame(s, d).filter(col("project_id") % 2 === 0)
    val staffed = Melt.melt(newProjects, Seq("project_id"),
      roleCols.filterNot(_._1 == "EM"), "role", "user_id")
      .select("user_id").distinct()
    Tables.customer(s, d)
      .join(staffed, col("c_custkey") === col("user_id"), "left")
      .select(col("c_custkey"),
        when(col("user_id").isNotNull, lit("returning"))
          .otherwise(lit("active")).as("status"))
      .orderBy("c_custkey")
  }

  private val pReturningFlagSql = {
    val branches = roleCols.filterNot(_._1 == "EM").map { case (label, c) =>
      s"SELECT $c AS user_id FROM proj WHERE project_id % 2 = 0 " +
      s"AND $c IS NOT NULL"
    }.mkString("\n  UNION ALL ")
    s"""WITH $projSql,
       |staffed AS (SELECT DISTINCT user_id FROM ($branches))
       |SELECT c_custkey,
       |  CASE WHEN s.user_id IS NOT NULL THEN 'returning'
       |       ELSE 'active' END AS status
       |FROM customer LEFT JOIN staffed s ON c_custkey = s.user_id
       |ORDER BY c_custkey""".stripMargin
  }

  // ---- B1: whole-table bulk update (end-semester rollover) ----------
  def pBulkUpdate(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey"),
      (col("c_custkey") % 8).as("semesters_in_ibc"))
      .withColumn("status", lit("Deferred"))
      .withColumn("semesters_in_ibc", col("semesters_in_ibc") + 1)
      .orderBy("c_custkey")

  private val pBulkUpdateSql =
    """SELECT c_custkey, (c_custkey % 8) + 1 AS semesters_in_ibc,
      |  'Deferred' AS status
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---- F5: numeric-string guard with error routing ------------------
  def pNumericGuard(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"), col("props"))
      .withColumn("k_str", regexp_extract(col("props"), "[0-9]+", 0))
      .withColumn("raw",
        when(col("event_id") % 9 === 0, concat(lit("bad"), col("k_str")))
          .otherwise(col("k_str")))
    ev.withColumn("val", Normalize.guardedInt(col("raw")))
      .withColumn("is_error", col("val").isNull)
      .select("event_id", "raw", "val", "is_error")
      .orderBy("event_id")
  }

  private val pNumericGuardSql =
    """WITH staged AS (SELECT event_id,
      |  CASE WHEN event_id % 9 = 0
      |       THEN 'bad' || regexp_extract(props, '[0-9]+', 0)
      |       ELSE regexp_extract(props, '[0-9]+', 0) END AS raw
      |  FROM events)
      |SELECT event_id, raw, TRY_CAST(raw AS INT) AS val,
      |  TRY_CAST(raw AS INT) IS NULL AS is_error
      |FROM staged ORDER BY event_id""".stripMargin

  // ---- SCD2 temporal merge (J4 history-keeping variant) -------------
  def pScd2Merge(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey").as("uid"), col("c_acctbal").as("bal"))
    val open = c.select(col("uid"), col("bal"),
      lit("2020-01-01").cast("timestamp").as("valid_from"),
      lit(null).cast("timestamp").as("valid_to"),
      lit(true).as("is_current"))
    val closedHist = c.filter(col("uid") % 10 === 0)
      .select(col("uid"), (col("bal") - 50.0).as("bal"),
        lit("2019-01-01").cast("timestamp").as("valid_from"),
        lit("2020-01-01").cast("timestamp").as("valid_to"),
        lit(false).as("is_current"))
    val current = closedHist.unionByName(open)
    val staged = c.filter(col("uid") % 4 === 0)
      .select(col("uid"),
        when(col("uid") % 8 === 0, col("bal") + 25.0)
          .otherwise(col("bal")).as("bal"))
      .unionByName(c.filter(col("uid") % 50 === 0)
        .select((col("uid") + 100000).as("uid"),
          (col("bal") + 1000.0).as("bal")))
    Merge.scd2Merge(staged, current, Seq("uid"), Seq("bal"),
      lit("2024-06-01").cast("timestamp"))
      .orderBy("uid", "valid_from", "is_current")
  }

  /** SCD2 POINT-IN-TIME lookup (the query-side complement of
    * [[pScd2Merge]]'s history-keeping write): each order resolves
    * the dimension version that was valid AT its order date —
    * `valid_from <= o_orderdate < coalesce(valid_to, +inf)`. The
    * dimension is a deterministic 3-version-per-key SCD2 table built
    * from customer (validity breaks at 1996-07-01 / 1998-01-01,
    * spanning the order-date range). Scale shape: an EQUI-join on
    * the surrogate key with the interval containment as a residual
    * filter — versions per key are few and bounded, so this is a
    * plain broadcast/shuffled hash join, never a range-only
    * nested-loop. The dimension is customer-derived and so scales
    * with the corpus: NO broadcast hint — AQE broadcasts it while it
    * fits and shuffles on the surrogate key beyond the threshold
    * (the q8/q18 treatment). Exactly one version matches per order
    * by construction (proved in PipelinesSpec). */
  def pScd2Lookup(s: SparkSession, d: String): DataFrame = {
    val dim = scd2Dim(s, d)
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey").as("uid"),
        col("o_orderdate"))
    ord.join(dim, Seq("uid"))
      .filter(col("valid_from") <= col("o_orderdate") &&
        (col("valid_to").isNull || col("o_orderdate") < col("valid_to")))
      .select(col("o_orderkey"), col("uid"), col("o_orderdate"),
        col("bal"), col("version_no"))
      .orderBy("o_orderkey")
  }

  /** Deterministic 3-version SCD2 dimension over customer, validity
    * spanning the order-date range. */
  private[queries] def scd2Dim(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey").as("uid"), col("c_acctbal").as("bal0"))
    val v1 = c.select(col("uid"), col("bal0").as("bal"),
      lit("1990-01-01").cast("timestamp").as("valid_from"),
      lit("1996-07-01").cast("timestamp").as("valid_to"),
      lit(1L).as("version_no"))
    val v2 = c.select(col("uid"), (col("bal0") + 100.0).as("bal"),
      lit("1996-07-01").cast("timestamp").as("valid_from"),
      lit("1998-01-01").cast("timestamp").as("valid_to"),
      lit(2L).as("version_no"))
    val v3 = c.select(col("uid"), (col("bal0") + 250.0).as("bal"),
      lit("1998-01-01").cast("timestamp").as("valid_from"),
      lit(null).cast("timestamp").as("valid_to"),
      lit(3L).as("version_no"))
    v1.unionByName(v2).unionByName(v3)
  }

  private val pScd2LookupSql =
    """WITH c AS (SELECT c_custkey AS uid, c_acctbal AS bal0
      |  FROM customer),
      |dim AS (
      |  SELECT uid, bal0 AS bal, TIMESTAMP '1990-01-01' AS valid_from,
      |    TIMESTAMP '1996-07-01' AS valid_to, CAST(1 AS BIGINT)
      |    AS version_no FROM c
      |  UNION ALL SELECT uid, bal0 + 100.0, TIMESTAMP '1996-07-01',
      |    TIMESTAMP '1998-01-01', 2 FROM c
      |  UNION ALL SELECT uid, bal0 + 250.0, TIMESTAMP '1998-01-01',
      |    NULL, 3 FROM c)
      |SELECT o_orderkey, o_custkey AS uid, o_orderdate, bal, version_no
      |FROM orders JOIN dim ON o_custkey = dim.uid
      |WHERE valid_from <= o_orderdate
      |  AND (valid_to IS NULL OR o_orderdate < valid_to)
      |ORDER BY o_orderkey""".stripMargin

  /** CDC apply (the change-feed complement of the state-diff
    * [[pUsersMerge]]): a deterministic I/U/D event log derived from
    * customer advances a snapshot — latest change per key wins (by
    * sequence, then the documented D<I<U op order), deletes remove.
    * Feed construction covers every interaction: plain update
    * (uid%5), plain delete (uid%7), delete-then-late-update and
    * update-then-late-delete (uid%35 splits by uid%2), stacked
    * updates where only the latest applies (uid%10), and inserts of
    * brand-new keys (uid%50 → uid+200000). */
  def pCdcApply(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey").as("uid"), col("c_acctbal").as("bal"),
        col("c_mktsegment").as("seg"))
    val snapshot = c
    val u5 = c.filter(col("uid") % 5 === 0)
      .select(col("uid"), lit("U").as("op"), lit(2L).as("seq"),
        (col("bal") + 10.0).as("bal"), col("seg"))
    val d7 = c.filter(col("uid") % 7 === 0)
      .select(col("uid"), lit("D").as("op"), lit(3L).as("seq"),
        lit(null).cast("double").as("bal"),
        lit(null).cast("string").as("seg"))
    val lateU = c.filter(col("uid") % 35 === 0 && col("uid") % 2 === 0)
      .select(col("uid"), lit("U").as("op"), lit(9L).as("seq"),
        (col("bal") + 77.0).as("bal"), col("seg"))
    val u10 = c.filter(col("uid") % 10 === 0)
      .select(col("uid"), lit("U").as("op"), lit(4L).as("seq"),
        (col("bal") + 20.0).as("bal"), col("seg"))
    val ins = c.filter(col("uid") % 50 === 0)
      .select((col("uid") + 200000L).as("uid"), lit("I").as("op"),
        lit(1L).as("seq"), (col("bal") + 1000.0).as("bal"),
        lit("NEW").as("seg"))
    val feed = u5.unionByName(d7).unionByName(lateU)
      .unionByName(u10).unionByName(ins)
    Merge.cdcApply(snapshot, feed, Seq("uid"), "seq")
      .orderBy("uid")
  }

  private val pCdcApplySql =
    """WITH c AS (SELECT c_custkey AS uid, c_acctbal AS bal,
      |    c_mktsegment AS seg FROM customer),
      |feed AS (
      |  SELECT uid, 'U' AS op, 2 AS seq, bal + 10.0 AS bal, seg
      |    FROM c WHERE uid % 5 = 0
      |  UNION ALL SELECT uid, 'D', 3, NULL, NULL FROM c
      |    WHERE uid % 7 = 0
      |  UNION ALL SELECT uid, 'U', 9, bal + 77.0, seg FROM c
      |    WHERE uid % 35 = 0 AND uid % 2 = 0
      |  UNION ALL SELECT uid, 'U', 4, bal + 20.0, seg FROM c
      |    WHERE uid % 10 = 0
      |  UNION ALL SELECT uid + 200000, 'I', 1, bal + 1000.0, 'NEW'
      |    FROM c WHERE uid % 50 = 0),
      |latest AS (SELECT uid, op, bal, seg FROM (
      |  SELECT uid, op, bal, seg, row_number() OVER (
      |      PARTITION BY uid
      |      ORDER BY seq DESC, op DESC, bal DESC, seg DESC) AS rn
      |  FROM feed) WHERE rn = 1)
      |SELECT coalesce(l.uid, s.uid) AS uid,
      |  CASE WHEN l.uid IS NOT NULL THEN l.bal ELSE s.bal END AS bal,
      |  CASE WHEN l.uid IS NOT NULL THEN l.seg ELSE s.seg END AS seg
      |FROM c s FULL OUTER JOIN latest l ON s.uid = l.uid
      |WHERE l.uid IS NULL OR l.op <> 'D'
      |ORDER BY uid""".stripMargin

  /** CDC feed applied as SCD2 HISTORY ([[Merge.cdcScd2]] — the
    * composition of [[pCdcApply]]'s feed reduction with
    * [[pScd2Merge]]'s versioning): same interaction-covering feed
    * construction as [[pCdcApply]] (stacked updates, deletes,
    * late-sequence reversals, brand-new inserts) plus an
    * identical-payload update leg (uid%13==1, seq 5) that must leave
    * the open version untouched; deletes close the open version with
    * NO successor. History = one closed version (uid%10) + one open
    * version per customer. */
  def pCdcScd2(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey").as("uid"), col("c_acctbal").as("bal"),
        col("c_mktsegment").as("seg"))
    val closedHist = c.filter(col("uid") % 10 === 0)
      .select(col("uid"), (col("bal") - 50.0).as("bal"), col("seg"),
        lit("2019-01-01").cast("timestamp").as("valid_from"),
        lit("2020-01-01").cast("timestamp").as("valid_to"),
        lit(false).as("is_current"))
    val open = c.select(col("uid"), col("bal"), col("seg"),
      lit("2020-01-01").cast("timestamp").as("valid_from"),
      lit(null).cast("timestamp").as("valid_to"),
      lit(true).as("is_current"))
    val history = closedHist.unionByName(open)
    val u5 = c.filter(col("uid") % 5 === 0)
      .select(col("uid"), lit("U").as("op"), lit(2L).as("seq"),
        (col("bal") + 10.0).as("bal"), col("seg"))
    val d7 = c.filter(col("uid") % 7 === 0)
      .select(col("uid"), lit("D").as("op"), lit(3L).as("seq"),
        lit(null).cast("double").as("bal"),
        lit(null).cast("string").as("seg"))
    val lateU = c.filter(col("uid") % 35 === 0 && col("uid") % 2 === 0)
      .select(col("uid"), lit("U").as("op"), lit(9L).as("seq"),
        (col("bal") + 77.0).as("bal"), col("seg"))
    val u10 = c.filter(col("uid") % 10 === 0)
      .select(col("uid"), lit("U").as("op"), lit(4L).as("seq"),
        (col("bal") + 20.0).as("bal"), col("seg"))
    val noop13 = c.filter(col("uid") % 13 === 1)
      .select(col("uid"), lit("U").as("op"), lit(5L).as("seq"),
        col("bal"), col("seg"))
    val ins = c.filter(col("uid") % 50 === 0)
      .select((col("uid") + 200000L).as("uid"), lit("I").as("op"),
        lit(1L).as("seq"), (col("bal") + 1000.0).as("bal"),
        lit("NEW").as("seg"))
    val feed = u5.unionByName(d7).unionByName(lateU)
      .unionByName(u10).unionByName(noop13).unionByName(ins)
    Merge.cdcScd2(history, feed, Seq("uid"), "seq",
      lit("2024-06-01").cast("timestamp"))
      .orderBy("uid", "valid_from", "is_current")
  }

  private val pCdcScd2Sql =
    """WITH c AS (SELECT c_custkey AS uid, c_acctbal AS bal,
      |    c_mktsegment AS seg FROM customer),
      |closedh AS (SELECT uid, bal - 50.0 AS bal, seg,
      |    TIMESTAMP '2019-01-01' AS valid_from,
      |    TIMESTAMP '2020-01-01' AS valid_to, false AS is_current
      |  FROM c WHERE uid % 10 = 0),
      |open AS (SELECT uid, bal, seg FROM c),
      |feed AS (
      |  SELECT uid, 'U' AS op, 2 AS seq, bal + 10.0 AS bal, seg
      |    FROM c WHERE uid % 5 = 0
      |  UNION ALL SELECT uid, 'D', 3, NULL, NULL FROM c
      |    WHERE uid % 7 = 0
      |  UNION ALL SELECT uid, 'U', 9, bal + 77.0, seg FROM c
      |    WHERE uid % 35 = 0 AND uid % 2 = 0
      |  UNION ALL SELECT uid, 'U', 4, bal + 20.0, seg FROM c
      |    WHERE uid % 10 = 0
      |  UNION ALL SELECT uid, 'U', 5, bal, seg FROM c
      |    WHERE uid % 13 = 1
      |  UNION ALL SELECT uid + 200000, 'I', 1, bal + 1000.0, 'NEW'
      |    FROM c WHERE uid % 50 = 0),
      |latest AS (SELECT uid, op, bal, seg FROM (
      |  SELECT uid, op, bal, seg, row_number() OVER (
      |      PARTITION BY uid
      |      ORDER BY seq DESC, op DESC, bal DESC, seg DESC) AS rn
      |  FROM feed) WHERE rn = 1),
      |j AS (SELECT o.uid AS ouid, o.bal AS obal, o.seg AS oseg,
      |    l.uid AS luid, l.op, l.bal AS lbal, l.seg AS lseg,
      |    l.uid IS NOT NULL AND (l.op = 'D'
      |      OR o.bal IS DISTINCT FROM l.bal
      |      OR o.seg IS DISTINCT FROM l.seg) AS closes
      |  FROM open o FULL OUTER JOIN latest l ON o.uid = l.uid),
      |emitted AS (
      |  SELECT ouid AS uid, obal AS bal, oseg AS seg,
      |    TIMESTAMP '2020-01-01' AS valid_from,
      |    CASE WHEN closes THEN TIMESTAMP '2024-06-01'
      |      ELSE CAST(NULL AS TIMESTAMP) END AS valid_to,
      |    NOT closes AS is_current
      |  FROM j WHERE ouid IS NOT NULL
      |  UNION ALL
      |  SELECT luid, lbal, lseg, TIMESTAMP '2024-06-01',
      |    CAST(NULL AS TIMESTAMP), true
      |  FROM j WHERE luid IS NOT NULL AND op <> 'D'
      |    AND (ouid IS NULL OR obal IS DISTINCT FROM lbal
      |      OR oseg IS DISTINCT FROM lseg))
      |SELECT * FROM closedh UNION ALL SELECT * FROM emitted
      |ORDER BY uid, valid_from, is_current""".stripMargin

  private val pScd2MergeSql =
    """WITH c AS (SELECT c_custkey AS uid, c_acctbal AS bal FROM customer),
      |open AS (SELECT uid, bal, TIMESTAMP '2020-01-01' AS valid_from,
      |    CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current FROM c),
      |closedh AS (SELECT uid, bal - 50.0 AS bal,
      |    TIMESTAMP '2019-01-01' AS valid_from,
      |    TIMESTAMP '2020-01-01' AS valid_to, false AS is_current
      |  FROM c WHERE uid % 10 = 0),
      |st AS (SELECT uid, CASE WHEN uid % 8 = 0 THEN bal + 25.0
      |      ELSE bal END AS bal FROM c WHERE uid % 4 = 0
      |  UNION ALL SELECT uid + 100000 AS uid, bal + 1000.0 AS bal
      |    FROM c WHERE uid % 50 = 0),
      |upd AS (SELECT st.uid FROM st JOIN open ON st.uid = open.uid
      |  WHERE st.bal IS DISTINCT FROM open.bal),
      |ins AS (SELECT st.uid, st.bal FROM st LEFT JOIN open
      |  ON st.uid = open.uid WHERE open.uid IS NULL),
      |superseded AS (SELECT o.uid, o.bal, o.valid_from,
      |    TIMESTAMP '2024-06-01' AS valid_to, false AS is_current
      |  FROM open o JOIN upd ON o.uid = upd.uid),
      |surviving AS (SELECT o.* FROM open o LEFT JOIN upd
      |  ON o.uid = upd.uid WHERE upd.uid IS NULL),
      |fresh AS (SELECT st.uid, st.bal,
      |    TIMESTAMP '2024-06-01' AS valid_from,
      |    CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current
      |  FROM st JOIN upd ON st.uid = upd.uid
      |  UNION ALL SELECT uid, bal, TIMESTAMP '2024-06-01',
      |    CAST(NULL AS TIMESTAMP), true FROM ins)
      |SELECT * FROM closedh
      |UNION ALL SELECT * FROM superseded
      |UNION ALL SELECT * FROM surviving
      |UNION ALL SELECT * FROM fresh
      |ORDER BY uid, valid_from, is_current""".stripMargin

  // ---- full staffing pipeline (flagship) ----------------------------
  /** Sheet-shaped staging derived from `customer` (blanks/slot lists
    * injected deterministically), full Staffing pipeline over a
    * current-users state derived from the same table — exercises R1 +
    * F1/F2 + P1 + J4 + J5 + A1 end-to-end. Oracle-verified: the
    * fixture's modular arithmetic makes every pipeline decision
    * SQL-derivable (see [[pStaffingPipelineSql]]). */
  def pStaffingPipeline(s: SparkSession, d: String): DataFrame = {
    val r = staffingRun(s, d)
    r.users
      .join(r.consultants.select(col("user_id"),
        col("availability_mon"), col("status"),
        col(graft.ops.Merge.ActionCol).as("_c_action")), Seq("user_id"))
      .orderBy("email")
  }

  /** The staffing fixture's pipeline run, shared by
    * [[pStaffingPipeline]] and [[pRunReport]]: the sheet, the current
    * users (k%3=0) and their consultants rows. */
  private def staffingRun(s: SparkSession, d: String)
      : graft.pipelines.Staffing.Result = {
    val c = Tables.customer(s, d)
    val sheet = c.select(
      when(col("c_custkey") % 11 === 3, lit("")).otherwise(col("c_name"))
        .as("Name"),
      concat(lit("u"), col("c_custkey").cast("string"), lit("@x.com"))
        .as("Email"),
      col("c_mktsegment").as("Current Role"),
      concat(lit("nid"), col("c_custkey").cast("string")).as("NetID"),
      lit("Consulting").as("Major"),
      when(col("c_custkey") % 2 === 0, lit("yes")).otherwise(lit("nope"))
        .as("US Citizen"),
      col("c_acctbal").cast("int").cast("string")
        .as("Consultant Score"),
      when(col("c_custkey") % 3 === 0, lit("Monday, Wednesday"))
        .when(col("c_custkey") % 3 === 1, lit("tuesday"))
        .otherwise(lit("")).as("09:00 AM GMT-0600"),
      when(col("c_custkey") % 4 === 0, lit(" friday , MONDAY"))
        .otherwise(lit("")).as("08:00 AM GMT-0600"))
    val curUsers = c.filter(col("c_custkey") % 3 === 0).select(
      col("c_custkey").as("user_id"), col("c_name").as("name"),
      concat(lit("u"), col("c_custkey").cast("string"), lit("@x.com"))
        .as("email"),
      lit(null).cast("string").as("gender"),
      lit(null).cast("string").as("race"),
      lit(false).as("us_citizen"), lit(false).as("residency"),
      lit(false).as("first_gen"),
      col("c_mktsegment").as("curr_role"),
      concat(lit("nid"), col("c_custkey").cast("string")).as("netid"))
    val curConsultants = curUsers.select(
      Seq(col("user_id"), lit(null).cast("string").as("year"),
        lit("Consulting").as("major"),
        lit(null).cast("string").as("minor"),
        lit(null).cast("string").as("college"),
        lit(0).as("consultants_score"), lit(1).as("semesters_in_ibc"),
        lit(null).cast("string").as("time_zone"),
        // raw string in the reference (not in boolean_cols)
        lit("Sometimes").as("willing_to_travel"),
        lit(null).cast("string").as("industry_interests"),
        lit(null).cast("string").as("functional_area_interests"),
        lit("active").as("status"),
        lit(false).as("week_before_finals_availability")) ++
      graft.ops.Availability.DayNames.map { case (n, _) =>
        lit("00").as(n) }: _*)
    graft.pipelines.Staffing.run(sheet, curUsers, curConsultants)
  }

  /** Mirrors [[pStaffingPipeline]] by tracing each fixture row through
    * the pipeline's decision tree:
    *   - k%11=3 → Name blank → quarantined (absent unless k%3=0, where
    *     the current-state row survives as action 'keep')
    *   - valid k: staged values (us_citizen = parse_boolean, residency/
    *     first_gen → staged NULLs, 30-char availability bitmap with
    *     bit1 = slot08 (k%4=0 → MONDAY) and bit2 = slot09 (k%3=0))
    *   - k%3=0 matched → 'update' keeping user_id=k (NULL<=>false on
    *     residency makes every matched row a change); else 'insert'
    *     with id = max(current)+row_number ordered by email
    *   - consultants merge: staged rows always differ from current
    *     (semesters NULL vs 1) → same insert/update/keep actions;
    *     staged status is NULL, kept rows keep 'active'/'00'-bitmap.
    */
  private val pStaffingPipelineSql =
    """WITH c AS (SELECT c_custkey AS k, c_name, c_mktsegment, c_acctbal
      |  FROM customer),
      |curu AS (SELECT k AS user_id, c_name AS name,
      |    'u' || k || '@x.com' AS email, c_mktsegment AS curr_role,
      |    'nid' || k AS netid
      |  FROM c WHERE k % 3 = 0),
      |maxid AS (SELECT coalesce(max(user_id), 0) AS mx FROM curu),
      |stg AS (SELECT k, c_name AS name, 'u' || k || '@x.com' AS email,
      |    k % 2 = 0 AS us_citizen, c_mktsegment AS curr_role,
      |    'nid' || k AS netid,
      |    (CASE WHEN k % 4 = 0 THEN '1' ELSE '0' END ||
      |     CASE WHEN k % 3 = 0 THEN '1' ELSE '0' END ||
      |     repeat('0', 28)) AS availability_mon
      |  FROM c WHERE k % 11 <> 3),
      |ins AS (SELECT stg.*,
      |    CAST(mx + row_number() OVER (ORDER BY email) AS BIGINT)
      |      AS user_id,
      |    'insert' AS act
      |  FROM stg, maxid WHERE k % 3 <> 0),
      |upd AS (SELECT stg.*, CAST(k AS BIGINT) AS user_id,
      |    'update' AS act
      |  FROM stg WHERE k % 3 = 0),
      |merged AS (
      |  SELECT email, name, us_citizen, curr_role, netid, user_id, act,
      |      availability_mon
      |    FROM ins
      |  UNION ALL
      |  SELECT email, name, us_citizen, curr_role, netid, user_id, act,
      |      availability_mon
      |    FROM upd),
      |staged_out AS (SELECT email, name,
      |    CAST(NULL AS VARCHAR) AS gender, CAST(NULL AS VARCHAR) AS race,
      |    us_citizen, CAST(NULL AS BOOLEAN) AS residency,
      |    CAST(NULL AS BOOLEAN) AS first_gen, curr_role, netid,
      |    user_id, act AS _action, availability_mon,
      |    CAST(NULL AS VARCHAR) AS status, act AS _c_action
      |  FROM merged),
      |kept AS (SELECT email, name, CAST(NULL AS VARCHAR) AS gender,
      |    CAST(NULL AS VARCHAR) AS race, false AS us_citizen,
      |    false AS residency, false AS first_gen, curr_role, netid,
      |    CAST(user_id AS BIGINT) AS user_id, 'keep' AS _action,
      |    '00' AS availability_mon, 'active' AS status,
      |    'keep' AS _c_action
      |  FROM curu WHERE user_id % 11 = 3)
      |SELECT user_id, email, name, gender, race, us_citizen, residency,
      |  first_gen, curr_role, netid, _action, availability_mon, status,
      |  _c_action
      |FROM (SELECT * FROM staged_out UNION ALL SELECT * FROM kept)
      |ORDER BY email""".stripMargin

  // ---- full projects pipeline (composed §3.2 lifecycle) -------------
  /** The reference's second pipeline end-to-end (`pipelines/
    * projects-pipeline.py:341-400`): sheet normalize (P2) → validate
    * (F3) → netid resolution with unknown-netid quarantine (J2) →
    * projects MERGE with no-op change detection (J6) + deterministic id
    * assignment → link melt (R2/J9, insert path) → role reconciliation
    * (J7) → returning marks (J8) → run summary (A1), all emitted as one
    * tagged union frame so the composed dataflow — not just each piece —
    * is hash-verified. Fixture: sheet rows from `orders` (blank names
    * k%13=1, unknown `ghost` netids k%17=4, per-role NULL injection),
    * users from `customer`, current projects = the k%4=0 subset with
    * client drift on k%8=0 (→ update) and match elsewhere (→ noop). */
  def pProjectsPipeline(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val k = col("o_orderkey")
    val c = col("o_custkey")
    val sheet = o.select(
      when(k % 13 === 1, lit(""))
        .otherwise(concat(lit("proj"), k.cast("string")))
        .as("Project Name"),
      when(k % 2 === 0, lit("Fall 2025")).otherwise(lit("Spring 2026"))
        .as("Semester"),
      concat(lit("client"), (k % 97).cast("string")).as("Client Name"),
      when(k % 17 === 4, concat(lit("ghost"), c.cast("string")))
        .otherwise(concat(lit("nid"), c.cast("string"))).as("EM net-id"),
      when(k % 7 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("nid"), ((c + 1) % 150).cast("string")))
        .as("SM net-id"),
      when(k % 5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("nid"), ((c + 2) % 150).cast("string")))
        .as("PM net-id"),
      when(k % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("nid"), ((c + 3) % 150).cast("string")))
        .as("SC 1 net-id"),
      when(k % 2 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("nid"), ((c + 4) % 150).cast("string")))
        .as("SC 2 NetID"))
    val users = Tables.customer(s, d).select(
      col("c_custkey").cast("long").as("user_id"),
      concat(lit("nid"), col("c_custkey").cast("string")).as("netid"),
      when(col("c_custkey") % 4 === 0, lit("EM"))
        .when(col("c_custkey") % 4 === 1, lit("SM"))
        .when(col("c_custkey") % 4 === 2, lit("PM"))
        .otherwise(lit("SC")).as("curr_role"))
    val curProjects = o.filter(k % 4 === 0).select(
      k.cast("long").as("project_id"),
      concat(lit("proj"), k.cast("string")).as("project_name"),
      lit("Fall 2025").as("project_semester"), // k%4=0 ⇒ k even
      when(k % 8 === 0, lit("clientOLD"))
        .otherwise(concat(lit("client"), (k % 97).cast("string")))
        .as("client_name"),
      c.cast("long").as("em_id"),
      when(k % 7 === 0, lit(null).cast("long"))
        .otherwise(((c + 1) % 150).cast("long")).as("sm_id"),
      when(k % 5 === 0, lit(null).cast("long"))
        .otherwise(((c + 2) % 150).cast("long")).as("pm_id"),
      when(k % 3 === 0, lit(null).cast("long"))
        .otherwise(((c + 3) % 150).cast("long")).as("sc1_id"),
      lit(null).cast("long").as("sc2_id")) // k even ⇒ staged sc2 NULL
    // all six output sections consume the merged frame, which
    // Projects.run materializes once; the narrow exploded melt persists
    // LAZILY so its three consumers share one copy inside the single
    // union job — the handle is held here and released after the
    // eager evaluation below (the embedDupPairs lifecycle pattern:
    // a DataFrame persist is CacheManager-rooted and never GC-cleaned,
    // so without the unpersist every Bench rep would leak a cache)
    var meltCache: Option[DataFrame] = None
    val r = graft.pipelines.Projects.run(sheet, users, curProjects,
      materializeMelt = df => {
        val p = df.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        meltCache = Some(p)
        p
      })
    val idsV = Seq("em_id", "sm_id", "pm_id", "sc1_id", "sc2_id")
      .map(cn => coalesce(col(cn).cast("string"), lit("-")))
    val vProj = concat_ws("|",
      col(Merge.ActionCol) +:
        coalesce(col("project_semester"), lit("-")) +:
        coalesce(col("client_name"), lit("-")) +: idsV: _*)
    val projRows = r.projects.select(lit("project").as("section"),
      col("project_id").cast("long").as("id"),
      col("project_name").as("k"), vProj.as("v"))
    val linkRows = r.links.select(lit("link").as("section"),
      col("project_id").cast("long").as("id"), col("role").as("k"),
      col("user_id").cast("string").as("v"))
    val roleRows = r.userRoleUpdates.select(
      lit("role_update").as("section"),
      col("user_id").cast("long").as("id"), col("curr_role").as("k"),
      col("new_role").as("v"))
    val retRows = r.returningMarks.select(lit("returning").as("section"),
      col("user_id").cast("long").as("id"), col("status").as("k"),
      lit(null).cast("string").as("v"))
    val qRows = r.quarantine.select(lit("quarantine").as("section"),
      lit(null).cast("long").as("id"), col("project_name").as("k"),
      col("_error_code").as("v"))
    val sumRows = r.summary.select(lit("summary").as("section"),
      col("valid_rows").cast("long").as("id"), lit("valid_rows").as("k"),
      lit(null).cast("string").as("v"))
      .unionByName(r.summary.select(lit("summary").as("section"),
        col("invalid_rows").cast("long").as("id"),
        lit("invalid_rows").as("k"), lit(null).cast("string").as("v")))
    val unioned = projRows.unionByName(linkRows).unionByName(roleRows)
      .unionByName(retRows).unionByName(qRows).unionByName(sumRows)
    // evaluate the whole dataflow ONCE and release the shared melt
    // cache before returning — the result is served from the
    // materialized frame, so no caller can observe the unpersist
    val out = unioned.localCheckpoint()
    meltCache.foreach(_.unpersist())
    out.orderBy("section", "id", "k", "v")
  }

  /** Mirrors [[pProjectsPipeline]] as the straight relational form of
    * the lifecycle — same joins/windows replayed in ANSI SQL (the
    * insert-id rule is the documented max(cur)+row_number-by-name,
    * cf. [[pUsersMergeSql]]). */
  private val pProjectsPipelineSql = {
    val unknownCond = Seq("em", "sm", "pm", "sc1", "sc2")
      .map(r => s"(${r}_netid IS NOT NULL AND ${r}_id IS NULL)")
      .mkString("\n    (", " OR\n     ", ")")
    s"""WITH users AS (SELECT CAST(c_custkey AS BIGINT) AS user_id,
       |    'nid' || c_custkey AS netid,
       |    CASE WHEN c_custkey % 4 = 0 THEN 'EM'
       |         WHEN c_custkey % 4 = 1 THEN 'SM'
       |         WHEN c_custkey % 4 = 2 THEN 'PM' ELSE 'SC' END AS curr_role
       |  FROM customer),
       |sheet AS (SELECT
       |    CASE WHEN o_orderkey % 13 = 1 THEN ''
       |         ELSE 'proj' || o_orderkey END AS project_name,
       |    CASE WHEN o_orderkey % 2 = 0 THEN 'Fall 2025'
       |         ELSE 'Spring 2026' END AS project_semester,
       |    'client' || (o_orderkey % 97) AS client_name,
       |    CASE WHEN o_orderkey % 17 = 4 THEN 'ghost' || o_custkey
       |         ELSE 'nid' || o_custkey END AS em_netid,
       |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
       |         ELSE 'nid' || ((o_custkey + 1) % 150) END AS sm_netid,
       |    CASE WHEN o_orderkey % 5 = 0 THEN NULL
       |         ELSE 'nid' || ((o_custkey + 2) % 150) END AS pm_netid,
       |    CASE WHEN o_orderkey % 3 = 0 THEN NULL
       |         ELSE 'nid' || ((o_custkey + 3) % 150) END AS sc1_netid,
       |    CASE WHEN o_orderkey % 2 = 0 THEN NULL
       |         ELSE 'nid' || ((o_custkey + 4) % 150) END AS sc2_netid
       |  FROM orders),
       |valid AS (SELECT * FROM sheet
       |  WHERE trim(coalesce(project_name, '')) <> ''),
       |resolved AS (SELECT v.*, em.user_id AS em_id, sm.user_id AS sm_id,
       |    pm.user_id AS pm_id, s1.user_id AS sc1_id, s2.user_id AS sc2_id
       |  FROM valid v
       |  LEFT JOIN users em ON v.em_netid = em.netid
       |  LEFT JOIN users sm ON v.sm_netid = sm.netid
       |  LEFT JOIN users pm ON v.pm_netid = pm.netid
       |  LEFT JOIN users s1 ON v.sc1_netid = s1.netid
       |  LEFT JOIN users s2 ON v.sc2_netid = s2.netid),
       |quar AS (SELECT * FROM resolved WHERE$unknownCond),
       |ok AS (SELECT * FROM resolved WHERE NOT$unknownCond),
       |cur AS (SELECT CAST(o_orderkey AS BIGINT) AS project_id,
       |    'proj' || o_orderkey AS project_name,
       |    'Fall 2025' AS project_semester,
       |    CASE WHEN o_orderkey % 8 = 0 THEN 'clientOLD'
       |         ELSE 'client' || (o_orderkey % 97) END AS client_name,
       |    CAST(o_custkey AS BIGINT) AS em_id,
       |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
       |         ELSE CAST((o_custkey + 1) % 150 AS BIGINT) END AS sm_id,
       |    CASE WHEN o_orderkey % 5 = 0 THEN NULL
       |         ELSE CAST((o_custkey + 2) % 150 AS BIGINT) END AS pm_id,
       |    CASE WHEN o_orderkey % 3 = 0 THEN NULL
       |         ELSE CAST((o_custkey + 3) % 150 AS BIGINT) END AS sc1_id,
       |    CAST(NULL AS BIGINT) AS sc2_id
       |  FROM orders WHERE o_orderkey % 4 = 0),
       |m AS (SELECT coalesce(ok.project_name, cur.project_name)
       |      AS project_name,
       |    cur.project_id AS project_id0,
       |    CASE WHEN ok.project_name IS NOT NULL THEN ok.project_semester
       |         ELSE cur.project_semester END AS project_semester,
       |    CASE WHEN ok.project_name IS NOT NULL THEN ok.client_name
       |         ELSE cur.client_name END AS client_name,
       |    CASE WHEN ok.project_name IS NOT NULL THEN ok.em_id
       |         ELSE cur.em_id END AS em_id,
       |    CASE WHEN ok.project_name IS NOT NULL THEN ok.sm_id
       |         ELSE cur.sm_id END AS sm_id,
       |    CASE WHEN ok.project_name IS NOT NULL THEN ok.pm_id
       |         ELSE cur.pm_id END AS pm_id,
       |    CASE WHEN ok.project_name IS NOT NULL THEN ok.sc1_id
       |         ELSE cur.sc1_id END AS sc1_id,
       |    CASE WHEN ok.project_name IS NOT NULL THEN ok.sc2_id
       |         ELSE cur.sc2_id END AS sc2_id,
       |    CASE WHEN cur.project_name IS NULL THEN 'insert'
       |         WHEN ok.project_name IS NULL THEN 'keep'
       |         WHEN ok.project_semester IS NOT DISTINCT FROM
       |            cur.project_semester
       |          AND ok.client_name IS NOT DISTINCT FROM cur.client_name
       |          AND ok.em_id IS NOT DISTINCT FROM cur.em_id
       |          AND ok.sm_id IS NOT DISTINCT FROM cur.sm_id
       |          AND ok.pm_id IS NOT DISTINCT FROM cur.pm_id
       |          AND ok.sc1_id IS NOT DISTINCT FROM cur.sc1_id
       |          AND ok.sc2_id IS NOT DISTINCT FROM cur.sc2_id THEN 'noop'
       |         ELSE 'update' END AS _action
       |  FROM ok FULL OUTER JOIN cur ON ok.project_name = cur.project_name),
       |mx AS (SELECT coalesce(max(project_id), 0) AS max_id FROM cur),
       |proj AS (SELECT project_name, project_semester, client_name,
       |    em_id, sm_id, pm_id, sc1_id, sc2_id, _action,
       |    CASE WHEN _action = 'insert' THEN mx.max_id + row_number()
       |        OVER (PARTITION BY _action = 'insert' ORDER BY project_name)
       |      ELSE project_id0 END AS project_id
       |  FROM m CROSS JOIN mx),
       |ins AS (SELECT * FROM proj WHERE _action = 'insert'),
       |links AS (
       |  SELECT project_id, 'EM' AS role, em_id AS user_id FROM ins
       |    WHERE em_id IS NOT NULL
       |  UNION ALL SELECT project_id, 'SM', sm_id FROM ins
       |    WHERE sm_id IS NOT NULL
       |  UNION ALL SELECT project_id, 'PM', pm_id FROM ins
       |    WHERE pm_id IS NOT NULL
       |  UNION ALL SELECT project_id, 'SC', sc1_id FROM ins
       |    WHERE sc1_id IS NOT NULL
       |  UNION ALL SELECT project_id, 'SC', sc2_id FROM ins
       |    WHERE sc2_id IS NOT NULL),
       |asg AS (
       |  SELECT project_id, 'EM' AS role, em_id AS user_id, 1 AS prec
       |    FROM proj WHERE em_id IS NOT NULL
       |  UNION ALL SELECT project_id, 'SM', sm_id, 2 FROM proj
       |    WHERE sm_id IS NOT NULL
       |  UNION ALL SELECT project_id, 'PM', pm_id, 3 FROM proj
       |    WHERE pm_id IS NOT NULL
       |  UNION ALL SELECT project_id, 'SC', sc1_id, 4 FROM proj
       |    WHERE sc1_id IS NOT NULL
       |  UNION ALL SELECT project_id, 'SC', sc2_id, 4 FROM proj
       |    WHERE sc2_id IS NOT NULL),
       |expected AS (SELECT user_id, role AS expected_role FROM (
       |    SELECT user_id, role, row_number() OVER (PARTITION BY user_id
       |        ORDER BY prec ASC, project_id ASC) AS rn
       |      FROM asg) WHERE rn = 1),
       |role_upd AS (SELECT u.user_id, u.curr_role,
       |    e.expected_role AS new_role
       |  FROM users u JOIN expected e ON u.user_id = e.user_id
       |  WHERE u.curr_role <> e.expected_role),
       |ret AS (SELECT DISTINCT user_id FROM (
       |  SELECT sm_id AS user_id FROM ins WHERE sm_id IS NOT NULL
       |  UNION ALL SELECT pm_id FROM ins WHERE pm_id IS NOT NULL
       |  UNION ALL SELECT sc1_id FROM ins WHERE sc1_id IS NOT NULL
       |  UNION ALL SELECT sc2_id FROM ins WHERE sc2_id IS NOT NULL)),
       |summ AS (SELECT
       |    count(CASE WHEN trim(coalesce(project_name, '')) <> ''
       |      THEN 1 END) AS valid_rows,
       |    count(CASE WHEN trim(coalesce(project_name, '')) = ''
       |      THEN 1 END) AS invalid_rows
       |  FROM sheet)
       |SELECT section, id, k, v FROM (
       |  SELECT 'project' AS section, project_id AS id,
       |      project_name AS k,
       |      concat_ws('|', _action, coalesce(project_semester, '-'),
       |        coalesce(client_name, '-'),
       |        coalesce(CAST(em_id AS VARCHAR), '-'),
       |        coalesce(CAST(sm_id AS VARCHAR), '-'),
       |        coalesce(CAST(pm_id AS VARCHAR), '-'),
       |        coalesce(CAST(sc1_id AS VARCHAR), '-'),
       |        coalesce(CAST(sc2_id AS VARCHAR), '-')) AS v
       |    FROM proj
       |  UNION ALL SELECT 'link', project_id, role,
       |      CAST(user_id AS VARCHAR) FROM links
       |  UNION ALL SELECT 'role_update', user_id, curr_role, new_role
       |    FROM role_upd
       |  UNION ALL SELECT 'returning', user_id, 'returning',
       |      CAST(NULL AS VARCHAR) FROM ret
       |  UNION ALL SELECT 'quarantine', CAST(NULL AS BIGINT), project_name,
       |      'E003' FROM quar
       |  UNION ALL SELECT 'summary', valid_rows, 'valid_rows',
       |      CAST(NULL AS VARCHAR) FROM summ
       |  UNION ALL SELECT 'summary', invalid_rows, 'invalid_rows',
       |      CAST(NULL AS VARCHAR) FROM summ)
       |ORDER BY section, id, k, v""".stripMargin
  }

  // ---- S5: structured run report over the same staffing fixture -----
  /** [[graft.ops.RunReport.staffing]] for the [[pStaffingPipeline]]
    * run: stage/metric/count rows (validation split + per-merge action
    * distributions). The oracle re-derives every count from the
    * fixture's modular arithmetic. */
  def pRunReport(s: SparkSession, d: String): DataFrame =
    graft.ops.RunReport.staffing(staffingRun(s, d))
      .orderBy("stage", "metric")

  /** Fixture decision tree (cf. [[pStaffingPipelineSql]]): k%11=3 →
    * invalid; matched (k%3=0) rows always differ (staged residency
    * NULL vs false; staged consultants semesters NULL vs 1) → update;
    * unmatched valid → insert; quarantined current rows → keep. */
  private val pRunReportSql =
    """WITH c AS (SELECT c_custkey AS k FROM customer),
      |v AS (SELECT
      |    count(CASE WHEN k % 11 <> 3 THEN 1 END) AS n_valid,
      |    count(CASE WHEN k % 11 = 3 THEN 1 END) AS n_invalid,
      |    count(CASE WHEN k % 11 <> 3 AND k % 3 <> 0 THEN 1 END) AS n_ins,
      |    count(CASE WHEN k % 11 <> 3 AND k % 3 = 0 THEN 1 END) AS n_upd,
      |    count(CASE WHEN k % 11 = 3 AND k % 3 = 0 THEN 1 END) AS n_keep
      |  FROM c)
      |SELECT stage, metric, n FROM (
      |  SELECT 'validate' AS stage, 'valid' AS metric, n_valid AS n FROM v
      |  UNION ALL SELECT 'validate', 'invalid', n_invalid FROM v
      |  UNION ALL SELECT 'users_merge', 'insert', n_ins FROM v
      |  UNION ALL SELECT 'users_merge', 'update', n_upd FROM v
      |  UNION ALL SELECT 'users_merge', 'keep', n_keep FROM v
      |  UNION ALL SELECT 'consultants_merge', 'insert', n_ins FROM v
      |  UNION ALL SELECT 'consultants_merge', 'update', n_upd FROM v
      |  UNION ALL SELECT 'consultants_merge', 'keep', n_keep FROM v)
      |ORDER BY stage, metric""".stripMargin

  // -------------------------------------------------------------------
  val queries: Map[String, Q] = Map(
    "p_staffing_pipeline" -> (pStaffingPipeline _),
    "p_projects_pipeline" -> (pProjectsPipeline _),
    "p_scd2_merge" -> (pScd2Merge _),
    "p_scd2_lookup" -> (pScd2Lookup _),
    "p_cdc_apply" -> (pCdcApply _),
    "p_cdc_scd2" -> (pCdcScd2 _),
    "p_validation_split" -> (pValidationSplit _),
    "p_parse_boolean" -> (pParseBoolean _),
    "p_blank_to_null" -> (pBlankToNull _),
    "p_header_coalesce" -> (pHeaderCoalesce _),
    "p_avail_pivot" -> (pAvailPivot _),
    "p_users_merge" -> (pUsersMerge _),
    "p_role_melt" -> (pRoleMelt _),
    "p_five_way_join" -> (pFiveWayJoin _),
    "p_role_reconcile" -> (pRoleReconcile _),
    "p_returning_flag" -> (pReturningFlag _),
    "p_bulk_update" -> (pBulkUpdate _),
    "p_numeric_guard" -> (pNumericGuard _),
    "p_run_report" -> (pRunReport _),
  )

  val oracle: Map[String, String] = Map(
    "p_staffing_pipeline" -> pStaffingPipelineSql,
    "p_projects_pipeline" -> pProjectsPipelineSql,
    "p_scd2_merge" -> pScd2MergeSql,
    "p_scd2_lookup" -> pScd2LookupSql,
    "p_cdc_apply" -> pCdcApplySql,
    "p_cdc_scd2" -> pCdcScd2Sql,
    "p_validation_split" -> pValidationSplitSql,
    "p_parse_boolean" -> pParseBooleanSql,
    "p_blank_to_null" -> pBlankToNullSql,
    "p_header_coalesce" -> pHeaderCoalesceSql,
    "p_avail_pivot" -> pAvailPivotSql,
    "p_users_merge" -> pUsersMergeSql,
    "p_role_melt" -> pRoleMeltSql,
    "p_five_way_join" -> pFiveWayJoinSql,
    "p_role_reconcile" -> pRoleReconcileSql,
    "p_returning_flag" -> pReturningFlagSql,
    "p_bulk_update" -> pBulkUpdateSql,
    "p_numeric_guard" -> pNumericGuardSql,
    "p_run_report" -> pRunReportSql,
  )
}
