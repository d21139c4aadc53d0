package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.{Melt, Merge, Normalize}

/** The projects pipeline (reference `pipelines/projects-pipeline.py`,
  * lifecycle SURVEY.md §3.2) as a declarative DataFrame program:
  *
  *   sheet → header coalesce (P2) → validate (F3) → netid→user_id
  *   resolution with unknown-netid quarantine (J2,F4) → projects
  *   MERGE by name with no-op change detection (J6) → role
  *   reconciliation (J7) → returning marks (J8) → link melt (R2,J9)
  *
  * Insert-path behavior is the spec (the reference skips marks/links
  * on its update path — SURVEY.md §3.2 documents the divergence).
  */
object Projects {

  /** KEY_MAP candidates in preference order, cf.
    * projects-pipeline.py:59-68. */
  val KeyMap: Seq[(String, Seq[String])] = Seq(
    "project_name" -> Seq("project_name", "Project Name"),
    "project_semester" -> Seq("project_semester", "Semester"),
    "client_name" -> Seq("client_name", "Client Name"),
    "em_netid" -> Seq("em_netid", "EM net-id", "EM NetID"),
    "sm_netid" -> Seq("sm_netid", "SM net-id", "SM NetID"),
    "pm_netid" -> Seq("pm_netid", "PM net-id", "PM NetID"),
    "sc1_netid" -> Seq("sc1_netid", "SC1 net-id", "SC 1 net-id",
      "SC 1 NetID"),
    "sc2_netid" -> Seq("sc2_netid", "SC2 net-id", "SC 2 net-id",
      "SC 2 NetID"))

  val Roles: Seq[(String, String)] = Seq("em" -> "EM", "sm" -> "SM",
    "pm" -> "PM", "sc1" -> "SC", "sc2" -> "SC")

  case class Result(staged: DataFrame, quarantine: DataFrame,
      projects: DataFrame, links: DataFrame, userRoleUpdates: DataFrame,
      returningMarks: DataFrame, summary: DataFrame)

  /** Run against current `users(user_id, netid, curr_role)` and
    * `projects` state. `sheet` is the all-string staged frame.
    *
    * Its only eager work: the merged projects frame (full-outer
    * merge + id window) is `localCheckpoint`ed, because the projects
    * output and the melt below both read it; links, role updates and
    * returning marks therefore never re-run the merge.
    *
    * `materializeMelt` (default identity) wraps the NARROW exploded
    * long frame (4 columns; consumed by links, reconciliation, and
    * returning marks) — pass `_.persist(...)` (LAZY, not a
    * checkpoint: an eager job for the 5×-row exploded frame measured
    * net slower than re-melting; a lazy cache is populated inside the
    * caller's single output job and shared by all three consumers).
    * The caller owns the returned frame's lifecycle: keep the handle
    * and `unpersist()` after consuming the outputs, as
    * [[graft.queries.Parity.pProjectsPipeline]] does. */
  def run(sheet: DataFrame, users: DataFrame,
      curProjects: DataFrame,
      materializeMelt: DataFrame => DataFrame = identity): Result = {
    // P2: multi-candidate header coalesce (absent headers → skip)
    val resolvedCols = KeyMap.map { case (target, cands) =>
      val present = cands.filter(sheet.columns.contains)
        .map(c => col(s"`$c`"))
      (if (present.nonEmpty) Normalize.coalesceCandidates(present)
       else lit(null).cast("string")).as(target)
    }
    val normalized = sheet.select(resolvedCols: _*)

    // F3: only project_name required
    val valid = normalized
      .filter(trim(coalesce(col("project_name"), lit(""))) =!= "")

    // J2: netid → user_id for each role; a non-null netid that does
    // not resolve is a row-level error (InvalidFormatError E003)
    var resolved = valid
    for ((role, _) <- Roles) {
      val u = users.select(col("netid").as(s"${role}_netid_k"),
        col("user_id").as(s"${role}_id"))
      resolved = resolved.join(broadcast(u),
        col(s"${role}_netid") === col(s"${role}_netid_k"), "left")
        .drop(s"${role}_netid_k")
    }
    val unknown = Roles.map { case (r, _) =>
      col(s"${r}_netid").isNotNull && col(s"${r}_id").isNull }
      .reduce(_ || _)
    val quarantine = resolved.filter(unknown)
      .withColumn("_error_code", lit("E003"))
    val ok = resolved.filter(!unknown)

    // J6: projects merge by name with no-op change detection
    val stagedProjects = ok.select(
      Seq(col("project_name"), col("project_semester"),
        col("client_name")) ++
      Roles.map { case (r, _) => col(s"${r}_id") }: _*)
    val merged0 = Merge.merge(stagedProjects, curProjects,
      Seq("project_name"),
      Seq("project_semester", "client_name") ++
        Roles.map { case (r, _) => s"${r}_id" })
    val projects = Merge.assignIds(merged0, "project_id",
      "project_name", curProjects).localCheckpoint()

    // ONE melt of the merged frame feeds links (R2/J9), role
    // reconciliation (J7), and returning marks (J8). The 100× probe
    // showed each consumer re-scanning the full-width merged
    // checkpoint (name/semester/client ride along for nothing —
    // column pruning cannot reach through a materialized frame), so
    // the melt input projects down to id + action + the five role
    // columns first, and `materializeMelt` lets an all-outputs caller
    // share the exploded long frame across the three consumers (see
    // the scaladoc for the measured trade and lifecycle contract).
    val melted = materializeMelt(Melt.melt(projects.select(
          (Seq("project_id", Merge.ActionCol) ++
            Roles.map { case (r, _) => s"${r}_id" }).map(col): _*),
        Seq("project_id", Merge.ActionCol),
        Roles.map { case (r, code) => code -> s"${r}_id" },
        "role", "user_id"))

    // R2/J9: link rows — insert path only (reference behavior)
    val links = melted.filter(col(Merge.ActionCol) === "insert")
      .select("project_id", "role", "user_id")

    // J7: role reconciliation with documented precedence EM>SM>PM>SC
    val assignments = melted
      .withColumn("prec", when(col("role") === "EM", 1)
        .when(col("role") === "SM", 2)
        .when(col("role") === "PM", 3).otherwise(4))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(asc("prec"), asc("project_id"))
    val expected = assignments
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("role").as("expected_role"))
    val userRoleUpdates = users.join(expected, Seq("user_id"))
      .filter(col("curr_role") =!= col("expected_role"))
      .select(col("user_id"), col("curr_role"),
        col("expected_role").as("new_role"))

    // J8: returning marks — non-EM staff of newly inserted projects
    val returningMarks = melted
      .filter(col(Merge.ActionCol) === "insert" && col("role") =!= "EM")
      .select("user_id").distinct()
      .withColumn("status", lit("returning"))

    val summary = normalized.agg(
      count(when(trim(coalesce(col("project_name"), lit(""))) =!= "", 1))
        .as("valid_rows"),
      count(when(trim(coalesce(col("project_name"), lit(""))) === "", 1))
        .as("invalid_rows"))

    Result(normalized, quarantine, projects, links, userRoleUpdates,
      returningMarks, summary)
  }
}
