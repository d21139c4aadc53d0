package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{Availability, Merge, Normalize}

/** The staffing-roster pipeline (reference
  * `pipelines/staffing-roster-pipeline.py`, lifecycle SURVEY.md §3.1)
  * as set-based DataFrame steps:
  *
  *   sheet → availability pivot (R1) → validate/quarantine (F1,F2)
  *         → header rename + typed casts (P1) → users MERGE by email
  *           (J4) → consultants MERGE by user_id (J5) → summary (A1)
  *
  * The reference's per-row SQL loop (2-4 round-trips per row) becomes
  * two full-outer merge joins over the whole batch. The two frames
  * that several outputs read are materialized once per run (see
  * [[run]]), so writing every output does not re-run the sheet
  * pivot or the users merge per output.
  */
object Staffing {

  /** `SHEET_COLS_TO_SQL_COLS`, cf. staffing-roster-pipeline.py:34-56. */
  val SheetColsToSql: Seq[(String, String)] = Seq(
    "Name" -> "name", "Email" -> "email", "Gender" -> "gender",
    "Race" -> "race", "US Citizen" -> "us_citizen",
    "Residency" -> "residency", "First Generation" -> "first_gen",
    "Current Role" -> "curr_role", "NetID" -> "netid",
    "Year" -> "year", "Major" -> "major", "Minor" -> "minor",
    // The reference maps this header to "consultant_score" (singular,
    // staffing-roster-pipeline.py:48) while CONSULTANTS_COLS only
    // lists "consultants_score" (:58) — so the score is silently
    // dropped and never written there. We treat that mismatch as a
    // reference bug and intentionally persist the score under the
    // CONSULTANTS_COLS spelling.
    "College" -> "college", "Consultant Score" -> "consultants_score",
    "Semesters in IBC" -> "semesters_in_ibc", "Time Zone" -> "time_zone",
    "Willing to Travel" -> "willing_to_travel",
    "Industry Interests" -> "industry_interests",
    "Functional Area Interests" -> "functional_area_interests",
    "Status" -> "status",
    "Week Before Finals Availability" ->
      "week_before_finals_availability")

  /** Required non-blank fields, cf. :60. */
  val RequiredCols: Seq[String] =
    Seq("Name", "Email", "Current Role", "NetID", "Major")

  // Exactly the reference's boolean_cols (staffing-roster-pipeline
  // .py:131,164): willing_to_travel is NOT coerced — the reference
  // stores the raw string (e.g. "Sometimes"), so it stays a string
  // column here (blank → NULL like every other string field).
  private val BoolCols = Set("us_citizen", "residency", "first_gen",
    "week_before_finals_availability")
  private val IntCols = Set("consultants_score", "semesters_in_ibc")

  val UsersCols: Seq[String] = Seq("name", "email", "gender", "race",
    "us_citizen", "residency", "first_gen", "curr_role", "netid")
  val ConsultantsCols: Seq[String] = Seq("year", "major", "minor",
    "college", "consultants_score", "semesters_in_ibc", "time_zone",
    "willing_to_travel", "industry_interests",
    "functional_area_interests", "status",
    "week_before_finals_availability") ++
    Availability.DayNames.map(_._1)

  case class Result(staged: DataFrame, quarantine: DataFrame,
      users: DataFrame, consultants: DataFrame, summary: DataFrame)

  /** Normalize one sheet column to its SQL-typed form. */
  private def typed(src: String, dst: String): Column = {
    val c = Normalize.blankToNull(col(s"`$src`"))
    if (BoolCols(dst)) Normalize.parseBoolean(col(s"`$src`")).as(dst)
    else if (IntCols(dst)) Normalize.guardedInt(c).as(dst)
    else c.as(dst)
  }

  /** Run the full pipeline against the current users/consultants state.
    * `sheet` is the all-string staged frame (headers as in the
    * reference sheet, incl. the GMT-0600 slot columns).
    *
    * Its only eager work: it `localCheckpoint`s the validated sheet
    * (pivot + `_invalid_reason`; read by staged, quarantine and
    * summary) and the id-assigned users merge (read by the users
    * output and the consultants merge). Every returned frame reads
    * those two, never the sheet or the current users. */
  def run(sheet: DataFrame, curUsers: DataFrame,
      curConsultants: DataFrame): Result = {
    // R1 + F1/F2: availability pivot from schema-derived slot headers,
    // then the validation reason that splits staged from quarantine
    val present = SheetColsToSql.map(_._1).filter(
      sheet.columns.contains)
    val reasoned = Availability.withDayBitmaps(sheet, "GMT-0600")
      .withColumn("_invalid_reason", Normalize.missingReason(
        RequiredCols.map(c => c -> col(s"`$c`"))))
      .localCheckpoint()
    val quarantine = reasoned.filter(col("_invalid_reason").isNotNull)
    val valid = reasoned.filter(col("_invalid_reason").isNull)

    // P1/P3: rename map + allowlist projection + typed casts
    val colMap = SheetColsToSql.toMap
    // headers absent from the sheet surface as NULL columns, matching
    // the reference's dict.get(col) → None on INSERT
    val absent = SheetColsToSql.collect {
      case (src, dst) if !sheet.columns.contains(src) =>
        val t = if (BoolCols(dst)) "boolean"
          else if (IntCols(dst)) "int" else "string"
        lit(null).cast(t).as(dst)
    }
    val staged = valid.select(
      present.map(src => typed(src, colMap(src))) ++ absent ++
      Availability.DayNames.map { case (n, _) => col(n) }: _*)

    // J4: users merge by email (email never updated — it's the key)
    val stagedUsers = staged.select(UsersCols.map(col): _*)
    val users0 = Merge.merge(stagedUsers, curUsers, Seq("email"),
      UsersCols.filterNot(_ == "email"))
    val users = Merge.assignIds(users0, "user_id", "email", curUsers)
      .localCheckpoint()

    // J5: consultants merge keyed on the resolved user_id
    val stagedConsultants = staged
      .join(users.select(col("email"), col("user_id")), Seq("email"))
      .select("user_id" +: ConsultantsCols map col: _*)
    val consultants = Merge.merge(stagedConsultants, curConsultants,
      Seq("user_id"), ConsultantsCols)

    // A1/S6: machine-readable run summary
    val summary = reasoned.agg(
      count(when(col("_invalid_reason").isNull, 1)).as("valid_rows"),
      count(when(col("_invalid_reason").isNotNull, 1)).as("invalid_rows"))

    Result(staged, quarantine, users, consultants, summary)
  }
}
