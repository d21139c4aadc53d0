package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.DayBitmaps

/** The reference's signature transform (SURVEY.md §2.4 R1): the
  * availability bitmap pivot, cf.
  * `pipelines/staffing-roster-pipeline.py:89-115`.
  *
  * Each half-hour slot is a sheet column holding a comma-separated
  * day-name list ("Monday, Wednesday"); the output is one fixed-width
  * '0'/'1' string per day with one character per slot, slots ordered by
  * the lexicographically sorted slot headers.
  *
  * One [[graft.functions.DayBitmaps]] call per row computes all 7
  * bitmaps into one array column, which a second projection splits
  * into the 7 output columns. The slot list comes from the DataFrame
  * schema (driver side), mirroring the reference's first-row-keys
  * assumption — no data pass needed.
  */
object Availability {

  val DayNames: Seq[(String, String)] = Seq(
    "availability_mon" -> "monday", "availability_tue" -> "tuesday",
    "availability_wed" -> "wednesday", "availability_thu" -> "thursday",
    "availability_fri" -> "friday", "availability_sat" -> "saturday",
    "availability_sun" -> "sunday")

  /** Fixed bitmap width: the reference pre-allocates `['0'] * 30`
    * (staffing-roster-pipeline.py:93) and writes slot idx into it, so
    * the output is always exactly 30 chars regardless of how many slot
    * headers the sheet carries. More than 30 slots would IndexError in
    * the reference (write past the 30-slot list), so the kernel
    * rejects that case eagerly. */
  val BitmapWidth = 30

  /** The 7 day bitmaps (in [[DayNames]] order) as one array column,
    * over the columns whose header contains `slotMarker` (reference:
    * "GMT-0600"). */
  def dayBitmaps(columns: Seq[String], slotMarker: String): Column =
    DayBitmaps.day_bitmaps(
      columns.filter(_.contains(slotMarker)).sorted.map(c => col(s"`$c`")),
      DayNames.map(_._2), BitmapWidth)

  /** `df` with the 7 availability columns appended. The kernel's
    * array is its own projection, so the optimizer keeps one call per
    * row instead of inlining it into each of the 7 extractions. */
  def withDayBitmaps(df: DataFrame, slotMarker: String): DataFrame = {
    val packed = "_day_bitmaps"
    df.withColumn(packed, dayBitmaps(df.columns, slotMarker))
      .select(col("*") +: DayNames.zipWithIndex.map { case ((n, _), i) =>
        col(packed).getItem(i).as(n) }: _*)
      .drop(packed)
  }
}
