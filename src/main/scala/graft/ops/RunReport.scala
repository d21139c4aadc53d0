package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured run report (S5): the engine's replacement for the
  * reference's `pipeline.log` CI artifact
  * (`/root/reference/.github/workflows/upload-staffing-roster.yml:60-65`)
  * — instead of grepping a log, every pipeline run can emit one tidy
  * `(stage, metric, n)` DataFrame that a sink can persist next to the
  * data (and S6's one-line JSON summary is just
  * `to_json(collect(...))` over it).
  *
  * All counts are plain aggregates over the pipeline's outputs,
  * which read the frames the pipeline materialized, so the report
  * runs (tiny 1-row aggregates) only when it is actually written.
  */
object RunReport {

  private def constCount(stageName: String, metric: String,
      df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"))
      .select(lit(stageName).as("stage"), lit(metric).as("metric"),
        col("n"))

  /** Per-distinct-value counts of `metricCol` within a stage (e.g.
    * merge `_action` distribution). */
  def stageCounts(stageName: String, metricCol: Column,
      df: DataFrame): DataFrame =
    df.groupBy(metricCol.as("metric")).agg(count(lit(1)).as("n"))
      .select(lit(stageName).as("stage"), col("metric"), col("n"))

  /** Full report for a staffing-pipeline run: validation split plus
    * both merges' action distributions. */
  def staffing(r: graft.pipelines.Staffing.Result): DataFrame =
    constCount("validate", "valid", r.staged)
      .unionByName(constCount("validate", "invalid", r.quarantine))
      .unionByName(stageCounts("users_merge",
        col(Merge.ActionCol), r.users))
      .unionByName(stageCounts("consultants_merge",
        col(Merge.ActionCol), r.consultants))
}
