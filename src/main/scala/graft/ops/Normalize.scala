package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression library for the reference's normalization /
  * validation semantics (SURVEY.md §2.2-§2.3). Everything is a pure
  * `Column` expression — codegen-friendly, no UDFs — so Catalyst can
  * push, prune and fold around these at any scale.
  */
object Normalize {

  /** Lenient boolean coercion, cf. reference
    * `pipelines/staffing-roster-pipeline.py:117-126`:
    * yes/true/1 → true; no/false/0 → false; anything else (including
    * null and garbage) → false, NOT null. */
  def parseBoolean(c: Column): Column = {
    val v = lower(trim(c))
    when(v.isin("yes", "true", "1"), lit(true)).otherwise(lit(false))
  }

  /** Blank-to-NULL normalization applied before every sink write, cf.
    * `pipelines/staffing-roster-pipeline.py:138,194,216`. The original
    * (untrimmed) value is preserved when non-blank. */
  def blankToNull(c: Column): Column =
    when(trim(c) === "", lit(null).cast("string")).otherwise(c)

  /** Multi-candidate header coalesce, cf.
    * `pipelines/projects-pipeline.py:53-84`: first candidate that is
    * present and non-blank wins; null/blank counts as missing. */
  def coalesceCandidates(candidates: Seq[Column]): Column =
    coalesce(candidates.map(c => when(trim(c) =!= "", c)): _*)

  /** Required-field validation reason, cf.
    * `pipelines/staffing-roster-pipeline.py:58-73`: null when the row
    * is valid, else "missing: <comma-joined missing column names>".
    * `concat_ws` skips nulls in both Spark and ANSI SQL engines, which
    * keeps the oracle translation 1:1. The field list appears once in
    * the expression (`nullif` evaluates its argument once); a form
    * that repeats it, such as `when(list <> '', ... list)`, compiles
    * the per-field checks once per occurrence. */
  def missingReason(required: Seq[(String, Column)]): Column = {
    val parts = required.map { case (name, c) =>
      when(coalesce(trim(c), lit("")) === "", lit(name))
    }
    val prefix = lit("missing: ")
    nullif(concat(prefix, concat_ws(", ", parts: _*)), prefix)
  }

  /** Numeric-string guard, cf. `pipelines/projects-pipeline.py:136-142`:
    * returns the int value, or null for unparseable input (callers
    * route null+non-null-input rows to the error side). try_cast keeps
    * this safe under ANSI mode. */
  def guardedInt(c: Column): Column = c.try_cast("int")
}
