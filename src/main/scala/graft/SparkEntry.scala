package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator surfaces here as a named query over the
  * testdata dir, and (where SQL-expressible) a matching DuckDB oracle
  * statement. Column names are aligned between the two on purpose: the
  * driver's compare sorts columns by name before hashing.
  */
object SparkEntry {

  /** Flagship on /root/testdata/sf0.001 (driver smoke-checks rows>0):
    * the full staffing pipeline — the reference's flagship lifecycle —
    * availability pivot, validation/quarantine, normalization, and the
    * users+consultants MERGE, end-to-end. */
  def entry(spark: SparkSession): DataFrame =
    Parity.pStaffingPipeline(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Analytics.queries ++ AnalyticsExt.queries ++
      Relational.queries ++ Parity.queries ++
      TrainingData.queries ++ Streaming.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. The
    * oracles whose plan literals are fitted from the dataset are
    * [[datasetOracleSql]]'s. */
  def oracleSql: Map[String, String] =
    Analytics.oracle ++ AnalyticsExt.oracle ++
      Relational.oracle ++ Parity.oracle ++
      TrainingData.oracle ++ Streaming.oracle

  /** The oracles that embed literals fitted from the dataset at `sfDir`
    * (the OPQ rotations), derived from the dataset alone: the same
    * statements whichever queries ran in this JVM. */
  def datasetOracleSql(spark: SparkSession, sfDir: String)
      : Map[String, String] =
    TrainingData.opqOracleSql(spark, sfDir)

  /** The keys [[datasetOracleSql]] returns. */
  def datasetOracleKeys: Seq[String] = TrainingData.opqEntryNames
}
