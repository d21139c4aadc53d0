package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The PRODUCTION materialized-view refresh path — the counterpart to
  * `q_incremental_agg`, which verifies the merge ALGEBRA
  * (merge(mv(base), mv(delta)) == mv(base ∪ delta)) but recomputes
  * both legs from history to do so. Here the executed plan is the one
  * a nightly 100-TB pipeline actually runs: scan the STORED MV table
  * (already aggregated, customer-keyed — orders-of-magnitude smaller
  * than the fact history) plus exactly ONE date partition of the
  * date-partitioned fact layout, merge the mergeable state, rewrite
  * the MV. Nothing rescans history; refresh cost is bounded by
  * |MV| + |day's ingest|, never by the corpus.
  *
  * The store: the MV as parquet carrying the MERGEABLE state —
  * count + exact DECIMAL sum, with AVG derived only at read time
  * (averaging averages is the classic incremental-maintenance bug) —
  * and the fact table partitioned by month directory key, so the
  * delta leg is served by ENGINE partition pruning (the
  * [[ZOrder]]/[[Retrieval.buildPhraseIndex]] materialization
  * discipline). Exact decimal sums make the merged state
  * bit-identical to a full recompute — refresh drift is impossible,
  * which is what lets the DuckDB oracle stay the full recompute.
  */
object MvRefresh {

  /** Stored-MV horizon: the MV covers orders strictly before this. */
  val Cutoff = "1997-01-01"
  /** The one ingested partition the refresh merges. */
  val DeltaMonth = "1997-01"
  /** After the refresh the MV covers orders strictly before this —
    * what the oracle recomputes. */
  val NewCutoff = "1997-02-01"

  /** Mergeable per-customer MV state: (o_custkey, n_orders, _spend)
    * with the spend as an exact decimal sum. */
  private def mvState(orders: DataFrame): DataFrame =
    orders.groupBy("o_custkey").agg(
      count(lit(1)).as("n_orders"),
      sum(col("o_totalprice").cast(DecimalType(18, 6))).as("_spend"))

  /** Materialize the stored MV (pre-cutoff aggregate) and the
    * month-partitioned fact layout. In production both already exist
    * — the MV from yesterday's refresh, the layout because that is
    * how fact tables land; the catalog entry builds them per run so
    * the refresh it times is honest. */
  def buildStore(orders: DataFrame, mvDir: String,
      factDir: String): Unit = {
    val o = orders.select(col("o_custkey"), col("o_orderdate"),
      col("o_totalprice"))
    mvState(o.filter(col("o_orderdate") <
        lit(Cutoff).cast("timestamp")))
      .coalesce(4)
      .write.mode("overwrite").parquet(mvDir)
    o.select(col("o_custkey"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("o_month"))
      .repartition(col("o_month")) // one writer task per directory
      .write.mode("overwrite").partitionBy("o_month").parquet(factDir)
  }

  /** The refresh itself: stored-MV scan + ONE pruned month partition
    * → delta aggregate (bounded by the month's ingest) → one hash
    * merge on the MV key. Returns the post-refresh MV in its read
    * shape (total/avg derived from the mergeable state). */
  def refresh(spark: SparkSession, mvDir: String, factDir: String,
      month: String = DeltaMonth): DataFrame = {
    val stored = spark.read.parquet(mvDir)
    val delta = spark.read.parquet(factDir)
      .filter(col("o_month") === month) // planning-time partition prune
      .groupBy("o_custkey").agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 6))).as("_spend"))
    stored.unionByName(delta)
      .groupBy("o_custkey")
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("_spend")).as("_spend"))
      .select(col("o_custkey"), col("n_orders"),
        col("_spend").cast("double").as("total_spend"),
        round(col("_spend").cast("double") / col("n_orders"), 6)
          .as("avg_spend"))
  }

  /** Catalog composition: build the store into run-scoped temp dirs,
    * execute the production refresh plan, reclaim the layouts (the
    * zorderScan treatment — in a `finally` so a failed run cannot
    * leak corpus-sized directories). */
  def refreshEntry(spark: SparkSession, orders: DataFrame): DataFrame = {
    val mvDir = java.nio.file.Files
      .createTempDirectory("graft_mv").toString
    val factDir = java.nio.file.Files
      .createTempDirectory("graft_mvfact").toString
    try {
      buildStore(orders, mvDir, factDir)
      refresh(spark, mvDir, factDir)
        .orderBy("o_custkey")
        .localCheckpoint()
    } finally {
      graft.queries.QueryUtil.deleteRecursively(mvDir)
      graft.queries.QueryUtil.deleteRecursively(factDir)
    }
  }
}
