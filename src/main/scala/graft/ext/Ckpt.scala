package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Checkpoint placement for ITERATIVE loop state — the one shared
  * knob behind PageRank / BFS / ConnectedComponents / the k-means
  * fits ([[Similarity]]). BFS, components and the k-means fits run on
  * the driver within their static bounds ([[DriverGraph]], the Lloyd
  * fits' gate) and only loop through here past them, or when
  * reliable mode below forces the distributed loop.
  *
  * Every iterative operator here truncates its otherwise-geometric
  * loop lineage each round. `localCheckpoint()` (the default) does
  * that with non-replicated executor-local blocks — free of any
  * external storage dependency and the right call in a single-JVM
  * session, but on a real multi-executor cluster one lost executor
  * kills a mid-iteration frame with NO recompute path (the lineage
  * was truncated — that is the point of the call). A 100 TB run that
  * cannot afford a restart opts into RELIABLE placement:
  *
  * {{{
  * spark.conf.set(Ckpt.ModeKey, "reliable")
  * spark.conf.set(Ckpt.DirKey, "hdfs://…/graft-ckpt")  // or set the
  *                                   // SparkContext checkpoint dir
  * }}}
  *
  * after which every loop-state truncation in the four operator
  * families goes through `Dataset.checkpoint()` into the configured
  * directory (replicated, survives executor loss; Spark recomputes
  * a lost task from the checkpoint files instead of dying). The mode
  * is read PER CALL from the session's runtime conf, so a caller can
  * flip it between jobs without rebuilding the session.
  *
  * NOTE on reliable-mode retention: Spark never deletes reliable
  * checkpoint files on its own unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` — a long
  * PageRank/k-means run otherwise accumulates one loop-state
  * directory per truncation for the app's lifetime. Set that conf
  * alongside the mode (or point [[DirKey]] at storage with a TTL
  * policy) so the opt-in cannot silently fill the checkpoint
  * filesystem.
  *
  * Results are placement-invariant by construction — both forms
  * materialize the same rows and only differ in where the blocks
  * live (CkptSpec pins PageRank/BFS equality across modes). Only
  * LOOP STATE routes through here: loop-invariant layouts (e.g. the
  * PageRank edge layout) stay on `persist`, which keeps their
  * partitioning visible to the planner — a checkpoint of either kind
  * comes back as a bare scan with UnknownPartitioning and would
  * re-introduce the per-iteration exchanges the layouts exist to
  * remove (documented at the PageRank layout site).
  */
object Ckpt {

  /** `"local"` (default) → `localCheckpoint()`; `"reliable"` →
    * `checkpoint()` into [[DirKey]] / the SparkContext dir. */
  val ModeKey = "graft.checkpoint.mode"

  /** Reliable-mode checkpoint directory; consulted only when the
    * SparkContext has no checkpoint dir set yet. */
  val DirKey = "graft.checkpoint.dir"

  /** True when `ss` has opted into durable placement: the bounded
    * driver-side loops ([[DriverGraph]], the Lloyd fits in
    * [[Similarity]]) then run distributed, so the opt-in still writes
    * its recoverable files. */
  def reliable(ss: SparkSession): Boolean =
    ss.conf.get(ModeKey, "local") == "reliable"

  /** Truncate `df`'s lineage at the configured placement (eager in
    * both modes, like the bare `localCheckpoint()` calls this
    * replaces). */
  def apply(df: DataFrame): DataFrame = {
    val ss = df.sparkSession
    if (reliable(ss)) {
      if (ss.sparkContext.getCheckpointDir.isEmpty) {
        val dir = ss.conf.get(DirKey, "")
        require(dir.nonEmpty, s"$ModeKey=reliable needs $DirKey " +
          "(or SparkContext.setCheckpointDir)")
        ss.sparkContext.setCheckpointDir(dir)
      }
      df.checkpoint()
    } else df.localCheckpoint()
  }

  /** LAZY truncation for loop state whose first consumer is a FULL
    * driver-side aggregate (a convergence `count()` / change count /
    * stable-signature probe — one that computes EVERY partition): in
    * local mode the checkpoint is only MARKED, so the consumer's job
    * materializes the blocks while computing the scalar, instead of
    * a separate materialization job before it. This does NOT make a
    * round one job: under AQE `localCheckpoint(eager = false)` still
    * executes the plan to get its RDD, which runs every shuffle-map
    * stage below the result stage as a job during the call. Measured
    * with perfbench catalog_iterative --trace 1 on g_bfs before it
    * moved to the driver path (the BFS loop now runs only past
    * [[DriverGraph.MaxEdges]], or in reliable mode, where this call is
    * eager): each BFS round is 2 SQL executions and 5–6 jobs (3–4 in
    * this call, 2 in the count), and the BFS init is 3 jobs (1 + 2).
    * The caller MUST run such a full-partition action before any other
    * consumer; a partial-partition first action (limit/isEmpty) would
    * leave the tail partitions to a separate backfill job, re-paying
    * what this exists to remove. Reliable mode stays EAGER — a lazy
    * reliable checkpoint re-executes the plan for the write, which is
    * strictly worse, and CkptSpec pins the durable artifacts. */
  def lazily(df: DataFrame): DataFrame =
    if (reliable(df.sparkSession)) apply(df)
    else df.localCheckpoint(eager = false)
}
