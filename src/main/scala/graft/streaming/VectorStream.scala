package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ext.{IvfSpec, SemDedupSpec, Similarity}

/** Structured Streaming surface for the ANN ingest gate — the
  * stream-side composition of the vector family with §2.10's
  * streaming tier (north-star extension; the reference is batch-only).
  *
  * Production shape: the IVF index is STATIC state between refits
  * ([[Similarity.ivfBuild]] on k-means cells — persisted centroids +
  * members, the FAISS train+add split), and the
  * incoming vector stream is gated per micro-batch through
  * [[Similarity.ivfProbe]] — each arriving vector emits its top-k
  * attach points against the manifest for downstream dedup-or-link
  * decisions. The gate is STATELESS by construction: an incoming
  * row's attach points depend only on itself and the static index, so
  * (a) the streaming query needs NO state store (nothing accumulates,
  * nothing to water-mark — the plan is a per-batch projection+join),
  * and (b) stream ≡ batch parity holds for ANY batching of the input
  * — VectorStreamSpec pins the union of per-micro-batch outputs
  * row-for-row against the one-shot batch probe, plus the
  * no-stateful-operator claim. Exactly-once lands on the usual
  * file-source/foreachBatch contract: source offsets checkpoint, and
  * the sink write is idempotent per (vec_id, rank).
  *
  * The batch core is the SAME [[Similarity.ivfProbe]] the
  * hash-verified `s_ann_incremental` / `s_ann_incremental_sqrt`
  * entries run — the streaming wrapper adds no arithmetic of its own,
  * which is what makes the parity argument airtight.
  *
  * ==Design note: a CONTINUOUSLY-GROWING manifest (the documented
  * redesign trigger, written down r14 so the next scale demand has a
  * plan instead of an increment)==
  *
  * Both gates freeze their manifest between refits — dups split
  * across micro-batches are BOTH kept until the next refit folds
  * accepted rows in (spec-pinned). A deployment that needs
  * cross-batch dedup WITHOUT refits moves per-CELL accepted state
  * into the state store:
  *
  *  - '''Key''': the quantizer cell — level-1 `cid` for the ANN gate,
  *    `(cid, scid)` for the semantic gate. The micro-batch is
  *    `groupByKey`-ed on the assigned cell, so
  *    `flatMapGroupsWithState` sees each cell's new vectors together.
  *  - '''State per key''': the cell's ACCEPTED (emb, min vec_id)
  *    groups since the last refit — the [[Similarity.SemDedupState]]
  *    `manGroups` delta, bounded by target cell size × dedup rate,
  *    NOT by stream length (accepted dups never insert). A size cap
  *    (e.g. 4× target) plus TTL-to-next-refit bounds the store even
  *    under adversarial streams; overflow falls back to
  *    keep-and-flag, preserving the gate's no-false-DROP contract.
  *  - '''Stays broadcast''': the fitted centroids and the refit-time
  *    manifest groups — they are immutable between refits, and
  *    per-row state-store lookups cannot beat a broadcast for
  *    read-only data. Only the post-refit DELTA lives in the store.
  *  - '''Judgment order''': within a batch the existing one-pass
  *    greedy (smallest id wins) is preserved per cell; across batches
  *    the store's groups play the manifest role (existence ⇒ drop).
  *  - '''Refit handoff''': on refit, the store drains (state TTL) and
  *    the new frozen manifest absorbs accepted rows; the gate's
  *    output contract — one (vec_id, …, kept) row per incoming
  *    vector — is unchanged, which keeps the batch-parity oracle
  *    runnable against the state-store variant on any single-batch
  *    input.
  */
object VectorStream {

  /** embeddings schema for readStream. */
  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** The per-micro-batch gate body: probe `incoming` against the
    * static `index` under `spec`, emitting (new_id, match_id, cos_sim,
    * rank). */
  def gateBatch(spec: IvfSpec, index: Similarity.IvfIndex, k: Int,
      incoming: DataFrame): DataFrame =
    Similarity.ivfProbe(spec, index, incoming, k)

  /** Wire a parquet-directory vector stream through the gate via
    * foreachBatch. `onBatch` receives each micro-batch's attach
    * points (already computed); checkpointing and restart semantics
    * are the standard file-source contract. */
  def ingestGateStream(spark: SparkSession, srcDir: String,
      spec: IvfSpec, index: Similarity.IvfIndex, k: Int,
      checkpointDir: String)(
      onBatch: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, epoch: Long) =>
        onBatch(gateBatch(spec, index, k, b), epoch)
      }
      .start()

  /** [[ingestGateStream]] for the semantic gate: per-file micro-
    * batches through [[Similarity.semDedupGateBatch]] against the
    * frozen state — each arriving vector is kept/dropped against the
    * manifest plus this batch's own smaller ids. Unlike the ANN gate
    * the body is stateless per BATCH, not per row (within-batch greedy
    * couples rows that share a micro-batch); the manifest does not
    * grow between refits, so dups split across micro-batches are both
    * kept until the next refit folds accepted rows in —
    * VectorStreamSpec pins both sides of that contract. */
  def ingestSemGateStream(spark: SparkSession, srcDir: String,
      spec: SemDedupSpec, state: Similarity.SemDedupState,
      checkpointDir: String)(
      onBatch: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, epoch: Long) =>
        onBatch(Similarity.semDedupGateBatch(spec, state, b), epoch)
      }
      .start()
}
