package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.EventsStream
import QueryUtil._

/** Batch-equivalent verification queries for the streaming surface:
  * the same window aggregations EventsStream runs under `readStream`
  * are executed in batch mode here, where DuckDB can verify them
  * (SURVEY.md §2.10 — stateful ops stay out of the oracle, their
  * *logic* doesn't).
  */
object Streaming {

  def stTumbling(s: SparkSession, d: String): DataFrame =
    EventsStream.tumblingAgg(Tables.events(s, d))
      .orderBy("window_start", "event_type")

  private val stTumblingSql =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  def stSliding(s: SparkSession, d: String): DataFrame =
    EventsStream.slidingAgg(Tables.events(s, d))
      .orderBy("window_start", "event_type")

  // every event falls in exactly two 1h/30m windows: the one starting
  // at its hour and the one starting at the preceding half-hour
  private val stSlidingSql =
    """WITH w AS (
      |  SELECT make_timestamp(CAST((floor(epoch(ts) / 1800) * 1800 - 1800)
      |    * 1000000 AS BIGINT)) AS window_start, event_type FROM events
      |  UNION ALL
      |  SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800
      |    * 1000000 AS BIGINT)) AS window_start, event_type FROM events)
      |SELECT window_start, event_type, count(*) AS n
      |FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  def stSession(s: SparkSession, d: String): DataFrame =
    EventsStream.sessionAgg(Tables.events(s, d))
      .orderBy("user_id", "session_start")

  private val stSessionSql =
    """WITH e AS (SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |      IS NULL OR ts - (lag(ts) OVER (PARTITION BY user_id
      |        ORDER BY ts)) >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END
      |      AS new_session
      |  FROM events),
      |s AS (SELECT user_id, ts, sum(new_session) OVER (
      |    PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM e)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 10 MINUTE AS session_end,
      |  count(*) AS n_events
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  def stStreamJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    EventsStream.clickPurchaseJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"))
      .orderBy("click_id", "purchase_id")
  }

  private val stStreamJoinSql =
    """SELECT c.user_id AS user_id, c.event_id AS click_id,
      |  p.event_id AS purchase_id, c.ts AS click_ts, p.ts AS purchase_ts
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      |  AND c.event_type = 'click' AND p.event_type = 'purchase'
      |  AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
      |ORDER BY click_id, purchase_id""".stripMargin

  def stDedup(s: SparkSession, d: String): DataFrame =
    EventsStream.dedupEvents(Tables.events(s, d))
      .orderBy("user_id", "event_type")

  private val stDedupSql =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** Batch equivalent of the stateful streaming funnel
    * ([[graft.streaming.StatefulOps.funnelStream]]): one row per
    * viewing user with the first-view / first-click-after-view /
    * first-purchase-after-click timestamps. Stream/batch parity is
    * spec-verified (StatefulOpsSpec); this entry hash-verifies the
    * shared fold's semantics against the relational form. */
  def stFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[graft.streaming.StatefulOps.EventRow]
    graft.streaming.StatefulOps.funnelBatch(ev).toDF()
      .orderBy("user_id")
  }

  private val stFunnelSql =
    """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
      |  JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
      |  JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      |  GROUP BY 1)
      |SELECT user_id, t_view, t_click, t_purchase
      |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** Batch form of the LEFT OUTER attribution join
    * ([[EventsStream.clickPurchaseLeftJoin]]): every click row kept,
    * purchase columns NULL where no same-user purchase landed in the
    * 30-minute window. The watermark-gated streaming form (NULL rows
    * emit only once the watermark passes the click's window) is
    * parity-tested in EventsStreamSpec with a sentinel flush. */
  def stLeftJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    EventsStream.clickPurchaseLeftJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"))
      .orderBy("click_id", "purchase_id")
  }

  private val stLeftJoinSql =
    """SELECT c.user_id AS user_id, c.event_id AS click_id,
      |  p.event_id AS purchase_id, c.ts AS click_ts, p.ts AS purchase_ts
      |FROM events c LEFT JOIN events p
      |  ON c.user_id = p.user_id
      |  AND p.event_type = 'purchase'
      |  AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
      |WHERE c.event_type = 'click'
      |ORDER BY click_id, purchase_id""".stripMargin

  /** Batch form of the FULL OUTER interval join
    * ([[EventsStream.clickPurchaseFullJoin]]): clicks with no
    * purchase AND purchases with no qualifying click both emit,
    * missing side NULL. The streaming form gates each NULL direction
    * on the opposite side's watermark (parity-proven in
    * EventsStreamSpec with both-type sentinels). */
  def stFullJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    EventsStream.clickPurchaseFullJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"))
      .orderBy("click_id", "purchase_id", "user_id")
  }

  private val stFullJoinSql =
    """SELECT coalesce(c.user_id, p.user_id) AS user_id,
      |  c.event_id AS click_id, p.event_id AS purchase_id,
      |  c.ts AS click_ts, p.ts AS purchase_ts
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id
      |  AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
      |ORDER BY click_id, purchase_id, user_id""".stripMargin

  /** Batch form of the stream-static enrichment join
    * ([[EventsStream.enrichWithSegment]]): every event decorated with
    * its user's market segment from the customer dimension. The
    * streaming form is stateless (no watermark, no join state) and
    * parity-tested in EventsStreamSpec. */
  def stStaticJoin(s: SparkSession, d: String): DataFrame =
    EventsStream.enrichWithSegment(Tables.events(s, d),
        graft.Tables.customer(s, d))
      .orderBy("event_id")

  private val stStaticJoinSql =
    """SELECT e.event_id, e.user_id, e.event_type,
      |  c.c_mktsegment AS segment
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |ORDER BY event_id""".stripMargin

  /** Batch equivalent of the streaming changelog materialization
    * ([[graft.streaming.StatefulOps.latestStream]]): each user's
    * LATEST event row by (ts, event_id) — the keyed-upsert state a
    * streaming pipeline maintains for a continuously-fresh profile
    * table. The batch form is the declarative argmax: ONE struct-max
    * aggregate keyed on user_id. The struct-typed buffer makes Spark
    * plan it as a two-phase SortAggregate rather than a hash
    * aggregate — but the partial (map-side) phase still combines, so
    * the exchange carries at most one row per user per map task, and
    * the per-partition sort keys on user_id only. No window and no
    * row_number pass over the corpus; the (ts, event_id) prefix is
    * unique so trailing struct fields never tie-break.
    * Stream/batch parity across micro-batch boundaries is
    * spec-verified (StatefulOpsSpec); this entry hash-verifies the
    * shared ordering rule against the oracle's row_number replay. */
  def stUpsertState(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("s"))
      .select(col("user_id"), col("s.ts").as("ts"),
        col("s.event_id").as("event_id"),
        col("s.event_type").as("event_type"),
        col("s.value").as("value"))
      .orderBy("user_id")

  private val stUpsertStateSql =
    """SELECT user_id, ts, event_id, event_type, value FROM (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Batch core of the STREAMING ANN ingest gate
    * ([[graft.streaming.VectorStream]]): the IVF index is static
    * state built from the manifest (vec_id % 5 ≠ 0, k ∝ N quantizer),
    * and the incoming vector stream (vec_id % 5 = 0) is gated per
    * micro-batch through the same [[graft.ext.Similarity.ivfProbe]] —
    * top-2 attach points per arriving vector. The gate is STATELESS
    * (each row's result depends only on itself + the static index),
    * so stream ≡ batch for ANY batching — VectorStreamSpec pins the
    * union of per-micro-batch outputs row-for-row against this batch
    * core and the no-stateful-operator plan claim. Hash-verified via
    * the IVF oracle generator ([[graft.ext.IvfSpec.oracleSql]]), the
    * s_ann_incremental spec at the streaming entry's own split and
    * probe count. */
  def stAnnGate(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val index = graft.ext.Similarity.ivfBuild(annGate,
      e.filter(col("vec_id") % 5 =!= 0))
    graft.streaming.VectorStream.gateBatch(annGate, index, k = 2,
        e.filter(col("vec_id") % 5 === 0))
      .orderBy("new_id", "rank")
  }

  private val annGate = graft.ext.IvfSpec(graft.ext.Coarse.Kmeans(
    graft.ext.Coarse.PerRows(64), iters = 2, nprobe = 2))

  private val stAnnGateSql = graft.ext.IvfSpec.oracleSql(annGate, 2,
    graft.ext.QuerySet.Gate(5))

  /** Batch core of the STREAMING semantic-dedup gate
    * ([[graft.ext.Similarity.semDedupGateBatch]] per micro-batch) —
    * the [[stAnnGate]] sibling: the gate state
    * ([[graft.ext.Similarity.semDedupFit]] — hierarchical manifest
    * centroids + group representatives, frozen between refits) is
    * fitted on the `vec_id % 5 ≠ 0` manifest, and the incoming stream
    * (`% 5 = 0`, the st_ann_gate split) is judged per micro-batch:
    * drop iff ≥0.45-similar to any manifest group in the (cell,
    * sub-cell) or to a smaller-id vector of the SAME batch. Stateless
    * per BATCH (not per row — within-batch greedy couples rows
    * sharing a micro-batch); VectorStreamSpec pins per-micro-batch
    * parity and both sides of the cross-batch contract. One SemDeDup
    * catalog row, hash-verified by [[graft.ext.SemDedupSpec.oracleSql]]
    * at this split. */
  private val semGate = TrainingData.SemDedupEntry(graft.ext.SemDedupSpec(
    graft.ext.SemDedupGrid.Hier(64), iters = 2, threshold = 0.45), Some(5))

  def stSemdedupGate(s: SparkSession, d: String): DataFrame =
    TrainingData.runSemDedup(semGate)(Tables.embeddings(s, d))

  private val stSemdedupGateSql =
    graft.ext.SemDedupSpec.oracleSql(semGate.spec, semGate.split)

  val queries: Map[String, Q] = Map(
    "st_ann_gate" -> (stAnnGate _),
    "st_semdedup_gate" -> (stSemdedupGate _),
    "st_upsert_state" -> (stUpsertState _),
    "st_tumbling" -> (stTumbling _),
    "st_static_join" -> (stStaticJoin _),
    "st_left_join" -> (stLeftJoin _),
    "st_full_join" -> (stFullJoin _),
    "st_funnel" -> (stFunnel _),
    "st_sliding" -> (stSliding _),
    "st_session" -> (stSession _),
    "st_stream_join" -> (stStreamJoin _),
    "st_dedup" -> (stDedup _),
  )

  val oracle: Map[String, String] = Map(
    "st_ann_gate" -> stAnnGateSql,
    "st_semdedup_gate" -> stSemdedupGateSql,
    "st_upsert_state" -> stUpsertStateSql,
    "st_tumbling" -> stTumblingSql,
    "st_static_join" -> stStaticJoinSql,
    "st_left_join" -> stLeftJoinSql,
    "st_full_join" -> stFullJoinSql,
    "st_funnel" -> stFunnelSql,
    "st_sliding" -> stSlidingSql,
    "st_session" -> stSessionSql,
    "st_stream_join" -> stStreamJoinSql,
    "st_dedup" -> stDedupSql,
  )
}
