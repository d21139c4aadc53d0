package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import QueryUtil._

/** Second analytics batch: window offsets, CUBE, relational pivot,
  * skew-safe salted aggregation, string distance, set operations, and
  * moment statistics via exact sums (the engines' native corr/stddev
  * accumulate floats in engine-specific order — computing the moments
  * as exact decimal sums and applying the closed form keeps the result
  * bit-identical to the oracle).
  */
object AnalyticsExt {

  /** lag/lead + percent_rank per customer order history. */
  def qWindowOffsets(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(asc("o_orderdate"), asc("o_orderkey"))
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
      col("o_totalprice"))
      .withColumn("prev_price",
        lag(col("o_totalprice"), 1).over(w))
      .withColumn("next_key", lead(col("o_orderkey"), 1).over(w))
      .withColumn("delta", col("o_totalprice") - col("prev_price"))
      .withColumn("pr", round(percent_rank().over(
        Window.partitionBy(col("o_custkey"))
          .orderBy(asc("o_totalprice"), asc("o_orderkey"))), 6))
      .drop("o_orderdate")
      .orderBy("o_custkey", "o_orderkey")
  }

  private val qWindowOffsetsSql =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  lead(o_orderkey, 1) OVER w AS next_key,
      |  o_totalprice - lag(o_totalprice, 1) OVER w AS delta,
      |  round(percent_rank() OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice ASC, o_orderkey ASC), 6) AS pr
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |  ORDER BY o_orderdate ASC, o_orderkey ASC)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** CUBE over (segment, order year). Customer scales with the
    * corpus (150k·SF) so it carries no broadcast hint — AQE decides
    * (the q8/q18 treatment). */
  def qCube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d)
        .select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .withColumn("o_year", year(col("o_orderdate")))
      .cube(col("c_mktsegment"), col("o_year"))
      .agg(sumDec(col("o_totalprice")).as("sum_price"),
        count(lit(1)).as("n"), grouping_id().as("gid"))
      .orderBy(asc("gid"), asc_nulls_first("c_mktsegment"),
        asc_nulls_first("o_year"))

  private val qCubeSql =
    s"""SELECT c_mktsegment, year(o_orderdate) AS o_year,
       |  ${sqlSumDec("o_totalprice")} AS sum_price, count(*) AS n,
       |  CAST(GROUPING(c_mktsegment) * 2 + GROUPING(year(o_orderdate))
       |    AS BIGINT) AS gid
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY CUBE (c_mktsegment, year(o_orderdate))
       |ORDER BY gid ASC, c_mktsegment ASC NULLS FIRST,
       |  o_year ASC NULLS FIRST""".stripMargin

  /** Relational pivot: priority classes to columns per order year. */
  def qPivotPriority(s: SparkSession, d: String): DataFrame = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    val aggs = prios.map(p =>
      count(when(col("o_orderpriority") === p, 1))
        .as("n_" + p.substring(0, 1)))
    Tables.orders(s, d)
      .withColumn("o_year", year(col("o_orderdate")))
      .groupBy("o_year")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("o_year")
  }

  private val qPivotPrioritySql = {
    val cols = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW").map(p =>
      s"count(CASE WHEN o_orderpriority = '$p' THEN 1 END) " +
      s"AS \"n_${p.substring(0, 1)}\"").mkString(",\n  ")
    s"""SELECT year(o_orderdate) AS o_year,
       |  $cols
       |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin
  }

  /** Skew-safe two-phase (salted) aggregation: identical result to a
    * direct groupBy, but the first shuffle spreads each hot key over
    * `SaltBuckets` reducers — the pattern for power-law keys at scale.
    * (events has only 5 event types: every key is a hot key.) */
  val SaltBuckets = 8
  def qSaltedAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("_salt", pmod(col("event_id"), lit(SaltBuckets)))
      .groupBy(col("event_type"), col("_salt"))
      .agg(count(lit(1)).as("pn"),
        sum(col("value").cast("decimal(18,6)")).as("pv"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"),
        sum(col("pv")).cast("double").as("sum_value"))
      .orderBy("event_type")

  private val qSaltedAggSql =
    s"""SELECT event_type, count(*) AS n,
       |  ${sqlSumDec("value")} AS sum_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Time-RANGE moving window: per customer, the 90-day trailing
    * order spend — the RANGE-frame sibling of `q_running_total`'s
    * ROWS frame. A RANGE frame bounds the window by the ORDER-BY
    * VALUE (here days-since-epoch), so the pane grows and shrinks
    * with order density instead of a fixed row count — the shape
    * behind every "trailing 90-day revenue" metric. Both engines
    * order by the identical integer day number; tied dates are frame
    * peers in both, and the sum runs in DECIMAL inside the pane
    * (order-independent), so the result is hash-exact.
    *
    * Scale shape: ONE hash exchange on o_custkey + a per-partition
    * sort; the sliding pane is computed in a single pass per
    * partition (Spark's bounded-range window frame advances two
    * pointers — no per-row rescan), and no join or second shuffle
    * exists in the plan. */
  def qMovingWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(datediff(col("o_orderdate"), lit("1970-01-01")))
      .rangeBetween(-90, 0)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .withColumn("spend_90d",
        sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
          .cast("double"))
      .withColumn("n_win", count(lit(1)).over(w))
      .select("o_custkey", "o_orderkey", "spend_90d", "n_win")
      .orderBy(asc("o_custkey"), asc("o_orderkey"))
  }

  private val qMovingWindowSql =
    """SELECT o_custkey, o_orderkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w
      |    AS DOUBLE) AS spend_90d,
      |  CAST(count(*) OVER w AS BIGINT) AS n_win
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |  ORDER BY (CAST(o_orderdate AS DATE) - DATE '1970-01-01')
      |  RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Skew-salted JOIN — the join-side sibling of [[qSaltedAgg]]: a
    * fact⋈dim equi-join whose fact keys follow a power law (here a
    * synthetic hot key: every `user_id % 4 == 0` event collapses onto
    * profile key 0, ~25% of the stream). A plain hash join would pin
    * the hot key's rows on ONE reducer; salting appends
    * `salt = event_id % SaltBuckets` to the fact key and explodes the
    * dim side `SaltBuckets`× so the hot key's rows spread over
    * `SaltBuckets` reducers. Result is provably identical to the
    * unsalted join (the oracle IS the unsalted join; SaltedJoinSpec
    * additionally asserts plan-level salting and result equality).
    *
    * Scale shape: the dim replication multiplies only the DIM (here
    * profile keys ≤ 50 rows — at production scale, dim×SaltBuckets
    * still ≪ fact), the fact side gains one narrow projected column,
    * and both sides hash-exchange on (k, salt) — per-reducer load is
    * bounded by hot_key_rows / SaltBuckets. This is the manual form
    * of what AQE skew-join does adaptively; it is the only option
    * when the skew is known ahead of time and the join sits under
    * further key-preserving operators. */
  def qSaltedJoin(s: SparkSession, d: String): DataFrame = {
    val hotKey = (u: Column) =>
      when(u % 4 === 0, lit(0L)).otherwise(u.cast("long"))
    // profile dim: per-key customer stats, keyed on the SAME collapsed
    // key space so the hot key exists on both sides
    val dim = Tables.customer(s, d)
      .select(hotKey(col("c_custkey") % 200).as("k"),
        col("c_acctbal"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_cust"),
        sumDec(col("c_acctbal")).as("bal_sum"))
    val dimSalted = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(SaltBuckets - 1))))
    val fact = Tables.events(s, d)
      .select(hotKey(col("user_id")).as("k"), col("value"),
        pmod(col("event_id"), lit(SaltBuckets)).as("_salt"))
    fact.join(dimSalted, Seq("k", "_salt"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_events"),
        sumDec(col("value")).as("value_sum"),
        first(col("n_cust")).as("n_cust"),
        first(col("bal_sum")).as("bal_sum"))
      .orderBy("k")
  }

  private val qSaltedJoinSql =
    s"""WITH dim AS (SELECT
       |    CAST(CASE WHEN (c_custkey % 200) % 4 = 0 THEN 0
       |      ELSE c_custkey % 200 END AS BIGINT) AS k,
       |    count(*) AS n_cust,
       |    ${sqlSumDec("c_acctbal")} AS bal_sum
       |  FROM customer GROUP BY 1),
       |fact AS (SELECT
       |    CAST(CASE WHEN user_id % 4 = 0 THEN 0
       |      ELSE user_id END AS BIGINT) AS k,
       |    value
       |  FROM events)
       |SELECT f.k AS k, count(*) AS n_events,
       |  ${sqlSumDec("f.value")} AS value_sum,
       |  first(d.n_cust) AS n_cust, first(d.bal_sum) AS bal_sum
       |FROM fact f JOIN dim d ON f.k = d.k
       |GROUP BY f.k ORDER BY k""".stripMargin

  /** Ordered conversion funnel over the event stream: users who
    * viewed, then clicked strictly after their first view, then
    * purchased strictly after that first click — the sequential
    * product-analytics query (a plain per-stage distinct count would
    * overcount users whose stages happened out of order).
    *
    * Scale shape: ONE scan of the event stream and ONE hash exchange
    * on user_id. The three stage timestamps are dependent per-user
    * window minima over the same partition spec (no re-shuffle
    * between layers), the per-user rollup reuses the window's
    * partitioning, and the stage rows come out of a 1-row global
    * aggregate via stack. No joins, no cache, no second pass — the
    * shape that survives a 100 TB events table. */
  def qFunnel(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    // non-funnel event types can never satisfy a stage predicate —
    // filter them before the shuffle (at scale they are most of the
    // stream); pushes to the parquet scan as an In filter
    val perEvent = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
      .filter(col("event_type").isin("view", "click", "purchase"))
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" &&
          col("ts") > col("t_view"), col("ts"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" &&
          col("ts") > col("t_click"), col("ts"))).over(w))
    val perUser = perEvent.groupBy(col("user_id"))
      .agg(max(col("t_view")).as("t_view"),
        max(col("t_click")).as("t_click"),
        max(col("t_purchase")).as("t_purchase"))
    val totals = perUser.agg(
      count(col("t_view")).as("n1"), count(col("t_click")).as("n2"),
      count(col("t_purchase")).as("n3"))
    totals.select(expr(
        "stack(3, 1, 'view', n1, 2, 'click', n2, 3, 'purchase', n3)" +
        " AS (stage, event_type, n_users)"),
        col("n1"))
      .select(col("stage"), col("event_type"), col("n_users"),
        round(col("n_users").cast("double") / col("n1"), 6)
          .as("conv_from_top"))
      .orderBy("stage")
  }

  private val qFunnelSql =
    """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
      |  JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
      |  WHERE e.event_type = 'click' GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
      |  JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
      |  WHERE e.event_type = 'purchase' GROUP BY 1),
      |stages AS (
      |  SELECT 1 AS stage, 'view' AS event_type,
      |    count(*) AS n_users FROM v
      |  UNION ALL SELECT 2, 'click', count(*) FROM c
      |  UNION ALL SELECT 3, 'purchase', count(*) FROM p),
      |top AS (SELECT count(*) AS n_top FROM v)
      |SELECT stage, event_type, n_users,
      |  round(n_users::DOUBLE / n_top, 6) AS conv_from_top
      |FROM stages, top ORDER BY stage""".stripMargin

  /** Weekly cohort retention: users are grouped by the ISO week of
    * their first event (the cohort); each (cohort, week-offset) cell
    * counts the cohort's users active that week — the retention
    * triangle.
    *
    * Scale shape: ONE scan of raw events into a partial-combined
    * (user, week) distinct — everything after is bounded by
    * users × weeks. The cohort is a per-user window minimum over the
    * deduped frame (no join, no second scan; at 100M users a
    * cohort-side broadcast would flip to a sort-merge join, the
    * window form never has that cliff). Week offsets are
    * day-difference/7 over week-truncated timestamps — both engines
    * truncate to ISO Monday, so the division is always exact.
    * cohort_week stays a timestamp (the date_trunc result): the
    * driver's compare is proven on timestamp columns (o_orderdate
    * queries), not on DATE. */
  def qRetentionCohorts(s: SparkSession, d: String): DataFrame = {
    val uw = Tables.events(s, d)
      .select(col("user_id"),
        date_trunc("week", col("ts")).as("week"))
      .distinct()
    val w = Window.partitionBy(col("user_id"))
    uw.withColumn("cohort_week", min(col("week")).over(w))
      .groupBy(col("cohort_week"),
        floor(datediff(col("week"), col("cohort_week")) / 7)
          .cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort_week", "week_offset")
  }

  private val qRetentionCohortsSql =
    """WITH e AS (SELECT user_id,
      |    date_trunc('week', ts) AS wk FROM events),
      |cohorts AS (SELECT user_id, min(wk) AS cohort_week FROM e
      |  GROUP BY 1),
      |active AS (SELECT DISTINCT user_id, wk AS week FROM e)
      |SELECT cohort_week,
      |  CAST(floor(date_diff('day', cohort_week, week) / 7.0)
      |    AS BIGINT) AS week_offset,
      |  count(*) AS n_active
      |FROM active JOIN cohorts USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin

  /** Batch sessionization: a 30-minute inactivity gap starts a new
    * session (the classic web-analytics rule; the batch sibling of
    * the streaming `st_session` window). Per (user, session): event
    * count, start/end, exact microsecond duration.
    *
    * Scale shape: ONE shuffle on `user_id` serves the whole query —
    * the gap flag and running session index are windows over
    * (user_id | ts, event_id), and the per-session aggregate's
    * ClusteredDistribution(user_id, session_idx) is already satisfied
    * by HashPartitioning(user_id) (equal composite keys share a
    * user_id), so Catalyst inserts no second exchange. Gaps compare
    * in integer MICROSECONDS (`unix_micros` / DuckDB `epoch_us`) —
    * exact arithmetic, no seconds truncation, no float epoch. Session
    * boundaries tie-break on event_id so duplicate timestamps order
    * deterministically in both engines. */
  def qSessionize(s: SparkSession, d: String): DataFrame =
    sessionize(Tables.events(s, d), gapUs = 1800000000L)
      .orderBy("user_id", "session_idx")

  /** The sessionizer itself, gap-parameterized — SessionizeSpec runs
    * it at the streaming family's 10-minute gap to prove it agrees
    * with Spark's native `session_window` operator session-for-
    * session (an independent second implementation of the same
    * semantics). */
  def sessionize(events: DataFrame, gapUs: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(asc("ts"), asc("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .withColumn("new_s",
        when(col("gap_us").isNull || col("gap_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .as("duration_us"))
  }

  private val qSessionizeSql =
    """WITH m AS (SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT user_id, ts,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_idx
      |  FROM m)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  count(*) AS n_events,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
      |FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin

  /** PageRank over the bipartite customer↔supplier purchase graph
    * (edges = distinct (custkey, suppkey) pairs via lineitem×orders,
    * symmetrized; node ids namespaced by parity). Two unrolled
    * deterministic iterations — see [[graft.ext.PageRank]] for why
    * the fit is bit-reproducible in SQL. The web-graph shape of this
    * query (rank quality signal over a crawl graph) is a standard
    * corpus-curation input. */
  def gPagerank(s: SparkSession, d: String): DataFrame = {
    val e0 = Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    graft.ext.PageRank.pagerank(edges, iters = 2)
      .select(
        when(col("node") % 2 === 0, lit("cust"))
          .otherwise(lit("supp")).as("kind"),
        floor(col("node") / 2).cast("long").as("id"),
        col("pr_pico"))
      .orderBy("kind", "id")
  }

  private val gPagerankSql =
    s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
       |    l_suppkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT src, dst FROM e0
       |  UNION ALL SELECT dst, src FROM e0),
       |${graft.ext.PageRank.oracleCtes("e", iters = 2)}
       |SELECT CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'supp' END
       |    AS kind,
       |  CAST(floor(node / 2) AS BIGINT) AS id, pr_pico
       |FROM p2 ORDER BY kind, id""".stripMargin

  /** BFS hop distances ([[graft.ext.Bfs.distances]]) from the
    * smallest node over the SAME bipartite customer↔supplier graph
    * as [[gPagerank]] (shared derivation — the two entries can't
    * drift). Engine side is Pregel-style frontier iteration (one
    * frontier⋈edges join + one anti-join per round, diameter
    * rounds); the oracle is a bounded RECURSIVE CTE taking min(dist)
    * per node — a different algorithm entirely (exhaustive
    * path-depth enumeration), so the hash match proves the
    * frontier/anti-join reduction, not a replay. */
  def gBfs(s: SparkSession, d: String): DataFrame = {
    val e0 = Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    // auto-derived bucket count (floored at the proven 32, so this
    // entry's layout is unchanged at bench SFs; a 1000× graph gets
    // file-sized buckets) — the layout is physical only, results are
    // bucket-count-invariant. symIsDistinct: e0 is DISTINCT directed
    // pairs with src always EVEN (custkey·2) and dst always ODD
    // (suppkey·2+1), so the symmetrized union cannot carry a
    // duplicate — each side is distinct and a pair can never equal a
    // reversed pair; the corpus-sized dedup exchange (2·|E| rows at
    // every scale) is skipped (r15, results identical).
    graft.ext.Bfs.distancesIndexedAuto(e0, "src", "dst",
      symIsDistinct = true)
      .select(
        when(col("node") % 2 === 0, lit("cust"))
          .otherwise(lit("supp")).as("kind"),
        floor(col("node") / 2).cast("long").as("id"),
        col("dist"))
      .orderBy("kind", "id")
  }

  private val gBfsSql =
    """WITH RECURSIVE e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
      |    l_suppkey * 2 + 1 AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |e AS (SELECT src, dst FROM e0
      |  UNION SELECT dst, src FROM e0),
      |s AS (SELECT min(src) AS node FROM e),
      |bfs(node, dist) AS (
      |  SELECT node, CAST(0 AS BIGINT) FROM s
      |  UNION
      |  SELECT e.dst, bfs.dist + 1 FROM bfs
      |  JOIN e ON e.src = bfs.node
      |  WHERE bfs.dist < 20)
      |SELECT CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'supp' END
      |    AS kind,
      |  CAST(floor(node / 2) AS BIGINT) AS id,
      |  min(dist) AS dist
      |FROM bfs GROUP BY node ORDER BY kind, id""".stripMargin

  /** Edit distance between adjacent sampled documents. */
  def qLevenshtein(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(
      col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") % 10 === 0).alias("a")
    val b = docs.alias("b")
    a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.text"), col("b.text")).as("edit_dist"))
      .orderBy("doc_a")
  }

  private val qLevenshteinSql =
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  levenshtein(a.text, b.text) AS edit_dist
      |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |WHERE a.doc_id % 10 = 0
      |ORDER BY doc_a""".stripMargin

  /** INTERSECT / EXCEPT set operations on derived key sets. */
  def qSetOps(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_custkey"))
    val evens = c.filter(col("c_custkey") % 2 === 0)
    val threes = c.filter(col("c_custkey") % 3 === 0)
    val both = evens.intersect(threes)
      .withColumn("op", lit("intersect"))
    val only = evens.except(threes)
      .withColumn("op", lit("except"))
    both.unionByName(only).orderBy("op", "c_custkey")
  }

  private val qSetOpsSql =
    """WITH evens AS (SELECT c_custkey FROM customer
      |    WHERE c_custkey % 2 = 0),
      |threes AS (SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0),
      |i AS (SELECT c_custkey, 'intersect' AS op FROM
      |  (SELECT c_custkey FROM evens INTERSECT
      |   SELECT c_custkey FROM threes)),
      |e AS (SELECT c_custkey, 'except' AS op FROM
      |  (SELECT c_custkey FROM evens EXCEPT
      |   SELECT c_custkey FROM threes))
      |SELECT c_custkey, op FROM i
      |UNION ALL SELECT c_custkey, op FROM e
      |ORDER BY op, c_custkey""".stripMargin

  /** Pearson correlation + stddev per group from exact decimal moment
    * sums (closed form over Σx, Σy, Σxy, Σx², Σy², n). */
  def qCorrStats(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sumDec(x).as("sx"), sumDec(y).as("sy"),
        sumDec(x * y).as("sxy"), sumDec(x * x).as("sxx"),
        sumDec(y * y).as("syy"))
      .select(col("l_returnflag"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("corr_qty_price"),
        round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
          (col("n") - 1)), 6).as("stddev_qty"))
      .orderBy("l_returnflag")
  }

  private val qCorrStatsSql = {
    val sx = sqlSumDec("l_quantity")
    val sy = sqlSumDec("l_extendedprice")
    val sxy = sqlSumDec("l_quantity * l_extendedprice")
    val sxx = sqlSumDec("l_quantity * l_quantity")
    val syy = sqlSumDec("l_extendedprice * l_extendedprice")
    s"""SELECT l_returnflag, count(*) AS n,
       |  round((count(*) * $sxy - $sx * $sy) /
       |    (sqrt(count(*) * $sxx - $sx * $sx) *
       |     sqrt(count(*) * $syy - $sy * $sy)), 6) AS corr_qty_price,
       |  round(sqrt(($sxx - $sx * $sx / count(*)) /
       |    (count(*) - 1)), 6) AS stddev_qty
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** JSON property extraction from the events payload column. */
  def qJsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k",
        get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_k"),
        sum(col("k").cast("long")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  private val qJsonExtractSql =
    """SELECT event_type,
      |  count(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS n_k,
      |  CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS INT))
      |    AS BIGINT) AS sum_k,
      |  max(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Exact interpolated percentiles via Spark's buffering
    * `percentile()` aggregate, which materializes every group value in
    * the aggregation buffer — OOM at cluster scale. NOT in the query
    * catalog (a user must not copy this form); it exists only as the
    * reference formulation that [[qPercentilesDist]] is
    * spec-compared against (AnalyticsQuerySpec). */
  private[graft] def percentilesBuffering(s: SparkSession, d: String)
      : DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"))
      .orderBy("l_returnflag")

  private val qPercentilesSql =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  private val qPercentilesExtSql =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
      |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** The same exact interpolated percentiles computed the way that
    * SURVIVES 100 TB: Spark's `percentile()` buffers every value of a
    * group in the aggregation buffer (OOM at cluster scale); this
    * formulation builds a (value → count) histogram (map-side
    * combinable), takes one windowed cumulative sum per group, and
    * linearly interpolates between the two bracketing values —
    * identical semantics (pos = p·(n−1), `lo + frac·(hi−lo)`), so it
    * verifies against the same quantile_cont oracle. */
  def qPercentilesDist(s: SparkSession, d: String): DataFrame =
    percentilesHistogram(s, d, Seq(0.5 -> "p50", 0.95 -> "p95"))

  /** The dist catalog entry additionally reports p99 — it is not a
    * duplicate of q_percentiles (which keeps the reference two-number
    * surface), so Bench/Verify don't run the identical plan twice. */
  def qPercentilesDistExt(s: SparkSession, d: String): DataFrame =
    percentilesHistogram(s, d,
      Seq(0.5 -> "p50", 0.95 -> "p95", 0.99 -> "p99"))

  private def percentilesHistogram(s: SparkSession, d: String,
      ps: Seq[(Double, String)]): DataFrame = {
    val counts = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_extendedprice").as("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("l_returnflag").orderBy("v")
    val cum = counts
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c"))
        .over(Window.partitionBy("l_returnflag")))
    // a value v covers sorted (0-based) positions [cum−c, cum−1]; the
    // rows bracketing position floor(k)/ceil(k) are picked with
    // conditional min aggregates (≤ 2 survivors per group)
    def pick(idx: Column): Column =
      min(when(col("cum") - col("c") <= idx && idx < col("cum"),
        col("v")))
    def kOf(p: Double): Column =
      (col("n") - lit(1)).cast("double") * lit(p)
    val aggs = ps.flatMap { case (p, name) => Seq(
      min(kOf(p)).as(s"k_$name"),
      pick(floor(kOf(p))).as(s"lo_$name"),
      pick(ceil(kOf(p))).as(s"hi_$name")) }
    val agg = cum.groupBy(col("l_returnflag"))
      .agg(aggs.head, aggs.tail: _*)
    def interp(name: String): Column = {
      val (k, lo, hi) =
        (col(s"k_$name"), col(s"lo_$name"), col(s"hi_$name"))
      round(lo + (k - floor(k)) * (hi - lo), 4).as(name)
    }
    agg.select(col("l_returnflag") +: ps.map(p => interp(p._2)): _*)
      .orderBy("l_returnflag")
  }

  /** Approximate distinct counts (HLL++) next to the exact count —
    * rows-only: the sketch estimate is engine-specific by design.
    * [[qHllPortable]] is the oracle-verified sketch variant. */
  def qApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey")).as("approx_orders"),
        countDistinct(col("l_orderkey")).as("exact_orders"))
      .orderBy("l_returnflag")

  /** HyperLogLog built from first principles with the engine-portable
    * polynomial hash — fully oracle-verified, unlike the engine HLL++
    * sketch above. m=64 registers; register = max over values of
    * (position of lowest set bit of h>>6) with bucket h&63; raw
    * estimate α·m²/Σ2^−Mⱼ (no small/large-range correction — this is
    * the distributive core that matters at scale: per-partition
    * register maxima combine associatively, exactly how a 1000-executor
    * HLL merge works; every term 2^−Mⱼ is dyadic with span < 53 bits,
    * so the float sum is EXACT and order-independent). */
  def qHllPortable(s: SparkSession, d: String): DataFrame = {
    val m = 64
    val h = graft.functions.RollingHash.rolling_hash(
      col("l_orderkey").cast("string"))
    val bucket = h.bitwiseAND(lit((m - 1).toLong))
    val rem = shiftright(h, 6)
    // rank = index (1-based) of lowest set bit of the 25 remaining
    // bits; rem = 0 → 26 (all-zero sentinel, standard w−p+1)
    val rank = (1 to 25).foldRight(lit(26)) { case (k, acc) =>
      when(shiftright(rem, k - 1).bitwiseAND(1) === 1, lit(k))
        .otherwise(acc)
    }
    val alpha = 0.709 // α₆₄ literal, mirrored verbatim in the oracle
    val regs = Tables.lineitem(s, d)
      .select(col("l_returnflag"), bucket.as("bucket"), rank.as("rank"))
      .groupBy(col("l_returnflag"), col("bucket"))
      .agg(max(col("rank")).as("reg"))
    regs.groupBy(col("l_returnflag"))
      .agg(round(lit(alpha * m * m) /
        (sum(pow(lit(2.0), -col("reg"))) +
          (lit(m) - count(lit(1))).cast("double")), 4)
        .as("hll_orders"))
      .orderBy("l_returnflag")
  }

  /** HLL sketch MERGE — the property that makes sketches worth
    * shipping at 100 TB: per-group (here per returnflag) register
    * frames combine into ONE global sketch by bucket-wise max —
    * associative, order-free, exactly how a 1000-executor /
    * 1000-partition HLL union works (and how a data platform serves
    * "distinct over any ad-hoc group combination" without re-scanning
    * facts). The output row carries the merged estimate next to the
    * SUM of per-group estimates and the exact global count: orderkeys
    * appear under several returnflags, so the naive sum OVERCOUNTS
    * ~2.5× while the merged sketch stays in the raw-estimate error
    * band (sf0.01: merged 20178 vs exact 14743 vs naive 37556 — the
    * m=64 core without small-range correction, same accuracy contract
    * as [[qHllPortable]]) — the operator's reason-to-exist,
    * demonstrated in its own output. */
  def qHllMerge(s: SparkSession, d: String): DataFrame = {
    val m = 64
    val h = graft.functions.RollingHash.rolling_hash(
      col("l_orderkey").cast("string"))
    val bucket = h.bitwiseAND(lit((m - 1).toLong))
    val rem = shiftright(h, 6)
    val rank = (1 to 25).foldRight(lit(26)) { case (k, acc) =>
      when(shiftright(rem, k - 1).bitwiseAND(1) === 1, lit(k))
        .otherwise(acc)
    }
    val alpha = 0.709
    def estimate(regs: DataFrame, grp: Seq[Column]): DataFrame =
      regs.groupBy(grp: _*)
        .agg(round(lit(alpha * m * m) /
          (sum(pow(lit(2.0), -col("reg"))) +
            (lit(m) - count(lit(1))).cast("double")), 4).as("est"))
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_orderkey"),
        bucket.as("bucket"), rank.as("rank"))
    val groupRegs = li.groupBy(col("l_returnflag"), col("bucket"))
      .agg(max(col("rank")).as("reg"))
    // THE MERGE: bucket-wise max over the per-group register frames —
    // never re-touches lineitem
    val mergedRegs = groupRegs.groupBy(col("bucket"))
      .agg(max(col("reg")).as("reg"))
    val merged = estimate(mergedRegs, Seq.empty)
      .select(col("est").as("hll_merged"))
    val naiveSum = estimate(groupRegs, Seq(col("l_returnflag")))
      .agg(round(sum(col("est")), 4).as("sum_group_hll"))
    val exact = li.agg(countDistinct(col("l_orderkey")).as("n_exact"))
    merged.crossJoin(naiveSum).crossJoin(exact)
  }

  private val qHllMergeSql = {
    val polyHash =
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(string_split(CAST(l_orderkey AS VARCHAR), ''), " +
      "c -> ord(c)::BIGINT)), (a, b) -> (a * 31 + b) % 2147483647)"
    val rank = "CASE " + (1 to 25).map(k =>
      s"WHEN ((rem >> ${k - 1}) & 1) = 1 THEN $k ").mkString +
      "ELSE 26 END"
    s"""WITH hashed AS (SELECT l_returnflag, l_orderkey, $polyHash AS h
       |  FROM lineitem),
       |br AS (SELECT l_returnflag, l_orderkey, h & 63 AS bucket,
       |    h >> 6 AS rem FROM hashed),
       |ranked AS (SELECT l_returnflag, l_orderkey, bucket,
       |    $rank AS rank FROM br),
       |gregs AS (SELECT l_returnflag, bucket, max(rank) AS reg
       |  FROM ranked GROUP BY l_returnflag, bucket),
       |mregs AS (SELECT bucket, max(reg) AS reg FROM gregs
       |  GROUP BY bucket),
       |merged AS (SELECT round(0.709 * 64 * 64 /
       |    (sum(power(2.0, -reg)) + CAST(64 - count(*) AS DOUBLE)), 4)
       |    AS hll_merged FROM mregs),
       |gest AS (SELECT l_returnflag, round(0.709 * 64 * 64 /
       |    (sum(power(2.0, -reg)) + CAST(64 - count(*) AS DOUBLE)), 4)
       |    AS est FROM gregs GROUP BY l_returnflag),
       |naive AS (SELECT round(sum(est), 4) AS sum_group_hll FROM gest),
       |exact AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
       |    AS n_exact FROM lineitem)
       |SELECT hll_merged, sum_group_hll, n_exact
       |FROM merged, naive, exact""".stripMargin
  }

  private val qHllPortableSql = {
    val polyHash =
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(string_split(CAST(l_orderkey AS VARCHAR), ''), " +
      "c -> ord(c)::BIGINT)), (a, b) -> (a * 31 + b) % 2147483647)"
    val rank = "CASE " + (1 to 25).map(k =>
      s"WHEN ((rem >> ${k - 1}) & 1) = 1 THEN $k ").mkString +
      "ELSE 26 END"
    s"""WITH hashed AS (SELECT l_returnflag, $polyHash AS h
       |  FROM lineitem),
       |br AS (SELECT l_returnflag, h & 63 AS bucket, h >> 6 AS rem
       |  FROM hashed),
       |ranked AS (SELECT l_returnflag, bucket, $rank AS rank FROM br),
       |regs AS (SELECT l_returnflag, bucket, max(rank) AS reg
       |  FROM ranked GROUP BY l_returnflag, bucket)
       |SELECT l_returnflag,
       |  round(0.709 * 64 * 64 /
       |    (sum(power(2.0, -reg)) + CAST(64 - count(*) AS DOUBLE)), 4)
       |    AS hll_orders
       |FROM regs GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** Explicit GROUPING SETS (beyond rollup/cube): segment×priority,
    * segment-only, priority-only — one pass, grouping_id
    * disambiguates. */
  def qGroupingSets(s: SparkSession, d: String): DataFrame = {
    val seg = col("c_mktsegment")
    val pri = col("o_orderpriority")
    Tables.orders(s, d)
      .join(Tables.customer(s, d)
        .select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .groupingSets(Seq(Seq(seg, pri), Seq(seg), Seq(pri)), seg, pri)
      .agg(sumDec(col("o_totalprice")).as("sum_price"),
        count(lit(1)).as("n"), grouping_id().as("gid"))
      .orderBy(asc("gid"), asc_nulls_first("c_mktsegment"),
        asc_nulls_first("o_orderpriority"))
  }

  private val qGroupingSetsSql =
    s"""SELECT c_mktsegment, o_orderpriority,
       |  ${sqlSumDec("o_totalprice")} AS sum_price, count(*) AS n,
       |  CAST(GROUPING(c_mktsegment) * 2 + GROUPING(o_orderpriority)
       |    AS BIGINT) AS gid
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority),
       |  (c_mktsegment), (o_orderpriority))
       |ORDER BY gid ASC, c_mktsegment ASC NULLS FIRST,
       |  o_orderpriority ASC NULLS FIRST""".stripMargin

  /** Time-series gap filling: daily order counts per priority with
    * every missing calendar day materialized as an explicit zero over
    * the priority's own [min, max] span. The day scaffold is
    * `sequence(min_day, max_day)` exploded from a 5-row aggregate —
    * generated, never scanned — and the left join back to the daily
    * counts is hash-partitioned on (priority, day). */
  def qGapfill(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .select(col("o_orderpriority").as("pri"),
        to_date(col("o_orderdate")).as("day"))
      .groupBy("pri", "day").agg(count(lit(1)).as("n"))
    val scaffold = daily.groupBy("pri")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("pri"), explode(sequence(col("d0"), col("d1"),
        expr("INTERVAL 1 DAY"))).as("day"))
    scaffold.join(daily, Seq("pri", "day"), "left")
      // ISO string on both sides: pandas renders Spark DATE as object
      // and DuckDB DATE as datetime64, an avoidable compare hazard
      .select(col("pri"), col("day").cast("string").as("day"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("pri", "day")
  }

  private val qGapfillSql =
    """WITH daily AS (SELECT o_orderpriority AS pri,
      |    CAST(o_orderdate AS DATE) AS day, count(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |span AS (SELECT pri, min(day) AS d0, max(day) AS d1
      |  FROM daily GROUP BY pri),
      |scaffold AS (SELECT pri, CAST(unnest(generate_series(d0, d1,
      |    INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM span)
      |SELECT s.pri, strftime(s.day, '%Y-%m-%d') AS day,
      |  coalesce(daily.n, 0) AS n
      |FROM scaffold s LEFT JOIN daily
      |  ON s.pri = daily.pri AND s.day = daily.day
      |ORDER BY s.pri, strftime(s.day, '%Y-%m-%d')""".stripMargin

  /** Interval-union coverage per user — the sweep-line "merge
    * overlapping intervals" pattern (activity/uptime/SLA coverage:
    * each event opens a 5-minute activity window; how long was the
    * user ACTIVE, counting overlaps once?). The islands technique:
    * running max of interval end per user (excluding the current
    * row), an island break wherever the next start exceeds it, a
    * running sum of breaks as the island id, then one aggregate per
    * island and one per user. All interval arithmetic in integer
    * epoch-micros (`unix_micros`), bit-identical cross-engine.
    *
    * Scale shape: ONE shuffle on user_id serves every window and both
    * aggregates (same partitioning key throughout — Exchange reuse);
    * per-user state is the sort, bounded by per-user event counts.
    * No self-join: the naive interval-overlap formulation is a range
    * self-join per user ([[graft.ext.RangeJoin]] territory); coverage
    * only needs the sorted sweep. */
  def qIntervalCoverage(s: SparkSession, d: String): DataFrame = {
    val winUs = 300000000L // 5 min
    val iv = Tables.events(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts")) + lit(winUs)).as("e"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(asc("s"), asc("e"))
    val isl = iv
      .withColumn("pmax", max(col("e")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("s")).as("s0"), max(col("e")).as("e1"),
        count(lit(1)).as("n"))
    isl.groupBy("user_id")
      .agg(sum(col("n")).as("n_events"),
        count(lit(1)).as("n_islands"),
        sum(col("e1") - col("s0")).as("active_us"))
      .orderBy("user_id")
  }

  private val qIntervalCoverageSql =
    """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
      |    epoch_us(ts) + 300000000 AS e FROM events),
      |m AS (SELECT user_id, s, e,
      |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM iv),
      |f AS (SELECT user_id, s, e,
      |    CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS brk
      |  FROM m),
      |g AS (SELECT user_id, s, e,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY s, e
      |      ROWS UNBOUNDED PRECEDING) AS island FROM f),
      |i AS (SELECT user_id, island, min(s) AS s0, max(e) AS e1,
      |    count(*) AS n FROM g GROUP BY user_id, island)
      |SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
      |  CAST(count(*) AS BIGINT) AS n_islands,
      |  CAST(sum(e1 - s0) AS BIGINT) AS active_us
      |FROM i GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Portable count-min sketch (completing the oracle-verifiable
    * sketch family next to [[qHllPortable]]): depth 3 × width 64,
    * row hashes = the polynomial family at mults 31/37/41. The sketch
    * build is ONE scan: each row emits its 3 (level, bucket) cells
    * via posexplode into a single hash aggregate (map-side combined);
    * the tiny 3×64-row sketch is materialized once and broadcast into
    * the probe join. Every step is distributive — per-partition
    * sketches merge by addition exactly as they would across 1000
    * executors. Overestimation (est ≥ exact) is a structural
    * guarantee. */
  def qCmsPortable(s: SparkSession, d: String): DataFrame = {
    val w = 64
    val mults = Seq(31L, 37L, 41L)
    def h(m: Long): Column = pmod(
      graft.functions.RollingHash.rolling_hash(
        col("l_suppkey").cast("string"), mult = m), lit(w))
    val base = Tables.lineitem(s, d).select(
      col("l_suppkey") +: mults.zipWithIndex.map { case (m, i) =>
        h(m).as(s"b$i") }: _*)
    // one scan → all three sketch rows; ≤ 192 cells, materialized
    // once so the three probe joins don't re-aggregate the corpus
    val sketch = base.select(posexplode(
        array(col("b0"), col("b1"), col("b2"))).as(Seq("lvl", "bucket")))
      .groupBy(col("lvl"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val probes = base.filter(col("l_suppkey") <= 5)
      .groupBy(col("l_suppkey"),
        col("b0"), col("b1"), col("b2"))
      .agg(count(lit(1)).as("exact_n"))
    val est = mults.indices.foldLeft(probes) { case (acc, i) =>
      acc.join(broadcast(sketch.filter(col("lvl") === i)
        .select(col("bucket").as(s"b$i"), col("n").as(s"c$i"))),
        Seq(s"b$i"))
    }
    est.select(col("l_suppkey"), col("exact_n"),
        least(col("c0"), col("c1"), col("c2")).as("cms_n"))
      .orderBy("l_suppkey")
  }

  private val qCmsPortableSql = {
    val buckets = Seq(31L, 37L, 41L).zipWithIndex.map { case (m, i) =>
      s"${sqlPolyHash("CAST(l_suppkey AS VARCHAR)", m)} % 64 AS b$i"
    }.mkString(",\n    ")
    s"""WITH base AS (SELECT l_suppkey,
       |    $buckets
       |  FROM lineitem),
       |s0 AS (SELECT b0, count(*) AS c0 FROM base GROUP BY b0),
       |s1 AS (SELECT b1, count(*) AS c1 FROM base GROUP BY b1),
       |s2 AS (SELECT b2, count(*) AS c2 FROM base GROUP BY b2),
       |probes AS (SELECT l_suppkey, b0, b1, b2, count(*) AS exact_n
       |  FROM base WHERE l_suppkey <= 5 GROUP BY 1, 2, 3, 4)
       |SELECT l_suppkey, exact_n, least(c0, c1, c2) AS cms_n
       |FROM probes JOIN s0 USING (b0) JOIN s1 USING (b1)
       |  JOIN s2 USING (b2)
       |ORDER BY l_suppkey""".stripMargin
  }

  /** Portable Bloom-filter join pruning: the custkeys of high-value
    * orders are summarized into a 4096-bit Bloom filter (128 ×
    * 32-bit words, k=3 poly-hashes — 32-bit words so `1 << bit`
    * never touches the BIGINT sign bit in either engine), and every
    * customer probes it before the exact semi-join would run. m is
    * sized to the ~300-key build side at the verification SF so the
    * sketch's false positives are observable; at production scale m
    * grows ∝ n (bits-per-key constant) — the shape is unchanged, a
    * broadcastable (word, bits) table however large n gets. This
    * is the sketch that makes a 100 TB probe-side scan skippable:
    * the build side reduces to ≤2048 (word, bits) rows — broadcast
    * to every executor — and rows failing the membership test never
    * enter the join exchange. No false negatives is structural
    * (n_actual ≤ n_bloom_pass by construction); the emitted
    * false-positive count per segment is the sketch's measured
    * precision. Build is one scan: distinct keys → posexplode of the
    * 3 hash cells → bit_or hash-aggregate (map-side combined,
    * order-independent). */
  def qBloomJoin(s: SparkSession, d: String): DataFrame = {
    val mults = Seq(31L, 37L, 41L)
    val mBits = 4096
    val wBits = 32
    def cells(key: Column): Column = posexplode(array(
      mults.map(mu => pmod(graft.functions.RollingHash.rolling_hash(
        key.cast("string"), mult = mu), lit(mBits))): _*))
    val keys = Tables.orders(s, d)
      .filter(col("o_totalprice") > 490000)
      .select(col("o_custkey")).distinct()
    val bloom = keys
      .select(cells(col("o_custkey")).as(Seq("lvl", "hv")))
      .select(floor(col("hv") / wBits).as("word"),
        pmod(col("hv"), lit(wBits)).as("bit"))
      .groupBy("word")
      .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"))
        .as("bits"))
      .localCheckpoint() // ≤128 rows; built once, broadcast below
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    val passed = cust
      .select(col("c_custkey"), cells(col("c_custkey")).as(Seq("lvl", "hv")))
      .select(col("c_custkey"), floor(col("hv") / wBits).as("word"),
        pmod(col("hv"), lit(wBits)).as("bit"))
      .join(broadcast(bloom), "word")
      .filter(expr(
        "(bits & shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))) != 0"))
      .groupBy("c_custkey").agg(count(lit(1)).as("nhit"))
      .filter(col("nhit") === mults.size)
      .select(col("c_custkey"), lit(true).as("bloom_pass"))
    val actual = keys
      .select(col("o_custkey").as("c_custkey"), lit(true).as("actual"))
    cust.join(passed, Seq("c_custkey"), "left")
      .join(actual, Seq("c_custkey"), "left")
      .groupBy("c_mktsegment")
      .agg(sum(when(col("bloom_pass"), 1L).otherwise(0L))
          .as("n_bloom_pass"),
        sum(when(col("actual"), 1L).otherwise(0L)).as("n_actual"))
      .withColumn("n_false_pos", col("n_bloom_pass") - col("n_actual"))
      .orderBy("c_mktsegment")
  }

  private val qBloomJoinSql = {
    def cellRows(key: String, src: String): String =
      Seq(31L, 37L, 41L).map { m =>
        s"SELECT $key AS k, ${sqlPolyHash(s"CAST($key AS VARCHAR)", m)}" +
        s" % 4096 AS hv FROM $src"
      }.mkString("\n  UNION ALL ")
    s"""WITH keys AS (SELECT DISTINCT o_custkey FROM orders
       |  WHERE o_totalprice > 490000),
       |bcells AS (${cellRows("o_custkey", "keys")}),
       |bloom AS (SELECT hv // 32 AS word,
       |    bit_or(CAST(1 AS BIGINT) << (hv % 32)) AS bits
       |  FROM bcells GROUP BY 1),
       |pcells AS (${cellRows("c_custkey", "customer")}),
       |passed AS (SELECT k AS c_custkey FROM pcells
       |  JOIN bloom ON hv // 32 = word
       |  WHERE (bits & (CAST(1 AS BIGINT) << (hv % 32))) <> 0
       |  GROUP BY k HAVING count(*) = 3),
       |flags AS (SELECT c.c_mktsegment,
       |    CASE WHEN p.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS bp,
       |    CASE WHEN k.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS ac
       |  FROM customer c
       |  LEFT JOIN passed p ON c.c_custkey = p.c_custkey
       |  LEFT JOIN keys k ON c.c_custkey = k.o_custkey)
       |SELECT c_mktsegment, CAST(sum(bp) AS BIGINT) AS n_bloom_pass,
       |  CAST(sum(ac) AS BIGINT) AS n_actual,
       |  CAST(sum(bp) - sum(ac) AS BIGINT) AS n_false_pos
       |FROM flags GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin
  }

  /** Z-order layout skipping report over orders — see
    * [[graft.ext.ZOrder]]. */
  def qZorderSkipping(s: SparkSession, d: String): DataFrame =
    graft.ext.ZOrder.skippingReport(Tables.orders(s, d))

  /** The z-order LAYOUT exercised for real: write orders partitioned
    * by z-bucket, serve the both_selective box via engine partition
    * pruning (data-independent z-range decomposition as the partition
    * filter, box predicate as residual) — layout must never change
    * results, so the oracle is the plain box filter. */
  def qZorderScan(s: SparkSession, d: String): DataFrame =
    graft.ext.ZOrder.zorderScan(s, Tables.orders(s, d))

  /** Incremental materialized-view maintenance — the delta-refresh
    * pattern every 100-TB nightly pipeline runs: a per-customer spend
    * MV is NOT recomputed from scratch; the new day's delta is
    * aggregated ALONE (bounded by the day's ingest, not the corpus)
    * and merged into the stored MV by summing the mergeable state
    * (sum, count). AVG is the classic non-mergeable aggregate — it is
    * carried as (sum, count) and derived only at read time; merging
    * averages directly would be wrong whenever group sizes differ.
    *
    * Here the "stored" MV is derived from the pre-cutoff slice so
    * DuckDB can verify the merged result against a full recompute —
    * the equality `merge(mv(base), mv(delta)) == mv(base ∪ delta)` IS
    * the correctness claim of incremental maintenance.
    *
    * Scale shape: in production the base-MV leg is a scan of the
    * (already aggregated, customer-keyed) MV table and the delta leg
    * scans one date partition — the merge is one hash aggregate on
    * the MV key. Nothing rescans history. The exact decimal sums make
    * the merged state bit-identical to the recompute, so refresh
    * drift is impossible, not just unlikely. */
  def qIncrementalAgg(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cutoff = lit("1997-01-01").cast("timestamp")
    val o = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    // mergeable MV state: (count, exact decimal sum)
    def mv(df: DataFrame): DataFrame = df.groupBy("o_custkey").agg(
      count(lit(1)).as("n_orders"),
      sum(col("o_totalprice").cast(DecimalType(18, 6))).as("_spend"))
    val base = mv(o.filter(col("o_orderdate") < cutoff))
    val delta = mv(o.filter(col("o_orderdate") >= cutoff))
    base.unionByName(delta)
      .groupBy("o_custkey")
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("_spend")).as("_spend"))
      .select(col("o_custkey"), col("n_orders"),
        col("_spend").cast("double").as("total_spend"),
        round(col("_spend").cast("double") / col("n_orders"), 6)
          .as("avg_spend"))
      .orderBy("o_custkey")
  }

  /** `q_incremental_agg` oracle: the full recompute — identical
    * output proves the merge of partial states is exact. */
  private val qIncrementalAggSql =
    s"""SELECT o_custkey, count(*) AS n_orders,
       |  ${sqlSumDec("o_totalprice")} AS total_spend,
       |  round(${sqlSumDec("o_totalprice")} / count(*), 6) AS avg_spend
       |FROM orders GROUP BY 1 ORDER BY o_custkey""".stripMargin

  /** The PRODUCTION MV-refresh path ([[graft.ext.MvRefresh]]):
    * stored-MV parquet scan + ONE partition-pruned month of the
    * date-partitioned fact layout, merged in one MV-keyed hash
    * aggregate — nothing rescans history (where `q_incremental_agg`
    * verifies the merge algebra, this entry EXECUTES the refresh
    * plan; ScanAuditSpec pins the pruned scan). Oracle stays the full
    * recompute over the post-refresh horizon: identical output is
    * the no-drift claim of incremental maintenance. */
  def qIncrementalRefresh(s: SparkSession, d: String): DataFrame =
    graft.ext.MvRefresh.refreshEntry(s, Tables.orders(s, d))

  private val qIncrementalRefreshSql =
    s"""SELECT o_custkey, count(*) AS n_orders,
       |  ${sqlSumDec("o_totalprice")} AS total_spend,
       |  round(${sqlSumDec("o_totalprice")} / count(*), 6) AS avg_spend
       |FROM orders
       |WHERE o_orderdate < TIMESTAMP '${graft.ext.MvRefresh.NewCutoff}'
       |GROUP BY 1 ORDER BY o_custkey""".stripMargin

  /** Snapshot column-profile drift report — the data-quality gate a
    * production pipeline runs before promoting a new snapshot: per
    * column, row count, null rate, exact distinct count, and min/max
    * for the previous snapshot vs the candidate, side by side. A
    * range that silently widens 10× or a null rate that jumps from
    * 0 to 0.2 is caught HERE, before 1000 executors burn a day on
    * poisoned input.
    *
    * Shapes: ONE aggregate pass per snapshot computes every
    * column's stats simultaneously (no per-column rescans), then
    * `stack` pivots the 1-row wide frame to one row per column —
    * driver-free, join on the tiny per-column frame. The exact
    * `count(distinct)` pair in one aggregate plans through Spark's
    * Expand (2× rows of the 3 profiled columns, not the table); at
    * 100 TB swap in `approx_count_distinct` per the comment — the
    * exact form is kept for oracle verifiability. */
  def qProfileDrift(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("1997-06-01").cast("timestamp")
    val o = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
    val profCols = Seq("o_custkey", "o_totalprice")
    def profile(df: DataFrame, tag: String): DataFrame = {
      val aggs = count(lit(1)).as("n") +: profCols.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"),
        // exact for the oracle; approx_count_distinct at 100 TB
        countDistinct(col(c)).as(s"nd_$c"),
        min(col(c)).cast("double").as(s"min_$c"),
        max(col(c)).cast("double").as(s"max_$c")))
      val wide = df.agg(aggs.head, aggs.tail: _*)
      val stackArgs = profCols.map(c =>
        s"'$c', n, nn_$c, nd_$c, min_$c, max_$c").mkString(", ")
      wide.selectExpr(s"stack(${profCols.size}, $stackArgs) AS " +
        s"(col_name, n_$tag, nn_$tag, nd_$tag, min_$tag, max_$tag)")
    }
    profile(o.filter(col("o_orderdate") < cutoff), "old")
      .join(profile(o, "new"), Seq("col_name"))
      .select(col("col_name"), col("n_old"), col("n_new"),
        round(lit(1) - col("nn_old") / col("n_old").cast("double"), 6)
          .as("null_rate_old"),
        round(lit(1) - col("nn_new") / col("n_new").cast("double"), 6)
          .as("null_rate_new"),
        col("nd_old"), col("nd_new"),
        col("min_old"), col("min_new"), col("max_old"), col("max_new"),
        (col("min_new") < col("min_old") ||
          col("max_new") > col("max_old")).as("range_widened"))
      .orderBy("col_name")
  }

  private val qProfileDriftSql = {
    def leg(src: String, tag: String) =
      s"""SELECT col_name, n AS n_$tag, nn AS nn_$tag, nd AS nd_$tag,
         |    vmin AS min_$tag, vmax AS max_$tag FROM (
         |  SELECT 'o_custkey' AS col_name, count(*) AS n,
         |    count(o_custkey) AS nn, count(DISTINCT o_custkey) AS nd,
         |    CAST(min(o_custkey) AS DOUBLE) AS vmin,
         |    CAST(max(o_custkey) AS DOUBLE) AS vmax FROM $src
         |  UNION ALL
         |  SELECT 'o_totalprice', count(*), count(o_totalprice),
         |    count(DISTINCT o_totalprice),
         |    CAST(min(o_totalprice) AS DOUBLE),
         |    CAST(max(o_totalprice) AS DOUBLE) FROM $src)""".stripMargin
    s"""WITH old_src AS (SELECT * FROM orders
       |    WHERE o_orderdate < TIMESTAMP '1997-06-01'),
       |o_prof AS (${leg("old_src", "old")}),
       |n_prof AS (${leg("orders", "new")})
       |SELECT col_name, n_old, n_new,
       |  round(1 - nn_old / CAST(n_old AS DOUBLE), 6) AS null_rate_old,
       |  round(1 - nn_new / CAST(n_new AS DOUBLE), 6) AS null_rate_new,
       |  nd_old, nd_new, min_old, min_new, max_old, max_new,
       |  (min_new < min_old OR max_new > max_old) AS range_widened
       |FROM o_prof JOIN n_prof USING (col_name)
       |ORDER BY col_name""".stripMargin
  }

  /** Skyline (Pareto-dominance) query — "the orders no other order
    * beats on BOTH price and recency": A dominates B iff A.price ≤
    * B.price AND A.date ≥ B.date with one strict. The multi-criteria
    * shortlist operator (Börzsönyi et al., ICDE 2001).
    *
    * Distributed shape — the classic two-stage skyline: dominance is
    * transitive-closed under subsets (a point dominated inside ANY
    * subset is dominated globally), so stage 1 computes a LOCAL
    * skyline per hash bucket (one bucket-keyed exchange, per-bucket
    * sort) and only the few survivors reach stage 2's global pass —
    * the single-partition sort touches ~|skyline per bucket| × 32
    * rows, never the corpus (uniform-ish 2D data keeps skylines
    * O(log n)-sized). Each stage is ONE window: sort by (price ASC,
    * date DESC); a point survives iff its date strictly exceeds the
    * running max date of everything sorted before it — dominance
    * collapses to a cummax comparison. Distinct points first so
    * coincident points (mutually non-dominating) aren't dropped by
    * the strict test; the join back to order keys is AQE-broadcast
    * (skyline-sized build side).
    *
    * The oracle is the QUANTIFIER form (NOT EXISTS a dominator) — a
    * completely independent derivation path, so the window/cummax
    * reduction itself is what the hash check proves. */
  def qSkyline(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    o.join(skylinePoints(o, minimize = "o_totalprice",
        maximize = "o_orderdate"),
        Seq("o_totalprice", "o_orderdate"))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy("o_orderkey")
  }

  /** Operator body of [[qSkyline]]: the distinct Pareto-optimal
    * (minimize, maximize) points of any frame — exposed so the spec
    * can pin the cummax reduction (including coincident-point and
    * tie-on-one-axis cases) against a naive quadratic dominance
    * reference on constructed fixtures. */
  def skylinePoints(df: DataFrame, minimize: String, maximize: String)
      : DataFrame = {
    def pass(pts: DataFrame, part: Seq[Column]): DataFrame = {
      val w = Window.partitionBy(part: _*)
        .orderBy(asc(minimize), desc(maximize))
        .rowsBetween(Window.unboundedPreceding, -1)
      pts.withColumn("_cm", max(col(maximize)).over(w))
        .filter(col("_cm").isNull || col(maximize) > col("_cm"))
        .drop("_cm")
    }
    val pts = df.select(col(minimize), col(maximize)).distinct()
    val local = pass(
      pts.withColumn("_b", pmod(hash(col(minimize), col(maximize)),
        lit(32))), Seq(col("_b"))).drop("_b")
    pass(local, Seq.empty)
  }

  private val qSkylineSql =
    """SELECT o_orderkey, o_totalprice, o_orderdate FROM orders a
      |WHERE NOT EXISTS (SELECT 1 FROM orders b
      |  WHERE b.o_totalprice <= a.o_totalprice
      |    AND b.o_orderdate >= a.o_orderdate
      |    AND (b.o_totalprice < a.o_totalprice
      |      OR b.o_orderdate > a.o_orderdate))
      |ORDER BY o_orderkey""".stripMargin

  /** Small-files compaction planner — the table-maintenance pass
    * every 100-TB lake runs: given a file manifest (here each
    * document stands in as a file with size `n_chars`, grouped by
    * `source` as the physical partition), assign files to output
    * bins so each bin's total lands near the target size. Binning is
    * the STREAMING cumulative-sum rule — bin = floor(running total
    * BEFORE the file / target) within each partition, deterministic
    * by (doc_id) order — not first-fit-decreasing: FFD is inherently
    * sequential per partition anyway, and the cumsum rule needs only
    * ONE source-keyed window pass (no driver loop, no per-bin state),
    * overshooting a bin by at most one file — the same guarantee
    * compactors like lakehouse OPTIMIZE implement.
    *
    * Output: one row per planned output file (source, bin, n_files,
    * total_chars) — the job list a compactor would execute. One
    * exchange on source; the window and the aggregate share it. */
  def qCompactionPlan(s: SparkSession, d: String): DataFrame = {
    val target = 20000L
    val w = Window.partitionBy(col("source")).orderBy(asc("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("sz"))
      .withColumn("bin",
        floor(coalesce(sum(col("sz")).over(w), lit(0L)) / target)
          .cast("long"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("sz")).as("total_chars"))
      .orderBy("source", "bin")
  }

  private val qCompactionPlanSql =
    """WITH f AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS sz
      |  FROM documents),
      |b AS (SELECT source, sz,
      |    CAST(floor(coalesce(sum(sz) OVER (PARTITION BY source
      |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND 1 PRECEDING), 0) / 20000) AS BIGINT) AS bin
      |  FROM f)
      |SELECT source, bin, count(*) AS n_files,
      |  CAST(sum(sz) AS BIGINT) AS total_chars
      |FROM b GROUP BY source, bin ORDER BY source, bin""".stripMargin

  /** Referential-integrity audit — the data-quality gate that pairs
    * with [[qProfileDrift]]: per foreign-key relationship, how many
    * child rows have no parent (orphans). Each leg is ONE left-anti
    * join keyed on the FK (AQE broadcasts the smaller side when it
    * fits, shuffled hash beyond) + a count — no row payload ever
    * moves, only keys. At 100 TB this is the pre-publication check
    * that catches a truncated dim load before consumers join against
    * it. */
  def qFkOrphans(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def leg(name: String, child: DataFrame, key: Column,
        parent: DataFrame, pkey: Column): DataFrame =
      child.join(parent, key === pkey, "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(name).as("relationship"), col("n_orphans"))
    val legs = Seq(
      leg("orders->customer", Tables.orders(s, d).select(
          col("o_custkey")),
        col("o_custkey"),
        Tables.customer(s, d).select(col("c_custkey")),
        col("c_custkey")),
      leg("lineitem->orders", Tables.lineitem(s, d).select(
          col("l_orderkey")),
        col("l_orderkey"),
        Tables.orders(s, d).select(col("o_orderkey")),
        col("o_orderkey")),
      leg("events->customer", Tables.events(s, d).select(
          col("user_id")),
        col("user_id"),
        Tables.customer(s, d).select(col("c_custkey")),
        col("c_custkey")))
    legs.reduce(_ unionByName _).orderBy("relationship")
  }

  private val qFkOrphansSql =
    """SELECT 'orders->customer' AS relationship,
      |  count(*) AS n_orphans FROM orders o
      |  WHERE NOT EXISTS (SELECT 1 FROM customer c
      |    WHERE c.c_custkey = o.o_custkey)
      |UNION ALL
      |SELECT 'lineitem->orders', count(*) FROM lineitem l
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL
      |SELECT 'events->customer', count(*) FROM events e
      |  WHERE NOT EXISTS (SELECT 1 FROM customer c
      |    WHERE c.c_custkey = e.user_id)
      |ORDER BY relationship""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_zorder_skipping" -> (qZorderSkipping _),
    "q_zorder_scan" -> (qZorderScan _),
    "q_json_extract" -> (qJsonExtract _),
    "q_bloom_join" -> (qBloomJoin _),
    // Both percentile catalog entries are the scale-safe histogram
    // formulation; the buffering percentile() form is spec-only
    // ([[percentilesBuffering]]) so no catalog query a user might
    // copy carries the OOM-at-scale aggregate. The dist entry adds
    // p99 so the two are not the same plan run twice.
    "q_percentiles" -> (qPercentilesDist _),
    "q_percentiles_dist" -> (qPercentilesDistExt _),
    "q_approx_distinct" -> (qApproxDistinct _),
    "q_hll_portable" -> (qHllPortable _),
    "q_window_offsets" -> (qWindowOffsets _),
    "q_cube_segment_year" -> (qCube _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_gapfill" -> (qGapfill _),
    "q_interval_coverage" -> (qIntervalCoverage _),
    "q_cms_portable" -> (qCmsPortable _),
    "q_pivot_priority" -> (qPivotPriority _),
    "q_salted_agg" -> (qSaltedAgg _),
    "q_salted_join" -> (qSaltedJoin _),
    "q_moving_window" -> (qMovingWindow _),
    "q_funnel" -> (qFunnel _),
    "q_retention_cohorts" -> (qRetentionCohorts _),
    "q_sessionize" -> (qSessionize _),
    "g_pagerank" -> (gPagerank _),
    "q_levenshtein" -> (qLevenshtein _),
    "q_setops" -> (qSetOps _),
    "q_corr_stats" -> (qCorrStats _),
    "q_incremental_agg" -> (qIncrementalAgg _),
    "q_incremental_refresh" -> (qIncrementalRefresh _),
    "q_profile_drift" -> (qProfileDrift _),
    "q_skyline" -> (qSkyline _),
    "g_bfs" -> (gBfs _),
    "q_compaction_plan" -> (qCompactionPlan _),
    "q_fk_orphans" -> (qFkOrphans _),
    "q_hll_merge" -> (qHllMerge _),
  )

  val oracle: Map[String, String] = Map(
    "q_zorder_skipping" -> graft.ext.ZOrder.skippingReportSql,
    "q_zorder_scan" -> graft.ext.ZOrder.zorderScanSql,
    "q_json_extract" -> qJsonExtractSql,
    "q_bloom_join" -> qBloomJoinSql,
    "q_hll_portable" -> qHllPortableSql,
    "q_percentiles" -> qPercentilesSql,
    "q_percentiles_dist" -> qPercentilesExtSql,
    "q_window_offsets" -> qWindowOffsetsSql,
    "q_cube_segment_year" -> qCubeSql,
    "q_grouping_sets" -> qGroupingSetsSql,
    "q_gapfill" -> qGapfillSql,
    "q_interval_coverage" -> qIntervalCoverageSql,
    "q_cms_portable" -> qCmsPortableSql,
    "q_pivot_priority" -> qPivotPrioritySql,
    "q_salted_agg" -> qSaltedAggSql,
    "q_salted_join" -> qSaltedJoinSql,
    "q_moving_window" -> qMovingWindowSql,
    "q_funnel" -> qFunnelSql,
    "q_retention_cohorts" -> qRetentionCohortsSql,
    "q_sessionize" -> qSessionizeSql,
    "g_pagerank" -> gPagerankSql,
    "q_levenshtein" -> qLevenshteinSql,
    "q_setops" -> qSetOpsSql,
    "q_corr_stats" -> qCorrStatsSql,
    "q_incremental_agg" -> qIncrementalAggSql,
    "q_incremental_refresh" -> qIncrementalRefreshSql,
    "q_profile_drift" -> qProfileDriftSql,
    "q_skyline" -> qSkylineSql,
    "g_bfs" -> gBfsSql,
    "q_compaction_plan" -> qCompactionPlanSql,
    "q_fk_orphans" -> qFkOrphansSql,
    "q_hll_merge" -> qHllMergeSql,
  )
}
