package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Set-based MERGE emulation — the core semantic translation of the
  * reference's per-row upsert loops (SURVEY.md §2.5 J4-J6, cf.
  * `pipelines/staffing-roster-pipeline.py:269-284`,
  * `pipelines/projects-pipeline.py:271-335`).
  *
  * One full-outer shuffle join on the business key replaces N+1
  * per-row SELECT/INSERT/UPDATE round-trips. At cluster scale this is
  * a single hash-partitioned exchange of each side (or a broadcast if
  * the staged batch is small — the common case for incremental loads);
  * change detection (J6's no-op skip) marks unchanged rows so sinks
  * can skip rewriting them.
  */
object Merge {

  val ActionCol = "_action"

  /** Full-outer merge of `staged` into `current` on `keys`.
    *
    * Output: key columns (coalesced), every column of
    * `current.columns ∪ staged.columns` (staged value wins wherever
    * the staged row exists — including staged NULLs, matching the
    * reference's UPDATE-to-NULL behavior), plus `_action` ∈
    * {insert, update, noop, keep}:
    *   - insert: key only in staged
    *   - keep:   key only in current
    *   - noop:   both, and all `compareCols` null-safe-equal (J6's
    *             change detection, `projects-pipeline.py:257-260`)
    *   - update: both, something changed
    */
  def merge(staged: DataFrame, current: DataFrame, keys: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    val st = staged.alias("st")
    val cu = current.alias("cu")
    val cond = keys.map(k => col(s"st.$k") === col(s"cu.$k"))
      .reduce(_ && _)
    val joined = st.join(cu, cond, "full_outer")

    val stExists = col(s"st.${keys.head}").isNotNull
    val cuExists = col(s"cu.${keys.head}").isNotNull
    val unchanged = compareCols
      .map(c => col(s"st.$c") <=> col(s"cu.$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val action = when(!cuExists, lit("insert"))
      .when(!stExists, lit("keep"))
      .when(unchanged, lit("noop"))
      .otherwise(lit("update"))

    val stCols = staged.columns.toSet
    val cuCols = current.columns.toSet
    val outCols: Seq[Column] =
      keys.map(k => coalesce(col(s"st.$k"), col(s"cu.$k")).as(k)) ++
      (staged.columns.filterNot(keys.contains).map { c =>
        if (cuCols.contains(c))
          when(stExists, col(s"st.$c")).otherwise(col(s"cu.$c")).as(c)
        else col(s"st.$c").as(c)
      }) ++
      (current.columns.filterNot(c => keys.contains(c) || stCols.contains(c))
        .map(c => col(s"cu.$c").as(c)))
    joined.select(outCols :+ action.as(ActionCol): _*)
  }

  /** CDC apply: advance a snapshot by a change feed of
    * (op ∈ {I, U, D}, key, payload) rows — the lakehouse pattern for
    * consuming a database change stream (Debezium-style) into an
    * analytical table. Where [[merge]] diffs two full states, this
    * applies an EVENT LOG: per key only the latest change (by
    * `seqCol`, ties broken by the op's own ordering D < I < U so a
    * same-sequence delete loses to a concurrent upsert
    * deterministically) is applied — insert/update upserts the
    * payload, delete removes the key.
    *
    * Scale shape: the feed reduces FIRST (per-key max-struct partial
    * aggregate — latest change per key, no window over the feed), so
    * the join against the snapshot is one hash join keyed on the
    * business key with the reduced feed, which is bounded by the
    * number of DISTINCT keys touched, not the feed length. */
  def cdcApply(snapshot: DataFrame, feed: DataFrame, keys: Seq[String],
      seqCol: String, opCol: String = "op"): DataFrame = {
    val (latest, payload) = latestChange(feed, keys, seqCol, opCol)
    val sn = snapshot.alias("sn")
    val ch = latest.alias("ch")
    val cond = keys.map(k => col(s"sn.$k") === col(s"ch.$k"))
      .reduce(_ && _)
    val chExists = col(s"ch.${keys.head}").isNotNull
    val joined = sn.join(ch, cond, "full_outer")
    joined
      // a surviving row is: untouched snapshot, or a non-delete change
      .filter(!chExists || col(s"ch.$opCol") =!= "D")
      .select(keys.map(k =>
        coalesce(col(s"ch.$k"), col(s"sn.$k")).as(k)) ++
        payload.map(c =>
          when(chExists, col(s"ch.$c")).otherwise(col(s"sn.$c"))
            .as(c)): _*)
  }

  /** Latest change per key: ONE partial-combined max-struct aggregate
    * over the feed (no window — the reduction is map-side combinable
    * and bounded by distinct touched keys). Ordering is the struct's
    * lexicographic field order: `seqCol` first, then the op (so the
    * documented D < I < U rule breaks sequence ties), then —
    * DOCUMENTED tertiary tie-break — the payload columns in feed
    * order, nulls lowest. Two changes identical in (key, seq, op) but
    * differing in payload therefore resolve to the payload-wise
    * largest, deterministically; the paired oracles mirror this with
    * `ORDER BY seq DESC, op DESC, <payload...> DESC` (DESC puts nulls
    * last in both engines = nulls lose, matching struct max). A feed
    * that guarantees (key, seq, op) uniqueness never reaches the
    * tertiary rule. */
  private def latestChange(feed: DataFrame, keys: Seq[String],
      seqCol: String, opCol: String): (DataFrame, Seq[String]) = {
    val payload = feed.columns.toSeq
      .filterNot(c => keys.contains(c) || c == seqCol || c == opCol)
    val latest = feed
      .groupBy(keys.map(col): _*)
      .agg(max(struct(
        (col(seqCol) +: col(opCol) +: payload.map(col)): _*))
        .as("_last"))
      .select(keys.map(col) ++
        Seq(col(s"_last.$opCol").as(opCol)) ++
        payload.map(c => col(s"_last.$c").as(c)): _*)
    (latest, payload)
  }

  /** CDC feed applied as SCD2 HISTORY — the production lakehouse
    * dimension pattern composing [[cdcApply]]'s latest-change
    * reduction with [[scd2Merge]]'s one-join two-row emit: per key
    * the latest change (same seq → D < I < U → payload ordering as
    * [[cdcApply]]) is applied to the OPEN version set —
    *   - I/U with no open version, or with a changed payload: closes
    *     the open version (valid_to := batchTs) and appends a fresh
    *     open one;
    *   - I/U payload-identical to the open version: no-op (the open
    *     row passes through untouched);
    *   - D: closes the open version WITHOUT a successor (the key's
    *     history ends at batchTs); D on an absent key is a no-op.
    * Closed history always passes through untouched — append-mostly,
    * no rewrite of cold partitions.
    *
    * Scale shape: the feed reduces first (bounded by touched keys),
    * then ONE full-outer hash join against the open subset; each
    * joined row emits ≤2 version rows via array+explode. History
    * data columns must be keys ∪ feed payload. */
  def cdcScd2(history: DataFrame, feed: DataFrame, keys: Seq[String],
      seqCol: String, batchTs: Column, opCol: String = "op")
      : DataFrame = {
    val (latest, payload) = latestChange(feed, keys, seqCol, opCol)
    val closed = history.filter(!col("is_current"))
    val open = history.filter(col("is_current"))
    val dataCols = open.columns.toSeq
      .filterNot(Seq("valid_from", "valid_to", "is_current").contains)
    require(dataCols.forall(c => keys.contains(c) || payload.contains(c)),
      s"cdcScd2: history columns ${dataCols.mkString(",")} must all " +
        s"come from the feed's keys/payload")
    val cu = open.alias("cu")
    val ch = latest.alias("ch")
    val cond = keys.map(k => col(s"ch.$k") === col(s"cu.$k"))
      .reduce(_ && _)
    val chExists = col(s"ch.${keys.head}").isNotNull
    val cuExists = col(s"cu.${keys.head}").isNotNull
    val isDelete = chExists && col(s"ch.$opCol") === "D"
    val unchanged = payload.filter(dataCols.contains)
      .map(c => col(s"ch.$c") <=> col(s"cu.$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val isFresh = chExists && !isDelete && (!cuExists || !unchanged)
    val closesOld = cuExists && (isFresh || isDelete)
    def version(side: String, from: Column, to: Column,
        cur: Column): Column =
      struct(dataCols.map(c => col(s"$side.$c").as(c)) ++
        Seq(from.as("valid_from"), to.as("valid_to"),
          cur.as("is_current")): _*)
    val oldRow = when(cuExists, version("cu", col("cu.valid_from"),
      when(closesOld, batchTs).otherwise(col("cu.valid_to")),
      !closesOld))
    val newRow = when(isFresh, version("ch", batchTs,
      lit(null).cast("timestamp"), lit(true)))
    closed.unionByName(ch.join(cu, cond, "full_outer")
      .select(explode(filter(array(oldRow, newRow),
        r => r.isNotNull)).as("_v"))
      .select(col("_v.*")))
  }

  /** SCD-Type-2 (history-keeping) merge: where [[merge]] overwrites,
    * this versions. `current` rows carry
    * (valid_from, valid_to, is_current); a changed staged row closes
    * the open version (valid_to := batchTs) and appends a new open
    * one; unchanged/absent keys pass through. The reference's
    * UPDATE-in-place J4 becomes an append-mostly pattern, which is
    * what an immutable lakehouse store wants at scale (no rewrite of
    * untouched history partitions).
    *
    * `batchTs` is an explicit literal so runs are reproducible. */
  def scd2Merge(staged: DataFrame, current: DataFrame, keys: Seq[String],
      compareCols: Seq[String], batchTs: Column): DataFrame = {
    val closed = current.filter(!col("is_current"))
    val open = current.filter(col("is_current"))
    // Single pass: ONE full-outer join; each joined row emits up to two
    // version rows (the possibly-superseded old one, the fresh one)
    // through an array+explode generator — no semi/anti re-joins, no
    // recomputation of the join subtree, one shuffle total.
    val st = staged.alias("st")
    val cu = open.alias("cu")
    val cond = keys.map(k => col(s"st.$k") === col(s"cu.$k"))
      .reduce(_ && _)
    val stExists = col(s"st.${keys.head}").isNotNull
    val cuExists = col(s"cu.${keys.head}").isNotNull
    val unchanged = compareCols
      .map(c => col(s"st.$c") <=> col(s"cu.$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val isUpdate = stExists && cuExists && !unchanged
    val isFresh = stExists && (!cuExists || !unchanged)

    val dataCols = open.columns.toSeq
      .filterNot(Seq("valid_from", "valid_to", "is_current").contains)
    def version(side: String, from: Column, to: Column,
        cur: Column): Column =
      struct(dataCols.map(c => col(s"$side.$c").as(c)) ++
        Seq(from.as("valid_from"), to.as("valid_to"),
          cur.as("is_current")): _*)

    val oldRow = when(cuExists, version("cu", col("cu.valid_from"),
      when(isUpdate, batchTs).otherwise(col("cu.valid_to")),
      !isUpdate))
    val newRow = when(isFresh, version("st", batchTs,
      lit(null).cast("timestamp"), lit(true)))

    val emitted = st.join(cu, cond, "full_outer")
      .select(explode(filter(array(oldRow, newRow),
        r => r.isNotNull)).as("_v"))
      .select(col("_v.*"))
    closed.unionByName(emitted)
  }

  /** Narrowing cast for a generated id, guarded against silent wrap:
    * `next` is computed in long; casting to an existing narrow id
    * column (int near Int.MaxValue, say) would otherwise wrap to
    * duplicate/negative ids. Overflow raises instead. */
  private def castIdGuarded(next: Column,
      idType: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    val bound = idType match {
      case IntegerType => Some(Int.MaxValue.toLong)
      case ShortType   => Some(Short.MaxValue.toLong)
      case ByteType    => Some(Byte.MaxValue.toLong)
      case _           => None
    }
    bound match {
      case Some(mx) =>
        when(next <= mx, next.cast(idType))
          .otherwise(raise_error(concat(
            lit(s"assignIds: generated id overflows $idType: "),
            next.cast("string"))).cast(idType))
      case None => next.cast(idType)
    }
  }

  /** Deterministic serial-id assignment for merge inserts, replacing
    * the reference's `INSERT ... RETURNING id` (SURVEY.md §7.4): new
    * rows get `max(existing id) + row_number()` ordered by the
    * business key. The max comes in via a broadcast cross join (no
    * driver collect). Only the *insert subset* is row-numbered —
    * keep/update/noop rows never enter the sort — so the documented
    * single-partition window cost is bounded by the incremental
    * batch's new keys, not the table. */
  def assignIds(merged: DataFrame, idCol: String, orderKey: String)
      : DataFrame = assignIds(merged, idCol, orderKey, merged)

  /** Variant taking the id source explicitly: pass the *current* table
    * so the max-id aggregate scans it directly instead of re-deriving
    * the whole merge join a second time (visible as a duplicated
    * FullOuter join subtree in the physical plan otherwise). */
  def assignIds(merged: DataFrame, idCol: String, orderKey: String,
      idSource: DataFrame): DataFrame = {
    val idType = merged.schema(idCol).dataType
    val maxId = idSource.agg(
      coalesce(max(col(idCol)), lit(0L)).cast("long").as("_max_id"))
    // Non-inserts pass through untouched — no window, no exchange on
    // their side (the join's shuffles below the two filters are
    // identical subtrees, so Spark reuses the exchange).
    val others = merged.filter(col(ActionCol) =!= "insert")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(orderKey))
    val numbered = merged.filter(col(ActionCol) === "insert")
      .crossJoin(broadcast(maxId))
      .withColumn(idCol,
        castIdGuarded(col("_max_id") + row_number().over(w), idType))
      .drop("_max_id")
    others.unionByName(numbered)
  }
}
