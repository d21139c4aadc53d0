package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

/** Scan-level plan audit: column pruning and filter pushdown must
  * reach the parquet scans — the discipline that decides whether a
  * 100-TB table read ships 2 columns or 16.
  *
  * Complements [[PlanAuditSpec]] (join-strategy hints): these
  * assertions pin the OTHER two scan-side scale guarantees —
  * `ReadSchema` (a scan may read only the columns the query needs;
  * Catalyst's column pruning pushes the projection into the parquet
  * footer read) and `PushedFilters` (row-group skipping via min/max
  * statistics needs the predicate INSIDE the scan, not in a Filter
  * above it). Expectations are exact per query, so a refactor that
  * silently widens a scan (e.g. a `select("*")` upstream of the agg,
  * or a filter rewritten into a non-pushable expression) fails here
  * rather than costing 8× the bytes at scale.
  */
class ScanAuditSpec extends SparkSpec {

  /** (table, read columns, pushed-filter string) for every parquet
    * scan in `plans`. Descends into `InMemoryTableScanExec` — a
    * `persist()`ed subtree hides its file scan behind the cache node,
    * and the audit must still see what the cache itself reads from
    * parquet. */
  private def scans(plans: Seq[SparkPlan])
      : Seq[(String, Set[String], String)] = {
    def gather(p: SparkPlan): Seq[(String, Set[String], String)] = p.collect {
      case f: FileSourceScanExec =>
        val table = f.relation.location.rootPaths.headOption
          .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
        Seq((table, f.requiredSchema.fieldNames.toSet,
          f.metadata.getOrElse("PushedFilters", "")))
      case im: org.apache.spark.sql.execution.columnar
          .InMemoryTableScanExec =>
        gather(im.relation.cachedPlan)
      // a cached plan is itself adaptive: the file scan hides inside
      // AQE stage nodes whose plans are fields, not children. The
      // input plan keeps the scans of a branch that AQE dropped once
      // it ran empty (an empty cached relation folds its join away)
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec =>
        gather(a.inputPlan) ++ gather(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        gather(qs.plan)
    }.flatten
    plans.flatMap(gather)
  }

  /** The widest scan of `table` in the returned frame's physical plan
    * (pre-AQE: pruning and pushdown are planning-time properties, AQE
    * only re-plans exchanges). */
  private def scanOf(df: DataFrame, table: String): (Set[String], String) =
    scanOf(Seq(df.queryExecution.sparkPlan), table)

  /** The widest scan of `table` among the plans that `body` executed
    * ([[executedPlans]]): the audit of an operator that persists or
    * checkpoints, whose returned frame hides its scans. */
  private def scanRun(table: String)(body: => Any): (Set[String], String) =
    scanOf(executedPlans(body)._2, table)

  private def scanOf(plans: Seq[SparkPlan], table: String)
      : (Set[String], String) = {
    val hits = scans(plans).filter(_._1 == table)
    assert(hits.nonEmpty, s"no parquet scan of $table in the plan")
    // a table may be scanned more than once (self-join shapes); the
    // audit bounds the WIDEST read
    (hits.map(_._2).maxBy(_.size), hits.map(_._3).mkString(" | "))
  }

  test("q1: the lineitem scan reads only the 7 aggregation columns " +
      "and pushes the shipdate cutoff") {
    val (cols, pushed) = scanOf(
      queries.Analytics.q1PricingSummary(spark, sf0001), "lineitem")
    assert(cols == Set("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_shipdate"),
      s"scan widened to $cols")
    assert(pushed.contains("l_shipdate"), s"shipdate not pushed: $pushed")
  }

  test("q6: scan = exactly the 4 predicate/aggregate columns, all " +
      "three range predicates pushed") {
    val (cols, pushed) = scanOf(
      queries.Analytics.q6ForecastRevenue(spark, sf0001), "lineitem")
    assert(cols == Set("l_shipdate", "l_discount", "l_quantity",
      "l_extendedprice"), s"scan widened to $cols")
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(pushed.contains(c), s"$c not pushed: $pushed")
  }

  test("q3: each side of the 3-way join scans only its join/agg/" +
      "filter columns; segment and date predicates push") {
    val df = queries.Analytics.q3ShippingPriority(spark, sf0001)
    val (li, liPushed) = scanOf(df, "lineitem")
    assert(li == Set("l_orderkey", "l_extendedprice", "l_discount",
      "l_shipdate"), s"lineitem scan widened to $li")
    assert(liPushed.contains("l_shipdate"))
    val (ord, ordPushed) = scanOf(df, "orders")
    assert(ord == Set("o_orderkey", "o_custkey", "o_orderdate",
      "o_orderpriority"), s"orders scan widened to $ord")
    assert(ordPushed.contains("o_orderdate"))
    val (cust, custPushed) = scanOf(df, "customer")
    assert(cust == Set("c_custkey", "c_mktsegment"),
      s"customer scan widened to $cust")
    assert(custPushed.contains("c_mktsegment"))
  }

  test("exact dedup: the documents scan ships only (doc_id, text) — " +
      "lang/source/n_chars never leave the footer") {
    val (cols, _) = scanOf(
      queries.TrainingData.dDedupExact(spark, sf0001), "documents")
    assert(cols == Set("doc_id", "text"), s"scan widened to $cols")
  }

  test("brute-force ANN: the embeddings scan ships only " +
      "(vec_id, embedding) — label is pruned") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf0001)
    val df = ext.Similarity.ivfSearch(ext.IvfSpec(ext.Coarse.Exhaustive),
      emb, emb.filter(col("vec_id") % 40 === 0).select("vec_id"), 5)
    val (cols, _) = scanOf(df, "embeddings")
    assert(cols == Set("vec_id", "embedding"), s"scan widened to $cols")
  }

  test("q_sessionize: the events scan ships only (user_id, ts, " +
      "event_id) — event_type/value/props are pruned") {
    val (cols, _) = scanOf(
      queries.AnalyticsExt.qSessionize(spark, sf0001), "events")
    assert(cols == Set("user_id", "ts", "event_id"),
      s"scan widened to $cols")
  }

  test("s_hybrid_rrf: both legs' scans stay minimal — documents " +
      "(doc_id, text), embeddings (vec_id, embedding)") {
    val df = queries.TrainingData.queries("s_hybrid_rrf")(spark, sf0001)
    val (docCols, _) = scanOf(df, "documents")
    assert(docCols == Set("doc_id", "text"),
      s"documents scan widened to $docCols")
    val (embCols, _) = scanOf(df, "embeddings")
    assert(embCols == Set("vec_id", "embedding"),
      s"embeddings scan widened to $embCols")
  }

  test("d_collocations: the documents scan ships ONLY text — at " +
      "100 TB the bigram pass is a single-column read") {
    // the top-50 is numbered on the driver: the scan is in the plan
    // that ran, not in the returned local frame
    val (cols, _) = scanRun("documents")(
      queries.TrainingData.dCollocations(spark, sf0001))
    assert(cols == Set("text"), s"scan widened to $cols")
  }

  test("q_salted_join: fact scan reads only (user_id, value, " +
      "event_id); dim scan only (c_custkey, c_acctbal)") {
    val df = queries.AnalyticsExt.qSaltedJoin(spark, sf0001)
    val (ev, _) = scanOf(df, "events")
    assert(ev == Set("user_id", "value", "event_id"),
      s"events scan widened to $ev")
    val (cust, _) = scanOf(df, "customer")
    assert(cust == Set("c_custkey", "c_acctbal"),
      s"customer scan widened to $cust")
  }

  test("m_phash_dups: the documents scan ships only (doc_id, text)") {
    // the result is checkpointed (severing lineage so the fingerprint
    // persist can release): audit the plans that ran
    val (cols, _) = scanRun("documents")(ext.Multimodal.phashDupPairs(
      Tables.documents(spark, sf0001), maxHamming = 6))
    assert(cols == Set("doc_id", "text"), s"scan widened to $cols")
  }

  test("round-10 additions: every new query's scans stay minimal") {
    // d_phrase_search: the postings pass reads only (doc_id, text) —
    // audited through the plans that ran (the operator caches the
    // filtered postings and checkpoints its 5-row result)
    import spark.implicits._
    val phFixture = Seq((1L, "alpha", "beta")).toDF("pid", "w1", "w2")
    val (phCols, _) = scanRun("documents")(ext.Retrieval.phraseSearch(
      Tables.documents(spark, sf0001), phFixture))
    assert(phCols == Set("doc_id", "text"), s"widened to $phCols")
    // q_skyline: orders scan = key + the two criteria columns
    val sk = queries.AnalyticsExt.qSkyline(spark, sf0001)
    val (skCols, _) = scanOf(sk, "orders")
    assert(skCols == Set("o_orderkey", "o_totalprice", "o_orderdate"),
      s"widened to $skCols")
    // q_incremental_agg: orders scan = key + date + measure
    val ia = queries.AnalyticsExt.qIncrementalAgg(spark, sf0001)
    val (iaCols, _) = scanOf(ia, "orders")
    assert(iaCols == Set("o_custkey", "o_orderdate", "o_totalprice"),
      s"widened to $iaCols")
    // st_upsert_state: events scan ships exactly the 5 output
    // columns — props is pruned
    val up = queries.Streaming.stUpsertState(spark, sf0001)
    val (upCols, _) = scanOf(up, "events")
    assert(upCols == Set("user_id", "ts", "event_id", "event_type",
      "value"), s"widened to $upCols")
    // s_ann_filtered: label rides for partition probing; everything
    // else pruned
    val fa = queries.TrainingData.queries("s_ann_filtered")(spark, sf0001)
    val (faCols, _) = scanOf(fa, "embeddings")
    assert(faCols == Set("vec_id", "embedding", "label"),
      s"widened to $faCols")
  }

  test("s_kcenter / s_ann_mips: the embeddings scans ship only " +
      "(vec_id, embedding) — label is pruned everywhere") {
    // checkpointed, as m_phash_dups above: audit the plans that ran
    val (kcCols, _) = scanRun("embeddings")(ext.Similarity.kcenterSelect(
      Tables.embeddings(spark, sf0001), 8))
    assert(kcCols == Set("vec_id", "embedding"),
      s"s_kcenter scan widened to $kcCols")
    val mips = queries.TrainingData.sAnnMips(spark, sf0001)
    val (mCols, _) = scanOf(mips, "embeddings")
    assert(mCols == Set("vec_id", "embedding"),
      s"s_ann_mips scan widened to $mCols")
  }

  test("q_incremental_refresh: the executed refresh scans the stored " +
      "MV plus exactly one pruned month partition — never history") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.functions._
    val mvDir = java.nio.file.Files
      .createTempDirectory("mv_spec").toString
    val factDir = java.nio.file.Files
      .createTempDirectory("mvfact_spec").toString
    try {
      val orders = Tables.orders(spark, sf0001)
      ext.MvRefresh.buildStore(orders, mvDir, factDir)
      def parquetFiles(dir: String): Int = {
        def walk(f: java.io.File): Seq[java.io.File] = {
          val cs = Option(f.listFiles()).toSeq.flatten
          cs.filter(_.isFile) ++ cs.filter(_.isDirectory).flatMap(walk)
        }
        walk(new java.io.File(dir))
          .count(_.getName.endsWith(".parquet"))
      }
      val factFiles = parquetFiles(factDir)
      assert(factFiles > 12,
        s"fact layout too small to prove pruning: $factFiles")
      val refreshed = ext.MvRefresh.refresh(spark, mvDir, factDir)
        .orderBy("o_custkey")
      val got = refreshed.collect().toSeq
      // refresh result == full recompute over the post-refresh horizon
      val want = orders
        .filter(col("o_orderdate") <
          lit(ext.MvRefresh.NewCutoff).cast("timestamp"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .as("_spend"))
        .select(col("o_custkey"), col("n_orders"),
          col("_spend").cast("double").as("total_spend"),
          round(col("_spend").cast("double") / col("n_orders"), 6)
            .as("avg_spend"))
        .orderBy("o_custkey")
        .collect().toSeq
      assert(got == want, s"refresh drift: ${got.take(3)} vs" +
        s" ${want.take(3)} (${got.size}/${want.size} rows)")
      // the executed fact scan touched one month directory, not the
      // whole history (numFiles strictly below the layout total and
      // bounded by the files of a single partition directory)
      def allScans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
        case q: QueryStageExec => allScans(q.plan)
        case f: FileSourceScanExec => Seq(f)
        case o => o.children.flatMap(allScans)
      }
      val execScans = allScans(refreshed.queryExecution.executedPlan)
      val factScan = execScans.filter(
        _.relation.location.rootPaths.exists(
          _.toString.contains("mvfact")))
      assert(factScan.nonEmpty, "no fact scan in the refresh plan")
      val factRead = factScan.map(_.metrics("numFiles").value).max
      val oneMonth = parquetFiles(
        factDir + "/o_month=" + ext.MvRefresh.DeltaMonth)
      assert(factRead > 0 && factRead <= oneMonth &&
        factRead < factFiles,
        s"expected one pruned month: read $factRead files" +
          s" (month dir holds $oneMonth, layout $factFiles)")
      assert(factScan.exists(
        _.toString.contains("PartitionFilters: [")))
      // column pruning: the fact scan must not ship o_orderdate (the
      // month key replaced it) and the MV scan ships only its state
      val factCols = factScan.map(_.requiredSchema.fieldNames.toSet)
        .maxBy(_.size)
      assert(factCols == Set("o_custkey", "o_totalprice"),
        s"fact scan widened to $factCols")
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(mvDir))
      rm(new java.io.File(factDir))
    }
  }
}
