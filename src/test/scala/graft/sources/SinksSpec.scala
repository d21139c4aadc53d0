package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** Sink-side coverage (SURVEY.md §2.1 S3/S4): partitioned parquet
  * layout, partition pruning on read-back, and atomic overwrite — the
  * lakehouse stand-ins for the reference's JDBC target (no database in
  * this container; `Merge` provides the MERGE semantics).
  */
class SinksSpec extends SparkSpec {

  test("hive-partitioned write prunes partitions on read-back") {
    val dir = Files.createTempDirectory("orders_part").toString
    Tables.orders(spark, sf0001)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.partitionBy("o_year").mode("overwrite").parquet(dir)

    // layout: one dir per year
    val years = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("o_year=")).map(_.getName).sorted
    assert(years.nonEmpty && years.forall(_.matches("o_year=\\d{4}")))

    val pruned = spark.read.parquet(dir).filter(col("o_year") === 1996)
    val plan = pruned.queryExecution.executedPlan.toString
    // pruning happens at planning: non-matching partition dirs are
    // never listed as input files
    val files = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("o_year=1996")))
    assert(pruned.count() ==
      Tables.orders(spark, sf0001)
        .filter(year(col("o_orderdate")) === 1996).count())
  }

  test("jdbc upsert generates staging merge script and prunes " +
      "noop/keep rows") {
    import graft.ops.Merge
    import JdbcUpsertSink.JdbcTarget
    import spark.implicits._
    val cur = Seq(("a@x", "Alice", "old"), ("b@x", "Bob", "same"))
      .toDF("email", "name", "note")
    val st = Seq(("a@x", "Alice", "new"), ("b@x", "Bob", "same"),
      ("c@x", "Cara", "fresh")).toDF("email", "name", "note")
    val merged = Merge.merge(st, cur, Seq("email"), Seq("name", "note"))

    var captured: Seq[String] = Nil
    val t = JdbcTarget("jdbc:postgresql://db/ibc", "users", "u", "p")
    val script = JdbcUpsertSink.upsert(merged, t, Seq("email"), batchId = 7,
      runScript = Some(s => captured = s))

    assert(captured == script && script.size == 2)
    assert(script.head ==
      """INSERT INTO "users" ("email", "name", "note") """ +
      """SELECT "email", "name", "note" FROM "users_staging_7" """ +
      """ON CONFLICT ("email") DO UPDATE SET """ +
      """"name" = EXCLUDED."name", "note" = EXCLUDED."note"""")
    assert(script(1) == """DROP TABLE IF EXISTS "users_staging_7"""")

    // ANSI dialect renders a MERGE INTO with the same column set
    val ansi = JdbcUpsertSink.ansiMergeSql("users", "stg",
      Seq("email", "name"), Seq("email"))
    assert(ansi ==
      """MERGE INTO "users" t USING "stg" s ON t."email" = s."email" """ +
      """WHEN MATCHED THEN UPDATE SET "name" = s."name" """ +
      """WHEN NOT MATCHED THEN INSERT ("email", "name") """ +
      """VALUES (s."email", s."name")""")

    // the payload the writer would ship excludes noop rows (b@x) and
    // the action column — verified via the same pruning expression
    val payload = merged
      .filter(col(Merge.ActionCol).isin("insert", "update"))
      .drop(Merge.ActionCol)
    assert(payload.select("email").as[String].collect().sorted
      .toSeq == Seq("a@x", "c@x"))
  }

  test("identifier quoting: tables split schema on dots, columns never") {
    // schema-qualified table → per-part quoting
    assert(JdbcUpsertSink.dropStagingSql("public.users_staging_1") ==
      """DROP TABLE IF EXISTS "public"."users_staging_1"""")
    // a column literally named "a.b" is ONE identifier in the
    // generated SQL, not a schema qualification
    val sql = JdbcUpsertSink.onConflictSql("public.users", "stg",
      Seq("id", "a.b"), Seq("id"))
    assert(sql.contains("\"a.b\" = EXCLUDED.\"a.b\""))
    assert(!sql.contains("\"a\".\"b\""))
    assert(sql.startsWith("""INSERT INTO "public"."users" """))
  }

  test("streaming foreachBatch upsert generates per-batch idempotent " +
      "staging names") {
    import JdbcUpsertSink.JdbcTarget
    import spark.implicits._
    val scripts = scala.collection.mutable.ArrayBuffer[Seq[String]]()
    val t = JdbcTarget("jdbc:postgresql://db/ibc", "events_agg", "u", "p")
    val sink = JdbcUpsertSink.foreachBatchUpsert(t, Seq("k"),
      runScript = Some(s => scripts.synchronized { scripts += s }))

    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)](spark)
    val q = mem.toDF().toDF("k", "v").writeStream
      .outputMode("update").foreachBatch(sink).start()
    try {
      mem.addData(("a", 1L)); q.processAllAvailable()
      mem.addData(("a", 2L), ("b", 1L)); q.processAllAvailable()
    } finally q.stop()

    assert(scripts.size == 2)
    // each epoch gets its own staging table (replay overwrites the
    // same one → idempotent), merged with the same ON CONFLICT shape
    assert(scripts(0).head.contains("\"events_agg_staging_0\""))
    assert(scripts(1).head.contains("\"events_agg_staging_1\""))
    scripts.foreach { s =>
      assert(s.head.startsWith("INSERT INTO \"events_agg\""))
      assert(s.head.contains("ON CONFLICT (\"k\") DO UPDATE"))
      assert(s(1).startsWith("DROP TABLE IF EXISTS"))
    }
  }

  test("LIVE jdbc round-trip against embedded Derby: staging write, " +
      "server-side ANSI MERGE, staging drop, idempotent re-run") {
    // Apache Derby ships in /opt/spark/jars (pure JVM, in-memory) —
    // the one JDBC endpoint this sandbox can actually run. Exercises
    // the full live path that was previously generation-only: Spark's
    // JDBC writer creates + loads the staging table, execute() runs
    // MERGE + DROP in one transaction, and a re-run converges.
    import JdbcUpsertSink.JdbcTarget
    import spark.implicits._
    import java.sql.DriverManager
    val url = "jdbc:derby:memory:graftsink;create=true"
    val seed = DriverManager.getConnection(url)
    try {
      val st = seed.createStatement()
      st.execute("""CREATE TABLE "users" ("email" VARCHAR(100) """ +
        """NOT NULL PRIMARY KEY, "name" VARCHAR(100), "age" INT)""")
      st.execute("""INSERT INTO "users" VALUES """ +
        """('a@x', 'Alice-old', 30), ('c@x', 'Cara', 44)""")
      st.close()
    } finally seed.close()
    // Derby's dialect maps StringType to CLOB, which MERGE cannot
    // compare — pin the key/value columns to VARCHAR explicitly
    val t = JdbcTarget(url, "users", "app", "", Map(
      "createTableColumnTypes" -> "email VARCHAR(100), name VARCHAR(100)"))
    val batch = Seq(("a@x", "Alice-new", 31), ("b@x", "Bob", 22))
      .toDF("email", "name", "age")
    val script = JdbcUpsertSink.upsert(batch, t, Seq("email"),
      batchId = 3, dialect = "ansi")
    assert(script.head.startsWith("""MERGE INTO "users" t USING """ +
      """"users_staging_3" s"""))
    def state(): Seq[(String, String, Int)] = {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(
          """SELECT "email", "name", "age" FROM "users" ORDER BY "email"""")
        val buf = scala.collection.mutable.ArrayBuffer[(String, String, Int)]()
        while (rs.next()) buf += ((rs.getString(1), rs.getString(2),
          rs.getInt(3)))
        buf.toSeq
      } finally c.close()
    }
    // a@x updated, b@x inserted, c@x untouched
    assert(state() == Seq(("a@x", "Alice-new", 31), ("b@x", "Bob", 22),
      ("c@x", "Cara", 44)))
    // the transaction's final statement dropped the staging table
    val meta = DriverManager.getConnection(url)
    try {
      val rs = meta.getMetaData.getTables(null, null, "users_staging_3",
        null)
      assert(!rs.next(), "staging table must be dropped after the merge")
    } finally meta.close()
    // idempotency: re-running the same batch converges to the same
    // state (the staging overwrite + MERGE are a no-op rerun)
    JdbcUpsertSink.upsert(batch, t, Seq("email"), batchId = 3,
      dialect = "ansi")
    assert(state() == Seq(("a@x", "Alice-new", 31), ("b@x", "Bob", 22),
      ("c@x", "Cara", 44)))
    // composition with Merge: only insert/update rows cross the wire
    // and the merged outcome matches Merge's own set-based verdicts
    val cur = state().toDF("email", "name", "age")
    val next = Seq(("b@x", "Bob", 23), ("c@x", "Cara", 44),
      ("d@x", "Dee", 19)).toDF("email", "name", "age")
    val merged = graft.ops.Merge.merge(next, cur, Seq("email"),
      Seq("name", "age"))
    JdbcUpsertSink.upsert(merged, t, Seq("email"), batchId = 4,
      dialect = "ansi")
    assert(state() == Seq(("a@x", "Alice-new", 31), ("b@x", "Bob", 23),
      ("c@x", "Cara", 44), ("d@x", "Dee", 19)))
  }

  test("LIVE streaming foreachBatch -> Derby: micro-batches upsert " +
      "exactly-once; a replayed epoch (same batchId) is a no-op") {
    // The end-to-end exactly-once story: Structured Streaming's
    // at-least-once foreachBatch delivery composed with the
    // idempotent staging+MERGE sink. A crash between sink success
    // and offset commit makes Spark RE-RUN the epoch with the SAME
    // batchId — which the per-batch staging overwrite + key-matched
    // MERGE absorbs, so the target converges instead of duplicating.
    import JdbcUpsertSink.JdbcTarget
    import spark.implicits._
    import java.sql.DriverManager
    val url = "jdbc:derby:memory:graftstream;create=true"
    val seed = DriverManager.getConnection(url)
    try {
      seed.createStatement().execute(
        """CREATE TABLE "uagg" ("k" VARCHAR(50) NOT NULL PRIMARY KEY,
          | "v" BIGINT)""".stripMargin.replace("\n", ""))
    } finally seed.close()
    val t = JdbcTarget(url, "uagg", "app", "",
      Map("createTableColumnTypes" -> "k VARCHAR(50)"))
    val sink = JdbcUpsertSink.foreachBatchUpsert(t, Seq("k"),
      dialect = "ansi")
    def state(): Map[String, Long] = {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(
          """SELECT "k", "v" FROM "uagg"""")
        val b = scala.collection.mutable.Map[String, Long]()
        while (rs.next()) b += rs.getString(1) -> rs.getLong(2)
        b.toMap
      } finally c.close()
    }
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)](spark)
    val q = mem.toDF().toDF("k", "v").writeStream
      .outputMode("update").foreachBatch(sink).start()
    try {
      mem.addData(("a", 1L), ("b", 2L)); q.processAllAvailable()
      mem.addData(("a", 10L), ("c", 3L)); q.processAllAvailable()
    } finally q.stop()
    assert(state() == Map("a" -> 10L, "b" -> 2L, "c" -> 3L))
    // simulate the crash-replay: re-deliver epoch 1's frame with the
    // SAME batchId through the same sink — state must not change
    sink(Seq(("a", 10L), ("c", 3L)).toDF("k", "v"), 1L)
    assert(state() == Map("a" -> 10L, "b" -> 2L, "c" -> 3L))
  }

  test("jdbc upsert without endpoint raises E004 connection error") {
    import JdbcUpsertSink.JdbcTarget
    import spark.implicits._
    val df = Seq(("a@x", "n")).toDF("email", "name")
    val t = JdbcTarget("jdbc:postgresql://nowhere:1/none", "users",
      "u", "p", Map("connectTimeout" -> "1", "socketTimeout" -> "1",
        "loginTimeout" -> "1"))
    intercept[Exception] {
      // live path: the staging write itself fails (no driver/endpoint
      // in this container) — what matters is it fails loudly, not
      // half-merged (the merge script only runs after a good write)
      JdbcUpsertSink.upsert(df, t, Seq("email"))
    }
  }

  test("overwrite of a partitioned table replaces content atomically " +
      "per write") {
    val dir = Files.createTempDirectory("cust_part").toString
    val c = Tables.customer(spark, sf0001)
    c.write.partitionBy("c_mktsegment").mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir).count()
    // second write with updated values fully replaces
    c.withColumn("c_acctbal", col("c_acctbal") + 1)
      .write.partitionBy("c_mktsegment").mode("overwrite").parquet(dir)
    val after = spark.read.parquet(dir)
    assert(after.count() == before)
    val delta = after.agg(sum(col("c_acctbal"))).first().getDouble(0) -
      c.agg(sum(col("c_acctbal"))).first().getDouble(0)
    assert(math.abs(delta - before) < 1e-6)
  }
}
