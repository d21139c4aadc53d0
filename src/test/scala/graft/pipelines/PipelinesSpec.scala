package graft.pipelines

import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Window}
import org.apache.spark.sql.functions._
import graft.SparkSpec

class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  // faithful sheet fixture (FIXTURES.md §A1): 3 slot headers stand in
  // for the 30; values are comma-separated day lists
  private def sheet = Seq(
    // valid, new user
    ("Ada", "ada@u.edu", "Consultant", "ada2", "CS", "yes",
      "Monday, Wednesday", "monday", ""),
    // valid, existing user (update path)
    ("Bob", "bob@u.edu", "EM", "bob3", "ECE", "no",
      "", "Tuesday", "tuesday , MONDAY"),
    // invalid: missing Email and Major
    ("Eve", "", "SC", "eve4", "", "1", "", "", ""))
    .toDF("Name", "Email", "Current Role", "NetID", "Major",
      "US Citizen", "b GMT-0600", "a GMT-0600", "c GMT-0600")

  // full users schema (FIXTURES.md §A3)
  private def curUsers = Seq(
    (1L, "Bob Old", "bob@u.edu", null.asInstanceOf[String],
      null.asInstanceOf[String], false, false, false, "EM", "bob3"))
    .toDF("user_id", "name", "email", "gender", "race", "us_citizen",
      "residency", "first_gen", "curr_role", "netid")

  test("staffing pipeline: quarantine, merge branches, bitmap, summary") {
    val users = curUsers
    // empty current consultants with the full schema
    val consultants = {
      import org.apache.spark.sql.types._
      val fields = StructField("user_id", LongType) +:
        Staffing.ConsultantsCols.map { c =>
          val t = c match {
            case "consultants_score" | "semesters_in_ibc" => IntegerType
            // willing_to_travel stays a raw string (reference
            // boolean_cols excludes it)
            case "week_before_finals_availability" => BooleanType
            case _ => StringType
          }
          StructField(c, t)
        }
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(fields))
    }
    val r = Staffing.run(sheet, users, consultants)

    // summary: 2 valid, 1 invalid
    assert(r.summary.as[(Long, Long)].collect().head == ((2L, 1L)))
    // quarantine names the missing fields
    val reason = r.quarantine.select("_invalid_reason").as[String]
      .collect().head
    assert(reason == "missing: Email, Major")
    // merge: ada insert (new id 2), bob update (keeps id 1)
    val got = r.users.orderBy("email")
      .select("email", "user_id", "name", graft.ops.Merge.ActionCol)
      .as[(String, Long, String, String)].collect()
    assert(got.toSeq == Seq(("ada@u.edu", 2L, "Ada", "insert"),
      ("bob@u.edu", 1L, "Bob", "update")))
    // availability bitmap: slots sorted a,b,c; ada: mon in a+b → "110",
    // wed only b → "010"; always padded to the fixed 30-char width
    val ada = r.staged.filter($"email" === "ada@u.edu")
      .select("availability_mon", "availability_wed")
      .as[(String, String)].collect().head
    assert(ada == ("110".padTo(30, '0'), "010".padTo(30, '0')))
    // computed once: the consultants merge reads the materialized users
    // merge (no assignIds Window) and the materialized validated sheet;
    // both fixtures above are LocalRelations, so no leaf may be one
    val cplan = r.consultants.queryExecution.optimizedPlan
    assert(cplan.collect { case w: Window => w }.isEmpty, cplan)
    assert(!cplan.collectLeaves().exists(_.isInstanceOf[LocalRelation]),
      cplan)
  }

  test("projects pipeline: header coalesce, netid errors, merge, links") {
    val psheet = Seq(
      ("P1", null, "Acme", "ada2", null, null),
      (null, "P2", "Beta", "bob3", "ada2", "nope9"), // unknown netid
      ("", null, "NoName", null, null, null))        // invalid
      .toDF("project_name", "Project Name", "Client Name",
        "EM net-id", "sm_netid", "pm_netid")
    val users = Seq((1L, "ada2", "Consultant"), (2L, "bob3", "EM"))
      .toDF("user_id", "netid", "curr_role")
    val curProjects = Seq.empty[(Long, String, String, String,
        Option[Long], Option[Long], Option[Long], Option[Long],
        Option[Long])]
      .toDF("project_id", "project_name", "project_semester",
        "client_name", "em_id", "sm_id", "pm_id", "sc1_id", "sc2_id")

    val r = Projects.run(psheet, users, curProjects)
    assert(r.summary.as[(Long, Long)].collect().head == ((2L, 1L)))
    // P2 goes to quarantine (pm netid 'nope9' unknown)
    assert(r.quarantine.select("project_name").as[String].collect()
      .toSeq == Seq("P2"))
    // P1 inserted with resolved em id, link row created
    val links = r.links.select("role", "user_id").as[(String, Long)]
      .collect().toSet
    assert(links == Set(("EM", 1L)))
    // role reconcile: ada2 expected EM (from P1) but curr Consultant
    val upd = r.userRoleUpdates.select("user_id", "new_role")
      .as[(Long, String)].collect().toSeq
    assert(upd == Seq((1L, "EM")))
    // links read the materialized projects merge: no assignIds Window
    val lplan = r.links.queryExecution.optimizedPlan
    assert(lplan.collect { case w: Window => w }.isEmpty, lplan)
  }

  test("end-semester pipeline: rollover + affected count") {
    val consultants = Seq((1L, "active", Some(2)), (2L, "returning",
        Some(0)), (3L, "active", None))
      .toDF("user_id", "status", "semesters_in_ibc")
    val r = EndSemester.run(consultants)
    val got = r.consultants.orderBy("user_id")
      .select("status", "semesters_in_ibc")
      .as[(String, Option[Int])].collect()
    // NULL + 1 stays NULL, matching the reference's SQL UPDATE
    assert(got.toSeq == Seq(("Deferred", Some(3)), ("Deferred", Some(1)),
      ("Deferred", None)))
    assert(r.affected.as[Long].collect().head == 3L)
  }

  test("CDC apply: latest change per key wins, deletes remove, a " +
      "same-sequence delete loses to the concurrent upsert (D<I<U), " +
      "untouched snapshot rows pass through") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ops.Merge
    val snap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("k", "name", "v")
    val feed = Seq(
      (1L, "U", 1L, "a1", 11.0),   // stacked updates: only seq 2
      (1L, "U", 2L, "a2", 12.0),   // applies
      (2L, "D", 5L, null, 0.0),    // delete k=2
      (3L, "D", 7L, null, 0.0),    // delete THEN same-seq upsert:
      (3L, "U", 7L, "c9", 99.0),   // U > D at equal seq → survives
      (9L, "I", 1L, "new", 90.0))  // insert brand-new key
      .toDF("k", "op", "seq", "name", "v")
    val out = Merge.cdcApply(snap, feed, Seq("k"), "seq")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      (1L, "a2", 12.0),   // latest update
      (3L, "c9", 99.0),   // tie: upsert beat delete
      (4L, "d", 40.0),    // untouched
      (9L, "new", 90.0)), // inserted; k=2 deleted
      out.toSeq.toString)
  }

  test("CDC→SCD2: updates close the open version and append, deletes " +
      "close with NO successor, identical-payload updates are no-ops, " +
      "stacked changes apply only the latest, same-seq D loses to U, " +
      "closed history passes through untouched") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ops.Merge
    val ts = (s: String) => java.sql.Timestamp.valueOf(s + " 00:00:00")
    val history = Seq(
      // k=1: one closed + one open version
      (1L, "a", 10.0, ts("2019-01-01"), Option(ts("2020-01-01")), false),
      (1L, "a", 11.0, ts("2020-01-01"), None, true),
      (2L, "b", 20.0, ts("2020-01-01"), None, true),
      (3L, "c", 30.0, ts("2020-01-01"), None, true),
      (4L, "d", 40.0, ts("2020-01-01"), None, true),
      (5L, "e", 50.0, ts("2020-01-01"), None, true))
      .toDF("k", "name", "v", "valid_from", "valid_to", "is_current")
    val feed = Seq(
      (1L, "U", 1L, "a1", 11.5),    // stacked: only seq 2 applies
      (1L, "U", 2L, "a2", 12.0),
      (2L, "D", 5L, null, 0.0),     // delete k=2: close, no successor
      (3L, "D", 7L, null, 0.0),     // same-seq D vs U: U wins
      (3L, "U", 7L, "c9", 99.0),
      (4L, "U", 3L, "d", 40.0),     // identical payload → no-op
      (9L, "I", 1L, "new", 90.0))   // brand-new key
      .toDF("k", "op", "seq", "name", "v")
    val batch = lit("2024-06-01").cast("timestamp")
    val out = Merge.cdcScd2(history, feed, Seq("k"), "seq", batch)
      .orderBy("k", "valid_from", "is_current").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getTimestamp(3).toString.take(10),
        Option(r.getTimestamp(4)).map(_.toString.take(10)),
        r.getBoolean(5)))
    assert(out.toSeq == Seq(
      // k=1: closed history untouched; open closed at batch; fresh
      (1L, "a", 10.0, "2019-01-01", Some("2020-01-01"), false),
      (1L, "a", 11.0, "2020-01-01", Some("2024-06-01"), false),
      (1L, "a2", 12.0, "2024-06-01", None, true),
      // k=2 deleted: closed, NO successor row
      (2L, "b", 20.0, "2020-01-01", Some("2024-06-01"), false),
      // k=3: tie resolved to U → versioned
      (3L, "c", 30.0, "2020-01-01", Some("2024-06-01"), false),
      (3L, "c9", 99.0, "2024-06-01", None, true),
      // k=4: identical payload — open row untouched
      (4L, "d", 40.0, "2020-01-01", None, true),
      // k=5 untouched
      (5L, "e", 50.0, "2020-01-01", None, true),
      // k=9 inserted as a fresh open version
      (9L, "new", 90.0, "2024-06-01", None, true)),
      out.toSeq.mkString("\n"))
  }

  test("SCD2 point-in-time lookup: every order resolves EXACTLY one " +
      "version; boundaries are half-open; the resolved balance is " +
      "the version formula for the order's date bucket") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.Parity.pScd2Lookup(spark, sf0001).cache()
    val orders = graft.Tables.orders(spark, sf0001)
    // exactly one version per order: row count equals orders, and
    // o_orderkey is unique in the output
    assert(out.count() == orders.count())
    assert(out.groupBy("o_orderkey").count()
      .filter(col("count") > 1).isEmpty)
    // half-open boundary: an order dated exactly at a break belongs
    // to the LATER version (valid_from inclusive, valid_to exclusive)
    val v2start = lit("1996-07-01").cast("timestamp")
    val atBreak = out.filter(col("o_orderdate") === v2start)
    assert(atBreak.filter(col("version_no") =!= 2L).isEmpty)
    // balance formula per date bucket (+0 / +100 / +250 vs c_acctbal)
    val bal0 = graft.Tables.customer(spark, sf0001)
      .select(col("c_custkey").as("uid"), col("c_acctbal").as("bal0"))
    val joined = out.join(bal0, Seq("uid"))
    assert(joined.filter(col("version_no") === 1L &&
      col("bal") =!= col("bal0")).isEmpty)
    assert(joined.filter(col("version_no") === 2L &&
      col("bal") =!= col("bal0") + 100.0).isEmpty)
    assert(joined.filter(col("version_no") === 3L &&
      col("bal") =!= col("bal0") + 250.0).isEmpty)
    out.unpersist()
  }
}
