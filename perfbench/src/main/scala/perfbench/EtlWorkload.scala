package perfbench

import java.io.File
import java.sql.{Connection, DriverManager, SQLException}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types.{DataType, StringType}

import graft.ops.Merge
import graft.pipelines.{EndSemester, Projects, Staffing}
import graft.sources.JdbcUpsertSink
import graft.sources.JdbcUpsertSink.JdbcTarget

/** Spark's built-in Derby dialect writes strings as CLOB and binds a
  * NULL string with the CLOB type; a VARCHAR staging column then
  * rejects it (SQLState 22005), and MERGE cannot compare CLOBs. This
  * dialect, registered ahead of the built-in one, makes strings
  * VARCHAR for `jdbc:derby` URLs. */
object DerbyVarcharDialect extends JdbcDialect {
  override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
  override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
    case StringType => Some(JdbcType("VARCHAR(32672)", java.sql.Types.VARCHAR))
    case _ => None
  }
}

/** The staffing-roster lifecycle end to end. One op is one sheet
  * snapshot: load the staffing and projects sheets through the `sheet`
  * source, read the current state over JDBC from an in-memory Derby,
  * run the staffing and projects pipelines, and upsert users,
  * consultants, projects and links with the sink's ANSI MERGE. A pass
  * replays every snapshot from the same seeded starting tables and
  * ends with the end-of-semester rollover and its upsert. */
final class EtlWorkload extends Workload {
  import EtlModel._
  import EtlWorkload._

  private var spark: SparkSession = _
  private var dir: File = _
  private var setupId = 0
  private var start: State = _
  private var truths: Vector[Truth] = Vector.empty
  private var expectedTables: Map[String, Seq[String]] = Map.empty
  private var url: String = _

  def inputs: String = s"roster=$Roster projects=$ProjectCount snapshots=$Snapshots"

  def setup(s: SparkSession, d: File, seed: Long): Unit = {
    JdbcDialects.registerDialect(DerbyVarcharDialect)
    spark = s
    dir = d
    d.mkdirs()
    val g = new Gen(seed)
    start = initial(g, Roster, ProjectCount)
    var st = start
    var serial = Roster
    truths = (1 to Snapshots).map { k =>
      val (snap, next, nextSerial) = snapshot(g, st, Roster, serial)
      java.nio.file.Files.writeString(new File(d, s"staffing-$k.json").toPath, snap.staffingJson)
      java.nio.file.Files.writeString(new File(d, s"projects-$k.json").toPath, snap.projectsJson)
      st = next
      serial = nextSerial
      snap.truth
    }.toVector
    expectedTables = tables(endSemester(st))
    setupId += 1
    seedDerby(0)
  }

  override def discard(): Unit = {
    dropDerby()
    Files.delete(dir)
  }

  override def beforePass(pass: Int): Unit = if (pass > 0) {
    dropDerby()
    seedDerby(pass)
  }

  def warmPasses(seconds: Int): Int =
    math.max(2, math.round((seconds - NominalFirstS) / NominalPassS).toInt)

  private def target(table: String) = JdbcTarget(url, table, "app", "")

  private def read(table: String): DataFrame =
    spark.read.format("jdbc").option("url", url).option("dbtable", s""""$table"""").load()

  def ops(pass: Int, seed: Long): Seq[Op] =
    (1 to Snapshots).map { k =>
      Op(s"snapshot-$k", sample = true, calls => {
        val sheet = calls("sheet", "staffing")(
          spark.read.format("sheet").load(new File(dir, s"staffing-$k.json").getPath))
        val psheet = calls("sheet", "projects")(
          spark.read.format("sheet").load(new File(dir, s"projects-$k.json").getPath))
        val (users, consultants, projects) = calls("jdbc", "state")(
          (read("users").localCheckpoint(), read("consultants").localCheckpoint(),
            read("projects").localCheckpoint()))
        val st = calls("pipeline", "staffing")(Staffing.run(sheet, users, consultants))
        val pr = calls("pipeline", "projects")(Projects.run(psheet, users, projects))
        calls("upsert", "users")(JdbcUpsertSink.upsert(st.users, target("users"),
          Seq("email"), dialect = "ansi"))
        calls("upsert", "consultants")(JdbcUpsertSink.upsert(st.consultants,
          target("consultants"), Seq("user_id"), dialect = "ansi"))
        calls("upsert", "projects")(JdbcUpsertSink.upsert(pr.projects, target("projects"),
          Seq("project_name"), dialect = "ansi"))
        calls("upsert", "links")(JdbcUpsertSink.upsert(pr.links,
          target("consultant_projects"), Seq("project_id", "user_id", "role"), dialect = "ansi"))
        () => checkSnapshot(truths(k - 1), sheet, psheet, st, pr)
      })
    } :+ Op("end-semester", sample = false, body = calls => {
      val consultants = calls("jdbc", "state")(read("consultants").localCheckpoint())
      val es = calls("pipeline", "end_semester")(EndSemester.run(consultants))
      calls("upsert", "consultants")(JdbcUpsertSink.upsert(es.consultants,
        target("consultants"), Seq("user_id"), dialect = "ansi"))
      () => checkEnd(es)
    }, everyPass = true)

  private def actions(df: DataFrame): Actions = {
    val m = df.groupBy(col(Merge.ActionCol)).count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    Actions(m.getOrElse("insert", 0), m.getOrElse("update", 0),
      m.getOrElse("noop", 0), m.getOrElse("keep", 0))
  }

  private def checkSnapshot(t: Truth, sheet: DataFrame, psheet: DataFrame,
      st: Staffing.Result, pr: Projects.Result): Check = {
    val got = Truth(sheet.count().toInt, psheet.count().toInt, actions(st.users),
      actions(st.consultants), actions(pr.projects), st.quarantine.count().toInt,
      pr.quarantine.count().toInt, pr.links.count().toInt)
    val errors = if (got == t) Nil else Seq(s"counts $got, expected $t")
    val merges = Seq(got.users, got.consultants, got.projects)
    Check(errors, Map(
      "merge.insert" -> merges.map(_.insert).sum.toDouble,
      "merge.update" -> merges.map(_.update).sum.toDouble,
      "merge.noop" -> merges.map(_.noop).sum.toDouble,
      "merge.keep" -> merges.map(_.keep).sum.toDouble,
      "quarantine.rows" -> (got.staffingQuarantine + got.projectQuarantine).toDouble,
      "sheet.rows" -> (got.staffingRows + got.projectRows).toDouble,
      "changed.rows" -> (merges.map(a => a.insert + a.update).sum + got.links).toDouble))
  }

  /** The rollover touches every consultant; afterwards every target
    * table must hold exactly what the model says. */
  private def checkEnd(es: EndSemester.Result): Check = {
    val affected = es.affected.head().getLong(0)
    val want = expectedTables("consultants").size
    val count = if (affected == want) Nil else Seq(s"affected $affected, expected $want")
    val tables = withConnection { c =>
      Seq("users" -> UsersCols, "consultants" -> ConsultantsCols,
        "projects" -> ProjectsCols, "consultant_projects" -> LinksCols).flatMap {
        case (t, cols) =>
          val got = dump(c, t, cols)
          val exp = expectedTables(t)
          if (got == exp) None
          else Some(s"table $t: ${got.size} rows, expected ${exp.size}; first difference " +
            got.zipAll(exp, "", "").find { case (a, b) => a != b }.getOrElse(("", "")))
      }
    }
    Check(count ++ tables, Map("changed.rows" -> affected.toDouble))
  }

  // --- Derby

  private def withConnection[T](f: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def dump(c: Connection, table: String, cols: Seq[String]): Seq[String] = {
    val rs = c.createStatement().executeQuery(
      s"SELECT ${cols.map(q).mkString(", ")} FROM ${q(table)}")
    val out = Vector.newBuilder[String]
    while (rs.next()) out += canon(cols.indices.map(i => rs.getString(i + 1)))
    rs.close()
    out.result().sorted
  }

  private def q(id: String) = "\"" + id + "\""

  private def ddl: Seq[String] = {
    def cols(names: Seq[String], types: Seq[String]) =
      names.zip(types).map { case (n, t) => s"${q(n)} $t" }.mkString(", ")
    val v = "VARCHAR(200)"
    Seq(
      s"CREATE TABLE ${q("users")} (" + cols(UsersCols, Seq("INT NOT NULL", v,
        s"$v NOT NULL PRIMARY KEY", v, v, "BOOLEAN", "BOOLEAN", "BOOLEAN", v, v)) + ")",
      s"CREATE TABLE ${q("consultants")} (" + cols(ConsultantsCols,
        Seq("INT NOT NULL PRIMARY KEY", v, v, v, v, "INT", "INT", v, v, v, v, v, "BOOLEAN") ++
          Seq.fill(7)("VARCHAR(30)")) + ")",
      s"CREATE TABLE ${q("projects")} (" + cols(ProjectsCols, Seq("INT NOT NULL",
        s"$v NOT NULL PRIMARY KEY", v, v, "INT", "INT", "INT", "INT", "INT")) + ")",
      s"CREATE TABLE ${q("consultant_projects")} (" + cols(LinksCols,
        Seq("INT NOT NULL", "INT NOT NULL", "VARCHAR(8) NOT NULL")) + ")")
  }

  /** A fresh in-memory database holding the seeded starting tables. */
  private def seedDerby(pass: Int): Unit = {
    url = s"jdbc:derby:memory:perfbench_${setupId}_$pass"
    val c = DriverManager.getConnection(url + ";create=true")
    try {
      val st = c.createStatement()
      ddl.foreach(st.execute)
      st.close()
      c.setAutoCommit(false)
      def load(table: String, cols: Seq[String], rows: Iterable[Seq[Any]]): Unit = {
        val ps = c.prepareStatement(s"INSERT INTO ${q(table)} (${cols.map(q).mkString(", ")}) " +
          s"VALUES (${cols.map(_ => "?").mkString(", ")})")
        rows.foreach { r =>
          r.zipWithIndex.foreach {
            case (null, i) => ps.setNull(i + 1, ps.getParameterMetaData.getParameterType(i + 1))
            case (v, i) => ps.setObject(i + 1, v.asInstanceOf[AnyRef])
          }
          ps.addBatch()
        }
        ps.executeBatch()
        ps.close()
      }
      load("users", UsersCols, start.members.values.map { case (id, m) => userRow(id, m.u) })
      load("consultants", ConsultantsCols,
        start.members.values.map { case (id, m) => consultantRow(id, m.c) })
      load("projects", ProjectsCols,
        start.projects.map { case (n, (id, p)) => projectRow(id, n, p) })
      load("consultant_projects", LinksCols,
        start.links.toSeq.sorted.map { case (pid, r, uid) => Seq(pid, uid, r) })
      c.commit()
    } finally c.close()
  }

  private def dropDerby(): Unit = if (url != null) {
    try DriverManager.getConnection(url + ";drop=true").close()
    catch { case e: SQLException if e.getSQLState == "08006" => () }
    url = null
  }
}

object EtlWorkload {
  val Roster = 1000
  val ProjectCount = 50
  val Snapshots = 2
  val NominalFirstS = 20.0
  val NominalPassS = 6.5
}
