package perfbench

import scala.collection.immutable.TreeMap
import scala.collection.mutable

/** Seeded generator of the staffing-roster lifecycle and the plain-Scala
  * model that says what every snapshot must do: for each snapshot the
  * exact insert/update/noop/keep counts of the users, consultants and
  * projects merges, the quarantined rows and the link rows, and after
  * each pass the exact contents of the four target tables. */
object EtlModel {

  final case class User(name: String, email: String, gender: String, race: String,
      usCitizen: Boolean, residency: Boolean, firstGen: Boolean,
      currRole: String, netid: String)

  final case class Consultant(year: String, major: String, minor: String,
      college: String, score: Int, semesters: Int, timeZone: String,
      willing: String, industry: String, functional: String, status: String,
      finals: Boolean, avail: Vector[String])

  final case class Member(u: User, c: Consultant)

  final case class Project(semester: String, client: String, roles: Vector[Option[Int]])

  /** Merge action counts of one merge. */
  final case class Actions(insert: Int, update: Int, noop: Int, keep: Int)

  final case class Truth(staffingRows: Int, projectRows: Int,
      users: Actions, consultants: Actions, projects: Actions,
      staffingQuarantine: Int, projectQuarantine: Int, links: Int)

  final case class Snapshot(staffingJson: String, projectsJson: String, truth: Truth)

  final case class State(members: TreeMap[String, (Int, Member)],
      projects: TreeMap[String, (Int, Project)],
      links: Set[(Int, String, Int)])

  val Days: Vector[String] = Vector("Monday", "Tuesday", "Wednesday", "Thursday",
    "Friday", "Saturday", "Sunday")
  val Width = 30
  /** Thirty half-hour slot headers, 08:00 to 22:30, in the reference
    * sheet's "h:mm AM GMT-0600" style; bitmaps follow their sorted order. */
  val SlotHeaders: Vector[String] = (0 until Width).map { i =>
    val h24 = 8 + i / 2
    val h12 = if (h24 > 12) h24 - 12 else h24
    f"$h12%02d:${if (i % 2 == 0) "00" else "30"} ${if (h24 >= 12) "PM" else "AM"} GMT-0600"
  }.toVector
  private val sortedSlots = SlotHeaders.sorted

  val StaffingHeaders: Vector[String] = Vector("Name", "Email", "Gender", "Race",
    "US Citizen", "Residency", "First Generation", "Current Role", "NetID",
    "Year", "Major", "Minor", "College", "Consultant Score", "Semesters in IBC",
    "Time Zone", "Willing to Travel", "Industry Interests",
    "Functional Area Interests", "Status", "Week Before Finals Availability") ++ SlotHeaders
  private val Required = Vector("Name", "Current Role", "NetID", "Major")

  val ProjectHeaders: Vector[String] = Vector("Project Name", "Semester", "Client Name",
    "EM NetID", "SM net-id", "PM NetID", "SC 1 NetID", "SC2 net-id")
  val RoleCodes: Vector[String] = Vector("EM", "SM", "PM", "SC", "SC")

  private val Roles = Vector("Consultant", "Senior Consultant", "Engagement Manager",
    "Project Manager", "Analyst")
  private val Years = Vector("Freshman", "Sophomore", "Junior", "Senior", "Graduate")
  private val Majors = Vector("Economics", "Computer Science", "Finance", "Biology",
    "Mathematics", "Statistics", "Marketing")
  private val Colleges = Vector("Engineering", "Business", "Arts and Sciences", "Media")
  private val Zones = Vector("CST", "EST", "PST", "MST")
  private val Travel = Vector("Yes", "No", "Sometimes")
  private val Interests = Vector("Tech", "Finance", "Healthcare", "Energy", "Retail")
  private val Areas = Vector("Strategy", "Operations", "Analytics", "Marketing")
  private val Statuses = Vector("Active", "Inactive", "On Leave")
  private val Clients = Vector("Acme", "Globex", "Initech", "Umbrella", "Hooli", "Stark")

  final class Gen(seed: Long) {
    private val rng = new java.util.SplittableRandom(seed)
    def int(n: Int): Int = rng.nextInt(n)
    def p(x: Double): Boolean = rng.nextDouble() < x
    def of[T](v: Vector[T]): T = v(int(v.size))
    def maybe(x: Double, v: => String): String = if (p(x)) null else v
    def bits(): String = Vector.fill(Width)(if (p(0.3)) '1' else '0').mkString
  }

  private def email(serial: Int) = f"m$serial%07d@ibc.edu"
  private def netid(serial: Int) = f"n$serial%07d"

  def member(g: Gen, serial: Int): Member = Member(
    User(s"Member ${serial}", email(serial), g.maybe(0.3, g.of(Vector("F", "M", "X"))),
      g.maybe(0.3, g.of(Vector("Asian", "Black", "Hispanic", "White"))),
      g.p(0.8), g.p(0.5), g.p(0.3), g.of(Roles), netid(serial)),
    Consultant(g.of(Years), g.of(Majors), g.maybe(0.5, g.of(Majors)), g.of(Colleges),
      g.int(101), 1 + g.int(8), g.of(Zones), g.of(Travel),
      s"${g.of(Interests)}, ${g.of(Interests)}", g.of(Areas), g.of(Statuses),
      g.p(0.5), Vector.fill(7)(g.bits())))

  /** The sheet row of a member: every value a string, as the web app
    * serves it; booleans in the mixed spellings the pipeline accepts. */
  def render(m: Member, blank: Option[String]): Vector[String] = {
    val u = m.u
    val c = m.c
    def s(x: String) = if (x == null) "" else x
    val fields = Vector(u.name, u.email, s(u.gender), s(u.race),
      if (u.usCitizen) "Yes" else "No", if (u.residency) "true" else "false",
      if (u.firstGen) "1" else "0", u.currRole, u.netid, c.year, c.major, s(c.minor),
      c.college, c.score.toString, c.semesters.toString, c.timeZone, c.willing,
      c.industry, c.functional, c.status, if (c.finals) "yes" else "no") ++
      SlotHeaders.map { h =>
        val k = sortedSlots.indexOf(h)
        Days.indices.filter(d => c.avail(d)(k) == '1').map(Days).mkString(", ")
      }
    blank.fold(fields)(b => fields.updated(StaffingHeaders.indexOf(b), ""))
  }

  def json(headers: Vector[String], rows: Seq[Vector[String]]): String = {
    val sb = new java.lang.StringBuilder(rows.size * 64 * headers.size)
    sb.append('[')
    var first = true
    rows.foreach { r =>
      if (!first) sb.append(',')
      first = false
      sb.append('{')
      var i = 0
      while (i < headers.size) {
        if (i > 0) sb.append(',')
        sb.append(Json.str(headers(i))).append(':').append(Json.str(r(i)))
        i += 1
      }
      sb.append('}')
    }
    sb.append(']').toString
  }

  /** The starting tables: `roster` members with ids 1..roster, and
    * `projects` projects staffed from them. */
  def initial(g: Gen, roster: Int, projects: Int): State = {
    val members = TreeMap((0 until roster).map(i => email(i) -> ((i + 1, member(g, i)))): _*)
    val ps = TreeMap((0 until projects).map(i =>
      f"Project $i%05d" -> ((i + 1, project(g, roster)))): _*)
    State(members, ps, ps.toSeq.flatMap { case (_, (pid, pr)) => links(pid, pr) }.toSet)
  }

  private def project(g: Gen, roster: Int): Project = {
    val ids = mutable.LinkedHashSet.empty[Int]
    while (ids.size < 5) ids += 1 + g.int(roster)
    val v = ids.toVector.map(Option(_))
    Project(g.of(Vector("Fall 2026", "Spring 2027")), g.of(Clients),
      v.updated(1, if (g.p(0.1)) None else v(1)).updated(4, if (g.p(0.2)) None else v(4)))
  }

  private def links(pid: Int, p: Project): Seq[(Int, String, Int)] =
    p.roles.zip(RoleCodes).collect { case (Some(uid), code) => (pid, code, uid) }

  /** Netid of a starting member id: netids never change. */
  private def netidOf(uid: Int) = netid(uid - 1)

  /** Advance `st` by one snapshot: about 5% new keys, 15% changed rows
    * and 3% rows with a blank required field (or, for projects, an
    * unknown netid), all shuffled. */
  def snapshot(g: Gen, st: State, roster0: Int, nextSerial: Int): (Snapshot, State, Int) = {
    // --- staffing sheet
    var serial = nextSerial
    val rows = mutable.ArrayBuffer.empty[(Member, Option[String])]
    st.members.foreach { case (_, (_, m)) =>
      if (g.p(0.03)) rows += ((m, Some(g.of(Required))))
      else if (g.p(0.15 / 0.97)) rows += ((mutate(g, m), None))
      else rows += ((m, None))
    }
    for (_ <- 0 until math.round(st.members.size * 0.05).toInt) {
      val m = member(g, serial)
      serial += 1
      rows += ((m, if (g.p(0.03)) Some(g.of(Required)) else None))
    }
    val order = shuffle(g, rows.toVector)
    val valid = order.collect { case (m, None) => m }
    def cnt(pairs: Seq[(Boolean, Boolean)], total: Int) = {
      val ins = pairs.count(!_._1)
      val same = pairs.count(p => p._1 && p._2)
      val upd = pairs.count(p => p._1 && !p._2)
      Actions(ins, upd, same, total - (upd + same))
    }
    val users = cnt(valid.map(m => st.members.get(m.u.email) match {
      case None => (false, false)
      case Some((_, old)) => (true, old.u == m.u)
    }), st.members.size)
    val consultants = cnt(valid.map(m => st.members.get(m.u.email) match {
      case None => (false, false)
      case Some((_, old)) => (true, old.c == m.c)
    }), st.members.size)
    val maxId = st.members.values.map(_._1).max
    val newEmails = valid.map(_.u.email).filterNot(st.members.contains).sorted
    val newIds = newEmails.zipWithIndex.map { case (e, i) => e -> (maxId + 1 + i) }.toMap
    val members = valid.foldLeft(st.members) { (acc, m) =>
      acc.updated(m.u.email, (acc.get(m.u.email).map(_._1).getOrElse(newIds(m.u.email)), m))
    }

    // --- projects sheet
    val prows = mutable.ArrayBuffer.empty[(String, Project, Boolean)]
    st.projects.foreach { case (name, (_, p)) =>
      if (g.p(0.03)) prows += ((name, p, true))
      else if (g.p(0.15 / 0.97)) prows += ((name, changeProject(g, p, roster0), false))
      else prows += ((name, p, false))
    }
    val firstNew = st.projects.lastKey.stripPrefix("Project ").toInt + 1
    for (i <- 0 until math.round(st.projects.size * 0.05).toInt)
      prows += ((f"Project ${firstNew + i}%05d", project(g, roster0), g.p(0.03)))
    val porder = shuffle(g, prows.toVector)
    val pvalid = porder.filterNot(_._3)
    val pActions = cnt(pvalid.map { case (n, p, _) => st.projects.get(n) match {
      case None => (false, false)
      case Some((_, old)) => (true, old == p)
    }}, st.projects.size)
    val maxPid = st.projects.values.map(_._1).max
    val newNames = pvalid.map(_._1).filterNot(st.projects.contains).sorted
    val newPids = newNames.zipWithIndex.map { case (n, i) => n -> (maxPid + 1 + i) }.toMap
    val projects = pvalid.foldLeft(st.projects) { case (acc, (n, p, _)) =>
      acc.updated(n, (acc.get(n).map(_._1).getOrElse(newPids(n)), p))
    }
    val newLinks = newNames.flatMap(n => links(newPids(n), projects(n)._2))

    val staffingJson = json(StaffingHeaders, order.map { case (m, b) => render(m, b) })
    val projectsJson = json(ProjectHeaders, porder.map { case (n, p, unknown) =>
      val nids = p.roles.map(_.map(netidOf).getOrElse(""))
      Vector(n, p.semester, p.client) ++
        (if (unknown) nids.updated(2, s"zz${g.int(1000)}") else nids)
    })
    val truth = Truth(order.size, porder.size, users, consultants, pActions,
      order.count(_._2.isDefined), porder.count(_._3), newLinks.size)
    (Snapshot(staffingJson, projectsJson, truth),
      State(members, projects, st.links ++ newLinks), serial)
  }

  private def mutate(g: Gen, m: Member): Member = g.int(3) match {
    case 0 => m.copy(u = m.u.copy(currRole = other(g, Roles, m.u.currRole)))
    case 1 => m.copy(c = changeConsultant(g, m.c))
    case _ => Member(m.u.copy(currRole = other(g, Roles, m.u.currRole)), changeConsultant(g, m.c))
  }

  private def changeConsultant(g: Gen, c: Consultant): Consultant =
    if (g.p(0.5)) c.copy(status = other(g, Statuses, c.status))
    else {
      val d = g.int(7)
      val k = g.int(Width)
      val b = c.avail(d)
      c.copy(avail = c.avail.updated(d, b.updated(k, if (b(k) == '1') '0' else '1')))
    }

  private def changeProject(g: Gen, p: Project, roster0: Int): Project =
    if (g.p(0.5)) p.copy(client = other(g, Clients, p.client))
    else {
      val taken = p.roles.flatten.toSet
      var id = 1 + g.int(roster0)
      while (taken.contains(id)) id = 1 + g.int(roster0)
      p.copy(roles = p.roles.updated(0, Some(id)))
    }

  private def other(g: Gen, v: Vector[String], cur: String): String = {
    val rest = v.filterNot(_ == cur)
    rest(g.int(rest.size))
  }

  private def shuffle[T](g: Gen, v: Vector[T]): Vector[T] = {
    val a = v.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = g.int(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** The end-of-semester rollover of every consultant. */
  def endSemester(st: State): State = State(st.members.map { case (e, (id, m)) =>
    e -> ((id, m.copy(c = m.c.copy(status = "Deferred", semesters = m.c.semesters + 1))))
  }, st.projects, st.links)

  // --- table rows, in the target tables' column order

  val UsersCols: Vector[String] = Vector("user_id", "name", "email", "gender", "race",
    "us_citizen", "residency", "first_gen", "curr_role", "netid")
  val ConsultantsCols: Vector[String] = Vector("user_id", "year", "major", "minor",
    "college", "consultants_score", "semesters_in_ibc", "time_zone", "willing_to_travel",
    "industry_interests", "functional_area_interests", "status",
    "week_before_finals_availability") ++ Vector("mon", "tue", "wed", "thu", "fri",
    "sat", "sun").map("availability_" + _)
  val ProjectsCols: Vector[String] = Vector("project_id", "project_name",
    "project_semester", "client_name", "em_id", "sm_id", "pm_id", "sc1_id", "sc2_id")
  val LinksCols: Vector[String] = Vector("project_id", "user_id", "role")

  def userRow(id: Int, u: User): Vector[Any] = Vector(id, u.name, u.email, u.gender,
    u.race, u.usCitizen, u.residency, u.firstGen, u.currRole, u.netid)
  def consultantRow(id: Int, c: Consultant): Vector[Any] = Vector(id, c.year, c.major,
    c.minor, c.college, c.score, c.semesters, c.timeZone, c.willing, c.industry,
    c.functional, c.status, c.finals) ++ c.avail
  def projectRow(id: Int, name: String, p: Project): Vector[Any] =
    Vector(id, name, p.semester, p.client) ++ p.roles.map(_.map(Int.box).orNull)

  /** Canonical text of every table, sorted, keyed by table name. */
  def tables(st: State): Map[String, Seq[String]] = Map(
    "users" -> st.members.values.map { case (id, m) => canon(userRow(id, m.u)) }.toSeq,
    "consultants" -> st.members.values.map { case (id, m) => canon(consultantRow(id, m.c)) }.toSeq,
    "projects" -> st.projects.map { case (n, (id, p)) => canon(projectRow(id, n, p)) }.toSeq,
    "consultant_projects" -> st.links.toSeq.map { case (pid, r, uid) => canon(Vector(pid, uid, r)) }
  ).map { case (k, v) => k -> v.sorted }

  def canon(values: Seq[Any]): String =
    values.map(v => if (v == null) "∅" else v.toString).mkString("\u0001")
}
