package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import graft.SparkSpec

/** Pins the driver-side BFS and connected components to their
  * distributed loops. Within the edge gate both run on the driver over
  * one collect; in reliable checkpoint mode the same call runs the
  * distributed loop. Each fixture runs both ways and compares rows,
  * column names and types, and (for BFS) whether the horizon warning
  * was printed. */
class GraphFormSpec extends SparkSpec {
  import spark.implicits._
  import GraphFormSpec.Form

  private def form(f: => DataFrame): Form = {
    val buf = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    val df = try f finally System.setErr(err)
    Form(df.collect().map(_.toString).sorted.toSeq,
      df.schema.map(c => (c.name, c.dataType.simpleString)),
      buf.toString.contains("[bfs] WARNING"))
  }

  /** `f` on the driver (asserted to be a LocalRelation) and in the
    * distributed loop. */
  private def bothForms(f: => DataFrame): (Form, Form) = {
    assert(isLocal(f), "within the gate the result is a LocalRelation")
    (form(f), inReliableMode(form(f)))
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  private def same(name: String, f: => DataFrame): Form = {
    val (d, s) = bothForms(f)
    assert(d == s, s"$name: driver $d vs distributed $s")
    d
  }

  private def bfs(e: DataFrame, maxIter: Int = 20) =
    Bfs.distances(e, "src", "dst", maxIter)
  private def components(e: DataFrame) =
    ConnectedComponents.components(e, "src", "dst")

  // 1-2-3-4 path, branch 2-10, cycle 3-11-12-1, island 50-51
  private lazy val branchCycle = Seq((1L, 2L), (2L, 3L), (3L, 4L),
    (2L, 10L), (3L, 11L), (11L, 12L), (12L, 1L), (50L, 51L))
    .toDF("src", "dst")

  test("branch + cycle fixture: BFS and components are the same on " +
      "the driver and in the distributed loop, via every BFS entry") {
    val d = same("bfs", bfs(branchCycle))
    assert(d.rows.size == 7 && !d.warned)
    assert(d.cols == Seq("node" -> "bigint", "dist" -> "bigint"))
    same("bfs indexed", Bfs.distancesIndexed(branchCycle, "src", "dst"))
    same("bfs auto",
      Bfs.distancesIndexedAuto(branchCycle, "src", "dst"))
    val c = same("components", components(branchCycle))
    assert(c.cols == Seq("id" -> "bigint", "comp" -> "bigint"))
  }

  test("a 100-node path: components agree (star contraction in the " +
      "loop) and BFS agrees on rows and on the horizon warning") {
    val path = (0L until 99L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(same("components", components(path)).rows.size == 100)
    // default maxIter = 20: nodes past hop 20 are absent both ways
    val d = same("bfs", bfs(path))
    assert(d.rows.size == 21 && d.warned)
  }

  test("a chain longer than maxIter: the same rows and the same " +
      "warning, also exactly at the horizon") {
    val chain = (0L until 6L).map(i => (i, i + 1)).toDF("src", "dst")
    // 6 hops deep: maxIter 3 truncates, 6 reaches the last node with
    // the frontier still live, 7 finds the frontier empty; 0 keeps
    // the source only
    for ((maxIter, n, warned) <- Seq((3, 4, true), (6, 7, true),
        (7, 7, false), (0, 1, true))) {
      val d = same(s"maxIter $maxIter", bfs(chain, maxIter))
      assert(d.rows.size == n && d.warned == warned, s"maxIter $maxIter")
    }
  }

  test("self-loops, duplicate and reversed pairs, islands, empty " +
      "edges and Int-typed ids behave as in the distributed loop") {
    val shapes = Seq(
      "self-loops" -> Seq((1L, 1L), (1L, 2L), (5L, 5L), (3L, 3L),
        (3L, 4L)).toDF("src", "dst"),
      "duplicate and reversed" -> Seq((7L, 3L), (3L, 7L), (7L, 3L),
        (3L, 9L), (9L, 3L), (20L, 21L), (21L, 20L)).toDF("src", "dst"),
      "islands" -> Seq((10L, 11L), (1L, 2L), (30L, 31L), (31L, 32L))
        .toDF("src", "dst"),
      "negative ids" -> Seq((-4L, 2L), (2L, -9L), (100L, -1L))
        .toDF("src", "dst"),
      "empty" -> Seq.empty[(Long, Long)].toDF("src", "dst"),
      "Int ids" -> Seq((3, 1), (1, 2), (2, 2), (8, 9)).toDF("src", "dst"),
      "Int and Long ids" -> Seq((3, 1L), (1, 2L)).toDF("src", "dst"))
    for ((name, e) <- shapes) {
      same(s"$name bfs", bfs(e))
      same(s"$name components", components(e))
    }
    val int = shapes.toMap.apply("Int ids")
    assert(form(bfs(int)).cols == Seq("node" -> "int", "dist" -> "bigint"))
    assert(form(components(int)).cols == Seq("id" -> "int", "comp" -> "int"))
    assert(form(bfs(shapes.toMap.apply("empty"))).rows.isEmpty)
  }

  test("a random graph: both BFS and components agree") {
    val rnd = new scala.util.Random(7)
    val e = Seq.fill(120)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .toDF("src", "dst")
    same("bfs", bfs(e))
    same("components", components(e))
  }

  test("an edge with a NULL endpoint takes the distributed loop") {
    val e = Seq((Some(1L), Some(2L)), (Some(2L), None))
      .toDF("src", "dst")
    assert(!isLocal(bfs(e)))
    assert(!isLocal(components(e)))
  }
}

object GraphFormSpec {

  /** One form's result: sorted rows, (name, type) per column, and
    * whether `[bfs] WARNING` reached stderr. */
  final case class Form(rows: Seq[String], cols: Seq[(String, String)],
      warned: Boolean)
}
