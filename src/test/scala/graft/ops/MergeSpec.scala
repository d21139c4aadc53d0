package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def cur = Seq(
    ("a@x", 1L, "Alice", "old"),
    ("b@x", 2L, "Bob", "keep-me"),
    ("c@x", 3L, "Carol", "same"))
    .toDF("email", "user_id", "name", "note")

  private def staged = Seq(
    ("a@x", "Alice", "new"),   // changed → update
    ("c@x", "Carol", "same"),  // identical → noop
    ("d@x", "Dave", "fresh"))  // new key → insert
    .toDF("email", "name", "note")

  test("merge classifies insert/update/noop/keep and staged wins") {
    val m = Merge.merge(staged, cur, Seq("email"), Seq("name", "note"))
    val got = m.select("email", "name", "note", Merge.ActionCol)
      .as[(String, String, String, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      ("a@x", "Alice", "new", "update"),
      ("b@x", "Bob", "keep-me", "keep"),
      ("c@x", "Carol", "same", "noop"),
      ("d@x", "Dave", "fresh", "insert")))
  }

  test("staged NULL overwrites current value on update (reference " +
      "UPDATE-to-NULL semantics)") {
    val st = Seq(("a@x", null.asInstanceOf[String], "new"))
      .toDF("email", "name", "note")
    val m = Merge.merge(st, cur, Seq("email"), Seq("name", "note"))
    val a = m.filter($"email" === "a@x")
      .select("name", Merge.ActionCol).as[(Option[String], String)]
      .collect().head
    assert(a == (None, "update"))
  }

  test("assignIds gives inserts max+rank ordered by business key") {
    val m = Merge.merge(staged, cur, Seq("email"), Seq("name", "note"))
    val withIds = Merge.assignIds(m, "user_id", "email")
    val got = withIds.select("email", "user_id")
      .as[(String, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(("a@x", 1L), ("b@x", 2L), ("c@x", 3L),
      ("d@x", 4L)))
  }

  test("assignIds windows only the insert subset (no full-table sort)") {
    val m = Merge.merge(staged, cur, Seq("email"), Seq("name", "note"))
    val plan0 = Merge.assignIds(m, "user_id", "email")
      .queryExecution.executedPlan
    val plan = plan0 match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // Every Window node must sit above the insert-selecting filter —
    // the old (broken) shape windowed the whole merged table with a
    // boolean partition key and had no filter below the window.
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val filtersBelow = w.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f }
      assert(filtersBelow.nonEmpty,
        s"window not restricted to a filtered subset:\n$w")
      assert(w.windowExpression.nonEmpty &&
        w.partitionSpec.isEmpty,
        "insert numbering should be a global (unpartitioned) window " +
        "over the filtered insert rows only")
    }
  }

  test("assignIds keeps a narrow int id type but raises on overflow " +
      "instead of wrapping") {
    val curInt = Seq(("a@x", Int.MaxValue - 1, "Alice"))
      .toDF("email", "user_id", "name")
    val stOk = Seq(("b@x", "Bob")).toDF("email", "name")
    val m1 = Merge.merge(stOk, curInt, Seq("email"), Seq("name"))
    val ok = Merge.assignIds(m1, "user_id", "email", curInt)
    assert(ok.schema("user_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val got = ok.filter($"email" === "b@x").select("user_id")
      .as[Int].collect().head
    assert(got == Int.MaxValue) // max-1 + 1, no wrap
    // a second insert would need Int.MaxValue + 1 → must raise
    val stOver = Seq(("b@x", "Bob"), ("c@x", "Carl"))
      .toDF("email", "name")
    val m2 = Merge.merge(stOver, curInt, Seq("email"), Seq("name"))
    val e = intercept[Exception] {
      Merge.assignIds(m2, "user_id", "email", curInt).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("overflows")))
  }

  test("merge is idempotent: re-merging the merged state is all noop/keep") {
    val m = Merge.merge(staged, cur, Seq("email"), Seq("name", "note"))
    val newCur = Merge.assignIds(m, "user_id", "email")
      .select("email", "user_id", "name", "note")
    val again = Merge.merge(staged, newCur, Seq("email"),
      Seq("name", "note"))
    val actions = again.select(Merge.ActionCol).as[String].collect()
    assert(actions.forall(a => a == "noop" || a == "keep"))
  }
}
