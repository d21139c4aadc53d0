package graft

import org.apache.spark.sql.functions._
import org.json4s.jackson.JsonMethods.parse

class ProfileSpec extends SparkSpec {

  private def profile(name: String, runs: Int = 1)(fn: Profile.Query)
      : Seq[Map[String, Any]] = {
    val profiler = new Profile.Profiler(spark)
    try Seq.fill(runs)(profiler.record(name, fn, sf0001))
      .map(parse(_).values.asInstanceOf[Map[String, Any]])
    finally profiler.close()
  }

  private def entry(name: String) = SparkEntry.queries(name)

  test("two records of one entry report identical job counts") {
    val Seq(a, b) = profile("p_staffing_pipeline", runs = 2)(
      entry("p_staffing_pipeline"))
    val counts = Seq("jobs", "stages", "tasks")
    assert(counts.map(a) == counts.map(b), s"$a vs $b")
    assert(a("jobs").asInstanceOf[BigInt] > 0 && !a.contains("error"))
  }

  test("the plan shape counts the five joins of p_five_way_join") {
    val Seq(r) = profile("p_five_way_join")(entry("p_five_way_join"))
    val joins = Seq("smj", "bhj", "shj", "bnlj")
      .map(r(_).asInstanceOf[BigInt]).sum
    assert(joins == 5, s"$r")
    assert(r("wsc").asInstanceOf[BigInt] > 0, s"$r")
  }

  test("an entry that throws yields a record with an error") {
    val Seq(r) = profile("throws") { (s, _) =>
      s.range(3).select(assert_true(col("id") < 0, lit("profile-boom"))
        .as("x"))
    }
    assert(r("query") == "throws")
    assert(r.get("error").exists(_.toString.contains("profile-boom")), s"$r")
  }
}
