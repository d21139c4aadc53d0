package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkSpec
import graft.functions.DayBitmaps

class AvailabilitySpec extends SparkSpec {
  import spark.implicits._

  // sheet-shaped fixture: 3 slot headers, deliberately unsorted —
  // slot order must come from the lexicographic header sort
  // (reference `staffing-roster-pipeline.py:90-91`)
  private val rows = Seq(
    // (slotB, slotA, slotC) — sorted order is A, B, C
    ("Monday, Wednesday", "monday", "TUESDAY , monday"),
    ("", null, "Friday"),
  ).toDF("b GMT-0600", "a GMT-0600", "c GMT-0600")

  test("day bitmaps honor sorted slot order + case/space-insensitivity") {
    val out = Availability.withDayBitmaps(rows, "GMT-0600")
    val got = out.select("availability_mon", "availability_tue",
      "availability_wed", "availability_fri").as[(String, String, String,
      String)].collect()
    // bitmaps are always 30 chars (reference pre-allocates '0'*30,
    // staffing-roster-pipeline.py:93); the 3 fixture slots fill the
    // first 3 positions
    def pad(s: String) = s.padTo(30, '0')
    // row 1: mon in slots A(via "monday"), B, C → "111"; tue only C →
    // "001"; wed only B → "010"
    assert(got(0) == (pad("111"), pad("001"), pad("010"), pad("000")))
    // row 2: empty/null slots contribute 0; fri only slot C
    assert(got(1) == (pad("000"), pad("000"), pad("000"), pad("001")))
  }

  test("bitmap width is always the fixed 30 (reference '0'*30)") {
    val out = Availability.withDayBitmaps(rows, "GMT-0600")
    val lens = out.select(org.apache.spark.sql.functions.length(
      org.apache.spark.sql.functions.col("availability_sun")))
      .as[Int].collect()
    assert(lens.forall(_ == 30))
  }

  test("more than 30 slot headers is rejected (reference IndexErrors)") {
    val cols = (1 to 31).map(i => f"slot$i%02d GMT-0600")
    intercept[IllegalArgumentException] {
      Availability.dayBitmaps(cols, "GMT-0600")
    }
  }

  // The Column formula the kernel replaced, kept here as the reference:
  // per day, per sorted slot, exists(split(coalesce(slot, ''), ','),
  // x => lower(trim(x)) = day), concatenated and '0'-padded to 30.
  private def hofBitmap(slots: Seq[Column], day: String): Column = {
    val bits = slots.map(s => when(exists(split(coalesce(s, lit("")), ","),
      x => lower(trim(x)) === day.toLowerCase), lit("1")).otherwise(lit("0")))
    rpad(if (bits.isEmpty) lit("") else concat(bits: _*),
      Availability.BitmapWidth, "0")
  }

  // an RDD-backed frame: a LocalRelation would be folded by the
  // optimizer, which evaluates the projection before any codegen runs
  private def sheetOf(slots: Seq[String], rows: Seq[Seq[String]])
      : DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map(Row.fromSeq), 2),
    StructType(slots.map(StructField(_, StringType))))

  private def assertMatchesHof(sheet: DataFrame): Unit = {
    val slots = sheet.columns.filter(_.contains("GMT-0600")).sorted
      .map(c => col(s"`$c`")).toSeq
    val out = Availability.withDayBitmaps(sheet, "GMT-0600")
      .select(Availability.DayNames.flatMap { case (n, day) =>
        Seq(col(n), hofBitmap(slots, day).as(s"${n}_hof")) }: _*)
    for (r <- out.collect(); d <- Availability.DayNames.indices)
      assert(r.getString(2 * d) == r.getString(2 * d + 1),
        s"${Availability.DayNames(d)._1} of row $r")
  }

  private val tricky = Seq(null, "", ",", ",,monday,",
    " Monday ", "MONDAY", "mon day", "mondays", "monday;tuesday",
    // Spark's trim strips spaces only
    "monday\n", "\tmonday", "monday ,\tfriday",
    // non-ASCII case mappings that must not reach a day name
    "İ", "ſ", "Σ", "FRİDAY", "ſunday", "tueſday", "ΣUNDAY",
    "Monday, Wednesday", "TUESDAY , monday", "sunday,saturday,thursday")

  test("kernel equals the HOF formula on edge-case slot values, with " +
      "whole-stage codegen on and off and interpreted") {
    // 3 unsorted slots; each case value lands in every slot position
    val sheet3 = sheetOf(Seq("b GMT-0600", "a GMT-0600", "c GMT-0600"),
      tricky.flatMap(v => Seq(Seq(v, null, "friday"),
        Seq("Tuesday", v, v), Seq(null, "", v))))
    val days = Availability.DayNames.map(_._2)
    val slots30 = (1 to 30).map(i => f"$i%02d:00 GMT-0600")
    val sheet30 = sheetOf(slots30 :+ "Name", (0 until 6).map(r =>
      slots30.indices.map(i =>
        if ((i + r) % 5 == 0) null
        else Seq(days((i + r) % 7), days((i * r) % 7).toUpperCase)
          .take(1 + (i + r) % 2).mkString(" , ")) :+ s"row$r"))
    val modes = Seq(
      Seq(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "true"),
      Seq(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false"),
      Seq(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
        SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN"))
    for (mode <- modes; icu <- Seq("true", "false")) {
      val confs = mode :+ (SQLConf.ICU_CASE_MAPPINGS_ENABLED.key -> icu)
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        assertMatchesHof(sheet3)
        assertMatchesHof(sheet30)
      } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
    // spot values: padded to 30, exact day-name match only
    val mon = Availability.withDayBitmaps(sheetOf(Seq("a GMT-0600"),
        Seq(Seq(" Monday "), Seq("mondays"), Seq("\tmonday"))),
        "GMT-0600")
      .select("availability_mon").collect().map(_.getString(0)).toSeq
    assert(mon == Seq("1", "0", "0").map(_.padTo(30, '0')))
  }

  test("the pivot plans one kernel call per row") {
    val out = Availability.withDayBitmaps(sheetOf(
      Seq("b GMT-0600", "a GMT-0600"), Seq(Seq("monday", "friday"))),
      "GMT-0600")
    val calls = out.queryExecution.optimizedPlan.flatMap(
      _.expressions.flatMap(_.collect { case k: DayBitmaps => k }))
    assert(calls.size == 1, out.queryExecution.optimizedPlan.toString)
  }
}
