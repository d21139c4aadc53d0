package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.graft.ListenerBusFence
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CollapseCodegenStages, ExplainUtils}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Per-entry profile of the query catalog. Each selected entry runs
  * cold (untimed: first-run analysis noise), then warm inside a window
  * fenced on the listener bus, so late events of the cold run stay out
  * of the counts and the warm run's own last events stay in. One JSON
  * line per entry goes to stdout: the warm run's jobs, stages, tasks
  * and wall time, the shape of its planned physical plan (read after
  * the window closes, so it adds no job), the 1-minute load average
  * before and after, and `error` when the cold or warm run threw.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=<dir> scripts/run.sh graft.Profile
  *   SPARK_GRAFT_SF_DIR=<dir> scripts/run.sh graft.Profile explain <query> [mode]
  * `mode` is an `explain` mode (default formatted). SPARK_GRAFT_QUERIES
  * selects entries, SPARK_GRAFT_CPUS the cores (default 4), and
  * SPARK_GRAFT_AUDIT_DETAIL=1 prints each job's stages on stderr.
  */
object Profile {
  type Query = (SparkSession, String) => DataFrame

  /** Counts jobs, stages and tasks on `spark` until closed. */
  final class Profiler(spark: SparkSession, detail: Boolean = false)
      extends SparkListener with AutoCloseable {
    private val jobs = new AtomicInteger(0)
    private val stages = new AtomicInteger(0)
    private val tasks = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (detail) System.err.println(s"[job ${j.jobId}] stages=" +
        s"${j.stageInfos.size} " + j.stageInfos
          .map(s => s"${s.name.take(60)}(${s.numTasks})").mkString(" | "))
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks.toLong); (): Unit
    }

    /** One entry's JSON record. */
    def record(name: String, fn: Query, sfDir: String): String = {
      val cold = run(fn, sfDir)._2
      ListenerBusFence.drain(spark.sparkContext)
      jobs.set(0); stages.set(0); tasks.set(0L)
      val loadBefore = load1()
      val t0 = System.nanoTime()
      val (df, warm) = run(fn, sfDir)
      val sec = (System.nanoTime() - t0) / 1e9
      ListenerBusFence.drain(spark.sparkContext)
      val fields = Seq("jobs" -> jobs.get.toString,
        "stages" -> stages.get.toString, "tasks" -> tasks.get.toString,
        "warm_s" -> String.format(java.util.Locale.ROOT, "%.3f",
          Double.box(sec)),
        "load1_before" -> loadBefore, "load1_after" -> load1()) ++
        df.flatMap(d => Try(planShape(d)).toOption).getOrElse(Nil)
          .map { case (k, n) => k -> n.toString } ++
        warm.orElse(cold).map(e => "error" -> Verify.quote(e))
      (("query" -> Verify.quote(name)) +: fields)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }

    private def run(fn: Query, sfDir: String)
        : (Option[DataFrame], Option[String]) =
      try {
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        (Some(df), None)
      } catch { case NonFatal(e) =>
        (None, Some(e.toString.takeWhile(_ != '\n').take(300)))
      }

    override def close(): Unit = spark.sparkContext.removeSparkListener(this)
  }

  private def load1(): String =
    Try(Files.readString(Paths.get("/proc/loadavg")).split(" ")(0))
      .getOrElse("null")

  private val Node = """(?m)^\(\d+\) (\w+)""".r
  private val CodegenId = """\[codegen id : (\d+)\]""".r

  /** Operator counts of `df`'s planned physical plan (before adaptive
    * re-planning): numbered exchange and join nodes of its formatted
    * explain, and whole-stage-codegen spans as distinct codegen ids. */
  def planShape(df: DataFrame): Seq[(String, Int)] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => CollapseCodegenStages()(a.initialPlan)
      case p => p
    }
    val text = new StringBuilder
    ExplainUtils.processPlan(plan, (s: String) => { text ++= s; (): Unit })
    val nodes = Node.findAllMatchIn(text).map(_.group(1)).toSeq
    Seq("exch" -> "Exchange", "bexch" -> "BroadcastExchange",
      "smj" -> "SortMergeJoin", "bhj" -> "BroadcastHashJoin",
      "shj" -> "ShuffledHashJoin", "bnlj" -> "BroadcastNestedLoopJoin")
      .map { case (k, op) => k -> nodes.count(_ == op) } :+
      ("wsc" -> CodegenId.findAllMatchIn(text).map(_.group(1)).toSet.size)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", usage())
    args.toSeq match {
      case Seq() => profileAll(sfDir)
      case "explain" +: name +: mode if mode.size <= 1 =>
        val fn = SparkEntry.queries.getOrElse(name, usage())
        val spark = Session.local()
        fn(spark, sfDir).explain(mode.headOption.getOrElse("formatted"))
        spark.stop()
      case _ => usage()
    }
  }

  private def profileAll(sfDir: String): Unit = {
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => subset.forall(_.contains(n)) }
    val spark = Session.local()
    // untimed warmup: JVM/codegen/scheduler spin-up otherwise lands on
    // whichever entry runs first
    try SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case NonFatal(_) => }
    val profiler = new Profiler(spark,
      sys.env.get("SPARK_GRAFT_AUDIT_DETAIL").contains("1"))
    selected.foreach { case (name, fn) =>
      println(profiler.record(name, fn, sfDir))
    }
    profiler.close()
    spark.stop()
  }

  private def usage(): Nothing = {
    System.err.println("usage: SPARK_GRAFT_SF_DIR=<dir> graft.Profile " +
      "[explain <query> [mode]]\n  queries: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
    sys.exit(2)
  }
}
