package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.graft.ListenerBusFence
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-query JOB/STAGE/TASK audit (round 16, verdict item 8): the
  * anti-scaling entries are chains of sequential sub-second jobs, so
  * the lever is the JOB COUNT, not task parallelism. This main runs
  * each selected query twice (cold then warm) with a listener counting
  * jobs, stages and tasks, and prints one line per query — the table
  * that tells us which entries launch more jobs than their algorithm
  * has iterations.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32
  *        SPARK_GRAFT_QUERIES=a,b,c scripts/run.sh graft.JobAudit
  */
object JobAudit {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    val detail = sys.env.get("SPARK_GRAFT_AUDIT_DETAIL").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (detail) System.err.println(
          s"[job ${j.jobId}] stages=${j.stageInfos.size} " +
            j.stageInfos.map(s => s"${s.name.take(60)}(${s.numTasks})")
              .mkString(" | "))
        (): Unit
      }
      override def onStageCompleted(s: SparkListenerStageCompleted)
          : Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong); (): Unit
      }
    })
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => subset.forall(_.contains(n)) }
    // warmup so codegen/scheduler spin-up doesn't pollute the counts
    try SparkEntry.queries.get("q1_pricing_summary")
      .foreach(_(spark, sfDir).write.format("noop").mode("overwrite")
        .save())
    catch { case _: Throwable => }
    println(f"${"query"}%-28s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%7s " +
      f"${"warm_s"}%7s")
    selected.foreach { case (name, fn) =>
      // cold pass (not reported: first-run analysis noise)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[audit] $name cold failed: ${e.getMessage}")
      }
      // warm measured pass: the listener events for a job arrive
      // asynchronously; fencing the bus before the reset keeps late
      // cold-pass events out of the warm counts, and before reading
      // keeps the warm pass's own last events in
      ListenerBusFence.drain(spark.sparkContext)
      jobs.set(0); stages.set(0); tasks.set(0L)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[audit] $name warm failed: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      ListenerBusFence.drain(spark.sparkContext)
      println(f"$name%-28s ${jobs.get()}%5d ${stages.get()}%5d " +
        f"${tasks.get()}%7d $sec%7.2f")
    }
    spark.stop()
  }
}
