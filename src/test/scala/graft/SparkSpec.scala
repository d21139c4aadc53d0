package graft

import org.apache.spark.graft.ListenerBusFence
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one local JVM session, UTC, small
  * shuffle fan-out. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** `f` in reliable checkpoint mode (a fresh temp checkpoint dir),
    * which forces the distributed form of every loop that otherwise
    * runs on the driver within its bound. */
  protected def inReliableMode[T](f: => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_reliable")
    try {
      spark.conf.set(graft.ext.Ckpt.ModeKey, "reliable")
      spark.conf.set(graft.ext.Ckpt.DirKey, dir.toString)
      f
    } finally {
      spark.conf.unset(graft.ext.Ckpt.ModeKey)
      spark.conf.unset(graft.ext.Ckpt.DirKey)
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  /** `body`'s value and the executed plan of every action it ran, in
    * order — also the `localCheckpoint` action and the actions that
    * filled a persist, whose returned frame no longer carries the plan
    * that computed it. */
  protected def executedPlans[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[SparkPlan]())
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        // `Dataset.rdd` reports its conversion too, which reads nothing
        // (`TrainingData.spread` only asks it for the partition count)
        if (funcName != "rdd") plans.add(qe.executedPlan): Unit
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    // events of earlier actions still queued would reach the listener
    ListenerBusFence.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      ListenerBusFence.drain(spark.sparkContext)
      (out, plans.toArray(Array.empty[SparkPlan]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
