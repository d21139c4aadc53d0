package graft

import org.apache.spark.sql.SparkSession
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
}
