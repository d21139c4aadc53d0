package graft

import org.apache.spark.sql.SparkSession

/** The local session Verify and Profile run in: `local[cpus]` with a
  * matching shuffle fan-out, UTC, no UI. `cpus` comes from
  * SPARK_GRAFT_CPUS (default 4). */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
