package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev loop only): comma-separated query names to
    // restrict the dump to; the driver always uses the 2-arg form
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
      case _ =>
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [query1,query2,...]")
        sys.exit(2)
    }
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // a failed fit fails its entries' compare loudly, not the dump
    val dataset = try SparkEntry.datasetOracleSql(spark, sfDir)
    catch { case e: Exception =>
      System.err.println(s"[verify] dataset oracles failed: ${e.getMessage}")
      SparkEntry.datasetOracleKeys.map(k =>
        k -> s"SELECT 'dataset oracle of $k failed - see the Verify log' AS err")
        .toMap
    }
    val json = (SparkEntry.oracleSql ++ dataset)
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string literal. Escapes backslash, quote, and ALL control
    * chars (<0x20): a tab or CR in authored SQL would otherwise make a
    * consumer's json.load fail. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
