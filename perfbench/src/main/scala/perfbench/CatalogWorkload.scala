package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** Catalog entries run through `SparkEntry.queries`: each op calls the
  * entry's function (timed as `build`, which includes any eager fit or
  * checkpoint jobs) and then forces every output column with a `noop`
  * write (timed as `action`). The untimed check compares the output's
  * row count and order-independent hash with values recorded from the
  * engine, which were cross-checked against the DuckDB oracle. */
final class CatalogWorkload(spec: CatalogWorkload.Spec) extends Workload {
  private var spark: SparkSession = _
  private var dir: File = _
  private lazy val expected: Map[String, (Long, String)] = CatalogWorkload.expected(spec.name)

  def inputs: String = s"${spec.entries.size} entries over ${CatalogData.describe}"

  def setup(s: SparkSession, d: File, seed: Long): Unit = {
    spark = s
    dir = d
    CatalogData.generate(s, d)
  }

  override def discard(): Unit = Files.delete(dir)

  def warmPasses(seconds: Int): Int =
    math.max(2, math.round((seconds - spec.nominalFirstS) / spec.nominalPassS).toInt)

  /** The seed fixes the order of the entries in every pass, so a hidden
    * dependence on what already ran in this JVM fails the check. */
  def ops(pass: Int, seed: Long): Seq[Op] = {
    val order = new scala.util.Random(seed * 1000003L + pass).shuffle(spec.entries)
    val path = dir.getPath
    order.map { entry =>
      Op(entry, sample = true, calls => {
        val fn = SparkEntry.queries(entry)
        val df = calls("build", entry)(fn(spark, path))
        calls("action", entry)(df.write.format("noop").mode("overwrite").save())
        () => check(entry, df)
      })
    }
  }

  private def check(entry: String, df: DataFrame): Check = {
    val (rows, hash) = CatalogWorkload.digest(df)
    val got = java.lang.Long.toUnsignedString(hash)
    val errors = expected.get(entry) match {
      case None => Seq(s"no expected digest for $entry")
      case Some((r, h)) =>
        if (r != rows || h != got) Seq(s"digest rows=$rows hash=$got, expected rows=$r hash=$h")
        else Nil
    }
    Check(errors, Map("output.rows" -> rows.toDouble),
      Seq("hash" -> Json.str(got), "rows" -> rows.toString))
  }
}

object CatalogWorkload {
  final case class Spec(name: String, entries: Seq[String],
      nominalFirstS: Double, nominalPassS: Double)

  /** Two of the iterative LLM-data entries that launch the most jobs
    * (52 and 47 sequential one-stage jobs at sf0.1): graph BFS and
    * incremental semantic dedup. Here the per-job floor dominates. */
  val Iterative = Spec("catalog_iterative", Seq("g_bfs", "d_semdedup_incremental"),
    nominalFirstS = 12.0, nominalPassS = 6.5)

  /** Row count and an order-independent hash of a frame: the sum over
    * rows of a 64-bit hash of the row, columns taken in name order and
    * floating-point values rendered to ten significant digits so that
    * summation order cannot flip the last bit. */
  def digest(df: DataFrame): (Long, Long) = {
    val fields = df.schema.fields.sortBy(_.name)
    val cols = fields.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(BigDecimal(0)))).head()
    val total = r.getDecimal(1).toBigInteger
    (r.getLong(0), total.longValue())
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(c.isNull, lit(null).cast(StringType))
        .otherwise(format_string("%.9e", c.cast(DoubleType)))
    case ArrayType(et, _) if hasFloat(et) => transform(c, x => canon(x, et))
    case StructType(fs) if fs.exists(f => hasFloat(f.dataType)) =>
      struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => hasFloat(et)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case _ => false
  }

  /** Expected (rows, unsigned hash) per entry, from the resource file
    * `expected/<workload>.json` next to the benchmark sources. */
  def expected(workload: String): Map[String, (Long, String)] = {
    val f = new File(sys.props.getOrElse("perfbench.expected", "expected"), s"$workload.json")
    if (!f.exists()) return Map.empty
    val text = java.nio.file.Files.readString(f.toPath)
    val entry = """"([a-z0-9_]+)":\{"hash":"(\d+)","rows":(\d+)\}""".r
    entry.findAllMatchIn(text.replaceAll("\\s", ""))
      .map(m => m.group(1) -> ((m.group(3).toLong, m.group(2)))).toMap
  }
}

object Files {
  def delete(f: File): Unit = if (f != null && f.exists()) {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
