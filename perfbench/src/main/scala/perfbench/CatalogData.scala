package perfbench

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic synthetic inputs for the catalog entries, in the
  * shape of the engine's TPC-H-like test tables at scale factor 0.01:
  * orders and lineitem (the graph entry's customer–supplier edges) and
  * embeddings (the semantic-dedup entry). Rows are drawn in the
  * benchmark JVM from a fixed-seed generator per table and written as
  * one parquet file per table, so every run writes the same values. */
object CatalogData {
  val Orders = 15000
  val Lineitems = 60000
  val Customers = 1500
  val Suppliers = 100
  val Parts = 2000
  val Embeddings = 500
  val Dim = 64
  val Labels = 10

  def describe: String =
    s"orders=$Orders lineitem=$Lineitems embeddings=${Embeddings}x$Dim (sf0.01 shape)"

  private val Day = 86400000L
  private val Epoch1995 = 788918400000L // 1995-01-01T00:00:00Z

  def generate(spark: SparkSession, dir: File): Unit = {
    def write(name: String, schema: StructType)(rows: java.util.Random => Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(
        rows(new java.util.Random(name.hashCode.toLong)), 1), schema)
        .write.mode("overwrite").parquet(new File(dir, s"$name.parquet").getPath)
    def pick[T](r: java.util.Random, v: Seq[T]): T = v(r.nextInt(v.size))
    def money(r: java.util.Random, lo: Double, span: Double) =
      math.round((lo + r.nextDouble() * span) * 100) / 100.0
    def field(n: String, t: DataType) = StructField(n, t)

    write("orders", StructType(Seq(field("o_orderkey", LongType),
      field("o_custkey", LongType), field("o_orderstatus", StringType),
      field("o_totalprice", DoubleType), field("o_orderdate", TimestampType),
      field("o_orderpriority", StringType)))) { r =>
      (0 until Orders).map(i => Row(i.toLong, r.nextInt(Customers).toLong,
        pick(r, Seq("F", "O", "P")), money(r, 1000, 499000),
        new Timestamp(Epoch1995 + r.nextInt(2404) * Day),
        pick(r, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))))
    }

    write("lineitem", StructType(Seq(field("l_orderkey", LongType),
      field("l_partkey", LongType), field("l_suppkey", LongType),
      field("l_linenumber", IntegerType), field("l_quantity", DoubleType),
      field("l_extendedprice", DoubleType), field("l_discount", DoubleType),
      field("l_tax", DoubleType), field("l_returnflag", StringType),
      field("l_linestatus", StringType), field("l_shipdate", TimestampType)))) { r =>
      (0 until Lineitems).map(_ => Row(r.nextInt(Orders).toLong,
        r.nextInt(Parts).toLong, r.nextInt(Suppliers).toLong, 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, money(r, 900, 104000), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, pick(r, Seq("A", "N", "R")), pick(r, Seq("F", "O")),
        new Timestamp(Epoch1995 + (1 + r.nextInt(2498)) * Day)))
    }

    // Unit vectors scattered around one random centre per label.
    write("embeddings", StructType(Seq(field("vec_id", LongType),
      field("embedding", ArrayType(FloatType, containsNull = false)),
      field("label", IntegerType)))) { r =>
      val centres = Vector.fill(Labels, Dim)(r.nextGaussian())
      (0 until Embeddings).map { i =>
        val label = r.nextInt(Labels)
        val v = centres(label).map(c => 0.35 * c + r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat), label)
      }
    }
  }
}
