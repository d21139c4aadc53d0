package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory,
  CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Every day's availability bitmap of one row in one call: over the
  * slot columns in the given order, bitmap `d` has '1' at position `i`
  * iff slot `i`'s comma-separated list names `days(d)`, and is
  * '0'-padded to `width` characters.
  *
  * Exactly the Column formula
  * `rpad(concat(slots.map(s => when(exists(split(coalesce(s, ''), ','),
  * x => lower(trim(x)) === day), '1').otherwise('0'))), width, '0')`
  * once per day — the same `UTF8String.split`, space-only `trim` and
  * `Lower` case mapping (ICU or not, as `Lower` reads it from the
  * session), a NULL slot mentioning nothing. That formula compiles
  * into days × slots interpreted HOFs (210 for the reference sheet)
  * in one multi-thousand-line projection; here the generated code
  * only gathers the slots and calls [[bitmaps]], and each token is
  * trimmed and lowercased once for all days.
  */
case class DayBitmaps(slots: Seq[Expression], days: Seq[String],
    width: Int) extends Expression {
  require(slots.size <= width,
    s"${slots.size} slot columns exceed the $width-character bitmap")

  @transient private lazy val dayKeys: Array[UTF8String] =
    days.map(d => UTF8String.fromString(d.toLowerCase)).toArray
  private lazy val useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def children: Seq[Expression] = slots
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, false)
  override def prettyName: String = "day_bitmaps"

  override def checkInputDataTypes(): TypeCheckResult =
    slots.find(!_.dataType.isInstanceOf[StringType]) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(e) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string slots, got ${e.dataType.simpleString}")
    }

  /** The per-row kernel; `row(i)` is slot i's value or null. */
  def bitmaps(row: Array[UTF8String], icu: Boolean): ArrayData = {
    val bits = Array.fill(dayKeys.length, width)('0'.toByte)
    var i = 0
    while (i < row.length) {
      if (row(i) != null) {
        val toks = row(i).split(DayBitmaps.Comma, -1)
        var t = 0
        while (t < toks.length) {
          val tok = CollationSupport.Lower.exec(toks(t).trim(),
            CollationFactory.UTF8_BINARY_COLLATION_ID, icu)
          var d = 0
          while (d < dayKeys.length) {
            if (tok == dayKeys(d)) bits(d)(i) = '1'.toByte
            d += 1
          }
          t += 1
        }
      }
      i += 1
    }
    new GenericArrayData(bits.map(b => UTF8String.fromBytes(b)))
  }

  override def eval(input: InternalRow): Any =
    bitmaps(slots.map(_.eval(input).asInstanceOf[UTF8String]).toArray,
      useICU)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("dayBitmaps", this,
      classOf[DayBitmaps].getName)
    val row = ctx.freshName("slots")
    val gather = slots.zipWithIndex.map { case (s, i) =>
      val e = s.genCode(ctx)
      s"""${e.code}
         |$row[$i] = ${e.isNull} ? null : ${e.value};""".stripMargin
    }.mkString("\n")
    ev.copy(code = code"""
      |UTF8String[] $row = new UTF8String[${slots.size}];
      |$gather
      |ArrayData ${ev.value} = $kernel.bitmaps($row, $useICU);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DayBitmaps =
    copy(slots = newChildren)
}

object DayBitmaps {
  private val Comma = UTF8String.fromString(",")

  def day_bitmaps(slots: Seq[Column], days: Seq[String],
      width: Int): Column =
    GraftShims.toColumn(DayBitmaps(
      slots.map(GraftShims.toExpression), days, width))
}
