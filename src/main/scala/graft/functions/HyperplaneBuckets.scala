package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All LSH table buckets of a vector in one compiled pass.
  *
  * The Column composition this replaces — per table, per plane, a
  * `dot_product(emb, typedLit(plane))` wrapped in `when(...)` and
  * summed — inlines tables × planes × dim literal doubles into the
  * plan tree. That is semantically fine but structurally hostile at
  * scale: planes grow with log n (the auto-p blocking), so a 100-TB
  * corpus needs ~24 planes × 8 tables × 64 dims ≈ 12k literals, and
  * analysis + Janino compilation of that projection dominated the
  * cold run (measured ~27 s at sf0.001, >100 s at sf0.01 — against
  * ~1 s warm execution). Here the planes ship as ONE referenced
  * double[] (`ctx.addReferenceObj`), the loop is compiled code, and
  * plan size is independent of the plane count.
  *
  * Bucket semantics are bit-identical to the composition: per table,
  * bit i set iff the left-to-right IEEE dot of the vector with plane
  * i is strictly positive — the same accumulation order as
  * [[DotProduct]], so every bucket id (and thus every downstream
  * pair) is unchanged and the inlined-literal DuckDB oracles remain
  * valid. A null element or a dim mismatch yields null (callers
  * fail fast on dim before this runs).
  */
case class HyperplaneBuckets(child: Expression,
    planes: Seq[Seq[Seq[Double]]]) extends UnaryExpression {
  require(planes.nonEmpty && planes.head.nonEmpty,
    "need at least one table with one plane")
  require(planes.forall(_.length == planes.head.length) &&
    planes.flatten.forall(_.length == planes.head.head.length),
    "ragged plane matrix")
  // bucket ids are one int bitmap per table: `b |= 1 << p` wraps
  // silently at p >= 32 (1 << 32 == 1 in JVM semantics), which would
  // merge buckets with no visible error. EmbedDupSpec.planes caps its
  // derived plane count at 24, but direct callers can pass anything.
  require(planes.head.length <= 31,
    s"at most 31 planes per table (got ${planes.head.length}): " +
    "bucket ids are int bitmaps")

  private val tables = planes.length
  private val perTable = planes.head.length
  private val dim = planes.head.head.length
  // flat [table][plane][dim] layout, shipped once per task via
  // reference, not as plan literals
  @transient private lazy val flat: Array[Double] =
    planes.flatten.flatten.toArray

  override def dataType: DataType = ArrayType(IntegerType, false)
  override def nullable: Boolean = true
  override def prettyName: String = "hyperplane_buckets"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double>, got ${t.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (a.numElements() != dim) return null
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var b = 0
      var p = 0
      while (p < perTable) {
        var acc = 0.0
        val base = (t * perTable + p) * dim
        var j = 0
        while (j < dim) {
          if (a.isNullAt(j)) return null
          acc += a.getDouble(j) * flat(base + j)
          j += 1
        }
        if (acc > 0) b |= 1 << p
        p += 1
      }
      out(t) = b
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("planesFlat", flat, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val p = ctx.freshName("p")
      val j = ctx.freshName("j")
      val b = ctx.freshName("b")
      val acc = ctx.freshName("acc")
      val base = ctx.freshName("base")
      s"""
         |if ($a.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  int[] $out = new int[$tables];
         |  outer:
         |  for (int $t = 0; $t < $tables; $t++) {
         |    int $b = 0;
         |    for (int $p = 0; $p < $perTable; $p++) {
         |      double $acc = 0.0;
         |      int $base = ($t * $perTable + $p) * $dim;
         |      for (int $j = 0; $j < $dim; $j++) {
         |        if ($a.isNullAt($j)) { ${ev.isNull} = true; break outer; }
         |        $acc += $a.getDouble($j) * $flatRef[$base + $j];
         |      }
         |      if ($acc > 0) $b |= 1 << $p;
         |    }
         |    $out[$t] = $b;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} =
         |      new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : HyperplaneBuckets = copy(child = newChild)
}

object HyperplaneBuckets {
  def apply(emb: Column, planes: Seq[Seq[Seq[Double]]]): Column =
    GraftShims.toColumn(new HyperplaneBuckets(
      GraftShims.toExpression(emb), planes))
}
