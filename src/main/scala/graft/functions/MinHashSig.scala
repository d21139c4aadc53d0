package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd MinHash signature: given an array of pre-hashed shingles
  * (longs in [0, p)), produces `numHashes` permutation minima
  * min_j = MIN_h (a_j·h + b_j) mod p with a_j = 2j+1, b_j = 7919(j+1),
  * p = 2^31−1 — the same family as the HOF reference in DedupSpec.
  *
  * The HOF formulation (`numHashes` × `array_min(transform(...))`)
  * walks the shingle array once per permutation through interpreted
  * lambdas; this expression computes all minima in a single compiled
  * pass — O(|sh|·k) tight-loop multiply-adds, no per-step allocation.
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {

  private val P = 2147483647L

  override def dataType: DataType = ArrayType(LongType, false)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint>, got ${t.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      val h = arr.getLong(i)
      var j = 0
      while (j < numHashes) {
        val v = ((2L * j + 1) * h + 7919L * (j + 1)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val gad = classOf[GenericArrayData].getName
      s"""
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $j = 0; $j < $numHashes; $j++) {
         |    long $v = ((2L * $j + 1) * $h + 7919L * ($j + 1)) % ${P}L;
         |    if ($v < $mins[$j]) $mins[$j] = $v;
         |  }
         |}
         |${ev.value} = new $gad($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : MinHashSig = copy(child = newChild)
}

object MinHashSig {
  def minhash_sig(hashes: Column, numHashes: Int): Column =
    GraftShims.toColumn(MinHashSig(GraftShims.toExpression(hashes),
      numHashes))
}
