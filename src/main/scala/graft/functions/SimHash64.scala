package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native 64-bit SimHash over a token array.
  *
  * Semantics identical to the test-side `HofReference.simHash` — per
  * token, xxhash64 (seed 42, matching the builtin `xxhash64`) casts a
  * +-1 vote on each of 64 bit positions; the signature sets bit b iff
  * the vote sum is positive. The HOF form evaluates 64 nested
  * aggregates over the token array per row (O(64 x n) Catalyst lambda
  * dispatches); this expression makes one pass with 64 int counters in
  * a static helper called from generated code, keeping the projection
  * inside whole-stage codegen.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${t.simpleString(10)}")
    }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : SimHash64 = copy(newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {

  private val Seed = 42L // the builtin xxhash64 default seed

  /** One pass: hash each token, accumulate per-bit votes, pack signs. */
  def compute(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val s = tokens.getUTF8String(i)
        val h = XXH64.hashUTF8String(s, Seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1
          else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}
