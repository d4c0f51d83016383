package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: the splitmix64 finalizer (Steele et al.,
  * "Fast Splittable Pseudorandom Number Generators", OOPSLA 2014) —
  * full-avalanche 64-bit integer mixing:
  *
  * {{{
  * z = x + 0x9E3779B97F4A7C15
  * z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9
  * z = (z ^ (z >>> 27)) * 0x94D049BB133111EB
  * z ^ (z >>> 31)
  * }}}
  *
  * Why custom: the repo's multiply-add-mod-P hash family is fine for
  * BUCKETING (any permutation spreads keys across partitions) but not
  * for LEADING-ZERO statistics — an affine map mod P is a rigid Weyl
  * rotation whose image of a structured key set is not equidistributed
  * at fine scales, so P(value < 2^b) ≠ 2^b/2^w and a HyperLogLog built
  * on it biases hard (measured +29% on the fixtures). splitmix64 is the
  * canonical finalizer for rho-based sketches. Spark's own `xxhash64`
  * would also do — but its registers could not be replayed by the
  * DuckDB oracle, which is the point of the portable-sketch tier.
  *
  * Why an Expression and not Column math: ANSI mode (Spark 4 default)
  * makes `*`/`+` on longs THROW on overflow; the finalizer NEEDS
  * wrap-around semantics. Java arithmetic wraps natively — one codegen'd
  * statement sequence, no boxing, stays inside whole-stage codegen. The
  * DuckDB oracle replays it bit-exactly with HUGEINT mod-2^64 arithmetic
  * on UBIGINT values (two's-complement wrap == unsigned mod 2^64; see
  * the q_hll_distinct oracle in SparkEntry).
  */
case class Mix64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"mix64 expects bigint, got ${t.catalogString}")
    }

  override def nullSafeEval(x: Any): Any =
    Mix64.mix(x.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val z = ctx.freshName("z")
      s"""
        long $z = $x + 0x9E3779B97F4A7C15L;
        $z = ($z ^ ($z >>> 30)) * 0xBF58476D1CE4E5B9L;
        $z = ($z ^ ($z >>> 27)) * 0x94D049BB133111EBL;
        ${ev.value} = $z ^ ($z >>> 31);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Mix64 {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
