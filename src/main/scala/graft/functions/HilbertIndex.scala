package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: 2-D Hilbert curve index `xy2d` over an
  * 8-bit × 8-bit grid (the classic iterative quadrant-rotation
  * formulation, e.g. Hamilton's "Compact Hilbert Indices" tech report /
  * the standard public-domain xy2d loop) — the data-layout key that
  * strictly dominates Morton/Z-order on range-scan locality: every step
  * of the Hilbert curve moves to an ADJACENT cell (Manhattan distance
  * 1), where the Z-curve takes long diagonal jumps at quadrant
  * boundaries, so consecutive index ranges cover tighter (x, y)
  * rectangles and zone maps prune better.
  *
  * Why an Expression: the 8-level state loop (quadrant bit extraction,
  * gray-coded quadrant offset, conditional reflect + transpose) would be
  * an interpreted 8-element HOF fold per row otherwise; here it is one
  * tight int loop inside whole-stage codegen. The DuckDB oracle replays
  * it as a packed-state `list_reduce` fold — pure integer arithmetic,
  * bit-identical.
  */
case class HilbertIndex(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hilbert_xy2d expects (bigint, bigint), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    HilbertIndex.xy2d(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val rx = ctx.freshName("rx")
      val ry = ctx.freshName("ry")
      val t = ctx.freshName("t")
      s"""
        int $x = (int) ($a & 0xFFL); int $y = (int) ($b & 0xFFL);
        int $d = 0;
        for (int $s = 128; $s > 0; $s >>= 1) {
          int $rx = ($x & $s) > 0 ? 1 : 0;
          int $ry = ($y & $s) > 0 ? 1 : 0;
          $d += $s * $s * ((3 * $rx) ^ $ry);
          if ($ry == 0) {
            if ($rx == 1) { $x = 255 - $x; $y = 255 - $y; }
            int $t = $x; $x = $y; $y = $t;
          }
        }
        ${ev.value} = (long) $d;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HilbertIndex {
  /** Reference implementation (shared by nullSafeEval and the specs).
    * Inputs are masked to the 8-bit grid ([0, 255]) — an out-of-range
    * coordinate wraps instead of silently producing a garbage index from
    * stray high bits (the codegen path applies the same mask). */
  def xy2d(xIn: Long, yIn: Long): Long = {
    var x = (xIn & 0xFFL).toInt
    var y = (yIn & 0xFFL).toInt
    var d = 0
    var s = 128
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = 255 - x; y = 255 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d.toLong
  }
}
