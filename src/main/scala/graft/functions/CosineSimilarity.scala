package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** Native Catalyst expression: cosine similarity between two
  * `array<double>` columns in a single fused loop (dot + both norms), with
  * full whole-stage codegen via `doGenCode`.
  *
  * Why custom: the composable route
  * (`aggregate(zip_with(...))` — `VectorFunctions.cosine`) evaluates
  * interpreted lambda closures per element; on the ANN hot path (millions
  * of pairs × 64 dims) that interpretation dominates. This expression
  * compiles to a tight primitive-double loop inside the generated code —
  * the "(b) custom Catalyst Expression" tier of the extension preference
  * order. Same result bit-for-bit as the HOF version (same accumulation
  * order).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_sim expects (array<double>, array<double>), got " +
            s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i)
      val yv = y.getDouble(i)
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $nx = 0.0, $ny = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xv = $a.getDouble($i);
          double $yv = $b.getDouble($i);
          $dot += $xv * $yv;
          $nx += $xv * $xv;
          $ny += $yv * $yv;
        }
        ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
