package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expression: random-hyperplane LSH signature — bit p of
  * the result is the sign of `dot(vec, planes(p))`. One fused loop over
  * all planes under whole-stage codegen, replacing `nPlanes` interpreted
  * `aggregate(zip_with(...))` folds per row on the corpus-wide signature
  * pass of the LSH similarity operators.
  *
  * The plane matrix rides along as a boxed reference object (it is
  * config, not data — never shipped per row).
  */
case class HyperplaneSignature(child: Expression,
    planes: Array[Array[Double]]) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig expects array<double>, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    var sig = 0
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      val n = math.min(plane.length, vec.numElements())
      var dot = 0.0
      var i = 0
      while (i < n) { dot += vec.getDouble(i) * plane(i); i += 1 }
      if (dot >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val sig = ctx.freshName("sig")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val plane = ctx.freshName("plane")
      s"""
        int $sig = 0;
        for (int $p = 0; $p < $planesRef.length; $p++) {
          double[] $plane = $planesRef[$p];
          int $n = java.lang.Math.min($plane.length, $v.numElements());
          double $dot = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $dot += $v.getDouble($i) * $plane[$i];
          }
          if ($dot >= 0) $sig |= (1 << $p);
        }
        ${ev.value} = $sig;
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneSignature {
  /** The signature of `vec` under one fixed plane matrix, as a Column
    * built straight from the Expression: no registry name, so several
    * signature widths (the 16-bit top-k signature next to the adaptive
    * per-band near-dup signatures) coexist in one plan, each with its
    * own planes. */
  def column(vec: Column, planes: Array[Array[Double]]): Column =
    GraftBridge.column(HyperplaneSignature(GraftBridge.expression(vec), planes))
}
