package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** Native Catalyst expression: probe a PACKED Bloom-filter bitmap with the
  * graft sketch-hash family (`((key mod P) · A_i + B_i) mod P mod m`,
  * k = 4 — the same portable integer formula the DuckDB oracle replays,
  * see graft.operators.Sketches).
  *
  * Why custom: the composable route probes a (word → bits) row table with
  * 4 broadcast hash joins — correct and broadcast-safe, but a production
  * runtime filter is ONE packed long[] probed by an expression (this is
  * the shape of Spark's own BloomFilterMightContain runtime filter). The
  * bitmap rides the serialized expression in the task binary, which Spark
  * broadcasts once per stage — at the 2^27-bit cap that is a 16 MiB
  * long[], the same order as a broadcast-join build side, and the probe
  * itself is 4 multiply-mod-shift-AND steps inside whole-stage codegen
  * with zero joins.
  *
  * Bit layout matches the row-table build exactly: bit `pos` lives in
  * 32-bit word `pos / 32` at in-word offset `pos % 32` (32-bit words in a
  * BIGINT keep every shift positive on both engines); here two of those
  * words pack into one long[] slot (`words(pos >>> 6)`, offset
  * `pos & 63`), which preserves the positions because word w bit b ↔
  * global bit 32w+b on both layouts.
  */
case class BloomMightContain(child: Expression, words: Array[Long],
    mBits: Int) extends UnaryExpression {

  require(mBits >= 1 && mBits <= 27, s"mBits out of range: $mBits")
  require(words.length.toLong * 64 >= (1L << mBits),
    s"bitmap too small: ${words.length} longs for 2^$mBits bits")

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain expects bigint, got ${other.catalogString}")
    }

  private val m = 1L << mBits

  override def nullSafeEval(key: Any): Any = {
    // pmod, not %: a signed remainder on a negative key would drive pos
    // negative and the word index out of bounds (fixture keys are
    // nonnegative, but the probe takes any BIGINT column)
    val k = (key.asInstanceOf[Long] % BloomMightContain.P +
      BloomMightContain.P) % BloomMightContain.P
    var i = 0
    while (i < 4) {
      val pos = (k * BloomMightContain.A(i) + BloomMightContain.B(i)) %
        BloomMightContain.P % m
      if ((words((pos >>> 6).toInt) & (1L << (pos & 63L).toInt)) == 0L)
        return false
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, key => {
      val w = ctx.addReferenceObj("bloomWords", words, "long[]")
      val k = ctx.freshName("k")
      val pos = ctx.freshName("pos")
      val hit = ctx.freshName("hit")
      val i = ctx.freshName("i")
      val a = ctx.addReferenceObj("bloomA", BloomMightContain.A, "long[]")
      val b = ctx.addReferenceObj("bloomB", BloomMightContain.B, "long[]")
      s"""
        long $k = ($key % ${BloomMightContain.P}L + ${BloomMightContain.P}L)
          % ${BloomMightContain.P}L;
        boolean $hit = true;
        for (int $i = 0; $i < 4 && $hit; $i++) {
          long $pos = ($k * $a[$i] + $b[$i]) % ${BloomMightContain.P}L % ${m}L;
          $hit = ($w[(int) ($pos >>> 6)] & (1L << (int) ($pos & 63L))) != 0L;
        }
        ${ev.value} = $hit;
      """
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object BloomMightContain {
  /** Public mixing constants — MUST stay identical to Sketches.hashPos
    * and the DuckDB oracle's h(i, a, bb) VALUES table. */
  val P = 1000000007L
  val A: Array[Long] =
    Array(2654435761L, 2246822519L, 3266489917L, 668265263L)
  val B: Array[Long] = Array.tabulate(4)(i => 10007L * i + 1L)

  /** Probe `key` against one fitted bitmap. The bitmap is model state,
    * not an expression argument, so the probe is a Column built straight
    * from the Expression: no registry name, so two bitmaps in one session
    * (or one plan) never clobber each other. */
  def column(key: Column, words: Array[Long], mBits: Int): Column =
    GraftBridge.column(
      BloomMightContain(GraftBridge.expression(key), words, mBits))
}
