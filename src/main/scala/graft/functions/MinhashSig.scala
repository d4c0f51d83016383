package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: the full MinHash signature of a token
  * array — token 3-gram shingles, [[PolyHash]] base hash per shingle,
  * 16 permutation minima under the affine family
  * `h_p(s) = ((2p+1)·ph(s) + 7919p) mod 1e9+7` — in ONE fused JVM kernel.
  * Returns `array<bigint>` of length 16, or NULL for documents with
  * fewer than 3 tokens (no shingles — the row drops out, matching the
  * empty aggregation group of the historical window route).
  *
  * Why custom: the composable routes are either a posexplode → lead
  * window → 16-way min aggregate (a full per-document SHUFFLE before
  * signing, and forbidden inside a streaming micro-batch) or an
  * interpreted `transform(sequence(0,15), p -> array_min(transform(...)))`
  * HOF tree (measured ~5× slower per document — it re-hashes every
  * shingle 16 times through interpreted lambda calls). Here each token
  * is byte-hashed ONCE; shingle hashes compose from per-token rolling
  * hashes in O(1) via `ph(a ++ b) = (ph(a)·31^len(b) + ph(b)) mod P`,
  * and the 16 minima update in registers. Map-only, so the batch build,
  * the streaming ingest, and the tombstone re-sign all share this one
  * signing kernel with zero pre-sign exchange.
  *
  * Bit-identical to `poly_hash(shingle, 1<<20)` + the SQL permutation
  * formula (the DuckDB oracle replays that route): the composition is
  * exact modular arithmetic, and a shingle at/over the 1 MiB poly_hash
  * prefix cap falls back to the direct capped byte fold.
  */
case class MinhashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val mins = MinhashSig.compute(v.asInstanceOf[ArrayData])
    if (mins == null) null else new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val mins = ctx.freshName("mins")
      s"""
        long[] $mins = graft.functions.MinhashSig.compute($v);
        if ($mins == null) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} =
            new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
        }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSig {
  /** Signature width / banding geometry — the single source of truth
    * consumed by `Dedup.NPerm`. */
  val NPerm = 16

  private val P = 1000000007L
  /** poly_hash prefix cap (bytes) the shingle hash must honor. */
  private val Cap = 1 << 20

  /** The kernel — called from both the interpreted eval and the generated
    * code (one virtual call per row; the loops JIT as tight byte/long
    * loops either way). Returns null when the document has no 3-gram
    * shingle, or when any token is NULL — `minhash_sig` is callable
    * from any SQL text, where `array('a', NULL, 'b')` is easy to
    * construct; a null token means unknown content, so the signature is
    * unknown (internal callers split on non-null text and never hit
    * this). */
  def compute(arr: ArrayData): Array[Long] = {
    val n = arr.numElements()
    if (n < 3) return null
    // Pass 1: per-token rolling hash + 31^len mod P (each token's bytes
    // are touched exactly once, not once per containing shingle).
    val hashes = new Array[Long](n)
    val pows = new Array[Long](n)
    val lens = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val bytes = arr.getUTF8String(i).getBytes
      var acc = 0L
      var pw = 1L
      var k = 0
      while (k < bytes.length) {
        acc = (acc * 31 + (bytes(k) & 0xff)) % P
        pw = pw * 31 % P
        k += 1
      }
      hashes(i) = acc
      pows(i) = pw
      lens(i) = bytes.length.toLong
      i += 1
    }
    val mins = new Array[Long](NPerm)
    java.util.Arrays.fill(mins, Long.MaxValue)
    i = 0
    while (i <= n - 3) {
      // ph("a b c") composed from per-token hashes: exact mod arithmetic,
      // every intermediate < P² < Long.MaxValue.
      val base =
        if (lens(i) + lens(i + 1) + lens(i + 2) + 2 <= Cap) {
          var acc = hashes(i)
          acc = (acc * 31 + 32) % P
          acc = (acc * pows(i + 1) + hashes(i + 1)) % P
          acc = (acc * 31 + 32) % P
          acc = (acc * pows(i + 2) + hashes(i + 2)) % P
          acc
        } else cappedShingleHash(arr, i)
      var p = 0
      while (p < NPerm) {
        val v = (base * (2 * p + 1) + 7919L * p) % P
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    mins
  }

  /** Fallback for a shingle at/over the poly_hash prefix cap: the direct
    * byte fold over `tok[i] ++ ' ' ++ tok[i+1] ++ ' ' ++ tok[i+2]`,
    * stopping after Cap bytes — byte-identical to
    * `poly_hash(concat_ws(' ', ...), Cap)`. */
  private def cappedShingleHash(arr: ArrayData, i: Int): Long = {
    var acc = 0L
    var consumed = 0
    var j = 0
    while (j < 3 && consumed < Cap) {
      if (j > 0) {
        acc = (acc * 31 + 32) % P
        consumed += 1
        if (consumed >= Cap) return acc
      }
      val bytes = arr.getUTF8String(i + j).getBytes
      var k = 0
      while (k < bytes.length && consumed < Cap) {
        acc = (acc * 31 + (bytes(k) & 0xff)) % P
        consumed += 1
        k += 1
      }
      j += 1
    }
    acc
  }
}
