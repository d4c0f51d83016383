package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.col
import graft.functions.{BloomMightContain, HilbertIndex, MinhashSig, Mix64,
  PolyHash}

/** Function binding: GraftExtensions is the one path that binds graft
  * function names (and the planner strategy), every session and child
  * session gets them without a per-call registration, and the
  * data-bound expressions (Bloom bitmap, hyperplane planes) are Columns
  * that cannot clobber each other through a shared name. */
class GraftExtensionsSpec extends SparkSpec {

  private val arity = Seq("cosine_sim" -> 2, "poly_hash" -> 2, "mix64" -> 1,
    "hilbert_xy2d" -> 2, "minhash_sig" -> 1)

  test("a fresh child session resolves every graft function and plans" +
      " with GraftStrategies, with no register call") {
    val s2 = spark.newSession()
    arity.foreach { case (name, _) =>
      assert(s2.catalog.functionExists(name), s"$name not bound")
    }
    assert(s2.sessionState.planner.strategies
      .contains(graft.plans.GraftStrategies))
    val r = s2.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)), " +
        "cosine_sim(array(1.0d, 0.0d), array(0.0d, 1.0d)), " +
        "poly_hash('graft', 3), mix64(42L), hilbert_xy2d(3L, 5L), " +
        "minhash_sig(array('a', 'b', 'c', 'd'))").collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12) // orthogonal → 0
    assert(r.getLong(2) == PolyHash.hash("graft", 3))
    assert(r.getLong(3) == Mix64.mix(42L))
    assert(r.getLong(4) == HilbertIndex.xy2d(3L, 5L))
    val tokens = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Seq("a", "b", "c", "d")
        .map(org.apache.spark.unsafe.types.UTF8String.fromString))
    assert(r.getSeq[Long](5) == MinhashSig.compute(tokens).toSeq)
  }

  test("a wrong-arity call names the function and its argument count") {
    arity.foreach { case (name, n) =>
      Seq(0, n + 1).foreach { given =>
        val args = Seq.fill(given)("1L").mkString(", ")
        val e = intercept[AnalysisException] {
          spark.sql(s"SELECT $name($args)").collect()
        }
        assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          s"$name($args): ${e.getMessage}")
        assert(e.getMessage.contains(s"`$name`") &&
          e.getMessage.contains(s"requires $n parameters") &&
          e.getMessage.contains(s"actual number is $given"),
          s"$name($args): ${e.getMessage}")
      }
    }
  }

  test("two Bloom probes with different bitmaps in one select each" +
      " answer from their own bitmap") {
    import spark.implicits._
    val mBits = 16
    def bitmap(keys: Seq[Long]): Array[Long] = {
      val words = new Array[Long]((1 << mBits) / 64)
      keys.foreach { k =>
        val kk = (k % BloomMightContain.P + BloomMightContain.P) %
          BloomMightContain.P
        (0 until 4).foreach { i =>
          val pos = (kk * BloomMightContain.A(i) + BloomMightContain.B(i)) %
            BloomMightContain.P % (1L << mBits)
          words((pos >>> 6).toInt) |= (1L << (pos & 63L).toInt)
        }
      }
      words
    }
    val aKeys = (1L to 50L)
    val bKeys = (1001L to 1050L)
    val got = (aKeys ++ bKeys).toDF("k")
      .select($"k",
        BloomMightContain.column($"k", bitmap(aKeys), mBits).as("in_a"),
        BloomMightContain.column($"k", bitmap(bKeys), mBits).as("in_b"))
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2)))
      .toMap
    // 200 set bits of 2^16 → a false positive has probability ~1e-10
    aKeys.foreach(k => assert(got(k) == ((true, false)), s"key $k"))
    bKeys.foreach(k => assert(got(k) == ((false, true)), s"key $k"))
  }

  test("two band-signature widths in one plan keep their own planes") {
    import spark.implicits._
    val S = graft.operators.Similarity
    val vec = Tables.read(spark, sf, "embeddings")
      .filter($"embedding".isNotNull)
      .select($"embedding".cast("array<double>").as("vec"))
    // the 16-bit band 0 folds global planes 0..15; the 8-bit bands 0 and
    // 1 fold planes 0..7 and 8..15 — its low and high bytes
    val rows = vec.select(
      S.bandSignature(col("vec"), 16, 0).as("s16"),
      S.bandSignature(col("vec"), 8, 0).as("lo"),
      S.bandSignature(col("vec"), 8, 1).as("hi")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1) == (r.getInt(0) & 0xFF), s"low byte: $r")
      assert(r.getInt(2) == (r.getInt(0) >>> 8), s"high byte: $r")
    }
    assert(rows.exists(r => r.getInt(1) != r.getInt(2)),
      "the two 8-bit bands never differ: they share one plane slice")
  }
}
