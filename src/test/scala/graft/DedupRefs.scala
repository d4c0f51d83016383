package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Dedup

/** Independent reference formulations of the dedup operators, used only
  * by DedupSpec's differential tests: each computes the same answer as a
  * production route by a different (slower) plan. */
object DedupRefs {

  private def normText: Column = graft.functions.TextNorm.normCol

  /** Token 3-gram shingles of normalized text, as a Column over `toks`.
    * The size guard must short-circuit: Spark's `sequence(1, 0)` counts
    * DOWN (step defaults to -1 when start > stop), so a bare
    * `sequence(1, greatest(size-2, 0))` would index element 0 and crash
    * on documents with fewer than 3 tokens. */
  private val shinglesExpr =
    """CASE WHEN size(toks) >= 3 THEN
         transform(sequence(1, size(toks) - 2),
                   i -> concat(element_at(toks, i), ' ',
                               element_at(toks, i + 1), ' ',
                               element_at(toks, i + 2)))
       ELSE array() END"""

  /** Reference for the n-gram skew stress tests: blocking on the prefix
    * alone (exactly the oracle's semantics — and the pre-hardening
    * implementation). Quadratic in hot blocks; kept to prove the
    * size-bucket split of `Dedup.ngramJaccard` returns the identical
    * pair set. */
  def ngramJaccardUnsplit(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    val docs = Tables.read(spark, sfDir, "documents")
      .withColumn("norm", normText)
      .withColumn("toks", expr("split(norm, ' ')"))
      .withColumn("shingles", expr(s"array_distinct($shinglesExpr)"))
      .withColumn("block", substring($"norm", 1, 64))
      .select($"doc_id", $"block", $"shingles")
    val a = docs.select($"doc_id".as("doc_a"), $"block",
      $"shingles".as("sh_a"))
    val b = docs.select($"doc_id".as("doc_b"), $"block",
      $"shingles".as("sh_b"))
    a.join(b, Seq("block"))
      .filter($"doc_a" < $"doc_b")
      .withColumn("jaccard", round(
        size(array_intersect($"sh_a", $"sh_b")).cast("double") /
          greatest(size(array_union($"sh_a", $"sh_b")), lit(1)).cast("double"),
        4))
      .filter($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", $"jaccard")
      .orderBy($"doc_a".asc, $"doc_b".asc)
  }

  /** Signing reference #1: the historical batch route — posexplode
    * tokens → lead-window shingles → 16 min() aggregates. Correct but
    * shuffles the full shingle stream per document before signing; kept
    * so DedupSpec can prove the fused `Dedup.minhashBanded` kernel
    * signature-identical to an independent formulation. */
  def minhashBandedWindowRef(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nPerm = Dedup.NPerm
    val toks = docs
      .withColumn("norm", normText)
      .select($"doc_id", posexplode(split($"norm", " ")).as(Seq("pos", "tok")))
    val w = Window.partitionBy($"doc_id").orderBy($"pos".asc)
    val shingles = toks
      .withColumn("t1", lead($"tok", 1).over(w))
      .withColumn("t2", lead($"tok", 2).over(w))
      .filter($"t2".isNotNull)
      .select($"doc_id", concat_ws(" ", $"tok", $"t1", $"t2").as("shingle"))
    def perm(p: Int): Column =
      (call_function("poly_hash", $"shingle", lit(1 << 20)) * lit(2L * p + 1)
        + lit(7919L * p)) % lit(1000000007L)
    shingles
      .groupBy($"doc_id")
      .agg(min(perm(0)).as("mh_0"),
        (1 until nPerm).map(p => min(perm(p)).as(s"mh_$p")): _*)
      .withColumn("sig",
        array((0 until nPerm).map(p => col(s"mh_$p")): _*))
      .select($"doc_id", $"sig")
      .transform(Dedup.bandExplode)
  }

  /** Signing reference #2: the interpreted HOF route — shingles via
    * transform(sequence(...)) and each permutation min as an array_min
    * fold over `poly_hash`. Row-local like the production kernel but ~5×
    * slower (interpreted lambdas, every shingle re-hashed per
    * permutation); kept as the second independent formulation in
    * DedupSpec's three-way route-equivalence gate. */
  def minhashBandedHofRef(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigExpr =
      s"""transform(sequence(0, ${Dedup.NPerm - 1}), p ->
            array_min(transform(shingles, s ->
              (poly_hash(s, ${1 << 20}) * (2*p + 1) + 7919*p)
                % 1000000007)))"""
    docs
      .withColumn("norm", normText)
      .withColumn("toks", expr("split(norm, ' ')"))
      .filter(expr("size(toks) >= 3"))
      .withColumn("shingles", expr(shinglesExpr))
      .withColumn("sig", expr(sigExpr))
      .transform(Dedup.bandExplode)
  }
}
