package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextNorm

/** Text-analysis operators over the `documents` table — the language-ID /
  * quality-scoring / token-counting / fingerprinting stages of a training-
  * data pipeline, expressed as pure codegen'd Column math (no UDFs).
  *
  * Scale stance: every operator here is embarrassingly parallel per row —
  * no shuffle at all until the (tiny) final aggregate, so the plan is one
  * WholeStageCodegen span over the parquet scan. At 100 TB these run at
  * scan speed; the only tuning knob is input split size.
  */
object TextAnalysis {

  /** Prime modulus for exported membership/frequency checksums
    * (`docid_sum`, `freq_sum`): sums are accumulated as decimal
    * internally (overflow-proof at any corpus size) but exported as
    * the <P residue in a plain BIGINT — a type every engine hashes
    * identically, unlike a raw DECIMAL(38,0). Referenced by the
    * DuckDB oracles in SparkEntry so operator and oracle can never
    * disagree on the modulus. */
  private[graft] val ChecksumP = 1000000007L

  /** Default salt for [[splitAssign]] — shared with the DuckDB oracle
    * in SparkEntry (which inlines the derived saltMix from this same
    * constant), so changing the default cannot silently desynchronize
    * operator and oracle. */
  private[graft] val SplitSalt = 42L

  /** Default training-sequence length for [[packSequences]] and
    * [[shufflePack]] — interpolated into both DuckDB oracles in
    * SparkEntry, so operator default and oracle replay share one
    * source of truth. */
  private[graft] val PackSeqLen = 512L

  /** Default per-source document cap for [[capPerSource]] —
    * interpolated into the DuckDB oracle in SparkEntry, so operator
    * default and oracle replay share one source of truth. 15 is below
    * every fixture's docs-per-source (25 at sf0.001/sf0.01), so the
    * eviction path is exercised — not just counted — at every scale
    * the driver verifies. */
  private[graft] val SourceCap = 15

  /** Tokens of whitespace-normalized text. BPE-ish refinement: also splits
    * off punctuation runs as their own tokens (a cheap proxy for subword
    * boundaries that stays regex-expressible on both engines). The outer
    * trim matters: padding a boundary punctuation mark would otherwise
    * leave a leading/trailing space, and Spark's split keeps the empty
    * token that produces (the oracle trims — they must agree). */
  private val tokensExpr =
    "split(trim(regexp_replace(trim(text), '([.,!?;:])', ' $1 ')), '\\\\s+')"

  /** Token counting: whitespace tokens + punctuation-split "BPE-ish"
    * tokens + character counts per document. */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "documents")
      .withColumn("ws_tokens", expr("split(trim(text), '\\\\s+')"))
      .withColumn("bpe_tokens", expr(tokensExpr))
      .select(
        $"doc_id",
        length($"text").cast("long").as("n_chars_calc"),
        size($"ws_tokens").cast("long").as("n_tokens"),
        size($"bpe_tokens").cast("long").as("n_bpe_tokens"),
        round(
          expr("aggregate(transform(ws_tokens, t -> length(t)), 0, (a, x) -> a + x)")
            .cast("double") / greatest(size($"ws_tokens"), lit(1)),
          4).as("avg_token_len"))
      .orderBy($"doc_id".asc)
  }

  /** Marker / stopword sets — single source of truth for langScores,
    * qualityScore, and curationFunnel (the DuckDB oracles inline the same
    * literals; editing one side means editing both, but at least the
    * Scala side cannot desynchronize with itself). */
  private val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "les", "et"),
    "es" -> Seq("el", "los", "una", "y"))
  private val StopWords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is")
  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  /** Quality scoring: length / punctuation / stopword-ratio heuristics with
    * a CASE bucket — the classic "keep, maybe, drop" pre-filter. */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "documents")
      .withColumn("toks", expr("split(trim(text), '\\\\s+')"))
      .withColumn("n_tokens", size($"toks").cast("long"))
      .withColumn("stop_cnt", expr(
        s"size(filter(toks, t -> t IN (${inList(StopWords)})))")
        .cast("long"))
      .withColumn("punct_cnt",
        (length($"text") - length(regexp_replace($"text", "[.,!?;:]", "")))
          .cast("long"))
      .withColumn("stop_ratio",
        round($"stop_cnt".cast("double") / greatest($"n_tokens", lit(1)), 4))
      .withColumn("quality",
        when($"n_tokens" >= 40 && $"stop_ratio".between(0.05, 0.6), "good")
          .when($"n_tokens" >= 10, "ok")
          .otherwise("short"))
      .select($"doc_id", $"n_tokens", $"stop_cnt", $"punct_cnt",
        $"stop_ratio", $"quality")
      .orderBy($"doc_id".asc)
  }

  /** Shared single-pass language scoring: per-row marker-set hit counts,
    * argmax prediction, with the labeled `lang` riding along. */
  private def langScores(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "documents")
      .withColumn("toks", expr("split(lower(trim(text)), '\\\\s+')"))
      .withColumn("s_en", expr(s"size(filter(toks, t -> t IN (${inList(LangMarkers("en"))})))").cast("long"))
      .withColumn("s_de", expr(s"size(filter(toks, t -> t IN (${inList(LangMarkers("de"))})))").cast("long"))
      .withColumn("s_fr", expr(s"size(filter(toks, t -> t IN (${inList(LangMarkers("fr"))})))").cast("long"))
      .withColumn("s_es", expr(s"size(filter(toks, t -> t IN (${inList(LangMarkers("es"))})))").cast("long"))
      .withColumn("pred_lang",
        when($"s_en" >= $"s_de" && $"s_en" >= $"s_fr" && $"s_en" >= $"s_es", "en")
          .when($"s_de" >= $"s_fr" && $"s_de" >= $"s_es", "de")
          .when($"s_fr" >= $"s_es", "fr")
          .otherwise("es"))
  }

  /** Language-ID by stopword-marker n-gram heuristic: count hits from four
    * per-language marker sets, argmax with a fixed priority order. (The
    * testdata text is synthetic word salad, so this measures the operator,
    * not linguistics.) */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    langScores(spark, sfDir)
      .select($"doc_id", $"s_en", $"s_de", $"s_fr", $"s_es", $"pred_lang")
      .orderBy($"doc_id".asc)
  }

  /** Confusion-matrix summary of langId against the labeled `lang` column —
    * one scan (the label rides along with the scores), shuffling only the
    * langs×langs matrix. */
  def langIdEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    langScores(spark, sfDir)
      .groupBy($"lang", $"pred_lang").count().withColumnRenamed("count", "cnt")
      .orderBy($"lang".asc, $"pred_lang".asc)
  }

  /** Character-trigram language-ID — the literal n-gram heuristic: score
    * each language by occurrences of its characteristic character
    * trigrams anywhere in the text (substring counts via length deltas —
    * pure codegen'd string math, no tokenization needed), argmax with the
    * same fixed priority order as the marker-word variant. */
  def langIdNgram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // occurrences of literal `pat` in lower(text):
    // (len(t) - len(replace(t, pat, ''))) div len(pat)
    def occ(pat: String) = expr(
      s"(length(lt) - length(replace(lt, '$pat', ''))) div ${pat.length}")
    def score(pats: Seq[String]) = pats.map(occ).reduce(_ + _)
    Tables.read(spark, sfDir, "documents")
      .withColumn("lt", lower($"text"))
      .withColumn("g_en", score(Seq("th", "he ", "ing")))
      .withColumn("g_de", score(Seq("sch", "der", "ung")))
      .withColumn("g_fr", score(Seq("les", "eau", "oux")))
      .withColumn("g_es", score(Seq("ción", "los", "ñ")))
      .withColumn("pred_lang",
        when($"g_en" >= $"g_de" && $"g_en" >= $"g_fr" && $"g_en" >= $"g_es", "en")
          .when($"g_de" >= $"g_fr" && $"g_de" >= $"g_es", "de")
          .when($"g_fr" >= $"g_es", "fr")
          .otherwise("es"))
      .select($"doc_id", $"g_en", $"g_de", $"g_fr", $"g_es", $"pred_lang")
      .orderBy($"doc_id".asc)
  }

  /** Deterministic stratified subsampling — the reproducible take-10%
    * every training-data pipeline needs. Membership is a pure function of
    * the stable id (`doc_id % denom < keep`), so the sample is identical
    * across runs, engines, and cluster layouts (a `rand()`-based sample is
    * none of those). Per-stratum keep counts verify the rates. At scale
    * you'd key on a hash of a content id; the modulo shape is identical. */
  def stratifiedSample(spark: SparkSession, sfDir: String,
      keep: Int = 1, denom: Int = 10): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "documents")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_total"),
        count(when(pmod($"doc_id", lit(denom)) < keep, 1)).as("n_kept"))
      .withColumn("rate",
        round($"n_kept".cast("double") / greatest($"n_total", lit(1)), 4))
      .orderBy($"lang".asc)
  }

  /** Corpus-wide top-20 bigrams — n-gram statistics for LM-data prep.
    * Same codegen'd posexplode + window-lead shingle stream as MinHash
    * (no per-row array materialization); the global top-20 is a tiny
    * ordered limit after one count shuffle. */
  def bigramStats(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    import spark.implicits._
    val toks = Tables.read(spark, sfDir, "documents")
      .withColumn("norm", expr(TextNorm.normSql))
      .select($"doc_id", posexplode(split($"norm", " ")).as(Seq("pos", "tok")))
    val w = Window.partitionBy($"doc_id").orderBy($"pos".asc)
    toks
      .withColumn("t1", lead($"tok", 1).over(w))
      .filter($"t1".isNotNull)
      .select(concat_ws(" ", $"tok", $"t1").as("bigram"))
      .groupBy($"bigram").count().withColumnRenamed("count", "cnt")
      .orderBy($"cnt".desc, $"bigram".asc)
      .limit(k)
  }

  /** TF-IDF top-3 terms per document — the multi-stage text-analytics
    * pipeline shape: tokenize → per-(doc,term) tf → per-term document
    * frequency → smoothed idf = ln((N+1)/(df+1)) → top-k per doc.
    *
    * Scale: two hash-aggregate shuffles (doc×term, term) + one broadcast
    * of the per-term df table? No — df is as big as the vocabulary, so it
    * joins shuffle-to-shuffle on `tok`; the corpus size N rides along as a
    * broadcast single-row cross join (never a driver action). Top-k per
    * doc is a WindowGroupLimit. */
  def tfidfTopK(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    val toks = Tables.read(spark, sfDir, "documents")
      .select($"doc_id", explode(split(TextNorm.normCol, " ")).as("tok"))
    val tf = toks.groupBy($"doc_id", $"tok").count()
      .withColumnRenamed("count", "tf")
    val df = toks.groupBy($"tok")
      .agg(countDistinct($"doc_id").as("df"))
    // corpus size from a pruned one-column scan, not the exploded
    // token stream (split emits >=1 token per doc, so the counts agree)
    val n = Tables.read(spark, sfDir, "documents")
      .select(countDistinct($"doc_id").as("n_docs"))
    val w = Window.partitionBy($"doc_id")
      .orderBy($"tfidf_raw".desc, $"tok".asc)
    tf.join(df, Seq("tok"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf_raw",
        $"tf" * log(($"n_docs" + 1).cast("double") / ($"df" + 1)))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"doc_id", $"tok", $"tf", $"df",
        round($"tfidf_raw", 6).as("tfidf"), $"rnk")
      .orderBy($"doc_id".asc, $"rnk".asc)
  }

  /** Document chunking — fixed-size overlapping token windows (size 64,
    * stride 48), THE preprocessing op between raw documents and training
    * sequences. Chunk boundaries are pure arithmetic over the token
    * array: chunk i covers tokens [i·stride, i·stride + size); the last
    * chunk may be short; docs shorter than one stride yield one chunk.
    * Output carries the chunk's token count and a poly_hash of its
    * re-joined text so the oracle verifies content, not just counts.
    * Scale: explode fans out ~len/stride rows per doc — linear in corpus
    * token count, no shuffle until a downstream op needs one. */
  def chunk(spark: SparkSession, sfDir: String,
      chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "documents")
      .withColumn("toks", split(expr(TextNorm.normSql), " "))
      .withColumn("n_toks", size($"toks"))
      // number of chunks: ceil(max(n - chunkSize, 0) / stride) + 1
      .withColumn("n_chunks",
        (ceil(greatest($"n_toks" - chunkSize, lit(0)).cast("double") / stride)
          + 1).cast("int"))
      .select($"doc_id", $"toks", $"n_toks",
        posexplode(expr("sequence(0, n_chunks - 1)")).as(Seq("ord", "chunk_id")))
      .withColumn("chunk_toks",
        slice($"toks", $"chunk_id" * stride + 1, lit(chunkSize)))
      .select($"doc_id", $"chunk_id",
        size($"chunk_toks").cast("long").as("chunk_len"),
        expr("poly_hash(concat_ws(' ', chunk_toks), 1048576)")
          .as("chunk_hash"))
      .orderBy($"doc_id".asc, $"chunk_id".asc)
  }

  /** Weighted mixture sampling — per-language target rates applied with
    * a deterministic integer hash threshold (`(doc_id·2654435761 + 7)
    * mod 1e9+7`, kept iff below rate·1e9+7): the "dataset mixture"
    * op a training pipeline runs to rebalance sources. Unlike rand(),
    * the decision is reproducible row-wise on both engines, so the
    * oracle verifies the exact kept-set, not just approximate rates. */
  def mixtureSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rates = Map("en" -> 0.5, "de" -> 1.0, "fr" -> 1.0, "es" -> 0.25,
      "zh" -> 0.1)
    val rateCol = rates.foldLeft(lit(0.0)) { case (acc, (l, r)) =>
      when($"lang" === l, r).otherwise(acc)
    }
    val M = 1000000007L
    Tables.read(spark, sfDir, "documents")
      .withColumn("rate", rateCol)
      .withColumn("h", ($"doc_id" * 2654435761L + 7L) % M)
      // floor, not cast: Spark's double→long cast truncates while
      // DuckDB's rounds — floor() is identical on both engines
      .withColumn("keep", $"h" < floor($"rate" * M).cast("long"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        max($"rate").as("target_rate"))
      .withColumn("actual_rate",
        round($"n_kept".cast("double") / $"n_total", 4))
      .orderBy($"lang".asc)
  }

  /** Repetition detection — the boilerplate/low-quality signal LM-data
    * filtering keys on: per document, total vs distinct token-3-gram
    * count, the hottest shingle's frequency, and the repeated fraction
    * `1 − distinct/total`. Same codegen'd shingle stream as MinHash; the
    * per-(doc, shingle) count is one hash-aggregate whose partial side
    * collapses repeats before the shuffle. Docs with < 3 tokens have no
    * shingles and drop out (nothing to measure — same rule as the oracle). */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.read(spark, sfDir, "documents")
      .withColumn("norm", expr(TextNorm.normSql))
      .select($"doc_id", posexplode(split($"norm", " ")).as(Seq("pos", "tok")))
    val w = Window.partitionBy($"doc_id").orderBy($"pos".asc)
    toks
      .withColumn("t1", lead($"tok", 1).over(w))
      .withColumn("t2", lead($"tok", 2).over(w))
      .filter($"t2".isNotNull)
      .select($"doc_id", concat_ws(" ", $"tok", $"t1", $"t2").as("shingle"))
      .groupBy($"doc_id", $"shingle").count()
      .groupBy($"doc_id")
      .agg(sum($"count").as("n_shingles"),
        count(lit(1)).as("n_distinct"),
        max($"count").as("max_repeat"))
      .withColumn("rep_ratio", round(
        lit(1.0) - $"n_distinct".cast("double") / $"n_shingles", 4))
      .select($"doc_id", $"n_shingles", $"n_distinct", $"max_repeat",
        $"rep_ratio")
      .orderBy($"doc_id".asc)
  }

  /** Curation funnel — the per-stage attrition report a data-curation
    * pipeline is steered by: each stage's filter applied IN SEQUENCE
    * (language known → length floor → stopword-ratio band → repetition
    * cap), with kept/dropped counts per stage. ONE corpus scan: the
    * language/length/stopword flags AND the shingle-repetition ratio are
    * all per-row array math — the ratio only needs `1 − distinct/total`
    * over the doc's token 3-grams, which `transform` + `array_distinct`
    * computes inside the row (the standalone `repetition` operator's
    * explode → hash-aggregate shape is for when the per-shingle counts
    * themselves are the output). The whole funnel is therefore a scan
    * feeding one 4-row aggregate: no join, no shuffle of per-doc rows.
    * Stage definitions reuse the shared marker/stopword constants with
    * ONE normalization (all tokens lowercased); note `qualityScore`
    * itself is case-sensitive by design, so its stop_ratio can differ
    * from stage 3's on capitalized stopwords — the funnel is its own
    * operator, not a join of the others' outputs. */
  def curationFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val flags = Tables.read(spark, sfDir, "documents")
      .withColumn("toks", expr("split(lower(trim(text)), '\\\\s+')"))
      .withColumn("n_tokens", size($"toks").cast("long"))
      .withColumn("lang_hits", expr(
        s"""size(filter(toks, t -> t IN
           |(${inList(LangMarkers.values.flatten.toSeq)})))""".stripMargin))
      .withColumn("stop_cnt", expr(
        s"size(filter(toks, t -> t IN (${inList(StopWords)})))"))
      .withColumn("stop_ratio",
        round($"stop_cnt".cast("double") / greatest($"n_tokens", lit(1L)), 4))
      // same tokens as `repetition` (TextNorm is whitespace-collapse only,
      // so splitting on \s+ yields the identical token stream); docs with
      // < 3 tokens have no shingles → ratio 0.0, the oracle's
      // coalesce(rep_ratio, 0.0) contract
      .withColumn("rep_ratio", when($"n_tokens" >= 3,
        round(lit(1.0) - expr(
          """size(array_distinct(transform(
            |  sequence(0, cast(size(toks) as int) - 3),
            |  i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))))"""
            .stripMargin).cast("double") / ($"n_tokens" - 2L), 4))
        .otherwise(lit(0.0)))
      .select($"doc_id",
        ($"lang_hits" > 0).as("f_lang"),
        ($"n_tokens" >= 10).as("f_len"),
        $"stop_ratio".between(0.05, 0.6).as("f_stop"),
        ($"rep_ratio" <= 0.3).as("f_rep"))
    // coalesce: sum over an EMPTY corpus is null; the funnel report for
    // empty input is 4 stages of zeros, not nulls
    val agg = flags.agg(
      count(lit(1)).as("n0"),
      coalesce(sum(when($"f_lang", 1L).otherwise(0L)), lit(0L)).as("n1"),
      coalesce(sum(when($"f_lang" && $"f_len", 1L).otherwise(0L)), lit(0L))
        .as("n2"),
      coalesce(sum(when($"f_lang" && $"f_len" && $"f_stop", 1L)
        .otherwise(0L)), lit(0L)).as("n3"),
      coalesce(sum(when($"f_lang" && $"f_len" && $"f_stop" && $"f_rep", 1L)
        .otherwise(0L)), lit(0L)).as("n4"))
    agg.select(expr(
      """stack(4,
        |'1_lang_known', n0, n1,
        |'2_min_length', n1, n2,
        |'3_stopword_band', n2, n3,
        |'4_repetition_cap', n3, n4) AS (stage, n_in, n_kept)
        |""".stripMargin))
      .withColumn("n_dropped", $"n_in" - $"n_kept")
      .orderBy($"stage".asc)
  }

  /** Sequence packing — the pre-training step that concatenates the
    * token stream in a fixed document order and cuts it into
    * `seqLen`-token training sequences; the output is the per-bin layout
    * (docs starting in each bin, token mass) a packing job would write.
    *
    * The global running token count is a DISTRIBUTED prefix sum: docs
    * are grouped into coarse doc_id ranges, per-range token offsets come
    * from a tiny triangular self-join over the range table (#ranges²
    * bounded pairs, not #docs), offsets join back broadcast, and the
    * per-doc running sum is
    * a window partitioned BY RANGE — fully parallel. A naive
    * `Window.orderBy(doc_id)` with no partitioning funnels 100 TB
    * through ONE task; this shape never materializes more than a range
    * on one executor. The range width is SIZED FROM THE CORPUS
    * (metadata-cheap count → ≤ 8192 ranges), so the offset window and
    * its broadcast stay driver-tiny at ANY corpus size — a fixed width
    * would just move the single-task bottleneck into the offset cumsum
    * at a billion documents. (Corpora past ~8192 × executor-range
    * capacity would recurse the decomposition one level; one level
    * covers anything this library targets.) The oracle is the naive
    * single cumsum (DuckDB can afford it at oracle scale),
    * independently validating the decomposition. */
  def packSequences(spark: SparkSession, sfDir: String,
      seqLen: Long = PackSeqLen, rangeSize: Long = 0L): DataFrame = {
    import spark.implicits._
    packAssignments(spark, sfDir, seqLen, rangeSize)
      .groupBy($"bin_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("bin_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"bin_id".asc)
  }

  /** The per-document bin assignment behind [[packSequences]] —
    * (doc_id, n_tokens, bin_id) — exposed because delete propagation
    * (`q_forget`) must know WHICH packed sequences a tombstoned doc
    * contributed to. Same distributed prefix-sum derivation (see the
    * [[packSequences]] scaladoc for the scale shape). */
  private[graft] def packAssignments(spark: SparkSession, sfDir: String,
      seqLen: Long = PackSeqLen, rangeSize: Long = 0L): DataFrame = {
    import spark.implicits._
    val base = Tables.read(spark, sfDir, "documents")
    // parquet row-count is footer metadata — this is not a data scan
    val width =
      if (rangeSize > 0L) rangeSize
      else math.max(100L, (base.count() + 8191L) / 8192L)
    val docs = base
      .withColumn("norm", TextNorm.normCol)
      .select($"doc_id",
        size(split($"norm", " ")).cast("long").as("n_tokens"))
      .withColumn("rng", expr(s"doc_id div $width"))
    val rangeTotals = docs.groupBy($"rng")
      .agg(sum($"n_tokens").as("rng_tokens"))
    // range-level prefix sum as a triangular broadcast join: offset(r) =
    // Σ tokens of strictly-earlier ranges. The range table is ≤ 8192 rows
    // BY CONSTRUCTION (width is sized from the corpus count), so the
    // nested-loop pair count is bounded at ~67M cheap comparisons spread
    // across the cluster — and the plan stays window-free (an
    // unpartitioned running-sum window, even over 8192 rows, plans as a
    // single-partition WindowExec and logs a misleading scale warning)
    val rangeOffsets = rangeTotals.as("a")
      .join(broadcast(rangeTotals.as("b")), $"b.rng" < $"a.rng", "left_outer")
      .groupBy($"a.rng".as("rng"))
      .agg(coalesce(sum($"b.rng_tokens"), lit(0L)).as("rng_offset"))
    val wDoc = Window.partitionBy($"rng").orderBy($"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.join(broadcast(rangeOffsets), Seq("rng"))
      .withColumn("cum_before",
        $"rng_offset" + coalesce(sum($"n_tokens").over(wDoc), lit(0L)))
      .withColumn("bin_id", expr(s"cum_before div $seqLen"))
      .select($"doc_id", $"n_tokens", $"bin_id")
  }

  /** Benchmark decontamination — the pre-training step that removes eval
    * data from the corpus: per document, the fraction of its token
    * n-gram shingles that collide with a benchmark set's shingles.
    * The benchmark here is docs 0..4 (standing in for an eval suite);
    * real pipelines use 8-13-gram windows — the fixture's ~50-token
    * word-salad texts use n=3 so the collision pathway is actually
    * exercised (148 contaminated docs at sf0.01, oracle-confirmed).
    *
    * Scale: the benchmark side is an eval suite — MBs of distinct
    * shingle hashes against TBs of corpus — so it is broadcast and the
    * corpus NEVER shuffles for the membership test; the only corpus
    * shuffles are the per-(doc, shingle) dedup and the per-doc count
    * (both map-side combined). Shingles travel as poly-hash longs, not
    * strings. Benchmark docs themselves stay in the output (at 100%
    * contamination) — dropping rows silently is the rawkey lesson. */
  def decontaminate(spark: SparkSession, sfDir: String,
      benchMax: Long = 5L, n: Int = 3): DataFrame = {
    import spark.implicits._
    require(n >= 2, s"shingle width must be >= 2, got $n")
    val toks = Tables.read(spark, sfDir, "documents")
      .withColumn("norm", TextNorm.normCol)
      .select($"doc_id", posexplode(split($"norm", " ")).as(Seq("pos", "tok")))
    val w = Window.partitionBy($"doc_id").orderBy($"pos".asc)
    val withLeads = (1 until n).foldLeft(toks) { (df, i) =>
      df.withColumn(s"t$i", lead($"tok", i).over(w))
    }
    val shingles = withLeads
      .filter(col(s"t${n - 1}").isNotNull)
      .select($"doc_id", concat_ws(" ",
        ($"tok" +: (1 until n).map(i => col(s"t$i"))): _*).as("shingle"))
      .select($"doc_id",
        call_function("poly_hash", $"shingle", lit(1 << 20)).as("shash"))
      .distinct()
    val bench = shingles.filter($"doc_id" < benchMax)
      .select($"shash").distinct()
    shingles
      .join(broadcast(bench.withColumn("hit", lit(1L))),
        Seq("shash"), "left_outer")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum($"hit"), lit(0L)).as("n_matched"))
      .select($"doc_id", $"n_shingles", $"n_matched",
        round($"n_matched".cast("double") / $"n_shingles", 4)
          .as("contamination"),
        ($"n_matched" > 0).as("contaminated"))
      .orderBy($"doc_id".asc)
  }

  /** Corpus-relative token-frequency scoring — the LM-free quality
    * proxy (the CCNet-shape signal): documents dominated by tokens that
    * are RARE relative to the whole corpus are surprise-heavy
    * (misparses, boilerplate fragments, wrong-language slices); docs of
    * only ultra-common tokens are low-information. Per document: token
    * count, a mod-[[ChecksumP]] BIGINT checksum of its tokens' corpus
    * frequencies (decimal-accumulated internally), average frequency,
    * and the count/fraction of below-corpus-mean-frequency tokens. All
    * thresholds are corpus-RELATIVE (mean frequency = N/V), so the
    * operator is scale-free — no magic absolute cutoffs.
    *
    * Shape at scale — the JOIN variant of the corpus-membership problem
    * (`dedup_substring` shows the window variant): the vocabulary is
    * corpus-derived, so first collapse the token stream to (tok, cnt)
    * with one MAP-SIDE COMBINED aggregate (repeats collapse before the
    * wire — the win over a window, which must shuffle every occurrence
    * row), then join frequencies back onto the stream with NO hint: AQE
    * broadcasts a small vocabulary, shuffle-joins (and skew-splits the
    * "the"-token partitions of) a web-scale one. Corpus totals ride as
    * a one-row broadcast. Integer/decimal arithmetic throughout — the
    * only doubles are single divisions, deterministic on both engines. */
  def tokenRarity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.read(spark, sfDir, "documents")
      .select($"doc_id", explode(split(graft.functions.TextNorm.normCol, " "))
        .as("tok"))
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    // mean corpus frequency N/V as ONE double division (a cnt·V < N
    // integer product would overflow both engines' 64-bit range at
    // web scale; one IEEE division is deterministic and identical)
    val totals = vocab.agg(
      sum($"cnt".cast("decimal(38,0)")).as("n_total"),
      count(lit(1)).as("vocab"))
      .select(($"n_total".cast("double") / $"vocab").as("mean_freq"))
    toks.join(vocab, Seq("tok"))
      .crossJoin(broadcast(totals))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum($"cnt".cast("decimal(38,0)")).as("freq_total"),
        sum(pmod($"cnt", lit(ChecksumP)).cast("decimal(38,0)"))
          .as("freq_mod_acc"),
        sum(when($"cnt".cast("double") < $"mean_freq", 1L).otherwise(0L))
          .as("n_below_mean"))
      // the exported checksum is mod-prime BIGINT, not the raw decimal:
      // value-identical replay on any engine without exposing a 38-digit
      // decimal in the output schema (internal sums stay decimal, so the
      // overflow-safety story is unchanged)
      .select($"doc_id", $"n_tokens",
        pmod($"freq_mod_acc", lit(ChecksumP).cast("decimal(38,0)"))
          .cast("long").as("freq_sum"),
        round($"freq_total".cast("double") / $"n_tokens", 4).as("avg_freq"),
        $"n_below_mean",
        round($"n_below_mean".cast("double") / $"n_tokens", 4)
          .as("rare_fraction"))
      .orderBy($"doc_id".asc)
  }

  /** Quantized unigram-LM surprisal — the log-domain complement of
    * [[tokenRarity]] and the hash-gateable stand-in for the perplexity
    * filter every curation pipeline runs (CCNet shape: score each doc by
    * how surprising its tokens are under a corpus LM, then keep/route by
    * score). A real LM's −log p is a float sum whose partition order is
    * not reproducible across engines; here surprisal is QUANTIZED to
    * integer bits — surprise(tok) = bitlen(N) − bitlen(cnt) ≈
    * ⌊log₂ N⌋ − ⌊log₂ cnt⌋, i.e. ⌊−log₂ p(tok)⌋ within 1 bit — so the
    * per-doc sum is exact integer arithmetic and the oracle replays it
    * bit-for-bit. Bit length via `bin()` string length: identical
    * semantics on both engines, no libm log in sight.
    *
    * Same scale shape as [[tokenRarity]] (the join variant of corpus
    * membership): one map-side-combined (tok, cnt) vocabulary aggregate,
    * one hint-free frequency join back onto the token stream (AQE
    * broadcasts a small vocab, skew-splits a hot token), corpus total as
    * a one-row broadcast. Per-doc integer sums; the only double is the
    * final rounded division. */
  def surprisal(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.read(spark, sfDir, "documents")
      .select($"doc_id", explode(split(graft.functions.TextNorm.normCol, " "))
        .as("tok"))
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum($"cnt".cast("decimal(38,0)")).cast("long")
      .as("n_total"))
    toks.join(vocab, Seq("tok"))
      .crossJoin(broadcast(total))
      .select($"doc_id",
        (length(bin($"n_total")) - length(bin($"cnt"))).cast("long")
          .as("bits"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"bits").as("bits_total"))
      .select($"doc_id", $"n_tokens", $"bits_total",
        round($"bits_total".cast("double") / $"n_tokens", 4)
          .as("bits_per_token"))
      .orderBy($"doc_id".asc)
  }

  /** Per-source document capping — the domain-balancing step of web
    * corpus curation (cap any one domain's share so boilerplate-heavy
    * hosts can't dominate the mixture): keep at most `cap` docs per
    * source, chosen as the first `cap` in `(mix64(doc_id), doc_id)`
    * order — a deterministic uniform sample (the splitmix64 finalizer
    * is the portable stand-in for xxhash64(id); same id set → same
    * survivors on any engine, any layout, any corpus growth ORDER —
    * a doc is evicted only when enough smaller-hash docs exist, never
    * because of arrival order).
    *
    * Scale: the `row_number ≤ cap` filter compiles to
    * WindowGroupLimit (plan-guarded) — every map partition forwards at
    * most `cap` rows PER SOURCE before the exchange, so a web-scale
    * hot domain costs the shuffle ≤ cap·partitions rows, not its full
    * membership; totals come from a separate map-side-combined count.
    * Output per source: totals, kept count, and a mod-[[ChecksumP]]
    * checksum of the kept doc_ids — the oracle confirms WHICH docs
    * survive, not just how many. */
  def capPerSource(spark: SparkSession, sfDir: String,
      cap: Int = SourceCap): DataFrame = {
    import spark.implicits._
    val docs = Tables.read(spark, sfDir, "documents")
      .select($"source", $"doc_id")
    val w = Window.partitionBy($"source")
      .orderBy(call_function("mix64", $"doc_id").asc, $"doc_id".asc)
    val kept = docs
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= cap)
      .groupBy($"source")
      .agg(count(lit(1)).as("kept_docs"),
        pmod(sum(pmod($"doc_id", lit(ChecksumP)).cast("decimal(38,0)")),
          lit(ChecksumP).cast("decimal(38,0)")).cast("long")
          .as("kept_checksum"))
    docs.groupBy($"source").agg(count(lit(1)).as("total_docs"))
      .join(kept, Seq("source"))
      .select($"source", $"total_docs", $"kept_docs", $"kept_checksum")
      .orderBy($"source".asc)
  }

  /** Deterministic train/valid/test split — the assignment step every
    * training pipeline runs before anything touches a model. Each doc's
    * bucket is a SALTED hash of its stable id (`((doc_id mod P)·A1 +
    * saltMix) mod P mod 100` with P = 1e9+7 and saltMix a salt-keyed
    * constant — the portable-integer stand-in for xxhash64(id, salt);
    * the production swap is one expression), thresholded into
    * train/valid/test at 90/5/5. The split is therefore: DISJOINT and
    * COMPLETE by construction (every doc gets exactly one label),
    * reproducible across runs/engines/cluster layouts, stable under
    * corpus growth (a doc's split never changes when neighbors arrive —
    * the property a rand() or row_number split lacks), and re-keyable
    * by salt.
    *
    * Output: per (split, lang) — count plus a mod-[[ChecksumP]] doc_id
    * checksum and min/max, so the oracle confirms the ASSIGNMENT, not
    * just the rates. The checksum accumulates as decimal internally (a
    * long sum overflows on ids near 2^63, which are legal) but exports
    * only the <P residue as BIGINT — exactly replayable on any engine
    * and free of raw wide-decimal output columns. One scan, one
    * low-cardinality aggregate (≤ 3×langs rows), map-side combined:
    * scan-speed at any corpus size. */
  def splitAssign(spark: SparkSession, sfDir: String,
      salt: Long = SplitSalt): DataFrame = {
    import spark.implicits._
    val P = 1000000007L
    val saltMix = (((salt % P) + P) % P * 2246822519L + 10007L) % P
    Tables.read(spark, sfDir, "documents")
      .withColumn("bucket",
        (pmod($"doc_id", lit(P)) * 2654435761L + saltMix) % P % 100)
      .withColumn("split",
        when($"bucket" < 90, "train")
          .when($"bucket" < 95, "valid")
          .otherwise("test"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        // mod-prime BIGINT membership checksum (internal sum stays
        // decimal so no 64-bit overflow at any corpus size; only the
        // final <P residue is exported)
        pmod(sum(pmod($"doc_id", lit(ChecksumP)).cast("decimal(38,0)")),
          lit(ChecksumP).cast("decimal(38,0)")).cast("long").as("docid_sum"),
        min($"doc_id").as("docid_min"),
        max($"doc_id").as("docid_max"))
      .orderBy($"split".asc, $"lang".asc)
  }

  /** Deterministic corpus shuffle + packing layout — the middle step of
    * the split → SHUFFLE → pack chain: a reproducible global training
    * ORDER (so every re-run, resumption, and ablation sees the same
    * token stream) plus each document's position and `seqLen`-token
    * training-bin under that order.
    *
    * The order is `(shuffle_key, doc_id)` where `shuffle_key` is the
    * same salted affine hash as [[splitAssign]] minus the bucket fold —
    * uniform in [0, P), re-keyable by salt, independent of partition
    * layout, and cheap on both engines (no rand(), whose evaluation
    * order is nondeterministic under retries). `doc_id` breaks hash
    * ties so the order is TOTAL — bitwise-identical on any cluster.
    *
    * Positions come from the same distributed prefix-sum shape as
    * [[packSequences]], decomposed over the HASH domain instead of
    * doc_id ranges (the shuffled order lives there): `ranges` equal
    * hash slices → per-slice (doc count, token mass) → slice offsets
    * via the triangular broadcast join (≤ `ranges`² cheap pairs, plan
    * stays window-free at the slice level) → per-slice window
    * partitioned BY SLICE for rank and running tokens. No global
    * single-partition window anywhere; the hash is uniform, so slices
    * are balanced BY CONSTRUCTION — no skew case at all, unlike
    * doc_id ranges which inherit id clustering. The oracle replays the
    * naive global window (affordable at oracle scale), independently
    * validating the decomposition. */
  def shufflePack(spark: SparkSession, sfDir: String,
      salt: Long = SplitSalt, seqLen: Long = PackSeqLen,
      ranges: Int = 4096): DataFrame = {
    import spark.implicits._
    val P = 1000000007L
    val saltMix = (((salt % P) + P) % P * 2246822519L + 10007L) % P
    val width = (P + ranges - 1) / ranges
    val docs = Tables.read(spark, sfDir, "documents")
      .withColumn("norm", TextNorm.normCol)
      .select($"doc_id",
        size(split($"norm", " ")).cast("long").as("n_tokens"))
      .withColumn("shuffle_key",
        (pmod($"doc_id", lit(P)) * 2654435761L + saltMix) % P)
      .withColumn("rng", expr(s"shuffle_key div $width"))
    val sliceTotals = docs.groupBy($"rng")
      .agg(count(lit(1)).as("rng_docs"), sum($"n_tokens").as("rng_tokens"))
    val sliceOffsets = sliceTotals.as("a")
      .join(broadcast(sliceTotals.as("b")), $"b.rng" < $"a.rng", "left_outer")
      .groupBy($"a.rng".as("rng"))
      .agg(coalesce(sum($"b.rng_docs"), lit(0L)).as("docs_offset"),
        coalesce(sum($"b.rng_tokens"), lit(0L)).as("tokens_offset"))
    val w = Window.partitionBy($"rng")
      .orderBy($"shuffle_key".asc, $"doc_id".asc)
    val wBefore = w.rowsBetween(Window.unboundedPreceding, -1)
    docs.join(broadcast(sliceOffsets), Seq("rng"))
      .withColumn("pos", $"docs_offset" + row_number().over(w) - 1L)
      .withColumn("cum_before",
        $"tokens_offset" + coalesce(sum($"n_tokens").over(wBefore), lit(0L)))
      .withColumn("bin_id", expr(s"cum_before div $seqLen"))
      .select($"doc_id", $"shuffle_key", $"pos", $"n_tokens", $"bin_id")
      .orderBy($"pos".asc)
  }

  /** Document fingerprinting: polynomial rolling hash (base 31, mod 1e9+7)
    * over the ascii codes of the first 1024 chars of whitespace-normalized
    * text. Prefix-capped so the per-row cost is O(1024) regardless of
    * document size — at 100 TB an uncapped char loop over MB-scale docs
    * would dominate the scan. */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "documents")
      .withColumn("norm",
        expr(s"substr(${TextNorm.normSql}, 1, 1024)"))
      // native codegen'd byte-loop rolling hash (graft.functions.PolyHash)
      .withColumn("fp", expr("poly_hash(norm, 1024)"))
      .select($"doc_id", $"fp")
      .orderBy($"doc_id".asc)
  }

  /** TextRank fixed-point constants — shared with the DuckDB oracle so
    * operator and replay can never desynchronize. Scores are integers
    * scaled by [[TrScale]] (1.0 == 1e6); the damping factor 0.85 is the
    * exact rational [[TrDampNum]]/[[TrDampDen]]; edge weights are
    * quantized to at most [[TrWCap]] (w div max(1, maxw div TrWCap)) so
    * the per-term product 85·w·score stays far inside a signed 64-bit
    * long (≤ 85 · 2^20 · vocab · 1e6 — safe to a ~10^5-token vocabulary,
    * far above any whitespace-token vocab the normalizer produces). */
  private[graft] val TrScale = 1000000L
  private[graft] val TrDampNum = 85L
  private[graft] val TrDampDen = 100L
  private[graft] val TrWCap = 1L << 20

  /** TextRank keyword ranking (Mihalcea & Tarau 2004): PageRank over the
    * undirected token co-occurrence graph, where nodes are normalized
    * tokens and an edge's weight counts how often the two tokens were
    * ADJACENT anywhere in the corpus. The iterative-graph-ranking tier
    * the curation suite lacked: `text_tfidf_topk` scores terms by
    * document-local frequency, TextRank scores them by global graph
    * centrality — the standard unsupervised keyword extractor.
    *
    * score(v) = (1−d) + d · Σ_{u∈N(v)} w(u,v)/wdeg(u) · score(u),
    * 3 unrolled iterations from a uniform start. ALL arithmetic is
    * fixed-point integer (scores scaled by TrScale, damping as an exact
    * rational, floor division — both engines truncate identically on
    * positive operands), so the hash gate needs no float tolerance: the
    * oracle unrolls the same three iterations term-for-term.
    *
    * Scale: the corpus is touched once — the same windowed lead()
    * shingle stream as `text_bigrams` (partitioned by doc, never
    * global), collapsed map-side to ≤ vocab² weighted edges. Each
    * iteration then joins the EDGE table (vocab-sized, corpus-size-
    * independent) against the score vector and re-aggregates: 3 tiny
    * shuffles that cost the same at sf0.01 and at 100 TB. The edge
    * table is localCheckpoint'ed so iterations don't replay the corpus
    * scan, and the final top-k is an ordered limit
    * (TakeOrderedAndProject), not a global window. */
  def textRank(spark: SparkSession, sfDir: String,
      iters: Int = 3, k: Int = 20): DataFrame = {
    import spark.implicits._
    val toks = Tables.read(spark, sfDir, "documents")
      .withColumn("norm", expr(TextNorm.normSql))
      .select($"doc_id", posexplode(split($"norm", " ")).as(Seq("pos", "tok")))
    val w = Window.partitionBy($"doc_id").orderBy($"pos".asc)
    val pairs = toks.withColumn("t1", lead($"tok", 1).over(w))
      .filter($"t1".isNotNull && $"tok" =!= $"t1")
      .select($"tok".as("src"), $"t1".as("dst"))
    val edges = pairs.union(pairs.select($"dst".as("src"), $"src".as("dst")))
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w0"))
    val maxw = edges.agg(max($"w0").as("maxw"))
    // quantize weights so 85·w·score can't overflow at any corpus size;
    // zero-weight edges (negligible rarities under a huge max) drop out
    // deterministically on both engines
    val eds0 = edges.crossJoin(broadcast(maxw))
      .withColumn("w", expr(s"w0 div greatest(1, maxw div $TrWCap)"))
      .filter($"w" > 0)
    val deg0 = eds0.groupBy($"src").agg(sum($"w").as("wdeg"))
    val eds = eds0.join(deg0, "src")
      .select($"src", $"dst", $"w", $"wdeg")
      .localCheckpoint() // vocab²-bounded; cuts the corpus scan out of the loop
    // degrees re-read FROM the checkpoint so the seed vector and the
    // final join never replay the corpus lineage (plan-guarded)
    val deg = eds.select($"src", $"wdeg").distinct()
    val base = TrScale - TrScale * TrDampNum / TrDampDen
    var s = deg.select($"src".as("tok"), lit(TrScale).as("score"))
    for (_ <- 1 to iters) {
      s = eds.join(s.withColumnRenamed("tok", "src"), "src")
        .select($"dst",
          expr(s"($TrDampNum * w * score) div ($TrDampDen * wdeg)").as("c"))
        .groupBy($"dst")
        .agg((lit(base) + sum($"c")).as("score"))
        .withColumnRenamed("dst", "tok")
    }
    s.join(deg.withColumnRenamed("src", "tok"), "tok")
      .select($"tok", $"wdeg", $"score")
      .orderBy($"score".desc, $"tok".asc)
      .limit(k)
  }

  /** Minimum pair count for a PMI collocation — shared with the oracle
    * (rare pairs make PMI degenerate: a 1-count pair of two 1-count
    * tokens scores maximal PMI on zero evidence). */
  private[graft] val PmiMinCount = 3L

  /** Collocation mining via quantized pointwise mutual information —
    * PMI(a,b) = log2(N·c(ab) / (c(a·)·c(·b))) over ADJACENT token pairs,
    * the association score that separates "strong collocation" from
    * "both words are merely frequent" (raw bigram counts, text_bigrams,
    * rank frequent-frequent pairs first; PMI ranks surprising pairs).
    *
    * Quantization (same trick as text_surprisal): log2 via bit length —
    * pmi_bits = (bitlen(N) + bitlen(c_ab)) − (bitlen(c_a) + bitlen(c_b)),
    * a ±2-bit integer approximation with NO products (each bitlen is of
    * a count ≤ N, so nothing can overflow at any corpus size) and no
    * libm in the gate — both engines compute identical integers.
    *
    * Scale: marginals derive from the pair-count table (vocab²-bounded),
    * NOT from a second corpus pass — the corpus is scanned once,
    * collapsed map-side to c(a,b) partials; everything downstream is
    * vocab-sized. Top-k is an ordered limit (TakeOrderedAndProject). */
  def pmiBigrams(spark: SparkSession, sfDir: String, k: Int = 20)
      : DataFrame = {
    import spark.implicits._
    val toks = Tables.read(spark, sfDir, "documents")
      .withColumn("norm", expr(TextNorm.normSql))
      .select($"doc_id", posexplode(split($"norm", " ")).as(Seq("pos", "tok")))
    val w = Window.partitionBy($"doc_id").orderBy($"pos".asc)
    val cab = toks.withColumn("t1", lead($"tok", 1).over(w))
      .filter($"t1".isNotNull)
      .groupBy($"tok".as("a"), $"t1".as("b"))
      .agg(count(lit(1)).as("cab"))
    val ca = cab.groupBy($"a").agg(sum($"cab").as("ca"))
    val cb = cab.groupBy($"b").agg(sum($"cab").as("cb"))
    val n = cab.agg(sum($"cab").as("n_pairs"))
    cab.join(ca, "a").join(cb, "b").crossJoin(broadcast(n))
      .filter($"cab" >= PmiMinCount)
      .select(concat_ws(" ", $"a", $"b").as("bigram"),
        $"cab".as("cnt"), $"ca", $"cb",
        ((length(bin($"n_pairs")) + length(bin($"cab")))
          - (length(bin($"ca")) + length(bin($"cb"))))
          .cast("long").as("pmi_bits"))
      .orderBy($"pmi_bits".desc, $"cnt".desc, $"bigram".asc)
      .limit(k)
  }

  /** Merge steps for [[bpeMerges]] — shared with the DuckDB oracle,
    * which unrolls exactly this many pair-select + merge stages. */
  val BpeSteps = 3

  /** Symbol-boundary marker for [[bpeMerges]]'s wrapped representation
    * (ASCII unit separator — cannot occur in text run through
    * [[graft.functions.TextNorm]]). Shared with the DuckDB oracle as
    * chr(31). */
  val BpeMark = "\u001f"

  /** BPE tokenizer training — the first merge steps of byte-pair
    * encoding (Sennrich et al., ACL 2016), the vocabulary-construction
    * pass every modern tokenizer starts from. Each step finds the most
    * frequent adjacent symbol pair across the corpus (weighted by word
    * frequency, deterministic (count DESC, pair ASC) tie-break) and
    * merges it everywhere; the output is the ordered merge table — the
    * artifact a tokenizer ships.
    *
    * Distributed shape: the corpus is scanned ONCE into a (word, count)
    * table (map-side combined, localCheckpoint'ed); every iteration
    * after that is vocab-sized — pair candidates explode off the word
    * table, the winning pair is a 1-row ordered limit, and the merge
    * applies via a broadcast cross join. At 100 TB the corpus pass
    * dominates and the k merge steps cost the same as at 1 GB.
    *
    * Merge semantics are GREEDY LEFT-TO-RIGHT, implemented identically
    * on both engines as ONE string replacement per step over the
    * MARKER-WRAPPED symbol string ("␟t␟ ␟a␟ ␟b␟ …", [[BpeMark]] = unit
    * separator): because every symbol owns its own delimiters, adjacent
    * matches share no characters — so a single left-to-right
    * non-overlapping `replace` pass IS the greedy fold, including runs
    * of one symbol ("a a a a" pairs (1,2)(3,4) in one pass; a naive
    * space-joined representation shares boundary spaces between matches
    * and strands symbols between merges — spec-tested against a true
    * fold on a run-heavy corpus). */
  def bpeMerges(spark: SparkSession, sfDir: String,
      steps: Int = BpeSteps): DataFrame =
    bpeMergesFromWords(spark, bpeWordTable(spark, sfDir), steps)

  /** The ONE corpus pass of BPE training: map-side-combined (word,
    * count) table in the marker-wrapped symbol representation,
    * localCheckpoint'ed so no merge step re-scans the corpus. */
  private[graft] def bpeWordTable(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "documents")
      .select(explode(split(TextNorm.normCol, " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .select($"cnt",
        rtrim(regexp_replace($"tok", "(.)", s"$m$$1$m ")).as("syms"))
      .localCheckpoint()
  }

  private def m = BpeMark

  /** One training step's winner: the most frequent adjacent symbol pair
    * over the (frozen, vocab-sized) word table, deterministic
    * (count DESC, pair ASC) ordered limit — plans as
    * TakeOrderedAndProject with no corpus scan (PlanSpec-guarded). */
  private[graft] def bpeTopPair(spark: SparkSession, words: DataFrame)
      : DataFrame = {
    import spark.implicits._
    words
      .select($"cnt", expr(
        """explode(arrays_zip(
          |  slice(split(syms, ' '), 1, size(split(syms, ' ')) - 1),
          |  slice(split(syms, ' '), 2, size(split(syms, ' ')) - 1)))
          |  AS z""".stripMargin))
      .select($"cnt", expr(s"replace(z['0'], '$m', '')").as("p1"),
        expr(s"replace(z['1'], '$m', '')").as("p2"))
      .groupBy($"p1", $"p2").agg(sum($"cnt").as("pair_count"))
      .orderBy($"pair_count".desc, $"p1".asc, $"p2".asc).limit(1)
  }

  /** Training loop over an already-counted (cnt, syms) word table —
    * separated so the degenerate-corpus behavior is spec-testable. Each
    * step's winning pair is a 1-ROW FITTED DECISION collected to the
    * driver (the spark.ml model pattern — the merge table IS the model
    * a tokenizer ships), so the merge applies as literal arguments to a
    * codegen'd `replace` with no crossJoin; a corpus with NO adjacent
    * pair left (every word a single symbol) stops the loop VISIBLY —
    * warning + a merge table shorter than `steps` — instead of a silent
    * empty-crossJoin wiping the vocabulary (r8 advice). */
  private[graft] def bpeMergesFromWords(spark: SparkSession,
      wordsIn: DataFrame, steps: Int): DataFrame = {
    import spark.implicits._
    var words = wordsIn
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val sel = bpeTopPair(spark, words).collect()
      if (sel.isEmpty) {
        System.err.println(
          s"[bpeMerges] no adjacent pair left at step $step of $steps — " +
            "corpus fully merged; emitting a shorter merge table")
        exhausted = true
      } else {
        val (p1, p2) = (sel(0).getString(0), sel(0).getString(1))
        merges += ((step.toLong, p1, p2, p1 + p2, sel(0).getLong(2)))
        // literal pat/rep through call_function — no SQL-text round trip
        // (a quote inside a token would break an interpolated expr)
        words = words
          .withColumn("syms", call_function("replace", $"syms",
            lit(m + p1 + m + " " + m + p2 + m), lit(m + p1 + p2 + m)))
          .select($"cnt", $"syms").localCheckpoint()
        step += 1
      }
    }
    merges.result()
      .toDF("step", "p1", "p2", "merged", "pair_count")
      .orderBy($"step".asc)
  }

  /** BPE encode — apply the [[bpeMerges]] merge table (in training
    * order) and report per-document segmentation: token, character, and
    * symbol counts plus the compression ratio, the number that says how
    * many training-sequence slots a document will cost.
    *
    * Scale: merges apply to the VOCABULARY, never the corpus — the
    * (word → segmentation) table is built once (each of the k merges is
    * a broadcast 1-row cross join + one greedy replace over vocab rows),
    * and documents join their tokens against it (hint-free; AQE
    * broadcasts a small vocab). The corpus is touched exactly twice:
    * once inside training's word count, once for the token join. */
  def bpeApply(spark: SparkSession, sfDir: String,
      steps: Int = BpeSteps): DataFrame = {
    import spark.implicits._
    // the merge table is the FITTED MODEL (k rows) — collected in
    // training order; a shorter-than-steps table (degenerate corpus,
    // see bpeMergesFromWords) simply applies fewer merges instead of
    // emptying the vocab through a crossJoin against a missing step
    val mergeRows = bpeMerges(spark, sfDir, steps)
      .orderBy($"step".asc).select($"p1", $"p2").collect()
    val vocab0 = Tables.read(spark, sfDir, "documents")
      .select(explode(split(TextNorm.normCol, " ")).as("tok"))
      .distinct()
      .select($"tok",
        rtrim(regexp_replace($"tok", "(.)", s"$m$$1$m ")).as("syms"))
    val segmented = mergeRows.foldLeft(vocab0) { (v, r) =>
      val (p1, p2) = (r.getString(0), r.getString(1))
      v.withColumn("syms", call_function("replace", $"syms",
          lit(m + p1 + m + " " + m + p2 + m), lit(m + p1 + p2 + m)))
        .select($"tok", $"syms")
    }
    val vocab = segmented
      .select($"tok", length($"tok").cast("long").as("n_chars_w"),
        size(split($"syms", " ")).cast("long").as("n_syms_w"))
    Tables.read(spark, sfDir, "documents")
      .select($"doc_id", explode(split(TextNorm.normCol, " ")).as("tok"))
      .join(vocab, Seq("tok"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum($"n_chars_w").as("n_chars"),
        sum($"n_syms_w").as("n_symbols"))
      .select($"doc_id", $"n_tokens", $"n_chars", $"n_symbols",
        round($"n_symbols".cast("double") / $"n_chars", 4)
          .as("compression"))
      .orderBy($"doc_id".asc)
  }

  /** Frequency-of-frequencies spectrum — the Good–Turing front-end every
    * tokenizer/coverage study starts from: how many vocabulary types
    * occur once (hapaxes), 2–3×, 4–7×, … and what fraction of the corpus
    * token mass each band covers. Bands are `bitlen(cnt)` (the same
    * `bin()`-length quantization as [[surprisal]]), so band b holds
    * types with 2^(b−1) ≤ cnt < 2^b and the report is exact integer
    * arithmetic end-to-end — no log, nothing for an engine to round
    * differently.
    *
    * Scale: one map-side-combined (tok, cnt) aggregate over the token
    * stream (the only corpus-sized shuffle, keys are tokens); the
    * spectrum itself is a ≤ 64-row aggregate over the vocabulary table.
    * Token mass is summed as decimal internally (overflow-proof at any
    * corpus size) and exported as a plain BIGINT per band only after
    * the band collapse. */
  /** Hashing-trick featurization (the HashingTF / Weinberger et al.
    * ICML'09 shape): each document's tokens hash into `nBins` buckets
    * via the codegen'd poly_hash — the fixed-width, vocabulary-free
    * feature vector every linear classifier / quality filter consumes at
    * corpus scale (no dictionary to build, broadcast, or version; OOV is
    * impossible by construction). Per doc: the L1 mass (token count),
    * the number of NONZERO bins, the argmax bin with deterministic
    * tie-break (highest count, then lowest bin), and a mod-prime
    * checksum folding the (bin, count) pairs in bin order, so the
    * oracle confirms the ENTIRE sparse vector, not just its summary.
    *
    * Scale: one token explode → (doc, bin) count (map-side combining
    * partial aggregate) → per-doc collapse; nothing wider than the
    * sparse vectors themselves ever shuffles, and the feature space is
    * fixed at nBins regardless of corpus vocabulary. */
  def hashFeatures(spark: SparkSession, sfDir: String, nBins: Int = 64)
      : DataFrame = {
    import spark.implicits._
    val P = ChecksumP
    val bins = Tables.read(spark, sfDir, "documents")
      .select($"doc_id", explode(split(TextNorm.normCol, " ")).as("tok"))
      .select($"doc_id",
        (call_function("poly_hash", $"tok", lit(1 << 20)) % nBins)
          .cast("int").as("bin"))
      .groupBy($"doc_id", $"bin").agg(count(lit(1)).as("cnt"))
    bins
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("n_tokens"),
        count(lit(1)).as("nnz"),
        max_by($"bin", struct($"cnt", -$"bin")).as("top_bin"),
        max($"cnt").as("top_cnt"),
        sort_array(collect_list(struct($"bin", $"cnt"))).as("vec"))
      .withColumn("feat_checksum", expr(
        s"aggregate(vec, 0L, (a, x) -> " +
          s"((a * 31 + x.bin) * 31 + x.cnt) % $P)"))
      .select($"doc_id", $"n_tokens", $"nnz", $"top_bin", $"top_cnt",
        $"feat_checksum")
      .orderBy($"doc_id".asc)
  }

  def freqSpectrum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.read(spark, sfDir, "documents")
      .select(explode(split(TextNorm.normCol, " ")).as("tok"))
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum($"cnt".cast("decimal(38,0)")).as("n_total"),
      count(lit(1)).as("n_vocab"))
    vocab
      .groupBy(length(bin($"cnt")).cast("long").as("band"))
      .agg(count(lit(1)).as("n_types"),
        sum($"cnt".cast("decimal(38,0)")).as("band_mass"),
        min($"cnt").as("min_cnt"), max($"cnt").as("max_cnt"))
      .crossJoin(broadcast(total))
      .select($"band", $"n_types", $"min_cnt", $"max_cnt",
        $"band_mass".cast("long").as("n_occurrences"),
        round($"n_types".cast("double") / $"n_vocab", 6)
          .as("type_fraction"),
        round($"band_mass".cast("double") / $"n_total".cast("double"), 6)
          .as("mass_fraction"))
      .orderBy($"band".asc)
  }

  /** Vocabulary-growth (Heaps-law) curve — distinct-type count as a
    * function of corpus position in doc_id order, the statistic that
    * sizes a tokenizer's vocab and says when a corpus stops paying for
    * itself. A token is NEW at the first doc (min doc_id) containing it;
    * the curve is the running sum of new-type counts over docs.
    *
    * Scale: the running sum is the [[packSequences]] distributed prefix
    * sum, not a global-order window — docs group into ≤ 8192 doc_id
    * ranges sized from the corpus count, range offsets come from a
    * triangular broadcast join over the range table, and the per-doc
    * cumsum is a window partitioned BY RANGE. First-occurrence
    * attribution is one (tok → min doc_id) aggregate over the token
    * stream; everything after is doc-count-sized. */
  def vocabGrowth(spark: SparkSession, sfDir: String,
      rangeSize: Long = 0L): DataFrame = {
    import spark.implicits._
    val base = Tables.read(spark, sfDir, "documents")
    val width =
      if (rangeSize > 0L) rangeSize
      else math.max(100L, (base.count() + 8191L) / 8192L)
    val toks = base
      .select($"doc_id", explode(split(TextNorm.normCol, " ")).as("tok"))
    val firstDoc = toks.groupBy($"tok").agg(min($"doc_id").as("first_doc"))
    val newPerDoc = firstDoc.groupBy($"first_doc".as("doc_id"))
      .agg(count(lit(1)).as("n_new"))
    // every doc appears in the curve, including ones introducing no new
    // type — left join the doc spine so flat segments are explicit rows
    val docs = base.select($"doc_id")
      .join(newPerDoc, Seq("doc_id"), "left_outer")
      .withColumn("n_new", coalesce($"n_new", lit(0L)))
      .withColumn("rng", expr(s"doc_id div $width"))
    val rangeTotals = docs.groupBy($"rng").agg(sum($"n_new").as("rng_new"))
    val rangeOffsets = rangeTotals.as("a")
      .join(broadcast(rangeTotals.as("b")), $"b.rng" < $"a.rng", "left_outer")
      .groupBy($"a.rng".as("rng"))
      .agg(coalesce(sum($"b.rng_new"), lit(0L)).as("rng_offset"))
    val wDoc = Window.partitionBy($"rng").orderBy($"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.join(broadcast(rangeOffsets), Seq("rng"))
      .withColumn("vocab_size",
        $"rng_offset" + sum($"n_new").over(wDoc))
      .select($"doc_id", $"n_new", $"vocab_size")
      .orderBy($"doc_id".asc)
  }

  /** Bigram-LM quantized surprisal — the conditional-entropy upgrade of
    * [[surprisal]] and the closest hash-gateable stand-in for the KenLM
    * perplexity filter (CCNet): score each document by how surprising
    * each token is GIVEN its predecessor under a corpus bigram LM.
    * −log₂ p(w₂|w₁) = log₂ c(w₁) − log₂ c(w₁w₂) is quantized to
    * `bitlen(c(w₁)) − bitlen(c(w₁w₂))` (exact integers, within 1 bit),
    * so per-doc sums are partition-order-independent and the oracle
    * replays them bit-for-bit. Docs whose bigram mix is boilerplate
    * (high-frequency continuations) score low; incoherent token salad
    * scores high — the two tails a perplexity filter trims.
    *
    * Scale: bigram formation is a per-doc window over the positioned
    * token stream (partitioned by doc — no global order); c(w₁w₂) and
    * c(w₁) are two map-side-combined aggregates (c(w₁) derived from the
    * bigram-count table, vocab²-bounded, NOT a second corpus pass); the
    * score join is hint-free — AQE broadcasts a small LM, shuffles a
    * large one. */
  def bigramSurprisal(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.read(spark, sfDir, "documents")
      .withColumn("norm", expr(TextNorm.normSql))
      .select($"doc_id", posexplode(split($"norm", " ")).as(Seq("pos", "tok")))
    val w = Window.partitionBy($"doc_id").orderBy($"pos".asc)
    val bigrams = toks.withColumn("t1", lead($"tok", 1).over(w))
      .filter($"t1".isNotNull)
      .select($"doc_id", $"tok".as("w1"), $"t1".as("w2"))
    val c2 = bigrams.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy($"w1").agg(sum($"c2").as("c1"))
    bigrams
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .select($"doc_id",
        (length(bin($"c1")) - length(bin($"c2"))).cast("long").as("bits"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"bits").as("bits_total"))
      .select($"doc_id", $"n_bigrams", $"bits_total",
        round($"bits_total".cast("double") / $"n_bigrams", 4)
          .as("bits_per_bigram"))
      .orderBy($"doc_id".asc)
  }

  /** Quantized backoff penalty for [[lmBackoff]] — ⌈−log₂ 0.4⌉ bits,
    * the integer stand-in for stupid backoff's α = 0.4 discount. */
  val LmAlphaBits = 1L

  /** STUPID-BACKOFF bigram LM scoring (Brants et al., EMNLP'07 — "Large
    * Language Models in Machine Translation") — the held-out upgrade of
    * [[bigramSurprisal]] and the real CCNet-filter shape: the LM trains
    * on HALF the corpus (even doc_ids) and scores the OTHER half, so
    * unseen bigrams genuinely occur and the backoff path fires.
    * S(w₂|w₁) = c(w₁w₂)/c(w₁) when the bigram was seen, else
    * α·c(w₂)/N (no normalization — that is stupid backoff's point:
    * scores, not probabilities, at corpus scale). Quantized to exact
    * integer bits: seen → bitlen(c(w₁)) − bitlen(c(w₁w₂)); backoff →
    * [[LmAlphaBits]] + bitlen(N) − bitlen(c(w₂)), with an OOV w₂
    * treated as count 1 (the second backoff level). Per-doc sums are
    * partition-order-independent integers — hash-gated, no float
    * tolerance. `n_backoff` (how many bigrams fell back) is the
    * domain-shift signal a curation pass actually reads.
    *
    * Scale: both LM tables are vocab-bounded map-side-combined
    * aggregates over the train split (c(w₁) derived FROM the bigram
    * table, not a second corpus pass); scoring left-joins the held-out
    * bigram stream against them — AQE broadcasts small LMs, shuffles
    * large ones; N is a one-row broadcast. */
  def lmBackoff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.read(spark, sfDir, "documents")
      .withColumn("norm", expr(TextNorm.normSql))
      .select($"doc_id", posexplode(split($"norm", " ")).as(Seq("pos", "tok")))
    val w = Window.partitionBy($"doc_id").orderBy($"pos".asc)
    val bigrams = toks.withColumn("t1", lead($"tok", 1).over(w))
      .filter($"t1".isNotNull)
      .select($"doc_id", $"tok".as("w1"), $"t1".as("w2"))
    val train = bigrams.filter($"doc_id" % 2 === 0)
    val held = bigrams.filter($"doc_id" % 2 =!= 0)
    val c2 = train.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy($"w1").agg(sum($"c2").as("c1"))
    val cu = toks.filter($"doc_id" % 2 === 0)
      .groupBy($"tok").agg(count(lit(1)).as("cu"))
    val n = cu.agg(sum($"cu").as("n_tok"))
    held
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(cu.withColumnRenamed("tok", "w2"), Seq("w2"), "left")
      .crossJoin(broadcast(n))
      .select($"doc_id", $"c2".isNull.as("backoff"),
        when($"c2".isNotNull,
          length(bin($"c1")) - length(bin($"c2")))
          .otherwise(lit(LmAlphaBits) +
            length(bin($"n_tok")) - length(bin(coalesce($"cu", lit(1L)))))
          .cast("long").as("bits"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when($"backoff", 1L).otherwise(0L)).as("n_backoff"),
        sum($"bits").as("bits_total"))
      .select($"doc_id", $"n_bigrams", $"n_backoff", $"bits_total",
        round($"bits_total".cast("double") / $"n_bigrams", 4)
          .as("bits_per_bigram"))
      .orderBy($"doc_id".asc)
  }

  /** Deterministic integer weight for classifier bin `b` ∈ [0, nBins):
    * a zero-centered value in [−100, 100] from pure positive modular
    * arithmetic, so the DuckDB oracle regenerates the identical weight
    * table from the same formula (the `jlSign` convention). */
  def classifierWeight(b: Int): Long =
    ((b.toLong * 2654435761L + 40503L) % 1000003L) % 201L - 100L

  /** The per-document classifier score as a ROW-LOCAL column over `text`:
    * score = Σ_tokens w(poly_hash(tok) mod nBins). Because the linear
    * model is ADDITIVE over tokens, the per-doc (bin, count) grouping the
    * featurizer materializes is unnecessary for SCORING — the whole dot
    * product folds inside the row, so classifier apply ships ZERO bytes
    * per document to any exchange (vs two doc-sized shuffles for a
    * group-then-dot plan). The weight table rides along as nBins plan
    * literals ([[classifierWeight]]). Shared by the batch operator and
    * its streaming twin. */
  def classifierDocScore(nBins: Int = 64,
      weights: Seq[Long] = Nil): Column = {
    val ws = if (weights.nonEmpty) weights
      else (0 until nBins).map(classifierWeight)
    val wArr = array(ws.map(lit): _*)
    aggregate(
      split(TextNorm.normCol, " "),
      lit(0L),
      (acc, tok) => acc + element_at(wArr,
        (call_function("poly_hash", tok, lit(1 << 20)) % nBins)
          .cast("int") + 1))
  }

  /** Per-language survival rollup over (lang, score) rows — the one
    * aggregation classifier apply pays, merge-order-invariant cell for
    * cell (counts/min/max/decimal sum), so the STREAMING twin maintains
    * the identical state in Complete mode. The checksum column stays a
    * raw DECIMAL sum of `pmod(score, P)` here; [[classifierFinalize]]
    * applies the final mod — stream and batch finalize through the same
    * code. */
  def classifierRollup(scored: DataFrame, threshold: Long = 0L)
      : DataFrame = {
    import scored.sparkSession.implicits._
    scored
      .withColumn("keep", $"score" >= threshold)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        sum(when(!$"keep", 1L).otherwise(0L)).as("n_dropped"),
        min($"score").as("score_min"),
        max($"score").as("score_max"),
        sum(pmod($"score", lit(ChecksumP)).cast("decimal(38,0)"))
          .as("cks_raw"))
  }

  /** Final mod + export types for a [[classifierRollup]] table. */
  def classifierFinalize(rollup: DataFrame): DataFrame = {
    import rollup.sparkSession.implicits._
    rollup.select($"lang", $"n_docs", $"n_kept", $"n_dropped",
      $"score_min", $"score_max",
      pmod($"cks_raw", lit(ChecksumP).cast("decimal(38,0)"))
        .cast("long").as("score_checksum"))
      .orderBy($"lang".asc)
  }

  /** LINEAR-CLASSIFIER APPLY over the hashing-trick features — the stage
    * that completes the [[hashFeatures]] chain into the production
    * quality-filter shape (the fastText/CCNet pattern: featurize →
    * score → threshold → keep/drop): each document's 64-bin sparse count
    * vector dots a FIXED integer weight vector ([[classifierWeight]] —
    * in production the trained model's quantized weights, here a
    * deterministic table both engines regenerate), the keep decision is
    * `score ≥ 0`, and the rollup reports per-language survival plus the
    * exact score range and a mod-prime checksum of every per-doc score —
    * so the oracle confirms the full score vector, not just the counts.
    *
    * Exact integer math end-to-end: per-doc score = Σ cnt(bin)·w(bin) =
    * Σ_tokens w(bin(tok)) (|score| ≤ 100·n_tokens, far inside Long per
    * doc); the corpus-wide checksum folds `pmod(score, P)` through a
    * DECIMAL(38,0) sum (overflow-proof at any corpus size) before the
    * final mod — no float anywhere, hash-gated like the featurizer.
    *
    * Scale: scoring is MAP-ONLY ([[classifierDocScore]] — additivity
    * over tokens makes the featurizer's per-doc grouping unnecessary
    * for apply, so nothing document-sized ever reaches an exchange;
    * PlanSpec pins the plan to ONE aggregate exchange of ≤ |langs|
    * partials). Nothing grows with vocabulary or model version:
    * swapping weights re-plans zero shuffles. */
  def classifierScore(spark: SparkSession, sfDir: String,
      nBins: Int = 64, threshold: Long = 0L): DataFrame = {
    import spark.implicits._
    val scored = Tables.read(spark, sfDir, "documents")
      .select($"lang", classifierDocScore(nBins).as("score"))
    classifierFinalize(classifierRollup(scored, threshold))
  }

  /** Exact integer bit-length (bitlen(x) = ⌊log2 x⌋ + 1 for x ≥ 1) —
    * the `length(bin(x))` quantization the surprisal LM and frequency
    * spectrum already use: a log both engines compute identically. */
  private def bitlen(x: Long): Long =
    (64 - java.lang.Long.numberOfLeadingZeros(x)).toLong

  /** Integer Naive-Bayes log-odds per hashed bin, TRAINED from the
    * corpus: per bin b, w(b) = bitlen(c⁺(b)+1) + bitlen(T⁻+nBins)
    * − bitlen(c⁻(b)+1) − bitlen(T⁺+nBins) — the add-one-smoothed
    * log₂(P(b|pos)/P(b|neg)) rounded to whole bits (the surprisal
    * `length(bin(…))` quantization), so training is exact integer
    * arithmetic end-to-end and the DuckDB oracle re-derives the same
    * weight table. `vsAll = true` makes the denominator the RAW corpus
    * distribution instead of the complement — the DSIR importance-weight
    * shape ([[importanceSample]]).
    *
    * Scale: one token-explode pass collapsing map-side to ≤ nBins
    * (cpos, cneg) cells; the ≤ 64-row fitted model collects to the
    * driver (the k-means-centroid pattern) and re-enters every
    * downstream plan as literals. */
  private[graft] def trainedBinWeights(docs: DataFrame,
      nBins: Int, posLang: String, vsAll: Boolean): Array[Long] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = docs
      .select($"lang", explode(split(TextNorm.normCol, " ")).as("tok"))
      .select($"lang",
        (call_function("poly_hash", $"tok", lit(1 << 20)) % nBins)
          .cast("int").as("bin"))
      .groupBy($"bin")
      .agg(sum(when($"lang" === posLang, 1L).otherwise(0L)).as("cpos"),
        sum(when(lit(vsAll) || $"lang" =!= posLang, 1L).otherwise(0L))
          .as("cneg"))
      .as[(Int, Long, Long)].collect()
    val cpos = Array.fill(nBins)(0L)
    val cneg = Array.fill(nBins)(0L)
    rows.foreach { case (b, p, n) => cpos(b) = p; cneg(b) = n }
    val tpos = cpos.sum
    val tneg = cneg.sum
    Array.tabulate(nBins)(b =>
      bitlen(cpos(b) + 1) + bitlen(tneg + nBins) -
        bitlen(cneg(b) + 1) - bitlen(tpos + nBins))
  }

  /** CLASSIFIER TRAINING — the step that completes the quality-filter
    * chain [[hashFeatures]] → [[classifierScore]] (apply) into the full
    * fastText/CCNet loop: an integer Naive-Bayes model over the same 64
    * hashed bins, trained against the labeled `lang` column (positive
    * class `posLang`, the corpus majority), then APPLIED through the
    * identical map-only scoring column and per-language survival rollup
    * as the fixed-weight operator — so `n_kept` here reads "predicted
    * positive" and the per-language split IS the confusion readout
    * (PipelineOpsSpec asserts the trained model separates the positive
    * language where the fixed pseudo-random table cannot).
    *
    * Fixture honesty: this corpus's `text` is language-INDEPENDENT word
    * salad (a full-precision word-level NB reaches 61.6% train accuracy
    * vs the 56.4% majority baseline, and after 64-bin hashing even the
    * unquantized per-bin log-odds sit in the sampling noise), so HERE
    * both the trained and the fixed model score at chance — no accuracy
    * ordering between them is signal. The spec therefore asserts
    * trained-beats-fixed where separation exists (an in-memory corpus
    * with genuine vocabulary divergence: trained = 100%, fixed cannot
    * reach it) and, on the real fixture, that the trained weight table
    * bit-matches an in-memory replay of the training math (the ANN
    * "recall floors are bug guards, not quality claims" stance).
    *
    * Exact integer math end-to-end ([[trainedBinWeights]]), hash-gated:
    * the oracle re-trains the same model from the same counts. Scale:
    * training is one token pass collapsing to ≤ nBins cells; apply is
    * the same zero-shuffle row-local dot as `text_classifier_score`. */
  def classifierTrainOn(docs: DataFrame,
      nBins: Int = 64, posLang: String = "en"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = trainedBinWeights(docs, nBins, posLang, vsAll = false)
    val scored = docs
      .select($"lang",
        classifierDocScore(nBins, w.toIndexedSeq).as("score"))
    classifierFinalize(classifierRollup(scored))
  }

  def classifierTrain(spark: SparkSession, sfDir: String,
      nBins: Int = 64, posLang: String = "en"): DataFrame =
    classifierTrainOn(Tables.read(spark, sfDir, "documents"), nBins, posLang)

  /** DATA SELECTION BY IMPORTANCE RESAMPLING (the DSIR shape, Xie et
    * al. 2023, arXiv:2302.03169): per-document importance weight =
    * Σ_tokens [log P_target(bin) − log P_raw(bin)] over the same 64
    * hashed-n-gram features, target = the `targetLang` slice, raw = the
    * whole corpus — quantized to whole bits ([[trainedBinWeights]] with
    * `vsAll = true`), so a document scores ≥ 0 iff its token mix looks
    * more like the target distribution than like the raw corpus, and
    * the threshold-0 selection is the deterministic integer analogue of
    * DSIR's importance sampling. The rollup reports, per language, how
    * much of it the target-seeking filter selects, plus the exact score
    * range and a mod-prime checksum of the SELECTED doc ids, so the
    * oracle confirms the membership set, not just the counts.
    *
    * Fixture honesty: on THIS corpus the target (`en`) slice and the
    * raw corpus share one word-salad distribution, so the bin
    * log-ratios quantize to noise around 0 (exactly 0 at sf0.01 — the
    * filter then selects everything, the correct DSIR answer for "the
    * corpus already matches the target"; ±1-bit rounding noise at other
    * SFs) and no selection direction here is a quality claim. The spec
    * proves discrimination on an in-memory corpus whose target slice
    * has genuinely divergent vocabulary (the ev_lateness
    * replayed-arrival precedent for fixture vacuity).
    *
    * Scale: training = one token pass to ≤ 64 cells; selection is
    * MAP-ONLY (the same row-local dot as classifier apply — zero bytes
    * per doc to any exchange) and the rollup one ≤ |langs| aggregate.
    * Nothing grows with corpus size but the scan. */
  def importanceSampleOn(docs: DataFrame,
      nBins: Int = 64, targetLang: String = "en"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val P = ChecksumP
    val w = trainedBinWeights(docs, nBins, targetLang, vsAll = true)
    docs
      .select($"doc_id", $"lang",
        classifierDocScore(nBins, w.toIndexedSeq).as("score"))
      .withColumn("sel", $"score" >= 0)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"sel", 1L).otherwise(0L)).as("n_selected"),
        min($"score").as("score_min"),
        max($"score").as("score_max"),
        pmod(sum(when($"sel", pmod($"doc_id", lit(P))).otherwise(0L))
          .cast("decimal(38,0)"), lit(P).cast("decimal(38,0)"))
          .cast("long").as("sel_checksum"))
      .withColumn("sel_rate",
        round($"n_selected".cast("double") / $"n_docs", 4))
      .select($"lang", $"n_docs", $"n_selected", $"sel_rate",
        $"score_min", $"score_max", $"sel_checksum")
      .orderBy($"lang".asc)
  }

  def importanceSample(spark: SparkSession, sfDir: String,
      nBins: Int = 64, targetLang: String = "en"): DataFrame =
    importanceSampleOn(Tables.read(spark, sfDir, "documents"),
      nBins, targetLang)

  /** Regex tiers for the PII scrub — the patterns every regex-tier
    * curation pass starts from (C4/Gopher/RefinedWeb all run one before
    * anything model-based). Kept to syntax that Java regex (Spark) and
    * RE2 (DuckDB) interpret IDENTICALLY: explicit char classes, greedy
    * bounded repetition, no word boundaries, no backreferences — the
    * hash gate replays find AND replace in both engines. */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val PiiPhoneRe = "[0-9]{7,}"

  /** Per-document PII detection + redaction: per-tier match counts on
    * the RAW text (tiers counted independently) and the scrubbed text
    * from a FIXED replace order (email → ip → phone, so an IP is never
    * half-eaten by the digit-run tier). Map-only — zero bytes per doc
    * reach any exchange. */
  private[graft] def piiScrubbedDocs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id", $"source", $"text",
      regexp_count($"text", lit(PiiEmailRe)).cast("long").as("n_email"),
      regexp_count($"text", lit(PiiIpRe)).cast("long").as("n_ip"),
      regexp_count($"text", lit(PiiPhoneRe)).cast("long").as("n_phone"),
      regexp_replace(regexp_replace(regexp_replace($"text",
        lit(PiiEmailRe), lit("<EMAIL>")),
        lit(PiiIpRe), lit("<IP>")),
        lit(PiiPhoneRe), lit("<PHONE>")).as("scrubbed"))
  }

  /** PII scrub report over an arbitrary (doc_id, source, text) corpus:
    * per source, how many documents carry PII, per-tier match totals,
    * the total character delta redaction produced, and a mod-prime
    * checksum of the AFFECTED doc ids (the membership discipline — the
    * oracle confirms WHICH docs were flagged, not just how many).
    * One low-cardinality aggregate after the map-only scan. */
  def piiScrubOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val P = ChecksumP
    piiScrubbedDocs(docs)
      .withColumn("pii", $"n_email" + $"n_ip" + $"n_phone" > 0L)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"pii", 1L).otherwise(0L)).as("n_pii_docs"),
        sum($"n_email").as("n_email"),
        sum($"n_ip").as("n_ip"),
        sum($"n_phone").as("n_phone"),
        sum(length($"text") - length($"scrubbed")).as("redact_delta"),
        pmod(sum(when($"pii", pmod($"doc_id", lit(P))).otherwise(0L))
          .cast("decimal(38,0)"), lit(P).cast("decimal(38,0)"))
          .cast("long").as("pii_ids_checksum"))
      .orderBy($"source".asc)
  }

  /** How many synthetic PII carriers [[piiScrub]] appends. */
  val PiiPlantCount = 20L

  /** The declared PII-scrub query: the fixture text is digit-free word
    * salad (zero matches on every tier — verified, and exactly what a
    * CLEAN corpus should report), so the fixture alone would gate
    * nothing. The corpus is therefore documents ∪ a 20-row deterministic
    * planted source ('planted', ids continuing from max(doc_id)):
    * i%3==0 rows carry an email, i%3==1 a phone digit-run AND an IP,
    * i%3==2 nothing — all constructed by the SAME arithmetic in the
    * DuckDB oracle, so the hash gate proves both engines agree on regex
    * find + replace over real AND planted rows: every real source must
    * report all-zero, the planted source 14/20 flagged with exact
    * per-tier counts, deltas, and the affected-id checksum.
    * PipelineOpsSpec proves precision/recall 1.0 on the planted set and
    * redaction idempotency. */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.read(spark, sfDir, "documents")
      .select($"doc_id", $"source", $"text")
    val maxId = base.agg(max($"doc_id")).head().getLong(0)
    val planted = spark.range(0, PiiPlantCount)
      .select(($"id" + maxId + 1L).as("doc_id"),
        lit("planted").as("source"),
        when($"id" % 3 === 0,
          concat(lit("reach user"), $"id".cast("string"), lit(" at user"),
            $"id".cast("string"), lit("@example.com today")))
        .when($"id" % 3 === 1,
          concat(lit("dial 55512345"), $"id".cast("string"),
            lit(" from 10.0."), $"id".cast("string"), lit("."),
            ($"id" * 7 % 256).cast("string"), lit(" now")))
        .otherwise(lit("clean text no contact info here")).as("text"))
    piiScrubOn(base.unionByName(planted))
  }
}
