package graft

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Degenerate-input behavior: an empty documents table (schema only) must
  * produce empty results, not crashes — at 100 TB some partition or date
  * slice is always empty. */
class RobustnessSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-empty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    Seq.empty[(Long, Long, String, Double, java.sql.Timestamp, String)]
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    Seq.empty[(Long, Long, Long, Int, Double, Double, String,
        java.sql.Timestamp)]
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("dedup operators return empty on an empty corpus") {
    assert(Dedup.exactDedup(spark, emptyDir).count() == 0)
    assert(Dedup.exactDedupTwoPass(spark, emptyDir).count() == 0)
    assert(Dedup.ngramJaccard(spark, emptyDir).count() == 0)
    assert(Dedup.minHashLsh(spark, emptyDir).count() == 0)
    assert(Dedup.simHash(spark, emptyDir).count() == 0)
    assert(Dedup.dedupClusters(spark, emptyDir).count() == 0)
    // the pipeline rollup groups by lang — zero docs, zero groups
    assert(Dedup.dedupPipeline(spark, emptyDir).count() == 0)
    assert(Multimodal.phashDedup(spark, emptyDir).count() == 0)
  }

  test("text operators return empty on an empty corpus") {
    assert(TextAnalysis.tokenCounts(spark, emptyDir).count() == 0)
    assert(TextAnalysis.qualityScore(spark, emptyDir).count() == 0)
    assert(TextAnalysis.langId(spark, emptyDir).count() == 0)
    assert(TextAnalysis.fingerprint(spark, emptyDir).count() == 0)
    assert(TextAnalysis.tfidfTopK(spark, emptyDir).count() == 0)
    assert(TextAnalysis.repetition(spark, emptyDir).count() == 0)
    assert(TextAnalysis.chunk(spark, emptyDir).count() == 0)
    assert(TextAnalysis.mixtureSample(spark, emptyDir).count() == 0)
    assert(TextAnalysis.decontaminate(spark, emptyDir).count() == 0)
    assert(TextAnalysis.packSequences(spark, emptyDir).count() == 0)
    assert(TextAnalysis.splitAssign(spark, emptyDir).count() == 0)
    assert(TextAnalysis.tokenRarity(spark, emptyDir).count() == 0)
    assert(Dedup.substringDedup(spark, emptyDir).count() == 0)
    // the funnel REPORT exists even for an empty corpus: 4 stages, all 0
    val funnel = TextAnalysis.curationFunnel(spark, emptyDir).collect()
    assert(funnel.length == 4 && funnel.forall(_.getLong(1) == 0L))
  }

  test("fk integrity: orphans are counted per child row on a broken corpus") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-fk").toString
    // region 0 exists; nation 7 points at missing region 9 (1 orphan)
    Seq((0L, "R0")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    Seq((5L, "N5", 0L), (7L, "N7", 9L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    // customer 2 points at missing nation 6
    Seq((1L, 5L), (2L, 6L)).toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    Seq((3L, 5L)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$dir/supplier.parquet")
    Seq(Tuple1(4L)).toDF("p_partkey").write.parquet(s"$dir/part.parquet")
    // order 11 -> missing customer 99
    Seq((10L, 1L), (11L, 99L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    // TWO lineitem ROWS point at missing order 77 (row-count semantics),
    // one at missing part 44, none at a missing supplier
    Seq((10L, 4L, 3L), (77L, 4L, 3L), (77L, 44L, 3L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // one event from unknown user 555
    Seq((1L, ts, 1L), (2L, ts, 555L)).toDF("event_id", "ts", "user_id")
      .write.parquet(s"$dir/events.parquet")
    val got = graft.operators.RefQueries.qFkIntegrity(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("nation.n_regionkey->region") == ((2L, 1L)))
    assert(got("customer.c_nationkey->nation") == ((2L, 1L)))
    assert(got("lineitem.l_orderkey->orders") == ((3L, 2L)),
      "orphans must count child ROWS, not distinct keys")
    assert(got("lineitem.l_partkey->part") == ((3L, 1L)))
    assert(got("lineitem.l_suppkey->supplier") == ((3L, 0L)))
    assert(got("orders.o_custkey->customer") == ((2L, 1L)))
    assert(got("events.user_id->customer") == ((2L, 1L)))
    assert(got("supplier.s_nationkey->nation") == ((1L, 0L)))
  }

  test("pack sequences: bin layout is invariant to the range decomposition") {
    import spark.implicits._
    // the distributed prefix sum decomposes doc order into coarse ranges;
    // its correctness claim is that the decomposition is INVISIBLE — one
    // giant range (the naive single cumsum), the corpus-derived default,
    // and degenerate tiny ranges must all emit the identical layout.
    // Randomized corpora: skewed token counts, sparse/duplicate-free ids
    // with gaps, three seeds.
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 1 to 3) {
      val dir = SparkSpec.tempDir(s"graft-pack$trial").toString
      val nDocs = 50 + rnd.nextInt(150)
      var id = 0L
      val docs = (0 until nDocs).map { _ =>
        id += 1L + rnd.nextInt(97) // gappy, increasing ids
        val nTok = 1 + (if (rnd.nextBoolean()) rnd.nextInt(8)
                        else rnd.nextInt(400)) // skewed lengths
        (id, (0 until nTok).map(t => s"w$t").mkString(" "), "en", "s", 0L)
      }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(5).write.parquet(s"$dir/documents.parquet")
      def layout(rangeSize: Long) =
        TextAnalysis.packSequences(spark, dir, rangeSize = rangeSize)
          .collect().map(_.toString).toSeq
      val oneRange = layout(Long.MaxValue / 4) // single range: naive cumsum
      val default = layout(0L)                 // corpus-derived width
      val tiny = layout(3L)                    // ~one range per few docs
      assert(default == oneRange,
        s"trial $trial: corpus-derived ranges diverge from the naive cumsum")
      assert(tiny == oneRange,
        s"trial $trial: degenerate tiny ranges diverge from the naive cumsum")
    }
  }

  test("similarity operators return empty on an empty embeddings table") {
    assert(Similarity.topKBruteForce(spark, emptyDir).count() == 0)
    assert(Similarity.topKLsh(spark, emptyDir).count() == 0)
    assert(Similarity.topKIvf(spark, emptyDir).count() == 0)
    assert(Similarity.topKIvfKmeans(spark, emptyDir).count() == 0)
    assert(Similarity.kmeansClusters(spark, emptyDir).count() == 0)
    assert(Similarity.cosineNearDup(spark, emptyDir).count() == 0)
    assert(Similarity.topKPq(spark, emptyDir).count() == 0)
    assert(Similarity.topKPqKmeans(spark, emptyDir).count() == 0)
    assert(Similarity.topKBinary(spark, emptyDir).count() == 0)
    assert(Similarity.dedupSemantic(spark, emptyDir).count() == 0)
  }

  test("sketch and event operators survive empty inputs") {
    import graft.operators.{Events, Sketches}
    // bloom: empty build side AND empty fact — no divide-by-zero in the
    // bit sizing, no NPE on the all-null probe joins
    assert(Sketches.bloomPrune(spark, emptyDir).count() == 0)
    assert(Sketches.heavyHittersCms(spark, emptyDir).count() == 0)
    assert(Events.cdcCompact(spark, emptyDir).count() == 0)
    assert(Events.incrementalAgg(spark, emptyDir).count() == 0)
  }

  test("events have unique (user_id, event_type, ts) — asof oracle determinism") {
    // The asof oracle no longer depends on this (it pre-reduces tied
    // clicks to max(event_id) per (user, ts), matching both Spark
    // variants' deterministic tie-break), but the property is still worth
    // surfacing: a regeneration with coarser timestamps changes gap_us
    // semantics and session boundaries, and this canary says so loudly.
    import org.apache.spark.sql.functions._
    val dups = Tables.read(spark, sf, "events")
      .groupBy(col("user_id"), col("event_type"), col("ts")).count()
      .filter(col("count") > 1).count()
    assert(dups == 0, s"$dups tied (user, type, ts) rows in events fixture")
  }

  test("l_quantity is integer-valued (qty double sums are exact by construction)") {
    // The q3/rollup/cube/multikey `qty` oracles sum l_quantity as plain
    // doubles. That is safe ONLY because every value is an integer-valued
    // double (sums stay exact and order-independent below 2^53) — unlike
    // events.value, which is continuous and summed as decimal everywhere.
    // If the generator ever emits fractional quantities, this fails loudly
    // and those sums must move to the decimal(20,6) pattern too.
    import org.apache.spark.sql.functions._
    val frac = Tables.read(spark, sf, "lineitem")
      .filter(col("l_quantity") =!= floor(col("l_quantity"))).count()
    assert(frac == 0, s"$frac fractional l_quantity rows — qty sums no longer exact")
  }

  test("testdata documents are ASCII (mm/text oracles equate bytes and chars)") {
    // The mm_* oracles fold DuckDB ascii() code points while the Scala
    // ops fold UTF-8 bytes; equivalent only for ASCII text. The
    // generator guarantees it — this guard makes the assumption fail
    // loudly if the fixtures ever change.
    import org.apache.spark.sql.functions._
    val nonAscii = Tables.read(spark, sf, "documents")
      .filter(length(col("text")) =!= octet_length(encode(col("text"), "UTF-8")))
      .count()
    assert(nonAscii == 0, s"$nonAscii non-ASCII documents in fixture")
  }

  test("events reader accepts micro-timestamp tables, not just the nanos fixture") {
    // a user's own events table has a plain TIMESTAMP ts; the nanos-as-
    // long conversion must be schema-driven, not assumed
    import org.apache.spark.sql.functions._
    val dir = SparkSpec.tempDir("graft-microev").toString
    Tables.read(spark, sf, "events").limit(100)
      .write.parquet(s"$dir/events.parquet") // Spark writes micros
    val again = Tables.read(spark, dir, "events")
    assert(again.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(again.count() == 100)
    // round-trip preserves values: micros written == micros read
    val orig = Tables.read(spark, sf, "events").limit(100)
      .agg(sum(unix_micros(col("ts")))).head.getLong(0)
    val rt = again.agg(sum(unix_micros(col("ts")))).head.getLong(0)
    assert(orig == rt)
  }

  test("multimodal ops return empty on an empty corpus") {
    assert(Multimodal.binaryFeatures(spark, emptyDir).count() == 0)
    assert(Multimodal.frameSample(spark, emptyDir).count() == 0)
    assert(Multimodal.resize(spark, emptyDir).count() == 0)
  }

  test("round-9 operators survive empty inputs") {
    import graft.operators.{Events, RefQueries}
    // iterative ops must CONVERGE (not hang or throw) on zero rows
    assert(Dedup.pageRank(spark, emptyDir).count() == 0)
    assert(Similarity.topKIvfPq(spark, emptyDir).count() == 0)
    // per-doc extractors: zero docs, zero rows
    assert(Multimodal.audioSilence(spark, emptyDir).count() == 0)
    assert(Multimodal.shotStats(spark, emptyDir).count() == 0)
    assert(Multimodal.imageStats(spark, emptyDir).count() == 0)
    assert(TextAnalysis.hashFeatures(spark, emptyDir).count() == 0)
    // rollups: empty fact, empty report (no divide-by-zero in the
    // count-derived batch size or the per-arm rates)
    assert(Events.latenessAudit(spark, emptyDir).count() == 0)
    assert(Events.abAssign(spark, emptyDir).count() == 0)
    assert(RefQueries.qDeltaJoin(spark, emptyDir).count() == 0)
    assert(RefQueries.qHilbertLayout(spark, emptyDir).count() == 0)
    assert(RefQueries.qHistogram(spark, emptyDir).count() == 0)
  }

  test("round-10 operators survive empty inputs") {
    // map-only scoring + lang rollup: zero docs, zero groups
    assert(TextAnalysis.classifierScore(spark, emptyDir).count() == 0)
    // empty pair graph: the star-CC resolver must CONVERGE immediately
    // and the survival rollup see zero groups
    assert(Multimodal.phashClusters(spark, emptyDir).count() == 0)
    // the hilbert WRITE path fails loudly on an empty table: an empty
    // partitioned write leaves no data files, so the read-back cannot
    // infer a schema — a fail-fast, not a fabricated zone-map answer
    // (a 100 TB ingest writing zero rows is a broken upstream, and
    // pretending the layout exists would poison every later consult)
    intercept[Exception] {
      graft.operators.RefQueries.qHilbertWrite(spark, emptyDir).count()
    }: Unit
  }

  test("corrupt payloads fail per-row (null + counted), never the task") {
    import spark.implicits._
    import graft.functions.{PpmCodec, WavCodec}
    // codec level: every malformation class is a None, not a throw
    val wav = WavCodec.encode("a perfectly ordinary clip of speech here"
      .getBytes("UTF-8"))
    assert(WavCodec.decodeOpt(wav).isDefined)
    assert(WavCodec.decodeOpt(wav.take(20)).isEmpty, "truncated WAV")
    assert(WavCodec.decodeOpt(Array.empty[Byte]).isEmpty, "empty blob")
    assert(WavCodec.decodeOpt("not RIFF at all".getBytes).isEmpty)
    // chunk-size field pointing past the buffer: the overrun class
    val overrun = wav.clone()
    overrun(42) = 0x7f.toByte // corrupt the data chunk's declared size
    assert(WavCodec.decodeOpt(overrun).isEmpty, "overrunning chunk")
    val ppm = PpmCodec.encode(Array.fill(48)(7.toByte), 16, 3)
    assert(PpmCodec.decodeOpt(ppm).isDefined)
    assert(PpmCodec.decodeOpt(ppm.take(9)).isEmpty, "truncated P6")
    assert(PpmCodec.decodeOpt(ppm.dropRight(5)).isEmpty, "short payload")
    assert(PpmCodec.decodeOpt("P5 1 1 255 x".getBytes).isEmpty)
    // operator level: a distributed corpus with corrupt payloads must
    // complete, count the failures per lang, and still dedup the rest
    val mk = (s: String) => WavCodec.encode(s.getBytes("UTF-8"))
    // varied content (constant signals fingerprint all-zero and would
    // cross-pair; real clips never do)
    val good = (0 until 80).map(i => ('a' + i * 7 % 26).toChar).mkString
    val other = (0 until 80).map(i => ('a' + (25 - i * 11 % 26)).toChar
      ).mkString
    val rows = Seq(
      (0L, "en", 80L, mk(good)),
      (1L, "en", 80L, mk("z" + good.drop(1))), // near-dup of 0
      (2L, "en", 20L, mk(good).take(20)),      // truncated
      (3L, "de", 80L, mk(other)),
      (4L, "de", 0L, Array.empty[Byte]),       // empty blob
      (5L, "de", 15L, "garbage bytes!!".getBytes("UTF-8")))
    val scanned = graft.operators.Multimodal.audioScan(
      rows.toDF("doc_id", "lang", "bytes", "payload"))
    val st = scanned.collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(st(2) == 2 && st(4) == 2 && st(5) == 2,
      s"corrupt payloads must scan as undecodable, got $st")
    assert(st(0) == 0 && st(1) == 0 && st(3) == 0)
    val out = graft.operators.Multimodal.audioDedupRollup(scanned)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(6))).toMap
    assert(out("en") == ((3L, 1L, 1L)),
      s"en: 3 clips, twin removed, 1 undecodable — got ${out("en")}")
    assert(out("de") == ((3L, 0L, 2L)),
      s"de: 3 clips, nothing removed, 2 undecodable — got ${out("de")}")
  }
}
