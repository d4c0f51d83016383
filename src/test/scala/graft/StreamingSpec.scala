package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Ev

/** Structured Streaming specs driven synchronously via MemoryStream +
  * processAllAvailable (the documented local-smoke pattern). */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowed counts aggregate by hour and type") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamingOps.windowedCounts(df).writeStream
      .outputMode(OutputMode.Complete).format("memory")
      .queryName("win_out").start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:55:00"), "click", 2.0),
        (ts("2024-01-01 11:05:00"), "click", 4.0),
        (ts("2024-01-01 10:10:00"), "view", 8.0))
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 11:00:00.0", "click", 1L, 4.0),
        ("2024-01-01 10:00:00.0", "view", 1L, 8.0)))
    } finally q.stop()
  }

  test("streaming dedup emits each event_id once across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("event_id", "ts", "event_type")
    val q = StreamingOps.dedupStream(df).writeStream
      .outputMode(OutputMode.Append).format("memory")
      .queryName("dedup_out").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), "click"),
        (1L, ts("2024-01-01 10:00:01"), "click"), // in-batch dup
        (2L, ts("2024-01-01 10:00:02"), "view"))
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 10:01:00"), "click")) // cross-batch dup
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == Seq(1L, 2L),
        s"expected each id once, got ${ids.mkString(",")}")
    } finally q.stop()
  }

  test("sessionizer closes a session after the gap via event-time timeout") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingOps.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("sess_out").start()
    try {
      // session 1: two events 10 min apart for user 1
      input.addData(
        Ev(1L, ts("2024-01-01 10:00:00"), 1.0),
        Ev(1L, ts("2024-01-01 10:10:00"), 2.0))
      q.processAllAvailable()
      // advance watermark far past gap: user 1's session must close.
      // (watermark = max event time - 10 min; 12:00 - 10 min > 10:40)
      input.addData(Ev(2L, ts("2024-01-01 12:00:00"), 5.0))
      q.processAllAvailable()
      input.addData(Ev(2L, ts("2024-01-01 14:00:00"), 1.0))
      q.processAllAvailable()
      val closed = spark.table("sess_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      assert(closed.contains((1L, 2L, 3.0, true)),
        s"expected user 1 session (2 events, 3.0) closed; got ${closed.mkString(", ")}")
    } finally q.stop()
  }

  test("stream-stream join attributes purchases to recent clicks per user") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val joined = StreamingOps.clickAttribution(
      clicks.toDF().toDF("c_user", "c_ts", "c_id"),
      purchases.toDF().toDF("p_user", "p_ts", "p_id"))
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("attr_out").start()
    try {
      clicks.addData(
        (1L, ts("2024-01-01 10:00:00"), 100L),
        (1L, ts("2024-01-01 09:00:00"), 101L), // >30min before purchase
        (2L, ts("2024-01-01 10:05:00"), 102L)) // other user
      purchases.addData((1L, ts("2024-01-01 10:10:00"), 200L))
      q.processAllAvailable()
      val pairs = spark.table("attr_out").collect()
        .map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("c_id"))).toSet
      assert(pairs == Set((200L, 100L)),
        s"expected purchase 200 <- click 100 only, got $pairs")
    } finally q.stop()
  }

  test("stream-static enrichment joins the broadcast dim per micro-batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val input = MemoryStream[(Long, Timestamp, Double)]
    val df = input.toDF().toDF("user_id", "ts", "value")
    val q = StreamingOps.enrichWithDim(df, dim).writeStream
      .outputMode(OutputMode.Append).format("memory")
      .queryName("enrich_out").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1.0),
        (2L, ts("2024-01-01 10:01:00"), 2.0),
        (9L, ts("2024-01-01 10:02:00"), 3.0)) // no dim row -> null segment
      q.processAllAvailable()
      val rows = spark.table("enrich_out").collect()
        .map(r => (r.getAs[Long]("user_id"),
          Option(r.getAs[String]("c_mktsegment")))).toSet
      assert(rows == Set(
        (1L, Some("BUILDING")), (2L, Some("MACHINERY")), (9L, None)))
    } finally q.stop()
  }

  test("in-batch gap splits sessions immediately") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingOps.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("sess_out2").start()
    try {
      input.addData(
        Ev(7L, ts("2024-01-01 09:00:00"), 1.0),
        Ev(7L, ts("2024-01-01 11:00:00"), 2.0)) // 2h gap inside one batch
      q.processAllAvailable()
      val closed = spark.table("sess_out2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      assert(closed.contains((7L, 1L, 1.0, true)),
        s"first session should close in-batch; got ${closed.mkString(", ")}")
    } finally q.stop()
  }

  test("latestPerKey re-emits the upsert row as later versions arrive") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[StreamingOps.Cdc]
    val q = StreamingOps.latestPerKey(input.toDS()).writeStream
      .outputMode(OutputMode.Update).format("memory")
      .queryName("cdc_out").start()
    try {
      input.addData(
        StreamingOps.Cdc(1L, 10L, ts("2024-01-01 10:00:00"), "click"),
        StreamingOps.Cdc(1L, 11L, ts("2024-01-01 10:05:00"), "view"))
      q.processAllAvailable()
      // older ts arrives late: version count bumps, latest does NOT change
      input.addData(
        StreamingOps.Cdc(1L, 9L, ts("2024-01-01 09:00:00"), "signup"))
      q.processAllAvailable()
      val rows = spark.table("cdc_out").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("last_event_id"),
          r.getAs[String]("last_event_type"), r.getAs[Long]("n_versions")))
      // Update mode emits one row per batch the key changed in;
      // the final state is the last emission
      assert(rows.last == ((1L, 11L, "view", 3L)),
        s"late old version must bump count only; got ${rows.mkString(", ")}")
      assert(rows.head == ((1L, 11L, "view", 2L)))
    } finally q.stop()
  }

  test("foreachBatch generational merge equals a from-scratch aggregate") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = SparkSpec.tempDir("graft_incr_state").toString
    val input = MemoryStream[(Long, Timestamp, Double)]
    val df = input.toDF().toDF("user_id", "ts", "value")
    val q = StreamingOps.incrementalAggSink(df, root)
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1.5),
        (2L, ts("2024-01-01 10:01:00"), 2.0))
      q.processAllAvailable()
      input.addData(
        (1L, ts("2024-01-01 11:00:00"), 3.25),
        (3L, ts("2024-01-01 11:01:00"), 4.0))
      q.processAllAvailable()
      val latest = new java.io.File(root).listFiles()
        .map(_.getName).filter(_.startsWith("state_v"))
        .map(_.stripPrefix("state_v").toLong).max
      val state = spark.read.parquet(s"$root/state_v$latest")
        .select($"user_id", $"n",
          $"s".cast("double").as("total"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(state == Set((1L, 2L, 4.75), (2L, 1L, 2.0), (3L, 1L, 4.0)),
        s"merged state wrong: $state")
    } finally q.stop()
  }

  test("file-stream harness: redelivery through real file appends dedups exactly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the declared-query harness end-to-end (parquet files renamed into
    // a monitored dir, redelivery of the inside-the-watermark slice,
    // file-source micro-batches) — the sink aggregate must equal the
    // batch aggregate over the UN-duplicated fixture. The redelivered
    // rows arrive ON-TIME by construction (ts > max − 9 min vs the
    // 10-min watermark), so they are absorbed by
    // dropDuplicatesWithinWatermark's dedup state itself, not by
    // late-row dropping — a dedup failure would double-count them here
    val got = graft.streaming.StreamingQueries.dedupRedelivery(spark, sf)
    val want = Tables.read(spark, sf, "events")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("cnt"),
        round(sum($"value".cast("decimal(20,6)")), 4).cast("double")
          .as("sum_value"))
      .orderBy($"event_type".asc)
    assertSameRows(got, want)
  }

  test("whole-table streams launch no job outside the stream and leave " +
      "no staged copy behind") {
    // these three deliver the whole events table as a copy of its parquet
    // file; the dedup redelivery still writes its filtered slice, which
    // proves the counter sees a delivery's write job
    val wholeTable =
      Seq("stream_window_tumbling", "stream_enrich_agg", "stream_cdc_upsert")
    val written = "stream_dedup_redelivery"
    // a first build fills the schema memo, so a job counted below is a
    // delivery (or a driver round trip), not a footer inference
    (wholeTable :+ written).foreach(SparkEntry.queries(_)(spark, sf))
    val base = graft.streaming.StreamingQueries.streamTmpBase.toFile
    def outsideStream(name: String): Int = {
      val before = base.list().toSet
      val (_, jobs) = nonStreamJobsDuring(SparkEntry.queries(name)(spark, sf))
      assert(base.list().toSet == before,
        s"$name left stream scratch behind")
      jobs
    }
    wholeTable.foreach { name =>
      val jobs = outsideStream(name)
      assert(jobs == 0, s"building $name launched $jobs job(s) outside " +
        "its stream")
    }
    assert(outsideStream(written) > 0,
      s"$written launched no job outside its stream: the counter is blind")
  }

  test("the delivery stager writes every delivery in one job, one file" +
      " each, in numeric bid order, skipping an empty one") {
    import org.apache.spark.sql.functions._
    val base = spark.range(0, 120).toDF("v")
    val empty = 5
    val deliveries = (0 until 12).map { i =>
      if (i == empty) base.filter(lit(false))
      else base.filter(col("v") % 12 === i)
    }
    val dir = SparkSpec.tempDir("stager_spec")
    try {
      val (staged, jobs) = jobsDuring(graft.streaming.StreamingQueries
        .stageDeliveries(deliveries, dir.resolve("stage")))
      assert(jobs == 1, s"staging launched $jobs jobs, not one write")
      // numeric, not by directory name: bid 10 follows bid 9
      assert(staged.map(_._1) == (0 until 12).filter(_ != empty)
        .map(_.toLong), s"deliveries out of order: ${staged.map(_._1)}")
      staged.foreach { case (bid, files) =>
        assert(files.size == 1, s"delivery $bid is ${files.size} files")
        val vs = spark.read.parquet(files.head.toString)
          .collect().map(_.getLong(0)).toSet
        assert(vs == (0L until 120L).filter(_ % 12 == bid).toSet,
          s"delivery $bid holds the wrong rows: $vs")
      }
    } finally graft.sources.Etl.deleteRecursively(dir.toFile)
  }

  test("a stream's deliveries cost one staging write, not one write" +
      " each") {
    // non-stream jobs per warm build before the stager (one write job
    // per delivery) and the deliveries each query makes
    val before = Seq(("stream_sessionize", 5, 3),
      ("stream_hll_distinct", 2, 2), ("stream_histogram", 3, 2))
    before.foreach { case (name, _, _) => SparkEntry.queries(name)(spark, sf) }
    before.foreach { case (name, jobs, n) =>
      val (_, now) = nonStreamJobsDuring(SparkEntry.queries(name)(spark, sf))
      assert(now == jobs - (n - 1), s"$name launched $now non-stream " +
        s"jobs, expected ${jobs - (n - 1)} ($jobs with $n delivery writes)")
    }
    // the incremental sink also drops its two non-empty probes: the
    // stager's two deliveries are the check
    SparkEntry.queries("stream_incremental_sink")(spark, sf)
    val (_, inc) = nonStreamJobsDuring(
      SparkEntry.queries("stream_incremental_sink")(spark, sf))
    assert(inc == 6 - 2 - 1, s"stream_incremental_sink launched $inc " +
      "non-stream jobs, expected 3 (6 with two probes and two writes)")
  }

  test("whole-table streams ≡ their batch twins, with the stored ts " +
      "normalised inside the stream") {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    // the fixture stores ts as NTZ (or nanos), so the stream runs
    // Tables.normalizeEvents itself; an un-normalised ts would shift or
    // fail every window and every last_ts
    val rawTs = Tables.rawSchema(spark, sf, "events")("ts").dataType
    assert(rawTs == TimestampNTZType || rawTs == LongType,
      s"events ts is stored as $rawTs: no normalisation to cover")
    Seq("stream_window_tumbling" -> "ev_window_tumbling",
        "stream_cdc_upsert" -> "ev_cdc_compact").foreach {
      case (stream, batch) =>
        assert(SparkEntry.oracleSql(stream) == SparkEntry.oracleSql(batch),
          s"$stream and $batch no longer share one oracle")
        assertSameRows(SparkEntry.queries(stream)(spark, sf),
          SparkEntry.queries(batch)(spark, sf))
    }
  }

  test("streaming HLL registers land on the batch sketch bit-for-bit") {
    import spark.implicits._
    // the stream maintains per-day register maxima across two half-
    // fixture micro-batch deliveries; register max is merge-invariant,
    // so the finalized estimates must equal the one-shot batch build
    val got = graft.streaming.StreamingQueries.hllDistinct(spark, sf)
    val batchReg = graft.operators.Sketches.hllDayRegisters(
      Tables.read(spark, sf, "events").select($"ts", $"user_id"))
    val want = graft.operators.Sketches.hllFinalizeDaily(spark, sf, batchReg)
    assertSameRows(got, want)
  }

  test("streaming CMS cells merge across batches onto the batch sketch") {
    // per-cell counts are sums — merge-order-invariant — so two
    // orderkey-parity deliveries (both halves hit the hot keys, hence
    // genuinely SUMMED cells, not appended rows) must finalize to the
    // one-shot batch heavy-hitters report, cell for cell
    val got = graft.streaming.StreamingQueries.heavyHittersCms(spark, sf)
    val want = graft.operators.Sketches.heavyHittersCms(spark, sf)
    assertSameRows(got, want)
  }

  test("streaming OHLC state converges to the batch bars exactly") {
    // min_by/max_by state is merge-order-invariant: the two half-fixture
    // deliveries (split mid-stream, so bars straddle the batch boundary)
    // must finish on the one-shot batch bar build, cell for cell
    val got = graft.streaming.StreamingQueries.ohlcBars(spark, sf)
    val want = graft.operators.Events.ohlcBars(spark, sf)
    assertSameRows(got, want)
  }

  test("streaming classifier rollup merges across batches onto the batch" +
      " report exactly") {
    // survival cells (counts, min/max, decimal checksum sum) are
    // merge-order-invariant; the doc_id-parity split puts every language
    // in BOTH deliveries, so Complete-mode state genuinely merges — the
    // shared finalizer must then equal the one-shot batch report
    val got = graft.streaming.StreamingQueries.classifierStream(spark, sf)
    val want = graft.operators.TextAnalysis.classifierScore(spark, sf)
    assertSameRows(got, want)
    // the split is a real cross-batch merge: every language has docs of
    // both parities on this fixture
    import org.apache.spark.sql.functions._
    val langsBoth = Tables.read(spark, sf, "documents")
      .groupBy("lang").agg(countDistinct(col("doc_id") % 2).as("nPar"))
      .filter(col("nPar") === 2).count()
    assert(langsBoth > 0, "parity split never straddles a language")
  }

  test("streaming TRAINED classifier: batch-fit weights applied through" +
      " Complete-mode state equal the one-shot training report") {
    // the production split: the NB model fits batch-side, the stream
    // only applies — its rollup must merge across the parity batches
    // onto the batch text_classifier_train report cell for cell
    val got = graft.streaming.StreamingQueries
      .classifierTrainStream(spark, sf)
    val want = graft.operators.TextAnalysis.classifierTrain(spark, sf)
    assertSameRows(got, want)
    // non-vacuous: the trained weights differ from the fixed table on
    // this fixture (else the twin just re-runs stream_classifier_score)
    val fixedScore = graft.streaming.StreamingQueries
      .classifierStream(spark, sf).collect().map(_.toString).toSeq
    assert(got.collect().map(_.toString).toSeq != fixedScore,
      "trained stream coincides with the fixed-weight stream — vacuous")
  }

  test("streaming IVF cell maintenance merges across batches onto the" +
      " batch cluster summary exactly") {
    // per-cell counts are sums (merge-order-invariant); the row-local
    // assignment column must agree with the batch crossJoin+max_by
    // formulation vector for vector, so the Complete-mode state
    // finalized through the shared report equals the one-shot summary
    val got = graft.streaming.StreamingQueries.ivfCellsStream(spark, sf)
    val want = graft.operators.Similarity.kmeansClusters(spark, sf)
    assertSameRows(got, want)
    // the parity split is a real cross-batch merge: at least one cell
    // draws vectors from both parities on this fixture
    import org.apache.spark.sql.functions._
    val cents = graft.operators.Similarity.kmeansCentroids(spark, sf, 16)
    val emb = Tables.read(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("vec"))
    val both = emb
      .select(graft.operators.Similarity.cellAssignCol(cents)
        .as("cell_id"), (col("vec_id") % 2).as("par"))
      .groupBy("cell_id").agg(countDistinct("par").as("nPar"))
      .filter(col("nPar") === 2).count()
    assert(both > 0, "parity split never straddles a cell")
  }

  test("streaming minhash index cells merge across batches onto the" +
      " batch band-bucket table exactly") {
    import org.apache.spark.sql.functions._
    // cell counts and the squared mod-prime member checksum are both
    // sums (merge-order-invariant); the row-local signing inside the
    // stream must agree with the batch window-route signatures doc for
    // doc, so the Complete-mode state equals the one-shot index summary
    val got = graft.streaming.StreamingQueries
      .minhashIndexStream(spark, sf)
    val docs = Tables.read(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val want = graft.operators.Dedup.bandCells(
      graft.operators.Dedup.minhashBanded(docs))
      .select(col("band").cast("long").as("band"), col("bsig"),
        col("n_docs"), col("member_checksum"))
      .orderBy(col("band").asc, col("bsig").asc)
    assertSameRows(got, want)
    // the parity split is a real cross-batch merge: at least one band
    // bucket draws docs from both parities (near-dup planted pairs have
    // mixed-parity ids on this fixture)
    val both = graft.operators.Dedup.minhashBanded(docs)
      .select(col("band"), col("bsig"), (col("doc_id") % 2).as("par"))
      .groupBy("band", "bsig").agg(countDistinct("par").as("nPar"))
      .filter(col("nPar") === 2).count()
    assert(both > 0, "parity split never straddles a band bucket — " +
      "vacuous merge")
  }

  test("streaming forget: a cell's dead members arriving in DIFFERENT" +
      " batches subtract cross-batch onto the alive rebuild exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sq = spark.sqlContext
    val D = graft.operators.Dedup
    // 10, 12, 14: exact twins modulo case — identical signatures, every
    // shared cell holds all three; 40: alone in its cells
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (12L, "ALPHA BETA GAMMA DELTA EPSILON ZETA ETA THETA IOTA KAPPA"),
      (14L, "Alpha Beta Gamma Delta Epsilon Zeta Eta Theta Iota Kappa"),
      (40L, "totally unrelated words about parquet row groups and pages"),
    ).toDF("doc_id", "text")
    val cells = D.bandCells(D.minhashBanded(docs)).localCheckpoint(true)
    // tombstones 10 then 12 — the twins' shared cells lose one member
    // PER BATCH, so the dead-cell state must genuinely sum across
    // deliveries (a last-batch-wins bug would leave n_docs = 2)
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val q = D.bandCells(D.minhashBanded(df)).writeStream
      .outputMode(OutputMode.Complete).format("memory")
      .queryName("forget_dead").start()
    try {
      input.addData((10L, "alpha beta gamma delta epsilon zeta eta" +
        " theta iota kappa"))
      q.processAllAvailable()
      input.addData((12L, "ALPHA BETA GAMMA DELTA EPSILON ZETA ETA" +
        " THETA IOTA KAPPA"))
      q.processAllAvailable()
    } finally q.stop()
    def cellSet(x: org.apache.spark.sql.DataFrame) = x.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val kept = cellSet(D.forgetIndexCells(
      cells.select(col("band").cast("long").as("band"), col("bsig"),
        col("n_docs"), col("member_checksum")),
      spark.table("forget_dead")
        .select(col("band"), col("bsig"), col("n_docs"),
          col("member_checksum"))))
    val rebuilt = cellSet(
      D.bandCells(D.minhashBanded(docs.filter(col("doc_id").isin(14L, 40L))))
        .select(col("band").cast("long").as("band"), col("bsig"),
          col("n_docs"), col("member_checksum"))
        .orderBy(col("band"), col("bsig")))
    assert(kept == rebuilt,
      s"cross-batch subtraction drifted from the alive rebuild:" +
        s" only-kept=${kept.diff(rebuilt).take(3)}" +
        s" only-rebuilt=${rebuilt.diff(kept).take(3)}")
    // the twins' shared cells shrank 3 → 1 across TWO batches
    assert(kept.exists(_._3 == 1L) && cellSet(
      cells.select(col("band").cast("long").as("band"), col("bsig"),
        col("n_docs"), col("member_checksum"))).exists(_._3 == 3L),
      "planted cross-batch shrink 3 -> 1 not observed")
  }

  test("stream_forget_index ≡ batch dedup_forget_index on the sf" +
      " fixture, with a genuinely cross-batch dead cell") {
    import org.apache.spark.sql.functions._
    val got = graft.streaming.StreamingQueries.forgetIndexStream(spark, sf)
    val want = graft.operators.Dedup.dedupForgetIndex(spark, sf)
    assertSameRows(got, want)
    // nonvacuity: BOTH deliveries carry tombstones, so the Complete-mode
    // dead state genuinely accumulates across batches (a single shared
    // cell straddling the parities is too rare at spec scale — the
    // planted toy test above proves that exact case deterministically)
    val docs = Tables.read(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val tombs = docs.filter(
      pmod(call_function("mix64", col("doc_id")), lit(19L)) === 0L)
    val parities = tombs.select((col("doc_id") % 2).as("par"))
      .distinct().count()
    assert(parities == 2, "a tombstone delivery is empty — " +
      "vacuous cross-batch accumulation")
  }

  test("streaming histogram buckets merge across batches onto the batch" +
      " CDF exactly") {
    // bucket counts are sums; the parity split puts rows of MOST buckets
    // in BOTH deliveries, so the Complete-mode state genuinely sums
    // across batches — finalizing through the shared CDF code must then
    // equal the one-shot batch histogram row for row
    val got = graft.streaming.StreamingQueries.histogramStream(spark, sf)
    val want = graft.operators.RefQueries.qHistogram(spark, sf)
    assertSameRows(got, want)
    // and the split is a real cross-batch merge on this fixture: at
    // least one bucket draws from both parities
    import org.apache.spark.sql.functions._
    val li = Tables.read(spark, sf, "lineitem")
      .select((floor(col("l_extendedprice") /
        graft.operators.RefQueries.HistWidth)).cast("long").as("bucket"),
        (col("l_orderkey") % 2).as("par"))
    val both = li.groupBy("bucket")
      .agg(countDistinct("par").as("nPar"))
      .filter(col("nPar") === 2).count()
    assert(both > 0, "parity split never straddles a bucket — vacuous merge")
  }

  test("change-feed replay: stream ≡ batch refresh ≡ direct v2, and the" +
      " signed-sum state is batch-slicing-invariant") {
    import org.apache.spark.sql.functions.col
    val S = graft.streaming.StreamingQueries
    // the streamed history (ingest + delete + merge feeds) must land on
    // the batch incremental refresh's exact view — which is itself
    // hash-gated against the direct v2 recompute
    val streamed = S.cdfReplayStream(spark, sf)
    val batch = graft.operators.RefQueries.qCdfRefresh(spark, sf)
    assertSameRows(streamed, batch)
    // retraction correctness is load-bearing, not vacuous: the replay
    // passes through states the final view never shows (the delete
    // commit's tombstones must SUBTRACT from bands the ingest filled)
    val R = graft.operators.RefQueries
    val root = graft.sources.Etl.chainFixture(spark, sf)
    assert(R.chainChanges(spark, root, 1)
      .filter(col("change_type") === "delete").count() > 0)
    // slicing invariance: the merge feed split across two deliveries by
    // key parity (update pairs can straddle) converges to the same view
    val sliced = S.cdfReplayStream(spark, sf, splitMerge = true)
    assertSameRows(sliced, batch)
  }

  test("lateness enforcement: the real withWatermark stream reproduces" +
      " the ms-floor watermark prediction row-for-row, non-vacuously") {
    // predicted (batch-side ms-floor watermark replay) ≡ observed (the
    // actual streaming query's admitted set) — counts, delay budget,
    // and the admitted-id checksum all equal, which pins Spark's real
    // drop rule (event dropped iff ts ≤ watermark, watermark =
    // floor(max_us/1000) − delay ms from strictly earlier batches)
    val predicted =
      graft.streaming.StreamingQueries.latenessPredicted(spark, sf)
    val observed =
      graft.streaming.StreamingQueries.latenessEnforced(spark, sf)
    assertSameRows(predicted, observed)
    // the enforcement must genuinely fire: some events dropped as late,
    // and the p99 sizing must admit ≥ 99% GLOBALLY (its contract — the
    // delay is the global p99, so per type the rate can dip slightly:
    // view admits 97.9% at sf0.001)
    val rows = observed.collect()
    val dropped = rows.map(_.getLong(3)).sum
    assert(dropped > 0L, "watermark dropped nothing — vacuous enforcement")
    val admitted = rows.map(_.getLong(2)).sum
    assert(admitted.toDouble / rows.map(_.getLong(1)).sum >= 0.99,
      "the p99-sized budget admitted less than 99% of all arrivals")
  }
}
